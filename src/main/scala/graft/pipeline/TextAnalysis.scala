package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines: language
  * identification, quality scoring, token counting, document fingerprinting.
  * All pure column expressions (whole-stage-codegen friendly, no UDFs), so
  * they scale to 100 TB as embarrassingly parallel map work with pushdown
  * intact. */
object TextAnalysis {

  /** Whitespace tokens (keeps empty tokens on double spaces, like a plain
    * split in any engine — callers filter if needed). */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish token estimate: alpha runs, digit runs, and individual
    * non-alnum marks each count as one token. */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))

  /** Tiny per-language stopword lists for the n-gram/stopword heuristic. */
  val StopwordsEn = Seq("the", "and", "of", "to", "in", "is", "it")
  val StopwordsEs = Seq("el", "la", "de", "en", "que", "y", "los")
  val StopwordsDe = Seq("der", "die", "das", "und", "ist", "von", "mit")

  private def stopwordHits(text: Column, words: Seq[String]): Column =
    aggregate(
      transform(tokens(lower(text)),
        t => when(t.isInCollection(words), lit(1)).otherwise(lit(0))),
      lit(0), (acc, x) => acc + x)

  /** Stopword-count language ID with deterministic tie-break en > es > de.
    * Returns one of "en"/"es"/"de"/"und" (undetermined when no hits). */
  def langId(text: Column): Column = {
    val en = stopwordHits(text, StopwordsEn)
    val es = stopwordHits(text, StopwordsEs)
    val de = stopwordHits(text, StopwordsDe)
    when(en === 0 && es === 0 && de === 0, lit("und"))
      .when(en >= es && en >= de, lit("en"))
      .when(es >= de, lit("es"))
      .otherwise(lit("de"))
  }

  /** Quality metrics: char length, token count, mean token length, stopword
    * ratio. Deterministic (exact int arithmetic + one rounded division). */
  def quality(df: DataFrame, textCol: String, outPrefix: String = "q_"): DataFrame = {
    val t = col(textCol)
    val nTok = tokenCount(t)
    df.withColumn(s"${outPrefix}chars", length(t))
      .withColumn(s"${outPrefix}tokens", nTok)
      .withColumn(s"${outPrefix}mean_tok_len",
        round((length(t) - (nTok - 1)).cast("double") / nTok, 4))
      .withColumn(s"${outPrefix}stop_ratio",
        round(stopwordHits(t, StopwordsEn).cast("double") / nTok, 4))
  }

  /** Normalized-content fingerprint: md5 over lowercased text with spaces
    * removed — catches whitespace/case-only near-duplicates exactly. */
  def fingerprint(text: Column): Column = md5(regexp_replace(lower(text), " ", ""))

  /** Winnowing fingerprint (Schleimer, Wilkerson, Aiken 2003, "Winnowing:
    * Local Algorithms for Document Fingerprinting" — the MOSS scheme):
    * hash every k-char gram of the normalized text, then keep the minimum
    * hash of each w-gram window; the distinct minima are the document's
    * fingerprint set. Guarantees a shared fingerprint for any common
    * substring of length >= k + w - 1, at ~1/w the storage of full k-gram
    * shingling.
    *
    * Hashes are 8-hex-char md5 prefixes — md5 is bit-identical across
    * engines and the window minimum is a plain lexicographic min, so a
    * DuckDB oracle reproduces the set exactly (a Rabin-Karp rolling
    * polynomial would be faster per char but engine-specific). Per-row
    * work, no explode, no shuffle: implemented as the native codegen'd
    * [[graft.functions.WinnowFingerprints]] expression — a nested
    * higher-order-function composition pays interpreted per-element eval
    * (HOFs are CodegenFallback with no CSE) and measured 4.4× slower
    * end-to-end on the t13 bench query (2.78 s → 0.63 s at sf0.1). */
  def winnow(text: Column, k: Int = 5, w: Int = 4): Column =
    graft.functions.TextFunctions.winnowFingerprints(text, k, w)

  /** k-token word n-grams (space-joined), empty for docs shorter than k
    * tokens. `toks` is bound as a lambda variable — see [[winnow]]: a plain
    * subexpression inside a higher-order-function lambda re-evaluates per
    * element. */
  def wordGrams(text: Column, k: Int): Column =
    transform(array(tokens(text)), toks => {
      val n = size(toks) - (k - 1)
      when(n < 1, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), n),
          i => concat_ws(" ", slice(toks, i, lit(k)))))
    })(0)

  /** Benchmark decontamination: training documents sharing any k-token
    * n-gram with a benchmark/test corpus — the standard held-out-overlap
    * pass in LLM data pipelines (GPT-3 appendix C / PaLM report use 8–13
    * token rules; `k` is the caller's policy). Returns `(id, n_hits)` for
    * CONTAMINATED documents only — the removal list.
    *
    * Scale shape: both sides shingle to flat gram rows and equi-join —
    * never all-pairs. The join key is `xxhash64(gram)` (8 bytes), not the
    * raw k-token string (~8k bytes at k=13): gram text dominates the
    * broadcast/shuffle width otherwise, and a 64-bit hash over even a
    * billion distinct grams keeps the collision expectation ~1e-2 rows —
    * and a collision only ever ADDS a false contamination hit (safe
    * direction for a removal list). The benchmark side (test sets are tiny
    * next to a 100 TB training corpus) is distinct'd and broadcast behind
    * the plan-stats gate [[graft.GraftSession.maybeBroadcast]]: an
    * unexpectedly huge benchmark suite degrades to a shuffle semi-join
    * instead of a driver OOM. */
  def contaminatedDocs(train: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, k: Int = 13): DataFrame = {
    val tg = train
      .select(col(idCol), explode(wordGrams(col(textCol), k)).as("gram"))
      .select(col(idCol), xxhash64(col("gram")).as("gh"))
    val bg = bench
      .select(explode(wordGrams(col(benchTextCol), k)).as("gram"))
      .select(xxhash64(col("gram")).as("gh"))
      .distinct()
    tg.join(graft.GraftSession.maybeBroadcast(bg), Seq("gh"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hits"))
  }

  /** PII patterns for training-corpus scrubbing. Deliberately RE2-compatible
    * (no backreferences/lookaround; greedy character classes where Java's
    * leftmost-first and RE2's leftmost-longest agree) so the DuckDB oracle
    * reproduces the redaction bit-for-bit. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\+?\\d[\\d() -]{6,}\\d"

  /** PII redaction: emails, then IPv4 addresses, then phone-like digit runs
    * each collapse to a typed placeholder (`<EMAIL>`/`<IP>`/`<PHONE>`). The
    * order matters: IPs are replaced before the phone pass so a dotted quad
    * is never half-eaten as a digit run. Pure regexp_replace chain —
    * codegen'd, shuffle-free, embarrassingly parallel at 100 TB. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** URL canonicalization for URL-level dedup (the C4/CCNet pre-pass:
    * crawl frontiers emit the same page under case-varied hosts, default
    * ports, fragments, and tracking parameters): lowercases scheme+host,
    * strips `:80`/`:443`, the fragment, and `utm_*`/`gclid`/`fbclid`
    * params (re-anchoring the first surviving param onto `?`). Pure
    * regexp chain — codegen'd, shuffle-free; dedup afterwards is the
    * ordinary exact-groups pass on the canonical form. */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val hostRe = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*"
    val prefix = regexp_replace(lower(regexp_extract(noFrag, hostRe, 0)),
      ":(443|80)$", "")
    val joined = concat(prefix, regexp_replace(noFrag, hostRe, ""))
    // Strip tracking params WITHIN the query string only — the path is
    // split off first because '&' is legal there: stripping '?utm_x=1'
    // from '/a&b?utm_x=1&c=2' and then re-anchoring "the first &" would
    // rewrite the PATH's '&' into '?', colliding with the genuinely
    // different '/a?b&c=2' and splitting from its own tracking-free twin.
    val path = regexp_extract(joined, "^([^?]*)", 1)
    val query = regexp_extract(joined, "^[^?]*\\?(.*)$", 1)
    // non-leading '&param=v' occurrences drop, then the (single possible)
    // leading tracking param with its trailing '&'
    val q1 = regexp_replace(query,
      "&(utm_[a-zA-Z]+|gclid|fbclid)=[^&]*", "")
    val q2 = regexp_replace(q1,
      "^(utm_[a-zA-Z]+|gclid|fbclid)=[^&]*&?", "")
    when(joined.contains("?") && q2 =!= "", concat(path, lit("?"), q2))
      .otherwise(path)
  }

  /** Registrable domain of a URL (the per-site key for domain caps and
    * per-domain stats): last two host labels, or three when the middle is
    * a common second-level zone (`co.uk` shape) — a public-suffix-list
    * approximation that stays a pure column expression. */
  def registrableDomain(url: Column): Column = {
    val host = lower(regexp_extract(url,
      "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]*)", 1))
    val three = regexp_extract(host,
      "([^.]+\\.(?:co|com|ac|gov|org|net|edu)\\.[^.]+)$", 1)
    when(three =!= "", three)
      .otherwise(regexp_extract(host, "([^.]+\\.[^.]+)$", 1))
  }

  /** Shannon entropy (bits) of the document's whitespace-token
    * distribution — the standard gibberish-vs-natural-text quality signal
    * (low = repetitive, high = diverse). Empty tokens from repeated
    * whitespace are EXCLUDED, matching [[unigramNll]]/[[bigramNll]] — the
    * quality signals must agree on what a token is, or space-padded
    * repetition reads as diversity here and degeneracy there. Computed as
    * `log2(n) - Σ c·log2(c) / n` so it needs only per-(doc, token) counts
    * and ONE further aggregation — two map-side-combinable shuffles total,
    * never a per-doc collect. */
  def tokenEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol)).agg(
        sum("c").as("__n__"),
        sum(col("c").cast("double") * log2(col("c"))).as("__cl__"))
      .select(col(idCol),
        round(log2(col("__n__")) - col("__cl__") / col("__n__"), 4)
          .as("entropy"))

  /** Corpus-unigram language-model score — the CCNet/RefinedWeb-style "LM
    * perplexity" quality filter with the corpus itself as the LM (a unigram
    * stand-in for KenLM): per document, the mean negative log2-likelihood
    * of its tokens under corpus unigram frequencies (bits/token; perplexity
    * = 2^nll). Low = stereotypical text, high = rare-token-heavy.
    *
    * Shapes at 100 TB: corpus frequency is a count window over the token
    * partition of the SAME exploded frame (one shuffle on token — the
    * vocabulary is unbounded, so no broadcast); the corpus total is a
    * 1-row broadcast; the per-doc mean is one map-side-combinable shuffle
    * on the id. log2 (not ln) for cross-engine parity at round(4) — the
    * same choice tokenEntropy made. */
  def unigramNll(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) > 0)
    val total = toks.agg(count(lit(1)).as("__total__"))
    toks
      .withColumn("__nw__", count(lit(1)).over(Window.partitionBy("tok")))
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        round(-avg(log2(col("__nw__").cast("double") / col("__total__"))), 4)
          .as("nll_bits"))
  }

  /** Interpolated bigram LM score (bits/token): the CCNet-style perplexity
    * filter one order up from [[unigramNll]] — per token,
    * `p = λ·P(w|prev) + (1-λ)·P(w)` with corpus-estimated probabilities
    * (`P(w|prev) = c(prev,w) / c(prev,·)`), first-of-document tokens
    * falling back to the unigram term alone. λ = 0.75 is exactly
    * representable, so the interpolation arithmetic is bit-identical
    * across engines.
    *
    * Shapes at 100 TB: adjacency is one lag window over (doc, position) —
    * partitions by doc, never global; the three count lookups (unigram,
    * bigram, context) are count windows over partitions of the SAME
    * exploded frame (unbounded vocabularies, so no broadcast anywhere);
    * the per-doc mean is one map-side-combinable shuffle on the id. */
  def bigramNll(df: DataFrame, idCol: String, textCol: String,
      lambda: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df
      .select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
      .filter(length(col("tok")) > 0)
    val seq = toks.withColumn("prev",
      lag("tok", 1).over(Window.partitionBy(idCol).orderBy("pos")))
    val total = toks.agg(count(lit(1)).as("__total__"))
    val withCounts = seq
      .withColumn("__nw__", count(lit(1)).over(Window.partitionBy("tok")))
      .withColumn("__nbi__", when(col("prev").isNotNull,
        count(lit(1)).over(Window.partitionBy("prev", "tok"))))
      .withColumn("__nprev__", when(col("prev").isNotNull,
        count(lit(1)).over(Window.partitionBy("prev"))))
      .crossJoin(broadcast(total))
    val puni = col("__nw__").cast("double") / col("__total__")
    val pbi = col("__nbi__").cast("double") / col("__nprev__")
    val p = when(col("prev").isNull, puni)
      .otherwise(lit(lambda) * pbi + lit(1.0 - lambda) * puni)
    withCounts.groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        round(-avg(log2(p)), 4).as("nll_bits"))
  }

  /** Corpus vocabulary: the `k` most frequent tokens with their counts,
    * ties broken by token string so the cut is deterministic. One explode
    * feeding one hash aggregation (partial aggregation collapses per-token
    * rows map-side), then a global top-k — TakeOrdered (per-partition heads
    * merged on the driver), never a single-partition sort, so the shape
    * holds at 100 TB where the distinct-token set still fits a driver merge
    * of k-row heads. */
  def vocabulary(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)

  /** Top-`k` characteristic terms per document by rarity-weighted term
    * frequency: `score = tf * N / df` — TF-IDF with the raw inverse
    * document frequency in place of its log. This is a DELIBERATE scheme
    * choice, not a rank-preserving rewrite of the classic form: log is
    * monotone, so ranks agree wherever tf is equal, but across DIFFERENT
    * tf values the linear rarity weight favors rare terms more than
    * `tf·log(N/df)` does (tf=1,df=2 can outrank tf=4,df=15 here and not
    * classically). The trade bought: the score is one exact-integer
    * multiply and one IEEE divide, bit-identical across engines — a libm
    * `ln` can differ in the last ulp and flip a rank between Spark and an
    * oracle engine.
    *
    * Shapes at 100 TB: (doc, term) tf is one shuffle with map-side partial
    * aggregation; df is a count window over the term partition of the SAME
    * frame (one shuffle on term, no aggregate+join round-trip — the corpus
    * vocabulary is unbounded, so a broadcast would be the scale error);
    * the per-doc top-k window shuffles on doc_id. Ties break on the term
    * string, so the cut is deterministic. */
  def tfIdfTopTerms(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .crossJoin(broadcast(nDocs))
      .withColumn("score", col("tf") * col("n_docs") / col("df"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"),
        round(col("score"), 4).as("score"), col("rank").cast("long").as("rank"))
  }

  /** Repetition / boilerplate metrics in the style of the Gopher quality
    * rules (Rae et al. 2021, "Scaling Language Models", table A1) at token
    * granularity:
    *
    *  - `dup_tok_frac`     — fraction of tokens that are repeats of an
    *    earlier token: 1 - distinct/total;
    *  - `top2gram_frac`    — occurrences of the most frequent word 2-gram
    *    over the total 2-gram count;
    *  - `dup2gram_frac`    — fraction of 2-gram positions whose 2-gram
    *    occurs more than once;
    *  - `symbol_ratio`     — non-alphanumeric characters per token.
    *
    * Documents shorter than 2 tokens score 0.0 on the 2-gram metrics.
    * Pure array expressions: per-row work is O(distinct·n) with no explode
    * and no shuffle — the shape that stays embarrassingly parallel at
    * 100 TB. Rounded to 4 decimals for cross-engine oracle parity. */
  def repetition(df: DataFrame, textCol: String, outPrefix: String = "r_"): DataFrame = {
    // toks, grams, and counts are bound as lambda variables (1-element
    // transform wrappers) so each reference is O(1) — a plain subexpression
    // inside a higher-order-function lambda is re-evaluated per iteration
    // (CodegenFallback, no CSE), which would make the gram counting
    // O(distinct · n²) tokenizations per row instead of O(distinct · n)
    // comparisons (see winnow above for the same pattern).
    val metrics = transform(array(tokens(col(textCol))), toks => {
      val nTok = size(toks)
      // adjacent-pair 2-grams: slice off the last token, then pair each with
      // its successor (transform's index is 0-based, element_at 1-based)
      val gramsE = transform(slice(toks, lit(1), greatest(nTok - 1, lit(0))),
        (t, i) => concat_ws(" ", t, element_at(toks, i + 2)))
      transform(array(gramsE), grams => {
        val n2 = size(grams)
        // per-distinct-gram occurrence counts (array_distinct preserves
        // nothing we rely on; only max/sum of the counts are used)
        val countsE = transform(array_distinct(grams),
          g => size(filter(grams, x => x === g)))
        transform(array(countsE), counts => {
          val top2 = when(n2 < 1, lit(0.0)).otherwise(
            round(array_max(counts).cast("double") / n2, 4))
          val dup2 = when(n2 < 1, lit(0.0)).otherwise(
            round(aggregate(counts, lit(0),
              (acc, c) => acc + when(c > 1, c).otherwise(lit(0)))
              .cast("double") / n2, 4))
          struct(
            round((nTok - size(array_distinct(toks))).cast("double") / nTok, 4)
              .as("dup_tok"),
            top2.as("top2"), dup2.as("dup2"))
        })(0)
      })(0)
    })(0)
    df.withColumn("__rep__", metrics)
      .withColumn(s"${outPrefix}dup_tok_frac", col("__rep__")("dup_tok"))
      .withColumn(s"${outPrefix}top2gram_frac", col("__rep__")("top2"))
      .withColumn(s"${outPrefix}dup2gram_frac", col("__rep__")("dup2"))
      .withColumn(s"${outPrefix}symbol_ratio",
        round(size(regexp_extract_all(col(textCol), lit("[^a-zA-Z0-9 ]"), lit(0)))
          .cast("double") / size(tokens(col(textCol))), 4))
      .drop("__rep__")
  }

  /** Gopher-style line / paragraph repetition signals (Rae et al. 2021,
    * "Scaling Language Models: Methods, Analysis & Insights from Training
    * Gopher", table A1's repetition filters): per document,
    *
    *  - `dup_line_frac`      — fraction of line OCCURRENCES that are
    *                           repeats beyond each line's first occurrence
    *                           (`(n - distinct) / n`);
    *  - `dup_line_char_frac` — the same, weighted by line length in
    *                           characters (0 when the document is empty);
    *  - `dup_para_frac`      — `dup_line_frac` over `paraSep` splits.
    *
    * Separators are LITERAL (regex-quoted), matching a plain
    * `string_split` in any engine. Pure per-row column expressions — the
    * distinct-count fold is O(distinct · lines) comparisons inside one
    * codegen'd projection, no explode, no shuffle: map-only at 100 TB
    * with pushdown intact. Documents are bounded (chunk first via
    * [[slidingChunks]] for pathological lengths). */
  def lineRepetition(df: DataFrame, textCol: String, outPrefix: String = "lr_",
      lineSep: String = "\n", paraSep: String = "\n\n"): DataFrame = {
    require(lineSep.nonEmpty && paraSep.nonEmpty, "separators must be non-empty")
    // es/counts bound as 1-element-transform lambda variables so each
    // reference is O(1) (the `repetition` pattern — a bare subexpression
    // would re-evaluate per loop iteration under CodegenFallback).
    def dupStats(elems: Column): Column =
      transform(array(elems), es => {
        val n = size(es)
        transform(array(transform(array_distinct(es),
            e => struct(size(filter(es, x => x === e)).as("c"),
              length(e).cast("long").as("len")))), counts => {
          val totalChars = aggregate(counts, lit(0L),
            (a, s) => a + s("len") * s("c"))
          val dupChars = aggregate(counts, lit(0L),
            (a, s) => a + s("len") * (s("c") - 1))
          struct(
            when(n <= 0, lit(0.0)).otherwise(
              round((n - size(counts)).cast("double") / n, 4)).as("dup_frac"),
            when(totalChars <= 0, lit(0.0)).otherwise(
              round(dupChars.cast("double") / totalChars, 4)).as("dup_char_frac"))
        })(0)
      })(0)
    val qLine = java.util.regex.Pattern.quote(lineSep)
    val qPara = java.util.regex.Pattern.quote(paraSep)
    df.withColumn("__lines__", dupStats(split(col(textCol), qLine)))
      .withColumn("__paras__", dupStats(split(col(textCol), qPara)))
      .withColumn(s"${outPrefix}dup_line_frac", col("__lines__")("dup_frac"))
      .withColumn(s"${outPrefix}dup_line_char_frac",
        col("__lines__")("dup_char_frac"))
      .withColumn(s"${outPrefix}dup_para_frac", col("__paras__")("dup_frac"))
      .drop("__lines__", "__paras__")
  }

  /** Character n-gram repetition (the character-level complement of
    * [[repetition]]'s word-2-gram metrics — Gopher's "top/duplicated
    * n-gram character fraction" family, expressed over gram occurrences
    * so both signals are bounded [0, 1]):
    *
    *  - `top{n}_frac` — occurrences of the single most frequent char
    *    n-gram / total n-gram occurrences;
    *  - `dup{n}_frac` — occurrences of all char n-grams appearing more
    *    than once / total occurrences.
    *
    * Both 0.0 for documents shorter than n. Same per-row HOF shape as
    * [[lineRepetition]]: no explode, no shuffle, map-only at scale. */
  def charGramRepetition(df: DataFrame, textCol: String, n: Int = 3,
      outPrefix: String = "cg_"): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val text = col(textCol)
    val gramsRaw = when(length(text) < n,
        array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(text) - (n - 1)),
        i => text.substr(i, lit(n))))
    val metrics = transform(array(gramsRaw), grams => {
      val ng = size(grams)
      val countsE = transform(array_distinct(grams),
        g => size(filter(grams, x => x === g)))
      transform(array(countsE), counts => struct(
        when(ng <= 0, lit(0.0)).otherwise(
          round(array_max(counts).cast("double") / ng, 4)).as("top"),
        when(ng <= 0, lit(0.0)).otherwise(
          round(aggregate(counts, lit(0),
            (a, c) => a + when(c > 1, c).otherwise(lit(0)))
            .cast("double") / ng, 4)).as("dup")))(0)
    })(0)
    df.withColumn("__cg__", metrics)
      .withColumn(s"${outPrefix}top${n}_frac", col("__cg__")("top"))
      .withColumn(s"${outPrefix}dup${n}_frac", col("__cg__")("dup"))
      .drop("__cg__")
  }

  /** Overlapping token-window chunking — the RAG / context-packing prep
    * shape: one chunk per `stride` whitespace tokens, each `window` tokens
    * long (the last one truncated), so consecutive chunks share
    * `window - stride` tokens of context. Output: (id, chunk_idx,
    * n_tokens, chunk_text), one row per window.
    *
    * Pure column expressions + one explode: per-doc work is O(n_tokens),
    * output is ceil(n_tokens / stride) rows per doc, no shuffle and no
    * UDF — map-only at 100 TB, with pushdown intact below it. Chunk
    * boundaries are token-count-based, so the operator composes with
    * [[tokenCount]]-budgeted packing downstream ([[graft.pipeline.Sharding]]).
    * For content-defined (shift-robust) boundaries use
    * [[graft.pipeline.Dedup.cdcChunks]] instead — this one is for fixed
    * context windows, that one for dedup-stable chunk identity.
    *
    * NULL-text documents emit ZERO chunk rows (there is nothing to
    * chunk) — per-chunk output, unlike the per-doc metric operators
    * which keep the row with null metrics; callers that must account
    * for every input document anti-join the output ids against the
    * corpus. */
  def slidingChunks(df: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0,
      s"window ($window) and stride ($stride) must be positive")
    val toks = tokens(col(textCol))
    // starts 0, stride, 2·stride … strictly below n_tokens (sequence's stop
    // is inclusive, so n_tokens-1; split never yields an empty array, so
    // n_tokens >= 1 and the guard never sees a negative stop)
    val starts = sequence(lit(0), size(toks) - 1, lit(stride))
    df.withColumn("__toks__", toks)
      .select(col(idCol), col("__toks__"), explode(starts).as("__st__"))
      .select(col(idCol),
        (col("__st__") / lit(stride)).cast("long").as("chunk_idx"),
        least(lit(window), size(col("__toks__")) - col("__st__"))
          .cast("long").as("n_tokens"),
        concat_ws(" ", slice(col("__toks__"), col("__st__") + 1, lit(window)))
          .as("chunk_text"))
  }
}
