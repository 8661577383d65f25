package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, GraftShims}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed as a
  * shuffle-once DataFrame transform:
  *
  *  - exact: hash-groupBy on a content digest — one shuffle on the digest;
  *  - MinHash + LSH: signature is a single groupBy over exploded tokens
  *    (partial aggregation collapses per-token rows map-side), candidate
  *    pairs come from an equi-join on band keys — never an O(n²) cross join;
  *  - SimHash: pure column expressions, zero shuffles for the signature;
  *  - n-gram Jaccard: verification step over LSH candidates only.
  *
  * Portable hashing: md5 hex (identical across engines) rather than
  * engine-private hash functions, so every operator is oracle-checkable.
  */
object Dedup {

  /** Content digest for exact dedup. */
  def contentKey(text: Column): Column = md5(text)

  /** Exact dedup: one representative (min id) per distinct content. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(contentKey(col(textCol)).as("content_key"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** MinHash signature: for seed i, `min(md5(i || '|' || token))` over the
    * document's tokens — computed per document in ONE pass by the native
    * [[graft.functions.MinhashSig]] expression (a signature is a per-row
    * quantity; the explode + groupBy form this replaced shuffled one row
    * per token instance). Null-text docs drop, as explode dropped them. */
  def minhashSignature(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 8): DataFrame =
    df.where(col(textCol).isNotNull)
      .select(col(idCol), graft.functions.DedupFunctions
        .minhashSig(col(textCol), numHashes).as("__sig__"))
      .select(col(idCol) +: (0 until numHashes).map(i =>
        element_at(col("__sig__"), i + 1).as(s"mh$i")): _*)

  /** Candidate pairs (a < b) whose signatures share at least one LSH band:
    * an equi-join on (band, band_key), never an O(n²) cross join.
    *
    * The band frame is built once for both arms: string keys
    * `mh_i || '|' || mh_j` (the oracle's own key, and measured faster than
    * binary `unhex` keys on d3), one `posexplode`, and a repartition on
    * (band, band_key) with an EXPLICIT count of
    * `spark.sql.shuffle.partitions`. The count is load-bearing: AQE never
    * coalesces a `REPARTITION_BY_NUM` exchange, so the quadratic pair
    * emission spreads over every core instead of the one partition a
    * small corpus coalesces to. Every join side reads that one exchange,
    * so the signature is computed once.
    *
    * `maxBucket` caps quadratic blowup: a bucket of m ids emits m(m-1)/2
    * pairs, and a boilerplate-heavy corpus produces million-document
    * buckets. Buckets larger than the cap are star-expanded instead —
    * every member pairs with the bucket's minimum id (m-1 pairs), which
    * keeps the bucket one connected component for [[duplicateClusters]].
    * Default Int.MaxValue = exact behavior.
    *
    *  - Exact arm: a pair sharing k bands would come out of the join k
    *    times, so it is emitted only from its FIRST shared band (both
    *    sides carry every band key; a when-chain finds the first equal
    *    one). Exactly-once by construction: no `distinct`, whose shuffle
    *    of the raw pair stream would keep almost nothing map-side.
    *  - Capped arm: bucket size and hub are window aggregates over the
    *    band partitioning; small buckets self-join, big ones star-expand.
    *    It keeps the `distinct`: a star pair can repeat a self-join pair,
    *    and once a pair's first shared band can be an over-cap bucket,
    *    first-shared-band emission would drop pairs. The cap bounds the
    *    pair volume the `distinct` shuffles. */
  def lshCandidatePairs(sig: DataFrame, idCol: String, numHashes: Int,
      bandSize: Int, maxBucket: Int = Int.MaxValue): DataFrame = {
    // a non-dividing bandSize would silently drop the trailing hashes
    require(numHashes % bandSize == 0,
      s"bandSize=$bandSize must divide numHashes=$numHashes (a remainder " +
        "would silently ignore the trailing minhashes)")
    val numBands = numHashes / bandSize
    val keys = (0 until numBands).map(b => col(s"__k$b"))
    val banded = sig
      .select(col(idCol) +: (0 until numBands).map { b =>
        concat((0 until bandSize).flatMap(i =>
          Seq(lit("|"), col(s"mh${b * bandSize + i}"))).tail: _*)
          .as(s"__k$b") }: _*)
      .select((col(idCol) +: keys) :+
        posexplode(array(keys: _*)).as(Seq("band", "band_key")): _*)
      // a null key never joins; the join sides infer this filter and push
      // it below the exchange, so stating it keeps every reader on ONE
      // exchange (the capped arm's star branch would not infer it)
      .where(col("band_key").isNotNull)
      .repartition(
        sig.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
        col("band"), col("band_key"))
    // one join side with its first `nKeys` band keys; the capped arm takes
    // none, so every reader of `banded` prunes it to the same exchange
    def side(df: DataFrame, s: String, nKeys: Int) = df.select(
      Seq(col("band"), col("band_key"), col(idCol).as(s"id_$s")) ++
        (0 until nKeys).map(b => col(s"__k$b").as(s"__k$s$b")): _*)
    if (maxBucket == Int.MaxValue) {
      val firstShared = (0 until numBands).foldRight(lit(-1): Column)(
        (b, acc) => when(col(s"__ka$b") === col(s"__kb$b"), lit(b))
          .otherwise(acc))
      side(banded, "a", numBands)
        .join(side(banded, "b", numBands), Seq("band", "band_key"))
        .filter(col("id_a") < col("id_b") && firstShared === col("band"))
        .select("id_a", "id_b")
    } else {
      val bw = org.apache.spark.sql.expressions.Window
        .partitionBy("band", "band_key")
      val sized = banded
        .withColumn("__m__", count(lit(1)).over(bw))
        .withColumn("__hub__", min(col(idCol)).over(bw))
      val small = sized.filter(col("__m__") <= maxBucket)
      side(small, "a", 0)
        .join(side(small, "b", 0), Seq("band", "band_key"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
        .union(sized  // star expansion: hub = min id, spokes = the rest
          .filter(col("__m__") > maxBucket && col(idCol) =!= col("__hub__"))
          .select(col("__hub__").as("id_a"), col(idCol).as("id_b")))
        .distinct()
    }
  }

  /** No-op: [[lshCandidatePairs]] persists nothing, so there is nothing to
    * release. */
  @deprecated("lshCandidatePairs persists nothing; drop the call", "0.1.0")
  def releaseBandCaches(): Unit = ()

  /** The canonical MinHash near-dup pipeline as ONE call: minhash
    * signatures → banded LSH candidates (with the `maxBucket`
    * star-expansion cap) → n-gram Jaccard verification on candidates only
    * → connected components ([[duplicateClusters]]) → keeper/drop.
    * Output: (id, cluster_id, is_keeper) with `is_keeper` = the cluster's
    * minimum id (one survivor per duplicate family). */
  def minhashDedup(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 8, bandSize: Int = 2, maxBucket: Int = Int.MaxValue,
      ngramN: Int = 3, jaccardThreshold: Double = 0.5): DataFrame = {
    val cand = lshCandidatePairs(
      minhashSignature(docs, idCol, textCol, numHashes), idCol,
      numHashes, bandSize, maxBucket)
    val verified = ngramJaccard(docs, cand, idCol, textCol, n = ngramN)
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("id_a"), col("id_b"))
    duplicateClusters(verified).select(col("id"), col("cluster_id"),
      (col("id") === col("cluster_id")).as("is_keeper"))
  }

  /** Hex digits with odd nibble value — parity test portable to any engine
    * via `substr(h, j, 1) IN ('1','3','5','7','9','b','d','f')`. */
  private val OddHex = Seq("1", "3", "5", "7", "9", "b", "d", "f")

  /** 16-bit SimHash from md5 nibble parities: bit j (0-based) of a token's
    * sketch is the parity of hex digit j+1 of md5(token); the signature bit
    * is the sign of the per-bit vote sum across tokens.
    *
    * Computed per document in ONE pass by the native
    * [[graft.functions.SimhashSig]] expression — a signature is a per-row
    * quantity; the explode + 16-sibling-aggregate form this replaced
    * shuffled one row per token instance. Null-text docs drop, exactly as
    * explode dropped them. */
  def simhash16(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.where(col(textCol).isNotNull)
      .select(col(idCol), graft.functions.DedupFunctions
        .simhashSig(col(textCol), 16).as("simhash16"))

  /** 64-bit SimHash — the 100 TB signature width (16 bits saturate: at a
    * billion docs random 16-bit signatures collide constantly; 64 bits keep
    * hamming-distance discrimination meaningful). Bit b (0-based) is the
    * vote-sum sign of the parity of hex digit (b mod 32)+1 of `md5(token)`
    * (bits 0–31) / `md5('1' || token)` (bits 32–63): two md5 evaluations
    * per token buy all 64 lanes, and every lane is oracle-portable via
    * `substr(h, j, 1) IN (odd hex)`. 64 sibling vote aggregates over ONE
    * shuffle, exactly like [[simhash16]]. */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // One-pass native [[graft.functions.SimhashSig]] — zero shuffle, each
    // distinct token hashed once with its instance count weighting the
    // vote. (History of this hot path at sf0.1: 64 substring+IN probes per
    // token row 4.3 s → conv-chunk shift/mask 2.5 s → native expression;
    // the explode+aggregate forms shuffled one row per token instance.)
    // Formula unchanged — the d8 oracle still replays substr/IN in SQL.
    df.where(col(textCol).isNotNull)
      .select(col(idCol), graft.functions.DedupFunctions
        .simhashSig(col(textCol), 64).as("simhash64"))

  /** SimHash near-duplicate pairs at hamming distance <= `maxDist`, found
    * via banded LSH rather than all-pairs: the 16-bit signature splits into
    * `bands` equal bands, and two signatures within hamming d < bands must
    * agree on at least one band (pigeonhole) — so band-equality equi-joins
    * produce EVERY qualifying pair, and an exact popcount filter drops the
    * false candidates. One shuffle join on (band, key); bucket sizes are
    * signature-space-bounded, never corpus-all-pairs. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 1, bands: Int = 2): DataFrame =
    hammingPairsFromKeys(simpleBandKeys(simhash16(df, idCol, textCol), idCol,
      "simhash16", bits = 16, maxDist = maxDist, bands = bands), maxDist)

  /** [[simhashPairs]] at the 64-bit signature width — same banded
    * pigeonhole completeness (`maxDist < bands`). Band keys are
    * `64/bands` bits, so prefer the FEWEST bands completeness allows
    * (`maxDist + 1`) — wider keys, sparser buckets; when even that
    * saturates (≳10⁶ docs, measured — tools/BandingProbe), [[combinationHammingPairs]] trades more
    * tables for multiplicatively wider keys at identical output. */
  def simhashPairs64(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3, bands: Int = 8): DataFrame =
    hammingPairs64(simhash64(df, idCol, textCol), idCol, "simhash64",
      maxDist = maxDist, bands = bands)

  /** Banded-LSH hamming pairs over a PRECOMPUTED 64-bit signature column
    * (e.g. an image dHash from
    * [[graft.pipeline.Multimodal.dHashImages]]) — the [[simhashPairs64]]
    * join without the text-signature stage. Complete for
    * `maxDist < bands` (pigeonhole); emits (id_a, id_b, dist). */
  def hammingPairs64(sig: DataFrame, idCol: String, sigCol: String,
      maxDist: Int = 7, bands: Int = 8): DataFrame =
    hammingPairsFromKeys(simpleBandKeys(sig, idCol, sigCol, bits = 64,
      maxDist = maxDist, bands = bands), maxDist)

  /** Measured simple-banding saturation threshold: the BandingProbe
    * crossover (round 13, SCALE.md banding table) where 16-bit band keys'
    * candidate volume per doc starts growing linearly in n — the
    * bucket-saturation onset past which the simple scheme's equi-join
    * turns quadratic (~10⁶ uniform 64-bit signatures). */
  private[graft] val ComboBandingThreshold = 1000000L

  /** The simple scheme's band count for a given radius: the fewest
    * power-of-two bands completeness allows (pigeonhole: bands > maxDist)
    * — ONE definition shared by [[autoHammingPairs64]]'s simple arm and
    * [[comboBandingThresholdFor]], which is calibrated to exactly this
    * arm's key width and silently mis-scales if the two ever diverge. */
  private def simpleBandsFor(maxDist: Int): Int =
    Seq(1, 2, 4, 8, 16, 32, 64).find(_ > maxDist).get

  /** The [[ComboBandingThreshold]] crossover rescaled to the band-key
    * width the simple scheme would actually use for this `maxDist`:
    * saturation is a BUCKET-OCCUPANCY property (the measured crossover is
    * ~15 docs per 16-bit bucket), so the corpus-size switch point scales
    * with the key space 2^(64/bands), not a constant. maxDist 4–7 gives
    * 8-bit simple keys (256 buckets) that saturate near 4k docs — three
    * orders of magnitude before the 16-bit calibration point — while
    * maxDist ≤ 1 gives ≥32-bit keys that never saturate in practice. */
  private[graft] def comboBandingThresholdFor(maxDist: Int): Long = {
    val keyBits = 64 / simpleBandsFor(maxDist)
    if (keyBits >= 48) Long.MaxValue // 2^48 buckets: no realistic corpus saturates
    else if (keyBits >= 16) ComboBandingThreshold << (keyBits - 16)
    else ComboBandingThreshold >> (16 - keyBits)
  }

  /** Hamming pairs with the banding scheme picked BY CORPUS SIZE (round
    * 14 — the [[combinationHammingPairs]] scaladoc's tuning knob,
    * automated): one count job over the signature frame (Spark prunes it
    * to a plain scan), then below the threshold docs simple banding with
    * the fewest tables completeness allows (the next power-of-two band
    * count above `maxDist` — widest keys, one explode row per band); at
    * or above it, Manku combination banding (blocks = 8, C(8, 8−maxDist)
    * tables of multiplicatively wider keys). Output is IDENTICAL either way
    * (property-tested against brute force); only the candidate-join
    * shape changes. The default `comboThreshold = -1` resolves to
    * [[comboBandingThresholdFor]] — the measured crossover rescaled to
    * this `maxDist`'s simple-key width, since saturation is a
    * bucket-occupancy property, not a fixed corpus size. maxDist ≥ 7
    * always takes the simple scheme (at maxDist = 7 the blocks = 8
    * combination scheme IS simple banding — C(8,1) single-block keys —
    * and maxDist ≥ 8 is outside its completeness bound). */
  def autoHammingPairs64(sig: DataFrame, idCol: String, sigCol: String,
      maxDist: Int = 3, comboThreshold: Long = -1L): DataFrame = {
    require(maxDist >= 0 && maxDist < 64)
    val threshold =
      if (comboThreshold > 0L) comboThreshold
      else {
        // only the documented sentinel selects auto-scaling: an unset
        // config 0 (or any stray negative) must fail fast, not silently
        // move the scheme switch point — same contract as the LSH
        // bits = -1 arm in [[graft.pipeline.Similarity]]
        require(comboThreshold == -1L,
          "comboThreshold must be positive, or -1 for the " +
            s"occupancy-scaled default; got $comboThreshold")
        comboBandingThresholdFor(maxDist)
      }
    hammingPairsFromKeys(
      if (maxDist >= 7 || sig.count() < threshold)
        simpleBandKeys(sig, idCol, sigCol, bits = 64, maxDist = maxDist,
          bands = simpleBandsFor(maxDist))
      // blocks = 8 ⇒ C(8, r) ≤ 70 tables, always under the combination guard
      else comboBandKeys(sig, idCol, sigCol, bits = 64, maxDist = maxDist,
        blocks = 8),
      maxDist)
  }

  /** Hamming pairs via COMBINATION banding (Manku et al., WWW'07 §3): the
    * signature splits into `blocks` equal blocks and each row emits one key
    * per `r`-subset of blocks (`r = blocks − maxDist`), the key being those
    * blocks' bits concatenated. Two signatures within hamming `maxDist`
    * differ in at most `maxDist` blocks, so SOME r-subset agrees on every
    * block (pigeonhole) — complete, like [[simhashPairs64]]'s simple
    * banding (the `r = 1` special case of this scheme), and the exact
    * popcount filter keeps the OUTPUT identical. What changes is the
    * candidate-bucket key width: simple banding at `maxDist = 3` over 64
    * bits gives 16-bit keys (65k buckets — occupancy grows n/2¹⁶, the
    * equi-join turns quadratic once a corpus saturates them); combination
    * banding with `blocks = 8` gives C(8,5) = 56 tables of 40-bit keys —
    * 7× the explode for 2²⁴× the key space. The table-count/key-width
    * trade IS the Manku tuning knob: pick it by corpus size, switch over
    * roughly when n outgrows the simple scheme's 2^(bits/bands) buckets —
    * [[autoHammingPairs64]] automates exactly that switch at the measured
    * [[ComboBandingThreshold]]. */
  def combinationHammingPairs(sig: DataFrame, idCol: String, sigCol: String,
      bits: Int, maxDist: Int, blocks: Int): DataFrame = {
    require(bits % blocks == 0, s"blocks must divide $bits, got $blocks")
    require(maxDist < blocks,
      s"combination LSH is complete only for maxDist < blocks ($maxDist >= $blocks)")
    val r = blocks - maxDist
    // C(blocks, r) structs ride in ONE explode expression — bound it
    // before a careless (blocks, maxDist) pair builds a 10^8-entry plan
    val tables = (0 until r).map(i => (blocks - i).toDouble / (r - i))
      .product
    require(tables <= 4096,
      f"combination banding would build $tables%.0f tables " +
        s"(C($blocks, $r)); pick fewer blocks or a larger maxDist")
    hammingPairsFromKeys(
      comboBandKeys(sig, idCol, sigCol, bits, maxDist, blocks), maxDist)
  }

  /** Exploded (id, sig, band, key) frame of the COMBINATION scheme —
    * band = combo index, key = the combo's blocks concatenated low-to-high
    * (r·width bits; the sign bit stays clear whenever r·width < 64, and at
    * r·width = 64 the key is the signature itself, still a valid join
    * key). Shared by [[combinationHammingPairs]] and the candidate-volume
    * probe (`tools/BandingProbe`). */
  private[graft] def comboBandKeys(sig: DataFrame, idCol: String,
      sigCol: String, bits: Int, maxDist: Int, blocks: Int): DataFrame = {
    val width = bits / blocks
    val r = blocks - maxDist
    val combos = (0 until blocks).combinations(r).toSeq
    // blocks = 1 ⇒ width = 64 ⇒ the same `1L << 64 == 1` mod-64 shift
    // hazard simpleBandKeys guards: the block IS the signature
    val mask = if (width == 64) -1L else (1L << width) - 1
    def keyFor(c: Seq[Int]) = c.zipWithIndex.map { case (blk, pos) =>
      shiftleft(shiftright(col(sigCol), blk * width)
        .bitwiseAND(lit(mask)), pos * width)
    }.reduce(_ bitwiseOR _)
    sig.select(col(idCol).as("id"), col(sigCol).as("sig"),
        explode(array(combos.zipWithIndex.map { case (c, i) =>
          struct(lit(i).as("band"), keyFor(c).as("key"))
        }: _*)).as("ck"))
      .select(col("id"), col("sig"), col("ck.band"), col("ck.key"))
  }

  /** The shared tail of both banding schemes: equi-join the exploded key
    * frame with itself, exact-popcount verify, de-dup multi-band hits.
    * The key frame is repartitioned on (band, key) with an explicit
    * `spark.sql.shuffle.partitions` count, as in [[lshCandidatePairs]]:
    * both join sides read that one exchange, so the signature is computed
    * once and nothing is cached. */
  private def hammingPairsFromKeys(keys: DataFrame,
      maxDist: Int): DataFrame = {
    val banded = keys.repartition(
      keys.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
      col("band"), col("key"))
    def side(s: String) = banded.select(col("band"), col("key"),
      col("id").as(s"id_$s"), col("sig").as(s"sh_$s"))
    side("a").join(side("b"), Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
      .distinct() // a pair may collide in several bands
  }

  /** Exploded (id, sig, band, key) frame of the SIMPLE banded scheme —
    * band b's key is the signature's b-th `bits/bands`-bit slice. */
  private[graft] def simpleBandKeys(sig: DataFrame, idCol: String,
      sigCol: String, bits: Int, maxDist: Int, bands: Int): DataFrame = {
    require(bits % bands == 0, s"bands must divide $bits, got $bands")
    require(maxDist < bands,
      s"banded LSH is complete only for maxDist < bands ($maxDist >= $bands)")
    val width = bits / bands
    // width = 64 (bands = 1, the maxDist = 0 exact-key case): Scala's
    // `1L << 64` is 1 (shift counts mod 64), so the naive mask would be
    // ZERO — every row lands in one bucket and the candidate equi-join
    // degenerates into the full n² cross join this module exists to
    // avoid. The key is the whole signature; mask with all-ones.
    val mask = if (width == 64) -1L else (1L << width) - 1
    sig.select(col(idCol).as("id"), col(sigCol).as("sig"),
        explode(array((0 until bands).map(b => struct(lit(b).as("band"),
          shiftright(col(sigCol), b * width)
            .bitwiseAND(lit(mask)).as("key"))): _*)).as("bk"))
      .select(col("id"), col("sig"), col("bk.band"), col("bk.key"))
  }

  /** Duplicate clusters from candidate pairs: connected components, with
    * every node labeled by the smallest id reachable from it, so
    * `cluster_id == id` marks the keeper and the rest are drops.
    *
    * The pairs are symmetrized and cached once, then one of two arms runs;
    * the cache is released before the call returns or throws:
    *
    *  - '''Union-find''' for LONG ids with at most
    *    `graft.pipeline.localCcMaxEdges` symmetrized edges (default 2²⁰ ≈
    *    50 MB of union-find state; 0 disables): the edges are collected
    *    and one min-root pass runs on the driver, which returns a
    *    driver-local frame. Blocked duplicate graphs are typically far
    *    smaller than the corpus, and each distributed round costs 2-3 jobs
    *    plus a driver sync. Long ids only (the min-root order must match
    *    Spark's `least`); the root IS the component's minimum id, the
    *    fixpoint the other arm converges to (property-tested).
    *  - '''Min-label propagation''' for everything else: the bounded 2-hop
    *    closure ([[boundedTwoHopClosure]]) cuts every component's diameter
    *    about 4×, then join+min rounds run to a driver-checked fixpoint.
    *    A graph still changing after `maxIter` rounds throws instead of
    *    returning split components, and frees every frame it made.
    *
    * @param pairs (id_a, id_b) undirected candidate edges
    * @return (id, cluster_id) for every node appearing in `pairs`
    */
  def duplicateClusters(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    // Symmetrize with ONE scan of `pairs` (explode of both directions) — a
    // self-union would run the caller's candidate-pair pipeline twice.
    val edges = pairs.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct().cache()
    val localCap = pairs.sparkSession.conf
      .getOption("graft.pipeline.localCcMaxEdges")
      .flatMap(v => scala.util.Try(v.toLong).toOption)
      .getOrElse(1L << 20)
    // (the count materializes the edges cache — the job either arm's first
    // pass over the edges would otherwise run)
    try {
      if (edges.schema("src").dataType == org.apache.spark.sql.types.LongType &&
          localCap > 0 && edges.count() <= localCap) unionFindClusters(edges)
      else propagateLabels(edges, maxIter)
    } finally edges.unpersist()
  }

  /** The union-find arm of [[duplicateClusters]]: path-halving union-find
    * on the driver over the collected long-id edges, each undirected edge
    * once (`src <= dst` keeps a self-loop's node). */
  private def unionFindClusters(edges: DataFrame): DataFrame = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x0: Long): Long = {
      var x = x0
      var p = parent(x)
      while (p != x) { // path halving
        val gp = parent(p)
        parent(x) = gp
        x = gp
        p = parent(x)
      }
      x
    }
    edges.where(col("src") <= col("dst")).collect().foreach { r =>
      val a = r.getLong(0); val b = r.getLong(1)
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
    }
    edges.sparkSession.createDataFrame(
      parent.keys.map(id => (id, find(id))).toSeq).toDF("id", "cluster_id")
  }

  /** Reachability-preserving bounded 2-hop closure over symmetrized
    * (src, dst) edges: each pass adds both directions of an edge (a, b) for
    * every path a–mid–b whose midpoint has degree <= `maxDegree`, roughly
    * halving every component's diameter (a chain of diameter d then needs
    * about d/4 rounds). Components are EXACTLY preserved: every added edge
    * connects nodes already connected through its midpoint. The degree cap
    * bounds the quadratic midpoint expansion (a hub of degree m would emit
    * m² edges; hubs are already diameter-2 around themselves). Each pass is
    * localCheckpoint()ed and frees the pass before it; the result is
    * distinct and symmetric. */
  private[graft] def boundedTwoHopClosure(edges: DataFrame): DataFrame = {
    val (passes, maxDegree) = (2, 32)
    var sym = edges
    (1 to passes).foreach { _ =>
      val smallMids = sym.groupBy("src").agg(count(lit(1)).as("__d__"))
        .filter(col("__d__") <= maxDegree).select(col("src"))
      val viaSmall = sym.join(smallMids, "src")
      val two = viaSmall.select(col("src").as("mid"), col("dst").as("src"))
        .join(viaSmall.select(col("src").as("mid"), col("dst")), "mid")
        .filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"))
      val next = sym.union(two).distinct().localCheckpoint()
      if (sym ne edges) GraftShims.releaseCheckpoint(sym)
      sym = next
    }
    sym
  }

  /** The min-label arm of [[duplicateClusters]]: the bounded 2-hop closure
    * of the symmetrized (src, dst) edges, then join+min rounds over it
    * until no label changes. */
  private def propagateLabels(sym: DataFrame, maxIter: Int): DataFrame = {
    val edges = boundedTwoHopClosure(sym)
    // Periodic localCheckpoint truncates lineage — without it the plan tree
    // doubles every round and long chains OOM the driver on plan strings
    // alone (on a cluster, prefer reliable checkpointing to a configured
    // checkpoint dir). Checkpointing EVERY round costs one materialization
    // job per round; dedup graphs converge in a handful of rounds, so cache
    // + every-4th-round checkpoint keeps lineage bounded at a quarter of
    // the job count.
    val checkpointEvery = 4
    // Fused init: round 1 IS the initialization — every node's label after
    // one round is least(self, min neighbor), one aggregation over the
    // symmetrized edges (a separate identity-label init would pay the same
    // shuffle just to throw it away next round).
    var labels = edges.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("__mn__"))
      .select(col("id"), least(col("id"), col("__mn__")).as("cluster_id"))
      .localCheckpoint()
    var lastCheckpoint = labels
    // Labels only ever decrease (least of self and neighbors), so for
    // INTEGRAL ids Σ cluster_id is strictly monotone while anything changes:
    // the convergence test is one cheap aggregate over the just-checkpointed
    // frame instead of a join-and-count against the previous round.
    // Decimal sum — a long Σ over petabyte-scale 64-bit ids can overflow.
    // coalesce: sum over an EMPTY frame is null (no pairs → converge at 0).
    // The sum test is only sound when the cast to decimal(38,0) is exact:
    // string/UUID ids would throw under ANSI (or null out and fake instant
    // convergence with ANSI off), and fractional doubles can round to an
    // unchanged sum while labels still changed — those fall back to a
    // pointwise changed-label count, run every checkpointEvery rounds.
    // That amortized cadence is sound because labels are pointwise
    // non-increasing: labels_i == labels_{i+k} implies every intermediate
    // round was equal too, so "no change across k rounds" == converged.
    import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType, DecimalType}
    val idIsIntegral = labels.schema("id").dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case d: DecimalType if d.scale == 0 => true
      case _ => false
    }
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("cluster_id").cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO))).head.getDecimal(0)
    def changedCount(cur: DataFrame, prev: DataFrame): Long =
      cur.select(col("id"), col("cluster_id").as("__cur__"))
        .join(prev.select(col("id"), col("cluster_id").as("__prev__")), "id")
        .filter(col("__cur__") =!= col("__prev__")).count()
    var prevSum = if (idIsIntegral) labelSum(labels) else null
    // The node set is fixed across iterations, so pick the join strategy
    // once: a label table under ~4M rows (~64 MB) broadcasts to every
    // executor and the per-round join loses both its exchanges; bigger
    // graphs fall back to the shuffle join (labels is O(nodes) — at 100 TB
    // it cannot be assumed broadcastable). The checkpointed localCheckpoint
    // blocks make this count cheap.
    val smallGraph = labels.count() < (1L << 22)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // One propagation round: neighbor labels and own label feed the same
      // min-aggregate (one fused shuffle — vs join + groupBy + left-join =
      // two exchanges).
      val labelsByDst =
        labels.select(col("id").as("dst"), col("cluster_id").as("n_label"))
      val step = edges
        .join(if (smallGraph) broadcast(labelsByDst) else labelsByDst, Seq("dst"))
        .select(col("src").as("id"), col("n_label").as("cluster_id"))
        .union(labels)
        .groupBy("id").agg(min("cluster_id").as("cluster_id"))
      iter += 1
      val checkpointRound = iter % checkpointEvery == 0
      val next = if (checkpointRound) step.localCheckpoint() else step.cache()
      if (idIsIntegral) {
        // labelSum is the round's one action: it materializes the cache (or
        // reads the fresh checkpoint) and decides convergence in the same
        // job.
        val nextSum = labelSum(next)
        converged = nextSum.compareTo(prevSum) == 0
        prevSum = nextSum
      } else if (checkpointRound || iter >= maxIter) {
        // Amortized pointwise check against the last checkpoint (the join
        // is too costly per round); between checks no action runs, so the
        // intermediate rounds fuse into this one job.
        converged = changedCount(next, lastCheckpoint) == 0L
      }
      // A cache()-round frame is freed once the next round has read it:
      // its blocks recompute through lineage rooted at the last
      // checkpoint. That checkpoint's blocks ARE the later rounds' lineage
      // root, so it is freed only when a newer checkpoint has materialized.
      if (labels ne lastCheckpoint) labels.unpersist()
      if (checkpointRound) {
        GraftShims.releaseCheckpoint(lastCheckpoint)
        lastCheckpoint = next
      }
      labels = next
    }
    // Returning non-converged labels would split components and mark false
    // keepers with no signal to the caller — fail loudly instead, and free
    // what this arm made.
    if (!converged) {
      if (labels ne lastCheckpoint) labels.unpersist()
      Seq(lastCheckpoint, edges).foreach(GraftShims.releaseCheckpoint)
      throw new IllegalStateException(
        s"duplicateClusters did not converge within $maxIter iterations " +
          "— raise maxIter for high-diameter graphs")
    }
    labels
  }

  /** Line-level boilerplate removal (the CCNet/RefinedWeb within-corpus
    * line-dedup pass): split every document into non-overlapping
    * `chunkTokens`-token lines, drop lines whose corpus-wide document
    * frequency exceeds `maxDocFreq` (navigation chrome, license headers,
    * templated boilerplate repeat across many documents; real content does
    * not), and reassemble each document from its surviving lines in
    * original order. Documents whose every line is boilerplate disappear
    * from the output entirely — they carried no unique content.
    *
    * Scale shape: line building is pure per-row array work (zero shuffle);
    * the frequency pass is one map-side-combinable aggregation keyed on the
    * line; the removal join ships ONLY the boilerplate set (df > threshold
    * — tiny by construction: boilerplate is the head of the line-frequency
    * distribution) as a broadcast anti-join behind the plan-stats gate
    * [[graft.GraftSession.maybeBroadcast]]; reassembly is one aggregation on
    * the document id. Nothing is ever all-pairs and no state is
    * corpus-sized except the flat line rows themselves. */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 10, maxDocFreq: Int = 2): DataFrame = {
    val toks = split(col(textCol), " ")
    val lines = df.select(col(idCol), posexplode(transform(
        // greatest guards the degenerate empty string (sequence(0,-1) would
        // run DESCENDING in Spark) — one "" line, dropped or kept harmlessly
        sequence(lit(0), greatest(
          ceil(size(toks) / lit(chunkTokens.toDouble)).cast("int") - 1, lit(0))),
        i => array_join(slice(toks, i * chunkTokens + 1, lit(chunkTokens)), " ")))
      .as(Seq("line_no", "line")))
    val boiler = lines.groupBy("line")
      .agg(count_distinct(col(idCol)).as("__df__"))
      .filter(col("__df__") > maxDocFreq).select("line")
    lines.join(graft.GraftSession.maybeBroadcast(boiler), Seq("line"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("line_no"), col("line")))),
          x => x.getField("line")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
  }

  /** Corpus-wide keep-first line dedup (the C4 "discard any repeated
    * three-sentence span" rule, at line granularity — C4 §2.2 of Raffel et
    * al. 2020, re-expressed relational): documents split into the same
    * non-overlapping `chunkTokens`-token lines as [[lineDedup]]; every line
    * that occurs more than once ANYWHERE in the corpus survives only at its
    * globally-first occurrence — ordered by (doc id, position), the stable
    * cross-run tiebreak — and each document reassembles from its surviving
    * lines. Complements [[lineDedup]]: that removes high-document-frequency
    * boilerplate everywhere; this keeps exactly one copy of ANY repeat, the
    * semantics training-data pipelines want for verbatim content theft
    * between documents. Documents left with zero surviving lines drop out.
    *
    * Scale shape: one shuffle, keyed on the line — the first-occurrence
    * winner is a min(struct) window over the line partition (map-side
    * partial min does not apply to windows, but the exchange carries the
    * flat line rows exactly once; no join, no second corpus pass), and
    * reassembly is the same doc-id aggregation as [[lineDedup]]. The skew
    * risk (one viral line → one hot partition) is bounded: a partition
    * holds line COPIES, each a fixed-width row, and the window computes
    * only a running min over them. */
  def keepFirstLines(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = split(col(textCol), " ")
    val lines = df.select(col(idCol), posexplode(transform(
        sequence(lit(0), greatest(
          ceil(size(toks) / lit(chunkTokens.toDouble)).cast("int") - 1, lit(0))),
        i => array_join(slice(toks, i * chunkTokens + 1, lit(chunkTokens)), " ")))
      .as(Seq("line_no", "line")))
    val first = min(struct(col(idCol), col("line_no")))
      .over(Window.partitionBy("line"))
    lines.withColumn("__first__", first)
      .filter(col(s"__first__.$idCol") === col(idCol) &&
        col("__first__.line_no") === col("line_no"))
      .groupBy(col(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("line_no"), col("line")))),
          x => x.getField("line")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
  }

  /** Exact repeated-span statistics (the Lee et al. 2022 "Deduplicating
    * Training Data" substring-dedup signal, hash-based instead of
    * suffix-array): every k-char window of every document hashes; a window
    * whose hash appears anywhere EARLIER in the corpus (by (doc, pos) — the
    * same stable first-occurrence rule as [[keepFirstLines]]) marks its
    * [pos, pos+k) span duplicated; per document, overlapping spans merge by
    * interval union and the output reports span count, duplicated
    * character mass, and the duplicated fraction — the filter/metric form
    * of exact substring dedup (reassembly is a downstream substring
    * stitch over the same merged spans).
    *
    * Scale shape: the window-hash frame is |corpus chars| rows — large but
    * LINEAR, exploded per row with zero shuffle; first-occurrence is one
    * hash-keyed window (the keepFirstLines shuffle at character
    * granularity); interval union is a per-doc running-max window (the
    * sessionize pattern); nothing quadratic, no suffix array's global
    * sort-of-all-suffixes. */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 40): DataFrame = {
    val merged = mergedDupSpans(df, idCol, textCol, k)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("me") - col("ms")).as("dup_chars"))
    df.select(col(idCol), length(col(textCol)).cast("long").as("n_chars"))
      .join(merged, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        col("n_chars"),
        // empty documents have no chars to duplicate: dup_frac is 0.0, not
        // a division by zero (which ANSI mode, Spark 4's default, THROWS on)
        when(col("n_chars") > 0,
          round(coalesce(col("dup_chars"), lit(0L)) / col("n_chars"), 4))
          .otherwise(lit(0.0)).as("dup_frac"))
  }

  /** The shared span machinery of [[repeatedSpans]] and
    * [[cutRepeatedSpans]]: per-doc MERGED duplicated intervals
    * (idCol, ms, me) — half-open 1-indexed char spans whose every k-char
    * window hash occurs anywhere earlier in the corpus (the corpus-first
    * (doc, pos) occurrence of each WINDOW is never itself marked — but a
    * first-occurrence character can still fall inside a merged span
    * opened by an overlapping non-first window, see [[cutRepeatedSpans]]).
    * One definition so the metric and the reassembly forms can never
    * disagree on what counts as duplicated. */
  private[graft] def mergedDupSpans(df: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val len = length(col(textCol))
    val grams = df
      .filter(len >= k)
      .select(col(idCol), posexplode(transform(
        sequence(lit(1), len - (k - 1)),
        i => md5(col(textCol).substr(i, lit(k))))))
      .select(col(idCol), (col("pos") + 1).as("pos"), col("col").as("h"))
    val first = min(struct(col(idCol), col("pos")))
      .over(Window.partitionBy("h"))
    val dups = grams.withColumn("__first__", first)
      .filter(!(col(s"__first__.$idCol") === col(idCol) &&
        col("__first__.pos") === col("pos")))
      .select(col(idCol), col("pos").as("s"), (col("pos") + k).as("e"))
    // interval union per doc: a span starting past the running max end
    // opens a new merged group (strict: touching spans [1,5)+[5,9) fuse)
    val w = Window.partitionBy(idCol).orderBy(col("s"), col("e"))
    val prevMax = max(col("e")).over(w.rowsBetween(
      Window.unboundedPreceding, -1))
    dups
      .withColumn("__new__",
        when(prevMax.isNull || col("s") > prevMax, 1L).otherwise(0L))
      .withColumn("__grp__", sum("__new__").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__grp__"))
      .agg(min("s").as("ms"), max("e").as("me"))
      .select(col(idCol), col("ms"), col("me"))
  }

  /** Exact substring dedup, REASSEMBLY form (the output Lee et al. 2022
    * actually train on, where [[repeatedSpans]] is the filter/metric
    * twin — its scaladoc's "downstream substring stitch", now an
    * operator): every merged duplicated span cuts out of its document and
    * the surviving segments stitch back together in order. The keep rule
    * is WINDOW-granular: the corpus-first (doc, pos) occurrence of each
    * k-window is never itself marked duplicated (the [[keepFirstLines]]
    * rule at character granularity) — but strict no-content-loss does NOT
    * follow, because a merged span opened by overlapping NON-first
    * windows can cover a first occurrence's characters (e.g. k=4 over
    * "bcdeX" / "abcde" / "abcdZ": "abcd"'s first occurrence loses b,c,d
    * to "bcde"'s span and its other copy is cut outright, so "abcd"
    * survives nowhere). Lee et al.'s suffix-array cutter shares this
    * property; callers needing guaranteed retention should key on
    * [[keepFirstLines]] (whole-line granularity keeps winners intact).
    * Emits (idCol, clean_text, cut_chars); documents with nothing
    * duplicated pass through whole with cut_chars 0.
    *
    * Scale shape: [[mergedDupSpans]]'s linear window-hash frame plus one
    * per-doc sorted-array fold — spans per doc are bounded by
    * |text| / gap, collected AFTER interval union (never the raw
    * per-position rows), and the stitch is one `aggregate` expression
    * over (span array, text), no joins beyond the one doc-to-spans
    * left join. */
  def cutRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 40): DataFrame = {
    val spans = mergedDupSpans(df, idCol, textCol, k)
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("ms"), col("me"))))
        .as("__spans__"))
    df.join(spans, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__spans__").isNull, col(textCol)).otherwise(
          // fold (out, cursor) over the sorted disjoint spans: emit the
          // gap segment [cursor, ms), jump the cursor to me; finish with
          // the tail segment [cursor, len+1). substr's 1-indexing matches
          // the span convention; zero-length segments emit "".
          aggregate(col("__spans__"),
            struct(lit("").as("out"), lit(1).as("cur")),
            (acc, sp) => struct(
              concat(acc.getField("out"),
                col(textCol).substr(acc.getField("cur"),
                  sp.getField("ms") - acc.getField("cur"))).as("out"),
              sp.getField("me").as("cur")),
            acc => concat(acc.getField("out"),
              col(textCol).substr(acc.getField("cur"),
                length(col(textCol)) + 1 - acc.getField("cur")))))
          .as("clean_text"),
        coalesce(aggregate(col("__spans__"), lit(0L),
          (acc, sp) => acc + (sp.getField("me") - sp.getField("ms"))),
          lit(0L)).as("cut_chars"))
  }

  /** n-gram Jaccard similarity for candidate verification: character
    * n-gram shingle sets, |A ∩ B| / |A ∪ B|. Run over candidate `pairs`
    * (id_a, id_b) only — never all-pairs. */
  def ngramJaccard(docs: DataFrame, pairs: DataFrame, idCol: String,
      textCol: String, n: Int = 3): DataFrame = {
    // Candidate pairs are a bounded set (LSH-bucketed, star-capped), so the
    // cheap shape is to ship the two TEXTS to each pair row — the pair
    // frame broadcasts against the corpus, no shuffle — and compute the
    // distinct-n-gram overlap in one pass with the native
    // [[graft.functions.NgramJaccard]] expression. The explode-the-corpus +
    // two-equi-join form this replaced shuffled every document's |text|
    // shingle rows whether or not it appeared in any pair. Disjoint pairs
    // (raw jaccard 0, incl. null texts) drop, exactly as the inner
    // intersection join dropped them; rounding stays OUTSIDE the filter.
    val ta = docs.select(col(idCol).as("id_a"), col(textCol).as("__ta__"))
    val tb = docs.select(col(idCol).as("id_b"), col(textCol).as("__tb__"))
    pairs.join(ta, "id_a").join(tb, "id_b")
      .withColumn("__j__", graft.functions.DedupFunctions
        .ngramJaccard(col("__ta__"), col("__tb__"), n))
      .where(col("__j__") > 0)
      .select(col("id_a"), col("id_b"), round(col("__j__"), 4).as("jaccard"))
  }

  /** MOSS-style near-duplicate candidate pairs from shared winnowing
    * fingerprints (Schleimer et al. 2003): documents are fingerprinted
    * with [[TextAnalysis.winnow]] (guaranteed to share a print for any
    * common substring ≥ k+w-1 chars), fingerprints appearing in more than
    * `maxDocFreq` documents are dropped (the MOSS noise threshold —
    * boilerplate prints carry no match signal, and dropping them bounds
    * every fingerprint's pair fan-out at maxDocFreq², the same role
    * `maxBucket` plays in [[lshCandidatePairs]]), and pairs sharing at
    * least `minShared` surviving prints are emitted with their overlap
    * coefficient `n_shared / min(|A|, |B|)`.
    *
    * Scale shape: fingerprinting is a zero-shuffle native expression; the
    * document frequency is a count window over the fp partition of the
    * SAME exploded frame; candidates come from a frequency-bounded
    * equi-join on the print — never all-pairs. */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4, maxDocFreq: Int = 10,
      minShared: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fps = df.select(col(idCol),
      explode(TextAnalysis.winnow(col(textCol), k, w)).as("fp"))
    val rare = fps
      .withColumn("__df__", count(lit(1)).over(Window.partitionBy("fp")))
      .filter(col("__df__") <= maxDocFreq).drop("__df__")
    val sizes = rare.groupBy(col(idCol)).agg(count(lit(1)).as("__n__"))
    val a = rare.select(col(idCol).as("id_a"), col("fp"))
    val b = rare.select(col(idCol).as("id_b"), col("fp"))
    a.join(b, "fp").filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(sizes.select(col(idCol).as("id_a"), col("__n__").as("__na__")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("__n__").as("__nb__")), "id_b")
      .select(col("id_a"), col("id_b"), col("n_shared"),
        round(col("n_shared") / least(col("__na__"), col("__nb__")), 4)
          .as("overlap"))
  }

  /** n-gram CONTAINMENT verification over candidate pairs: for each pair,
    * `|A ∩ B| / |A|` and `|A ∩ B| / |B|` plus jaccard, from ONE native
    * gram pass ([[graft.functions.NgramOverlap]] — exact integer counts,
    * divisions done once here so Spark and the oracle round identically).
    *
    * Containment is the dedup signal Jaccard misses: a short document
    * embedded verbatim in a long one (quote farm, aggregator page, doc +
    * appended boilerplate) has containment ≈ 1 on the short side while
    * jaccard is diluted to |A|/|B|. Broder's original resemblance/
    * containment pair — run over bounded candidates only, same plan shape
    * as [[ngramJaccard]] (pairs broadcast against the corpus, zero
    * shuffle). */
  def ngramContainment(docs: DataFrame, pairs: DataFrame, idCol: String,
      textCol: String, n: Int = 3): DataFrame = {
    val ta = docs.select(col(idCol).as("id_a"), col(textCol).as("__ta__"))
    val tb = docs.select(col(idCol).as("id_b"), col(textCol).as("__tb__"))
    pairs.join(ta, "id_a").join(tb, "id_b")
      .withColumn("__ov__", graft.functions.DedupFunctions
        .ngramOverlap(col("__ta__"), col("__tb__"), n))
      .select(col("id_a"), col("id_b"),
        element_at(col("__ov__"), 1).as("n_common"),
        element_at(col("__ov__"), 2).as("n_a"),
        element_at(col("__ov__"), 3).as("n_b"))
      .where(col("n_common") > 0)
      .select(col("id_a"), col("id_b"), col("n_common"),
        round(col("n_common") / col("n_a"), 4).as("contain_a"),
        round(col("n_common") / col("n_b"), 4).as("contain_b"),
        round(col("n_common") /
          (col("n_a") + col("n_b") - col("n_common")), 4).as("jaccard"))
  }

  /** CDC polynomial constants — canonical home is the native expression
    * ([[graft.functions.CdcCutBounds]]); re-exported here for the oracle
    * SQL generator so both sides share literally the same numbers. */
  def cdcPows(window: Int): IndexedSeq[Long] =
    graft.functions.CdcCutBounds.pows(window)

  /** Content-defined chunking (CDC — the LBFS/FastCDC shape): a chunk
    * boundary falls after position i wherever the `window`-char window
    * ending at i hashes to 0 mod 2^`maskBits` (expected chunk length =
    * 2^maskBits). Boundaries depend only on CONTENT, so an insertion early
    * in a document shifts every byte offset yet the chunking re-aligns
    * within one chunk — fixed-size blocks would re-cut the whole tail.
    * The (chunk_md5, chunk_len) stream feeds chunk-level dedup: shared
    * boilerplate dedupes at chunk granularity even between documents that
    * are nowhere near whole-document duplicates.
    *
    * The boundary hash is a Rabin-style polynomial over the window's
    * character codes — `Σ code(c_j)·B^j mod M` with B=31, M=1e9+7 —
    * computed by the native one-pass [[graft.functions.CdcCutBounds]]
    * expression (whole-stage codegen, primitive-long loop; the md5-per-
    * window and HOF-composed variants measured 3.4 s / 5.2 s at sf0.1 vs
    * ~0.5 s for this). Exact integer arithmetic, bit-identical in any
    * engine; a streaming rolling evaluation computes the identical
    * positions in O(1)/byte. Chunk CONTENT is still fingerprinted by md5
    * (one digest per chunk, not per position). One output row per chunk;
    * a document shorter than `window` is one chunk; empty documents emit
    * nothing. */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
      window: Int = 16, maskBits: Int = 5): DataFrame = {
    require(window > 0 && maskBits > 0 && maskBits <= 8,
      s"bad CDC params window=$window maskBits=$maskBits")
    df.select(col(idCol).as("id"), col(textCol).as("__t__"))
      .select(col("id"), col("__t__"),
        graft.functions.TextFunctions
          .cdcCutBounds(col("__t__"), window, maskBits).as("__b__"))
      .select(col("id"), col("__t__"),
        explode(transform(sequence(lit(1), size(col("__b__")) - 1), k =>
          struct(k.cast("long").as("idx"),
            element_at(col("__b__"), k).as("s"),
            element_at(col("__b__"), (k + 1).cast("int")).as("e")))).as("c"))
      .filter(col("c.e") > col("c.s"))
      .select(col("id"), col("c.idx").as("chunk_idx"),
        md5(col("__t__").substr((col("c.s") + 1).cast("int"),
          (col("c.e") - col("c.s")).cast("int"))).as("chunk_md5"),
        (col("c.e") - col("c.s")).as("chunk_len"))
  }
}
