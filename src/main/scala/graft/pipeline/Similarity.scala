package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`ArrayType(FloatType)`).
  *
  * Scale design: brute-force cosine is the exact baseline — at 100 TB it is a
  * broadcast of the (small) query set against a full scan, O(n·q). The LSH
  * path buckets vectors by random-hyperplane sign bits so candidate
  * generation becomes an equi-join on the bucket id (shuffle on a 2^k-ary
  * key), the standard IVF/LSH trade: recall for a ~2^k reduction in pairs.
  * All math is double-precision column expressions (codegen, no UDFs).
  */
object Similarity {

  /** Double-precision dot product of two float-array columns — a native
    * codegen'd Catalyst expression ([[graft.functions.FloatDotProduct]]);
    * same left-to-right double accumulation as the composable
    * `aggregate(zip_with(...))` form it replaces, without the per-row
    * intermediate array. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.floatDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; null (not NaN) for zero-norm inputs, so degenerate
    * vectors drop out of thresholds and rank windows instead of sorting
    * first (Spark orders NaN above every real double in DESC). */
  def cosine(a: Column, b: Column): Column =
    cosineWithNorms(a, b, norm(a), norm(b))

  /** [[cosine]] with the norms precomputed by the caller — the quadratic
    * pair stages project `norm(v)` ONCE per vector before their join so
    * the per-pair work is a bare dot product (the norms are otherwise
    * re-folded once per partner: 2 extra O(dim) folds per candidate).
    * Same expression over the same values — bit-identical results. */
  private[pipeline] def cosineWithNorms(a: Column, b: Column,
      na: Column, nb: Column): Column = {
    val denom = na * nb
    when(denom =!= 0.0, dot(a, b) / denom)
  }

  /** Exact top-k neighbors for each query vector (brute force): broadcast the
    * query set, rank by (rounded cosine desc, id asc) for determinism. */
  def bruteForceTopK(vectors: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val scored = vectors.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
      .join(q, col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("nv")), 6).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Deterministic pseudo-random hyperplane `j` for dimension `dim`:
    * component i = ((i·73 + j·151 + i·j·37) mod 101) − 50 ∈ [−50, 50].
    * Reproducible in any engine with integer arithmetic — no RNG state —
    * and exact in float. The i·j cross term makes all 101 residues of j
    * DISTINCT hyperplanes (the round-12 form `(i·7 + j·13) mod 5` had no
    * cross term, so it only ever produced j mod 5 = FIVE distinct planes —
    * `bits > 5` silently emitted duplicated, perfectly correlated sign
    * bits, and independent families were impossible). */
  def hyperplane(j: Int, dim: Int): Column =
    transform(sequence(lit(0), lit(dim - 1)),
      i => ((i * 73 + lit(j) * 151 + i * lit(j * 37)) % 101 - 50)
        .cast("float")) // ints in [-50,50]: exact in float

  /** LSH bucket id: k sign bits of dot products with k deterministic
    * hyperplanes → integer in [0, 2^k). The scale path for ANN: vectors
    * hash-partition by bucket, queries probe only their bucket.
    * `family` selects a disjoint hyperplane range (`family·k + j`) — an
    * INDEPENDENT bucketing of the same corpus, the recall-recovery lever
    * ([[lshNearDupPairs]]' `families`). The 101-plane supply bounds
    * `(family+1)·k`. */
  def lshBucket(vec: Column, dim: Int, k: Int = 4, family: Int = 0): Column = {
    require((family + 1) * k <= 101,
      s"hyperplane supply exhausted: family $family × $k bits needs " +
        s"${(family + 1) * k} planes, the deterministic family has 101")
    (0 until k).map { j =>
      when(dot(vec, hyperplane(family * k + j, dim)) > 0, lit(1L << j))
        .otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Bucketed ANN top-k: same contract as [[bruteForceTopK]] but candidates
    * are restricted to the query's LSH bucket. `families > 1` unions the
    * candidates of that many independent hyperplane bucketings before
    * ranking (one extra keyed dedupe) — the same recall-recovery lever as
    * [[lshNearDupPairs]]' `families`: a true neighbor the first family's
    * bucket boundary splits off still ranks if ANY family co-buckets it. */
  def lshTopK(vectors: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int, bits: Int = 4,
      families: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fams = math.max(1, families)
    // bits = -1: corpus-proportional code, exactly lshNearDupPairs' arm —
    // fixed bits make per-query candidate counts grow n/2^bits
    val b = resolveAutoBits(vectors, bits, fams)
    val cands = (0 until fams).map { f =>
      val vb = vectors.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"),
        lshBucket(col(vecCol), dim, b, f).as("bucket"))
      val qb = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        lshBucket(col(vecCol), dim, b, f).as("bucket")))
      vb.join(qb, Seq("bucket")).filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(cosine(col("qv"), col("nv")), 6).as("cos"))
    }.reduce(_ unionByName _)
    val scored = // a candidate found by several families scores identically
      if (fams > 1)
        cands.groupBy("query_id", "neighbor_id").agg(max("cos").as("cos"))
      else cands
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Per-cell assignment score `2·v·c_j − |c_j|²`: for fixed `|v|`,
    * argmax over j ⇔ argmin euclidean `|v − c_j|²`. Centroid components are
    * float-rounded and the arithmetic is exact float products accumulated
    * left-to-right in double ([[dot]]), so any engine with IEEE doubles
    * reproduces the score bit-for-bit — what lets the IVF path be
    * oracle-checked in plain SQL. */
  private def cellScore(vec: Column, c: Array[Double]): Column =
    dot(vec, typedLit(c.map(_.toFloat))) * 2 - lit(c.map(x => x * x).sum)

  /** Per-cell assignment scores as ONE struct-array column, two layouts by
    * cell count (both produce `struct(score, negCell)` entries, bit-equal
    * math — [[dot]]'s left-to-right double fold either way, spec-pinned):
    *
    *  - `k ≤ literalMax`: one struct per centroid with the centroid as its
    *    own array literal — whole-stage-codegen'd, the fast shape for the
    *    coarse quantizers real queries carry.
    *  - `k > literalMax`: per-centroid literals would push k·dim constants
    *    into the generated class's constant pool (the JVM caps it at 64k
    *    entries — k=4096 cells × 32 dims already exceeds it). Instead the
    *    centroid matrix rides as ONE 2-D array literal (a single reference
    *    in codegen) zipped with its index: `zip_with` evaluates interpreted
    *    (HOFs don't codegen), but per-row cost is the same k·dim float
    *    products and at that k the arithmetic dominates dispatch. */
  private def cellScoreArray(vec: Column, centroids: Array[Array[Double]],
      literalMax: Int = 256): Column =
    if (centroids.length <= literalMax)
      array(centroids.indices.map { j =>
        struct(cellScore(vec, centroids(j)).as("score"),
          lit(-j).as("negCell"))
      }: _*)
    else {
      val centLit = typedLit(centroids.toSeq.map(_.toSeq.map(_.toFloat)))
      val cnLit = typedLit(centroids.toSeq.map(c => c.map(x => x * x).sum))
      zip_with(centLit, sequence(lit(0), lit(centroids.length - 1)),
        (c, j) => struct((dot(vec, c) * 2 - element_at(cnLit, j + 1))
          .as("score"), (-j).as("negCell")))
    }

  /** Nearest-cell assignment as a pure column expression (ties → lowest
    * cell). Replaces `KMeansModel.transform` on the read path: codegen'd,
    * no ml.Vector conversion, no join against a transform output.
    * `literalMax` picks the [[cellScoreArray]] layout (tests force both). */
  def ivfAssign(vec: Column, centroids: Array[Array[Double]],
      literalMax: Int = 256): Column =
    (-array_max(cellScoreArray(vec, centroids, literalMax))
      .getField("negCell")).cast("int")

  /** IVF (inverted-file) ANN index: k-means centroids over a seeded training
    * sample (capped at `maxTrainVectors`; the full set when smaller),
    * every vector assigned to its nearest cell. Queries probe only the
    * `nProbe` nearest cells — the coarse-quantization scale path (vs
    * [[lshBucket]]'s hash path): at 100 TB the per-cell lists are the
    * shuffle partitions and a query touches nProbe/k of the data.
    * Returned centroids are float-rounded: assignment ([[ivfAssign]]),
    * probe ([[ivfTopK]]) and any external oracle all see identical values.
    *
    * `k = -1` auto-sizes the cell count to the corpus: ⌈n/250⌉ clamped to
    * [8, 4096]. Within-cell work (the [[knnGraph]] m² self-join, probe
    * list lengths) is occupancy-squared, so a FIXED k turns quadratic as
    * the corpus grows — the bench 10× lane measured e10 at 15.8× the 1×
    * time before auto-sizing. Constant target occupancy keeps per-cell
    * pair work flat and rides corpus growth on MORE cells (= more shuffle
    * partitions — exactly what a 1000-executor cluster wants). Past 256
    * cells assignment switches to the single-2-D-literal layout
    * ([[cellScoreArray]] — no constant-pool growth, same math); the
    * remaining clamp is the k-means FIT (Spark's KMeans at k ≫ 4096 over
    * the capped sample is fit-bound — a billion-vector corpus wants a
    * hierarchical/two-level coarse quantizer, out of scope). */
  def ivfIndex(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int = 16, seed: Long = 42L,
      maxTrainVectors: Long = 100000L): (DataFrame, Array[Array[Double]]) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    // Bound the fit: k-means is a multi-pass job, and coarse-quantizer
    // quality saturates long before 100k training vectors — at 100 TB an
    // unbounded fit would iterate over the full corpus. The seeded sample
    // keeps index construction deterministic per dataset.
    val n = vectors.count()
    val kk =
      if (k > 0) k
      else math.max(8, math.min(4096, ((n + 249) / 250).toInt))
    val sampled =
      if (n <= maxTrainVectors) vectors
      else vectors.sample(withReplacement = false,
        maxTrainVectors.toDouble / n, seed)
    val train = sampled.select(
      array_to_vector(col(vecCol).cast("array<double>")).as("features"))
    val model = new KMeans().setK(kk).setSeed(seed).setFeaturesCol("features")
      .fit(train)
    val centroids = model.clusterCenters.map(_.toArray.map(_.toFloat.toDouble))
    (vectors.withColumn("cell", ivfAssign(col(vecCol), centroids)), centroids)
  }

  /** ANN top-k over an IVF index: each query probes its `nProbe` nearest
    * cells and ranks candidates by exact cosine (same contract/tiebreaks as
    * [[bruteForceTopK]]). */
  def ivfTopK(indexed: DataFrame, queries: DataFrame,
      centroids: Array[Array[Double]], idCol: String, vecCol: String,
      topK: Int, nProbe: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Probe by the same metric the index assigned with (euclidean): for fixed
    // |q|, argmin |q-c|^2 = argmax (2 q·c - |c|^2). A raw-dot probe would
    // disagree with the assignment for unnormalized vectors and could skip
    // the query's own cell.
    // tiebreak on -cell so equal scores order LOWEST cell first, exactly
    // like ivfAssign's struct(score, -j) pick — with duplicate centroids
    // (k-means over few distinct points) a highest-cell tiebreak would
    // probe the empty copy while the vectors sit in the low-numbered one
    val q = broadcast(queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("probed",
        slice(reverse(array_sort(
          cellScoreArray(col("qv"), centroids))), 1, nProbe))
      .select(col("query_id"), col("qv"),
        explode(transform(col("probed"), p => -p("negCell"))).as("cell")))
    val scored = indexed.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"),
        col("cell"))
      .join(q, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("nv")), 6).as("cos"))
      .groupBy("query_id", "neighbor_id").agg(max("cos").as("cos")) // dedupe multi-cell hits
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
  }

  /** Full-corpus kNN GRAPH by IVF-cell blocking: every vector ranks its
    * top-k cosine neighbors among its own coarse cell's members — the
    * batch graph-construction pass SemDeDup-style curation and kNN-graph
    * clustering start from, where per-query probing ([[ivfTopK]]) would pay
    * the probe fan-out n times over.
    *
    * Scale shape: one equi-join shuffle on the cell id (per-cell m² pair
    * work, sharded across cells — the k-means fit sizes cells at ~n/k, so
    * total work is n²/k, tuned by cell count, never unsharded n²) and one
    * rank exchange on the query id. Recall matches single-cell probing
    * (nProbe=1); union a second hyperplane/cell family for boundary
    * vectors, as with [[lshNearDupPairs]]. */
  def knnGraph(indexed: DataFrame, idCol: String, vecCol: String,
      k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val a = indexed.select(col("cell"), col(idCol).as("vec_id"),
      col(vecCol).as("__qv__"), norm(col(vecCol)).as("__qn__"))
    val b = indexed.select(col("cell"), col(idCol).as("neighbor_id"),
      col(vecCol).as("__nv__"), norm(col(vecCol)).as("__nn__"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    a.join(b, Seq("cell")).filter(col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"),
        round(cosineWithNorms(col("__qv__"), col("__nv__"),
          col("__qn__"), col("__nn__")), 6).as("cos"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Re-rank the union of several [[knnGraph]] runs into one top-k graph —
    * the documented boundary-vector recall path: build the graph over two
    * (or more) coarse quantizers (e.g. `ivfIndex` with different seeds) so
    * a true neighbor split across one index's cell boundary still ranks if
    * ANY index co-cells it. Scores are exact cosines, identical wherever a
    * pair appears, so the merge is one keyed dedupe + the same
    * (cos desc, id asc) rank — edges only ever improve toward the exact
    * kNN graph as indexes are added. */
  def knnGraphUnion(graphs: Seq[DataFrame], k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(graphs.nonEmpty, "knnGraphUnion needs at least one graph")
    val merged = graphs.map(_.select("vec_id", "neighbor_id", "cos"))
      .reduce(_ unionByName _)
      .groupBy("vec_id", "neighbor_id").agg(max("cos").as("cos"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    merged.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** The ±1 Johnson-Lindenstrauss sign matrix for [[randomProjection]]:
    * sign(j, i) from the parity of the first md5 nibble of `seed|j|i` —
    * data-independent and regenerated bit-identically anywhere (executors,
    * an external oracle), so the projection needs no shipped model state. */
  def projectionSigns(outDim: Int, inDim: Int, seed: String): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(outDim, inDim) { (j, i) =>
      val h = md.digest(s"$seed|$j|$i".getBytes("UTF-8"))
      if (((h(0) >> 4) & 1) == 0) 1.0 else -1.0
    }
  }

  /** Johnson-Lindenstrauss random projection to `outDim` dimensions
    * (Achlioptas 2003 ±1 variant): y_j = Σ_i x_i·s_ji / √outDim, signs from
    * [[projectionSigns]]. The dimensionality-reduction pass in front of
    * ANN/clustering when d is large. Zero shuffle: each output coordinate
    * is one codegen'd fold over the vector (same left-to-right double
    * accumulation as the oracle's list_dot_product); rows explode to
    * (id, dim, value) scalars. */
  def randomProjection(df: DataFrame, idCol: String, vecCol: String,
      outDim: Int, seed: String = "jl", inDim: Int = -1): DataFrame = {
    // one driver job only when the caller doesn't know the width
    val d = if (inDim > 0) inDim else df.select(size(col(vecCol))).head.getInt(0)
    val signs = projectionSigns(outDim, d, seed)
    val scale = math.sqrt(outDim.toDouble)
    // each coordinate is ONE native dot expression (same left-to-right
    // double accumulation as the composable aggregate(zip_with) fold it
    // replaces — measured 4× on the e11 query: the fold planned a 64-node
    // lambda tree per coordinate)
    val ys = array((0 until outDim).map { j =>
      round(dot(col(vecCol), typedLit(signs(j).toSeq)) / scale, 6)
    }: _*)
    df.select(col(idCol), posexplode(ys).as(Seq("dim", "y")))
      .select(col(idCol), col("dim").cast("long").as("dim"), col("y"))
  }

  /** All pairs (a<b) with cosine above `threshold` within a candidate set —
    * embedding-based near-duplicate detection. Callers bound the input
    * (e.g. LSH buckets) at scale. */
  def cosinePairs(vectors: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val a = vectors.select(col(idCol).as("id_a"), col(vecCol).as("va"))
    val b = vectors.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), round(cosine(col("va"), col("vb")), 4).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Near-duplicate pairs at corpus scale: candidates restricted to equal
    * LSH buckets (sign-bit hyperplane hash, [[lshBucket]]), then exact
    * cosine verification — the documented 100 TB path behind
    * [[cosinePairs]]' bounded-candidate contract. One equi-join shuffle on
    * the bucket id; per-bucket pair counts are corpus-share-bounded, never
    * all-pairs. Recall is the standard LSH trade: raise `bits` to shrink
    * buckets (`bits = -1` sizes the code to the corpus automatically —
    * [[autoLshBits]], constant expected occupancy at any n), union
    * several independent hyperplane families to recover missed
    * cross-bucket pairs.
    *
    * `maxBucket` is the skew guard (default uncapped = exact): a
    * degenerate bucket — a dense embedding cluster, all-zero vectors —
    * still pays m² inside one key without it. A bucket over the cap
    * star-expands instead ([[graft.pipeline.Dedup.lshCandidatePairs]]'s
    * scheme): only hub(min-id)–spoke pairs are emitted and cosine-verified,
    * O(m) per bucket. Exact-duplicate clusters stay fully connected for
    * downstream clustering (every spoke hits the hub at cos 1.0); sub-1.0
    * near-dup pairs inside a capped bucket may drop when only their
    * hub edge fails the threshold — the same recall trade the MinHash cap
    * documents.
    *
    * `families > 1` unions the pairs of that many INDEPENDENT hyperplane
    * bucketings (disjoint [[hyperplane]] ranges via [[lshBucket]]'s
    * `family`) and de-duplicates — the documented recall-recovery path: a
    * near-dup pair split across one family's bucket boundary survives if
    * ANY family co-buckets it (each hyperplane cuts a qualifying pair
    * with probability angle/π, so misses decay geometrically in
    * families). Cost is `families`× the candidate joins; output is a
    * superset of every single family's, still exact-cosine-verified. */
  def lshNearDupPairs(vectors: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double, bits: Int = 4,
      maxBucket: Int = Int.MaxValue, families: Int = 1): DataFrame = {
    val fams = math.max(1, families)
    // bits = -1: corpus-proportional code length (round 14 — the
    // [[ivfIndex]] k = -1 twin; one count job over the input). Fixed bits
    // go quadratic as a corpus grows — occupancy n/2^bits, candidates
    // n²/2^bits — exactly the shape auto-sized IVF cells fixed for
    // knnGraph; the recall a longer code costs is recovered the
    // documented way (union more families).
    val b = resolveAutoBits(vectors, bits, fams)
    val perFamily = (0 until fams).map(
      lshNearDupPairsFamily(vectors, idCol, vecCol, dim, threshold, b,
        maxBucket, _))
    if (perFamily.length == 1) perFamily.head
    else perFamily.reduce(_ unionByName _).distinct()
  }

  /** The shared `bits = -1` arm of [[lshNearDupPairs]] and [[lshTopK]]:
    * one count job over the corpus (Spark prunes it to a plain scan), code
    * length from [[autoLshBits]] under the stacked-family plane budget.
    * ONE definition so the two APIs can never diverge on the sizing
    * formula. Only the documented sentinel
    * -1 selects the auto arm: any other non-positive `bits` is a caller
    * bug (a config-plumbing 0 used to fail fast at plan build, and must
    * not silently become corpus-sized codes plus an extra count job). */
  private def resolveAutoBits(vectors: DataFrame, bits: Int,
      fams: Int): Int =
    if (bits > 0) bits
    else {
      require(bits == -1,
        s"bits must be positive, or -1 for corpus-proportional sizing; got $bits")
      autoLshBits(vectors.count(), maxBits = math.min(24, 101 / fams))
    }

  /** Corpus-proportional LSH code length: bits such that the EXPECTED
    * bucket occupancy n/2^bits is ~250 (the same per-block pair-work
    * budget as [[ivfIndex]]'s auto cell sizing), clamped to
    * [4, maxBits]. maxBits WINS over the lower clamp — it defends the
    * 101-plane supply when many families are stacked
    * ((families)·bits ≤ 101), so e.g. 26 families get 3-bit codes
    * rather than an 'exhausted plane supply' error at plan build. */
  private[graft] def autoLshBits(n: Long, maxBits: Int = 24): Int = {
    require(maxBits >= 1, s"maxBits must be positive, got $maxBits")
    val needed = math.ceil(
      math.log(math.max(n, 1L).toDouble / 250.0) / math.log(2.0)).toInt
    math.min(maxBits, math.max(4, needed))
  }

  private def lshNearDupPairsFamily(vectors: DataFrame, idCol: String,
      vecCol: String, dim: Int, threshold: Double, bits: Int,
      maxBucket: Int, family: Int): DataFrame = {
    // norm projected ONCE per vector (bit-identical to the per-pair fold
    // it replaces — see [[cosineWithNorms]]) so the bucket join's
    // quadratic verify is one dot product per candidate; the bucket
    // repartition (as in [[graft.pipeline.Dedup.lshCandidatePairs]]) is
    // the one exchange every reader below shares, and nothing is cached
    val b = vectors.select(col(idCol), col(vecCol),
        lshBucket(col(vecCol), dim, bits, family).as("__bucket__"),
        norm(col(vecCol)).as("__n__"))
      .repartition(
        vectors.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
        col("__bucket__"))
    val verified = (pairs: DataFrame) => pairs
      .select(col("id_a"), col("id_b"),
        round(cosineWithNorms(col("va"), col("vb"),
          col("__na__"), col("__nb__")), 4).as("cos"))
      .filter(col("cos") >= threshold)
    def side(df: DataFrame, s: String) = df.select(col("__bucket__"),
      col(idCol).as(s"id_$s"), col(vecCol).as(s"v$s"),
      col("__n__").as(s"__n${s}__"))
    def selfJoin(df: DataFrame) = side(df, "a").join(side(df, "b"),
      Seq("__bucket__")).filter(col("id_a") < col("id_b"))
    if (maxBucket == Int.MaxValue) verified(selfJoin(b))
    else {
      // bucket size and hub as window aggregates, as in the capped arm of
      // lshCandidatePairs; an oversized bucket's hub (min id, so
      // id_a < id_b by construction) pairs with each other member
      val bw = org.apache.spark.sql.expressions.Window.partitionBy("__bucket__")
      val sized = b.withColumn("__m__", count(lit(1)).over(bw))
        .withColumn("__hub__", min(col(idCol)).over(bw))
      val big = sized.filter(col("__m__") > maxBucket)
      verified(selfJoin(sized.filter(col("__m__") <= maxBucket)).unionByName(
        side(big.filter(col(idCol) === col("__hub__")), "a").join(
          side(big.filter(col(idCol) =!= col("__hub__")), "b"), "__bucket__")))
    }
  }

  /** Symmetric int8 per-vector quantization (the standard storage/serving
    * compression for embedding tables): `scale = max(|x|)`, `q = round(x /
    * scale * 127)` ∈ [-127, 127]. Emits one scalar row per (id, dimension)
    * plus the per-vector scale, so dequantization is `q / 127 * scale`.
    * All-zero vectors quantize to 0 with scale 0. Pure per-row expressions
    * before one explode — no shuffle, embarrassingly parallel. Rounding is
    * half-away-from-zero in both Spark (BigDecimal HALF_UP) and DuckDB, so
    * the oracle reproduces boundary cases exactly. */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol),
        array_max(transform(col(vecCol), x => abs(x))).cast("double").as("__scale__"),
        posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select(col(idCol), col("pos").cast("long").as("pos"),
        when(col("__scale__") === 0, lit(0L))
          .otherwise(round(col("v").cast("double") / col("__scale__") * 127)
            .cast("long")).as("q"),
        round(col("__scale__"), 6).as("scale"))

  /** Int8 code array for a float vector — the packed-array form of
    * [[quantizeInt8]]'s per-row output (same `round(x / max|x| * 127)`
    * formula), emitted as `array<float>` so the native dot expression
    * applies directly. Codes are integers in [-127, 127]: exact in float. */
  def int8Codes(vec: Column): Column = {
    val scale = array_max(transform(vec, x => abs(x))).cast("double")
    when(scale === 0.0, transform(vec, _ => lit(0f)))
      .otherwise(transform(vec,
        x => round(x.cast("double") / scale * 127).cast("float")))
  }

  /** Exact-ranked top-k over the int8-QUANTIZED corpus — asymmetric
    * distance computation: float queries score against quantized corpus
    * codes. Cosine is invariant to the per-vector dequantization scale
    * (`dequant = codes · scale/127` and the scalar cancels in the ratio),
    * so the scan side needs ONLY the codes — a 4× smaller corpus table at
    * 100 TB, with the scales left in storage for reconstruction. Same
    * broadcast + rank plan as [[bruteForceTopK]]; zero-norm codes drop out
    * (null cosine) rather than ranking nondeterministically. */
  def quantizedTopK(vectors: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val scored = vectors
      .select(col(idCol).as("neighbor_id"), int8Codes(col(vecCol)).as("nc"))
      .join(q, col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("nc")), 6).as("qcos"))
      .filter(col("qcos").isNotNull)
    val w = Window.partitionBy("query_id")
      .orderBy(col("qcos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Product-quantization index (Jégou et al. 2011): the embedding splits
    * into `numSub` contiguous subvectors and each subspace gets its own
    * `codes`-entry k-means codebook (seeded, sample-bounded fit like
    * [[ivfIndex]]); a vector's code is its per-subspace nearest-codeword
    * index — `numSub` small ints replacing `numSub·subDim` floats (8 bytes
    * vs 256 for the default shape: a 32× corpus compression, the memory
    * path IVF's cell lists point into at 100 TB). Codebook entries are
    * float-rounded so encoding, scan and any external oracle see identical
    * values; assignment reuses [[ivfAssign]] (ties → lowest code).
    *
    * Returns the encoded frame (id, vec, code0..code{numSub-1}) and the
    * codebooks as `books(sub)(code)(component)`. */
  def pqIndex(vectors: DataFrame, idCol: String, vecCol: String,
      numSub: Int = 8, subDim: Int = 8, codes: Int = 16, seed: Long = 42L,
      maxTrainVectors: Long = 100000L)
      : (DataFrame, Array[Array[Array[Double]]]) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val n = vectors.count()
    val sampled =
      if (n <= maxTrainVectors) vectors
      else vectors.sample(withReplacement = false,
        maxTrainVectors.toDouble / n, seed)
    val books = (0 until numSub).map { m =>
      val train = sampled.select(array_to_vector(
        slice(col(vecCol), m * subDim + 1, subDim).cast("array<double>"))
        .as("features"))
      val model = new KMeans().setK(codes).setSeed(seed + m)
        .setFeaturesCol("features").fit(train)
      model.clusterCenters.map(_.toArray.map(_.toFloat.toDouble))
    }.toArray
    val encoded = vectors.select(
      col(idCol) +: col(vecCol) +: (0 until numSub).map { m =>
        ivfAssign(slice(col(vecCol), m * subDim + 1, subDim), books(m))
          .as(s"code$m")
      }: _*)
    (encoded, books)
  }

  /** The PQ reconstruction `v̂` — the per-subspace codewords concatenated
    * in subspace order as ONE `array<float>`. Scoring uses a single
    * left-to-right dot over the full reconstruction (not a sum of per-sub
    * partial dots): one accumulation order, reproduced exactly by an
    * oracle that flattens the codeword lists the same way. */
  def pqReconstruct(books: Array[Array[Array[Double]]]): Column =
    concat(books.indices.map { m =>
      element_at(typedLit(books(m).map(_.map(_.toFloat))), col(s"code$m") + 1)
    }: _*)

  /** ANN top-k over the PQ-encoded corpus — asymmetric distance: float
    * queries rank against code reconstructions, so the scan side carries
    * `numSub` bytes per vector and the codebooks ride along as literals
    * (broadcast-by-construction, `numSub·codes·subDim` floats). Same
    * contract/tiebreaks as [[bruteForceTopK]]; degenerate zero-norm
    * reconstructions drop (null cosine). */
  def pqTopK(encoded: DataFrame, queries: DataFrame,
      books: Array[Array[Array[Double]]], idCol: String, vecCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val scored = encoded
      .select(col(idCol).as("neighbor_id"), pqReconstruct(books).as("nv"))
      .join(q, col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("nv")), 6).as("pq_cos"))
      .filter(col("pq_cos").isNotNull)
    val w = Window.partitionBy("query_id")
      .orderBy(col("pq_cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Per-group mean embedding (class prototypes / cluster centroids —
    * the k-means update step and the standard corpus-curation primitive).
    *
    * Shape for 100 TB: posexplode then hash-aggregate on (group, position).
    * The explode looks like a dim× blowup but partial aggregation collapses
    * it map-side — each partition ships only |groups|·dim partial sums into
    * ONE shuffle, independent of row count. Means round to 4 decimals so the
    * result is independent of float summation order (and DuckDB-reproducible;
    * Spark's BigDecimal round never emits IEEE -0.0 — a cross-engine oracle
    * must normalize its own negative zeros, e.g. `round(m,4) + 0.0`).
    *
    * Output is one ROW per (group, dimension) — `(group, pos, m, n_vectors)`
    * with `pos` 0-based — not an array column: scalar rows join/compare
    * cleanly downstream, and re-packing to `array<double>` is a trivial
    * `collect_list` the caller can add when it actually wants a vector. */
  def centroids(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.select(col(groupCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col(groupCol), col("pos"))
      .agg(round(avg(col("v")), 4).as("m"), count(lit(1)).as("n_vectors"))
      .select(col(groupCol), col("pos").cast("long").as("pos"),
        col("m"), col("n_vectors"))
}
