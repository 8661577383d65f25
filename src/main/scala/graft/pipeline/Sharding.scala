package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shard assembly for training-data pipelines: global prefix sums, token-
  * budget packing, and deterministic hash splits.
  *
  * The prefix sum is the scale-critical piece. The naive form — a window
  * over a global `ORDER BY` with no partition key — collapses the whole
  * dataset into ONE task (Spark warns `No Partition Defined for Window`;
  * at 100 TB that's one executor sorting everything). This implementation
  * is the classic two-phase scan: range-partition by the order key, local
  * cumsum per partition, then add each partition's broadcast prefix
  * offset — every stage stays fully parallel and the only driver-side
  * state is one row per partition.
  */
object Sharding {

  /** `df` plus `outCol` = running total of integer `value` (nulls count 0)
    * over the global `orderCols` order, inclusive of the current row.
    *
    * `orderCols` must be a total order (add a unique tiebreak if the
    * leading key can repeat) — with ties the per-row cumsum would be
    * partitioner-dependent.
    */
  def withRunningTotal(df: DataFrame, orderCols: Seq[Column], value: Column,
      outCol: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val valCol = "__graft_val__"
    // the injected column must be NEW: withColumn REPLACES an existing
    // column in place, and the row builder below assumes the value sits
    // LAST — a caller frame already carrying this name would silently
    // shift every column label after the replaced position
    require(!df.columns.contains(valCol),
      s"input already carries the internal column $valCol — rename it")
    val safeValue = coalesce(value.cast("long"), lit(0L))
    // ONE exchange total: range partitioning gives globally ordered
    // partitions (equal keys land together), the local sort is bounded per
    // task, and the cached frame feeds both passes without recompute.
    val parted = df.withColumn(valCol, safeValue)
      .repartitionByRange(orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val vIdx = parted.schema.fieldIndex(valCol)
      // Both passes use RDD mapPartitionsWithIndex, NOT TaskContext/
      // spark_partition_id(): those report the *task's* partition id, which
      // diverges from the parent split under any downstream narrow merge — a
      // plain `.coalesce(1)` silently re-seeds every partition with the wrong
      // offset. The split index bound here is the true range-partition rank
      // no matter how the plan above is rearranged.
      // Pass 1 — per-partition totals: one (pid, sum) pair per partition, so
      // the driver holds O(partitions) state and its prefix scan is trivial.
      val totals = parted.rdd
        .mapPartitionsWithIndex { (idx, iter) =>
          var t = 0L
          iter.foreach(r => t += r.getLong(vIdx))
          Iterator(idx -> t)
        }
        .collect().toMap
      val pids = totals.keys.toSeq.sorted
      val offsets = pids.zip(pids.scanLeft(0L)((acc, p) => acc + totals(p))).toMap
      // Pass 2 — sequential accumulation inside each already-sorted cached
      // partition, seeded with the partition's prefix offset. A prefix sum is
      // inherently serial per partition, which is exactly mapPartitions'
      // legitimate use: the Window alternative (partitionBy(pid) over the
      // same data) plans a SECOND full-data exchange just to re-cluster rows
      // that are already clustered.
      val outSchema = StructType(parted.schema.fields.dropRight(1) :+
        StructField(outCol, LongType, nullable = false))
      val out = parted.rdd.mapPartitionsWithIndex { (idx, iter) =>
        var acc = offsets.getOrElse(idx, 0L)
        iter.map { r =>
          acc += r.getLong(vIdx)
          Row.fromSeq(r.toSeq.patch(vIdx, Nil, 1) :+ acc)
        }
      }
      // Materialize the result eagerly so the input cache (same size) is
      // released NOW, also when a pass throws; the result's blocks free with
      // the returned frame. On a cluster job, prefer writing the result to a
      // table over caching either.
      df.sparkSession.createDataFrame(out, outSchema).localCheckpoint()
    } finally parted.unpersist()
  }

  /** Pack documents into shards of ~`tokenBudget` tokens, filling shards in
    * `orderCols` order: a document goes to shard
    * `floor(tokens_before_it / budget)` — shards fill to the watermark and
    * the crossing document spills into its shard (never splits).
    *
    * Output: `df` + `n_tokens` + `shard` (0-based, monotone in the pack
    * order; a single document spanning k budgets advances the index by k,
    * so ids can skip — treat them as ordered labels, not array offsets). */
  def packByTokenBudget(df: DataFrame, textCol: String, tokenBudget: Long,
      orderCols: Seq[Column]): DataFrame = {
    require(tokenBudget > 0, "tokenBudget must be positive")
    require(!df.columns.contains("n_tokens") && !df.columns.contains("shard"),
      "input already carries n_tokens/shard — withColumn would silently " +
        "REPLACE the caller's column; rename it first")
    val withTokens = df.withColumn("n_tokens",
      TextAnalysis.tokenCount(col(textCol)).cast("long"))
    withRunningTotal(withTokens, orderCols, col("n_tokens"), "__cum__")
      .withColumn("shard",
        floor((col("__cum__") - col("n_tokens")) / lit(tokenBudget)).cast("long"))
      .drop("__cum__")
  }

  /** Deterministic, rerun-stable train/val split on a portable content hash:
    * md5 of the id, first hex digit < 'd' → "train" (13/16 ≈ 81%). Engine-
    * independent (any system computing md5 agrees), skew-free (md5 is
    * uniform), and stable under re-partitioning and re-runs — the property
    * a 100 TB pipeline needs so a document never migrates between splits. */
  def hashSplit(id: Column): Column =
    when(substring(md5(id.cast("string")), 1, 1)
        .isin("0", "1", "2", "3", "4", "5", "6", "7", "8", "9", "a", "b", "c"),
      lit("train")).otherwise(lit("val"))

  /** Deterministic hash sampling at 1/65536 granularity: keep a row when
    * the first 4 hex digits of md5(id) fall below `floor(fraction·65536)`.
    * Lowercase fixed-width hex compares lexicographically == numerically,
    * so the predicate is a plain string comparison any engine reproduces
    * bit-identically. Pure filter: pushes to the scan, no shuffle, stable
    * under re-runs and re-partitioning (the sampling property a 100 TB
    * pipeline needs — a row never flickers in/out between runs). */
  def hashSample(id: Column, fraction: Double): Column = {
    require(fraction >= 0 && fraction <= 1, s"fraction must be in [0,1], got $fraction")
    val thrN = math.floor(fraction * 65536).toLong
    // Boundary cases: fraction 1.0 would format as the 5-char "10000", which
    // compares lexicographically BELOW most 4-char prefixes and silently
    // drops ~94% of rows; fraction 0 formats as "0000" which no prefix is <.
    if (thrN >= 65536) lit(true)
    else if (thrN <= 0) lit(false)
    else substring(md5(id.cast("string")), 1, 4) < lit(f"$thrN%04x")
  }

  /** Deterministic seeded corpus shuffle: assign every row a global
    * training-order position 0..n-1 by ranking on `md5(id || seed)` — the
    * "shuffle the corpus before sharding" step of a training pipeline,
    * made rerun-stable (same seed ⇒ same order on any engine) and
    * re-seedable per epoch (a new seed is a fresh permutation, no state
    * to carry). md5 is uniform and uncorrelated with the data, so the
    * order is statistically a uniform random permutation.
    *
    * Scale shape: rank-by-key via [[withRunningTotal]] with value 1 — one
    * range exchange, per-partition local sort, O(partitions) driver state.
    * The naive `row_number() OVER (ORDER BY ...)` form is the single-task
    * global-sort anti-pattern this module exists to avoid. */
  def shufflePositions(df: DataFrame, idCol: String, seed: String): DataFrame = {
    val keyCol = "__graft_shuf__"
    require(!df.columns.contains(keyCol),
      s"input already carries the internal column $keyCol — rename it")
    withRunningTotal(
      df.withColumn(keyCol, md5(concat(col(idCol).cast("string"), lit(seed)))),
      Seq(col(keyCol), col(idCol)), lit(1L), "__pos1__")
      .withColumn("position", col("__pos1__") - 1)
      .drop(keyCol, "__pos1__")
  }

  /** Per-stratum quota sample: the `k` rows of each stratum with the
    * smallest md5(id) — a deterministic, engine-portable "random" pick
    * (md5 order is uniform and uncorrelated with the data). One shuffle on
    * the stratum key; the per-stratum top-k is a window head, so memory is
    * O(k) per group with no global sort. */
  def stratifiedSample(df: DataFrame, stratumCols: Seq[String], idCol: String,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratumCols.map(col): _*)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("__rk__", row_number().over(w))
      .filter(col("__rk__") <= k).drop("__rk__")
  }

  /** Deterministic interleaved training schedule from temperature mixture
    * weights (the epoch plan a [[temperatureWeights]] recipe turns into):
    * each group's documents are ordered by a seeded md5 shuffle, the r-th
    * document of group g gets schedule key (r + 0.5) / w_g — the classic
    * weighted-fair-queueing virtual time, so groups interleave with density
    * proportional to their weight (a weight-0.3 group owns ~30% of any
    * schedule prefix) — and the global rank over the key is the training
    * position. Fully deterministic and rerun-stable: same seed, same
    * schedule, any partitioning.
    *
    * Scale shape: one broadcast of the groups-frame weights, one shuffle
    * for the per-group rank window, then the global rank reuses
    * [[withRunningTotal]]'s two-phase range-partitioned prefix sum — never
    * a single-partition window. */
  def mixtureSchedule(df: DataFrame, groupCol: String, idCol: String,
      alpha: Double = 0.5, seed: String = "epoch0"): DataFrame = {
    val w = temperatureWeights(df, groupCol, alpha)
      .select(col(groupCol), col("weight"))
    val rw = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol)
      .orderBy(md5(concat(col(idCol).cast("string"), lit(seed))), col(idCol))
    val keyed = df.select(col(idCol), col(groupCol))
      .join(broadcast(w), groupCol)
      .withColumn("__vt__",
        (row_number().over(rw).cast("double") - 0.5) / col("weight"))
    withRunningTotal(keyed,
      Seq(col("__vt__"), col(groupCol), col(idCol)), lit(1L), "__p1__")
      .select(col(idCol), col(groupCol), (col("__p1__") - 1).as("sched_pos"))
  }

  /** Temperature-scaled mixture weights over a grouping column (the
    * multilingual/multi-domain sampling recipe of mT5/XLM-R: a group with
    * corpus share p gets training share p^α / Σ p^α, α<1 flattening the
    * head so low-resource groups are not drowned; α=1 is natural sampling,
    * α=0 uniform). Output one row per group: its document count, natural
    * share, temperature weight, the boost ratio a sampler applies
    * (weight/share — >1 means upsample), and the expected documents drawn
    * per epoch of `n` total.
    *
    * Scale shape: one map-side-combinable count per group, then all
    * arithmetic on the GROUPS frame (≤ cardinality of the mixture key —
    * tens of rows); the Σ p^α normalizer is a single-row cross join, never
    * a corpus-sized window. Joining the weights back per-document for the
    * actual draw is a broadcast join against this frame. */
  def temperatureWeights(df: DataFrame, groupCol: String,
      alpha: Double = 0.5): DataFrame = {
    val counts = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(sum("n_docs").as("__n__"),
      sum(pow(col("n_docs"), lit(alpha))).as("__z__"))
    counts.crossJoin(broadcast(tot))
      .select(col(groupCol), col("n_docs"),
        round(col("n_docs") / col("__n__"), 6).as("share"),
        round(pow(col("n_docs"), lit(alpha)) / col("__z__"), 6).as("weight"),
        round(pow(col("n_docs"), lit(alpha)) / col("__z__") /
          (col("n_docs") / col("__n__")), 4).as("boost"),
        round(pow(col("n_docs"), lit(alpha)) / col("__z__") * col("__n__"), 2)
          .as("expected_docs"))
  }

  /** Deterministic weighted sample WITHOUT replacement (Efraimidis &
    * Spirakis 2006, "Weighted random sampling with a reservoir"): each row
    * draws a seeded md5-uniform u ∈ (0,1) and the k smallest exponential
    * keys `-ln(u)/w` are EXACTLY a weight-proportional sample without
    * replacement — the one-pass, collusion-free way to take "10k docs,
    * length-weighted" from a corpus. Deterministic and rerun-stable on the
    * SAME engine: u is bit-identical md5-derived (52 bits), so same seed ⇒
    * same sample across reruns, partitionings, and cluster sizes. Caveat
    * for cross-ENGINE replay: the key `-ln(u)/w` goes through the
    * platform's log, which is only correctly-rounded to ~1 ulp (JVM
    * Math.log vs libm may differ in the last bit), so two engines can in
    * principle disagree on rank exactly at the k-th boundary; the (key,
    * id) tiebreak bounds the blast radius to boundary ties. A new seed is
    * a fresh draw. Non-positive weights are excluded (their key would be
    * undefined — matching the paper's w > 0 domain).
    *
    * Scale shape: the key is a pure codegen'd column expression and the
    * k-smallest is a TakeOrderedAndProject (per-partition heads + one
    * k-row driver heap) — no global sort, no shuffle of non-winners. */
  def weightedSample(df: DataFrame, idCol: String, weight: Column, k: Int,
      seed: String): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val u = (conv(substring(md5(concat(col(idCol).cast("string"), lit(seed))),
      1, 13), 16, 10).cast("double") + lit(0.5)) / lit(4503599627370496.0)
    df.filter(weight > 0)
      .withColumn("__aes__", -log(u) / weight.cast("double"))
      .orderBy(col("__aes__"), col(idCol))
      .limit(k)
      .drop("__aes__")
  }
}
