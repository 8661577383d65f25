package graft.metric

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.storage._

object HistogramRollup {
  private val schema = StructType(Seq(
    StructField("metric_id", LongType, nullable = false),
    StructField("tsid", LongType, nullable = false),
    StructField("ts", LongType, nullable = false),
    StructField("bucket_schema", IntegerType),
    StructField("zero_threshold", DoubleType),
    StructField("custom_values", ArrayType(DoubleType)),
    StructField("f_zero", DoubleType), StructField("l_zero", DoubleType),
    StructField("i_zero", DoubleType),
    StructField("f_pos_idx", ArrayType(IntegerType)),
    StructField("f_pos_cnt", ArrayType(DoubleType)),
    StructField("l_pos_idx", ArrayType(IntegerType)),
    StructField("l_pos_cnt", ArrayType(DoubleType)),
    StructField("i_pos_idx", ArrayType(IntegerType)),
    StructField("i_pos_cnt", ArrayType(DoubleType)),
    StructField("f_neg_idx", ArrayType(IntegerType)),
    StructField("f_neg_cnt", ArrayType(DoubleType)),
    StructField("l_neg_idx", ArrayType(IntegerType)),
    StructField("l_neg_cnt", ArrayType(DoubleType)),
    StructField("i_neg_idx", ArrayType(IntegerType)),
    StructField("i_neg_cnt", ArrayType(DoubleType)),
    // round 14, appended LAST (legal widening for pre-existing rollup
    // roots): the stored top-level COUNT rides the grid as its own
    // first/last/within-increase partial triple, so the routed path
    // reports the same count-field increase as the raw path (NaN
    // observations live only in the count field). Legacy partials read
    // back null here and the query side falls back to bucket mass.
    StructField("f_count", DoubleType), StructField("l_count", DoubleType),
    StructField("i_count", DoubleType)))
}

/** Downsampled rollup over the engine's NATIVE HISTOGRAMS table — the
  * months-long-p99-dashboard path ([[Rollup]]'s counter partials, applied
  * bucket-wise): `histogram_quantile(q, sum by (...) (rate(m[30d])))` at
  * 15 s scrape resolution otherwise scans 172,800 histogram rows per
  * series; a 1 h grid scans 720 reconstructed partials.
  *
  * One rollup row per (metric_id, tsid, grid bucket) holding, per bucket
  * index, the round-11 sparse-increase partials:
  *  - `i_*` — the WITHIN-bucket reset-aware increase
  *    ([[NativeHistograms.increase]]'s exact arithmetic, confined to the
  *    grid bucket: the bucket's first sample is the local baseline),
  *  - `f_*` / `l_*` — the bucket's FIRST and LAST sample's sparse arrays
  *    (and zero counts), so query time reconstructs the cross-bucket
  *    boundary delta per index exactly like the scalar rollup does from
  *    `(prev.last, next.first)`:
  *      idx present at the next bucket's first sample →
  *        reset-aware delta vs `coalesce(prev.l[idx], 0)`
  *      idx absent at the first sample → 0 extra (its first in-bucket
  *        appearance already contributed its full count to `i_*`)
  *      series' first in-range bucket → 0 (the raw path's
  *        overall-first-sample rule).
  * Summing `i` + boundary per index over the range reproduces the raw
  * path's chained deltas exactly on grid-aligned windows. Mixed schemas
  * WITHIN one grid bucket downscale to the bucket's coarsest at refresh
  * ([[NativeHistograms.downscaleToCoarsest]]); a schema change ACROSS
  * buckets of one query window routes that window to raw at query time
  * ([[increaseFromGrid]] pre-probes and returns None — rare, and the raw
  * path converts exactly, so the fallback is invisible to the caller).
  *
  * Refresh is the shared [[RollupStore]] policy; [[roll]] only builds
  * the partials. A dirty range small enough for one partition refreshes
  * with no shuffle; a larger one shuffles on (series, bucket[, index]) —
  * uniform hash keys. Either way it is linear in PRESENT bucket entries,
  * never a dense ts×bucket fill. */
class HistogramRollup(engine: MetricEngine, gridMs: Long)
    extends RollupStore(engine.histograms, "hrollup", gridMs,
      HistogramRollup.schema) {
  import HistogramRollup.schema

  private val histCols = Seq("count", "sum", "bucket_schema",
    "zero_threshold", "zero_count", "pos_idx", "pos_cnt", "neg_idx",
    "neg_cnt", "custom_values")

  protected def roll(bucketed: DataFrame): DataFrame = {
    // synthetic per-(series, grid bucket) key: the round-11 increase
    // machinery then confines its delta chain to the bucket (its
    // "overall-first sample = 0" rule becomes our first-of-bucket rule)
    // and downscales mixed schemas to the bucket's coarsest
    val base = bucketed
      .withColumn("__sk__", concat_ws(":",
        col("metric_id"), col("tsid"), col("__bucket__")))
    val conv = NativeHistograms.downscaleToCoarsest(base, Seq("__sk__"))
    val incs = NativeHistograms.increase(
      conv.select(col("__sk__").as("series_key") +:
        col("ts").as("ts_ms") +: histCols.map(col): _*))
      .select(col("series_key").as("__sk__"),
        col("bucket_schema"), col("zero_threshold"), col("custom_values"),
        col("zero_count").as("i_zero"), col("count").as("i_count"),
        col("pos_idx").as("i_pos_idx"), col("pos_cnt").as("i_pos_cnt"),
        col("neg_idx").as("i_neg_idx"), col("neg_cnt").as("i_neg_cnt"))
    val edge = struct(col("zero_count"), col("count"), col("pos_idx"),
      col("pos_cnt"), col("neg_idx"), col("neg_cnt"))
    val fl = conv
      .groupBy(col("metric_id"), col("tsid"), col("__bucket__"))
      .agg(min_by(edge, col("ts")).as("__f__"),
        max_by(edge, col("ts")).as("__l__"))
      .withColumn("__sk__", concat_ws(":",
        col("metric_id"), col("tsid"), col("__bucket__")))
    fl.join(incs, Seq("__sk__"))
      .select(col("metric_id"), col("tsid"), col("__bucket__").as("ts"),
        col("bucket_schema"), col("zero_threshold"), col("custom_values"),
        col("__f__.zero_count").as("f_zero"),
        col("__l__.zero_count").as("l_zero"), col("i_zero"),
        col("__f__.count").as("f_count"),
        col("__l__.count").as("l_count"), col("i_count"),
        col("__f__.pos_idx").as("f_pos_idx"),
        col("__f__.pos_cnt").as("f_pos_cnt"),
        col("__l__.pos_idx").as("l_pos_idx"),
        col("__l__.pos_cnt").as("l_pos_cnt"),
        col("i_pos_idx"), col("i_pos_cnt"),
        col("__f__.neg_idx").as("f_neg_idx"),
        col("__f__.neg_cnt").as("f_neg_cnt"),
        col("__l__.neg_idx").as("l_neg_idx"),
        col("__l__.neg_cnt").as("l_neg_cnt"),
        col("i_neg_idx"), col("i_neg_cnt"))
  }

  /** Whole-window bucket-wise increase over `range` (grid-aligned,
    * half-open) reconstructed from the partials, restricted to the series
    * matching `matchers` — the rollup twin of
    * `NativeHistograms.increase(scanMatchedHistograms(...))`, returning
    * the identical shape (series_key, ts_ms, bucket_schema,
    * zero_threshold, custom_values, zero_count, pos/neg arrays, count) so
    * quantile / sum-by / label decoration run unchanged downstream.
    *
    * Dialect note: the raw instant path evaluates `(T-w, T]`; the grid
    * covers `[T-w, T)`. The two differ only for samples exactly ON a
    * window endpoint — inherent to any grid downsampling (Thanos's
    * downsampled blocks share it). */
  private[metric] def increaseFromGrid(
      matchers: Seq[graft.promql.LabelMatcher],
      range: TimeRange): Option[DataFrame] =
    increaseFromGridImpl(matchers, range, bucketMs = None)

  /** Per-TIME-BUCKET increase rows — the RANGE-query twin of
    * `NativeHistograms.increase(rows, bucketMs = Some(w))`, answered from
    * the grid partials: output one histogram row per (series_key,
    * bucket_ms) on the tumbling `bucketMs` grid (which must be a multiple
    * of `gridMs` — whole rollup buckets roll up into each output bucket),
    * arrays holding the bucket's within-bucket increases plus boundary
    * deltas, each boundary attributed to the LATER bucket exactly like
    * the raw path's later-sample rule. A bucket holding only the series'
    * first in-range data rebuilds all-zero (count 0 → quantile NaN →
    * range callers drop it, the "rate needs two samples" rule). */
  private[metric] def increaseFromGridBucketed(
      matchers: Seq[graft.promql.LabelMatcher],
      range: TimeRange, bucketMs: Long): Option[DataFrame] = {
    require(bucketMs % gridMs == 0,
      s"bucketMs ($bucketMs) must be a multiple of the grid ($gridMs)")
    increaseFromGridImpl(matchers, range, bucketMs = Some(bucketMs))
  }

  /** None = this window cannot (or need not) answer from the grid — no
    * matching partials, OR some series changed bucket schema / NHCB
    * bounds ACROSS grid buckets inside the window. Callers fall through
    * to the raw histograms path, which downscales mixed schemas exactly
    * ([[NativeHistograms.downscaleToCoarsest]]) — a scrape-config change
    * must degrade a routed dashboard query to the (exact) raw plan, never
    * to a user-facing error. The probe is ONE aggregate job over the
    * already-pruned partials (per-series distinct-schema counts), the
    * same cost tier as the emptiness probe it replaces. */
  private def increaseFromGridImpl(
      matchers: Seq[graft.promql.LabelMatcher],
      range: TimeRange, bucketMs: Option[Long]): Option[DataFrame] = {
    import graft.promql._
    // exact metric names only: a name regex answers from the raw path
    if (!matchers.exists {
        case LabelMatcher("__name__", MatchOp.Eq, v) => v.nonEmpty
        case _ => false
      }) return None
    // (the pruned partials subtree is referenced by the probe, the
    // entries explode, the meta aggregate and the per-bucket distinct —
    // kept lazy rather than localCheckpoint()ed so the routed plan stays
    // inspectable end to end (RollupSpec pins that it reads the rollup
    // store); the round-15 single-pass restructure below already cut the
    // subtree fan-out from ~15 references to 3)
    val rows = engine.matchedSeriesScan(matchers, store, range,
      (col("tsid") +: schema.fieldNames.toSeq.filter(_ != "tsid").map(col)) :+
        col("series_key"),
      StructType(schema.fields.toSeq :+ StructField("series_key", StringType)))

    // ONE probe job (replacing the callers' old emptiness probe): any
    // partials at all, and per series ONE schema + ONE NHCB bound set
    // across the window's grid buckets — otherwise route to raw, which
    // downscales the mix exactly
    val probe = rows.groupBy(col("series_key")).agg(
        collect_set(col("bucket_schema")).as("__ss__"),
        collect_set(col("custom_values")).as("__cs__"))
      .agg(count(lit(1)).as("n"),
        max(size(col("__ss__"))).as("ms"),
        max(size(col("__cs__"))).as("mc"))
      .collect()(0)
    if (probe.getLong(0) == 0L || probe.getInt(1) > 1 || probe.getInt(2) > 1)
      return None

    // per-series meta: the probe guaranteed uniformity; the CASE arms
    // below are a belt-and-suspenders invariant check, no longer a
    // user-reachable failure mode
    val meta = rows.groupBy(col("series_key")).agg(
      max(col("ts")).as("ts_ms"),
      collect_set(col("bucket_schema")).as("__schemas__"),
      max(col("zero_threshold")).as("zero_threshold"),
      collect_set(col("custom_values")).as("__cvs__"))
      .withColumn("bucket_schema", expr(
        "CASE WHEN size(__schemas__) = 1 THEN element_at(__schemas__, 1) " +
          "ELSE CAST(raise_error('schema changed across rollup buckets in " +
          "the window — query the raw histograms table') AS INT) END"))
      .withColumn("custom_values", expr(
        "CASE WHEN size(__cvs__) = 0 THEN CAST(array() AS ARRAY<DOUBLE>) " +
          "WHEN size(__cvs__) = 1 THEN element_at(__cvs__, 1) " +
          "ELSE CAST(raise_error('NHCB bounds changed across rollup " +
          "buckets in the window') AS ARRAY<DOUBLE>) END"))
      .drop("__schemas__", "__cvs__")

    // flatten the zero/count/pos/neg partial sets into (series, bucket,
    // kind, idx, f, l, i) entries in ONE explode pass (f/l null when the
    // index was absent from the bucket's first/last sample) — the old
    // four-arm union re-read the partials frame once per arm. The count
    // field rides the same boundary-chaining as any bucket (kind 2 —
    // assembleHistograms picks it up as the output count); LEGACY
    // partials (pre-count columns) carry all-null f/l/i — the filter()
    // drops their kind-2 struct so the assembly falls back to bucket
    // mass instead of reporting a zero count.
    def armExpr(p: String) =
      s"""transform(
         |  array_sort(array_union(array_union(f_${p}_idx, l_${p}_idx),
         |    i_${p}_idx)),
         |  k -> named_struct('kind', ${if (p == "pos") 1 else -1}, 'idx', k,
         |    'f', try_element_at(map_from_arrays(f_${p}_idx, f_${p}_cnt), k),
         |    'l', try_element_at(map_from_arrays(l_${p}_idx, l_${p}_cnt), k),
         |    'i', try_element_at(map_from_arrays(i_${p}_idx, i_${p}_cnt), k)))"""
        .stripMargin
    val entries = rows.select(col("series_key"), col("ts"),
      explode(expr(
        s"""concat(
           |  array(named_struct('kind', 0, 'idx', 0,
           |    'f', f_zero, 'l', l_zero, 'i', i_zero)),
           |  filter(array(named_struct('kind', 2, 'idx', 0,
           |    'f', f_count, 'l', l_count, 'i', i_count)),
           |    x -> x.f IS NOT NULL OR x.l IS NOT NULL OR x.i IS NOT NULL),
           |  ${armExpr("pos")},
           |  ${armExpr("neg")})""".stripMargin)).as("e"))
      .select(col("series_key"), col("ts"), col("e.kind").as("kind"),
        col("e.idx").as("idx"), col("e.f").as("f"), col("e.l").as("l"),
        col("e.i").as("i"))

    // boundary delta per (series, kind, idx, bucket): reset-aware against
    // the series' previous IN-RANGE bucket's last sample (absent there →
    // rise from 0); the series' first in-range bucket contributes 0.
    // Both helpers are windows over the SAME series_key partitioning
    // (the old shape joined a distinct+lag bucket frame AND a shifted
    // copy of entries back in): the previous in-range bucket time is the
    // max ts strictly below the current one, and the previous bucket's
    // last-sample value for this (kind, idx) comes from one total order
    // (kind, idx, ts) with the lagged row guarded to the same (kind,
    // idx) AND to the immediately-previous bucket.
    val wPrevTs = org.apache.spark.sql.expressions.Window
      .partitionBy(col("series_key")).orderBy(col("ts"))
      .rangeBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val wLag = org.apache.spark.sql.expressions.Window
      .partitionBy(col("series_key")).orderBy(col("kind"), col("idx"), col("ts"))
    val sameBucket = lag(col("kind"), 1).over(wLag) === col("kind") &&
      lag(col("idx"), 1).over(wLag) === col("idx")
    val cur = entries
      .withColumn("__prev_ts__", max(col("ts")).over(wPrevTs))
      .withColumn("__l_prev__",
        when(sameBucket && lag(col("ts"), 1).over(wLag) === col("__prev_ts__"),
          lag(col("l"), 1).over(wLag)))
    val pl = coalesce(col("__l_prev__"), lit(0.0))
    val boundary = when(col("__prev_ts__").isNull || col("f").isNull, 0.0)
      .otherwise(when(col("f") >= pl, col("f") - pl).otherwise(col("f")))
    val withInc = cur.withColumn("inc", coalesce(col("i"), lit(0.0)) + boundary)
    Some(bucketMs match {
      case Some(w) =>
        // one output histogram per (series, w-bucket): grid buckets map
        // to their containing tumbling bucket; boundaries between grid
        // buckets inside one w-bucket merge, boundaries across a w-edge
        // land in the later w-bucket (the raw later-sample attribution)
        val outBucket =
          (floor(col("ts") / lit(w)).cast("long") * w).as("bucket_ms")
        val incs = withInc
          .groupBy(col("series_key"), outBucket, col("kind"), col("idx"))
          .agg(sum(col("inc")).as("inc"))
        // per-bucket meta carries the series' (validated-uniform) schema;
        // ts_ms = the bucket time (informational — range callers project
        // bucket_ms, never ts_ms)
        val metaB = rows
          .select(col("series_key"), outBucket).distinct()
          .join(meta.drop("ts_ms"), Seq("series_key"))
          .withColumn("ts_ms", col("bucket_ms"))
        NativeHistograms.assembleHistograms(incs, metaB,
          Seq("series_key", "bucket_ms"))
      case None =>
        val incs = withInc
          .groupBy(col("series_key"), col("kind"), col("idx"))
          .agg(sum(col("inc")).as("inc"))
        NativeHistograms.assembleHistograms(incs, meta, Seq("series_key"))
    })
  }
}
