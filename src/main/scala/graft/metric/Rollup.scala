package graft.metric

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftSession.maybeBroadcast
import graft.storage._

/** Downsampled rollup table over the engine's data table — the 100 TB
  * dashboard path (the shape Thanos/Cortex/M3 downsampling and the
  * reference RFC's PromQL pushdown aggregations exist for: a 30-day
  * dashboard at 15 s raw resolution scans 172,800 samples per series;
  * the 1 h rollup scans 720).
  *
  * One rollup row per (metric_id, tsid, grid bucket) holding the five
  * COMBINABLE partials `(cnt, sum, min, max, last)` — so any coarser
  * step re-aggregates exactly (sum-of-sums, min-of-mins, …) and `avg`
  * stays exact as `sum(sum)/sum(cnt)`, never an average of averages.
  * `last` carries the bucket's newest value (storage merge order) for
  * gauge-style "current value per hour" reads.
  *
  * Refresh — incremental per dirty segment off the data manifest, one
  * Spark job per tick, persisted watermark, freshness gate — is the
  * shared [[RollupStore]] policy; [[roll]] only builds the partials. A
  * dirty range small enough for one partition merges, windows and
  * aggregates in that partition with no shuffle; a larger one shuffles
  * on (tsid, bucket) — the same uniform keys as every engine
  * aggregation. Queries prune rollup SSTs by time range exactly like raw
  * scans, then aggregate ~grid/interval× fewer rows. */
object Rollup {
  final case class RefreshStats(segmentsRolled: Int, maxSstId: Long)

  private val schema = StructType(Seq(
    StructField("metric_id", LongType, nullable = false),
    StructField("tsid", LongType, nullable = false),
    StructField("ts", LongType, nullable = false),
    StructField("cnt", LongType, nullable = true),
    StructField("sum", DoubleType, nullable = true),
    StructField("min", DoubleType, nullable = true),
    StructField("max", DoubleType, nullable = true),
    StructField("last", DoubleType, nullable = true),
    // counter partials (Thanos-downsampling shape): bucket-edge samples
    // plus the reset-aware increase WITHIN the bucket, so rate/increase
    // re-aggregates exactly — cross-bucket deltas are reconstructed at
    // query time from (prev.last, next.first)
    StructField("first", DoubleType, nullable = true),
    StructField("sumsq", DoubleType, nullable = true),
    StructField("inc", DoubleType, nullable = true)))
}

final class Rollup(engine: MetricEngine, gridMs: Long)
    extends RollupStore(engine.data, "rollup", gridMs, Rollup.schema) {

  protected def roll(bucketed: DataFrame): DataFrame =
    // within-bucket reset-aware delta (first sample of the bucket = 0);
    // the window partitions on the SAME keys as the groupBy below, so
    // Catalyst plans one exchange for both
    bucketed
      .withColumn("__delta__", graft.functions.Rate.resetAwareDelta(
        col("value"),
        Seq(col("metric_id"), col("tsid"), col("__bucket__")),
        Seq(col("ts"))))
      .groupBy(col("metric_id"), col("tsid"), col("__bucket__"))
      .agg(count(lit(1)).cast("long").as("cnt"),
        sum(col("value")).as("sum"),
        min(col("value")).as("min"),
        max(col("value")).as("max"),
        // newest by raw timestamp; storage merge already collapsed
        // same-ms duplicates to the newest SST's value
        max_by(col("value"), col("ts")).as("last"),
        min_by(col("value"), col("ts")).as("first"),
        sum(col("value") * col("value")).as("sumsq"),
        sum(col("__delta__")).as("inc"))
      .withColumnRenamed("__bucket__", "ts")

  /** [[MetricEngine.query]] answered from the rollup: exact for the
    * combinable aggregations (`sum/count/min/max/avg`) at any step that
    * is a multiple of the grid, for `sum(rate/increase)` (the counter
    * partials carry each bucket's reset-aware internal increase plus its
    * edge samples, so cross-bucket deltas reconstruct from
    * `(prev.last, next.first)` — the exact arithmetic of the raw path's
    * lag-based delta, on grid/interval× fewer rows), and for
    * stddev/stdvar from the sum-of-squares partial (explicit callers
    * only — the two-pass raw form is more numerically stable, so
    * transparent routing leaves them on raw). Output shape matches the
    * engine's (tag?, bucket_ms?, value). `group` is rejected — trivial
    * on raw.
    *
    * UNALIGNED range bounds — every real dashboard query; Grafana sends
    * `now` as the end and the HTTP layer adds +1 ms for end-inclusivity
    * — stay EXACT via the degenerate-partial hybrid (the Thanos/M3
    * edge-split, made lossless): raw samples in the ≤2 sub-grid edge
    * slivers enter the SAME aggregation as the rollup rows, each as a
    * single-sample partial `(cnt=1, sum=min=max=last=first=v, sumsq=v²,
    * inc=0)` with its own timestamp. Every partial combines per step
    * bucket (grid divides step, so no partial straddles a step bucket),
    * and the rate window chains sample-rows and bucket-rows in time
    * order, reproducing the raw lag deltas across the splice points.
    * Edge scans are manifest-pruned to <2 grid buckets of raw data. */
  def query(q: MetricQuery): DataFrame =
    query(q, None, q.groupByTag.toSeq)

  /** [[query]] with an optionally pre-resolved TSID frame (the engine's
    * fast path resolves index-exact regex matchers itself; `q.labelFilters`
    * is ignored when `tsidsOverride` is given) and an explicit grouping
    * label list (the fast path groups by any number of labels;
    * `q.groupByTag` carries at most one). */
  private[metric] def query(q: MetricQuery,
      tsidsOverride: Option[DataFrame], tags: Seq[String]): DataFrame = {
    val stepMs = q.stepMs.getOrElse(
      // unstepped = one bucket over the whole range
      Long.MaxValue)
    if (stepMs != Long.MaxValue)
      require(stepMs % gridMs == 0,
        s"step ($stepMs) must be a multiple of the rollup grid ($gridMs)")
    if (q.rate) require(q.agg == MetricAgg.Sum,
      s"rate is answerable from partials only under sum, got ${q.agg}")
    else require(Set[MetricAgg](MetricAgg.Sum, MetricAgg.Count, MetricAgg.Min,
        MetricAgg.Max, MetricAgg.Avg, MetricAgg.Stddev, MetricAgg.Stdvar)
        .contains(q.agg),
      s"${q.agg} is not answerable from (cnt,sum,min,max,last,first,sumsq," +
        "inc) partials — query the raw table")
    val (qs, qe) = (q.range.start, q.range.end)
    // MetricEngine.rollupRouted checks the same guard and falls back to raw
    require(RollupStore.boundsOk(q.range, 1L),
      s"range bounds too extreme for grid alignment: [$qs, $qe)")
    val mid = engine.metricIdOf(q.metric).getOrElse(
      return store.spark.createDataFrame(
        store.spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(
          tags.distinct.map(t => StructField(t, StringType)) ++
            q.stepMs.map(_ => StructField("bucket_ms", LongType)).toSeq :+
            StructField("value", DoubleType))))
    val tsids = tsidsOverride.getOrElse(engine.lookupTsids(mid, q.labelFilters))
    // grid-aligned interior answered by rollup buckets; sub-grid edge
    // slivers answered by degenerate single-sample partials from raw
    val lo = if (qs == Long.MinValue) qs
      else Math.floorDiv(qs + gridMs - 1, gridMs) * gridMs
    val hi = if (qe == Long.MaxValue) qe
      else Math.floorDiv(qe, gridMs) * gridMs
    val interior = if (lo < hi) Some((lo, hi)) else None
    val edgeRanges = interior match {
      case Some((l, h)) => Seq((qs, l), (h, qe)).filter { case (a, b) => a < b }
      case None => Seq((qs, qe)) // no full grid bucket: all raw
    }
    // project the scan to the partials THIS aggregation consumes — the
    // merge exec materializes whatever the scan requests, so an explicit
    // projection is what keeps a sum query from paying for all 8 partial
    // columns at 100 TB (PlanSpec asserts the pruned ReadSchema)
    val partialCols: Seq[String] =
      if (q.rate) Seq("first", "last", "inc")
      else q.agg match {
        case MetricAgg.Sum => Seq("sum")
        case MetricAgg.Count => Seq("cnt")
        case MetricAgg.Min => Seq("min")
        case MetricAgg.Max => Seq("max")
        case MetricAgg.Avg => Seq("sum", "cnt")
        case _ => Seq("cnt", "sum", "sumsq") // stddev/stdvar
      }
    val proj = Seq("metric_id", "tsid", "ts") ++ partialCols
    def degenerate(name: String): Column = name match {
      case "cnt" => lit(1L).as("cnt")
      case "sumsq" => (col("value") * col("value")).as("sumsq")
      case "inc" => lit(0.0).as("inc")
      case other => col("value").as(other) // sum/min/max/last/first = v
    }
    val rollupPart = interior.map { case (l, h) =>
      store.scan(ScanRequest(range = TimeRange(l, h),
        predicates = Seq(col("metric_id") === mid),
        projection = Some(proj)))
    }
    val edgeParts = edgeRanges.map { case (a, b) =>
      engine.data.scan(ScanRequest(range = TimeRange(a, b),
          predicates = Seq(col("metric_id") === mid)))
        .select(col("metric_id") +: col("tsid") +: col("ts") +:
          partialCols.map(degenerate): _*)
    }
    // size-gated broadcast, same guard as the raw path: the routed fast
    // path can hand this a metric's FULL TSID set (no matchers, or a
    // low-selectivity regex), which an unconditional hint would collect
    // onto the driver — exactly the OOM maybeBroadcast exists to prevent
    var rows = (rollupPart.toSeq ++ edgeParts).reduce(_.unionByName(_))
      .join(maybeBroadcast(tsids), Seq("tsid"), "left_semi")
    if (q.rate) {
      // per-bucket increase = internal inc + reset-aware boundary delta
      // from the previous IN-RANGE bucket (the range's first bucket gets
      // 0, exactly like the raw path's first-sample-in-range delta);
      // the lag partitions on tsid like the raw path's resetAwareDelta
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("tsid")).orderBy(col("ts"))
      val prevLast = lag(col("last"), 1).over(w)
      val boundary = when(prevLast.isNull, lit(0.0))
        .when(col("first") >= prevLast, col("first") - prevLast)
        .otherwise(col("first")) // counter reset between buckets
      rows = rows.withColumn("inc", col("inc") + boundary)
    }
    val bucketCol = q.stepMs.map(st =>
      (floor(col("ts") / lit(st)).cast("long") * st).as("bucket_ms"))
    engine.joinGroupTags(rows, tags, q.stepMs.isDefined, mid,
      bucketCol) { (grouped, keys) =>
      // population variance from moments; clamp the FP-cancellation residue
      def momentVar = greatest(
        sum(col("sumsq")) / sum(col("cnt")) -
          pow(sum(col("sum")) / sum(col("cnt")), 2), lit(0.0))
      val valueAgg =
        if (q.rate) sum(col("inc"))
        else q.agg match {
          case MetricAgg.Sum => sum(col("sum"))
          case MetricAgg.Count => sum(col("cnt")).cast("double")
          case MetricAgg.Min => min(col("min"))
          case MetricAgg.Max => max(col("max"))
          case MetricAgg.Avg => sum(col("sum")) / sum(col("cnt"))
          case MetricAgg.Stddev => sqrt(momentVar)
          case MetricAgg.Stdvar => momentVar
          case other => throw new IllegalStateException(
            s"unreachable: $other rejected above")
        }
      if (keys.isEmpty) grouped.agg(valueAgg.as("value"))
      else grouped.groupBy(keys: _*).agg(valueAgg.as("value"))
    }
  }
}
