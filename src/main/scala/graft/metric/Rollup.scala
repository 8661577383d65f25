package graft.metric

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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
  * [[refresh]] is INCREMENTAL per segment, driven by the data manifest:
  * a segment is (re)rolled only when it contains an SST id above the
  * last refresh's watermark (SST ids are the write sequence). Re-rolled
  * buckets overwrite their previous rollup rows through the store's
  * last-write-wins pk merge — late-arriving data repairs its bucket on
  * the next refresh, the same merge-on-read policy as the raw table.
  * The watermark persists next to the rollup data, so refresh cost
  * after restart stays proportional to NEW data, not history.
  *
  * Scale: refresh reads only dirty segments (bounded by ingest rate ×
  * refresh cadence, not table size). A dirty range small enough for one
  * partition merges, windows and aggregates in that partition with no
  * shuffle (`TimeMergeStorage.mergeInput`); a larger one shuffles on
  * (tsid, bucket) — the same uniform keys as every engine aggregation.
  * Either way it writes one sorted SST per dirty segment. Queries prune
  * rollup SSTs by time range exactly like raw scans, then aggregate
  * ~grid/interval× fewer rows.
  *
  * TTL note: expiring raw SSTs removes files without minting new ids,
  * so expired segments never re-roll and their rollup rows OUTLIVE the
  * raw data — deliberately the Thanos/M3 downsampled-retention shape
  * (coarse history is cheap to keep). A deployment wanting strict
  * rollup≡raw equivalence after expiry should configure the same `ttl`
  * on the rollup store's compactor. */
object Rollup {
  final case class RefreshStats(segmentsRolled: Int, maxSstId: Long)
}

final class Rollup(engine: MetricEngine, val gridMs: Long) {
  import Rollup.RefreshStats

  require(gridMs > 0, s"gridMs must be positive, got $gridMs")
  require(engine.data.segmentMs % gridMs == 0,
    s"gridMs ($gridMs) must divide the data segment size " +
      s"(${engine.data.segmentMs}) so buckets never straddle segments")

  private val spark = engine.data.spark

  private val rollupSchema = StructType(Seq(
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

  /** The rollup's own time-merge store, next to the data table. */
  val store = new TimeMergeStorage(spark, s"${engine.data.root}_rollup_$gridMs",
    StorageSchema(rollupSchema, numPrimaryKeys = 3), engine.data.segmentMs,
    timestampColumn = Some("ts"))

  private val fs = store.spark.sparkContext.hadoopConfiguration
  private val watermarkPath =
    new org.apache.hadoop.fs.Path(s"${store.root}/rollup_watermark")

  private def readWatermark(): Long = {
    val hfs = watermarkPath.getFileSystem(fs)
    if (!hfs.exists(watermarkPath)) Long.MinValue
    else {
      val in = hfs.open(watermarkPath)
      try new String(in.readAllBytes(), "UTF-8").trim.toLong
      finally in.close()
    }
  }

  private def writeWatermark(v: Long): Unit = {
    val hfs = watermarkPath.getFileSystem(fs)
    val tmp = new org.apache.hadoop.fs.Path(s"${store.root}/.rollup_watermark.tmp")
    val out = hfs.create(tmp, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    if (hfs.exists(watermarkPath)) hfs.delete(watermarkPath, false)
    if (!hfs.rename(tmp, watermarkPath))
      throw new java.io.IOException(s"failed to commit $watermarkPath")
  }

  /** In-memory mirror of the persisted watermark (one file read at
    * construction, then updated by [[refresh]]), for the engine's
    * per-query freshness check. */
  @volatile private var cachedWatermark: Long = readWatermark()

  /** Whether this rollup covers every SST in the data manifest — the
    * engine routes a query here only when true, so a rollup that lags
    * ingest degrades to raw-table scans, never to stale answers. */
  def isFresh: Boolean = engine.data.manifest.maxSstId <= cachedWatermark

  /** Roll up every segment containing data SSTs newer than the last
    * refresh. Segments with no new writes are untouched. Returns how
    * many segments were (re)rolled and the new watermark.
    *
    * BACKFILL SHAPE: all dirty segments aggregate and write in ONE Spark
    * job — per-segment manifest-pruned scans union into a single
    * aggregation (one (tsid, bucket) shuffle above the single-partition
    * bound, none below it), and [[TimeMergeStorage.writeSegmented]]
    * emits one sorted SST per segment via dynamic partitioning. A cold
    * rollup over a year of 12 h segments is one job, not ~730 sequential
    * ones; steady-state (one dirty segment per tick) takes the same
    * single-job path with a one-branch union. */
  def refresh(): RefreshStats = {
    val watermark = readWatermark()
    val ssts = engine.data.manifest.allSsts()
    if (ssts.isEmpty) return RefreshStats(0, watermark)
    val segMs = engine.data.segmentMs
    // dirty segment = contains an SST above the watermark; SST ranges may
    // span a whole segment, so bucket by range start (writes never cross
    // segments — the store enforces it)
    val dirty = ssts.filter(_.id > watermark)
      .map(f => TimeRange.truncate(f.timeRange.start, segMs)).distinct.sorted
    if (dirty.nonEmpty) {
      // contiguous dirty segments scan as ONE range (a backfill is one
      // run → at most one merge exchange, not one per segment; merge-on-read
      // dedup keys on (metric_id, tsid, ts), so a multi-segment scan
      // collapses exactly the same duplicates as per-segment scans)
      val runs = dirty.foldLeft(List.empty[(Long, Long)]) {
        case ((s, e) :: rest, seg) if seg == e => (s, seg + segMs) :: rest
        case (acc, seg) => (seg, seg + segMs) :: acc
      }.reverse
      val scans = runs.map { case (s, e) =>
        engine.data.scan(ScanRequest(range = TimeRange(s, e)))
      }
      val bucketed = scans.reduce(_.unionByName(_))
        .withColumn("__bucket__",
          floor(col("ts") / lit(gridMs)).cast("long") * gridMs)
      // within-bucket reset-aware delta (first sample of the bucket = 0);
      // the window partitions on the SAME keys as the groupBy below, so
      // Catalyst plans one exchange for both
      val rolled = bucketed
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
      store.writeSegmented(rolled)
    }
    val newWatermark = ssts.map(_.id).max
    if (dirty.nonEmpty || watermark == Long.MinValue) {
      writeWatermark(newWatermark)
      cachedWatermark = newWatermark
    }
    RefreshStats(dirty.size, newWatermark)
  }

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
    // keep the alignment arithmetic far from overflow (real timestamps
    // are nowhere near the extremes); MetricEngine.rollupRouted mirrors
    // this guard and falls back to raw
    def boundOk(v: Long) = v == Long.MinValue || v == Long.MaxValue ||
      math.abs(v) <= Long.MaxValue / 2
    require(boundOk(qs) && boundOk(qe),
      s"range bounds too extreme for grid alignment: [$qs, $qe)")
    val mid = engine.metricIdOf(q.metric).getOrElse(
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
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
      .join(engine.maybeBroadcast(tsids), Seq("tsid"), "left_semi")
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

/** Driver-side refresher: a periodic tick calling [[Rollup.refresh]] /
  * [[HistogramRollup.refresh]] on each registered grid — the
  * downsampling analog of [[graft.storage.CompactionScheduler]]. Single
  * timer thread, so refreshes never run concurrently with themselves;
  * between ticks the engine's freshness gates route queries to raw, so a
  * lagging tick costs performance, never correctness
  * (`tools/MetricSoak rollup` exercises the loop live against concurrent
  * ingest).
  *
  * Each tick also runs ONE compaction pass per rollup store: every
  * re-roll writes a fresh SST over its segment's key range, so a
  * long-running refresher accumulates heavily-overlapping small files
  * exactly the shape the Picker targets. Grace-deferred deletes (60 s
  * default, same rationale as the serving frontend's) keep in-flight
  * routed queries safe from the file swap. */
final class RollupScheduler(rollups: Seq[Rollup], intervalMs: Long = 10000L,
    compaction: CompactionConfig = CompactionConfig(deleteGraceMs = 60000L),
    histRollups: Seq[HistogramRollup] = Nil) {
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[RollupScheduler])
  private val timer = new java.util.Timer("graft-rollup-scheduler", true)
  // scalar and histogram rollups share the refresh/compaction policy —
  // one (label, refresh thunk, store) row each
  private val lanes: Seq[(String, () => Rollup.RefreshStats, graft.storage.TimeMergeStorage)] =
    rollups.map(r => (s"grid ${r.gridMs} ms", () => r.refresh(), r.store)) ++
      histRollups.map(r =>
        (s"histogram grid ${r.gridMs} ms", () => r.refresh(), r.store))
  private val compactors =
    lanes.map { case (_, _, store) => new Compactor(store, compaction) }

  // Failure visibility (the RuleEngine health pattern, Rules.scala): a
  // persistently failing refresh pins `isFresh` false and silently
  // degrades every routed query to raw scans — correct but slow, so the
  // operator needs a counter on /metrics and the last error on
  // /api/v1/status/tsdb, not a swallowed exception.
  private val refreshFails = new java.util.concurrent.atomic.LongAdder
  private val compactFails = new java.util.concurrent.atomic.LongAdder
  @volatile private var lastRefreshErr: Option[String] = None
  @volatile private var lastCompactErr: Option[String] = None
  def refreshFailuresTotal: Long = refreshFails.sum()
  def compactionFailuresTotal: Long = compactFails.sum()
  def lastRefreshError: Option[String] = lastRefreshErr
  def lastCompactionError: Option[String] = lastCompactErr

  /** One scheduler pass over every rollup (refresh, then one compaction
    * round). Public so tests and manual callers can tick synchronously;
    * the timer calls exactly this. NonFatal failures are logged + counted,
    * never thrown (a thrown TimerTask cancels the whole Timer); fatal VM
    * errors propagate. A fully healthy pass clears the last-error strings
    * so status reflects current, not historical, health. */
  def runOnce(): Unit = {
    var refreshOk, compactOk = true
    lanes.foreach { case (label, refresh, _) =>
      try { refresh(); () } catch {
        case scala.util.control.NonFatal(e) =>
          refreshOk = false
          refreshFails.increment()
          lastRefreshErr = Some(s"${e.getClass.getName}: ${e.getMessage}")
          log.warn(s"rollup refresh failed ($label)", e)
      }
    }
    compactors.foreach { c =>
      try { c.runOnce(); () } catch {
        case scala.util.control.NonFatal(e) =>
          compactOk = false
          compactFails.increment()
          lastCompactErr = Some(s"${e.getClass.getName}: ${e.getMessage}")
          log.warn("rollup-store compaction failed", e)
      }
    }
    if (refreshOk) lastRefreshErr = None
    if (compactOk) lastCompactErr = None
  }

  def start(): Unit = timer.scheduleAtFixedRate(new java.util.TimerTask {
    def run(): Unit = runOnce()
  }, intervalMs, intervalMs)
  def stop(): Unit = {
    timer.cancel()
    // sweep grace-parked deletes on clean shutdown (nothing references
    // the swapped-out files; a restart would otherwise leak them)
    compactors.foreach(_.flushDeferred())
  }
}
