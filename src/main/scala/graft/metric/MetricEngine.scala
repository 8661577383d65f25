package graft.metric

import java.nio.charset.StandardCharsets.UTF_8

import scala.concurrent.{Await, ExecutionContext, Future, blocking}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Try}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.storage._

/** A single time-series sample, the write-path unit
  * (reference src/metric_engine/src/types.rs:18-36). */
case class Sample(name: String, labels: Map[String, String], timestamp: Long,
    value: Double)

/** Aggregations the PromQL-shaped read path can push down (reference RFC
  * docs/rfcs/20220702-prometheus-read-extension.md:78-99: "HoraeDB supports
  * sum and rate"; we add the rest of the obvious set). */
sealed trait MetricAgg
object MetricAgg {
  case object Sum extends MetricAgg
  case object Min extends MetricAgg
  case object Max extends MetricAgg
  case object Avg extends MetricAgg
  case object Count extends MetricAgg
  /** Population stddev/variance (Prometheus stddev/stdvar). */
  case object Stddev extends MetricAgg
  case object Stdvar extends MetricAgg
  /** Prometheus `group`: 1.0 per group. */
  case object Group extends MetricAgg
}

/** PromQL-shaped query: instant/range selection + label filters + optional
  * per-step bucketing + aggregation + optional reset-aware rate. */
final case class MetricQuery(
    metric: String,
    labelFilters: Map[String, String] = Map.empty,
    range: TimeRange = TimeRange(Long.MinValue, Long.MaxValue),
    stepMs: Option[Long] = None,
    agg: MetricAgg = MetricAgg.Sum,
    groupByTag: Option[String] = None,
    rate: Boolean = false)

/** The metric engine: five storage tables + id population + the two-step
  * label→TSID read path (reference RFC docs/rfcs/20240827-metric-engine.md:
  * 106-137 index tables, :218-226 data table, :121-126 two-step lookup).
  *
  * Ids are `xxhash64` (Spark-native 64-bit hash) of the canonicalized
  * name/labels — the analog of the reference's seahash MetricId/SeriesId
  * (src/metric_engine/src/types.rs:38-40); only internal consistency
  * matters, the concrete hash differs from the reference.
  *
  * Scale: the data table is partitioned (segment, tsid) — aggregation
  * shuffles on tsid which is a uniform 64-bit hash, so no skew; label
  * lookups produce small TSID sets that broadcast into the data scan,
  * resolved on the driver from the series catalog (at most 100k series)
  * or, above it, by the index/series tables. A catalog-built TSID or label
  * frame is driver-local, and its broadcast is built on the driver with no
  * Spark job (`org.apache.spark.sql.DriverLocalBroadcast`, a query-stage
  * prep rule that [[graft.GraftExtensions]] injects).
  */
final class MetricEngine(spark: SparkSession, root: String,
    segmentMs: Long = 12L * 3600 * 1000,
    dataBuckets: Int = 1) {
  require(dataBuckets >= 1, s"dataBuckets must be >= 1, got $dataBuckets")

  import MetricEngine._

  val metrics = new TimeMergeStorage(spark, s"$root/metrics",
    StorageSchema(metricsSchema, numPrimaryKeys = 2), MetaSegmentMs)
  val series = new TimeMergeStorage(spark, s"$root/series",
    StorageSchema(seriesSchema, numPrimaryKeys = 2), MetaSegmentMs)
  val tags = new TimeMergeStorage(spark, s"$root/tags",
    StorageSchema(tagsSchema, numPrimaryKeys = 3), MetaSegmentMs)
  val index = new TimeMergeStorage(spark, s"$root/index",
    StorageSchema(indexSchema, numPrimaryKeys = 4), MetaSegmentMs)
  val data = new TimeMergeStorage(spark, s"$root/data",
    StorageSchema(dataSchema, numPrimaryKeys = 3), segmentMs,
    timestampColumn = Some("ts"))
  val exemplars = new TimeMergeStorage(spark, s"$root/exemplars",
    StorageSchema(exemplarsSchema, numPrimaryKeys = 4), segmentMs,
    timestampColumn = Some("ts"))
  val histograms = new TimeMergeStorage(spark, s"$root/histograms",
    StorageSchema(histogramsSchema, numPrimaryKeys = 3), segmentMs,
    timestampColumn = Some("ts"))

  /** Broadcast-when-small (SURVEY §2.3 "broadcast when small, else shuffle
    * hash"): hint only while the optimizer's size estimate (parquet bytes
    * after pruning/filter estimation) stays under
    * `graft.metric.broadcastMaxBytes` (default 64 MB). Above it the join
    * shape is left to AQE — which still converts genuinely-small runtime
    * sides to broadcast, but never forces a driver collect of an
    * unexpectedly huge TSID set (a low-selectivity matcher over a
    * million-series metric would OOM the driver under an unconditional
    * hint). Cost-free: a plan-stats read, no extra Spark job. */
  private[metric] def maybeBroadcast(df: DataFrame): DataFrame = {
    // Defensive parse: a malformed conf value must not throw from inside
    // every query's planning path — fall back to the default cap.
    val cap = spark.conf.getOption("graft.metric.broadcastMaxBytes")
      .flatMap(v => scala.util.Try(v.toLong).toOption).getOrElse(64L << 20)
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <= cap) broadcast(df)
    else df
  }

  /** Canonical series key: name + sorted `\u0001 key \u0002 value` pairs
    * with keys
    * sorted — the `hash(metric + sorted_tags)` input (RFC
    * 20240827-metric-engine.md:34). Control-character separators cannot occur
    * in Prometheus label names/values, so distinct label sets can never
    * collide to one key (a `,`/`=` join would let `{a:"1,b=2"}` equal
    * `{a:"1",b:"2"}`). */
  private def seriesKeyCol: Column =
    MetricEngine.seriesKeyColumn(col("name"), col("labels"))

  /** Id population (reference metric/mod.rs:30-40, index/mod.rs:28-37):
    * metric_id = hash(name), tsid = hash(canonical series key). */
  def withIds(samples: DataFrame): DataFrame =
    samples
      .withColumn("series_key", seriesKeyCol)
      .withColumn("metric_id", xxhash64(col("name")))
      .withColumn("tsid", xxhash64(col("series_key")))

  /** Ingest one batch of samples: populate ids, register new series in
    * the four meta tables, write data per segment (writes may not cross a
    * segment — reference storage.rs:307-316). A driver-local batch
    * (every HTTP remote-write and OTLP payload, `samples.toDF()`) commits
    * with zero Spark jobs; see [[ingest]]. */
  def write(samples: DataFrame): Unit =
    ingest(samples, data, Seq(col("value")), register = true)

  /** Ingest a batch of exemplars. Input columns: `name` (metric),
    * `labels` (series labels map), `ex_labels` (the exemplar's own
    * labels, e.g. trace_id), `timestamp` (ms), `value`. Ids populate
    * exactly as [[write]]'s samples do; no meta rows are created here —
    * the remote-write spec sends exemplars alongside their series'
    * samples, so the series is registered by the samples in the same
    * request (an exemplar for a never-written series is still stored and
    * becomes reachable once its series registers). One sorted SST per
    * touched segment, like the data table. */
  def writeExemplars(ex: DataFrame): Unit =
    ingest(ex, exemplars,
      Seq(MetricEngine.labelsKeyColumn(col("ex_labels")).as("exemplar_key"),
        col("value"), col("ex_labels").as("labels")),
      register = false)

  /** Ingest a batch of native histogram samples (remote-write
    * [[graft.streaming.RemoteWrite.HistogramSample]] shape, flattened).
    * Input columns: `name`, `labels` (map), `timestamp` (ms), `count`,
    * `sum`, `bucket_schema`, `zero_threshold`, `zero_count`,
    * `pos_idx`/`pos_cnt` (absolute positive bucket indexes + counts),
    * `neg_idx`/`neg_cnt`, `custom_values` (NHCB bounds; empty for
    * standard schemas). Ids populate exactly as [[write]]'s samples do,
    * and histogram-only series DO register in the meta tables (unlike
    * exemplars, nothing guarantees a sample will arrive for the same
    * series — Prometheus 3.x scrapes can be histogram-only). Identity is
    * (metric_id, tsid, ts): re-delivered batches upsert idempotently
    * under Overwrite merge, same as the data table. */
  def writeHistograms(h: DataFrame): Unit =
    ingest(h, histograms,
      Seq("count", "sum", "bucket_schema", "zero_threshold", "zero_count",
        "pos_idx", "pos_cnt", "neg_idx", "neg_cnt", "custom_values").map(col),
      register = true)

  /** The write path behind [[write]], [[writeHistograms]] and
    * [[writeExemplars]]: id population, series registration (when
    * `register`), then `table`'s rows — (metric_id, tsid, ts) followed by
    * `valueCols`, the leading columns of every time-partitioned table —
    * as one sorted SST per segment the batch touches.
    *
    * A driver-local batch (optimized plan = batch `LocalRelation`, with
    * the [[withIds]] columns folded in by `ConvertToLocalRelation`) is
    * collected with no Spark job, registers against the driver-side
    * tsid set, and hands local frames to the storage layer, whose driver
    * encoder writes them — zero jobs per write, like the reference's
    * in-process write of one in-memory batch. Any other batch (streaming
    * micro-batches, scans) stays distributed: cached once, registered by
    * an anti-join against the series table, one write job per segment. */
  private def ingest(batch: DataFrame, table: TimeMergeStorage,
      valueCols: Seq[Column], register: Boolean): Unit = {
    val keyCols = Seq(col("metric_id"), col("tsid"), col("timestamp").as("ts"))
    val width = keyCols.size + valueCols.size
    val metaCols =
      if (register) Seq(col("name"), col("series_key"), col("labels")) else Nil
    val rows = withIds(batch).select(keyCols ++ valueCols ++ metaCols: _*)
    def commit(df: DataFrame, seg: Long): Unit = {
      val range = TimeRange(seg * segmentMs, (seg + 1) * segmentMs)
      // dataBuckets > 1 is the cluster shape: N pk-hash-partitioned SSTs
      // written in parallel per segment (a coalesce(1) single-file write
      // serializes a large ingest batch through one task); 1 keeps the
      // reference-faithful one-SST-per-write small path.
      if ((table eq data) && dataBuckets > 1) data.writeBucketed(df, range, dataBuckets)
      else table.write(df, range)
    }
    rows.queryExecution.optimizedPlan match {
      case local: LocalRelation if !local.isStreaming =>
        val got = rows.collect()
        if (register)
          registerSeries(got.map(r => NewSeries(r.getString(width), r.getLong(0),
            r.getLong(1), r.getString(width + 1), r.getMap[String, String](width + 2))))
        got.groupBy(r => Math.floorDiv(r.getLong(2), segmentMs)).toSeq.sortBy(_._1)
          .foreach { case (seg, part) =>
            commit(localFrame(part.map(r => Row.fromSeq(r.toSeq.take(width))),
              table.schema.userSchema), seg)
          }
      case _ =>
        val cached = rows.cache()
        try {
          if (register) registerSeriesDistributed(cached)
          val segd = cached.select(cached.columns.take(width).map(col).toIndexedSeq: _*)
            .withColumn("__seg__", TimeMergeStorage.segmentIdColumn(col("ts"), segmentMs))
          // one sorted SST per segment touched by the batch (bounded by the
          // batch's time span, typically 1)
          segd.select("__seg__").distinct().collect().map(_.getLong(0)).foreach { g =>
            commit(segd.filter(col("__seg__") === g).drop("__seg__"), g)
          }
        } finally cached.unpersist()
    }
  }

  /** A driver-local frame over `rows` — its plan is a `LocalRelation`, so
    * the storage layer encodes it on the driver. */
  private def localFrame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** The driver-side series catalog ([[SeriesCatalog]]): every series of
    * the `series` table with its decoded labels, loaded once per engine
    * by ONE projection scan, extended in place by [[registerSeries]]
    * after each `series` commit, and dropped by
    * [[registerSeriesDistributed]]. null = not loaded; None = more than
    * [[MetricDictCacheMax]] series — label matching, label discovery and
    * label attach then run their distributed index/series plans, and
    * each registered batch runs one pruned `tsid IN (batch)` lookup.
    * Readers take one immutable snapshot per call, so a query racing a
    * registration sees the old or the new series set, never part of it.
    * Same single-writer-per-root contract as [[metricDictCache]];
    * written under `registerLock`. */
  @volatile private var catalog: Option[SeriesCatalog] = null
  private val registerLock = new Object

  /** The catalog snapshot, loaded if it is not. */
  private[graft] def loadedCatalog(): Option[SeriesCatalog] = {
    val loaded = catalog
    if (loaded != null) loaded
    else registerLock.synchronized {
      if (catalog == null) {
        val rows = series.scan(ScanRequest(
            projection = Some(Seq("metric_id", "tsid", "series_key"))))
          .limit(MetricDictCacheMax + 1).collect()
        catalog = if (rows.length > MetricDictCacheMax) None
          else Some(SeriesCatalog.empty.added(rows.map(r => (r.getLong(0),
            r.getLong(1), new String(r.getAs[Array[Byte]](2), UTF_8)))))
      }
      catalog
    }
  }

  /** The batch series the series table does not hold yet. */
  private def unknownSeries(batch: Seq[NewSeries]): Seq[NewSeries] =
    loadedCatalog() match {
      case Some(cat) => batch.filterNot(s => cat.contains(s.metricId, s.tsid))
      case None =>
        val known = series.scan(ScanRequest(
            predicates = Seq(col("tsid").isin(batch.map(_.tsid): _*)),
            projection = Some(Seq("tsid"))))
          .collect().map(_.getLong(0)).toSet
        batch.filterNot(s => known(s.tsid))
    }

  /** Register the series of a driver-local batch that the series table
    * does not hold yet — re-delivered payloads and steady-state batches
    * carry none, so they write no meta rows at all (the reference's
    * populate-then-persist wiring, metric/mod.rs:30-40, with an existence
    * check in front). The four meta tables' rows are built on the driver,
    * distinct, and written as local frames (no Spark job).
    *
    * ORDER MATTERS for crash-retry consistency: `series` is written LAST
    * and the catalog only grows after it commits. A crash or
    * failure before that leaves the batch's tsids unregistered, so the
    * retry (or the next engine's fresh tsid load) sees them as new again
    * and rewrites their metrics/tags/index rows — idempotent upserts.
    * Writing `series` first would let a crash strand series whose
    * tag/index rows never landed, invisible to every label matcher.
    *
    * The driver dictionaries are updated in place from the new rows,
    * never dropped, so the next query pays no reload job. */
  private def registerSeries(batch: Seq[NewSeries]): Unit = registerLock.synchronized {
    val distinct = batch.map(s => s.tsid -> s).toMap.values.toSeq
    val fresh =
      if (distinct.isEmpty) Nil else unknownSeries(distinct).sortBy(_.tsid)
    if (fresh.nonEmpty) {
      val dict = metricDictCache
      val names = fresh.map(s => s.name -> s.metricId).distinct
        .filterNot { case (n, _) => dict != null && dict.exists(_.contains(n)) }
      val tagRows = fresh.flatMap(s => s.labels.map { case (k, v) =>
        (s.metricId, k, v, s.tsid) })
      // metrics, tags and index are independent upserts into three
      // tables: commit them concurrently, and `series` after all three
      val upserts = Seq(
        (metrics, names.map { case (n, id) => Row(n, id, 0) }, metricsSchema),
        (tags, tagRows.map(t => Row(t._1, t._2, t._3)).distinct, tagsSchema),
        (index, tagRows.distinct.map(t => Row(t._1, t._2, t._3, t._4)), indexSchema))
        .collect { case (table, rows, schema) if rows.nonEmpty =>
          Future(blocking(table.write(localFrame(rows, schema), MetaRange)))(
            ExecutionContext.global)
        }
      upserts.map(f => Try(Await.result(f, Duration.Inf)))
        .collectFirst { case Failure(e) => throw e }
      series.write(localFrame(fresh.map(s => Row(s.metricId, s.tsid,
        s.seriesKey.getBytes(java.nio.charset.StandardCharsets.UTF_8))),
        seriesSchema), MetaRange)
      catalog = catalog.map(_.added(fresh.map(s => (s.metricId, s.tsid, s.seriesKey))))
        .filter(_.size <= MetricDictCacheMax)
      if (names.nonEmpty) dictLock.synchronized {
        dictEpoch += 1
        metricDictCache = metricDictCache match {
          case Some(d) if d.size + names.size <= MetricDictCacheMax => Some(d ++ names)
          case Some(_) => None
          case unloadedOrOverCap => unloadedOrOverCap
        }
      }
    }
  }

  /** [[registerSeries]] for a distributed batch: an anti-join against the
    * series table, skipped when no new series arrive. `fresh` is cached
    * only as an optimization — a lost block recomputes the anti-join, so
    * `series` is written last here too: until it commits, every recompute
    * re-derives the same fresh set. The driver dictionaries are dropped
    * afterwards (their next use reloads). */
  private def registerSeriesDistributed(ided: DataFrame): Unit = registerLock.synchronized {
    val known = series.scan(ScanRequest(projection = Some(Seq("tsid"))))
    val fresh = ided
      .select(col("name"), col("metric_id"), col("tsid"), col("series_key"),
        col("labels"))
      .dropDuplicates("tsid")
      .join(known, Seq("tsid"), "left_anti") // AQE picks build side: batch vs catalog
      .cache()
    try {
      if (!fresh.isEmpty) {
        metrics.write(
          fresh.select(col("name").as("metric_name"), col("metric_id")).distinct()
            .withColumn("field_id", lit(0))
            .select("metric_name", "metric_id", "field_id"),
          MetaRange)
        val exploded = fresh.select(col("metric_id"), col("tsid"),
          explode(col("labels")).as(Seq("tag_key", "tag_value")))
        tags.write(
          exploded.select("metric_id", "tag_key", "tag_value").distinct(), MetaRange)
        index.write(
          exploded.select("metric_id", "tag_key", "tag_value", "tsid").distinct(),
          MetaRange)
        series.write(
          fresh.select(col("metric_id"), col("tsid"),
            col("series_key").cast(BinaryType).as("series_key")).distinct(),
          MetaRange)
        dictLock.synchronized { dictEpoch += 1; metricDictCache = null }
        catalog = null
      }
    } finally fresh.unpersist()
  }

  /** Native histogram rows of the series matching a PromQL selector within
    * `range` — the raw read behind [[histogramQuantile]] and the serving
    * layer. Output: series_key + ts + the full stored histogram columns. */
  def queryHistograms(selectorText: String, range: TimeRange): DataFrame = {
    import graft.promql._
    val sel = PromQLParser.parse(selectorText) match {
      case s: Selector => s
      case other => throw new IllegalArgumentException(
        s"histogram queries take a plain selector, got: $other")
    }
    // one projection/matcher-derivation definition with the instant
    // serving paths (scanMatchedHistograms) — they must never drift
    scanMatchedHistograms(sel.allMatchers, range)
  }

  /** `histogram_quantile(phi, selector)` over NATIVE histogram samples:
    * one row per (series, ts, phi). See [[NativeHistograms.quantile]] for
    * the bucket math (linear interpolation within the located bucket,
    * standard exponential schemas and NHCB custom bounds). */
  def histogramQuantile(selectorText: String, phis: Seq[Double],
      range: TimeRange): DataFrame =
    NativeHistograms.quantile(queryHistograms(selectorText, range), phis)

  /** Exemplars of the series matching a PromQL selector within `range` —
    * the engine behind `GET /api/v1/query_exemplars`. The selector
    * resolves through the same series-meta walk as [[seriesFor]]; the
    * exemplars scan prunes by (range, metric_id) and semi-joins the
    * matched TSID set. Output: (series_key, ts_ms, value, labels) — the
    * serving edge decodes series_key back to label sets. */
  def queryExemplars(selectorText: String, range: TimeRange): DataFrame = {
    import graft.promql._
    val sel = PromQLParser.parse(selectorText) match {
      case s: Selector => s
      case other => throw new IllegalArgumentException(
        s"exemplar queries take a plain selector, got: $other")
    }
    matchedSeriesScan(sel.allMatchers, exemplars, range,
      Seq(col("series_key"), col("ts").as("ts_ms"), col("value"), col("labels")),
      StructType(Seq(StructField("series_key", StringType),
        StructField("ts_ms", LongType), StructField("value", DoubleType),
        StructField("labels", MapType(StringType, StringType)))))
  }

  /** Federation snapshot: each series matching the selector, restricted to
    * its NEWEST sample within `(nowMs - lookbackMs, nowMs]` — the instant
    * cut Prometheus's `/federate` endpoint exposes for hierarchical
    * scraping. Output: (series_key, ts_ms, value); one row per live
    * series, stale series absent. */
  def federate(selectorText: String, nowMs: Long,
      lookbackMs: Long = 300000L): DataFrame = {
    import graft.promql._
    require(lookbackMs > 0, s"lookbackMs must be positive, got $lookbackMs")
    val sel = PromQLParser.parse(selectorText) match {
      case s: Selector => s
      case other => throw new IllegalArgumentException(
        s"federation takes a plain selector, got: $other")
    }
    val rows = matchedSeriesScan(sel.allMatchers, data,
      TimeRange(nowMs - lookbackMs + 1, nowMs + 1),
      Seq(col("series_key"), col("ts").as("ts_ms"), col("value")),
      StructType(Seq(StructField("series_key", StringType),
        StructField("ts_ms", LongType), StructField("value", DoubleType))))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("series_key")).orderBy(col("ts_ms").desc)
    rows.withColumn("__rn__", row_number().over(win))
      .filter(col("__rn__") === 1).drop("__rn__")
  }

  /** Shared matched-series walk behind [[queryExemplars]], [[readRaw]],
    * [[federate]] and the histogram rollup: resolve the metric set from the
    * `__name__` matchers ([[MatchedMetrics]]), then per metric scan `table`
    * pruned by (range, metric_id) and restrict to the matched series via
    * one inner join on the (tsid, series_key) frame from
    * [[matchedSeriesFrame]] — a broadcast local frame from the catalog,
    * or the distributed series/index plan above its cap (never an `isin`
    * literal list, which would grow the predicate with the match count).
    * Above the fan-out cap, ONE un-predicated scan joined on the matched
    * (metric_id, tsid, series_key) frame (the data pk leads with
    * metric_id, so the broadcast join filters right behind the sorted
    * scan). Output columns = `projection` over (scanned columns +
    * series_key); `emptySchema` shapes the no-match result. */
  private[metric] def matchedSeriesScan(
      matchers: Seq[graft.promql.LabelMatcher],
      table: graft.storage.TimeMergeStorage, range: TimeRange,
      projection: Seq[Column], emptySchema: StructType): DataFrame = {
    val labelMs = matchers.filterNot(_.label == "__name__")
    val matched = new MatchedMetrics(Seq(matchers))
    val cat = loadedCatalog()
    if (matched.some.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], emptySchema)
    else if (!matched.capped)
      matched.some.map(_._2).sorted.map { mid =>
        table.scan(ScanRequest(range = range,
            predicates = Seq(col("metric_id") === mid)))
          .join(maybeBroadcast(matchedSeriesFrame(cat, mid, labelMs)), Seq("tsid"))
          .select(projection: _*)
      }.reduce(_ unionByName _)
    else
      table.scan(ScanRequest(range = range))
        .join(maybeBroadcast(matchedSeriesFrameAll(cat,
            matched.all.map(_.map(_._2)), matched.ids, labelMs)),
          Seq("metric_id", "tsid"))
        .select(projection: _*)
  }

  /** Fan-out cap for per-metric-name union plans: up to this many matched
    * metrics keep their own statically pruned branches (static pushdown
    * beats a join for a handful of metrics); above it the plans join the
    * matched-id frame, so plan size and driver memory stay independent of
    * how many names a federation regex matches. */
  private val NameUnionFanout = 16

  /** The metrics named by the `__name__` matchers of one matcher set per
    * selector (a metric matches when every name matcher of some set
    * accepts it; a set without name matchers accepts every metric) — the
    * one place name matchers turn into metric ids:
    *  - [[some]]: at most NameUnionFanout + 1 matched (name, id) pairs,
    *    sorted by name — from the driver-cached dictionary with zero jobs
    *    (an exact name is a map lookup, anything else probes every cached
    *    name with the anchored-regex semantics of the frame path), or, over
    *    the dictionary's driver budget, ONE capped job on [[named]];
    *  - [[all]]: every matched pair, from the dictionary — None over its
    *    driver budget;
    *  - [[capped]]: more metrics matched than get a branch of their own;
    *  - [[frames]] (per set), [[named]] and [[ids]]: the same matches as
    *    lazy dictionary frames with the matchers as Spark predicates, for
    *    the above-cap plans — nothing stages on the driver. */
  private final class MatchedMetrics(
      matcherSets: Seq[Seq[graft.promql.LabelMatcher]]) {
    import graft.promql._
    private val nameSets = matcherSets.map(_.filter(_.label == "__name__"))
    private def matches(ms: Seq[LabelMatcher], name: String) =
      ms.forall(PromQLContext.matcherMatches(_, name))

    /** Per set: (metric_name, metric_id) of every matching metric. */
    lazy val frames: Seq[DataFrame] = nameSets.map(_.foldLeft(
        metrics.scan(ScanRequest(
          projection = Some(Seq("metric_name", "metric_id")))))(
        (df, m) => df.filter(
          PromQLContext.matcherPredicate(col("metric_name"), m))))
    lazy val named: DataFrame = frames.reduce(_ unionByName _).distinct()
    lazy val ids: DataFrame =
      frames.reduce(_ unionByName _).select("metric_id").distinct()

    lazy val all: Option[Seq[(String, Long)]] =
      if (nameSets.isEmpty) Some(Nil)
      else loadedDict().map { dict =>
        val exact = nameSets.map(_.collectFirst {
          case LabelMatcher(_, MatchOp.Eq, v) if v.nonEmpty => v })
        val candidates =
          if (exact.forall(_.isDefined))
            exact.flatten.distinct.flatMap(n => dict.get(n).map(n -> _))
          else dict.toSeq
        candidates.filter(p => nameSets.exists(matches(_, p._1))).sortBy(_._1)
      }
    lazy val some: Seq[(String, Long)] = all match {
      case Some(pairs) => pairs.take(NameUnionFanout + 1)
      case None => named.limit(NameUnionFanout + 1).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)
    }
    lazy val capped: Boolean = some.length > NameUnionFanout

    /** Per set, its pairs of `pairs` ([[some]] under the cap, or [[all]]). */
    def perSet(pairs: Seq[(String, Long)]): Seq[Seq[(String, Long)]] =
      nameSets.map(ms => pairs.filter(p => matches(ms, p._1)))

    /** Tag keys of the matched metrics: from the catalog snapshot `cat`
      * with no job, or above its cap ONE job semi-joined on [[ids]]. */
    def tagKeys(cat: Option[SeriesCatalog]): Set[String] = (cat, all) match {
      case (Some(c), Some(pairs)) => pairs.flatMap(p => c.keysOf(p._2)).toSet
      case _ => tags.scan(ScanRequest(
          projection = Some(Seq("metric_id", "tag_key"))))
        .join(maybeBroadcast(ids), Seq("metric_id"), "left_semi")
        .select("tag_key").distinct()
        .collect().map(_.getString(0)).toSet
    }
  }

  /** Multi-metric twin of [[matchedSeriesFrame]]: (metric_id, tsid,
    * series_key:string) of every series of the matched metric ids whose
    * labels match `matchers`. With the catalog `cat` and the matched ids
    * `mids` on the driver, a local frame built with no job; otherwise
    * (either above its cap) the distributed plan over `midsFrame`:
    * index-exact matchers prune through the (tag_value → tsid)
    * dictionary semi-joined per matcher on (metric_id, tsid), residual
    * matchers evaluate as a Spark filter over the decoded key, and
    * nothing stages on the driver. */
  private[graft] def matchedSeriesFrameAll(cat: Option[SeriesCatalog],
      mids: Option[Seq[Long]], midsFrame: => DataFrame,
      matchers: Seq[graft.promql.LabelMatcher]): DataFrame =
    (cat, mids) match {
      case (Some(c), Some(ms)) =>
        val keep = labelsMatch(matchers)
        localFrame(ms.distinct.flatMap(mid => c.series(mid).collect {
            case (tsid, s) if keep(s.labels) => Row(mid, tsid, s.key) }),
          StructType(Seq(StructField("metric_id", LongType),
            StructField("tsid", LongType), StructField("series_key", StringType))))
      case _ => distributedSeriesFrameAll(midsFrame, matchers)
    }

  private def distributedSeriesFrameAll(mids0: DataFrame,
      matchers: Seq[graft.promql.LabelMatcher]): DataFrame = {
    import graft.promql._
    var keyed = series.scan(ScanRequest(
        projection = Some(Seq("metric_id", "tsid", "series_key"))))
      .join(maybeBroadcast(mids0), Seq("metric_id"), "left_semi")
      .select(col("metric_id"), col("tsid"),
        col("series_key").cast("string").as("series_key"))
    val (exact, residual) = matchers.partition(m => indexExact(Seq(m)))
    exact.foreach { m =>
      val pred = m match {
        case LabelMatcher(l, MatchOp.Eq, v) =>
          Seq(col("tag_key") === l, col("tag_value") === v)
        case LabelMatcher(l, MatchOp.Re, re) =>
          Seq(col("tag_key") === l,
            col("tag_value").rlike("\\A(?:" + re + ")\\z"))
        case other => throw new IllegalStateException(
          s"not index-exact: $other (guard with indexExact first)")
      }
      val dict = index.scan(ScanRequest(predicates = pred))
        .join(maybeBroadcast(mids0), Seq("metric_id"), "left_semi")
        .select("metric_id", "tsid").distinct()
      keyed = keyed.join(dict, Seq("metric_id", "tsid"), "left_semi")
    }
    if (residual.nonEmpty) {
      val labels = MetricEngine.seriesLabelsColumn(col("series_key"))
      keyed = keyed.filter(residual.map(matcherColumn(labels, _)).reduce(_ && _))
    }
    keyed
  }

  /** (tsid, series_key:string) frame of metric `mid`'s series matching
    * the non-`__name__` `matchers`. While the catalog `cat` is loaded, a
    * local frame built on the driver with no Spark job: the catalog holds
    * at most [[MetricDictCacheMax]] series, so the driver never holds more
    * than that. Above the cap (`cat` = None) nothing materializes on the
    * driver: index-exact matchers (`=` non-empty, positive regexes that
    * can't match "") prune through [[indexExactTsids]]'s per-label
    * dictionary semi-joins; residual matchers (`!=` / `!~` /
    * empty-matching shapes, which select series with ABSENT labels the
    * index cannot represent) evaluate as a Spark filter over the labels
    * map decoded from `series_key` ([[MetricEngine.seriesLabelsColumn]]).
    * Both arms apply exact Prometheus matcher semantics ([[labelsMatch]],
    * [[matcherColumn]]). */
  private[graft] def matchedSeriesFrame(cat: Option[SeriesCatalog], mid: Long,
      matchers: Seq[graft.promql.LabelMatcher]): DataFrame = cat match {
    case Some(c) =>
      val keep = labelsMatch(matchers)
      localFrame(c.series(mid).collect {
          case (tsid, s) if keep(s.labels) => Row(tsid, s.key) }.toSeq,
        StructType(Seq(StructField("tsid", LongType),
          StructField("series_key", StringType))))
    case None =>
      val (exact, residual) = matchers.partition(m => indexExact(Seq(m)))
      var keyed = series.scan(ScanRequest(
          predicates = Seq(col("metric_id") === mid),
          projection = Some(Seq("tsid", "series_key"))))
        .select(col("tsid"), col("series_key").cast("string").as("series_key"))
      if (exact.nonEmpty)
        keyed = keyed.join(indexExactTsids(None, mid, exact), Seq("tsid"), "left_semi")
      if (residual.nonEmpty) {
        val labels = MetricEngine.seriesLabelsColumn(col("series_key"))
        keyed = keyed.filter(residual.map(matcherColumn(labels, _)).reduce(_ && _))
      }
      keyed
  }

  /** Driver twin of [[matcherColumn]]: `matchers` as one predicate over a
    * decoded label map — absent label = "", regexes compiled once and
    * matched over the whole value (the `\A…\z` anchoring of the Spark
    * arm). */
  private def labelsMatch(
      matchers: Seq[graft.promql.LabelMatcher]): Map[String, String] => Boolean = {
    import graft.promql._
    val tests = matchers.map { m =>
      val ok: String => Boolean = m.op match {
        case MatchOp.Eq => _ == m.value
        case MatchOp.Ne => _ != m.value
        case MatchOp.Re | MatchOp.Nre =>
          val re = java.util.regex.Pattern.compile("(?:" + m.value + ")")
          v => re.matcher(v).matches() == (m.op == MatchOp.Re)
      }
      (labels: Map[String, String]) => ok(labels.getOrElse(m.label, ""))
    }
    labels => tests.forall(_(labels))
  }

  /** One Prometheus matcher as a Spark predicate over a decoded labels
    * map — the distributed mirror of
    * [[graft.promql.PromQLContext.matcherMatches]]: absent label = ""
    * (`element_at` null-coalesced), regexes fully anchored with `\A…\z`
    * (exact `String.matches` whole-input semantics — `^…$` under RLIKE's
    * find() would also accept a value with a trailing newline). */
  private def matcherColumn(labels: Column,
      m: graft.promql.LabelMatcher): Column = {
    import graft.promql._
    val v = coalesce(element_at(labels, lit(m.label)), lit(""))
    def re = "\\A(?:" + m.value + ")\\z"
    m.op match {
      case MatchOp.Eq => v === m.value
      case MatchOp.Ne => v =!= m.value
      case MatchOp.Re => v.rlike(re)
      case MatchOp.Nre => !v.rlike(re)
    }
  }

  /** Raw samples of every series matching `matchers` within `range` — the
    * engine behind `POST /api/v1/read` (Prometheus remote read, where the
    * metric name arrives as an ordinary `__name__` matcher). Series
    * resolve through the same meta-table walk as [[seriesFor]] /
    * [[queryExemplars]] (exact Prometheus matcher semantics, anchored
    * regexes, absent label = ""); the data scan prunes by (range,
    * metric_id) and the matched TSID set. Output: (series_key, ts_ms,
    * value) — merge-on-read has already deduped (tsid, ts), so rows are
    * exactly the samples Prometheus expects back. */
  def readRaw(matchers: Seq[graft.promql.LabelMatcher],
      range: TimeRange): DataFrame = {
    require(matchers.nonEmpty, "remote read requires at least one matcher")
    matchedSeriesScan(matchers, data, range,
      Seq(col("series_key"), col("ts").as("ts_ms"), col("value")),
      StructType(Seq(StructField("series_key", StringType),
        StructField("ts_ms", LongType), StructField("value", DoubleType))))
  }

  /** Whether `matchers` resolve through the (tag_value, tsid) index to
    * EXACTLY their matched series — true for `=` with a non-empty value
    * and for positive regexes that cannot match "" (a matched series must
    * then CARRY the label, and the index enumerates every carried value).
    * `!=`/`!~`/empty-matching patterns select series with ABSENT labels,
    * which the index cannot represent; `__name__` binds to the metric,
    * not a tag — those shapes stay on the general path. */
  private def indexExact(matchers: Seq[graft.promql.LabelMatcher]): Boolean = {
    import graft.promql._
    matchers.forall {
      case LabelMatcher("__name__", _, _) => false
      case LabelMatcher(_, MatchOp.Eq, v) => v.nonEmpty
      case LabelMatcher(_, MatchOp.Re, re) =>
        try !"".matches(s"^(?:$re)$$")
        catch { case _: java.util.regex.PatternSyntaxException => false }
      case _ => false
    }
  }

  /** Step-1 TSID resolution for an [[indexExact]] matcher set. While the
    * catalog `cat` is loaded, a local tsid frame matched on the driver
    * with no job; above its cap, one index dictionary filter per matcher
    * (`=` equality, `=~` anchored rlike), AND-ed via semi-joins — the
    * regex runs on the small per-metric (tag_value, tsid) dictionary,
    * never the data scan. No matchers = every series of the metric. */
  private[graft] def indexExactTsids(cat: Option[SeriesCatalog], mid: Long,
      matchers: Seq[graft.promql.LabelMatcher]): DataFrame = {
    import graft.promql._
    cat match {
      case Some(c) =>
        val keep = labelsMatch(matchers)
        tsidFrame(c.series(mid).collect { case (t, s) if keep(s.labels) => t })
      case None => matchers.map {
        case LabelMatcher(l, MatchOp.Eq, v) =>
          index.scan(ScanRequest(predicates = Seq(col("metric_id") === mid,
              col("tag_key") === l, col("tag_value") === v)))
            .select("tsid").distinct()
        case LabelMatcher(l, MatchOp.Re, re) =>
          index.scan(ScanRequest(predicates = Seq(col("metric_id") === mid,
              col("tag_key") === l,
              col("tag_value").rlike("\\A(?:" + re + ")\\z"))))
            .select("tsid").distinct()
        case other => throw new IllegalStateException(
          s"not index-exact: $other (guard with indexExact first)")
      }.reduceOption((a, b) => a.join(b, Seq("tsid"), "left_semi"))
        .getOrElse(series.scan(ScanRequest(
            predicates = Seq(col("metric_id") === mid)))
          .select("tsid").distinct())
    }
  }

  /** TSIDs matching every label filter — the RFC two-step lookup, step 1
    * (20240827-metric-engine.md:121-126): from the catalog on the driver,
    * or above its cap by filtering the index table per label and
    * intersecting via repeated semi-join. */
  def lookupTsids(metricId: Long, labelFilters: Map[String, String]): DataFrame =
    loadedCatalog() match {
      case Some(c) =>
        tsidFrame(c.series(metricId).collect {
          case (t, s) if labelFilters.forall { case (k, v) => s.labels.get(k).contains(v) } => t })
      case None if labelFilters.isEmpty =>
        series.scan(ScanRequest(predicates = Seq(col("metric_id") === metricId)))
          .select("tsid").distinct()
      case None =>
        labelFilters.map { case (k, v) =>
          index.scan(ScanRequest(predicates = Seq(
            col("metric_id") === metricId, col("tag_key") === k, col("tag_value") === v)))
            .select("tsid").distinct()
        }.reduce((a, b) => a.join(b, Seq("tsid"), "left_semi"))
    }

  /** A local one-column `tsid` frame. */
  private def tsidFrame(tsids: Iterable[Long]): DataFrame =
    localFrame(tsids.map(Row(_)).toSeq, StructType(Seq(StructField("tsid", LongType))))

  /** Registered rollups ([[Rollup]]) considered for transparent routing
    * by [[queryPromQL]]'s fast path, coarsest grid first (the coarsest
    * eligible rollup scans the least). Registration is explicit — the
    * deployment decides which grids exist and when they refresh. */
  @volatile private var rollups: Seq[Rollup] = Nil

  def registerRollup(r: Rollup): Unit = synchronized {
    rollups = (rollups :+ r).sortBy(-_.gridMs)
  }

  /** Registered NATIVE-HISTOGRAM rollups ([[HistogramRollup]]), coarsest
    * first — the `histogram_quantile(q, rate(m[30d]))` dashboard path
    * answers from bucket-wise increase partials instead of raw rows. */
  @volatile private var histRollups: Seq[HistogramRollup] = Nil

  def registerHistogramRollup(r: HistogramRollup): Unit = synchronized {
    histRollups = (histRollups :+ r).sortBy(-_.gridMs)
  }

  /** The coarsest FRESH histogram rollup whose grid the window aligns to
    * — both endpoints must sit on the grid (the reconstruction is exact
    * only over whole buckets); a lagging or misaligned rollup falls back
    * to the raw histograms table. */
  private def histRollupFor(startMs: Long, endMs: Long): Option[HistogramRollup] =
    histRollups.find(r => r.isFresh &&
      math.floorMod(startMs, r.gridMs) == 0 &&
      math.floorMod(endMs, r.gridMs) == 0)

  /** RANGE-query variant: the window `w` must be a multiple of the grid
    * (whole rollup buckets per tumbling bucket) and each range bound
    * either unbounded (scan everything — trivially whole buckets) or
    * aligned to `w`. */
  private def histRollupForRange(range: TimeRange,
      w: Long): Option[HistogramRollup] = {
    def ok(v: Long) = v == Long.MinValue || v == Long.MaxValue ||
      (math.abs(v) <= Long.MaxValue / 2 && math.floorMod(v, w) == 0)
    histRollups.find(r => r.isFresh && w % r.gridMs == 0 &&
      ok(range.start) && ok(range.end))
  }

  /** Route `q` to the coarsest registered rollup that can answer it
    * EXACTLY, or None for raw. Routable: combinable aggregation (or
    * sum+rate — the fast path's only rate shape; stddev/stdvar stay on
    * raw, the moment partials are answerable via [[Rollup.query]] but
    * less numerically stable than two-pass), a step that is a multiple
    * of the grid (an unstepped query aggregates whole buckets, so any
    * grid works), and FRESH — the rollup's watermark covers the
    * manifest head, so a rollup that lags ingest falls back to raw
    * automatically instead of answering stale. Range bounds need NOT be
    * aligned: [[Rollup.query]] answers unaligned edges exactly by
    * splicing degenerate single-sample partials from raw into the same
    * aggregation (its Scaladoc); only bounds too extreme for the
    * alignment arithmetic fall back here. */
  private def rollupRouted(q: MetricQuery, tsids: DataFrame,
      tags: Seq[String]): Option[DataFrame] = {
    val combinable = Set[MetricAgg](MetricAgg.Sum, MetricAgg.Count,
      MetricAgg.Min, MetricAgg.Max, MetricAgg.Avg)
    val aggOk =
      if (q.rate) q.agg == MetricAgg.Sum else combinable.contains(q.agg)
    def boundOk(v: Long) = v == Long.MinValue || v == Long.MaxValue ||
      math.abs(v) <= Long.MaxValue / 2
    if (!aggOk || !boundOk(q.range.start) || !boundOk(q.range.end)) return None
    rollups.find(r => q.stepMs.forall(_ % r.gridMs == 0) && r.isFresh)
      .map(_.query(q, Some(tsids), tags))
  }

  /** Driver-side metric dictionary cache (round 15): every PromQL query
    * resolves 1-3 metric names, and each uncached lookup is its own
    * collect job over the metrics meta table — pure per-query launch
    * overhead on a dictionary that only changes when a NEW metric
    * registers. null = not loaded; None = dictionary larger than the
    * driver budget (fall back to per-name pruned lookups); Some(map) =
    * the full name→id dictionary. The registration paths are the only
    * metrics-table writers: [[registerSeries]] extends a loaded
    * dictionary in place, [[registerSeriesDistributed]] drops it so the
    * next lookup reloads.
    *
    * Single-writer-per-root assumption (documented, round 16): these
    * caches see only THIS instance's registrations. Metrics or tag
    * keys written to the same storage root by another MetricEngine
    * instance or process are invisible to name resolution until this
    * instance restarts — multi-writer deployments must route ingest
    * through one engine per root (the storage layer's own single-writer
    * manifest contract already requires this). */
  @volatile private var metricDictCache: Option[Map[String, Long]] = null
  private val MetricDictCacheMax = 100000
  /** Bumped under `dictLock` by every registration that adds metrics, so
    * a load whose scan may predate that commit never installs its stale
    * dictionary over the registration's update. */
  private var dictEpoch = 0L
  private val dictLock = new Object

  /** The dictionary, loaded if it is not — and nothing else: the load
    * must not route through a per-name lookup, because once the
    * dictionary exceeds the cap (cache = Some-wrapped None) a
    * metricIdOf("") probe would launch a pointless metric_name=""
    * scan+collect job per call, in exactly the >100k-metric regime the
    * fallback targets (round 16, advisor fix). */
  private def loadedDict(): Option[Map[String, Long]] = {
    var dict = metricDictCache
    while (dict == null) {
      val epoch = dictLock.synchronized(dictEpoch)
      val rows = metrics.scan(ScanRequest(
          projection = Some(Seq("metric_name", "metric_id"))))
        .limit(MetricDictCacheMax + 1).collect()
      val loaded = if (rows.length > MetricDictCacheMax) None
        else Some(rows.map(r => r.getString(0) -> r.getLong(1)).toMap)
      dict = dictLock.synchronized {
        if (dictEpoch != epoch) null // a registration raced the scan: reload
        else {
          if (metricDictCache == null) metricDictCache = loaded
          metricDictCache
        }
      }
    }
    dict
  }

  private[metric] def metricIdOf(name: String): Option[Long] =
    loadedDict() match {
      case Some(dict) => dict.get(name)
      case None =>
        val rows = metrics.scan(ScanRequest(
          predicates = Seq(col("metric_name") === name),
          projection = Some(Seq("metric_id")))).limit(1).collect()
        rows.headOption.map(_.getLong(0))
    }

  /** Step 2: probe the data table with the TSID set (broadcast semi-join),
    * bucket by step, aggregate; optional per-tag grouping joins the index
    * back for the tag value; optional reset-aware rate. A TSID set from the
    * series catalog is a local frame: its broadcast runs no job, so the
    * query's jobs are the data scan's. */
  def query(q: MetricQuery): DataFrame = {
    // unknown metric → empty frame with the query's real output schema
    // (tag, bucket, value as applicable), not a bare [value] stub
    val mid = metricIdOf(q.metric).getOrElse(
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(
          q.groupByTag.map(t => StructField(t, StringType)).toSeq ++
          q.stepMs.map(_ => StructField("bucket_ms", LongType)).toSeq :+
          StructField("value", DoubleType))))
    queryWithTsids(mid, lookupTsids(mid, q.labelFilters), q,
      q.groupByTag.toSeq)
  }

  /** Capped label-VALUES discovery frame — the engine behind
    * `GET /api/v1/label/<name>/values` (no-selector arm): distinct values
    * of `label` (`__name__` = the metric-name dictionary), sorted. While
    * the driver dictionary (the series catalog, or for `__name__` the
    * metric dictionary) is loaded, the values come from it: uncapped,
    * a sorted local frame that runs no job. Above its cap they come from
    * the `tags`/`metrics` scan, sorted in the plan, so a high-cardinality
    * label (instance / pod ids — this endpoint's worst customer,
    * refreshed per Grafana variable) never stages its full value
    * dictionary on the driver. A capped call (`limit` below
    * Int.MaxValue, the API's explicit no-limit contract) takes the first
    * `limit` sorted values on the driver while the dictionary is loaded,
    * and sorts and limits INSIDE the plan (TakeOrderedAndProject) above
    * its cap. */
  def labelValues(label: String, limit: Int = Int.MaxValue): DataFrame =
    if (label == "__name__")
      discovery(loadedDict().map(_.keys), "metric_name", limit,
        metrics.scan(ScanRequest(projection = Some(Seq("metric_name")))))
    else
      discovery(loadedCatalog().map(_.byMetric.valuesIterator
          .flatMap(_.valuesIterator.flatMap(_.labels.get(label))).toSet),
        "tag_value", limit,
        tags.scan(ScanRequest(
          predicates = Seq(col("tag_key") === label),
          projection = Some(Seq("tag_value")))))

  /** Capped label-NAMES discovery frame — the engine behind
    * `GET /api/v1/labels` (no-selector arm): distinct tag keys plus the
    * implicit `__name__`, sorted — from the catalog with no job, or
    * above its cap from the `tags` scan; capped like [[labelValues]]. */
  def labelKeys(limit: Int = Int.MaxValue): DataFrame =
    discovery(loadedCatalog().map(_.keysByMetric.valuesIterator.flatten.toSet + "__name__"),
      "tag_key", limit,
      tags.scan(ScanRequest(projection = Some(Seq("tag_key"))))
        .union(spark.range(1).select(lit("__name__").as("tag_key"))))

  /** One discovery column `c`: the driver's `local` values, sorted and
    * cut to `limit` on the driver, as a local frame (no job); or (None:
    * above the driver cap) `scan`'s distinct values sorted, and a capped
    * `limit` taken, in the plan. */
  private def discovery(local: Option[Iterable[String]], c: String, limit: Int,
      scan: => DataFrame): DataFrame = local match {
    case Some(vs) => localFrame(vs.toSeq.distinct.sorted(utf8Order).take(limit).map(Row(_)),
      StructType(Seq(StructField(c, StringType))))
    case None =>
      val sorted = scan.distinct().orderBy(c)
      if (limit == Int.MaxValue) sorted else sorted.limit(limit)
  }

  /** [[query]] with the step-1 TSID set already resolved — the PromQL
    * fast path resolves index-exact regex matchers itself and hands the
    * frame down. */
  private[metric] def queryWithTsids(mid: Long, tsids: DataFrame,
      q: MetricQuery, tags: Seq[String]): DataFrame = {
    var rows = data.scan(ScanRequest(range = q.range,
        predicates = Seq(col("metric_id") === mid)))
      .join(maybeBroadcast(tsids), Seq("tsid"), "left_semi")
    if (q.rate)
      rows = rows.withColumn("value", graft.functions.Rate.resetAwareDelta(
        col("value"), Seq(col("tsid")), Seq(col("ts"))))
    val bucketCol = q.stepMs.map(st => (floor(col("ts") / lit(st)).cast("long") * st).as("bucket_ms"))
    joinGroupTags(rows, tags, q.stepMs.isDefined, mid, bucketCol) { (grouped, keys) =>
      val valueAgg = q.agg match {
        case MetricAgg.Sum => sum(col("value"))
        case MetricAgg.Min => min(col("value"))
        case MetricAgg.Max => max(col("value"))
        case MetricAgg.Avg => avg(col("value"))
        case MetricAgg.Count => count(lit(1)).cast("double")
        case MetricAgg.Stddev => stddev_pop(col("value"))
        case MetricAgg.Stdvar => var_pop(col("value"))
        case MetricAgg.Group => max(lit(1.0))
      }
      if (keys.isEmpty) grouped.agg(valueAgg.as("value"))
      else grouped.groupBy(keys: _*).agg(valueAgg.as("value"))
    }
  }

  /** Shared fast-path grouping-label machinery (engine raw queries AND
    * rollup queries): join each grouping label's value from the index
    * under a reserved positional alias — legal Prometheus label names
    * include this frame's structural column names (value/ts/tsid/
    * bucket_ms), so bare names would collide mid-plan — left join + ""
    * default (series without the tag stay as the empty-label group,
    * Prometheus by() semantics; inner would silently drop them), run
    * `agg` over (joined rows, alias keys ++ bucket), rename aliases back.
    * Output-name collisions that cannot be represented at all (a group
    * column named like the value or bucket output) are rejected with a
    * pointer to the general path, which prefix-isolates every label. */
  private[metric] def joinGroupTags(rows0: DataFrame, tags0: Seq[String],
      hasBucket: Boolean, mid: Long, bucketCol: Option[Column])(
      agg: (DataFrame, Seq[Column]) => DataFrame): DataFrame = {
    val tags = tags0.distinct
    val aliases = tags.indices.map(i => s"__graft_tag_${i}__")
    tags.foreach { tag =>
      require(tag != "value" && !(hasBucket && tag == "bucket_ms"),
        s"grouping label '$tag' would collide with the '$tag' OUTPUT " +
          "column of the aggregation — unsupported by the engine's flat " +
          "result frames; rename the label at ingest")
    }
    var rows = rows0
    if (tags.nonEmpty) {
      // ONE label join however many grouping tags (round 14): a per-series
      // tag_key→value map — the per-tag loop this replaces built |tags|
      // joins per query
      val lbls = labelMapFrame(loadedCatalog(), mid, tags, "__graft_tags__")
      rows = rows.join(maybeBroadcast(lbls), Seq("tsid"), "left")
      tags.zip(aliases).foreach { case (tag, al) =>
        rows = rows.withColumn(al,
          coalesce(col("__graft_tags__").getItem(tag), lit("")))
      }
      rows = rows.drop("__graft_tags__")
    }
    val out = agg(rows, aliases.map(col) ++ bucketCol.toSeq)
    tags.zip(aliases).foldLeft(out) { case (df, (tag, al)) =>
      df.withColumnRenamed(al, tag) }
  }

  /** (tsid, `out`: the series' labels restricted to `keys`) of metric
    * `mid`'s series: a local frame from the catalog `cat` with no job,
    * or above its cap ONE index scan aggregated per series (series
    * carrying none of `keys` are absent there; a left join reads both
    * the same). */
  private[graft] def labelMapFrame(cat: Option[SeriesCatalog], mid: Long,
      keys: Seq[String], out: String): DataFrame = cat match {
    case Some(c) =>
      val wanted = keys.toSet
      localFrame(c.series(mid).map { case (tsid, s) =>
          Row(tsid, s.labels.filter(kv => wanted(kv._1))) }.toSeq,
        StructType(Seq(StructField("tsid", LongType),
          StructField(out, MapType(StringType, StringType)))))
    case None =>
      index.scan(ScanRequest(predicates = Seq(
          col("metric_id") === mid, col("tag_key").isin(keys: _*))))
        .groupBy("tsid")
        .agg(map_from_entries(collect_list(
          struct(col("tag_key"), col("tag_value")))).as(out))
  }

  /** Unknown-metric result for a fast-path aggregation: empty, with the
    * aggregation's real output schema (group labels, bucket, value). */
  private def emptyAggFrame(by: Seq[String],
      stepMs: Option[Long]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(by.distinct.map(t => StructField(t, StringType)) ++
        stepMs.map(_ => StructField("bucket_ms", LongType)).toSeq :+
        StructField("value", DoubleType)))

  /** PromQL text → the engine's storage. Two execution tiers:
    *
    * FAST PATH — the reference RFC's scope (20220702-prometheus-read-
    * extension.md:78-99, sum+rate pushdown, generalized to every
    * [[MetricAgg]]), taken when every matcher is `=` (index-prunable) and
    * the shape lowers onto [[MetricQuery]]'s two-step TSID semi-join:
    *  - `metric{tags}` → raw (tsid, ts_ms, value) selection
    *  - `agg by (tag) (metric{tags})` → bucketed aggregation
    *  - `sum by (tag) (rate(metric{tags}[w]))` → reset-aware per-second
    *    rate at the window (sum commutes with the per-series division)
    *
    * GENERAL PATH — everything else (regex/negative matchers, multi-label
    * grouping, topk/bottomk/quantile, binary operators): the referenced
    * label columns are joined onto the data scan from the series catalog
    * (a broadcast local frame; the index tables above its cap) and the full
    * [[graft.promql.PromQLContext]] evaluator runs with tsid as the series
    * identity. `=` and positive non-empty-matching regex matchers push down
    * into the index as a TSID semi-join prune; the rest (negative /
    * empty-matching, which select ABSENT labels) evaluate post-join on the
    * coalesced label columns. Binary operators match on grouped label
    * columns, so combine DIFFERENT metrics through aggregations
    * (`sum(a)/sum(b)`), as raw range-vector operands carry per-metric tsids.
    */
  /** Label sets of the series matching a PromQL selector — the
    * `/api/v1/series` discovery surface, in canonical-key order
    * (name-major: the key starts with the metric name), at most `limit`.
    * While the catalog and the metric dictionary are loaded, the match
    * runs on the driver with no Spark job. Above either cap the metric
    * set resolves as a FRAME ([[MatchedMetrics.ids]]), series match
    * DISTRIBUTED through [[matchedSeriesFrameAll]], and ONE
    * `TakeOrderedAndProject(limit)` on the key collects the survivors —
    * one job however many names a federation regex matches, never more
    * than `limit` keys on the driver. Both arms apply exact Prometheus
    * matcher semantics (anchored regexes, absent label = ""). */
  def seriesFor(selectorText: String, limit: Int = 1000): Seq[Map[String, String]] = {
    import graft.promql._
    val sel = PromQLParser.parse(selectorText) match {
      case s: Selector => s
      case other => throw new IllegalArgumentException(
        s"series discovery takes a plain selector, got: $other")
    }
    val matched = new MatchedMetrics(Seq(sel.allMatchers))
    val labelMs = sel.matchers.filterNot(_.label == "__name__")
    val keys = (loadedCatalog(), matched.all) match {
      case (Some(c), Some(pairs)) =>
        val keep = labelsMatch(labelMs)
        pairs.flatMap(p => c.series(p._2).valuesIterator
            .collect { case s if keep(s.labels) => s.key })
          .sorted(utf8Order).take(limit)
      case _ =>
        matchedSeriesFrameAll(None, None, matched.ids, labelMs)
          .select("series_key").orderBy("series_key").limit(limit)
          .collect().map(_.getString(0)).toSeq
    }
    keys.map { k =>
      val (name, labels) = MetricEngine.parseSeriesKey(k)
      labels + ("__name__" -> name)
    }
  }

  /** By-labels the [[query]] fast path lowers onto [[MetricQuery]]:
    * everything except `__name__` (the fast path's index join has no
    * __name__ tag and would label the group "" silently). Structural-name
    * collisions (a label literally called "value"/"ts"/"tsid"/"bucket_ms")
    * are handled inside [[query]] via an internal join alias; the one
    * irreconcilable name ("value", whose group column would collide with
    * the value output) fails fast there with a clear message — the general
    * path cannot represent it either (labels rename to bare names in the
    * evaluator's output contract). */
  private def fastPathSafeLabel(l: String): Boolean = l != "__name__"

  def queryPromQL(text: String, range: TimeRange,
      stepMs: Option[Long] = None): DataFrame = {
    import graft.promql._
    val ast0 = PromQLParser.parse(text)
    // `@ start()` / `@ end()` resolve against the query's inclusive bounds
    // (the engine's range is half-open, hence end - 1)
    val ast =
      if (!PromQLParser.hasAtSentinel(ast0)) ast0
      else {
        require(range.start != Long.MinValue && range.end != Long.MaxValue,
          "@ start()/end() need an explicit bounded query range")
        PromQLParser.resolveAtTimes(ast0, range.start, range.end - 1)
      }
    queryPromQLAst(ast, range, stepMs)
  }

  /** [[queryPromQL]] over an already-parsed (and @-resolved) AST — the
    * shared tail for the instant path, whose sentinels resolve to the
    * evaluation time rather than the range bounds. */
  private def queryPromQLAst(ast: graft.promql.Expr, range: TimeRange,
      stepMs: Option[Long]): DataFrame = {
    import graft.promql._
    // EXACT sliding range windows (round 12, opt-in via
    // `graft.promql.rangeWindows=sliding`): stepped range queries
    // evaluate every range function on Prometheus's per-step `(T-w, T]`
    // window instead of tumbling buckets — closing PROMQL.md deviation #1
    // for the Grafana graph shape, at the documented ⌈w/step⌉-copies
    // self-join cost the tumbling default avoids at 100 TB. Subqueries
    // participate (round 13): the inner expression evaluates on its own
    // epoch-aligned step grid in a nested sliding context, the outer
    // range function slides over those inner points — Prometheus's exact
    // two-level timeline. Native-histogram routing keeps its tumbling
    // grid.
    val sliding: Option[(Long, TimeRange)] =
      if (stepMs.isDefined &&
          spark.conf.getOption("graft.promql.rangeWindows")
            .contains("sliding") &&
          MetricEngine.rangeWindows(ast).nonEmpty) {
        require(range.start != Long.MinValue && range.end != Long.MaxValue,
          "sliding range windows need an explicit bounded query range")
        Some((stepMs.get, range))
      } else None
    // A requested step that disagrees with a range-function window would be
    // silently ignored (windows own their buckets) — reject it up front on
    // BOTH paths. Sliding mode decouples the two: any step works against
    // any window.
    if (sliding.isEmpty)
      for (st <- stepMs; w <- MetricEngine.rangeWindows(ast) if w != st)
        throw new IllegalArgumentException(
          s"step ($st ms) must equal the range-function window ($w ms): " +
            "windowed functions define their own buckets")
    // NATIVE histogram RANGE routing (round 11): the graph shapes —
    // histogram_quantile over rate/increase (tumbling window buckets,
    // deltas chained across buckets exactly like the scalar rate path)
    // and over the bare selector (newest histogram per step bucket) —
    // answer from the histograms table when the metric has native rows
    // in the range; classic le-series keep the evaluator's path.
    ast match {
      case HistogramQuantile(q,
          RangeFn(RangeF.Rate | RangeF.Increase, sel, w)) =>
        nativeHistogramRangeQuantile(q, sel, range,
          bucketMs = Some(w), rate = true) match {
          case Some(df) => return df
          case None =>
        }
      case HistogramQuantile(q, sel: Selector) if stepMs.isDefined =>
        nativeHistogramRangeQuantile(q, sel, range,
          bucketMs = stepMs, rate = false) match {
          case Some(df) => return df
          case None =>
        }
      case HistogramQuantile(q, Agg(MetricAgg.Sum, by,
          RangeFn(RangeF.Rate | RangeF.Increase, sel, w), false)) =>
        nativeHistogramAggQuantileRange(q, by, sel, range,
          bucketMs = w, rate = Some(w)) match {
          case Some(df) => return df
          case None =>
        }
      case HistogramQuantile(q, Agg(MetricAgg.Sum, by, sel: Selector,
          false)) if stepMs.isDefined =>
        nativeHistogramAggQuantileRange(q, by, sel, range,
          bucketMs = stepMs.get, rate = None) match {
          case Some(df) => return df
          case None =>
        }
      case _ =>
    }
    ast match {
      // metric == "" (bare {...} selector) always takes the general path —
      // it selects across metrics resolved from __name__ matchers.
      // indexExact admits `=` AND positive non-empty-matching regexes:
      // both resolve to exactly their series through the index dictionary
      // (regexes run on the small (tag_value, tsid) frame, never the scan).
      case sel: Selector
          if sel.metric.nonEmpty && indexExact(sel.matchers) &&
            sel.offsetMs == 0L =>
        // unknown metric → empty frame with the SELECTOR's schema, so
        // unions/projections behave the same as for a known metric
        val mid = metricIdOf(sel.metric).getOrElse(
          return spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType(Seq(StructField("tsid", LongType, nullable = false),
              StructField("ts_ms", LongType, nullable = false),
              StructField("value", DoubleType, nullable = false)))))
        data.scan(ScanRequest(range = range,
            predicates = Seq(col("metric_id") === mid)))
          .join(maybeBroadcast(indexExactTsids(loadedCatalog(), mid, sel.matchers)),
            Seq("tsid"), "left_semi")
          .select(col("tsid"), col("ts").as("ts_ms"), col("value"))
      // by (__name__) must take the general path — the fast path's index
      // join has no __name__ tag and would label the group "" silently.
      // Any NUMBER of other labels groups on the fast path (round 10):
      // each joins from the index under a positional alias, so even
      // structural-column label names (ts/tsid) group correctly; only a
      // label named like the value/bucket OUTPUT column is rejected.
      case Agg(op, by, sel: Selector, false)
          if sel.metric.nonEmpty && indexExact(sel.matchers) &&
            sel.offsetMs == 0L && by.forall(fastPathSafeLabel) =>
        val q = MetricQuery(sel.metric, Map.empty, range, stepMs, op,
          by.headOption) // tsids/tags resolved below; labelFilters unused
        val mid = metricIdOf(sel.metric).getOrElse(
          return emptyAggFrame(by, stepMs))
        val tsids = indexExactTsids(loadedCatalog(), mid, sel.matchers)
        // transparent downsampling: a registered rollup answers combinable
        // aggregations from its partials when the step aligns — the same
        // result, grid/interval× less scan (Rollup Scaladoc; RollupSpec
        // asserts rollup ≡ raw)
        rollupRouted(q, tsids, by).getOrElse(queryWithTsids(mid, tsids, q, by))
      case Agg(MetricAgg.Sum, by,
            RangeFn(fn @ (RangeF.Rate | RangeF.Increase), sel, win), false)
          if sliding.isEmpty && // the fast path's grid is tumbling
            sel.metric.nonEmpty && indexExact(sel.matchers) &&
            sel.offsetMs == 0L && stepMs.forall(_ == win) &&
            by.forall(fastPathSafeLabel) =>
        val q = MetricQuery(sel.metric, Map.empty, range,
          Some(win), MetricAgg.Sum, by.headOption, rate = true)
        val mid = metricIdOf(sel.metric).getOrElse(
          return emptyAggFrame(by, Some(win)))
        val tsids = indexExactTsids(loadedCatalog(), mid, sel.matchers)
        // counter rollups route here too: per-bucket (first, last, inc)
        // partials reconstruct the raw path's reset-aware deltas exactly
        val inc = rollupRouted(q, tsids, by)
          .getOrElse(queryWithTsids(mid, tsids, q, by))
        if (fn == RangeF.Rate) inc.withColumn("value", col("value") / (win / 1000.0))
        else inc
      case other =>
        // sliding mode widens the read by the expression's TOTAL lookback
        // (windows; subquery timelines ADD their own window to the
        // child's): the first step's (T-w, T] window reaches that far
        // before the output range. The exploded sliding grids clamp
        // range-function output back to the original range themselves;
        // the filter below clamps stepped NON-range subexpressions
        // (absent(), bare stepped aggs in an `or` arm) that would
        // otherwise surface widened-range buckets the user never asked
        // for.
        val evalRange = sliding match {
          case Some(_) =>
            TimeRange(range.start -
              graft.promql.PromQLContext.slidingLookback(other) + 1,
              range.end)
          case None => range
        }
        val out0 = promqlContextFor(other, evalRange, sliding = sliding)
          .eval(other, stepMs, Some(evalRange))
        val out = sliding match {
          case Some(_) =>
            Seq("bucket_ms", "ts_ms").find(out0.columns.contains)
              .map(c =>
                out0.filter(col(c) >= range.start && col(c) < range.end))
              .getOrElse(out0)
          case None => out0
        }
        other match {
          // bare selector: same (tsid, ts_ms, value) contract as the fast
          // path, whichever matcher spelling routed it here
          case _: Selector => out.select("tsid", "ts_ms", "value")
          case _ => out
        }
    }
  }

  /** Instant-vector evaluation at one timestamp — the engine behind the
    * Prometheus `GET /api/v1/query` endpoint (one value per series, no
    * time axis).
    *
    * Windowless expressions get EXACT Prometheus semantics: each series is
    * restricted to its newest sample in `(timeMs - lookbackMs, timeMs]`
    * (Prometheus's lookback delta, default 5 m) BEFORE evaluation, so any
    * aggregation / binary-operator tree over one-sample-per-series frames
    * computes exactly the instant value. Stale series (no sample within
    * the lookback) drop out, as Prometheus drops them.
    *
    * Windowed expressions (round 11): EXACT sliding lookback — every
    * un-pinned range selector pins to the evaluation time
    * ([[graft.promql.PromQLParser.pinRangeSelectors]]), so `rate(m[5m])`
    * at any unaligned T reads Prometheus's exact boundary-inclusive
    * `(T-w, T]` window, manifest-pruned to exactly that range (tighter
    * than the old 2-window tumbling scan). Windowless subexpressions in
    * the same tree keep their newest-sample instant semantics.
    * SUBQUERIES keep the evaluator's documented tumbling deviation (the
    * inner step timeline is bucketized by construction): the whole
    * expression evaluates over the last two windows ending at `timeMs`
    * and each series reports its NEWEST bucket.
    *
    * Output: the same frame shapes as [[queryPromQL]], minus any
    * time column — callers stamp the evaluation time themselves. */
  def instantPromQL(text: String, timeMs: Long,
      lookbackMs: Long = 300000L): DataFrame = {
    import graft.promql._
    require(lookbackMs > 0, s"lookbackMs must be positive, got $lookbackMs")
    // instant queries define start() = end() = the evaluation time
    val ast = PromQLParser.resolveAtTimes(
      PromQLParser.parse(text), timeMs, timeMs)
    // NATIVE histogram routing (round 11): `histogram_quantile(q, m{...})`
    // over a metric whose samples arrived as native histograms answers
    // from the histograms table — newest histogram per series within the
    // lookback, quantile over the native buckets. Classic le-bucket
    // series keep the evaluator's path (which this selector shape would
    // otherwise reject for a native-only metric: no `le` label exists).
    ast match {
      case HistogramQuantile(q, sel: Selector) =>
        nativeHistogramQuantileInstant(q, sel, timeMs, lookbackMs) match {
          case Some(df) => return df
          case None => // classic path below
        }
      case HistogramQuantile(q,
          RangeFn(fn @ (RangeF.Rate | RangeF.Increase), sel, w)) =>
        // the canonical dashboard shape, histogram_quantile(q, rate(m[w])):
        // the quantile of the RATE histogram equals the quantile of the
        // INCREASE histogram (every bucket divides by the same window
        // seconds), so both route to the bucket-wise increase
        nativeHistogramRateQuantileInstant(q, sel, w, timeMs) match {
          case Some(df) => return df
          case None => // classic path below
        }
      case HistogramQuantile(q, Agg(MetricAgg.Sum, by,
          RangeFn(RangeF.Rate | RangeF.Increase, sel, w), false)) =>
        // cross-series aggregation, the service-level dashboard shape:
        // Prometheus sums native histograms bucket-wise, then quantiles
        nativeHistogramAggQuantileInstant(q, by, sel, Some(w), timeMs,
          lookbackMs) match {
          case Some(df) => return df
          case None =>
        }
      case HistogramQuantile(q, Agg(MetricAgg.Sum, by, sel: Selector,
          false)) =>
        nativeHistogramAggQuantileInstant(q, by, sel, None, timeMs,
          lookbackMs) match {
          case Some(df) => return df
          case None =>
        }
      case FnCall(n @ ("histogram_count" | "histogram_sum" |
          "histogram_avg" | "histogram_stddev" | "histogram_stdvar"),
          sel: Selector, _) =>
        nativeHistogramScalarInstant(n, sel, timeMs, lookbackMs) match {
          case Some(df) => return df
          case None => // the evaluator rejects these loudly below
        }
      case FnCall("histogram_fraction", sel: Selector, args)
          if args.length == 2 =>
        nativeHistogramFractionInstant(args(0), args(1), sel, timeMs,
          lookbackMs) match {
          case Some(df) => return df
          case None =>
        }
      case FnCall("histogram_count",
          RangeFn(fn @ (RangeF.Rate | RangeF.Increase), sel, w), _) =>
        // histogram_count(rate(m[w])) = observation rate — total count
        // increase over the exact window (÷ window seconds for rate)
        nativeHistogramCountRateInstant(fn == RangeF.Rate, sel, w,
          timeMs) match {
          case Some(df) => return df
          case None =>
        }
      case _ =>
    }
    val ws = MetricEngine.rangeWindows(ast)
    val range = TimeRange(timeMs - lookbackMs + 1, timeMs + 1)
    if (ws.isEmpty) {
      val out = promqlContextFor(ast, range, latestOnly = true)
        .eval(ast, None, Some(range))
      ast match {
        // bare selector: (tsid, ts_ms, value) like queryPromQL — ts_ms is
        // each series' actual newest sample time (informational; the HTTP
        // envelope stamps the evaluation time, as Prometheus does)
        case _: Selector => out.select("tsid", "ts_ms", "value")
        case _ => out
      }
    } else PromQLParser.pinRangeSelectors(ast, timeMs + 1) match {
      case Some(pinned) =>
        // exact (T-w, T] windows; pinned reads widen the prune themselves
        promqlContextFor(pinned, range, latestOnly = true)
          .eval(pinned, None, Some(range))
      case None =>
        // subquery in the tree → tumbling instant fallback
        val w = ws.max
        val tRange = TimeRange(timeMs - 2 * w + 1, timeMs + 1)
        val step = if (ws.distinct.length == 1) Some(ws.head) else None
        // the @-resolved AST, not the text — a re-parse would re-resolve
        // start()/end() against the 2-window range instead of timeMs
        newestBucketPerSeries(queryPromQLAst(ast, tRange, step))
    }
  }

  /** [[instantPromQL]] with DECODED LABEL columns on every output shape —
    * the rule-evaluation entry point ([[graft.server.RuleEngine]]): a
    * recording rule re-writes its result as a new metric, so the frame
    * must carry the label columns the recorded series are keyed by, not
    * the bare-selector `(tsid, ts_ms, value)` contract the serving
    * endpoint renders from.
    *
    * Differences from [[instantPromQL]], both shape-only (values are
    * evaluated identically):
    *  - bare selectors keep their label columns (plus `__name__`) instead
    *    of narrowing to tsid;
    *  - windowed expressions always evaluate on the general labeled path
    *    (never the tsid-shaped fast paths), with the same exact
    *    sliding-lookback pinning as [[instantPromQL]] (subqueries fall
    *    back to tumbling + newest bucket). */
  def instantPromQLLabeled(text: String, timeMs: Long,
      lookbackMs: Long = 300000L): DataFrame = {
    import graft.promql._
    require(lookbackMs > 0, s"lookbackMs must be positive, got $lookbackMs")
    val ast = PromQLParser.resolveAtTimes(
      PromQLParser.parse(text), timeMs, timeMs)
    val ws = MetricEngine.rangeWindows(ast)
    val range = TimeRange(timeMs - lookbackMs + 1, timeMs + 1)
    if (ws.isEmpty) {
      promqlContextFor(ast, range, latestOnly = true, allLabels = true)
        .eval(ast, None, Some(range))
    } else PromQLParser.pinRangeSelectors(ast, timeMs + 1) match {
      case Some(pinned) =>
        promqlContextFor(pinned, range, latestOnly = true, allLabels = true)
          .eval(pinned, None, Some(range))
      case None =>
        val w = ws.max
        val tRange = TimeRange(timeMs - 2 * w + 1, timeMs + 1)
        val step = if (ws.distinct.length == 1) Some(ws.head) else None
        newestBucketPerSeries(
          promqlContextFor(ast, tRange, allLabels = true)
            .eval(ast, step, Some(tRange)))
    }
  }

  /** The native-histogram arm of instant `histogram_quantile(q, sel)`:
    * newest histogram row per matched series within `(T-lookback, T]`
    * (Prometheus's instant-selector restriction), then
    * [[NativeHistograms.quantile]] over the native buckets. Output: one
    * row per series with `__name__` + every label of the metric decoded
    * from the series key (absent labels null — the serving edge skips
    * them, exactly the Prometheus labelset) + `value`. Returns None —
    * fall through to the classic le-bucket path — when the selector has
    * an offset (rare on this shape; classic handles it) or no native
    * histogram rows match; the no-rows probe is guarded by a driver-side
    * manifest check, so engines that never ingested native histograms
    * pay nothing. */
  private def nativeHistogramQuantileInstant(q: Double,
      sel: graft.promql.Selector, timeMs: Long,
      lookbackMs: Long): Option[DataFrame] =
    newestMatchedHistograms(sel, timeMs, lookbackMs).map(newest =>
      decorateSeriesLabels(
        NativeHistograms.quantile(newest, Seq(q)), sel.allMatchers))

  /** `histogram_count/sum/avg(m{...})` over the newest native histogram
    * per series within the lookback. */
  private def nativeHistogramScalarInstant(name: String,
      sel: graft.promql.Selector, timeMs: Long,
      lookbackMs: Long): Option[DataFrame] =
    newestMatchedHistograms(sel, timeMs, lookbackMs).map { newest =>
      name match {
        case "histogram_stddev" | "histogram_stdvar" =>
          decorateSeriesLabels(
            NativeHistograms.stdvar(newest, name == "histogram_stddev"),
            sel.allMatchers)
        case _ =>
          val v = name match {
            case "histogram_count" => col("count")
            case "histogram_sum" => col("sum")
            case _ => when(col("count") <= 0.0, lit(Double.NaN))
              .otherwise(col("sum") / col("count"))
          }
          decorateSeriesLabels(newest.withColumn("value", v),
            sel.allMatchers)
      }
    }

  /** `histogram_fraction(lo, hi, m{...})` over the newest native
    * histogram per series (linear within-bucket interpolation — see
    * [[NativeHistograms.fraction]]). */
  private def nativeHistogramFractionInstant(lo: Double, hi: Double,
      sel: graft.promql.Selector, timeMs: Long,
      lookbackMs: Long): Option[DataFrame] =
    newestMatchedHistograms(sel, timeMs, lookbackMs).map(newest =>
      decorateSeriesLabels(
        NativeHistograms.fraction(newest, lo, hi), sel.allMatchers))

  /** `histogram_count(rate(m[w]))` at one instant: the total-count
    * increase over the exact `(T-w, T]` window, per second when `rate`. */
  private def nativeHistogramCountRateInstant(rate: Boolean,
      sel: graft.promql.Selector, windowMs: Long,
      timeMs: Long): Option[DataFrame] = {
    if (sel.offsetMs != 0L) return None
    if (histograms.manifest.allSsts().isEmpty) return None
    val matchers = sel.allMatchers
    val rows = scanMatchedHistograms(matchers,
      TimeRange(timeMs - windowMs + 1, timeMs + 1))
    if (rows.isEmpty) return None
    val inc = NativeHistograms.increase(rows)
    val v = if (rate) col("count") / lit(windowMs / 1000.0) else col("count")
    Some(decorateSeriesLabels(inc.withColumn("value", v), matchers))
  }

  /** Newest matched native histogram per series within `(T-lookback, T]`
    * — the shared instant-selector restriction of every native arm;
    * None when the selector can't answer natively. */
  private def newestMatchedHistograms(sel: graft.promql.Selector,
      timeMs: Long, lookbackMs: Long): Option[DataFrame] = {
    if (sel.offsetMs != 0L) return None
    if (histograms.manifest.allSsts().isEmpty) return None
    val rows = scanMatchedHistograms(sel.allMatchers,
      TimeRange(timeMs - lookbackMs + 1, timeMs + 1))
    if (rows.isEmpty) return None
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("series_key")).orderBy(col("ts_ms").desc)
    Some(rows.withColumn("__rn__", row_number().over(win))
      .filter(col("__rn__") === 1).drop("__rn__"))
  }

  /** The `histogram_quantile(q, rate(m[w]))` arm (round 11): bucket-wise
    * reset-aware increase over the exact `(T-w, T]` window
    * ([[NativeHistograms.increase]]), then the quantile over the increase
    * histogram — identical to the rate histogram's quantile, since every
    * bucket divides by the same window seconds. */
  private def nativeHistogramRateQuantileInstant(q: Double,
      sel: graft.promql.Selector, windowMs: Long,
      timeMs: Long): Option[DataFrame] = {
    if (sel.offsetMs != 0L) return None
    if (histograms.manifest.allSsts().isEmpty) return None
    val matchers = sel.allMatchers
    // transparent rollup routing (round 12): a fresh grid-aligned
    // histogram rollup reconstructs the window's bucket-wise increase
    // from grid/interval× fewer partial rows; the grid covers [T-w, T)
    // (HistogramRollup.increaseFromGrid's dialect note)
    histRollupFor(timeMs - windowMs, timeMs).foreach { hr =>
      // None = no partials OR a schema change across grid buckets in the
      // window — fall through to raw, which downscales the mix exactly
      hr.increaseFromGrid(matchers, TimeRange(timeMs - windowMs, timeMs))
        .foreach(inc => return Some(decorateSeriesLabels(
          NativeHistograms.quantile(inc, Seq(q)), matchers)))
    }
    val rows = scanMatchedHistograms(matchers,
      TimeRange(timeMs - windowMs + 1, timeMs + 1))
    if (rows.isEmpty) return None
    Some(decorateSeriesLabels(
      NativeHistograms.quantile(NativeHistograms.increase(rows), Seq(q)),
      matchers))
  }

  /** Range-query native-histogram quantile (the graph shapes): with
    * `rate = true`, bucket-wise reset-aware increase on the tumbling
    * `bucketMs` grid (deltas chained across buckets like the scalar rate
    * path) then the quantile per (series, bucket); with `rate = false`,
    * the newest histogram per (series, step bucket). Buckets whose
    * increase count is 0 (a time bucket holding only the overall-first
    * sample) drop — Prometheus's "rate needs two samples" rule, realized
    * as the quantile's NaN filtered out. */
  private def nativeHistogramRangeQuantile(q: Double,
      sel: graft.promql.Selector, range: TimeRange,
      bucketMs: Option[Long], rate: Boolean): Option[DataFrame] = {
    if (sel.offsetMs != 0L) return None
    if (histograms.manifest.allSsts().isEmpty) return None
    val matchers = sel.allMatchers
    // rollup routing for the GRAPH shape (round 12): a fresh rollup whose
    // grid divides the window answers each tumbling bucket from partials
    for (w <- bucketMs if rate; hr <- histRollupForRange(range, w);
        inc <- hr.increaseFromGridBucketed(matchers, range, w)) {
      val quant = NativeHistograms.quantile(inc, Seq(q))
        .filter(!isnan(col("value")))
      return Some(decorateSeriesLabels(quant, matchers,
        extraCols = Seq("bucket_ms")))
    }
    val rows = scanMatchedHistograms(matchers, range)
    if (rows.isEmpty) return None
    val hist =
      if (rate) NativeHistograms.increase(rows, bucketMs)
      else {
        val b = bucketMs.getOrElse(sys.error("selector shape needs a step"))
        val bucketed = rows.withColumn("bucket_ms",
          floor(col("ts_ms") / lit(b)).cast("long") * b)
        val win = org.apache.spark.sql.expressions.Window
          .partitionBy(col("series_key"), col("bucket_ms"))
          .orderBy(col("ts_ms").desc)
        bucketed.withColumn("__rn__", row_number().over(win))
          .filter(col("__rn__") === 1).drop("__rn__")
      }
    val quant = NativeHistograms.quantile(hist, Seq(q))
      .filter(!isnan(col("value")))
    Some(decorateSeriesLabels(quant, matchers, extraCols = Seq("bucket_ms")))
  }

  /** Instant `histogram_quantile(q, sum by (labels) (...))` over native
    * histograms: the per-series vector (windowed increase when
    * `windowMs` is set, else the newest histogram within the lookback),
    * summed bucket-wise per by-group, then the quantile. */
  private def nativeHistogramAggQuantileInstant(q: Double, by: Seq[String],
      sel: graft.promql.Selector, windowMs: Option[Long], timeMs: Long,
      lookbackMs: Long): Option[DataFrame] = {
    val histOpt = windowMs match {
      case Some(w) =>
        if (sel.offsetMs != 0L || histograms.manifest.allSsts().isEmpty)
          None
        else {
          // rollup-routed window increase when a fresh aligned grid exists
          val routed = histRollupFor(timeMs - w, timeMs).flatMap(
            _.increaseFromGrid(sel.allMatchers,
              TimeRange(timeMs - w, timeMs)))
          routed.orElse {
            val rows = scanMatchedHistograms(sel.allMatchers,
              TimeRange(timeMs - w + 1, timeMs + 1))
            if (rows.isEmpty) None else Some(NativeHistograms.increase(rows))
          }
        }
      case None => newestMatchedHistograms(sel, timeMs, lookbackMs)
    }
    histOpt.map(h => nativeHistogramSumQuantile(q, by, h, bucketed = false))
  }

  /** Range `histogram_quantile(q, sum by (labels) (...))` over native
    * histograms: bucket-wise increase on the tumbling `bucketMs` grid
    * (or the newest histogram per step bucket when `rate` is None),
    * summed per (by-group, time bucket), then the quantile; count-0
    * groups drop like the per-series range path. */
  private def nativeHistogramAggQuantileRange(q: Double, by: Seq[String],
      sel: graft.promql.Selector, range: TimeRange, bucketMs: Long,
      rate: Option[Long]): Option[DataFrame] = {
    if (sel.offsetMs != 0L) return None
    if (histograms.manifest.allSsts().isEmpty) return None
    // rollup routing for the aggregated graph shape (round 12)
    for (w <- rate; hr <- histRollupForRange(range, w);
        inc <- hr.increaseFromGridBucketed(sel.allMatchers, range, w))
      return Some(nativeHistogramSumQuantile(q, by, inc, bucketed = true))
    val rows = scanMatchedHistograms(sel.allMatchers, range)
    if (rows.isEmpty) return None
    val hist = rate match {
      case Some(w) => NativeHistograms.increase(rows, Some(w))
      case None =>
        val bucketed = rows.withColumn("bucket_ms",
          floor(col("ts_ms") / lit(bucketMs)).cast("long") * bucketMs)
        val win = org.apache.spark.sql.expressions.Window
          .partitionBy(col("series_key"), col("bucket_ms"))
          .orderBy(col("ts_ms").desc)
        bucketed.withColumn("__rn__", row_number().over(win))
          .filter(col("__rn__") === 1).drop("__rn__")
    }
    Some(nativeHistogramSumQuantile(q, by, hist, bucketed = true))
  }

  /** Shared tail: decode the by-labels from the series key (absent
    * label = "", the evaluator's grouping convention), sum histograms
    * per (by-group[, time bucket]), quantile, shape the output. */
  private def nativeHistogramSumQuantile(q: Double, by: Seq[String],
      hist: DataFrame, bucketed: Boolean): DataFrame = {
    // by-labels sharing a histogram payload column name would overwrite
    // it during label decoration and silently corrupt the sum — reject
    // (the evaluator has the same guard for its structural columns)
    val reserved = Set("count", "sum", "bucket_schema", "zero_threshold",
      "zero_count", "pos_idx", "pos_cnt", "neg_idx", "neg_cnt",
      "custom_values", "series_key", "ts_ms", "bucket_ms", "value", "phi")
    by.find(reserved).foreach(l => throw new IllegalArgumentException(
      s"grouping label '$l' collides with the native-histogram " +
        "evaluation columns — unsupported; rename the label at ingest"))
    val withLabels = withSeriesLabels(hist, by)
    val keys0 = by ++ (if (bucketed) Seq("bucket_ms") else Nil)
    val (df, keys) =
      if (keys0.isEmpty) (withLabels.withColumn("__g__", lit(0)), Seq("__g__"))
      else (withLabels, keys0)
    val out = NativeHistograms.quantile(
      NativeHistograms.sumHistograms(df, keys), Seq(q))
    val shaped = if (bucketed) out.filter(!isnan(col("value"))) else out
    shaped.select((keys0.map(MetricEngine.qcol) :+ col("value")): _*)
  }

  /** Histogram rows of the matched series within `range`, shaped like
    * [[queryHistograms]] output (series_key + ts_ms + histogram cols).
    * Every caller probes `rows.isEmpty` to route native-vs-classic and
    * then evaluates over the same rows, so they are materialized once
    * with `localCheckpoint` (a lazy frame runs the scan and series join
    * for both: nh2–nh4 took 1.3–1.4× as long in `graft.Bench`). The
    * blocks free when the frame is garbage-collected; no CacheManager
    * entry is made, so no later query reads or matches against them. */
  private def scanMatchedHistograms(
      matchers: Seq[graft.promql.LabelMatcher],
      range: TimeRange): DataFrame = {
    val histCols = Seq("count", "sum", "bucket_schema", "zero_threshold",
      "zero_count", "pos_idx", "pos_cnt", "neg_idx", "neg_cnt",
      "custom_values")
    matchedSeriesScan(matchers, histograms, range,
      col("series_key") +: col("ts").as("ts_ms") +: histCols.map(col),
      StructType(StructField("series_key", StringType) +:
        StructField("ts_ms", LongType) +:
        MetricEngine.histogramsSchema.fields.toSeq
          .filter(f => histCols.contains(f.name))))
      .localCheckpoint()
  }

  /** Decode the given label keys from `series_key` into COLUMNS (absent
    * label = "", PromQL's grouping convention) — distributed, no driver
    * decode. */
  private def withSeriesLabels(df: DataFrame,
      keys: Seq[String]): DataFrame = {
    if (keys.isEmpty) return df
    val parsed = df.withColumn("__labels__",
      MetricEngine.seriesLabelsColumn(col("series_key")))
    keys.foldLeft(parsed)((d, k) =>
      d.withColumn(k, coalesce(element_at(col("__labels__"), k), lit(""))))
      .drop("__labels__")
  }

  /** series_key-keyed quantile rows -> the instant serving shape:
    * `__name__` + every label of the matcher-resolved metrics decoded
    * distributed from the series key (absent labels null -- the serving
    * edge skips them, exactly the Prometheus labelset) + `value`. */
  private def decorateSeriesLabels(quant: DataFrame,
      matchers: Seq[graft.promql.LabelMatcher],
      extraCols: Seq[String] = Nil): DataFrame = {
    val keys = new MatchedMetrics(Seq(matchers)).tagKeys(loadedCatalog()).toSeq.sorted
    // a label key named like a structural column (a label literally
    // called "value", or a carried ts_ms) would emit DUPLICATE output
    // columns whose fieldIndex resolution is arbitrary at the serving
    // edge — fail fast with the engine's documented data-model
    // restriction, like the evaluator and the native-histogram agg path
    val reserved = Set("value", "__name__", "__labels__", "series_key") ++
      extraCols
    keys.find(reserved.contains).foreach(k =>
      throw new IllegalArgumentException(
        s"label '$k' collides with the serving layer's structural " +
          "column names — rename the label at ingest"))
    // parse "name(\u0001key\u0002value)*" distributed -- no driver decode
    val parsed = quant.withColumn("__labels__",
      MetricEngine.seriesLabelsColumn(col("series_key")))
    val labelCols =
      MetricEngine.unescPartCol(
        substring_index(col("series_key"), "\u0001", 1)).as("__name__") +:
        keys.map(k => element_at(col("__labels__"), k).as(k))
    val carried = extraCols.filter(parsed.columns.contains).map(col)
    parsed.select((labelCols ++ carried) :+ col("value"): _*)
  }

  /** Newest bucket per series — the windowed-instant collapse shared by
    * [[instantPromQL]] and [[instantPromQLLabeled]]: series identity =
    * every non-structural column (lit(0) partitions the no-label case in
    * one partition — a handful of serving-edge rows, never a data-scale
    * frame). */
  private def newestBucketPerSeries(df: DataFrame): DataFrame = {
    if (!df.columns.contains("bucket_ms")) df
    else {
      val idCols = df.columns.filter(c => c != "value" && c != "bucket_ms")
      val part =
        if (idCols.isEmpty) Seq(lit(0))
        else idCols.toSeq.map(MetricEngine.qcol)
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(part: _*).orderBy(col("bucket_ms").desc)
      df.withColumn("__rn__", row_number().over(win))
        .filter(col("__rn__") === 1).drop("__rn__", "bucket_ms")
    }
  }

  /** Build a [[graft.promql.PromQLContext]] over the engine's storage for
    * the metrics and labels `expr` references: per metric, the data scan is
    * pruned and label-enriched by ONE broadcast join of a local frame of
    * the kept series' referenced labels, built from the series catalog
    * and broadcast with no job (above its cap: an index-table prune and a
    * label map aggregated from the index); metrics union into one frame with
    * `__name__`. Absent labels read "" → the evaluator's absent-is-empty
    * matcher semantics apply unchanged.
    *
    * `latestOnly` turns on the evaluator's instant-selector mode
    * ([[instantPromQL]]'s windowless instant semantics): each INSTANT
    * selector keeps only each series' newest sample within its own
    * offset-shifted evaluation range — per selector, not a global frame
    * restriction, so `offset` selectors and `@`-pinned windows see their
    * own timelines. Ordering ties on one timestamp break by the storage
    * merge order the scan already applied (newest SST wins), mirrored
    * here by `ts` alone — same-ms duplicates have already been merged by
    * the store. */
  private def promqlContextFor(expr: graft.promql.Expr,
      range: TimeRange, latestOnly: Boolean = false,
      allLabels: Boolean = false,
      sliding: Option[(Long, TimeRange)] = None): graft.promql.PromQLContext = {
    import graft.promql._
    def nodes(e: Expr): Seq[Expr] = e +: e.children.flatMap(nodes)
    val tree = nodes(expr)
    val selectorList = tree.collect {
      case s: Selector => s
      case RangeFn(_, s, _) => s
      case AtRange(_, s, _, _) => s
    }
    // Pinned windows (`@`) read [at - w, at) on the query timeline — the
    // raw scan needs [at - w - off, at - off), independent of the query
    // range (Prometheus @ may look outside [start, end]).
    val pinList = tree.collect { case AtRange(_, s, w, at) =>
      (s, TimeRange(at - w - s.offsetMs, at - s.offsetMs)) }
    // At or under the fan-out cap the evaluator keeps its statically
    // pruned per-metric branches; above it the plan switches to ONE
    // un-predicated scan semi-joined on the matched (metric_id, tsid)
    // series frame — plan size and driver staging independent of
    // matched-name cardinality (the same shape as [[matchedSeriesScan]];
    // reference docs/rfcs/20240827-metric-engine.md:121).
    val matched = new MatchedMetrics(selectorList.map(_.allMatchers))
    val cat = loadedCatalog()
    val someNames = matched.some
    val capped = matched.capped
    // Per-selector resolved names — branch-path bookkeeping only, so it
    // never materializes above the cap.
    val resolved: Map[Selector, Set[String]] =
      if (capped) Map.empty
      else selectorList.zip(matched.perSet(someNames))
        .map { case (s, ps) => s -> ps.map(_._1).toSet }.toMap
    // labels the evaluator READS must be joined from the index: matcher,
    // grouping and vector-matching labels, `le`, and the label functions'
    // sources (parse shapes: PromQL.scala parseLabelFn)
    val labelSetRaw = (selectorList.flatMap(_.matchers.map(_.label)) ++
      tree.flatMap {
        case Agg(_, by, _, _) => by
        case ParamAgg(_, _, by, _) => by
        case CountValues(_, by, _) => by
        case BinOp(_, _, _, _, matching) =>
          matching.toSeq.flatMap(vm => vm.labels ++ vm.include)
        case _: HistogramQuantile => Seq("le")
        // args = sep +: srcLabels; dst is overwritten unconditionally
        case LabelFn("label_join", _, _, args) => args.drop(1)
        // args = (replacement, src, regex); the EXISTING dst value is
        // preserved when the regex does not match, so dst is read too
        case LabelFn("label_replace", _, dst, args) => Seq(args(1), dst)
        // sort_by_label(_desc): every argument is a sort label (dst holds
        // the first, args the rest — none synthesized)
        case LabelFn(_, _, dst, args) => dst +: args
        case _ => Nil
      }).toSet
    // __name__ binds to the frame's metric column, never to an index join
    val labelSet = labelSetRaw - "__name__"
    val nameReferenced = labelSetRaw.contains("__name__") ||
      selectorList.exists(_.metric.isEmpty)
    // `agg without (...)` groups by every label EXCEPT the listed ones —
    // the full label-key set of the referenced metrics must be joined on,
    // not just the explicitly referenced labels; so does the labeled
    // rule-evaluation path (a recording rule keys its output series by the
    // FULL labelset, referenced or not).
    val allKeys: Set[String] =
      if (allLabels || tree.exists { case a: Agg => a.without; case _ => false })
        matched.tagKeys(cat)
      else Set.empty
    val labelCols = (labelSet ++ allKeys).toSeq.sorted
    // Labels whose bare names collide with the evaluator's structural
    // output columns cannot ride its flat frames (Selector output renames
    // every label to its bare name next to value/ts_ms/tsid/bucket_ms) —
    // fail fast with the data-model restriction instead of an opaque
    // duplicate-column AnalysisException deep in the plan.
    labelCols.find(Set("value", "ts_ms", "bucket_ms", "tsid")).foreach(l =>
      throw new IllegalArgumentException(
        s"label '$l' collides with the evaluator's structural column " +
          "names (value/ts_ms/bucket_ms/tsid) — unsupported; rename the " +
          "label at ingest"))
    // UTF-8 label NAMES (round 15): the flat frames carry labels under
    // POSITIONAL internal columns (__lbl_0, __lbl_1, … indexed into the
    // sorted labelCols list) rather than name-derived ones, so a dotted
    // OTLP attribute (`service.name`) used as a grouping label never
    // becomes a Spark column name mid-plan; the labelMap hands the
    // name→column binding to the evaluator, whose OUTPUT re-keys by the
    // real (possibly UTF-8) label names.
    val lblCol: Map[String, String] = labelCols.zipWithIndex
      .map { case (l, i) => l -> s"__lbl_$i" }.toMap
    // Index-side matcher pushdown for one selector: every `=` matcher and
    // every POSITIVE regex matcher whose pattern cannot match "" bounds a
    // superset of the touchable series via the (tag_value, tsid) index
    // dictionary; their intersection (AND over matchers) is a sound TSID
    // prune even when other matchers remain (those re-filter after the
    // label join). Negative matchers and empty-matching regexes select
    // absent labels, which the index cannot represent — never pruned on.
    // The prune only ever builds a semi join, so it takes no distinct: an
    // aggregate there was dropped by AQE's one-row rewrite only when the
    // index stage's statistics arrived before the aggregate's own shuffle
    // stage was created, so one query ran 9 or 10 jobs from run to run.
    def prunableTsids(mid: Long, sel: Selector): Option[DataFrame] = cat match {
      case Some(_) =>
        val exact = sel.matchers.filter(m => indexExact(Seq(m)))
        if (exact.isEmpty) None else Some(indexExactTsids(cat, mid, exact))
      case None =>
        sel.matchers.flatMap {
          // __name__ matchers are resolved at the metric level, not the index
          case LabelMatcher("__name__", _, _) => None
          case LabelMatcher(l, MatchOp.Eq, v) if v.nonEmpty =>
            Some(index.scan(ScanRequest(predicates = Seq(
              col("metric_id") === mid, col("tag_key") === l, col("tag_value") === v)))
              .select("tsid"))
          case LabelMatcher(l, MatchOp.Re, re) if !"".matches(s"^(?:$re)$$") =>
            Some(index.scan(ScanRequest(predicates = Seq(
              col("metric_id") === mid, col("tag_key") === l,
              col("tag_value").rlike("\\A(?:" + re + ")\\z"))))
              .select("tsid"))
          case _ => None
        }.reduceOption((a, b) => a.join(b, Seq("tsid"), "left_semi"))
    }
    val byMetric: String => Seq[Selector] =
      m => selectorList.filter(s => resolved(s).contains(m))
    // ONE label join regardless of referenced-key count (round 14): a
    // per-series tag_key→tag_value map of the referenced keys, decoded
    // into the flat __lbl_* columns. The per-key join loop this replaces
    // built |labels| joins per metric — `without(...)` over a wide metric
    // multiplied that into plan bloat. Absent label = empty string
    // (Prometheus) — also keeps these columns usable as equi-join keys in
    // binary-operator matching.
    def decodeLabels(joined: DataFrame): DataFrame =
      labelCols.foldLeft(joined)((r, l) => r.withColumn(lblCol(l),
        coalesce(col("__lbls__").getItem(l), lit("")))).drop("__lbls__")
    def attachLabels(rows0: DataFrame, keyCols: Seq[String],
        lbls: => DataFrame): DataFrame =
      if (labelCols.isEmpty) rows0
      else decodeLabels(rows0.join(maybeBroadcast(lbls), keyCols, "left"))
    val frames = if (!capped) someNames.map { case (m, mid) =>
        // offset selectors read data BEFORE the query range — widen the
        // manifest prune by the largest offset on this metric (the
        // evaluator's own shifted range filter re-tightens per selector)
        val maxOff = byMetric(m).map(_.offsetMs).max
        val offWidened =
          if (maxOff == 0L || range.start == Long.MinValue) range
          else TimeRange(range.start - maxOff, range.end)
        // widen further for this metric's pinned windows (the evaluator's
        // own pinned filter re-tightens per @ selector)
        val scanRange = pinList
          .filter { case (s, _) => resolved(s).contains(m) }
          .map(_._2)
          .foldLeft(offWidened)((r, p) => TimeRange(
            math.min(r.start, p.start), math.max(r.end, p.end)))
        val rows = data.scan(ScanRequest(range = scanRange,
            predicates = Seq(col("metric_id") === mid)))
          .select(lit(m).as("__name__"), col("tsid"), col("ts"), col("value"))
        // Union of per-selector prunes (a selector with nothing prunable
        // needs every series — no prune for the whole metric then).
        val perSel = byMetric(m).map(prunableTsids(mid, _))
        val pruned =
          if (perSel.forall(_.isDefined))
            rows.join(maybeBroadcast(perSel.flatten.reduce(_ union _)),
              Seq("tsid"), "left_semi")
          else rows
        attachLabels(pruned, Seq("tsid"),
          labelMapFrame(cat, mid, labelCols, "__lbls__"))
      }
    else {
      // Above the fan-out cap: ONE scan for ALL matched metrics. The
      // range is widened by the largest offset and every pinned window
      // (a superset — each selector's own shifted/pinned filters
      // re-tighten downstream), the series are the union of per-selector
      // matched (metric_id, tsid) frames (exact per selector, a sound
      // superset of the union; each selector's matchers re-filter over
      // the joined labels downstream), and metric names attach from the
      // dictionary. The data pk leads with metric_id, so the series join
      // filters right behind the sorted scan.
      val maxOff = selectorList.map(_.offsetMs).max
      val offWidened =
        if (maxOff == 0L || range.start == Long.MinValue) range
        else TimeRange(range.start - maxOff, range.end)
      val scanRange = pinList.map(_._2).foldLeft(offWidened)((r, p) =>
        TimeRange(math.min(r.start, p.start), math.max(r.end, p.end)))
      val wanted = labelCols.toSet
      (cat, matched.all) match {
        case (Some(c), Some(pairs)) =>
          // the matched series, their names and labels in ONE local frame
          val kept = selectorList.zip(matched.perSet(pairs)).flatMap { case (sel, ps) =>
              val keep = labelsMatch(sel.matchers.filterNot(_.label == "__name__"))
              ps.flatMap { case (name, mid) => c.series(mid).collect {
                case (tsid, s) if keep(s.labels) =>
                  Row(mid, tsid, name, s.labels.filter(kv => wanted(kv._1)))
              } }
            }.distinctBy(r => (r.getLong(0), r.getLong(1)))
          val local = localFrame(kept, StructType(Seq(
            StructField("metric_id", LongType), StructField("tsid", LongType),
            StructField("__name__", StringType),
            StructField("__lbls__", MapType(StringType, StringType)))))
          Seq(decodeLabels(data.scan(ScanRequest(range = scanRange))
            .join(maybeBroadcast(local), Seq("metric_id", "tsid"))
            .select("__name__", "tsid", "ts", "value", "__lbls__")))
        case _ =>
          val sframe = selectorList.zip(matched.frames).map { case (sel, f) =>
              matchedSeriesFrameAll(None, None, f.select("metric_id"),
                sel.matchers.filterNot(_.label == "__name__"))
                .select("metric_id", "tsid")
            }.reduce(_ unionByName _).distinct()
          val named = matched.named
          val rows = data.scan(ScanRequest(range = scanRange))
            .join(maybeBroadcast(sframe), Seq("metric_id", "tsid"), "left_semi")
            .join(maybeBroadcast(named), Seq("metric_id"))
            .select(col("metric_name").as("__name__"), col("metric_id"),
              col("tsid"), col("ts"), col("value"))
          Seq(attachLabels(rows, Seq("metric_id", "tsid"),
            index.scan(ScanRequest(predicates = Seq(col("tag_key").isin(labelCols: _*))))
              .join(maybeBroadcast(named.select("metric_id")), Seq("metric_id"), "left_semi")
              .groupBy("metric_id", "tsid")
              .agg(map_from_entries(collect_list(
                struct(col("tag_key"), col("tag_value")))).as("__lbls__")))
            .drop("metric_id"))
      }
    }
    val samples = frames.reduceOption(_.unionByName(_)).getOrElse {
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("__name__", StringType),
          StructField("tsid", LongType), StructField("ts", LongType),
          StructField("value", DoubleType)) ++
          labelCols.map(l => StructField(lblCol(l), StringType))))
    }
    // __name__ rides as a first-class label binding (to the metric column
    // itself) only when the query references it — grouping by (__name__)
    // and multi-metric selection then work without an index join.
    val labelMap = lblCol ++
      (if (nameReferenced) Map("__name__" -> "__name__") else Map.empty)
    new PromQLContext(samples, "__name__", col("ts"), "value", labelMap,
      ordering = Seq(col("ts"), col("tsid")), seriesCols = Seq("tsid"),
      instantSelectors = latestOnly, slidingStep = sliding)
  }
}

object MetricEngine {

  /** Backtick-quoted column reference for LABEL-derived column names
    * (round 15): Prometheus 3 label names are arbitrary UTF-8 (OTLP
    * ships dotted attributes like `service.name`), and bare
    * `functions.col` PARSES its argument — a dotted bare name becomes a
    * struct-field access that fails resolution. Used wherever a grouping
    * label or an output label column is referenced by name (the
    * evaluator's flat frames carry labels positionally and don't need
    * it). ONE definition engine-wide — delegates to
    * [[graft.storage.TimeMergeStorage.qcol]] so a future quoting-rule
    * fix lands everywhere at once. */
  private[metric] def qcol(name: String): org.apache.spark.sql.Column =
    graft.storage.TimeMergeStorage.qcol(name)

  /** Every bucket-emitting range window in `e` — the grains a requested
    * step must agree with (windows own their buckets; tumbling rule).
    * Shared with the flat evaluator: a subquery contributes its OUTPUT
    * window, a pinned `@` window emits no bucket column. */
  private[metric] def rangeWindows(e: graft.promql.Expr): Seq[Long] =
    graft.promql.PromQLContext.innerWindows(e)

  /** Canonical series-key COLUMN: name + sorted `\u0001 key \u0002 value`
    * pairs (see the collision rationale at [[MetricEngine.withIds]]).
    * Shared with the streaming layer so stateful-view keys and storage
    * tsids can never drift apart. */
  def seriesKeyColumn(name: Column, labels: Column): Column =
    org.apache.spark.sql.functions.concat(escPartCol(name), labelsKeyColumn(labels))

  // --- series-key component escaping ---------------------------------
  // \u0001/\u0002 are only unambiguous SEPARATORS if every component
  // escapes them: Prometheus label VALUES (and UTF-8 metric/label names)
  // may contain ANY character, so {a="1\u0001b\u00022"} would otherwise
  // produce the same key as {a="1", b="2"} — two series silently merging
  // into one tsid — and a bare \u0001 in a value would crash
  // parseSeriesKey. Escape marker \u0000: the digit after it selects the
  // original char (0→\u0000, 1→\u0001, 2→\u0002). Keys of ordinary data
  // (no control chars) are byte-identical to the unescaped form, so
  // existing tsids are unaffected.
  private def escPartCol(c: Column): Column = {
    import org.apache.spark.sql.functions.regexp_replace
    regexp_replace(regexp_replace(regexp_replace(c,
      "\u0000", "\u00000"), "\u0001", "\u00001"), "\u0002", "\u00002")
  }

  private[graft] def unescPartCol(c: Column): Column = {
    import org.apache.spark.sql.functions.regexp_replace
    regexp_replace(regexp_replace(regexp_replace(c,
      "\u00001", "\u0001"), "\u00002", "\u0002"), "\u00000", "\u0000")
  }

  private[metric] def escPart(s: String): String =
    s.replace("\u0000", "\u00000").replace("\u0001", "\u00001")
      .replace("\u0002", "\u00002")

  private[graft] def unescPart(s: String): String =
    s.replace("\u00001", "\u0001").replace("\u00002", "\u0002")
      .replace("\u00000", "\u0000")

  /** The labels part of the canonical key, as a column. */
  def labelsKeyColumn(labels: Column): Column = {
    import org.apache.spark.sql.functions._
    concat_ws("", transform(array_sort(map_entries(labels)),
      e => concat(lit("\u0001"), escPartCol(e("key")),
        lit("\u0002"), escPartCol(e("value")))))
  }

  /** Scala mirror of [[labelsKeyColumn]] for typed `groupByKey` paths
    * (streaming state keys). Sorts label names in UTF-8 BYTE order — the
    * order Spark's `array_sort` uses on strings — so the two forms agree
    * byte-for-byte on any label set (UTF-16 `sortBy` would diverge for
    * supplementary-plane label names). MetricEngineSpec pins the
    * agreement. */
  def labelsKey(labels: Map[String, String]): String =
    labels.toSeq.sortWith((a, b) => utf8Lt(a._1, b._1))
      .map { case (k, v) => s"\u0001${escPart(k)}\u0002${escPart(v)}" }.mkString

  /** Invert [[seriesKeyColumn]]: canonical key → (name, labels). The
    * control-character separators make the split unambiguous for any
    * legal Prometheus label content. */
  def parseSeriesKey(key: String): (String, Map[String, String]) = {
    val parts = key.split('\u0001')
    val labels = parts.iterator.drop(1).map { p =>
      val i = p.indexOf('\u0002')
      unescPart(p.substring(0, i)) -> unescPart(p.substring(i + 1))
    }.toMap
    (unescPart(parts.head), labels)
  }

  /** Distributed mirror of [[parseSeriesKey]]'s labels half: decode a
    * canonical series-key COLUMN back to a `map<string,string>`. Shared by
    * the serving-layer label decoration and the matcher walk so the driver
    * and executor decodes can never drift. */
  def seriesLabelsColumn(seriesKey: Column): Column = {
    import org.apache.spark.sql.functions._
    map_from_entries(transform(
      slice(split(seriesKey, "\u0001"), 2, 1000000),
      e => struct(unescPartCol(substring_index(e, "\u0002", 1)),
        unescPartCol(substring_index(e, "\u0002", -1)))))
  }

  /** Spark's string order (UTF-8 bytes) for sorts on the driver. */
  private[metric] val utf8Order: Ordering[String] = Ordering.fromLessThan(utf8Lt)

  private def utf8Lt(x: String, y: String): Boolean = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    a.length < b.length
  }
  /** One series of the driver-side catalog: its canonical key and the
    * labels decoded from it. */
  private[graft] final case class CatalogSeries(key: String,
      labels: Map[String, String])

  /** The series catalog behind [[MetricEngine]]'s label matching:
    * metric_id → (tsid → series), each metric's label keys, and the
    * series count. Immutable — a registration builds the next value and
    * publishes it with one write, so a reader's snapshot is never
    * partial, and unchanged metrics share their maps with it. */
  private[graft] final case class SeriesCatalog(
      byMetric: Map[Long, Map[Long, CatalogSeries]],
      keysByMetric: Map[Long, Set[String]], size: Int) {
    def series(mid: Long): Map[Long, CatalogSeries] =
      byMetric.getOrElse(mid, Map.empty)
    def keysOf(mid: Long): Set[String] = keysByMetric.getOrElse(mid, Set.empty)
    def contains(mid: Long, tsid: Long): Boolean = series(mid).contains(tsid)

    /** This catalog plus the (metric_id, tsid, series_key) series. */
    def added(fresh: Iterable[(Long, Long, String)]): SeriesCatalog =
      fresh.foldLeft(this) { case (c, (mid, tsid, key)) =>
        if (c.contains(mid, tsid)) c
        else {
          // label names are few: one shared String each
          val s = CatalogSeries(key,
            parseSeriesKey(key)._2.map { case (k, v) => k.intern() -> v })
          SeriesCatalog(c.byMetric.updated(mid, c.series(mid).updated(tsid, s)),
            c.keysByMetric.updated(mid, c.keysOf(mid) ++ s.labels.keys), c.size + 1)
        }
      }
  }
  private[graft] object SeriesCatalog {
    val empty: SeriesCatalog = SeriesCatalog(Map.empty, Map.empty, 0)
  }

  /** One series of a driver-local write batch, as [[MetricEngine]]'s
    * registration sees it. */
  private final case class NewSeries(name: String, metricId: Long, tsid: Long,
      seriesKey: String, labels: scala.collection.Map[String, String])

  /** Meta tables are not time-partitioned: single fixed segment. */
  private val MetaSegmentMs = Long.MaxValue
  private val MetaRange = TimeRange(0L, 1L)

  val metricsSchema: StructType = StructType(Seq(
    StructField("metric_name", StringType), StructField("metric_id", LongType),
    StructField("field_id", IntegerType)))
  val seriesSchema: StructType = StructType(Seq(
    StructField("metric_id", LongType), StructField("tsid", LongType),
    StructField("series_key", BinaryType)))
  val tagsSchema: StructType = StructType(Seq(
    StructField("metric_id", LongType), StructField("tag_key", StringType),
    StructField("tag_value", StringType)))
  val indexSchema: StructType = StructType(Seq(
    StructField("metric_id", LongType), StructField("tag_key", StringType),
    StructField("tag_value", StringType), StructField("tsid", LongType)))
  val dataSchema: StructType = StructType(Seq(
    StructField("metric_id", LongType), StructField("tsid", LongType),
    StructField("ts", LongType), StructField("value", DoubleType)))

  /** Exemplars table: the remote-write surface's third record kind made
    * durable (the reference decodes exemplars —
    * remote_write/src/types.rs — but persists only samples; Prometheus
    * keeps them in a bounded in-memory ring). Exemplar identity =
    * (series, ts, canonical exemplar-label key), so re-delivered batches
    * upsert idempotently under Overwrite merge; `labels` rides as a map
    * value column for lossless serving. */
  val exemplarsSchema: StructType = StructType(Seq(
    StructField("metric_id", LongType), StructField("tsid", LongType),
    StructField("ts", LongType), StructField("exemplar_key", StringType),
    StructField("value", DoubleType),
    StructField("labels", MapType(StringType, StringType))))

  /** Native histograms table: one row per (series, ts) holding the sparse
    * buckets as parallel (index, count) arrays — the decoded form of the
    * remote-write `Histogram` record
    * ([[graft.streaming.RemoteWrite.HistogramSample]]). Column-named
    * `bucket_schema` (not `schema`) to stay out of SQL reserved-word
    * territory. Last write wins on (metric_id, tsid, ts), like data. */
  val histogramsSchema: StructType = StructType(Seq(
    StructField("metric_id", LongType), StructField("tsid", LongType),
    StructField("ts", LongType),
    StructField("count", DoubleType), StructField("sum", DoubleType),
    StructField("bucket_schema", IntegerType),
    StructField("zero_threshold", DoubleType),
    StructField("zero_count", DoubleType),
    StructField("pos_idx", ArrayType(IntegerType)),
    StructField("pos_cnt", ArrayType(DoubleType)),
    StructField("neg_idx", ArrayType(IntegerType)),
    StructField("neg_cnt", ArrayType(DoubleType)),
    StructField("custom_values", ArrayType(DoubleType))))
}
