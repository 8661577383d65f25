package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Rate
import graft.pipeline.{Dedup, Similarity, TextAnalysis}

/** Driver contract — one entry per implemented operator from SURVEY.md §2,
  * each with a DuckDB oracle over the same parquet tables.
  *
  * Conventions keeping Spark and DuckDB hash-identical:
  *  - every derived integer is cast to BIGINT on both sides (DuckDB `len`/
  *    `sum` widen differently than Spark);
  *  - every float aggregate is `round(x, n)` on both sides;
  *  - timestamps are compared/emitted as epoch-millis BIGINT
  *    (`unix_millis(cast)` vs `epoch_ms(ts::TIMESTAMP)` — both truncate);
  *  - hashing is md5 hex (identical in any engine), never engine-private;
  *  - window ranks always carry a unique-id tiebreak;
  *  - the driver comparator (pandas sort_values) CANNOT sort array columns
  *    ("unhashable type: numpy.ndarray") — every query output must be
  *    scalar-only: flatten arrays to one column per element (d2's mh0..mh3)
  *    or explode to one row per element (t13's (doc_id, fp) rows).
  */
object SparkEntry {

  /** The engine's `ts` contract is epoch-nanos Long, but the driver's
    * testdata has shipped `events.ts` under two parquet types across
    * generations: TIMESTAMP(NANOS) (readable only as a raw epoch-nanos Long
    * under the `nanosAsLong` legacy conf) and TIMESTAMP(MICROS) (read as
    * TIMESTAMP / TIMESTAMP_NTZ). Normalize at this one edge — timestamp
    * types become epoch-nanos Long — so every downstream consumer sees the
    * same type regardless of which generation produced the file. */
  private def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{TimestampType, TimestampNTZType}
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(TimestampType) | Some(TimestampNTZType) =>
        // NTZ → TZ cast is identity under the UTC session timezone.
        df.withColumn("ts",
          unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case _ => df
    }
  }

  private def rawT(s: SparkSession, dir: String, name: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.read.parquet(s"$dir/$name.parquet")
  }

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    normalizeTs(rawT(s, dir, name))

  /** epoch-nanos Long → epoch-millis BIGINT via exact integer division
    * (`div`, not `/`: double division loses ns precision above 2^53). */
  private val tsMs: Column = expr("ts div 1000000")

  private def nanos(isoDate: String): Long =
    java.time.LocalDate.parse(isoDate).atStartOfDay(java.time.ZoneOffset.UTC)
      .toInstant.toEpochMilli * 1000000L

  /** A `ts` range predicate typed to match the RAW column — a Long gets
    * nanos literals, a timestamp type gets Instant/LocalDateTime literals —
    * so the filter stays a plain col-vs-literal comparison the parquet
    * reader can push down (an expression-wrapped column would not prune
    * row groups). Apply BEFORE normalizeTs. */
  private def rawTsRange(df: DataFrame, fromIso: String, untilIso: String): Column = {
    import org.apache.spark.sql.types.{TimestampType, TimestampNTZType}
    def day(s: String) = java.time.LocalDate.parse(s).atStartOfDay()
    df.schema("ts").dataType match {
      case TimestampNTZType =>
        col("ts") >= lit(day(fromIso)) && col("ts") < lit(day(untilIso))
      case TimestampType =>
        col("ts") >= lit(day(fromIso).toInstant(java.time.ZoneOffset.UTC)) &&
        col("ts") < lit(day(untilIso).toInstant(java.time.ZoneOffset.UTC))
      case _ =>
        col("ts") >= lit(nanos(fromIso)) && col("ts") < lit(nanos(untilIso))
    }
  }

  /** epoch-ms bucketed to `ms` — BIGINT on both sides. */
  private def bucket(ms: Long): Column = floor(tsMs / lit(ms)).cast("long") * ms

  /** Exact money arithmetic: `round(x*100)` as BIGINT cents — immune to the
    * round-half boundary disagreements engines have on binary doubles. */
  private def cents(c: Column): Column = round(c * 100, 0).cast("long")

  /** Every per-JVM fixture (ingested stores and engines, trained indexes)
    * in one memo keyed by (fixture, dir). A key builds at most once, under
    * its own lock only: different fixtures build concurrently, and a build
    * may read another fixture (rollupOf builds metricEngine). A failed
    * build leaves its key unbuilt, so the next call retries it. */
  private final class Memo(build: => Any) {
    @volatile var built = false
    lazy val value: Any = { val v = build; built = true; v }
  }

  private val memos =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Memo]

  private def fixture[T](name: String, dir: String)(build: => T): T =
    memos.computeIfAbsent((name, dir), _ => new Memo(build)).value.asInstanceOf[T]

  /** `name`'s value for the first dir, in sorted order, that has built it. */
  private def firstBuilt[T](name: String): Option[T] = {
    import scala.jdk.CollectionConverters._
    memos.asScala.toSeq
      .collect { case ((`name`, dir), m) if m.built => dir -> m.value.asInstanceOf[T] }
      .sortBy(_._1).headOption.map(_._2)
  }

  /** Events ingested once per JVM into a TimeMergeStorage (7-day segments,
    * 4-way bucketed SSTs) so storage-backed queries exercise the engine's
    * full manifest→prune→scan→merge read path. */
  private def eventsStorage(s: SparkSession, dir: String): graft.storage.TimeMergeStorage =
    fixture("eventsStorage", dir) {
      import graft.storage._
      val segMs = 7L * 86400000L
      val ev = t(s, dir, "events").select(col("event_id"), tsMs.as("tms"),
        col("user_id"), col("event_type"), col("value"))
      val store = new TimeMergeStorage(s,
        java.nio.file.Files.createTempDirectory("graft-events-store").toString,
        StorageSchema(org.apache.spark.sql.types.StructType(ev.schema.fields),
          numPrimaryKeys = 1),
        segmentMs = segMs, timestampColumn = Some("tms"))
      val segs = ev.select((col("tms") - pmod(col("tms"), lit(segMs))).as("seg"))
        .distinct().collect().map(_.getLong(0)).sorted
      segs.foreach { g =>
        store.writeBucketed(ev.filter(col("tms") >= g && col("tms") < g + segMs),
          TimeRange(g, g + segMs), numBuckets = 4)
      }
      store
    }

  /** Events ingested once per JVM through the FULL metric engine (id
    * population, the four meta tables, segmented data SSTs) so an oracle
    * query can hash-check the entire ingest→index→PromQL pipeline. */
  private def metricEngine(s: SparkSession, dir: String): graft.metric.MetricEngine =
    fixture("metricEngine", dir) {
      val eng = new graft.metric.MetricEngine(s,
        java.nio.file.Files.createTempDirectory("graft-events-engine").toString,
        segmentMs = 7L * 86400000L)
      eng.write(t(s, dir, "events").select(
        col("event_type").as("name"),
        map(lit("uid"), col("user_id").cast("string")).as("labels"),
        tsMs.as("timestamp"), col("value")))
      eng
    }

  /** The shared native-histogram fixture engine (nh1/nh2/nh3): fixed
    * exponential histograms through the FULL remote-write 2.0 wire path
    * (sparse spans + int deltas encoded, snappy-framed, decoded back to
    * absolute buckets) into a fresh engine's histograms table. */
  private def nh1Engine(s: SparkSession): graft.metric.MetricEngine =
    cachedServingEngine("nh1") {
      import graft.streaming.{MetricStreamIngest, RemoteWrite}
      import graft.streaming.RemoteWrite.{HistogramSample, Request}
      val root = java.nio.file.Files
        .createTempDirectory("graft-nh1").toString
      val e = new graft.metric.MetricEngine(s, root)
      val spec = Seq(
        HistogramSample("rpc_latency", Map("job" -> "api"), 1000L,
          count = 10, sum = 21.0, schema = 0, zeroThreshold = 0.001,
          zeroCount = 2, positiveBuckets = Seq((1, 3.0), (2, 5.0)),
          negativeBuckets = Nil),
        HistogramSample("rpc_latency", Map("job" -> "api"), 2000L,
          count = 7, sum = 12.0, schema = 0, zeroThreshold = 0.001,
          zeroCount = 1, positiveBuckets = Seq((1, 4.0), (3, 2.0)),
          negativeBuckets = Nil),
        HistogramSample("rpc_latency", Map("job" -> "worker"), 1000L,
          count = 12, sum = 60.0, schema = 0, zeroThreshold = 0.0,
          zeroCount = 0, positiveBuckets = Seq((2, 6.0), (3, 6.0)),
          negativeBuckets = Nil))
      val framed = org.xerial.snappy.Snappy.compress(
        RemoteWrite.encodeRequestV2(Request(Nil, Nil, Nil, spec)))
      MetricStreamIngest.ingestHistograms(e, s,
        RemoteWrite.decodeRequest(framed).histograms)
      e
    }

  /** Shared histogram-rollup fixture engine (ro7/ro8): a reset-bearing
    * native-histogram series with a REGISTERED, refreshed 2 s-grid
    * HistogramRollup — both the instant and range quantile shapes route
    * through it. */
  private def ro7Engine(s: SparkSession): graft.metric.MetricEngine =
    cachedServingEngine("ro7") {
      import graft.streaming.MetricStreamIngest
      import graft.streaming.RemoteWrite.HistogramSample
      val root = java.nio.file.Files
        .createTempDirectory("graft-ro7").toString
      val e = new graft.metric.MetricEngine(s, root)
      def h(ts: Long, zero: Double, buckets: Seq[(Int, Double)]) =
        HistogramSample("lat_ro7", Map("job" -> "api"), ts,
          count = zero + buckets.map(_._2).sum, sum = 0.0, schema = 0,
          zeroThreshold = 0.001, zeroCount = zero,
          positiveBuckets = buckets, negativeBuckets = Nil)
      MetricStreamIngest.ingestHistograms(e, s, Seq(
        h(500L, 1, Seq((1, 2.0))),
        h(1500L, 1, Seq((1, 5.0))),
        h(2500L, 2, Seq((1, 1.0), (2, 4.0))), // idx1 reset; idx2 appears
        h(3500L, 2, Seq((1, 3.0), (2, 6.0)))))
      val hr = new graft.metric.HistogramRollup(e, gridMs = 2000L)
      hr.refresh()
      e.registerHistogramRollup(hr)
      e
    }

  /** Fixed-sample serving-edge fixtures (rw2/rr1/fed1), built ONCE per
    * JVM: the ingest chain runs on first use (the verify run still
    * exercises write→read end to end), while bench's timed passes measure
    * the serving operator itself rather than rebuilding the same
    * temp-store every call. */
  private def cachedServingEngine(key: String)(
      build: => graft.metric.MetricEngine): graft.metric.MetricEngine =
    fixture(key, "")(build)

  /** 1-day rollup over the shared events engine ([[graft.metric.Rollup]]):
    * refreshed once; queries answer from the combinable
    * (cnt,sum,min,max,last) partials instead of raw samples. */
  private def rollupOf(s: SparkSession, dir: String): graft.metric.Rollup =
    fixture("rollup", dir) {
      val r = new graft.metric.Rollup(metricEngine(s, dir), 86400000L)
      r.refresh()
      r
    }

  /** Engine with a 1-day rollup REGISTERED for transparent routing (its
    * own store, so the shared [[metricEngine]] fixture's queries keep
    * measuring the raw path). */
  private def routedEngine(s: SparkSession, dir: String): graft.metric.MetricEngine =
    fixture("routedEngine", dir) {
      val eng = new graft.metric.MetricEngine(s,
        java.nio.file.Files.createTempDirectory("graft-routed-engine").toString,
        segmentMs = 7L * 86400000L)
      // two labels per series (cohort is uid-determined, so the series
      // set — one per uid — and every by-uid result are unchanged);
      // ro6 groups and regex-filters on the second label
      eng.write(t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("event_type").as("name"),
          map(lit("uid"), col("user_id").cast("string"),
            lit("cohort"), (col("user_id") % 10).cast("string")).as("labels"),
          tsMs.as("timestamp"), col("value")))
      val r = new graft.metric.Rollup(eng, 86400000L)
      r.refresh()
      eng.registerRollup(r)
      eng
    }

  /** Engine with a RECORDING + ALERTING rule group evaluated over the
    * events ingest ([[graft.server.RuleEngine]]): the recording rule
    * materializes per-uid purchase totals under a new metric name; the
    * alerting rule (`> 600`, `for: 60s`) is evaluated twice 120 s apart
    * so every active alert transitions pending → firing and both ALERTS
    * states land in storage. `sum_over_time(purchase[3650d])` puts the
    * whole one-month fixture in ONE tumbling window, so the instant
    * evaluation is the exact per-uid total the SQL oracle replays. */
  private def rulesEngine(s: SparkSession, dir: String): graft.metric.MetricEngine =
    fixture("rulesEngine", dir) {
      val eng = new graft.metric.MetricEngine(s,
        java.nio.file.Files.createTempDirectory("graft-rules-engine").toString,
        segmentMs = 7L * 86400000L)
      eng.write(t(s, dir, "events").select(
        col("event_type").as("name"),
        map(lit("uid"), col("user_id").cast("string")).as("labels"),
        tsMs.as("timestamp"), col("value")))
      val maxTs = t(s, dir, "events").agg(max(tsMs)).collect()(0).getLong(0)
      val re = new graft.server.RuleEngine(s, eng, Seq(
        graft.server.RuleGroup("record", 60000L, Seq(
          graft.server.RecordingRule("purchase:uid:total",
            "sum by (uid) (sum_over_time(purchase[3650d]))"))),
        graft.server.RuleGroup("alert", 60000L, Seq(
          graft.server.AlertingRule("BigSpender",
            "sum by (uid) (sum_over_time(purchase[3650d])) > 600",
            forMs = 60000L)))))
      re.evalGroupOnce("record", maxTs)
      re.evalGroupOnce("alert", maxTs)
      re.evalGroupOnce("alert", maxTs + 120000L)
      eng
    }

  /** Engine built through the STREAMING ingest path for si1: purchase
    * samples (uid < 40) wire-encoded into remote-write payloads, fed
    * through MetricStreamIngest in 4 REVERSE-time micro-batches
    * (alternating raw / snappy framing), so every batch after the first
    * writes late into existing segments — the reference's no-watermark
    * late-data policy (T4), repaired by merge-on-read. */
  private def streamIngestedEngine(s: SparkSession, dir: String): graft.metric.MetricEngine =
    fixture("streamIngestedEngine", dir) {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val eng = new graft.metric.MetricEngine(s,
        java.nio.file.Files.createTempDirectory("graft-si1").toString,
        segmentMs = 7L * 86400000L)
      val rows = t(s, dir, "events")
        .filter(col("event_type") === "purchase" && col("user_id") < 40)
        .orderBy(col("ts").desc, col("event_id").desc)
        .select(col("event_type").as("name"),
          map(lit("uid"), col("user_id").cast("string")).as("labels"),
          tsMs.as("timestamp"), col("value"))
        .as[graft.metric.Sample].collect()
      val stream = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[Array[Byte]]
      val q = graft.streaming.MetricStreamIngest.start(eng, stream.toDS(),
        java.nio.file.Files.createTempDirectory("graft-si1-ckpt").toString,
        triggerMs = 100L)
      try rows.grouped(rows.length / 4 + 1).zipWithIndex.foreach {
        case (chunk, i) =>
          val payload = graft.streaming.RemoteWrite.encode(chunk.toSeq)
          stream.addData(
            if (i % 2 == 1) org.xerial.snappy.Snappy.compress(payload)
            else payload)
          q.processAllAvailable()
      } finally q.stop()
      eng
    }

  /** Graft table built through the STREAMING SINK path for si2: the
    * purchase slice written to a 4-file parquet staging dir, tailed by
    * Spark's file stream source one file per trigger, committed by
    * `writeStream.format("graft")` ([[graft.sources.GraftSink]]) — four
    * micro-batches, each a separate SST commit through the same
    * create/align/per-segment path as batch saves. The si2 query reads the
    * table back through the SQL source; the oracle replays the aggregation
    * from raw events, so the hash matches only if stage → stream → sink →
    * merge-on-read is lossless. */
  private def sinkIngestedRoot(s: SparkSession, dir: String): String =
    fixture("sinkIngestedRoot", dir) {
      val slice = t(s, dir, "events")
        .filter(col("event_type") === "purchase" && col("user_id") < 30)
        .select(col("event_id"), tsMs.as("tms"), col("user_id"), col("value"))
      val src = java.nio.file.Files.createTempDirectory("graft-si2-src").toString
      slice.repartition(4).write.mode("overwrite").parquet(src)
      val root = java.nio.file.Files.createTempDirectory("graft-si2-store").toString
      val q = s.readStream.schema(slice.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
        .writeStream.format("graft")
        .option("root", root).option("numPrimaryKeys", "1")
        .option("segmentMs", (7L * 86400000L).toString)
        .option("timestampColumn", "tms")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft-si2-ckpt").toString)
        .start()
      try { q.processAllAvailable() } finally q.stop()
      root
    }

  /** Same ingest through the BUCKETED engine shape (dataBuckets = 4: N
    * pk-hash-partitioned SSTs per segment, the declared 100 TB layout) so
    * the bucketed write → merged read path is driver-hash-checked too. */
  private def bucketedEngine(s: SparkSession, dir: String): graft.metric.MetricEngine =
    fixture("bucketedEngine", dir) {
      val eng = new graft.metric.MetricEngine(s,
        java.nio.file.Files.createTempDirectory("graft-events-engine-b4").toString,
        segmentMs = 7L * 86400000L, dataBuckets = 4)
      eng.write(t(s, dir, "events").select(
        col("event_type").as("name"),
        map(lit("uid"), col("user_id").cast("string")).as("labels"),
        tsMs.as("timestamp"), col("value")))
      eng
    }

  /** Two-batch store for st3: batch 1 = the segment's event_id % 3 == 0
    * slice, batch 2 = the rest, written in that order so the second SST
    * carries the strictly larger `__seq__` file id. */
  private def builtinStampStore(s: SparkSession, dir: String): graft.storage.TimeMergeStorage =
    fixture("builtinStampStore", dir) {
      import graft.storage._
      val segMs = 7L * 86400000L
      val g = TimeRange.truncate(1704844800000L, segMs)
      val range = TimeRange(g, g + segMs)
      val ev = t(s, dir, "events")
        .select(col("event_id"), tsMs.as("tms"), col("user_id"),
          col("event_type"), col("value"))
        .filter(col("tms") >= g && col("tms") < g + segMs)
      val store = new TimeMergeStorage(s,
        java.nio.file.Files.createTempDirectory("graft-events-stamp").toString,
        StorageSchema(org.apache.spark.sql.types.StructType(ev.schema.fields),
          numPrimaryKeys = 1),
        segmentMs = segMs, timestampColumn = Some("tms"))
      store.write(ev.filter(pmod(col("event_id"), lit(3)) === 0), range)
      store.write(ev.filter(pmod(col("event_id"), lit(3)) =!= 0), range)
      store
    }

  private val evolveSplitMs = 1705363200000L // 2024-01-16T00:00:00Z

  /** Two-generation store for st5 (schema evolution): generation 1 writes
    * pre-Jan-16 events under the v1 schema (no `value` column); the SAME
    * root is then reopened under the widened v2 schema (+`value`) and
    * generation 2 writes the rest. A v2 scan reads both generations — the
    * old SSTs' missing column comes back null straight from the parquet
    * reader, no rewrite (the only evolution shape that is O(0) at 100 TB). */
  private def evolvedStore(s: SparkSession, dir: String): graft.storage.TimeMergeStorage =
    fixture("evolvedStore", dir) {
      import graft.storage._
      val segMs = 7L * 86400000L
      val root = java.nio.file.Files.createTempDirectory("graft-evolve").toString
      val ev = t(s, dir, "events").select(col("event_id"), tsMs.as("tms"),
        col("user_id"), col("event_type"), col("value"))
      def segmentsOf(df: org.apache.spark.sql.DataFrame): Seq[Long] =
        df.select((col("tms") - pmod(col("tms"), lit(segMs))).as("seg"))
          .distinct().collect().map(_.getLong(0)).sorted.toSeq
      val v1Rows = ev.filter(col("tms") < evolveSplitMs).drop("value")
      val v1Schema = StorageSchema(
        org.apache.spark.sql.types.StructType(v1Rows.schema.fields),
        numPrimaryKeys = 1)
      val v1 = new TimeMergeStorage(s, root, v1Schema, segmentMs = segMs,
        timestampColumn = Some("tms"))
      segmentsOf(v1Rows).foreach { g =>
        v1.write(v1Rows.filter(col("tms") >= g && col("tms") < g + segMs),
          TimeRange(g, g + segMs))
      }
      val v2Schema = StorageSchema(
        org.apache.spark.sql.types.StructType(ev.schema.fields),
        numPrimaryKeys = 1)
      require(v1Schema.canEvolveTo(v2Schema), "illegal evolution fixture")
      val v2 = new TimeMergeStorage(s, root, v2Schema, segmentMs = segMs,
        timestampColumn = Some("tms"))
      val v2Rows = ev.filter(col("tms") >= evolveSplitMs)
      segmentsOf(v2Rows).foreach { g =>
        v2.write(v2Rows.filter(col("tms") >= g && col("tms") < g + segMs),
          TimeRange(g, g + segMs))
      }
      v2
    }

  /** Tombstone-delete store for a7: generation 1 ingests every event
    * (`deleted = false`); generation 2 writes DELETE MARKERS (same pk +
    * tms, null payload, `deleted = true`) for the `event_id % 7 == 3`
    * slice. Merge-on-read picks the marker (higher `__seq__`) and the
    * scan drops the key — LSM delete semantics with no rewrite. */
  private def tombstoneStore(s: SparkSession, dir: String): graft.storage.TimeMergeStorage =
    fixture("tombstoneStore", dir) {
      import graft.storage._
      val segMs = 7L * 86400000L
      val ev = t(s, dir, "events").select(col("event_id"), tsMs.as("tms"),
        col("user_id"), col("event_type"), col("value"),
        lit(false).as("deleted"))
      val store = new TimeMergeStorage(s,
        java.nio.file.Files.createTempDirectory("graft-tombstone").toString,
        StorageSchema(org.apache.spark.sql.types.StructType(ev.schema.fields),
          numPrimaryKeys = 1),
        segmentMs = segMs, timestampColumn = Some("tms"))
      val segs = ev.select((col("tms") - pmod(col("tms"), lit(segMs))).as("seg"))
        .distinct().collect().map(_.getLong(0)).sorted
      segs.foreach { g =>
        store.write(ev.filter(col("tms") >= g && col("tms") < g + segMs),
          TimeRange(g, g + segMs))
      }
      val marks = ev.filter(pmod(col("event_id"), lit(7)) === 3)
        .select(col("event_id"), col("tms"),
          lit(null).cast("long").as("user_id"),
          lit(null).cast("string").as("event_type"),
          lit(null).cast("double").as("value"),
          lit(true).as("deleted"))
      segs.foreach { g =>
        val slice = marks.filter(col("tms") >= g && col("tms") < g + segMs)
        if (slice.limit(1).count() > 0)
          store.write(slice, TimeRange(g, g + segMs))
      }
      store
    }

  /** One segment of events ingested as 7 small same-segment SSTs — six
    * disjoint `event_id % 6` slices plus a LATER value-doubling rewrite of
    * slice 0 — then compacted to quiescence (C1 picker → C2 executor →
    * manifest commit → physical deletes). Last-write-wins must survive the
    * compaction rewrite: the merged SST keeps the doubled slice-0 values
    * because the rewrite's `__seq__` (file id) is highest. The ct1 oracle
    * hash-checks the compacted scan against raw data with the doubling
    * applied in SQL. */
  private def compactedEventsStore(s: SparkSession, dir: String): graft.storage.TimeMergeStorage =
    fixture("compactedEventsStore", dir) {
      import graft.storage._
      val segMs = 7L * 86400000L
      val g = TimeRange.truncate(1704844800000L, segMs) // segment of Jan 10
      val range = TimeRange(g, g + segMs)
      val ev = t(s, dir, "events")
        .select(col("event_id"), tsMs.as("tms"), col("user_id"),
          col("event_type"), col("value"))
        .filter(col("tms") >= g && col("tms") < g + segMs)
      val store = new TimeMergeStorage(s,
        java.nio.file.Files.createTempDirectory("graft-events-compact").toString,
        StorageSchema(org.apache.spark.sql.types.StructType(ev.schema.fields),
          numPrimaryKeys = 1),
        segmentMs = segMs, timestampColumn = Some("tms"))
      (0 until 6).foreach { i =>
        store.write(ev.filter(pmod(col("event_id"), lit(6)) === i), range)
      }
      store.write(ev.filter(pmod(col("event_id"), lit(6)) === 0)
        .withColumn("value", col("value") * 2), range)
      val before = store.manifest.allSsts()
      val compactor = new Compactor(store,
        CompactionConfig(inputSstMinNum = 2))
      var rounds = 0
      while (compactor.runOnce() && rounds < 20) rounds += 1
      val after = store.manifest.allSsts()
      // Quiescence contract: 7 inputs collapse to ONE merged SST, the
      // replaced files are gone from the manifest AND from disk (commit-
      // before-delete ordering), and the scan below can only read the
      // compacted file set.
      require(after.size == 1 && before.size == 7,
        s"compaction did not quiesce 7 -> 1 (before=${before.size}, after=${after.size})")
      require(before.forall(f => !store.exists(f.path)),
        "compaction left replaced SST files on disk")
      store
    }

  /** C1–C4 over the 100 TB layout (`writeBucketed`): four bucketed write
    * generations (3 disjoint slices + a doubled rewrite of slice 0) into
    * one segment × 4 pk-hash buckets, compacted to quiescence. Compaction
    * must merge PER BUCKET — the manifest collapses 16 → 4 SSTs with the
    * bucket set preserved (never one segment-wide file), because a pk
    * always hashes to the same bucket and a bucket-bounded task is what
    * stays admissible under the memory gate at scale. */
  private def bucketCompactedStore(s: SparkSession, dir: String): graft.storage.TimeMergeStorage =
    fixture("bucketCompactedStore", dir) {
      import graft.storage._
      val segMs = 7L * 86400000L
      val g = TimeRange.truncate(1704844800000L, segMs) // segment of Jan 10
      val range = TimeRange(g, g + segMs)
      val ev = t(s, dir, "events")
        .select(col("event_id"), tsMs.as("tms"), col("user_id"),
          col("event_type"), col("value"))
        .filter(col("tms") >= g && col("tms") < g + segMs)
      val store = new TimeMergeStorage(s,
        java.nio.file.Files.createTempDirectory("graft-events-bcompact").toString,
        StorageSchema(org.apache.spark.sql.types.StructType(ev.schema.fields),
          numPrimaryKeys = 1),
        segmentMs = segMs, timestampColumn = Some("tms"))
      val nBuckets = 4
      (0 until 3).foreach { i =>
        store.writeBucketed(ev.filter(pmod(col("event_id"), lit(3)) === i),
          range, nBuckets)
      }
      store.writeBucketed(ev.filter(pmod(col("event_id"), lit(3)) === 0)
        .withColumn("value", col("value") * 2), range, nBuckets)
      val before = store.manifest.allSsts()
      require(before.size == nBuckets * 4 && before.forall(_.bucket >= 0),
        s"bucketed writes produced ${before.size} SSTs (want ${nBuckets * 4})")
      val compactor = new Compactor(store, CompactionConfig(inputSstMinNum = 2))
      var rounds = 0
      while (compactor.runOnce() && rounds < 40) rounds += 1
      val after = store.manifest.allSsts()
      require(after.size == nBuckets &&
        after.map(_.bucket).toSet == before.map(_.bucket).toSet,
        s"per-bucket compaction did not quiesce ${before.size} -> $nBuckets " +
          s"with buckets preserved (after=${after.map(_.bucket).sorted})")
      require(before.forall(f => !store.exists(f.path)),
        "compaction left replaced SST files on disk")
      store
    }

  /** Fixture for the `graft` SQL data source: one week of events written
    * through `df.write.format("graft")` at 1-day segments (7 per-segment
    * SSTs + a value-doubling Append rewrite of the event_id%5==0 slice),
    * read back through `spark.read.format("graft")` — create-from-options,
    * descriptor-driven reopen, per-segment commit splitting, and
    * merge-on-read last-write-wins all on the SQL edge. */
  private def sqlSourceRoot(s: SparkSession, dir: String): String =
    fixture("sqlSourceRoot", dir) {
      import graft.storage._
      val segMs = 86400000L
      val g = TimeRange.truncate(1704844800000L, 7 * segMs)
      val ev = t(s, dir, "events")
        .select(col("event_id"), tsMs.as("tms"), col("user_id"),
          col("event_type"), col("value"))
        .filter(col("tms") >= g && col("tms") < g + 7 * segMs)
      val root = java.nio.file.Files
        .createTempDirectory("graft-sql-source").toString
      ev.write.format("graft")
        .option("root", root).option("numPrimaryKeys", "1")
        .option("segmentMs", segMs.toString)
        .option("timestampColumn", "tms")
        .mode(org.apache.spark.sql.SaveMode.ErrorIfExists).save()
      // zero-config append (schema/segments from the descriptor)
      ev.filter(pmod(col("event_id"), lit(5)) === 0)
        .withColumn("value", col("value") * 2)
        .write.format("graft").option("root", root)
        .mode(org.apache.spark.sql.SaveMode.Append).save()
      root
    }

  /** The IVF index over `dir`'s embeddings (auto-sized cell count) and its
    * trained centroids, built and cached once per JVM per dir: index
    * construction is write-path work. */
  private def ivfIndexOf(s: SparkSession, dir: String): (DataFrame, Array[Array[Double]]) =
    fixture("ivfIndex", dir) {
      val (ix, c) = Similarity.ivfIndex(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = -1)
      (ix.cache(), c)
    }

  /** The PQ-encoded embeddings of `dir` and their trained codebooks, built
    * and cached once per JVM per dir. */
  private def pqIndexOf(s: SparkSession, dir: String): (DataFrame, Array[Array[Array[Double]]]) =
    fixture("pqIndex", dir) {
      val (enc, b) = Similarity.pqIndex(t(s, dir, "embeddings"),
        "vec_id", "embedding")
      (enc.cache(), b)
    }

  /** Unique memory-sink names: streaming query entries may run repeatedly
    * in one JVM (verify + bench prewarm), and a memory sink name collision
    * fails the restart. */
  private val sinkSeq = new java.util.concurrent.atomic.AtomicInteger
  private def sinkName(prefix: String): String =
    s"${prefix}_${sinkSeq.incrementAndGet()}"

  /** The CDC boundary polynomial as oracle SQL terms — the SAME constants
    * the engine expression uses (Dedup.cdcPows), so a drifted base/modulus
    * shows up as a value mismatch, never a silent fork. */
  private lazy val cdcTermsSql: String =
    graft.pipeline.Dedup.cdcPows(16).zipWithIndex.map { case (p, j) =>
      s"codes[CAST(i - ${15 - j} AS INTEGER)] * $p"
    }.mkString(" + ")

  /** The events table bound to PromQL's data model: metric = event_type,
    * one label `uid` = user_id, ms timestamps, (ts, event_id) series order
    * for deterministic reset-aware rates (same tiebreak as rate1). */
  private def promqlCtx(s: SparkSession, dir: String): graft.promql.PromQLContext =
    new graft.promql.PromQLContext(t(s, dir, "events"), "event_type", tsMs,
      "value", Map("uid" -> "user_id"),
      ordering = Seq(col("ts"), col("event_id")))

  /** Build every one-time per-dataset cache (storage ingest, metric-engine
    * ingest, IVF index) and materialize the cached frames. A bench harness
    * calls this OUTSIDE any timed region, then snapshots
    * `sparkContext.getPersistentRDDs` — everything persisted after the
    * snapshot is per-query transient state it can safely unpersist between
    * queries (the localCheckpoint blocks that prefix sums and iterative
    * connected components leave behind otherwise accumulate across a
    * 60+-query run and the late queries measure storage-memory churn). */
  def prewarm(s: SparkSession, dir: String): Unit = {
    // Each fixture is built independently and failures are contained: a
    // broken fixture must cost only its own queries (their per-query
    // try/catch reports the failure), never the whole bench/verify run
    // (r6 post-mortem: one analysis error in eventsStorage zeroed the round).
    def safely(what: String)(build: => Any): Unit =
      try { build; () } catch {
        case e: Throwable =>
          System.err.println(s"[prewarm] $what failed: ${e.getMessage}")
      }
    safely("eventsStorage")(eventsStorage(s, dir))
    safely("metricEngine")(metricEngine(s, dir))
    safely("bucketedEngine")(bucketedEngine(s, dir))
    safely("compactedEventsStore")(compactedEventsStore(s, dir))
    safely("evolvedStore")(evolvedStore(s, dir))
    safely("tombstoneStore")(tombstoneStore(s, dir))
    // count() forces each index's cache so its RDD ids are in the snapshot
    safely("ivfIndex")(ivfIndexOf(s, dir)._1.count())
    safely("pqIndex")(pqIndexOf(s, dir)._1.count())
  }

  /** Synthesize a `copies`× scale-up of `srcDir`'s documents / embeddings
    * / events tables into `outDir` (round 13, bench sf1 lane): each copy
    * remaps keys into its own id space and REWRITES content so the
    * statistical shape a real larger corpus would have is preserved
    * instead of degenerating into exact replicas (which would turn every
    * LSH/blocking bucket 10× denser and quadratic pair stages 100×,
    * mis-measuring scaling):
    *  - documents: ids offset per copy; text Caesar-rotated per copy over
    *    lowercase, uppercase AND digits (intra-copy shingle/equality
    *    structure EXACTLY preserved — the rotation is a bijection on
    *    characters — while cross-copy shingle sets are disjoint for any
    *    shingle containing an alphanumeric; only punctuation/whitespace-
    *    only shingles coincide across copies)
    *  - embeddings: ids and blocking labels offset per copy (10× more
    *    clusters of the same size — the IVF-rebalance scale path, not 10×
    *    denser clusters); vectors cyclically shifted per copy (a
    *    permutation: intra-copy dot products exact, cross-copy ≈ random)
    *  - events: event/user ids offset per copy — same time range, 10× the
    *    series and sample density, the monitoring-scale growth axis.
    * Copy 0 is the identity, so the base corpus embeds exactly. Idempotent
    * via a marker file; output is plain parquet readable by [[queries]]. */
  def synthesizeScaled(s: SparkSession, srcDir: String, outDir: String,
      copies: Int): Unit = {
    val marker = java.nio.file.Paths.get(outDir, "_GRAFT_SCALED")
    // The marker records a fingerprint of the SOURCE (path + per-table
    // size/mtime) — a bare existence check would silently reuse a stale
    // 10× corpus after the testdata is regenerated, or one synthesized
    // from a different source that shares the /tmp basename, and the
    // lane's ratios would mix old numerators with new denominators.
    def fp(name: String): String = {
      val p = java.nio.file.Paths.get(srcDir, s"$name.parquet")
      val size = try java.nio.file.Files.size(p)
        catch { case _: Exception => -1L }
      val mtime = try java.nio.file.Files.getLastModifiedTime(p).toMillis
        catch { case _: Exception => -1L }
      s"$name:$size:$mtime"
    }
    // Scheme version: bump on ANY rewrite-logic change below. The rest of
    // the fingerprint sees only source path/size/mtime and copy count, so
    // a changed rotation/shift scheme would otherwise silently reuse a
    // stale /tmp corpus and mix old-scheme numerators into new ratios.
    val schemeVersion = 3 // round 15: revolutions past 26 copies reverse/swapcase
    val fingerprint = (s"src=$srcDir copies=$copies scheme=$schemeVersion" +:
      Seq("documents", "embeddings", "events").map(fp)).mkString("\n")
    if (java.nio.file.Files.exists(marker) &&
      new String(java.nio.file.Files.readAllBytes(marker),
        java.nio.charset.StandardCharsets.UTF_8) == fingerprint) return
    val abc = "abcdefghijklmnopqrstuvwxyz"
    def copiesOf(name: String)(remap: (DataFrame, Int) => DataFrame): Unit = {
      val base = rawT(s, srcDir, name)
      (0 until copies).map(c => remap(base, c)).reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }
    copiesOf("documents") { (df, c) =>
      // rotate lowercase, uppercase AND digits — a lowercase-only alphabet
      // left numeric/uppercase tokens identical across copies, so
      // number-heavy documents could still fuse near-dup families across
      // copies and under-state bucket growth. Past the 26-rotation space
      // (round 15 — the ≥100-copy rehearsal) each REVOLUTION k = c/26
      // composes a structure-preserving transform that keeps cross-copy
      // shingles disjoint: k=1 reverses, k=2 swaps case (lowercase maps
      // to rotated UPPERCASE and vice versa), k=3 both — copies c and
      // c+26 no longer fuse into one near-dup family. Copies < 26 are
      // bit-identical to the old scheme (k=0), so the 10-copy bench lane
      // corpus is unchanged in content.
      val upper = abc.toUpperCase
      val dig = "0123456789"
      val k = (c / 26) % 4
      val lowerTgt = abc.drop(c % 26) + abc.take(c % 26)
      val upperTgt = upper.drop(c % 26) + upper.take(c % 26)
      val digTgt = dig.drop(c % 10) + dig.take(c % 10)
      val rotated =
        translate(col("text"), abc + upper + dig,
          (if (k >= 2) upperTgt + lowerTgt else lowerTgt + upperTgt) + digTgt)
      val txt = if (k % 2 == 1) reverse(rotated) else rotated
      df.select((col("doc_id") + c.toLong * 10000000L).as("doc_id"),
        txt.as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    copiesOf("embeddings") { (df, c) =>
      val sh = c % 64
      val shifted =
        if (sh == 0) col("embedding")
        else concat(slice(col("embedding"), sh + 1, 1000000),
          slice(col("embedding"), 1, sh))
      // past 64 copies the dim-64 rotation space is exhausted — NEGATE
      // the second revolution (cosine flips sign, so copy 64+c never
      // fuses with copy c's near-dup family); output for c < 64 is
      // bit-identical to the pre-round-15 scheme, so existing 10×
      // corpora stay valid
      val vec =
        if ((c / 64) % 2 == 1) transform(shifted, x => -x) else shifted
      df.select((col("vec_id") + c.toLong * 10000000L).as("vec_id"),
        vec.as("embedding"),
        (col("label") + c * 100000).as("label"))
    }
    copiesOf("events") { (df, c) =>
      df.select((col("event_id") + c.toLong * 1000000000L).as("event_id"),
        col("ts"), (col("user_id") + c.toLong * 10000000L).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }
    java.nio.file.Files.write(marker,
      fingerprint.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** The canonical scaled-corpus location for a source dir and copy
    * count (the bench lane uses copies = 10). */
  def scaledDirFor(srcDir: String, copies: Int = 10): String =
    s"/tmp/graft_scaled${copies}x_" +
      srcDir.split('/').lastOption.getOrElse(srcDir)

  /** Resolve a probe/lane dir spec: `scaled10x:<srcDir>` synthesizes (or
    * reuses — the marker fingerprint decides) the bench lane's 10× corpus
    * for that source at [[scaledDirFor]]'s canonical location and returns
    * it; anything else passes through. ONE definition shared by Bench's
    * lane and the ScaleProbe/IvfProbe triage tools, so a probe can never
    * silently measure a different corpus than the lane it triages. */
  def resolveScaledSpec(s: SparkSession, spec: String): String = {
    // scaled<N>x:<srcDir> — any copy count (the bench lane uses 10; the
    // round-15 scale rehearsal drives 100)
    val m = "^scaled(\\d+)x:(.+)$".r.findFirstMatchIn(spec)
    m match {
      case Some(g) =>
        val copies = g.group(1).toInt
        require(copies >= 1 && copies <= 1000,
          s"scaled<N>x copy count out of range: $copies")
        val src = g.group(2)
        val out = scaledDirFor(src, copies)
        synthesizeScaled(s, src, out, copies)
        out
      case None => spec
    }
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- queries

  private val stopEn = TextAnalysis.StopwordsEn.map(w => s"'$w'").mkString(", ")
  private val stopEs = TextAnalysis.StopwordsEs.map(w => s"'$w'").mkString(", ")
  private val stopDe = TextAnalysis.StopwordsDe.map(w => s"'$w'").mkString(", ")

  /** One registry entry: a query's name, its DuckDB oracle SQL and its
    * Spark builder. The oracle is by-name, so reading [[queries]] never
    * evaluates SQL text and each [[oracleSql]] call evaluates it afresh;
    * `None` leaves the query without an oracle for this run (a generated
    * oracle whose trained index this JVM has not built). */
  private[graft] final class Query(val name: String, oracle: => Option[String])(
      val build: (SparkSession, String) => DataFrame) {
    def sql: Option[String] = oracle
  }

  /** A registry entry whose oracle always exists. */
  private def query(name: String, oracle: => String)(
      build: (SparkSession, String) => DataFrame): Query =
    new Query(name, Some(oracle))(build)

  /** Every query with its oracle, in one ordered list. */
  private[graft] lazy val registry: Seq[Query] = distinctNames(Seq(

    // S1+P1+P3: projection + filter, both pushed into the parquet scan.
    query("s1_project_filter",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity > 45""".stripMargin)((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"))),

    // S2+F2/F3: time-range pruning (manifest overlap / partition pruning).
    // Filter on the RAW ts column with type-matched literals so the
    // predicate reaches the parquet row-group stats, then normalize.
    query("s2_time_prune",
      """SELECT event_id, epoch_ms(ts::TIMESTAMP) AS ts_ms, user_id, event_type, value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'""".stripMargin)((s, dir) => {
      val raw = rawT(s, dir, "events")
      normalizeTs(raw.filter(rawTsRange(raw, "2024-01-10", "2024-01-20")))
        .select(col("event_id"), tsMs.as("ts_ms"), col("user_id"),
          col("event_type"), col("value"))
    }),

    // The engine's own storage serving an analytic query: events ingested
    // into TimeMergeStorage (bucketed SSTs + manifest), then
    // prune→scan→merge→aggregate — the full reference read pipeline
    // (storage.rs scan contract) hash-checked against the raw-data oracle.
    query("st1_storage_scan",
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_v,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events
        |WHERE epoch_ms(ts::TIMESTAMP) >= 1704844800000
        |  AND epoch_ms(ts::TIMESTAMP) < 1705708800000
        |  AND event_type <> 'view'
        |GROUP BY event_type""".stripMargin)((s, dir) => {
      import graft.storage._
      eventsStorage(s, dir)
        .scan(ScanRequest(
          range = TimeRange(1704844800000L, 1705708800000L), // [Jan 10, Jan 20)
          predicates = Seq(col("event_type") =!= "view")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_v"),
          countDistinct("user_id").as("n_users"))
    }),

    // Zone maps: a non-time predicate pruning SST FILES at planning time
    // from manifest min/max stats (ZoneMaps) — event_id correlates with
    // time in this corpus, so the pk range drops whole segments the time
    // filter never mentioned; correctness is hash-checked against the raw
    // table, file-skipping is pinned in StorageSpec.
    query("st4_zone_prune",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(value), 2) AS sum_v
        |FROM events WHERE event_id >= 2000 AND event_id < 4000
        |GROUP BY event_type""".stripMargin)((s, dir) => {
      import graft.storage._
      eventsStorage(s, dir)
        .scan(ScanRequest(predicates =
          Seq(col("event_id") >= 2000L && col("event_id") < 4000L)))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_v"))
    }),

    // Schema evolution: a widened-schema scan over two SST generations —
    // the pre-split generation was written WITHOUT the `value` column and
    // reads back null (straight from the parquet reader, no rewrite), the
    // post-split generation carries it. n_legacy counts the null-column
    // rows, pinning that both generations are actually read.
    query("st5_schema_evolution",
      // Evolution replay: legacy rows are exactly the pre-split timestamps
      // (their `value` column never existed on disk), so n_legacy and the
      // post-split-only sum pin that the scan merged both generations.
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CASE WHEN epoch_ms(ts::TIMESTAMP) < 1705363200000
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_legacy,
        |  round(sum(CASE WHEN epoch_ms(ts::TIMESTAMP) >= 1705363200000
        |    THEN value END), 2) AS sum_v
        |FROM events GROUP BY event_type""".stripMargin)((s, dir) => {
      import graft.storage._
      evolvedStore(s, dir).scan(ScanRequest())
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("value").isNull, 1L).otherwise(0L)).as("n_legacy"),
          round(sum("value"), 2).as("sum_v"))
    }),

    // Tombstone deletes: merge-on-read DELETE — generation 2 wrote delete
    // markers for the event_id % 7 == 3 slice; the winner-is-tombstone
    // keys vanish from the scan. Oracle = the raw table minus that slice.
    query("a7_tombstone_delete",
      // Tombstoned keys are just absent: the oracle filters the raw table.
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_v,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events WHERE event_id % 7 <> 3
        |GROUP BY event_type""".stripMargin)((s, dir) => {
      import graft.storage._
      tombstoneStore(s, dir).scanWithoutDeleted("deleted")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_v"),
          countDistinct("user_id").as("n_users"))
    }),

    // Time travel: scanAsOf pins the st3 store's FIRST write (the
    // event_id % 3 == 0 slice) — the second batch, though newer and
    // overlapping, is invisible to the pinned view. Oracle = the slice
    // definition replayed over the raw table.
    query("st6_time_travel",
      // The pinned view is exactly the first batch's slice definition.
      """SELECT event_type, count(*) AS n, min(event_id) AS min_id,
        |  max(event_id) AS max_id, round(sum(value), 2) AS sum_v
        |FROM events
        |WHERE event_id % 3 = 0
        |  AND epoch_ms(ts::TIMESTAMP) >= 1704326400000
        |  AND epoch_ms(ts::TIMESTAMP) < 1704931200000
        |GROUP BY event_type""".stripMargin)((s, dir) => {
      val store = builtinStampStore(s, dir)
      val firstId = store.manifest.allSsts().map(_.id).min
      store.scanAsOf(firstId)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), min("event_id").as("min_id"),
          max("event_id").as("max_id"), round(sum("value"), 2).as("sum_v"))
    }),

    // A1+A2+O2: merge-on-read last-write-wins dedup (MergeExec + LastValue).
    query("a1_last_write_wins",
      """SELECT user_id, event_type, value AS last_value, event_id AS last_seq
        |FROM (SELECT user_id, event_type, value, event_id,
        |        row_number() OVER (PARTITION BY user_id, event_type
        |                           ORDER BY event_id DESC) AS rn
        |      FROM events) WHERE rn = 1""".stripMargin)((s, dir) => {
      val w = Window.partitionBy("user_id", "event_type").orderBy(col("event_id").desc)
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("value").as("last_value"),
          col("event_id").as("last_seq"))
    }),

    // A3: append-mode merge — seq-ordered string concat per key.
    query("a2_append_concat",
      """SELECT user_id, string_agg(props, '' ORDER BY event_id) AS chunk
        |FROM events GROUP BY user_id""".stripMargin)((s, dir) =>
      t(s, dir, "events").groupBy("user_id")
        .agg(concat_ws("", transform(
          array_sort(collect_list(struct(col("event_id"), col("props")))),
          x => x("props"))).as("chunk"))),

    // A4: 30-minute chunk bucketing (RFC 30-min sample batching).
    query("a4_chunk30m",
      """SELECT user_id,
        |  CAST(floor(epoch_ms(ts::TIMESTAMP) / 1800000) AS BIGINT) * 1800000 AS bucket_ms,
        |  count(*) AS n, round(sum(value), 2) AS sum_value,
        |  min(epoch_ms(ts::TIMESTAMP)) AS first_ts,
        |  max(epoch_ms(ts::TIMESTAMP)) AS last_ts
        |FROM events GROUP BY user_id, bucket_ms""".stripMargin)((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"), bucket(1800000L).as("bucket_ms"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"),
          min(tsMs).as("first_ts"), max(tsMs).as("last_ts"))),

    // A5: PromQL pushdown aggregates — sum/min/max by label over day buckets.
    query("a5_promql_day",
      """SELECT event_type,
        |  CAST(floor(epoch_ms(ts::TIMESTAMP) / 86400000) AS BIGINT) * 86400000 AS day_ms,
        |  round(sum(value), 2) AS sum_v, round(min(value), 2) AS min_v,
        |  round(max(value), 2) AS max_v, count(*) AS n
        |FROM events GROUP BY event_type, day_ms""".stripMargin)((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"), bucket(86400000L).as("day_ms"))
        .agg(round(sum("value"), 2).as("sum_v"), round(min("value"), 2).as("min_v"),
          round(max("value"), 2).as("max_v"), count(lit(1)).as("n"))),

    // A4/RFC chunk mode: encode 30-min array-of-struct chunks, decode, and
    // aggregate — proves the chunk layer is lossless (oracle aggregates the
    // raw rows directly).
    query("a6_chunk_roundtrip",
      """SELECT user_id, count(*) AS n, round(sum(value), 2) AS sum_v
        |FROM events GROUP BY user_id""".stripMargin)((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), tsMs.as("tms"), col("value"))
      val chunked = graft.storage.Chunks.encode(ev, Seq("user_id"), "tms", "value",
        chunkMs = 1800000L)
      graft.storage.Chunks.decode(chunked, Seq("user_id"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_v"))
    }),

    // SQL surface: same engine, ANSI SQL through a registered view.
    query("sql1_view_query",
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_v
        |FROM events GROUP BY event_type""".stripMargin)((s, dir) => {
      t(s, dir, "events").createOrReplaceTempView("events_v")
      s.sql("""SELECT event_type, count(*) AS n,
               round(sum(value), 2) AS sum_v FROM events_v GROUP BY event_type""")
    }),

    // F2: segment bucketing (12h segments, the soak default).
    query("f2_segment_count",
      """SELECT CAST(floor(epoch_ms(ts::TIMESTAMP) / 43200000) AS BIGINT) AS segment,
        |  count(*) AS n, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY segment""".stripMargin)((s, dir) =>
      t(s, dir, "events")
        .groupBy(floor(tsMs / lit(43200000L)).cast("long").as("segment"))
        .agg(count(lit(1)).as("n"), countDistinct("user_id").as("n_users"))),

    // A5/rate: PromQL rate with counter-reset handling.
    query("rate1_counter",
      """WITH d AS (
        |  SELECT user_id, value, epoch_ms(ts::TIMESTAMP) AS tms,
        |    lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events WHERE event_type = 'purchase')
        |SELECT user_id,
        |  round(sum(CASE WHEN prev IS NULL THEN 0
        |                 WHEN value >= prev THEN value - prev
        |                 ELSE value END), 2) AS increase,
        |  max(tms) - min(tms) AS range_ms, count(*) AS n_samples,
        |  round(sum(CASE WHEN prev IS NULL THEN 0
        |                 WHEN value >= prev THEN value - prev
        |                 ELSE value END) / ((max(tms) - min(tms)) / 1000.0), 6)
        |    AS rate_per_sec
        |FROM d GROUP BY user_id""".stripMargin)((s, dir) => {
      val e = t(s, dir, "events").filter(col("event_type") === "purchase")
      val delta = Rate.resetAwareDelta(col("value"), Seq(col("user_id")),
        Seq(col("ts"), col("event_id")))
      e.withColumn("d", delta).withColumn("tms", tsMs)
        .groupBy("user_id")
        .agg(round(sum("d"), 2).as("increase"),
          (max("tms") - min("tms")).as("range_ms"),
          count(lit(1)).as("n_samples"),
          round(sum("d") / ((max("tms") - min("tms")) / 1000.0), 6).as("rate_per_sec"))
    }),

    // PromQL text surface (graft.promql): parse → evaluate over the events
    // table bound as (metric=event_type, label uid=user_id). Anchored-regex
    // matcher selection.
    query("p1_promql_select",
      """SELECT CAST(user_id AS VARCHAR) AS uid, epoch_ms(ts::TIMESTAMP) AS ts_ms, value
        |FROM events
        |WHERE event_type = 'purchase'
        |  AND regexp_full_match(user_id::VARCHAR, '1[0-9]')""".stripMargin)((s, dir) =>
      promqlCtx(s, dir).sql("""purchase{uid=~"1[0-9]"}""")),

    // PromQL stepped aggregation: max by (uid) at 1-day step (max is
    // arithmetic-free, so no rounding is needed for oracle parity).
    query("p2_promql_agg",
      """SELECT CAST(user_id AS VARCHAR) AS uid,
        |  CAST(floor(epoch_ms(ts::TIMESTAMP) / 86400000) AS BIGINT) * 86400000
        |    AS bucket_ms,
        |  max(value) AS value
        |FROM events
        |WHERE event_type = 'purchase'
        |  AND regexp_full_match(user_id::VARCHAR, '[1-3][0-9]')
        |GROUP BY uid, bucket_ms""".stripMargin)((s, dir) =>
      promqlCtx(s, dir).sql("""max by (uid) (purchase{uid=~"[1-3][0-9]"})""",
        stepMs = Some(86400000L))),

    // PromQL unary minus: folds on literals, desugars to 0 - v on vectors
    // (Prometheus shares scalar-arithmetic semantics); binds tighter than *.
    query("p26_promql_unary",
      // Unary replay: the engine desugars -v to 0 - v, so the oracle spells
      // 0 - max too — DuckDB's true unary negation would emit -0.0 where the
      // subtraction emits +0.0 (the hash comparator distinguishes them).
      // Negation and doubling are exact in IEEE — no rounding needed.
      """SELECT CAST(user_id AS VARCHAR) AS uid,
        |  CAST(floor(epoch_ms(ts::TIMESTAMP) / 86400000) AS BIGINT) * 86400000
        |    AS bucket_ms,
        |  (0 - max(value)) * 2 AS value
        |FROM events
        |WHERE event_type = 'purchase'
        |  AND regexp_full_match(user_id::VARCHAR, '[1-3][0-9]')
        |GROUP BY uid, bucket_ms""".stripMargin)((s, dir) =>
      promqlCtx(s, dir).sql("""-max by (uid) (purchase{uid=~"[1-3][0-9]"}) * 2""",
        stepMs = Some(86400000L))),

    // PromQL '^' power + '%' modulo (round 15): ^ binds ABOVE % (and every
    // other operator), so this is (max^2) % 7 — Go Pow/Mod semantics on
    // the engine side, pow/fmod on the oracle side.
    query("p44_promql_power",
      // (max^2) % 7 — DuckDB pow/fmod replay of the engine's Go Pow/Mod.
      """SELECT CAST(user_id AS VARCHAR) AS uid,
        |  CAST(floor(epoch_ms(ts::TIMESTAMP) / 86400000) AS BIGINT) * 86400000
        |    AS bucket_ms,
        |  round(fmod(pow(max(value), 2), 7), 4) AS value
        |FROM events
        |WHERE event_type = 'purchase'
        |  AND regexp_full_match(user_id::VARCHAR, '[1-3][0-9]')
        |GROUP BY uid, bucket_ms""".stripMargin)((s, dir) =>
      promqlCtx(s, dir)
        .sql("""max by (uid) (purchase{uid=~"[1-3][0-9]"}) ^ 2 % 7""",
          stepMs = Some(86400000L))
        .withColumn("value", round(col("value"), 4))),

    // PromQL absent_over_time: 1.0 for each day-bucket of January 2024 in
    // which uid 7 made no purchase — the missing-data alerting primitive,
    // a grid anti-join over the bounded range.
    query("p27_promql_absent_ot",
      // Absent replay: day grid minus the days uid 7 purchased.
      // round 12: the `=` matcher reconstructs as a literal uid label
      // (Prometheus createLabelsForAbsentFunction)
      """WITH g AS (SELECT unnest(generate_series(
        |    1704067200000, 1706659200000, 86400000)) AS bucket_ms),
        |p AS (SELECT DISTINCT
        |    CAST(floor(epoch_ms(ts::TIMESTAMP) / 86400000) AS BIGINT)
        |      * 86400000 AS bucket_ms
        |  FROM events WHERE event_type = 'purchase' AND user_id = 7
        |    AND epoch_ms(ts::TIMESTAMP) >= 1704067200000
        |    AND epoch_ms(ts::TIMESTAMP) < 1706745600000)
        |SELECT g.bucket_ms, CAST(1.0 AS DOUBLE) AS value, '7' AS uid FROM g
        |WHERE g.bucket_ms NOT IN (SELECT bucket_ms FROM p)""".stripMargin)((s, dir) =>
      promqlCtx(s, dir).sql("""absent_over_time(purchase{uid="7"}[1d])""",
        range = Some(graft.storage.TimeRange(1704067200000L, 1706745600000L)))),

    // PromQL windowed population stddev — dispersion per series per day.
    query("p28_promql_stddev_ot",
      """SELECT CAST(user_id AS VARCHAR) AS uid,
        |  CAST(floor(epoch_ms(ts::TIMESTAMP) / 86400000) AS BIGINT) * 86400000
        |    AS bucket_ms,
        |  round(stddev_pop(value), 4) AS value
        |FROM events
        |WHERE event_type = 'click'
        |  AND regexp_full_match(user_id::VARCHAR, '[0-9]')
        |GROUP BY uid, bucket_ms""".stripMargin)((s, dir) =>
      promqlCtx(s, dir)
        .sql("""stddev_over_time(click{uid=~"[0-9]"}[1d])""")
        .withColumn("value", round(col("value"), 4))),

    // PromQL windowed median-absolute-deviation — the robust dispersion
    // measure (two-level interpolated median).
    query("p29_promql_mad_ot",
      // MAD replay: inner median per (uid, day), then the median of the
      // absolute deviations — both quantile_cont (linear interpolation).
      """WITH p AS (SELECT CAST(user_id AS VARCHAR) AS uid,
        |    CAST(floor(epoch_ms(ts::TIMESTAMP) / 86400000) AS BIGINT)
        |      * 86400000 AS bucket_ms, value
        |  FROM events WHERE event_type = 'purchase'
        |    AND regexp_full_match(user_id::VARCHAR, '[1-2][0-9]')),
        |m AS (SELECT uid, bucket_ms, quantile_cont(value, 0.5) AS med
        |  FROM p GROUP BY uid, bucket_ms)
        |SELECT p.uid, p.bucket_ms,
        |  round(quantile_cont(abs(p.value - m.med), 0.5), 4) AS value
        |FROM p JOIN m USING (uid, bucket_ms)
        |GROUP BY p.uid, p.bucket_ms""".stripMargin)((s, dir) =>
      promqlCtx(s, dir)
        .sql("""mad_over_time(purchase{uid=~"[1-2][0-9]"}[1d])""")
        .withColumn("value", round(col("value"), 4))),

    // PromQL INSTANT evaluation (round 9): windowless aggregation at one
    // timestamp = aggregate of each series' newest sample within the
    // lookback — exact Prometheus /api/v1/query semantics (each uid is one
    // series, so the "sum" is its single latest value; no FP-order risk).
    // T = 2024-02-01, lookback = 31 d covers the January fixture.
    query("p35_promql_instant",
      // Instant replay: newest sample per series within the lookback window
      // ((T-31d, T], T = 2024-02-01), same (ts DESC, event_id DESC) tiebreak
      // the engine's ordering columns use.
      """WITH ranked AS (
        |  SELECT CAST(user_id AS VARCHAR) AS uid, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_ms(ts::TIMESTAMP) DESC, event_id DESC) AS rn
        |  FROM events
        |  WHERE event_type = 'purchase'
        |    AND regexp_full_match(user_id::VARCHAR, '[1-9]')
        |    AND epoch_ms(ts::TIMESTAMP) > 1706745600000 - 2678400000
        |    AND epoch_ms(ts::TIMESTAMP) <= 1706745600000)
        |SELECT uid, sum(value) AS value FROM ranked WHERE rn = 1
        |GROUP BY uid""".stripMargin)((s, dir) =>
      promqlCtx(s, dir).sqlInstant("""sum by (uid) (purchase{uid=~"[1-9]"})""",
        1706745600000L, lookbackMs = 2678400000L)),

    // Instant RAW selector: per-series newest sample with its actual
    // timestamp (stale series outside the lookback drop out).
    query("p36_promql_instant_raw",
      """WITH ranked AS (
        |  SELECT CAST(user_id AS VARCHAR) AS uid,
        |    epoch_ms(ts::TIMESTAMP) AS ts_ms, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_ms(ts::TIMESTAMP) DESC, event_id DESC) AS rn
        |  FROM events
        |  WHERE event_type = 'purchase'
        |    AND regexp_full_match(user_id::VARCHAR, '[1-7]')
        |    AND epoch_ms(ts::TIMESTAMP) > 1706745600000 - 2678400000
        |    AND epoch_ms(ts::TIMESTAMP) <= 1706745600000)
        |SELECT uid, ts_ms, value FROM ranked WHERE rn = 1""".stripMargin)((s, dir) =>
      promqlCtx(s, dir).sqlInstant("""purchase{uid=~"[1-7]"}""",
        1706745600000L, lookbackMs = 2678400000L)),

    // Instant WINDOWED expression with the round-11 EXACT sliding lookback:
    // rate over the true (T-1w, T] window at an UNALIGNED evaluation time
    // (no tumbling bucket contains it), summed per uid. The oracle replays
    // the sliding window in SQL — boundary-inclusive window filter, lag
    // within the window only, reset-aware positive deltas / window seconds.
    query("p37_promql_instant_sliding",
      // Exact sliding-lookback instant rate: the true (T-1w, T] window at an
      // unaligned T — boundary-inclusive filter, lag ordered (ts, event_id)
      // WITHIN the window, reset-aware positive deltas / window seconds.
      """WITH d AS (
        |  SELECT user_id, value, event_id, epoch_ms(ts::TIMESTAMP) AS tms
        |  FROM events
        |  WHERE event_type = 'purchase'
        |    AND regexp_full_match(user_id::VARCHAR, '[1-9][0-9]?')
        |    AND epoch_ms(ts::TIMESTAMP) > 1705593845678 - 604800000
        |    AND epoch_ms(ts::TIMESTAMP) <= 1705593845678),
        |dd AS (SELECT user_id, value,
        |    lag(value) OVER (PARTITION BY user_id ORDER BY tms, event_id)
        |      AS prev FROM d)
        |SELECT CAST(user_id AS VARCHAR) AS uid,
        |  round(sum(CASE WHEN prev IS NULL THEN 0
        |                 WHEN value >= prev THEN value - prev
        |                 ELSE value END) / 604800.0, 6) AS value
        |FROM dd GROUP BY uid""".stripMargin)((s, dir) =>
      promqlCtx(s, dir)
        .sqlInstant("""sum by (uid) (rate(purchase{uid=~"[1-9][0-9]?"}[1w]))""",
          1705593845678L, lookbackMs = 2678400000L)
        .withColumn("value", round(col("value"), 6))),

    // EXACT sliding RANGE windows (round 12, opt-in mode): step 1d ≠
    // window 2d over an UNALIGNED output range — each step-grid T gets
    // Prometheus's (T-2d, T] window, deltas chained within the window
    // (first in-window sample is the baseline). The oracle joins each
    // grid T to its window's samples and replays the reset-aware sum.
    query("p38_promql_range_sliding",
      // Sliding-range replay: grid T = ceil(1705000000000/1d)·1d .. the
      // last 1d multiple below the range end; each T joins the samples of
      // its (T-2d, T] window, lag within (T, uid), reset-aware sum / 2d.
      """WITH grid(t) AS (VALUES
        |    (CAST(1705017600000 AS BIGINT)), (CAST(1705104000000 AS BIGINT)),
        |    (CAST(1705190400000 AS BIGINT)), (CAST(1705276800000 AS BIGINT))),
        |  d AS (
        |    SELECT user_id, value, event_id, epoch_ms(ts::TIMESTAMP) AS tms
        |    FROM events
        |    WHERE event_type = 'purchase'
        |      AND regexp_full_match(user_id::VARCHAR, '[1-9]')),
        |  win AS (
        |    SELECT g.t, d.user_id, d.value,
        |      lag(d.value) OVER (PARTITION BY g.t, d.user_id
        |        ORDER BY d.tms, d.event_id) AS prev
        |    FROM grid g JOIN d ON d.tms > g.t - 172800000 AND d.tms <= g.t)
        |SELECT CAST(user_id AS VARCHAR) AS uid, t AS bucket_ms,
        |  round(sum(CASE WHEN prev IS NULL THEN 0
        |                 WHEN value >= prev THEN value - prev
        |                 ELSE value END) / 172800.0, 6) AS value
        |FROM win GROUP BY uid, t""".stripMargin)((s, dir) => {
      import graft.storage.TimeRange
      val step = 86400000L
      val w = 172800000L
      val outR = TimeRange(1705000000000L, 1705000000000L + 4 * 86400000L)
      val ctx = new graft.promql.PromQLContext(t(s, dir, "events"),
        "event_type", tsMs, "value", Map("uid" -> "user_id"),
        ordering = Seq(col("ts"), col("event_id")),
        slidingStep = Some((step, outR)))
      ctx.sql("""sum by (uid) (rate(purchase{uid=~"[1-9]"}[2d]))""",
          stepMs = Some(step),
          range = Some(TimeRange(outR.start - w + 1, outR.end)))
        .withColumn("value", round(col("value"), 6))
    }),

    // Sliding *_over_time (round 12): max over each per-step (T-2d, T]
    // window — the plain-aggregate arm of the sliding grid, same
    // unaligned range as p38.
    query("p39_promql_maxot_sliding",
      // Sliding max_over_time replay: the same grid join, a plain MAX per
      // (uid, T) window.
      """WITH grid(t) AS (VALUES
        |    (CAST(1705017600000 AS BIGINT)), (CAST(1705104000000 AS BIGINT)),
        |    (CAST(1705190400000 AS BIGINT)), (CAST(1705276800000 AS BIGINT))),
        |  d AS (
        |    SELECT user_id, value, epoch_ms(ts::TIMESTAMP) AS tms
        |    FROM events
        |    WHERE event_type = 'purchase'
        |      AND regexp_full_match(user_id::VARCHAR, '[1-9]'))
        |SELECT CAST(d.user_id AS VARCHAR) AS uid, g.t AS bucket_ms,
        |  max(d.value) AS value
        |FROM grid g JOIN d ON d.tms > g.t - 172800000 AND d.tms <= g.t
        |GROUP BY uid, g.t""".stripMargin)((s, dir) => {
      import graft.storage.TimeRange
      val step = 86400000L
      val w = 172800000L
      val outR = TimeRange(1705000000000L, 1705000000000L + 4 * 86400000L)
      val ctx = new graft.promql.PromQLContext(t(s, dir, "events"),
        "event_type", tsMs, "value", Map("uid" -> "user_id"),
        ordering = Seq(col("ts"), col("event_id")),
        slidingStep = Some((step, outR)))
      ctx.sql("""max_over_time(purchase{uid=~"[1-9]"}[2d])""",
        stepMs = Some(step),
        range = Some(TimeRange(outR.start - w + 1, outR.end)))
    }),

    // Sliding SUBQUERY (round 13): max_over_time(rate(m[2d])[4d:1d]) at an
    // UNALIGNED output range with outer step 2d — inner rate evaluates on
    // its own epoch-aligned 1d grid with pinned (t-2d, t] windows (inner
    // window ≠ inner step, which tumbling mode rejects), then the outer
    // max slides Prometheus's (T-4d, T] over those inner points. The
    // oracle replays the two-level timeline: an inner grid join with
    // in-window reset-aware deltas, then an outer grid join taking the
    // max.
    query("p40_promql_subquery_sliding",
      // Sliding subquery replay: inner 1d grid (epoch-aligned multiples of
      // 86400000 inside (firstT - 4d, lastT]) joined to each step's
      // (t-2d, t] window with in-window reset-aware deltas → per-step rate,
      // then the outer 2d grid takes the max over (T-4d, T].
      """WITH ogrid(t) AS (VALUES
        |    (CAST(1705017600000 AS BIGINT)), (CAST(1705190400000 AS BIGINT)),
        |    (CAST(1705363200000 AS BIGINT)), (CAST(1705536000000 AS BIGINT))),
        |  igrid(t) AS (VALUES
        |    (CAST(1704758400000 AS BIGINT)), (CAST(1704844800000 AS BIGINT)),
        |    (CAST(1704931200000 AS BIGINT)), (CAST(1705017600000 AS BIGINT)),
        |    (CAST(1705104000000 AS BIGINT)), (CAST(1705190400000 AS BIGINT)),
        |    (CAST(1705276800000 AS BIGINT)), (CAST(1705363200000 AS BIGINT)),
        |    (CAST(1705449600000 AS BIGINT)), (CAST(1705536000000 AS BIGINT))),
        |  d AS (
        |    SELECT user_id, value, event_id, epoch_ms(ts::TIMESTAMP) AS tms
        |    FROM events
        |    WHERE event_type = 'purchase'
        |      AND regexp_full_match(user_id::VARCHAR, '[1-9]')),
        |  win AS (
        |    SELECT g.t, d.user_id, d.value,
        |      lag(d.value) OVER (PARTITION BY g.t, d.user_id
        |        ORDER BY d.tms, d.event_id) AS prev
        |    FROM igrid g JOIN d ON d.tms > g.t - 172800000 AND d.tms <= g.t),
        |  r AS (
        |    SELECT t, user_id,
        |      sum(CASE WHEN prev IS NULL THEN 0
        |               WHEN value >= prev THEN value - prev
        |               ELSE value END) / 172800.0 AS v
        |    FROM win GROUP BY t, user_id)
        |SELECT CAST(r.user_id AS VARCHAR) AS uid, o.t AS bucket_ms,
        |  round(max(r.v), 6) AS value
        |FROM ogrid o JOIN r ON r.t > o.t - 345600000 AND r.t <= o.t
        |GROUP BY uid, o.t""".stripMargin)((s, dir) => {
      import graft.storage.TimeRange
      val step = 172800000L // outer step 2d
      val wSub = 345600000L // subquery range 4d
      val wIn = 172800000L // inner rate window 2d
      val outR = TimeRange(1705000000000L, 1705000000000L + 8 * 86400000L)
      val ctx = new graft.promql.PromQLContext(t(s, dir, "events"),
        "event_type", tsMs, "value", Map("uid" -> "user_id"),
        ordering = Seq(col("ts"), col("event_id")),
        slidingStep = Some((step, outR)))
      ctx.sql("""max_over_time(rate(purchase{uid=~"[1-9]"}[2d])[4d:1d])""",
          stepMs = Some(step),
          range = Some(TimeRange(outR.start - wSub - wIn + 1, outR.end)))
        .withColumn("value", round(col("value"), 6))
    }),

    // Bare `{__name__=~…}` selector through the FULL metric engine
    // (round 14): the evaluator resolves the name regex against the
    // metrics dictionary as a frame, scans all matched metrics, and
    // groups by __name__ — the multi-metric evaluator path whose plan
    // the MetricEngineSpec pins to stay constant-size above the
    // NameUnionFanout cap.
    query("p41_promql_name_regex",
      // Multi-metric name-regex selection through the evaluator must equal
      // a group-by over the raw event types under the SAME anchored name
      // regex — the filter must ride in the oracle too, or a future event
      // type outside the alphabet would silently diverge the two sides.
      """SELECT event_type AS "__name__", round(sum(value), 2) AS value
        |FROM events
        |WHERE regexp_full_match(event_type, '(p|c|v|s|e).*')
        |GROUP BY event_type""".stripMargin)((s, dir) =>
      metricEngine(s, dir)
        .queryPromQL("""sum by (__name__) ({__name__=~"(p|c|v|s|e).*"})""",
          graft.storage.TimeRange(Long.MinValue, Long.MaxValue))
        .withColumn("value", round(col("value"), 2))),

    // Prometheus 3 UTF-8 metric names end to end (round 14): OTLP-style
    // dotted names through the FULL engine (xxhash ids, meta tables,
    // segmented SSTs), resolved by a name regex in the evaluator and
    // grouped by __name__. Oracle = the expected aggregate as hand-
    // written VALUES (the serving-fixture convention) — the hash matches
    // only if dotted names survive ingest → dictionary → index → serve.
    query("p42_utf8_names",
      // Dotted metric names through the full engine must come back exactly.
      """SELECT * FROM (VALUES
        |  ('svc.request.duration', 'api', CAST(10.5 AS DOUBLE)),
        |  ('svc.request.duration', 'worker', CAST(1.25 AS DOUBLE)),
        |  ('svc.queue.depth', 'api', CAST(9.0 AS DOUBLE)))
        |  AS t("__name__", job, value)""".stripMargin)((s, dir) => {
      val eng = cachedServingEngine("p42") {
        import s.implicits._
        val root = java.nio.file.Files
          .createTempDirectory("graft-p42").toString
        val e = new graft.metric.MetricEngine(s, root)
        e.write(Seq(
          graft.metric.Sample("svc.request.duration",
            Map("job" -> "api"), 1000L, 4.0),
          graft.metric.Sample("svc.request.duration",
            Map("job" -> "api"), 2000L, 6.5),
          graft.metric.Sample("svc.request.duration",
            Map("job" -> "worker"), 1000L, 1.25),
          graft.metric.Sample("svc.queue.depth",
            Map("job" -> "api"), 1500L, 9.0)).toDF())
        e
      }
      eng.queryPromQL(
        """sum by (__name__, job) ({__name__=~"svc\\..*"})""",
        graft.storage.TimeRange(Long.MinValue, Long.MaxValue))
    }),

    // Prometheus 3 UTF-8 label NAMES through the evaluator (round 15):
    // dotted OTLP resource attributes as GROUPING labels and quoted-name
    // matchers — the general path binds them to positional flat columns
    // (__lbl_0, …) and re-keys the output by the real names, so the
    // result schema carries `service.name` literally. The hash matches
    // only if quoted by-list parsing, the positional binding, the
    // index-side matcher prune, and the quoted output references all
    // line up.
    query("p43_promql_dotted_label",
      // Dotted label NAMES as grouping keys through the evaluator: the
      // output schema itself must carry the UTF-8 name (`service.name`
      // literally as a column), with values summed per group.
      """SELECT * FROM (VALUES
        |  ('api', CAST(12.5 AS DOUBLE)),
        |  ('worker', CAST(1.25 AS DOUBLE)))
        |  AS t("service.name", value)""".stripMargin)((s, dir) => {
      val eng = cachedServingEngine("p43") {
        import s.implicits._
        val root = java.nio.file.Files
          .createTempDirectory("graft-p43").toString
        val e = new graft.metric.MetricEngine(s, root)
        e.write(Seq(
          graft.metric.Sample("http_requests",
            Map("service.name" -> "api", "host.name" -> "h1"), 1000L, 4.0),
          graft.metric.Sample("http_requests",
            Map("service.name" -> "api", "host.name" -> "h2"), 2000L, 6.5),
          graft.metric.Sample("http_requests",
            Map("service.name" -> "worker", "host.name" -> "h1"), 1000L, 1.25),
          graft.metric.Sample("http_requests",
            Map("service.name" -> "api", "host.name" -> "h1"), 3000L, 2.0)).toDF())
        e
      }
      eng.queryPromQL(
        """sum by ("service.name") (http_requests{"host.name"=~"h[0-9]"})""",
        graft.storage.TimeRange(Long.MinValue, Long.MaxValue))
    }),

    // PromQL reset-aware per-second rate over 1-day tumbling windows,
    // summed per series group.
    query("p3_promql_rate",
      """WITH d AS (
        |  SELECT user_id, value, epoch_ms(ts::TIMESTAMP) AS tms,
        |    lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events
        |  WHERE event_type = 'purchase'
        |    AND regexp_full_match(user_id::VARCHAR, '[1-9]'))
        |SELECT CAST(user_id AS VARCHAR) AS uid,
        |  CAST(floor(tms / 86400000) AS BIGINT) * 86400000 AS bucket_ms,
        |  round(sum(CASE WHEN prev IS NULL THEN 0
        |                 WHEN value >= prev THEN value - prev
        |                 ELSE value END) / 86400.0, 6) AS value
        |FROM d GROUP BY uid, bucket_ms""".stripMargin)((s, dir) =>
      promqlCtx(s, dir)
        .sql("""sum by (uid) (rate(purchase{uid=~"[1-9]"}[1d]))""")
        .withColumn("value", round(col("value"), 6))),

    // PromQL parameterized aggregation: per-day top-3 samples by value
    // (deterministic tiebreak on every output column).
    query("p4_promql_topk",
      """WITH s AS (
        |  SELECT CAST(user_id AS VARCHAR) AS uid, epoch_ms(ts::TIMESTAMP) AS ts_ms, value,
        |    CAST(floor(epoch_ms(ts::TIMESTAMP) / 86400000) AS BIGINT) * 86400000
        |      AS bucket_ms
        |  FROM events
        |  WHERE event_type = 'purchase'
        |    AND regexp_full_match(user_id::VARCHAR, '[1-9][0-9]')),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY bucket_ms ORDER BY value DESC, ts_ms, uid) AS rk
        |  FROM s)
        |SELECT uid, ts_ms, value, bucket_ms FROM r WHERE rk <= 3""".stripMargin)((s, dir) =>
      promqlCtx(s, dir).sql("""topk(3, purchase{uid=~"[1-9][0-9]"})""",
        stepMs = Some(86400000L))),

    // PromQL limitk: k samples per step — deterministic label-order pick
    // (Prometheus 3.0 experimental agg; WHICH k is unspecified there).
    query("p31_promql_limitk",
      """WITH s AS (
        |  SELECT CAST(user_id AS VARCHAR) AS uid, epoch_ms(ts::TIMESTAMP) AS ts_ms, value,
        |    CAST(floor(epoch_ms(ts::TIMESTAMP) / 86400000) AS BIGINT) * 86400000
        |      AS bucket_ms
        |  FROM events
        |  WHERE event_type = 'purchase'
        |    AND regexp_full_match(user_id::VARCHAR, '[1-9][0-9]')),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY bucket_ms ORDER BY ts_ms, uid, value) AS rk
        |  FROM s)
        |SELECT uid, ts_ms, value, bucket_ms FROM r WHERE rk <= 5""".stripMargin)((s, dir) =>
      promqlCtx(s, dir).sql("""limitk(5, purchase{uid=~"[1-9][0-9]"})""",
        stepMs = Some(86400000L))),

    // PromQL limit_ratio: deterministic md5 series sample; the negative
    // parameter keeps the exact complement (spec-asserted to partition).
    query("p32_promql_limit_ratio",
      """SELECT CAST(user_id AS VARCHAR) AS uid,
        |  epoch_ms(ts::TIMESTAMP) AS ts_ms, value
        |FROM events
        |WHERE event_type = 'purchase'
        |  AND regexp_full_match(user_id::VARCHAR, '[1-9][0-9]')
        |  AND CAST(concat('0x', substr(md5(user_id::VARCHAR), 1, 4)) AS BIGINT)
        |      / 65536.0 < 0.5""".stripMargin)((s, dir) =>
      promqlCtx(s, dir).sql("""limit_ratio(0.5, purchase{uid=~"[1-9][0-9]"})""")),

    // PromQL scalar(): per-day share-of-total — the scalar combines
    // against the vector's full identity per step (no label matching).
    query("p33_promql_scalar",
      """WITH p AS (SELECT CAST(user_id AS VARCHAR) AS uid,
        |    CAST(floor(epoch_ms(ts::TIMESTAMP) / 86400000) AS BIGINT)
        |      * 86400000 AS bucket_ms,
        |    sum(value) AS v
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |tot AS (SELECT
        |    CAST(floor(epoch_ms(ts::TIMESTAMP) / 86400000) AS BIGINT)
        |      * 86400000 AS bucket_ms,
        |    sum(value) AS t
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT p.bucket_ms, p.uid, round(p.v / tot.t, 6) AS value
        |FROM p JOIN tot USING (bucket_ms)""".stripMargin)((s, dir) =>
      promqlCtx(s, dir)
        .sql("sum by (uid) (purchase) / scalar(sum(purchase))",
          stepMs = Some(86400000L))
        .withColumn("value", round(col("value"), 6))),

    // PromQL sort_by_label_desc (Prometheus 2.49 experimental): ordering
    // by LABEL values, not sample values. The rank is stamped from the
    // ordering DEFINITION (a Window over the same label/tiebreak keys the
    // engine sorts by), not from physical row order — order preservation
    // through coalesce/mono-id is an implementation artifact Spark does not
    // guarantee. The engine's own sort output order is asserted row-for-row
    // against this definition in PromQLSpec.
    query("p34_promql_sortlabel",
      // Expected ordering replayed with the oracle's OWN order-by: uid desc
      // lexicographically (labels are strings), bucket ascending as the
      // deterministic tiebreak — the rank column must agree row for row.
      """WITH v AS (SELECT CAST(user_id AS VARCHAR) AS uid,
        |    CAST(floor(epoch_ms(ts::TIMESTAMP) / 86400000) AS BIGINT)
        |      * 86400000 AS bucket_ms,
        |    round(sum(value), 2) AS value
        |  FROM events WHERE event_type = 'purchase'
        |    AND regexp_full_match(CAST(user_id AS VARCHAR), '1[0-9]')
        |  GROUP BY 1, 2)
        |SELECT uid, bucket_ms, value,
        |  CAST(row_number() OVER (ORDER BY uid DESC, bucket_ms) AS BIGINT)
        |    AS rank
        |FROM v""".stripMargin)((s, dir) =>
      promqlCtx(s, dir)
        .sql("""sort_by_label_desc(sum by (uid) (purchase{uid=~"1[0-9]"}), "uid")""",
          stepMs = Some(86400000L))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("uid").desc, col("bucket_ms"))).cast("long"))
        .withColumn("value", round(col("value"), 2))),

    // PromQL exact interpolated quantile per day bucket.
    query("p5_promql_quantile",
      """SELECT
        |  CAST(floor(epoch_ms(ts::TIMESTAMP) / 86400000) AS BIGINT) * 86400000
        |    AS bucket_ms,
        |  round(quantile_cont(value, 0.9), 4) AS value
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY bucket_ms""".stripMargin)((s, dir) =>
      promqlCtx(s, dir).sql("""quantile(0.9, purchase)""", stepMs = Some(86400000L))
        .withColumn("value", round(col("value"), 4))),

    // PromQL binary op: label-matched vector ratio (purchase/view value
    // share per user-day; inner-match semantics on (uid, bucket)).
    query("p6_promql_ratio",
      """WITH p AS (
        |  SELECT CAST(user_id AS VARCHAR) AS uid,
        |    CAST(floor(epoch_ms(ts::TIMESTAMP) / 86400000) AS BIGINT) * 86400000
        |      AS bucket_ms,
        |    sum(value) AS v
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |w AS (
        |  SELECT CAST(user_id AS VARCHAR) AS uid,
        |    CAST(floor(epoch_ms(ts::TIMESTAMP) / 86400000) AS BIGINT) * 86400000
        |      AS bucket_ms,
        |    sum(value) AS v
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT p.uid, p.bucket_ms, round(p.v / w.v, 6) AS value
        |FROM p JOIN w USING (uid, bucket_ms)""".stripMargin)((s, dir) =>
      promqlCtx(s, dir)
        .sql("sum by (uid) (purchase) / sum by (uid) (view)",
          stepMs = Some(86400000L))
        .withColumn("value", round(col("value"), 6))),

    // PromQL offset modifier: data shifted 1 day forward onto the query
    // timeline, then bucketed/aggregated there.
    query("p7_promql_offset",
      """SELECT CAST(user_id AS VARCHAR) AS uid,
        |  CAST(floor((epoch_ms(ts::TIMESTAMP) + 86400000) / 86400000) AS BIGINT)
        |    * 86400000 AS bucket_ms,
        |  round(sum(value), 2) AS value
        |FROM events
        |WHERE event_type = 'purchase'
        |  AND regexp_full_match(user_id::VARCHAR, '[1-5]')
        |GROUP BY uid, bucket_ms""".stripMargin)((s, dir) =>
      promqlCtx(s, dir)
        .sql("""sum by (uid) (purchase{uid=~"[1-5]"} offset 1d)""",
          stepMs = Some(86400000L))
        .withColumn("value", round(col("value"), 2))),

    // PromQL *_over_time range function: newest sample per series per
    // 1-day window, ordered by the context's (ts, event_id) tiebreak.
    query("p8_promql_lastot",
      """WITH r AS (
        |  SELECT CAST(user_id AS VARCHAR) AS uid, value,
        |    CAST(floor(epoch_ms(ts::TIMESTAMP) / 86400000) AS BIGINT) * 86400000
        |      AS bucket_ms,
        |    row_number() OVER (
        |      PARTITION BY user_id,
        |        CAST(floor(epoch_ms(ts::TIMESTAMP) / 86400000) AS BIGINT)
        |      ORDER BY ts DESC, event_id DESC) AS rk
        |  FROM events
        |  WHERE event_type = 'purchase'
        |    AND regexp_full_match(user_id::VARCHAR, '[1-4][0-9]'))
        |SELECT uid, bucket_ms, value FROM r WHERE rk = 1""".stripMargin)((s, dir) =>
      promqlCtx(s, dir)
        .sql("""last_over_time(purchase{uid=~"[1-4][0-9]"}[1d])""")),

    // PromQL bool modifier: comparison as a 0/1 indicator, not a filter.
    query("p9_promql_bool",
      """SELECT CAST(user_id AS VARCHAR) AS uid,
        |  CASE WHEN sum(value) > 250.7 THEN 1.0 ELSE 0.0 END AS value
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY uid""".stripMargin)((s, dir) =>
      promqlCtx(s, dir).sql("sum by (uid) (purchase) > bool 250.7")),

    // PromQL explicit vector matching: on(uid) group_left total ratio.
    query("p10_promql_groupleft",
      """WITH p AS (
        |  SELECT CAST(user_id AS VARCHAR) AS uid, sum(value) AS v
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |w AS (
        |  SELECT CAST(user_id AS VARCHAR) AS uid, sum(value) AS v
        |  FROM events WHERE event_type = 'view' GROUP BY 1)
        |SELECT p.uid, round(p.v / w.v, 6) AS value
        |FROM p JOIN w USING (uid)""".stripMargin)((s, dir) =>
      promqlCtx(s, dir)
        .sql("sum by (uid) (purchase) / on(uid) group_left sum by (uid) (view)")
        .withColumn("value", round(col("value"), 6))),

    // PromQL without-grouping + clamp scalar function: daily totals with
    // the uid label dropped (complement grouping), clamped to [50, 500].
    query("p11_promql_without_clamp",
      """SELECT
        |  CAST(floor(epoch_ms(ts::TIMESTAMP) / 86400000) AS BIGINT) * 86400000
        |    AS bucket_ms,
        |  round(least(greatest(sum(value), 50), 500), 2) AS value
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY bucket_ms""".stripMargin)((s, dir) =>
      promqlCtx(s, dir)
        .sql("clamp(sum without (uid) (purchase), 50, 500)",
          stepMs = Some(86400000L))
        .withColumn("value", round(col("value"), 2))),

    // PromQL stddev aggregation (population, Prometheus semantics) per
    // user-day.
    query("p12_promql_stddev",
      """SELECT CAST(user_id AS VARCHAR) AS uid,
        |  CAST(floor(epoch_ms(ts::TIMESTAMP) / 86400000) AS BIGINT) * 86400000
        |    AS bucket_ms,
        |  round(stddev_pop(value), 4) AS value
        |FROM events
        |WHERE event_type = 'purchase'
        |  AND regexp_full_match(user_id::VARCHAR, '[1-2][0-9]')
        |GROUP BY uid, bucket_ms""".stripMargin)((s, dir) =>
      promqlCtx(s, dir)
        .sql("""stddev by (uid) (purchase{uid=~"[1-2][0-9]"})""",
          stepMs = Some(86400000L))
        .withColumn("value", round(col("value"), 4))),

    // PromQL count_values: distribution of floored purchase values per day
    // (the stringified value becomes a new label).
    query("p13_promql_countvalues",
      // round 12: the label text is Go strconv.FormatFloat(v, 'f', -1, 64)
      // — integral doubles render bare ("123", not "123.0")
      """SELECT
        |  CAST(floor(epoch_ms(ts::TIMESTAMP) / 86400000) AS BIGINT) * 86400000
        |    AS bucket_ms,
        |  CAST(CAST(floor(value) AS BIGINT) AS VARCHAR) AS v,
        |  CAST(count(*) AS DOUBLE) AS value
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY bucket_ms, v""".stripMargin)((s, dir) =>
      promqlCtx(s, dir)
        .sql("""count_values("v", floor(purchase))""", stepMs = Some(86400000L))),

    // PromQL resets: counter-reset counts per series per day (transitions
    // over the sorted series stream, attributed to the later sample's
    // bucket — same attribution as rate's reset deltas).
    query("p14_promql_resets",
      """WITH d AS (
        |  SELECT user_id, value, epoch_ms(ts::TIMESTAMP) AS tms,
        |    lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events
        |  WHERE event_type = 'purchase'
        |    AND regexp_full_match(user_id::VARCHAR, '[1-3][0-9]'))
        |SELECT CAST(user_id AS VARCHAR) AS uid,
        |  CAST(floor(tms / 86400000) AS BIGINT) * 86400000 AS bucket_ms,
        |  CAST(sum(CASE WHEN prev IS NOT NULL AND value < prev
        |               THEN 1 ELSE 0 END) AS DOUBLE) AS value
        |FROM d GROUP BY uid, bucket_ms""".stripMargin)((s, dir) =>
      promqlCtx(s, dir).sql("""resets(purchase{uid=~"[1-3][0-9]"}[1d])""")),

    // PromQL deriv: per-second least-squares slope per series per day.
    query("p15_promql_deriv",
      """SELECT CAST(user_id AS VARCHAR) AS uid,
        |  CAST(floor(epoch_ms(ts::TIMESTAMP) / 86400000) AS BIGINT) * 86400000
        |    AS bucket_ms,
        |  round(regr_slope(value, epoch_ms(ts::TIMESTAMP) / 1000.0), 6) AS value
        |FROM events
        |WHERE event_type = 'purchase'
        |  AND regexp_full_match(user_id::VARCHAR, '[1-5]')
        |GROUP BY uid, bucket_ms
        |HAVING regr_slope(value, epoch_ms(ts::TIMESTAMP) / 1000.0) IS NOT NULL""".stripMargin)((s, dir) =>
      promqlCtx(s, dir).sql("""deriv(purchase{uid=~"[1-5]"}[1d])""")
        .withColumn("value", round(col("value"), 6))),

    // PromQL quantile_over_time: exact interpolated 0.75-quantile of each
    // series' samples per day.
    query("p16_promql_quantile_ot",
      """SELECT CAST(user_id AS VARCHAR) AS uid,
        |  CAST(floor(epoch_ms(ts::TIMESTAMP) / 86400000) AS BIGINT) * 86400000
        |    AS bucket_ms,
        |  round(quantile_cont(value, 0.75), 4) AS value
        |FROM events
        |WHERE event_type = 'purchase'
        |  AND regexp_full_match(user_id::VARCHAR, '[2-4][0-9]')
        |GROUP BY uid, bucket_ms""".stripMargin)((s, dir) =>
      promqlCtx(s, dir).sql("""quantile_over_time(0.75, purchase{uid=~"[2-4][0-9]"}[1d])""")
        .withColumn("value", round(col("value"), 4))),

    // PromQL label_replace: synthesize a "decade" label (uid sans last
    // digit) via anchored-regex capture, then aggregate by it.
    query("p17_promql_label_replace",
      """SELECT regexp_extract(user_id::VARCHAR, '^(?:([0-9]*)[0-9])$', 1) AS decade,
        |  CAST(floor(epoch_ms(ts::TIMESTAMP) / 86400000) AS BIGINT) * 86400000
        |    AS bucket_ms,
        |  round(sum(value), 2) AS value
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY decade, bucket_ms""".stripMargin)((s, dir) =>
      promqlCtx(s, dir)
        .sql("""sum by (decade) (label_replace(purchase, "decade", "$1", "uid", "([0-9]*)[0-9]"))""",
          stepMs = Some(86400000L))
        .withColumn("value", round(col("value"), 2))),

    // PromQL predict_linear: regression forecast 1h past each day window.
    query("p18_promql_predict",
      """WITH g AS (
        |  SELECT CAST(user_id AS VARCHAR) AS uid,
        |    CAST(floor(epoch_ms(ts::TIMESTAMP) / 86400000) AS BIGINT) * 86400000
        |      AS bucket_ms,
        |    regr_slope(value, epoch_ms(ts::TIMESTAMP) / 1000.0) AS sl,
        |    regr_intercept(value, epoch_ms(ts::TIMESTAMP) / 1000.0) AS ic
        |  FROM events
        |  WHERE event_type = 'purchase'
        |    AND regexp_full_match(user_id::VARCHAR, '[1-3]')
        |  GROUP BY uid, bucket_ms)
        |SELECT uid, bucket_ms,
        |  round(ic + sl * ((bucket_ms + 86400000) / 1000.0 + 3600), 2) AS value
        |FROM g WHERE sl IS NOT NULL""".stripMargin)((s, dir) =>
      promqlCtx(s, dir).sql("""predict_linear(purchase{uid=~"[1-3]"}[1d], 3600)""")
        .withColumn("value", round(col("value"), 2))),

    // PromQL irate: instant rate from the last two samples of each day
    // window (reset-aware, requires distinct sample timestamps).
    query("p19_promql_irate",
      """WITH r AS (
        |  SELECT user_id, value, epoch_ms(ts::TIMESTAMP) AS tms,
        |    CAST(floor(epoch_ms(ts::TIMESTAMP) / 86400000) AS BIGINT) * 86400000
        |      AS bucket_ms,
        |    row_number() OVER (
        |      PARTITION BY user_id,
        |        CAST(floor(epoch_ms(ts::TIMESTAMP) / 86400000) AS BIGINT)
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |  WHERE event_type = 'purchase'
        |    AND regexp_full_match(user_id::VARCHAR, '[1-2][0-9]')),
        |p AS (
        |  SELECT CAST(user_id AS VARCHAR) AS uid, bucket_ms,
        |    max(CASE WHEN rn = 1 THEN value END) AS v1,
        |    max(CASE WHEN rn = 2 THEN value END) AS v2,
        |    max(CASE WHEN rn = 1 THEN tms END) AS t1,
        |    max(CASE WHEN rn = 2 THEN tms END) AS t2,
        |    count(*) AS n
        |  FROM r WHERE rn <= 2 GROUP BY uid, bucket_ms)
        |SELECT uid, bucket_ms,
        |  round((CASE WHEN v1 >= v2 THEN v1 - v2 ELSE v1 END)
        |    / ((t1 - t2) / 1000.0), 6) AS value
        |FROM p WHERE n >= 2 AND t1 > t2""".stripMargin)((s, dir) =>
      promqlCtx(s, dir).sql("""irate(purchase{uid=~"[1-2][0-9]"}[1d])""")
        .withColumn("value", round(col("value"), 6))),

    // Full engine end-to-end: events ingested through MetricEngine (xxhash
    // ids, meta tables, segmented SSTs), then a PromQL text query served by
    // the two-step index lookup — hash-checked against the raw-data oracle.
    query("m2_engine_e2e",
      """SELECT CAST(user_id AS VARCHAR) AS uid, round(sum(value), 2) AS value
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY uid""".stripMargin)((s, dir) =>
      metricEngine(s, dir)
        .queryPromQL("sum by (uid) (purchase)",
          graft.storage.TimeRange(Long.MinValue, Long.MaxValue))
        .withColumn("value", round(col("value"), 2))),

    // T1–T4 through the driver gate END TO END: samples wire-encoded into
    // remote-write payloads (alternating raw / snappy-framed), streamed in
    // REVERSE time order so every micro-batch after the first lands late
    // into already-written segments (the reference's no-watermark late
    // policy — accepted as new SSTs, merged on read), decoded by the varint
    // reader, segment-bounded-written, then served back through the PromQL
    // index path. The oracle replays the aggregation from raw events — the
    // hash matches only if encode → frame → stream-decode → late-write →
    // merge → index-query is lossless.
    query("si1_stream_ingest",
      // Late-arrival streaming ingest must converge to the same answer as
      // the raw-data replay.
      """SELECT CAST(user_id AS VARCHAR) AS uid, round(sum(value), 2) AS value
        |FROM events WHERE event_type = 'purchase' AND user_id < 40
        |GROUP BY uid""".stripMargin)((s, dir) =>
      streamIngestedEngine(s, dir)
        .queryPromQL("sum by (uid) (purchase)",
          graft.storage.TimeRange(Long.MinValue, Long.MaxValue))
        .withColumn("value", round(col("value"), 2))),

    // Streaming SINK ingest (writeStream.format("graft")): file-stream →
    // GraftSink micro-batch commits → SQL-source merged read. The oracle
    // replays the aggregation from the raw table.
    query("si2_sink_ingest",
      // File-stream → graft streaming sink → SQL-source merged read must
      // equal the raw-table replay.
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(value), 2) AS sum_v
        |FROM events WHERE event_type = 'purchase' AND user_id < 30
        |GROUP BY user_id""".stripMargin)((s, dir) =>
      s.read.format("graft").option("root", sinkIngestedRoot(s, dir)).load()
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_v"))),

    // T3 at the 100 TB layout: same ingest→index→PromQL pipeline but with
    // dataBuckets=4 — per-segment pk-hash-bucketed SSTs, merged on read.
    query("m3_bucketed_engine",
      """SELECT CAST(user_id AS VARCHAR) AS uid, max(value) AS value
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY uid""".stripMargin)((s, dir) =>
      bucketedEngine(s, dir)
        .queryPromQL("max by (uid) (purchase)",
          graft.storage.TimeRange(Long.MinValue, Long.MaxValue))),

    // DOWNSAMPLED rollup path end to end: per-(series, day) combinable
    // partials materialized incrementally from the data manifest, then a
    // per-uid daily sum answered ENTIRELY from the rollup table — the
    // oracle replays the same aggregation from raw events, so the
    // partials (and their bucket alignment) must be exact.
    query("ro1_rollup_day",
      // Daily per-uid sums must come out of the rollup partials exactly as
      // from raw events.
      """SELECT CAST(user_id AS VARCHAR) AS uid,
        |  CAST(floor(epoch_ms(ts::TIMESTAMP) / 86400000) AS BIGINT)
        |    * 86400000 AS bucket_ms,
        |  round(sum(value), 2) AS value
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1, 2""".stripMargin)((s, dir) =>
      rollupOf(s, dir).query(graft.metric.MetricQuery("purchase",
          stepMs = Some(86400000L), agg = graft.metric.MetricAgg.Sum,
          groupByTag = Some("uid")))
        .withColumn("value", round(col("value"), 2))),

    // avg from sum/cnt partials (never an average of averages): per-uid
    // all-time average purchase value from the rollup.
    query("ro2_rollup_avg",
      """SELECT CAST(user_id AS VARCHAR) AS uid,
        |  round(sum(value) / count(*), 2) AS value
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1""".stripMargin)((s, dir) =>
      rollupOf(s, dir).query(graft.metric.MetricQuery("purchase",
          agg = graft.metric.MetricAgg.Avg, groupByTag = Some("uid")))
        .withColumn("value", round(col("value"), 2))),

    // Transparent rollup ROUTING through the PromQL text surface: the
    // registered fresh 1-day rollup answers the fast-path aggregation
    // (RollupSpec asserts the plan reads rollup files); the oracle
    // replays from raw events, so routing must be value-invisible.
    query("ro3_rollup_promql",
      // Routing through the rollup must be value-invisible vs raw replay.
      """SELECT CAST(user_id AS VARCHAR) AS uid,
        |  CAST(floor(epoch_ms(ts::TIMESTAMP) / 86400000) AS BIGINT)
        |    * 86400000 AS bucket_ms,
        |  round(sum(value), 2) AS value
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1, 2""".stripMargin)((s, dir) =>
      routedEngine(s, dir)
        .queryPromQL("sum by (uid) (purchase)",
          graft.storage.TimeRange(Long.MinValue, Long.MaxValue),
          Some(86400000L))
        .withColumn("value", round(col("value"), 2))),

    // Counter-rate ROUTING: sum(increase(...)) answered from the rollup's
    // (first, last, inc) partials — the oracle replays the reset-aware
    // lag deltas from raw events, so the reconstruction must be exact.
    query("ro4_rollup_rate",
      // Reset-aware increase replayed from raw samples: lag over each uid's
      // time-ordered values, a drop = counter reset (post-reset value counts
      // fully), the range's first sample contributes 0, deltas attribute to
      // the later sample's day bucket.
      """WITH s AS (
        |  SELECT CAST(user_id AS VARCHAR) AS uid,
        |    epoch_ms(ts::TIMESTAMP) AS tms, value,
        |    lag(value) OVER (PARTITION BY user_id
        |      ORDER BY epoch_ms(ts::TIMESTAMP)) AS prev
        |  FROM events WHERE event_type = 'purchase')
        |SELECT uid,
        |  CAST(floor(tms / 86400000) AS BIGINT) * 86400000 AS bucket_ms,
        |  round(sum(CASE WHEN prev IS NULL THEN 0
        |    WHEN value >= prev THEN value - prev
        |    ELSE value END), 2) AS value
        |FROM s GROUP BY 1, 2""".stripMargin)((s, dir) =>
      routedEngine(s, dir)
        .queryPromQL("sum by (uid) (increase(purchase[1d]))",
          graft.storage.TimeRange(Long.MinValue, Long.MaxValue),
          Some(86400000L))
        .withColumn("value", round(col("value"), 2))),

    // HYBRID EDGE-SPLICE on a live-style UNALIGNED range (the +1ms
    // end-inclusive shape every HTTP client sends): raw samples in the
    // sub-grid edge slivers enter the rollup aggregation as degenerate
    // single-sample partials — the oracle replays pure raw SQL over the
    // same clipped range, so the splice must be value-invisible.
    query("ro5_rollup_hybrid",
      // The hybrid splice must equal a pure raw replay over the clipped
      // unaligned range (buckets stay epoch-aligned).
      """SELECT CAST(user_id AS VARCHAR) AS uid,
        |  CAST(floor(epoch_ms(ts::TIMESTAMP) / 86400000) AS BIGINT)
        |    * 86400000 AS bucket_ms,
        |  round(sum(value), 2) AS value
        |FROM events WHERE event_type = 'purchase'
        |  AND epoch_ms(ts::TIMESTAMP) >= 1704160800123
        |  AND epoch_ms(ts::TIMESTAMP) < 1706227200001
        |GROUP BY 1, 2""".stripMargin)((s, dir) =>
      routedEngine(s, dir)
        .queryPromQL("sum by (uid) (purchase)",
          graft.storage.TimeRange(1704153600000L + 7200123L,
            1706227200000L + 1L),
          Some(86400000L))
        .withColumn("value", round(col("value"), 2))),

    // MULTI-LABEL by + INDEX-EXACT REGEX on the fast path, routed through
    // the rollup: the regex evaluates on the per-metric index dictionary,
    // both labels join from the index under positional aliases, and the
    // partial re-aggregation must equal the raw SQL replay.
    query("ro6_rollup_multiby",
      // Multi-label grouping with the regex applied to the cohort label —
      // pure raw replay, the routing must be value-invisible.
      """SELECT CAST(user_id AS VARCHAR) AS uid,
        |  CAST(user_id % 10 AS VARCHAR) AS cohort,
        |  CAST(floor(epoch_ms(ts::TIMESTAMP) / 86400000) AS BIGINT)
        |    * 86400000 AS bucket_ms,
        |  round(sum(value), 2) AS value
        |FROM events WHERE event_type = 'purchase'
        |  AND regexp_matches(CAST(user_id % 10 AS VARCHAR), '^(?:[0-4])$')
        |GROUP BY 1, 2, 3""".stripMargin)((s, dir) =>
      routedEngine(s, dir)
        .queryPromQL("""sum by (uid, cohort) (purchase{cohort=~"[0-4]"})""",
          graft.storage.TimeRange(Long.MinValue, Long.MaxValue),
          Some(86400000L))
        .withColumn("value", round(col("value"), 2))),

    // NATIVE-HISTOGRAM rollup routing (round 12): a registered fresh
    // 2 s-grid HistogramRollup answers histogram_quantile(0.5,
    // rate(m[4s])) at an aligned instant from bucket-wise increase
    // partials (within-bucket incs + first/last edge arrays; RollupSpec
    // asserts the plan reads the rollup store and routed ≡ raw). The
    // fixture carries a counter reset and a mid-window bucket appearance;
    // the oracle replays the raw dense-fill increase + quantile walk —
    // which the routed reconstruction must reproduce exactly.
    query("ro7_rollup_hist",
      // Raw dense-fill bucket-wise increase + quantile walk — the routed
      // rollup reconstruction must reproduce this exactly (idx1: 3 + reset
      // 1 + 2 = 6; idx2: 4 + 2 = 6; zero: 1; rank 6.5 lands in (1,2]).
      """WITH counts(ts_ms, idx, cnt) AS (VALUES
        |    (CAST(500 AS BIGINT), 1, CAST(2 AS DOUBLE)),
        |    (CAST(1500 AS BIGINT), 1, CAST(5 AS DOUBLE)),
        |    (CAST(2500 AS BIGINT), 1, CAST(1 AS DOUBLE)),
        |    (CAST(3500 AS BIGINT), 1, CAST(3 AS DOUBLE)),
        |    (CAST(2500 AS BIGINT), 2, CAST(4 AS DOUBLE)),
        |    (CAST(3500 AS BIGINT), 2, CAST(6 AS DOUBLE))),
        |  zeroes(ts_ms, zcnt) AS (VALUES
        |    (CAST(500 AS BIGINT), CAST(1 AS DOUBLE)),
        |    (CAST(1500 AS BIGINT), CAST(1 AS DOUBLE)),
        |    (CAST(2500 AS BIGINT), CAST(2 AS DOUBLE)),
        |    (CAST(3500 AS BIGINT), CAST(2 AS DOUBLE))),
        |  dense AS (
        |    SELECT t.ts_ms, k.idx, coalesce(c.cnt, CAST(0 AS DOUBLE)) AS cnt
        |    FROM (SELECT DISTINCT ts_ms FROM counts) t
        |    CROSS JOIN (SELECT DISTINCT idx FROM counts) k
        |    LEFT JOIN counts c ON c.ts_ms = t.ts_ms AND c.idx = k.idx),
        |  incs AS (
        |    SELECT idx, sum(CASE WHEN prev IS NULL THEN 0
        |        WHEN cnt >= prev THEN cnt - prev ELSE cnt END) AS inc
        |    FROM (SELECT idx, cnt, lag(cnt) OVER (
        |        PARTITION BY idx ORDER BY ts_ms) AS prev FROM dense)
        |    GROUP BY idx),
        |  zinc AS (
        |    SELECT sum(CASE WHEN prev IS NULL THEN 0
        |        WHEN zcnt >= prev THEN zcnt - prev ELSE zcnt END) AS inc
        |    FROM (SELECT zcnt, lag(zcnt) OVER (ORDER BY ts_ms) AS prev
        |          FROM zeroes)),
        |  allb AS (
        |    SELECT -2147483648 AS idx, CAST(0.0 AS DOUBLE) AS lo,
        |      0.001 AS hi, inc AS cnt FROM zinc
        |    UNION ALL
        |    SELECT idx, power(2.0, idx - 1) AS lo, power(2.0, idx) AS hi,
        |      inc AS cnt FROM incs),
        |  cfield(ts_ms, c) AS (VALUES
        |    (CAST(500 AS BIGINT), CAST(3 AS DOUBLE)),
        |    (CAST(1500 AS BIGINT), CAST(6 AS DOUBLE)),
        |    (CAST(2500 AS BIGINT), CAST(7 AS DOUBLE)),
        |    (CAST(3500 AS BIGINT), CAST(11 AS DOUBLE))),
        |  total AS (
        |    -- count = the stored count field as its own reset-aware
        |    -- counter (see nh3's note), not a bucket-mass sum
        |    SELECT sum(CASE WHEN prev IS NULL THEN 0
        |                    WHEN c >= prev THEN c - prev
        |                    ELSE c END) AS cnt
        |    FROM (SELECT c, lag(c) OVER (ORDER BY ts_ms) AS prev
        |          FROM cfield)),
        |  walk AS (
        |    SELECT a.idx, a.lo, a.hi, a.cnt,
        |      sum(a.cnt) OVER (ORDER BY a.idx) - a.cnt AS cum_before,
        |      0.5 * t.cnt AS rk
        |    FROM allb a CROSS JOIN total t),
        |  pick AS (
        |    SELECT lo + (hi - lo) * ((rk - cum_before) / cnt) AS value,
        |      row_number() OVER (ORDER BY idx) AS rn
        |    FROM walk WHERE cnt > 0 AND cum_before + cnt >= rk)
        |SELECT 'lat_ro7' AS __name__, 'api' AS job, value
        |FROM pick WHERE rn = 1""".stripMargin)((s, dir) =>
      ro7Engine(s).instantPromQL(
        """histogram_quantile(0.5, rate(lat_ro7[4s]))""", 4000L)
        .select(col("__name__"), col("job"), col("value"))),

    // RANGE-routed histogram rollup (round 12): the graph shape over the
    // same registered 2 s grid — per-tumbling-bucket quantiles answered
    // from the per-bucket partials (RollupSpec asserts the plan reads the
    // rollup store and routed ≡ raw). The oracle states each bucket's
    // quantile with the engine's exact interpolation arithmetic.
    query("ro8_rollup_hist_range",
      // Per-bucket replay with the engine's exact interpolation arithmetic:
      // bucket 0 — incs zero 0, idx1 3 (2→5), count 3, rank 1.5 lands in
      // (1,2]; bucket 2000 — incs zero 1, idx1 3 (reset 5→1 then +2),
      // idx2 6 (appears 4, +2), count 10, rank 5 lands in (2,4].
      """SELECT * FROM (VALUES
        |  -- count-field per-bucket increases: bucket 0 -> 3 (first 0,
        |  -- then 6-3), rank 1.5 in (1,2] over idx1 inc 3;
        |  -- bucket 2000 -> 5 (7-6 chained across the edge + 11-7),
        |  -- rank 2.5: zero inc 1, idx1 inc 3 reaches it
        |  ('lat_ro7', 'api', CAST(0 AS BIGINT),
        |   1 + 1 * ((1.5 - 0) / 3)),
        |  ('lat_ro7', 'api', CAST(2000 AS BIGINT),
        |   1 + 1 * ((CAST(2.5 AS DOUBLE) - 1) / 3))
        |) AS t(__name__, job, bucket_ms, value)""".stripMargin)((s, dir) => {
      ro7Engine(s).queryPromQL(
        """histogram_quantile(0.5, rate(lat_ro7[2s]))""",
        graft.storage.TimeRange(0L, 4000L))
        .select(col("__name__"), col("job"), col("bucket_ms"), col("value"))
    }),

    // RECORDING RULE end to end: the rule engine instant-evaluates the
    // per-uid purchase total and writes it back as a new metric; querying
    // THAT metric must reproduce the totals the oracle computes from raw
    // events (each recorded series carries exactly one sample, so the
    // unstepped max collapses to it).
    query("rl1_recording_rule",
      // The recording rule materialized sum_over_time over one whole-range
      // window, so the recorded metric must equal the raw per-uid total.
      """SELECT CAST(user_id AS VARCHAR) AS uid, round(sum(value), 2) AS value
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY uid""".stripMargin)((s, dir) =>
      rulesEngine(s, dir)
        .queryPromQL("max by (uid) (purchase:uid:total)",
          graft.storage.TimeRange(Long.MinValue, Long.MaxValue))
        .withColumn("value", round(col("value"), 2))),

    // ALERTING RULE end to end: two evaluations 120 s apart take every
    // uid whose total exceeds 600 through pending → firing (for: 60s);
    // the firing ALERTS synthetic series must match the oracle's HAVING
    // replay over raw events.
    query("rl2_alert_firing",
      // Firing alerts = uids whose purchase total exceeds the rule
      // threshold, held across both evaluations (the data is static, so
      // active-at-both == active-once).
      """SELECT CAST(user_id AS VARCHAR) AS uid, 1.0 AS value
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY user_id HAVING sum(value) > 600""".stripMargin)((s, dir) =>
      rulesEngine(s, dir)
        .queryPromQL("""max by (uid) (ALERTS{alertstate="firing"})""",
          graft.storage.TimeRange(Long.MinValue, Long.MaxValue))),

    // histogram_quantile over classic le-buckets through the PromQL text
    // surface: per-day cumulative purchase-value buckets (le 50/100/150/
    // +Inf) built as a histogram frame, then the Prometheus bucketQuantile
    // interpolation — the oracle replays the same interpolation as a CASE
    // cascade over the bucket counts.
    query("p20_promql_histq",
      // Prometheus bucketQuantile interpolation replayed as a CASE cascade
      // over the four cumulative bucket counts (rank = 0.9 * total; first
      // bucket reaching the rank interpolates linearly from the previous
      // bound; the +Inf bucket clamps to the highest finite le).
      """WITH p AS (SELECT CAST(floor(epoch_ms(ts::TIMESTAMP) / 86400000)
        |      AS BIGINT) * 86400000 AS ts_ms, value
        |  FROM events WHERE event_type = 'purchase'),
        |b AS (SELECT ts_ms,
        |    CAST(sum(CASE WHEN value <= 50 THEN 1 ELSE 0 END) AS DOUBLE) AS v50,
        |    CAST(sum(CASE WHEN value <= 100 THEN 1 ELSE 0 END) AS DOUBLE) AS v100,
        |    CAST(sum(CASE WHEN value <= 150 THEN 1 ELSE 0 END) AS DOUBLE) AS v150,
        |    CAST(count(*) AS DOUBLE) AS vinf
        |  FROM p GROUP BY ts_ms)
        |SELECT ts_ms, round(CASE
        |    WHEN v50 >= 0.9 * vinf THEN 50 * (0.9 * vinf) / v50
        |    WHEN v100 >= 0.9 * vinf THEN 50 + 50 * (0.9 * vinf - v50) / (v100 - v50)
        |    WHEN v150 >= 0.9 * vinf THEN 100 + 50 * (0.9 * vinf - v100) / (v150 - v100)
        |    ELSE 150 END, 6) AS value
        |FROM b""".stripMargin)((s, dir) => {
      val ev = t(s, dir, "events").filter(col("event_type") === "purchase")
        .select(bucket(86400000L).as("day_ms"), col("value"))
      val hist = Seq("50", "100", "150", "+Inf").map { le =>
        val cond =
          if (le == "+Inf") lit(true) else col("value") <= lit(le.toDouble)
        ev.groupBy(col("day_ms"))
          .agg(sum(when(cond, lit(1L)).otherwise(lit(0L))).cast("double").as("v"))
          .withColumn("le", lit(le))
      }.reduce(_ unionByName _)
        .select(lit("lat").as("m"), col("le"), col("day_ms"), col("v"))
      new graft.promql.PromQLContext(hist, "m", col("day_ms"), "v",
        Map("le" -> "le"))
        .sql("histogram_quantile(0.9, lat)")
        .withColumn("value", round(col("value"), 6))
    }),

    // PromQL subquery: daily max of the 6-hourly per-uid sums — the inner
    // aggregation re-evaluated on the [1d:6h] step timeline, then
    // max_over_time over those points. Two chained hash aggregations.
    query("p21_promql_subquery",
      // Subquery replay: 6h-step inner sums, then the daily max of them.
      """WITH sub AS (SELECT CAST(user_id AS VARCHAR) AS uid,
        |    CAST(floor(epoch_ms(ts::TIMESTAMP) / 21600000) AS BIGINT)
        |      * 21600000 AS sub_ms,
        |    sum(value) AS v
        |  FROM events
        |  WHERE event_type = 'purchase'
        |    AND regexp_full_match(user_id::VARCHAR, '[1-4][0-9]')
        |  GROUP BY uid, sub_ms)
        |SELECT uid,
        |  CAST(floor(sub_ms / 86400000) AS BIGINT) * 86400000 AS bucket_ms,
        |  round(max(v), 4) AS value
        |FROM sub GROUP BY uid, bucket_ms""".stripMargin)((s, dir) =>
      promqlCtx(s, dir)
        .sql("""max_over_time(sum by (uid) (purchase{uid=~"[1-4][0-9]"})[1d:6h])""")
        .withColumn("value", round(col("value"), 4))),

    // PromQL trig surface: unary fns chained with the infix atan2 operator
    // (vector atan2 scalar at '*' precedence). Coarse rounding absorbs
    // libm-vs-Java last-ULP transcendental drift.
    query("p22_promql_trig",
      """SELECT CAST(user_id AS VARCHAR) AS uid, epoch_ms(ts::TIMESTAMP) AS ts_ms,
        |  round(degrees(atan2(sin(value), 3.0)), 4) AS value
        |FROM events
        |WHERE event_type = 'purchase'
        |  AND regexp_full_match(user_id::VARCHAR, '[1-5]')""".stripMargin)((s, dir) =>
      promqlCtx(s, dir)
        .sql("""deg(sin(purchase{uid=~"[1-5]"}) atan2 3)""")
        .withColumn("value", round(col("value"), 4))),

    // PromQL calendar surface: year/month/day_of_month/day_of_week over
    // timestamp() packed into one yyyymmd-dow value — four calendar fns,
    // the timestamp shape fn, and (uid, ts)-matched vector arithmetic in
    // a single integer-exact expression.
    query("p30_promql_calendar",
      // DuckDB dayofweek is Sunday=0, same as Prometheus day_of_week.
      """SELECT CAST(user_id AS VARCHAR) AS uid, epoch_ms(ts::TIMESTAMP) AS ts_ms,
        |  CAST((year(ts) * 10000 + month(ts) * 100 + day(ts)) * 10
        |       + dayofweek(ts) AS DOUBLE) AS value
        |FROM events
        |WHERE event_type = 'purchase'
        |  AND regexp_full_match(user_id::VARCHAR, '[1-5]')""".stripMargin)((s, dir) => {
      val sel = """timestamp(purchase{uid=~"[1-5]"})"""
      promqlCtx(s, dir).sql(
        s"""(year($sel) * 10000 + month($sel) * 100 + day_of_month($sel))
           | * 10 + day_of_week($sel)""".stripMargin.replace("\n", ""))
    }),

    // PromQL holt_winters: double exponential smoothing per (series, day).
    // sf = tf = 0.5 are exactly representable, so the sequential fold is
    // bit-identical across engines; the oracle replays the recurrence with
    // a recursive CTE over row-numbered samples.
    query("p23_promql_holtwinters",
      // Holt-Winters recurrence replayed step by step:
      //   init (v1, v2): sp = v1; b = v2 - v1; s = 0.5·v2 + 0.5·(v1 + b)
      //   step (v_i):    b' = 0.5·(s - sp) + 0.5·b;
      //                  s' = 0.5·v_i + 0.5·(s + b'); sp' = s
      // final s per (series, day); groups need >= 2 samples.
      """WITH RECURSIVE p AS (SELECT CAST(user_id AS VARCHAR) AS uid,
        |    CAST(floor(epoch_ms(ts::TIMESTAMP) / 86400000) AS BIGINT)
        |      * 86400000 AS bucket_ms,
        |    value,
        |    row_number() OVER (PARTITION BY user_id,
        |        CAST(floor(epoch_ms(ts::TIMESTAMP) / 86400000) AS BIGINT)
        |      ORDER BY ts, event_id) AS i
        |  FROM events
        |  WHERE event_type = 'purchase'
        |    AND regexp_full_match(user_id::VARCHAR, '[1-3][0-9]')),
        |n AS (SELECT uid, bucket_ms, max(i) AS n FROM p
        |  GROUP BY uid, bucket_ms),
        |rec AS (
        |  SELECT p2.uid, p2.bucket_ms, 2 AS i,
        |      p1.value AS sp,
        |      0.5 * p2.value + 0.5 * (p1.value + (p2.value - p1.value)) AS s,
        |      p2.value - p1.value AS b
        |    FROM p p1 JOIN p p2 ON p1.uid = p2.uid
        |      AND p1.bucket_ms = p2.bucket_ms AND p1.i = 1 AND p2.i = 2
        |  UNION ALL
        |  SELECT r.uid, r.bucket_ms, r.i + 1,
        |      r.s,
        |      0.5 * p.value + 0.5 * (r.s + (0.5 * (r.s - r.sp) + 0.5 * r.b)),
        |      0.5 * (r.s - r.sp) + 0.5 * r.b
        |    FROM rec r JOIN p ON p.uid = r.uid AND p.bucket_ms = r.bucket_ms
        |      AND p.i = r.i + 1)
        |SELECT r.uid, r.bucket_ms, round(r.s, 4) AS value
        |FROM rec r JOIN n ON n.uid = r.uid AND n.bucket_ms = r.bucket_ms
        |  AND r.i = n.n""".stripMargin)((s, dir) =>
      promqlCtx(s, dir)
        .sql("""holt_winters(purchase{uid=~"[1-3][0-9]"}[1d], 0.5, 0.5)""")
        .withColumn("value", round(col("value"), 4))),

    // PromQL set operators at Prometheus precedence ((P unless S) or E):
    // per-uid purchase totals except uids that signed up in [10,49], plus
    // error totals for 9x uids not already present. unless = anti-join,
    // or = union + anti-join fill; left values pass through untouched.
    query("p24_promql_setops",
      """WITH p AS (SELECT CAST(user_id AS VARCHAR) AS uid, sum(value) AS value
        |  FROM events WHERE event_type = 'purchase' GROUP BY uid),
        |s AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS uid FROM events
        |  WHERE event_type = 'signup'
        |    AND regexp_full_match(user_id::VARCHAR, '[1-4][0-9]')),
        |u AS (SELECT p.uid, p.value FROM p LEFT JOIN s ON s.uid = p.uid
        |  WHERE s.uid IS NULL),
        |e AS (SELECT CAST(user_id AS VARCHAR) AS uid, sum(value) AS value
        |  FROM events WHERE event_type = 'error'
        |    AND regexp_full_match(user_id::VARCHAR, '9[0-9]') GROUP BY uid)
        |SELECT uid, round(value, 2) AS value FROM u
        |UNION ALL
        |SELECT e.uid, round(e.value, 2) AS value FROM e
        |LEFT JOIN u ON u.uid = e.uid WHERE u.uid IS NULL""".stripMargin)((s, dir) =>
      promqlCtx(s, dir)
        .sql("""sum by (uid) (purchase) unless sum by (uid) (signup{uid=~"[1-4][0-9]"}) or sum by (uid) (error{uid=~"9[0-9]"})""")
        .withColumn("value", round(col("value"), 2))),

    // PromQL @ modifier: reset-aware increase over the single pinned window
    // [Jan 2, Jan 16) 2024 — time-pinned output (no bucket column).
    query("p25_promql_at",
      // Reset-aware increase replayed with lag() inside the pinned window
      // only; first sample per series contributes 0.
      """WITH p AS (SELECT CAST(user_id AS VARCHAR) AS uid, value,
        |    lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev
        |  FROM events
        |  WHERE event_type = 'purchase'
        |    AND regexp_full_match(user_id::VARCHAR, '[1-9][0-9]')
        |    AND epoch_ms(ts::TIMESTAMP) >= 1704153600000
        |    AND epoch_ms(ts::TIMESTAMP) < 1705363200000)
        |SELECT uid, round(sum(CASE WHEN prev IS NULL THEN 0
        |    WHEN value >= prev THEN value - prev ELSE value END), 2) AS value
        |FROM p GROUP BY uid""".stripMargin)((s, dir) =>
      promqlCtx(s, dir)
        .sql("""sum by (uid) (increase(purchase{uid=~"[1-9][0-9]"}[2w] @ 1705363200))""")
        .withColumn("value", round(col("value"), 2))),

    // Streaming exact dedup run to completion over a bounded 4-micro-batch
    // MemoryStream (time-ordered arrival, synthetic event time = doc_id
    // seconds). dropDuplicatesWithinWatermark keeps the FIRST arrival per
    // fingerprint; which arrival survives is arrival-order-dependent but the
    // fingerprint SET is not — the checked output is the deduped fp set.
    // The 24 h watermark horizon covers the whole bounded stream (max
    // duplicate span in the data is ~1 h), so stream dedup ≡ full dedup
    // here; in production the horizon is the operator contract and
    // cross-horizon dups fall to the batch path (StreamDedup doc).
    query("sd1_stream_dedup",
      """SELECT DISTINCT md5(replace(lower(text), ' ', '')) AS fp
        |FROM documents""".stripMargin)((s, dir) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val rows = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .orderBy("doc_id").as[(Long, String)].collect()
      // The DISTINCT oracle is only equivalent while EVERY duplicate pair
      // falls inside the 24 h watermark horizon (synthetic event time =
      // doc_id seconds). Fail loudly if a larger verify SF ever breaks the
      // premise instead of hash-mismatching.
      require(rows.nonEmpty && rows.last._1 - rows.head._1 < 86400L,
        s"sd1 premise broken: doc_id span ${rows.last._1 - rows.head._1}s " +
          "exceeds the 24h dedup watermark horizon; cross-horizon dups " +
          "would re-emit while the DISTINCT oracle keeps one")
      val stream = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val docs = stream.toDS().toDF("doc_id", "text")
        .withColumn("ts", timestamp_millis(lit(1704067200000L) +
          col("doc_id") * 1000L))
      val sink = sinkName("sd1")
      val q = graft.streaming.StreamDedup
        .byFingerprint(docs, "text", "ts", watermark = "24 hours")
        .select(col("fp"))
        .writeStream.outputMode("append").format("memory").queryName(sink).start()
      try rows.grouped(rows.length / 4 + 1).foreach { chunk =>
        stream.addData(chunk.toSeq); q.processAllAvailable()
      } finally q.stop()
      s.table(sink)
    }),

    // Streaming HLL: the distinct-count sketch maintained as a continuous
    // query — the register frame is a 256-row streaming aggregation
    // (bucket → max rho, complete-mode snapshot; state is O(m) forever,
    // the standing-dashboard shape), fed in 4 micro-batches, estimated
    // after the run. Registers are batch/stream identical (max is
    // order-insensitive), so the oracle is sk1's formula replay verbatim.
    query("sh1_stream_hll",
      // Streaming registers ≡ batch registers (max over any arrival order),
      // so the continuous-query sketch replays with sk1's exact formula.
      """WITH h AS (SELECT md5(CAST(user_id AS VARCHAR)) AS h FROM events),
        |r AS (SELECT CAST(concat('0x', substr(h, 1, 2)) AS BIGINT) AS bucket,
        |             substr(h, 3, 13) AS sub FROM h),
        |rho AS (SELECT bucket,
        |    CASE WHEN length(regexp_extract(sub, '^0*')) = 13 THEN 53
        |         ELSE length(regexp_extract(sub, '^0*')) * 4 +
        |           CASE substr(sub, length(regexp_extract(sub, '^0*')) + 1, 1)
        |             WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
        |             WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1
        |             WHEN '7' THEN 1 ELSE 0 END + 1 END AS rho
        |  FROM r),
        |reg AS (SELECT bucket, max(rho) AS max_rho FROM rho GROUP BY bucket),
        |agg AS (SELECT count(*) AS n_used, sum(pow(2.0, -max_rho)) AS s FROM reg),
        |est AS (SELECT n_used, 256 - n_used AS n_empty,
        |    (0.7213 / (1 + 1.079 / 256)) * 256 * 256 / (s + (256 - n_used)) AS raw
        |  FROM agg)
        |SELECT CAST(n_used AS BIGINT) AS n_used,
        |  CAST(n_empty AS BIGINT) AS n_empty,
        |  round(CASE WHEN raw <= 640 AND n_empty > 0
        |             THEN 256 * ln(256.0 / n_empty) ELSE raw END, 3) AS estimate,
        |  (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events)
        |    AS exact_distinct
        |FROM est""".stripMargin)((s, dir) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val rows = t(s, dir, "events").select(col("user_id"))
        .as[Long].collect()
      val stream = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[Long]
      val regs = graft.pipeline.Sketches.hllRegisters(
        stream.toDS().toDF("user_id"), col("user_id"))
      val sink = sinkName("sh1")
      val q = regs.writeStream.outputMode("complete")
        .format("memory").queryName(sink).start()
      try rows.grouped(rows.length / 4 + 1).foreach { chunk =>
        stream.addData(chunk.toSeq); q.processAllAvailable()
      } finally q.stop()
      graft.pipeline.Sketches.hllEstimate(s.table(sink))
        .crossJoin(t(s, dir, "events")
          .agg(count_distinct(col("user_id")).as("exact_distinct")))
    }),

    // Streaming quantiles: the log-bucket histogram maintained as a
    // continuous query (complete-mode bucket counts — sums are
    // order-insensitive, so stream registers == batch registers and the
    // oracle is sk3's replay verbatim), quantiles read after the run.
    query("sq1_stream_quantiles",
      """WITH v AS (SELECT CAST(round(value*100) AS BIGINT) AS v
        |    FROM events WHERE CAST(round(value*100) AS BIGINT) > 0),
        |s AS (SELECT v, greatest(length(bin(v)) - 1 - 6, 0) AS s FROM v),
        |h AS (SELECT (v >> s) << s AS bucket_lo, CAST(count(*) AS BIGINT) AS cnt
        |  FROM s GROUP BY 1),
        |c AS (SELECT bucket_lo,
        |    CAST(sum(cnt) OVER (ORDER BY bucket_lo) AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER () AS BIGINT) AS n FROM h)
        |SELECT q, round(min(bucket_lo) / 100.0, 4) AS est, max(n) AS n
        |FROM c CROSS JOIN (SELECT unnest([0.5, 0.9, 0.99]::DOUBLE[]) AS q) qs
        |WHERE cum >= ceil(q * n)
        |GROUP BY q""".stripMargin)((s, dir) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val rows = t(s, dir, "events").select(col("value")).as[Double].collect()
      val stream = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[Double]
      val hist = graft.pipeline.Sketches.logHistogram(
        stream.toDS().toDF("value"), col("value"))
      val sink = sinkName("sq1")
      val q = hist.writeStream.outputMode("complete")
        .format("memory").queryName(sink).start()
      try rows.grouped(rows.length / 4 + 1).foreach { chunk =>
        stream.addData(chunk.toSeq); q.processAllAvailable()
      } finally q.stop()
      graft.pipeline.Sketches.histQuantiles(s.table(sink), Seq(0.5, 0.9, 0.99))
    }),

    // PromQL text as a continuous query: the streaming evaluator over a
    // bounded 4-micro-batch MemoryStream of events (time-ordered arrival,
    // so nothing is watermark-late). Append mode emits exactly the
    // day-windows whose end <= final watermark = max event time (0 s
    // delay); the oracle applies the same cut.
    query("sa1_promql_stream",
      """WITH mx AS (SELECT max(epoch_ms(ts::TIMESTAMP)) AS m FROM events),
        |p AS (SELECT CAST(user_id AS VARCHAR) AS uid,
        |    CAST(floor(epoch_ms(ts::TIMESTAMP) / 86400000) AS BIGINT)
        |      * 86400000 AS bucket_ms,
        |    value
        |  FROM events WHERE event_type = 'purchase')
        |SELECT uid, bucket_ms, round(sum(value), 2) AS value
        |FROM p, mx WHERE bucket_ms + 86400000 <= mx.m
        |GROUP BY uid, bucket_ms""".stripMargin)((s, dir) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val rows = t(s, dir, "events").orderBy("ts", "event_id")
        .select(col("event_type").as("name"),
          map(lit("uid"), col("user_id").cast("string")).as("labels"),
          tsMs.as("timestamp"), col("value"))
        .as[graft.metric.Sample].collect()
      val stream = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[graft.metric.Sample]
      val sink = sinkName("sa1")
      val q = graft.streaming.StreamAggregates
        .promqlStream(stream.toDS(), "sum by (uid) (purchase)",
          stepMs = 86400000L, watermark = "0 seconds")
        .writeStream.outputMode("append").format("memory").queryName(sink).start()
      try rows.grouped(rows.length / 4 + 1).foreach { chunk =>
        stream.addData(chunk.toSeq); q.processAllAvailable()
      } finally q.stop()
      s.table(sink).withColumn("value", round(col("value"), 2))
    }),

    // Stream-stream interval join run to completion: purchases and errors
    // as two MemoryStreams fed in global event-time order (4 interleaved
    // windows), joined per user on "error within the purchase's trailing
    // hour". Event-time-ordered replay keeps every row on time at any
    // watermark delay, and the inner interval join emits each qualifying
    // pair exactly once — so the bounded run ≡ the batch theta join the
    // oracle replays. State stays bounded by the watermark + lookback even
    // on an unbounded stream (the operator contract at scale).
    query("sj1_stream_join",
      // Interval-join replay: the bounded event-time-ordered run emits every
      // qualifying (purchase, error-in-trailing-hour) pair exactly once — a
      // plain batch theta join.
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_ms(ts::TIMESTAMP) AS tms FROM events)
        |SELECT p.user_id, p.event_id AS p_id, x.event_id AS e_id,
        |  p.tms - x.tms AS gap_ms
        |FROM e p JOIN e x ON p.user_id = x.user_id
        |  AND p.event_type = 'purchase' AND x.event_type = 'error'
        |  AND x.tms BETWEEN p.tms - 3600000 AND p.tms""".stripMargin)((s, dir) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val ev = t(s, dir, "events")
        .filter(col("event_type").isin("purchase", "error"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          tsMs.as("tms"))
        .orderBy("tms", "event_id")
        .as[(Long, Long, String, Long)].collect()
      val pStream = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, Long)]
      val eStream = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, Long)]
      val purchases = pStream.toDS().toDF("user_id", "p_id", "p_tms")
        .withColumn("p_ts", timestamp_millis(col("p_tms")))
      val errors = eStream.toDS().toDF("user_id", "e_id", "e_tms")
        .withColumn("e_ts", timestamp_millis(col("e_tms")))
      val sink = sinkName("sj1")
      val q = graft.streaming.StreamJoins
        .intervalJoin(purchases, "p_ts", errors, "e_ts", Seq("user_id"),
          lookbackMs = 3600000L, watermark = "1 hour")
        .select(col("user_id"), col("p_id"), col("e_id"),
          (col("p_tms") - col("e_tms")).as("gap_ms"))
        .writeStream.outputMode("append").format("memory").queryName(sink).start()
      try ev.grouped(ev.length / 4 + 1).foreach { chunk =>
        pStream.addData(chunk.filter(_._3 == "purchase")
          .map(r => (r._1, r._2, r._4)).toSeq)
        eStream.addData(chunk.filter(_._3 == "error")
          .map(r => (r._1, r._2, r._4)).toSeq)
        q.processAllAvailable()
      } finally q.stop()
      s.table(sink)
    }),

    // Stream-static enrichment join: the streaming side joins each
    // micro-batch against a static dimension with NO state store (the
    // planner re-broadcasts/reuses the static side per batch) — the
    // standard streaming-ingest enrichment shape, complementing sj1's
    // stateful stream-stream interval join.
    query("sj2_stream_enrich",
      // sq1's streaming registers equal sk3's batch registers (count sums are
      // order-insensitive), so one replay serves both.
      """SELECT d.doc_id, d.lang,
        |  CAST(coalesce(e.label, -1) AS BIGINT) AS label
        |FROM documents d
        |LEFT JOIN embeddings e ON e.vec_id = d.doc_id""".stripMargin)((s, dir) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
        .orderBy("doc_id").as[(Long, String)].collect()
      val dim = t(s, dir, "embeddings")
        .select(col("vec_id").as("doc_id"), col("label"))
      val stream = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val sink = sinkName("sj2")
      val q = stream.toDS().toDF("doc_id", "lang")
        .join(dim, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          coalesce(col("label").cast("long"), lit(-1L)).as("label"))
        .writeStream.outputMode("append").format("memory").queryName(sink).start()
      try docs.grouped(docs.length / 4 + 1).foreach { chunk =>
        stream.addData(chunk.toSeq); q.processAllAvailable()
      } finally q.stop()
      s.table(sink)
    }),

    // Watermarked 30-min chunk building run to completion: append mode
    // emits chunks whose window closed under the final watermark; the
    // posexplode verifies per-chunk CONTENT AND ORDER (sorted by ts)
    // against a window-function oracle.
    query("sc1_stream_chunks",
      """WITH mx AS (SELECT max(epoch_ms(ts::TIMESTAMP)) AS m FROM events),
        |e AS (SELECT event_type AS name,
        |    event_type || chr(1) || 'uid' || chr(2) || CAST(user_id AS VARCHAR)
        |      AS series_key,
        |    epoch_ms(ts::TIMESTAMP) AS tms, value
        |  FROM events),
        |w AS (SELECT *,
        |    CAST(floor(tms / 1800000) AS BIGINT) * 1800000 AS chunk_start
        |  FROM e)
        |SELECT name, series_key, chunk_start,
        |  CAST(row_number() OVER (PARTITION BY series_key, chunk_start
        |                          ORDER BY tms) - 1 AS BIGINT) AS pos,
        |  tms AS ts, value,
        |  CAST(count(*) OVER (PARTITION BY series_key, chunk_start) AS BIGINT)
        |    AS n_samples
        |FROM w, mx WHERE chunk_start + 1800000 <= mx.m""".stripMargin)((s, dir) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val rows = t(s, dir, "events").orderBy("ts", "event_id")
        .select(col("event_type").as("name"),
          map(lit("uid"), col("user_id").cast("string")).as("labels"),
          tsMs.as("timestamp"), col("value"))
        .as[graft.metric.Sample].collect()
      val stream = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[graft.metric.Sample]
      val sink = sinkName("sc1")
      val q = graft.streaming.StreamAggregates
        .chunked30m(stream.toDS(), watermark = "0 seconds")
        .writeStream.outputMode("append").format("memory").queryName(sink).start()
      try rows.grouped(rows.length / 4 + 1).foreach { chunk =>
        stream.addData(chunk.toSeq); q.processAllAvailable()
      } finally q.stop()
      s.table(sink)
        .select(col("name"), col("series_key"), col("chunk_start"),
          posexplode(col("chunk")).as(Seq("pos", "c")), col("n_samples"))
        .select(col("name"), col("series_key"), col("chunk_start"),
          col("pos").cast("long").as("pos"), col("c.ts").as("ts"),
          col("c.value").as("value"), col("n_samples"))
    }),

    // Streaming PromQL rate over the bounded 4-batch stream: chained
    // stateful operators — per-series reset-aware delta state
    // (transformWithState, RocksDB provider) feeding an event-time windowed
    // sum through the declared output event-time column. Append mode emits
    // day windows whose end <= final watermark (global max event ts at 0 s
    // delay); the oracle replays the same reset-aware increase from raw
    // data with the same cut — closing the last documented streaming gap
    // vs the batch PromQL surface (rate was storage-replay-only).
    query("sr1_stream_rate",
      // Reset-aware increase replayed from raw data: lag() per series with
      // the PromQL reset convention (drop below previous → the new value),
      // summed over day buckets, emitted only for windows closed under the
      // final watermark (global max event ts, matching sa1's cut). First
      // sample per series contributes no delta, exactly like the streaming
      // operator's state initialization.
      """WITH mx AS (SELECT max(epoch_ms(ts::TIMESTAMP)) AS m FROM events),
        |p AS (SELECT CAST(user_id AS VARCHAR) AS uid,
        |    epoch_ms(ts::TIMESTAMP) AS tms, value,
        |    lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events WHERE event_type = 'purchase'),
        |d AS (SELECT uid,
        |    CAST(floor(tms / 86400000) AS BIGINT) * 86400000 AS bucket_ms,
        |    CASE WHEN prev IS NULL THEN NULL
        |         WHEN value >= prev THEN value - prev ELSE value END AS delta
        |  FROM p)
        |SELECT uid, bucket_ms, round(sum(delta), 2) AS increase,
        |  round(sum(delta) / 86400.0, 6) AS rate
        |FROM d, mx WHERE delta IS NOT NULL AND bucket_ms + 86400000 <= mx.m
        |GROUP BY uid, bucket_ms""".stripMargin)((s, dir) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val rows = t(s, dir, "events").orderBy("ts", "event_id")
        .select(col("event_type").as("name"),
          map(lit("uid"), col("user_id").cast("string")).as("labels"),
          tsMs.as("timestamp"), col("value"))
        .as[graft.metric.Sample].collect()
      val stream = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[graft.metric.Sample]
      val sink = sinkName("sr1")
      val q = graft.streaming.StreamAggregates
        .streamingRate(stream.toDS(), "purchase", "uid",
          stepMs = 86400000L, watermark = "0 seconds")
        .writeStream.outputMode("append").format("memory").queryName(sink).start()
      try rows.grouped(rows.length / 4 + 1).foreach { chunk =>
        stream.addData(chunk.toSeq); q.processAllAvailable()
      } finally q.stop()
      s.table(sink).withColumn("increase", round(col("increase"), 2))
        .withColumn("rate", round(col("rate"), 6))
    }),

    // Streaming gap-based sessionization (session_window + watermark) over
    // the same bounded 4-batch time-ordered stream. Append mode emits each
    // session once the watermark (global max event ts, 0s delay) passes its
    // end = last event + 30min; the oracle replays the identical lag-based
    // sessionization and applies the same cut.
    query("ss1_stream_sessions",
      // Gap-based sessions replayed with lag(): new session when the gap to
      // the previous event exceeds 30min; end = last event + 30min; emit only
      // sessions closed under the final watermark (global max event ts).
      """WITH mx AS (SELECT max(epoch_ms(ts::TIMESTAMP)) AS m FROM events),
        |e AS (SELECT user_id, epoch_ms(ts::TIMESTAMP) AS tms, event_id,
        |    lag(epoch_ms(ts::TIMESTAMP))
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |s AS (SELECT user_id, tms,
        |    sum(CASE WHEN prev IS NULL OR tms - prev > 1800000
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY tms, event_id
        |            ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM e),
        |g AS (SELECT user_id, sid, min(tms) AS session_start,
        |    max(tms) + 1800000 AS session_end, count(*) AS n_events
        |  FROM s GROUP BY user_id, sid)
        |SELECT user_id, session_start, session_end, n_events
        |FROM g, mx WHERE session_end <= mx.m""".stripMargin)((s, dir) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val ev = t(s, dir, "events").orderBy("ts", "event_id")
        .select(col("user_id"), tsMs.as("tms")).as[(Long, Long)].collect()
      val stream = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long)]
      val sink = sinkName("ss1")
      val q = graft.streaming.StreamAggregates
        .sessionize(stream.toDS().toDF("user_id", "tms")
            .withColumn("ts", timestamp_millis(col("tms"))),
          "user_id", "ts", gap = "30 minutes", watermark = "0 seconds")
        .writeStream.outputMode("append").format("memory").queryName(sink).start()
      try ev.grouped(ev.length / 4 + 1).foreach { chunk =>
        stream.addData(chunk.toSeq); q.processAllAvailable()
      } finally q.stop()
      s.table(sink)
    }),

    // Per-series live last value (mapGroupsWithState keyed state) over the
    // same bounded 4-batch stream. Update-mode memory sink keeps one row
    // per (series, trigger); the final state per series is its max-ts row —
    // deterministic because the dataset has no (series, ts) duplicates
    // (asserted below, since the oracle's ts = max(ts) join silently
    // depends on it) and arrival is time-ordered. The sink-side max_by
    // additionally tiebreaks on (ts, value) so even identical-ts re-emits
    // of the same state pick a deterministic row.
    query("sl1_live_last",
      // series_key uses the engine's canonical control-character form
      // (chr(1) key chr(2) value), shared with storage tsids.
      """WITH m AS (SELECT event_type AS name,
        |    chr(1) || 'uid' || chr(2) || CAST(user_id AS VARCHAR) AS series_key,
        |    max(epoch_ms(ts::TIMESTAMP)) AS ts
        |  FROM events GROUP BY 1, 2)
        |SELECT m.name, m.series_key, m.ts, e.value
        |FROM m JOIN events e ON e.event_type = m.name
        |  AND chr(1) || 'uid' || chr(2) || CAST(e.user_id AS VARCHAR) = m.series_key
        |  AND epoch_ms(e.ts::TIMESTAMP) = m.ts""".stripMargin)((s, dir) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val rows = t(s, dir, "events").orderBy("ts", "event_id")
        .select(col("event_type").as("name"),
          map(lit("uid"), col("user_id").cast("string")).as("labels"),
          tsMs.as("timestamp"), col("value"))
        .as[graft.metric.Sample].collect()
      require(rows.iterator.map(r => (r.name, r.labels, r.timestamp))
          .toSet.size == rows.length,
        "sl1 premise broken: duplicate (series, ts) rows make last-value " +
          "arrival-order-dependent and the max-ts oracle join ambiguous")
      val stream = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[graft.metric.Sample]
      val sink = sinkName("sl1")
      val q = graft.streaming.StreamAggregates.liveLastValue(stream.toDS()).toDF()
        .writeStream.outputMode("update").format("memory").queryName(sink).start()
      try rows.grouped(rows.length / 4 + 1).foreach { chunk =>
        stream.addData(chunk.toSeq); q.processAllAvailable()
      } finally q.stop()
      s.table(sink).groupBy(col("name"), col("seriesKey").as("series_key"))
        .agg(max(col("ts")).as("ts"),
          max_by(col("value"), struct(col("ts"), col("value"))).as("value"))
    }),

    // S3 + P2 through the driver gate: a narrow user projection (the merge
    // internally widens to pk + __seq__, then projects back) unioned with an
    // empty-range scan (no overlapping SST → short-circuit empty frame).
    query("st2_widen_empty",
      """SELECT event_id, value FROM events
        |WHERE epoch_ms(ts::TIMESTAMP) >= 1704844800000
        |  AND epoch_ms(ts::TIMESTAMP) < 1705708800000""".stripMargin)((s, dir) => {
      import graft.storage._
      val store = eventsStorage(s, dir)
      val proj = Some(Seq("event_id", "value"))
      val narrow = store.scan(ScanRequest(
        range = TimeRange(1704844800000L, 1705708800000L), projection = proj))
      val empty = store.scan(ScanRequest( // year-2100 range: zero SSTs
        range = TimeRange(4102444800000L, 4102444800001L), projection = proj))
      narrow.unionAll(empty)
    }),

    // S4 through the driver gate: one segment of events written through a
    // non-default WriteOptions surface (zstd codec + dictionary + bloom
    // filter on user_id, small row groups) and scanned back — the hash
    // only matches the raw-data oracle if the tuned physical encoding is
    // lossless end-to-end.
    query("s4_write_options",
      """SELECT user_id, count(*) AS n, round(sum(value), 2) AS sum_v,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events
        |WHERE epoch_ms(ts::TIMESTAMP) >= 1704326400000
        |  AND epoch_ms(ts::TIMESTAMP) < 1704931200000
        |GROUP BY user_id""".stripMargin)((s, dir) => {
      import graft.storage._
      val segMs = 7L * 86400000L
      val g = TimeRange.truncate(1704844800000L, segMs)
      val ev = t(s, dir, "events")
        .select(col("event_id"), tsMs.as("tms"), col("user_id"),
          col("event_type"), col("value"))
        .filter(col("tms") >= g && col("tms") < g + segMs)
      val store = new TimeMergeStorage(s,
        java.nio.file.Files.createTempDirectory("graft-events-opts").toString,
        StorageSchema(org.apache.spark.sql.types.StructType(ev.schema.fields),
          numPrimaryKeys = 1),
        segmentMs = segMs, timestampColumn = Some("tms"),
        writeOptions = WriteOptions(compression = "zstd",
          enableDictionary = true, bloomFilterColumns = Seq("user_id"),
          rowGroupBytes = 1L << 20))
      store.write(ev, TimeRange(g, g + segMs))
      store.scan(ScanRequest())
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_v"),
          min("event_id").as("min_id"), max("event_id").as("max_id"))
    }),

    // F3 through the driver gate: the TimeRange algebra (overlaps + merge
    // + truncate) evaluated on a fixed fixture of ranges, hash-checked
    // against a hand-written VALUES oracle computed independently.
    query("f3_timerange",
      // Hand-computed expectations for the fixed range fixture:
      // a=[0,10) b=[10,20) c=[5,15) d=[-25,-3); trunc = floorDiv to 7 ms.
      """SELECT * FROM (VALUES
        |  ('a', 'b', false, CAST(0 AS BIGINT), CAST(20 AS BIGINT),
        |   CAST(0 AS BIGINT), CAST(14 AS BIGINT)),
        |  ('a', 'c', true, CAST(0 AS BIGINT), CAST(15 AS BIGINT),
        |   CAST(0 AS BIGINT), CAST(14 AS BIGINT)),
        |  ('a', 'd', false, CAST(-25 AS BIGINT), CAST(10 AS BIGINT),
        |   CAST(-28 AS BIGINT), CAST(7 AS BIGINT)),
        |  ('b', 'c', true, CAST(5 AS BIGINT), CAST(20 AS BIGINT),
        |   CAST(0 AS BIGINT), CAST(14 AS BIGINT)),
        |  ('b', 'd', false, CAST(-25 AS BIGINT), CAST(20 AS BIGINT),
        |   CAST(-28 AS BIGINT), CAST(14 AS BIGINT)),
        |  ('c', 'd', false, CAST(-25 AS BIGINT), CAST(15 AS BIGINT),
        |   CAST(-28 AS BIGINT), CAST(14 AS BIGINT))
        |) AS t(r_a, r_b, is_overlap, m_start, m_end, trunc_start, trunc_end)""".stripMargin)((s, dir) => {
      import graft.storage.TimeRange
      val ranges = Seq( // (name, range) — half-open [start, end)
        ("a", TimeRange(0L, 10L)), ("b", TimeRange(10L, 20L)),
        ("c", TimeRange(5L, 15L)), ("d", TimeRange(-25L, -3L)))
      import s.implicits._
      (for { (na, ra) <- ranges; (nb, rb) <- ranges if na < nb } yield {
        val m = ra.merge(rb)
        (na, nb, ra.overlaps(rb), m.start, m.end,
          TimeRange.truncate(m.start, 7L), TimeRange.truncate(m.end, 7L))
      }).toDF("r_a", "r_b", "is_overlap", "m_start", "m_end",
        "trunc_start", "trunc_end")
    }),

    // C1-C4 through the driver gate: 7 small same-segment SSTs compacted to
    // quiescence (picker → executor → manifest commit → deletes), then a
    // scan whose file set IS the compacted SST. Slice-0 values were
    // rewritten doubled with the highest __seq__ before compaction, so the
    // hash only matches if last-write-wins survived the rewrite.
    query("ct1_compact_scan",
      // Raw data with the slice-0 doubling applied in SQL — matches only if
      // compaction preserved last-write-wins and dropped the stale slice.
      """SELECT event_type, count(*) AS n,
        |  round(sum(CASE WHEN event_id % 6 = 0 THEN value * 2 ELSE value END), 2) AS sum_v,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events
        |WHERE epoch_ms(ts::TIMESTAMP) >= 1704326400000
        |  AND epoch_ms(ts::TIMESTAMP) < 1704931200000
        |GROUP BY event_type""".stripMargin)((s, dir) => {
      import graft.storage._
      compactedEventsStore(s, dir).scan(ScanRequest())
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_v"),
          min("event_id").as("min_id"), max("event_id").as("max_id"))
    }),

    // The `graft` SQL data source end-to-end: table created + appended via
    // df.write.format("graft"), read via spark.read.format("graft") with a
    // time-range filter (manifest file pruning through the DSv1 edge) —
    // the hash only matches if the SQL edge's per-segment commit splitting
    // and merge-on-read last-write-wins agree with the raw data.
    query("st7_sql_source",
      // Raw data with the %5-slice doubling applied in SQL over the pruned
      // 5-day window — matches only if the SQL data source's per-segment
      // commit splitting, time-range pushdown, and merge both generations
      // correctly.
      """SELECT event_type, count(*) AS n,
        |  round(sum(CASE WHEN event_id % 5 = 0 THEN value * 2 ELSE value END), 2) AS sum_v,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events
        |WHERE epoch_ms(ts::TIMESTAMP) >= 1704499200000
        |  AND epoch_ms(ts::TIMESTAMP) < 1704931200000
        |GROUP BY event_type""".stripMargin)((s, dir) => {
      val root = sqlSourceRoot(s, dir)
      val cutoff = graft.storage.TimeRange.truncate(1704844800000L,
        7 * 86400000L) + 2 * 86400000L
      s.read.format("graft").option("root", root).load()
        .filter(col("tms") >= lit(cutoff))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_v"),
          min("event_id").as("min_id"), max("event_id").as("max_id"))
    }),

    // C1-C4 over the bucketed (100 TB) layout: 16 bucketed SSTs compacted
    // per (segment, bucket) to exactly one SST per bucket (shape require'd
    // in the fixture), then a scan — the hash only matches if last-write-
    // wins survived per-bucket merging and no row crossed buckets.
    query("ct2_bucket_compact",
      // Raw data with the slice-0 doubling applied in SQL — matches only if
      // per-bucket compaction preserved last-write-wins in every bucket and
      // dropped the stale slice.
      """SELECT event_type, count(*) AS n,
        |  round(sum(CASE WHEN event_id % 3 = 0 THEN value * 2 ELSE value END), 2) AS sum_v,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events
        |WHERE epoch_ms(ts::TIMESTAMP) >= 1704326400000
        |  AND epoch_ms(ts::TIMESTAMP) < 1704931200000
        |GROUP BY event_type""".stripMargin)((s, dir) => {
      import graft.storage._
      bucketCompactedStore(s, dir).scan(ScanRequest())
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_v"),
          min("event_id").as("min_id"), max("event_id").as("max_id"))
    }),

    // P4 through the driver gate: two write batches into one segment, SSTs
    // read back as RAW parquet (no scan-path stripping) — every row must
    // carry its batch's __seq__ stamp (ranked, since file ids are
    // wall-clock-derived), __reserved__ must be all-null, and the SECOND
    // batch must hold the strictly larger seq. The oracle recomputes each
    // batch's row count and id bounds from the slice definitions.
    query("st3_builtin_stamp",
      // Batch membership recomputed from the slice definitions; matching
      // hashes prove the stamped seq RANKS track write order and that
      // __reserved__ is all-null on disk.
      """SELECT CAST(CASE WHEN event_id % 3 = 0 THEN 1 ELSE 2 END AS INTEGER)
        |    AS batch,
        |  count(*) AS n, min(event_id) AS min_id, max(event_id) AS max_id,
        |  CAST(0 AS BIGINT) AS n_reserved_nonnull
        |FROM events
        |WHERE epoch_ms(ts::TIMESTAMP) >= 1704326400000
        |  AND epoch_ms(ts::TIMESTAMP) < 1704931200000
        |GROUP BY 1""".stripMargin)((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ssts = builtinStampStore(s, dir).manifest.allSsts().map(_.path)
      val raw = s.read.parquet(ssts: _*)
      val ranks = raw.select(col("__seq__")).distinct()
        .withColumn("batch", row_number().over(Window.orderBy(col("__seq__"))))
      raw.join(broadcast(ranks), "__seq__")
        .groupBy("batch")
        .agg(count(lit(1)).as("n"),
          min("event_id").as("min_id"), max("event_id").as("max_id"),
          sum(when(col("__reserved__").isNull, 0L).otherwise(1L))
            .as("n_reserved_nonnull"))
    }),

    // S5+T1 through the driver gate: a fixed WriteRequest spec (samples +
    // exemplars + metadata, multibyte label value) is wire-encoded, snappy
    // BLOCK-framed (the remote-write 1.0 transport), then decoded by the
    // hand-rolled varint reader and emitted as scalar rows. The oracle is
    // an independent hand-written VALUES list of the same spec — the hash
    // matches only if encode → frame → unframe → decode is lossless (the
    // reference's equivalence-test surface, remote_write/tests/
    // equivalence_test.rs).
    query("rw1_decode",
      // Hand-written expected rows for the fixed WriteRequest spec — built
      // independently of the encoder/decoder under test.
      """SELECT * FROM (VALUES
        |  ('sample', 'http_requests_total', 'instance=i1,job=api', '',
        |   CAST(1000 AS BIGINT), CAST(1.5 AS DOUBLE), ''),
        |  ('sample', 'http_requests_total', 'instance=i1,job=api', '',
        |   CAST(2000 AS BIGINT), CAST(2.25 AS DOUBLE), ''),
        |  ('sample', 'cpu_seconds', 'job=api,zone=eu-west-π', '',
        |   CAST(1500 AS BIGINT), CAST(-3.75 AS DOUBLE), ''),
        |  ('exemplar', 'http_requests_total', 'instance=i1,job=api',
        |   'trace_id=abc', CAST(1750 AS BIGINT), CAST(0.5 AS DOUBLE), ''),
        |  ('exemplar', 'cpu_seconds', 'job=api,zone=eu-west-π',
        |   'span=s1,trace_id=def', CAST(1600 AS BIGINT), CAST(7.0 AS DOUBLE), ''),
        |  ('meta', 'http_requests_total', '', '', CAST(1 AS BIGINT),
        |   CAST(0.0 AS DOUBLE), 'Total requests|'),
        |  ('meta', 'cpu_seconds', '', '', CAST(2 AS BIGINT),
        |   CAST(0.0 AS DOUBLE), 'CPU|seconds')
        |) AS t(kind, name, labels, xlabels, ts, value, note)""".stripMargin)((s, dir) => {
      import graft.streaming.RemoteWrite
      import graft.metric.Sample
      val sA = Map("instance" -> "i1", "job" -> "api")
      val sB = Map("job" -> "api", "zone" -> "eu-west-π")
      val spec = RemoteWrite.Request(
        samples = Seq(
          Sample("http_requests_total", sA, 1000L, 1.5),
          Sample("http_requests_total", sA, 2000L, 2.25),
          Sample("cpu_seconds", sB, 1500L, -3.75)),
        exemplars = Seq(
          RemoteWrite.Exemplar("http_requests_total", sA,
            Map("trace_id" -> "abc"), 0.5, 1750L),
          RemoteWrite.Exemplar("cpu_seconds", sB,
            Map("span" -> "s1", "trace_id" -> "def"), 7.0, 1600L)),
        metadata = Seq(
          RemoteWrite.Metadata(1, "http_requests_total", "Total requests", ""),
          RemoteWrite.Metadata(2, "cpu_seconds", "CPU", "seconds")))
      val framed = org.xerial.snappy.Snappy.compress(
        RemoteWrite.encodeRequest(spec))
      val req = RemoteWrite.decodeRequest(framed)
      def lj(m: Map[String, String]): String =
        m.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")
      import s.implicits._
      (req.samples.map(x =>
          ("sample", x.name, lj(x.labels), "", x.timestamp, x.value, "")) ++
        req.exemplars.map(x =>
          ("exemplar", x.name, lj(x.seriesLabels), lj(x.labels), x.timestamp,
            x.value, "")) ++
        req.metadata.map(m =>
          ("meta", m.familyName, "", "", m.metricType.toLong, 0.0,
            s"${m.help}|${m.unit}")))
        .toDF("kind", "name", "labels", "xlabels", "ts", "value", "note")
    }),

    // Exemplar STORAGE end-to-end (round 9): samples + exemplars through
    // the real engine (id population, sorted SSTs, Overwrite merge), one
    // exemplar re-delivered to prove identity-keyed idempotent upsert,
    // read back via the selector-resolved exemplars query. Fixed spec →
    // hand-written oracle rows.
    query("rw2_exemplar_store",
      // Exemplar storage replay: the three stored exemplars (the re-delivered
      // fourth upserts onto its identity), hand-written independently.
      """SELECT * FROM (VALUES
        |  ('http_requests_total', 'instance=i1,job=api', 'trace_id=abc',
        |   CAST(1750 AS BIGINT), CAST(0.5 AS DOUBLE)),
        |  ('http_requests_total', 'instance=i1,job=api', 'trace_id=xyz',
        |   CAST(1800 AS BIGINT), CAST(0.25 AS DOUBLE)),
        |  ('cpu_seconds', 'job=api,zone=eu-west-π', 'span=s1,trace_id=def',
        |   CAST(1600 AS BIGINT), CAST(7.0 AS DOUBLE))
        |) AS t(name, series_labels, exemplar_labels, ts_ms, value)""".stripMargin)((s, dir) => {
      val eng = cachedServingEngine("rw2") {
        import graft.streaming.{MetricStreamIngest, RemoteWrite}
        import graft.metric.Sample
        val root = java.nio.file.Files
          .createTempDirectory("graft-rw2").toString
        val e = new graft.metric.MetricEngine(s, root)
        val sA = Map("instance" -> "i1", "job" -> "api")
        val sB = Map("job" -> "api", "zone" -> "eu-west-π")
        MetricStreamIngest.ingestDecoded(e, s, Seq(
          Sample("http_requests_total", sA, 1000L, 1.5),
          Sample("cpu_seconds", sB, 1500L, -3.75)))
        val exs = Seq(
          RemoteWrite.Exemplar("http_requests_total", sA,
            Map("trace_id" -> "abc"), 0.5, 1750L),
          RemoteWrite.Exemplar("http_requests_total", sA,
            Map("trace_id" -> "xyz"), 0.25, 1800L),
          RemoteWrite.Exemplar("cpu_seconds", sB,
            Map("span" -> "s1", "trace_id" -> "def"), 7.0, 1600L))
        MetricStreamIngest.ingestExemplars(e, s, exs)
        MetricStreamIngest.ingestExemplars(e, s, exs.take(1)) // re-delivery
        e
      }
      val out = eng.queryExemplars("""{__name__=~".+"}""",
        graft.storage.TimeRange(Long.MinValue, Long.MaxValue))
      val lblStr = concat_ws(",",
        transform(array_sort(map_entries(col("labels"))),
          e => concat(e("key"), lit("="), e("value"))))
      // canonical key = name + (\u0001 key \u0002 value)* -> rw1's lj
      // format: tail after the first \u0001, separators translated to
      // "," / "=" (neither can occur in Prometheus label content)
      val skName = substring_index(col("series_key"), "\u0001", 1)
      val skTail = col("series_key").substr(length(skName) + lit(2), lit(1 << 20))
      out.select(skName.as("name"),
        translate(skTail, "\u0001\u0002", ",=").as("series_labels"),
        lblStr.as("exemplar_labels"),
        col("ts_ms"), col("value"))
    }),

    // OTLP EXEMPLARS end-to-end (round 12): gauge/sum points carrying
    // exemplars through the OTLP wire path into the durable exemplars
    // table — trace/span ids become trace_id/span_id exemplar labels
    // (lowercase hex), series labels = resource ++ point attributes.
    // Hand-written expected rows; timeless exemplars drop at decode.
    query("otlp4_exemplars",
      // Hand-written rows for the fixed OTLP exemplar payload: trace/span
      // ids as lowercase-hex labels, timeless exemplar dropped.
      """SELECT * FROM (VALUES
        |  ('req_total', 'code=200,service_name=api',
        |   'peer=x,span_id=b7ad6b7169203331,trace_id=0af7651916cd43dd8448eb211c80319c',
        |   CAST(1723680000001 AS BIGINT), CAST(0.25 AS DOUBLE)),
        |  ('req_total', 'code=500,service_name=api', 'trace_id=ff00',
        |   CAST(1723680000002 AS BIGINT), CAST(1.5 AS DOUBLE))
        |) AS t(name, series_labels, exemplar_labels, ts_ms, value)"""
        .stripMargin)((s, dir) => {
      val eng = cachedServingEngine("otlp4") {
        import graft.streaming.{MetricStreamIngest, Otlp}
        val root = java.nio.file.Files
          .createTempDirectory("graft-otlp4").toString
        val e = new graft.metric.MetricEngine(s, root)
        val ts = 1723680000000000000L
        val d = Otlp.decodeAll(Otlp.encode(Map("service.name" -> "api"), Seq(
          Otlp.MetricSpec("req.total", Seq(
            Otlp.Point(Map("code" -> "200"), ts, 41.0, exemplars = Seq(
              Otlp.ExemplarSpec(Map("peer" -> "x"), ts + 1000000L, 0.25,
                traceIdHex = "0af7651916cd43dd8448eb211c80319c",
                spanIdHex = "b7ad6b7169203331"),
              Otlp.ExemplarSpec(Map.empty, 0L, 1.0))),
            Otlp.Point(Map("code" -> "500"), ts, 2.0, exemplars = Seq(
              Otlp.ExemplarSpec(Map.empty, ts + 2000000L, 1.5,
                traceIdHex = "ff00")))),
            sum = true))))
        MetricStreamIngest.ingestDecoded(e, s, d.samples)
        MetricStreamIngest.ingestExemplars(e, s, d.exemplars)
        e
      }
      val out = eng.queryExemplars("req_total",
        graft.storage.TimeRange(Long.MinValue, Long.MaxValue))
      val lblStr = concat_ws(",",
        transform(array_sort(map_entries(col("labels"))),
          e => concat(e("key"), lit("="), e("value"))))
      val skName = substring_index(col("series_key"), "\u0001", 1)
      val skTail = col("series_key").substr(length(skName) + lit(2), lit(1 << 20))
      out.select(skName.as("name"),
        translate(skTail, "\u0001\u0002", ",=").as("series_labels"),
        lblStr.as("exemplar_labels"),
        col("ts_ms"), col("value"))
    }),

    // NATIVE histograms end-to-end (round 11): fixed exponential-histogram
    // samples through the FULL remote-write 2.0 wire path (sparse spans +
    // int deltas encoded, snappy-framed, decoded back to absolute buckets)
    // into the engine's histograms table, then histogram_quantile over the
    // native buckets. The oracle REPLAYS the bucket math in SQL from the
    // raw wire content — (idx, delta) pairs resolved by a window
    // cumulative sum, bounds from base = 2^(2^-schema), the rank walk and
    // the linear within-bucket interpolation — so decode, storage, and
    // quantile arithmetic are all under the hash.
    query("nh1_native_hist",
      // Native-histogram quantile replay: starts from the RAW wire content
      // (per-bucket indexes + integer DELTAS, exactly what remote-write 2.0
      // carries) and re-derives everything in SQL — delta→count via a
      // window cumulative sum, bucket bounds from base = 2^(2^-schema), the
      // zero bucket, the cumulative rank walk, and the linear within-bucket
      // interpolation. Matches only if decode (spans+deltas→absolute),
      // storage, and the engine's quantile arithmetic are all correct.
      """WITH deltas(name, labels, ts_ms, ord, idx, delta) AS (VALUES
        |    ('rpc_latency', 'job=api',    CAST(1000 AS BIGINT), 1, 1, 3),
        |    ('rpc_latency', 'job=api',    CAST(1000 AS BIGINT), 2, 2, 2),
        |    ('rpc_latency', 'job=api',    CAST(2000 AS BIGINT), 1, 1, 4),
        |    ('rpc_latency', 'job=api',    CAST(2000 AS BIGINT), 2, 3, -2),
        |    ('rpc_latency', 'job=worker', CAST(1000 AS BIGINT), 1, 2, 6),
        |    ('rpc_latency', 'job=worker', CAST(1000 AS BIGINT), 2, 3, 0)),
        |  hist(name, labels, ts_ms, total, zero_cnt, zero_th, sch) AS (VALUES
        |    ('rpc_latency', 'job=api',    CAST(1000 AS BIGINT),
        |     CAST(10 AS DOUBLE), CAST(2 AS DOUBLE), 0.001, 0),
        |    ('rpc_latency', 'job=api',    CAST(2000 AS BIGINT),
        |     CAST(7 AS DOUBLE), CAST(1 AS DOUBLE), 0.001, 0),
        |    ('rpc_latency', 'job=worker', CAST(1000 AS BIGINT),
        |     CAST(12 AS DOUBLE), CAST(0 AS DOUBLE), 0.0, 0)),
        |  buckets AS (
        |    SELECT name, labels, ts_ms, idx, CAST(sum(delta) OVER (
        |        PARTITION BY name, labels, ts_ms ORDER BY ord) AS DOUBLE) AS cnt
        |    FROM deltas),
        |  allb AS (
        |    SELECT name, labels, ts_ms, -2147483648 AS idx,
        |      CAST(0.0 AS DOUBLE) AS lo, zero_th AS hi, zero_cnt AS cnt
        |    FROM hist
        |    UNION ALL
        |    SELECT b.name, b.labels, b.ts_ms, b.idx,
        |      power(power(2.0, power(2.0, -h.sch)), b.idx - 1) AS lo,
        |      power(power(2.0, power(2.0, -h.sch)), b.idx) AS hi, b.cnt
        |    FROM buckets b
        |    JOIN hist h ON b.name = h.name AND b.labels = h.labels
        |      AND b.ts_ms = h.ts_ms),
        |  walk AS (
        |    SELECT a.name, a.labels, a.ts_ms, p.phi, a.idx, a.lo, a.hi, a.cnt,
        |      sum(a.cnt) OVER (PARTITION BY a.name, a.labels, a.ts_ms, p.phi
        |        ORDER BY a.idx) - a.cnt AS cum_before,
        |      p.phi * h.total AS rank
        |    FROM allb a
        |    CROSS JOIN (VALUES (CAST(0.5 AS DOUBLE)),
        |                       (CAST(0.9 AS DOUBLE))) AS p(phi)
        |    JOIN hist h ON a.name = h.name AND a.labels = h.labels
        |      AND a.ts_ms = h.ts_ms),
        |  pick AS (
        |    SELECT name, labels, ts_ms, phi,
        |      lo + (hi - lo) * ((rank - cum_before) / cnt) AS value,
        |      row_number() OVER (PARTITION BY name, labels, ts_ms, phi
        |        ORDER BY idx) AS rn
        |    FROM walk WHERE cnt > 0 AND cum_before + cnt >= rank)
        |SELECT name, labels, ts_ms, phi, value FROM pick WHERE rn = 1""".stripMargin)((s, dir) => {
      val eng = nh1Engine(s)
      val q = eng.histogramQuantile("rpc_latency", Seq(0.5, 0.9),
        graft.storage.TimeRange(Long.MinValue, Long.MaxValue))
      val skName = substring_index(col("series_key"), "\u0001", 1)
      val skTail = col("series_key").substr(length(skName) + lit(2), lit(1 << 20))
      q.select(skName.as("name"),
        translate(skTail, "\u0001\u0002", ",=").as("labels"),
        col("ts_ms"), col("phi"), col("value"))
    }),

    // Native histograms through the PromQL INSTANT path (round 11):
    // `histogram_quantile(0.5, rpc_latency)` at T=2500 routes to the
    // histograms table -- newest histogram per series within the lookback
    // (api@2000 supersedes api@1000; worker@1000), quantile over native
    // buckets, full decoded labelset out. Same fixture engine as nh1; the
    // oracle replays newest-per-series + the bucket walk in SQL.
    query("nh2_native_hist_promql",
      // Native-histogram quantile through PromQL instant routing: same wire
      // deltas as nh1, restricted to each series' NEWEST histogram within
      // the 5m lookback ending at T=2500 (Prometheus instant-selector
      // semantics), then the same bucket walk at phi=0.5.
      """WITH deltas(name, job, ts_ms, ord, idx, delta) AS (VALUES
        |    ('rpc_latency', 'api',    CAST(1000 AS BIGINT), 1, 1, 3),
        |    ('rpc_latency', 'api',    CAST(1000 AS BIGINT), 2, 2, 2),
        |    ('rpc_latency', 'api',    CAST(2000 AS BIGINT), 1, 1, 4),
        |    ('rpc_latency', 'api',    CAST(2000 AS BIGINT), 2, 3, -2),
        |    ('rpc_latency', 'worker', CAST(1000 AS BIGINT), 1, 2, 6),
        |    ('rpc_latency', 'worker', CAST(1000 AS BIGINT), 2, 3, 0)),
        |  hist(name, job, ts_ms, total, zero_cnt, zero_th, sch) AS (VALUES
        |    ('rpc_latency', 'api',    CAST(1000 AS BIGINT),
        |     CAST(10 AS DOUBLE), CAST(2 AS DOUBLE), 0.001, 0),
        |    ('rpc_latency', 'api',    CAST(2000 AS BIGINT),
        |     CAST(7 AS DOUBLE), CAST(1 AS DOUBLE), 0.001, 0),
        |    ('rpc_latency', 'worker', CAST(1000 AS BIGINT),
        |     CAST(12 AS DOUBLE), CAST(0 AS DOUBLE), 0.0, 0)),
        |  newest AS (
        |    SELECT name, job, max(ts_ms) AS ts_ms FROM hist
        |    WHERE ts_ms > 2500 - 300000 AND ts_ms <= 2500 GROUP BY name, job),
        |  buckets AS (
        |    SELECT d.name, d.job, d.ts_ms, d.idx, CAST(sum(d.delta) OVER (
        |        PARTITION BY d.name, d.job, d.ts_ms ORDER BY d.ord) AS DOUBLE)
        |      AS cnt
        |    FROM deltas d JOIN newest n ON d.name = n.name AND d.job = n.job
        |      AND d.ts_ms = n.ts_ms),
        |  allb AS (
        |    SELECT h.name, h.job, h.ts_ms, -2147483648 AS idx,
        |      CAST(0.0 AS DOUBLE) AS lo, h.zero_th AS hi, h.zero_cnt AS cnt
        |    FROM hist h JOIN newest n ON h.name = n.name AND h.job = n.job
        |      AND h.ts_ms = n.ts_ms
        |    UNION ALL
        |    SELECT b.name, b.job, b.ts_ms, b.idx,
        |      power(power(2.0, power(2.0, -h.sch)), b.idx - 1) AS lo,
        |      power(power(2.0, power(2.0, -h.sch)), b.idx) AS hi, b.cnt
        |    FROM buckets b
        |    JOIN hist h ON b.name = h.name AND b.job = h.job
        |      AND b.ts_ms = h.ts_ms),
        |  walk AS (
        |    SELECT a.name, a.job, a.idx, a.lo, a.hi, a.cnt,
        |      sum(a.cnt) OVER (PARTITION BY a.name, a.job
        |        ORDER BY a.idx) - a.cnt AS cum_before,
        |      0.5 * h.total AS rank
        |    FROM allb a
        |    JOIN hist h ON a.name = h.name AND a.job = h.job
        |      AND a.ts_ms = h.ts_ms),
        |  pick AS (
        |    SELECT name, job,
        |      lo + (hi - lo) * ((rank - cum_before) / cnt) AS value,
        |      row_number() OVER (PARTITION BY name, job ORDER BY idx) AS rn
        |    FROM walk WHERE cnt > 0 AND cum_before + cnt >= rank)
        |SELECT name AS __name__, job, value FROM pick WHERE rn = 1""".stripMargin)((s, dir) => {
      val eng = nh1Engine(s)
      eng.instantPromQL("histogram_quantile(0.5, rpc_latency)", 2500L)
        .select(col("__name__"), col("job"), col("value"))
    }),

    // Native histograms through histogram_quantile(q, rate(m[w])) -- the
    // canonical p99-latency dashboard query (round 11): bucket-wise
    // reset-aware increase over the exact (T-w, T] window, quantile over
    // the increase histogram (== the rate histogram's quantile). The
    // oracle replays the whole pipeline in SQL: wire deltas -> per-sample
    // counts -> dense (ts x bucket) fill -> reset-aware increase ->
    // bucket walk.
    query("nh3_native_hist_rate",
      // Rate-histogram quantile replay: the full native pipeline in SQL --
      // wire deltas -> per-sample bucket counts -> dense (ts x bucket) fill
      // (sparse samples omit empty buckets; the reset arithmetic needs the
      // 0 observation) -> bucket-wise reset-aware increase -> zero-bucket +
      // exponential-bound walk at phi=0.5.
      """WITH deltas(ts_ms, ord, idx, delta) AS (VALUES
        |    (CAST(1000 AS BIGINT), 1, 1, 3),
        |    (CAST(1000 AS BIGINT), 2, 2, 2),
        |    (CAST(2000 AS BIGINT), 1, 1, 4),
        |    (CAST(2000 AS BIGINT), 2, 3, -2)),
        |  zeroes(ts_ms, zcnt) AS (VALUES
        |    (CAST(1000 AS BIGINT), CAST(2 AS DOUBLE)),
        |    (CAST(2000 AS BIGINT), CAST(1 AS DOUBLE))),
        |  counts AS (
        |    SELECT ts_ms, idx, CAST(sum(delta) OVER (
        |        PARTITION BY ts_ms ORDER BY ord) AS DOUBLE) AS cnt
        |    FROM deltas),
        |  dense AS (
        |    SELECT t.ts_ms, k.idx, coalesce(c.cnt, CAST(0 AS DOUBLE)) AS cnt
        |    FROM (SELECT DISTINCT ts_ms FROM counts) t
        |    CROSS JOIN (SELECT DISTINCT idx FROM counts) k
        |    LEFT JOIN counts c ON c.ts_ms = t.ts_ms AND c.idx = k.idx),
        |  incs AS (
        |    SELECT idx, sum(CASE WHEN prev IS NULL THEN 0
        |                         WHEN cnt >= prev THEN cnt - prev
        |                         ELSE cnt END) AS inc
        |    FROM (SELECT idx, cnt, lag(cnt) OVER (
        |            PARTITION BY idx ORDER BY ts_ms) AS prev FROM dense)
        |    GROUP BY idx),
        |  zinc AS (
        |    SELECT sum(CASE WHEN prev IS NULL THEN 0
        |                    WHEN zcnt >= prev THEN zcnt - prev
        |                    ELSE zcnt END) AS inc
        |    FROM (SELECT zcnt, lag(zcnt) OVER (ORDER BY ts_ms) AS prev
        |          FROM zeroes)),
        |  cfield(ts_ms, c) AS (VALUES
        |    (CAST(1000 AS BIGINT), CAST(10 AS DOUBLE)),
        |    (CAST(2000 AS BIGINT), CAST(7 AS DOUBLE))),
        |  total AS (
        |    -- the increase histogram's count rides the STORED count field
        |    -- as its own reset-aware counter (NaN observations increment
        |    -- count without landing in any bucket), not a bucket-mass sum
        |    SELECT sum(CASE WHEN prev IS NULL THEN 0
        |                    WHEN c >= prev THEN c - prev
        |                    ELSE c END) AS cnt
        |    FROM (SELECT c, lag(c) OVER (ORDER BY ts_ms) AS prev
        |          FROM cfield)),
        |  allb AS (
        |    SELECT -2147483648 AS idx, CAST(0.0 AS DOUBLE) AS lo,
        |      0.001 AS hi, (SELECT inc FROM zinc) AS cnt
        |    UNION ALL
        |    SELECT idx, power(2.0, idx - 1) AS lo, power(2.0, idx) AS hi,
        |      inc AS cnt
        |    FROM incs),
        |  walk AS (
        |    SELECT idx, lo, hi, cnt,
        |      sum(cnt) OVER (ORDER BY idx) - cnt AS cum_before,
        |      0.5 * (SELECT cnt FROM total) AS rank
        |    FROM allb),
        |  pick AS (
        |    SELECT lo + (hi - lo) * ((rank - cum_before) / cnt) AS value,
        |      row_number() OVER (ORDER BY idx) AS rn
        |    FROM walk WHERE cnt > 0 AND cum_before + cnt >= rank)
        |SELECT 'rpc_latency' AS __name__, 'api' AS job, value
        |FROM pick WHERE rn = 1""".stripMargin)((s, dir) => {
      val eng = nh1Engine(s)
      eng.instantPromQL(
        """histogram_quantile(0.5, rate(rpc_latency{job="api"}[2s]))""",
        2500L)
        .select(col("__name__"), col("job"), col("value"))
    }),

    // Mid-window SCHEMA CHANGE (round 12): the series scrapes at schema 0
    // then schema -1 inside one rate window — the engine downscales the
    // finer sample to the coarsest schema present (adjacent bucket pairs
    // merge, exact for standard schemas; Prometheus's own conversion)
    // instead of erroring. The oracle performs the same index conversion
    // (((idx-1) >> d) + 1) in SQL, then the increase + quantile walk at
    // the coarse schema.
    query("nh6_schema_mix",
      // Schema-mix replay: the SQL downscales the schema-0 sample's bucket
      // indexes to the coarsest schema present (-1) with the same
      // ((idx-1) >> d) + 1 pair-merge the engine uses, then the window
      // increase and quantile walk at base 4.
      """WITH raw(ts_ms, sch, idx, cnt) AS (VALUES
        |    (CAST(1000 AS BIGINT), 0, 1, CAST(2 AS DOUBLE)),
        |    (CAST(1000 AS BIGINT), 0, 2, CAST(3 AS DOUBLE)),
        |    (CAST(1000 AS BIGINT), 0, 3, CAST(1 AS DOUBLE)),
        |    (CAST(1000 AS BIGINT), 0, 4, CAST(1 AS DOUBLE)),
        |    (CAST(2000 AS BIGINT), -1, 1, CAST(9 AS DOUBLE)),
        |    (CAST(2000 AS BIGINT), -1, 2, CAST(5 AS DOUBLE))),
        |  zeroes(ts_ms, zcnt) AS (VALUES
        |    (CAST(1000 AS BIGINT), CAST(1 AS DOUBLE)),
        |    (CAST(2000 AS BIGINT), CAST(2 AS DOUBLE))),
        |  conv AS (
        |    SELECT ts_ms, ((idx - 1) >> (sch + 1)) + 1 AS idx,
        |      sum(cnt) AS cnt
        |    FROM raw GROUP BY 1, 2),
        |  incs AS (
        |    SELECT idx, sum(CASE WHEN prev IS NULL THEN 0
        |        WHEN cnt >= prev THEN cnt - prev ELSE cnt END) AS inc
        |    FROM (SELECT ts_ms, idx, cnt, lag(cnt) OVER (
        |        PARTITION BY idx ORDER BY ts_ms) AS prev FROM conv)
        |    GROUP BY idx),
        |  zinc AS (
        |    SELECT sum(CASE WHEN prev IS NULL THEN 0
        |        WHEN zcnt >= prev THEN zcnt - prev ELSE zcnt END) AS inc
        |    FROM (SELECT zcnt, lag(zcnt) OVER (ORDER BY ts_ms) AS prev
        |          FROM zeroes)),
        |  allb AS (
        |    SELECT -2147483648 AS idx, CAST(0.0 AS DOUBLE) AS lo,
        |      0.001 AS hi, inc AS cnt FROM zinc
        |    UNION ALL
        |    SELECT idx, power(4.0, idx - 1) AS lo, power(4.0, idx) AS hi,
        |      inc AS cnt FROM incs),
        |  cfield(ts_ms, c) AS (VALUES
        |    (CAST(500 AS BIGINT), CAST(3 AS DOUBLE)),
        |    (CAST(1500 AS BIGINT), CAST(6 AS DOUBLE)),
        |    (CAST(2500 AS BIGINT), CAST(7 AS DOUBLE)),
        |    (CAST(3500 AS BIGINT), CAST(11 AS DOUBLE))),
        |  total AS (
        |    -- count = the stored count field as its own reset-aware
        |    -- counter (see nh3's note), not a bucket-mass sum
        |    SELECT sum(CASE WHEN prev IS NULL THEN 0
        |                    WHEN c >= prev THEN c - prev
        |                    ELSE c END) AS cnt
        |    FROM (SELECT c, lag(c) OVER (ORDER BY ts_ms) AS prev
        |          FROM cfield)),
        |  walk AS (
        |    SELECT a.idx, a.lo, a.hi, a.cnt,
        |      sum(a.cnt) OVER (ORDER BY a.idx) - a.cnt AS cum_before,
        |      0.5 * t.cnt AS rk
        |    FROM allb a CROSS JOIN total t),
        |  pick AS (
        |    SELECT lo + (hi - lo) * ((rk - cum_before) / cnt) AS value,
        |      row_number() OVER (ORDER BY idx) AS rn
        |    FROM walk WHERE cnt > 0 AND cum_before + cnt >= rk)
        |SELECT 'mix_latency' AS __name__, 'api' AS job, value
        |FROM pick WHERE rn = 1""".stripMargin)((s, dir) => {
      val eng = cachedServingEngine("nh6") {
        import graft.streaming.{MetricStreamIngest, RemoteWrite}
        import graft.streaming.RemoteWrite.{HistogramSample, Request}
        val root = java.nio.file.Files
          .createTempDirectory("graft-nh6").toString
        val e = new graft.metric.MetricEngine(s, root)
        val spec = Seq(
          HistogramSample("mix_latency", Map("job" -> "api"), 1000L,
            count = 8, sum = 10.0, schema = 0, zeroThreshold = 0.001,
            zeroCount = 1,
            positiveBuckets = Seq((1, 2.0), (2, 3.0), (3, 1.0), (4, 1.0)),
            negativeBuckets = Nil),
          HistogramSample("mix_latency", Map("job" -> "api"), 2000L,
            count = 16, sum = 24.0, schema = -1, zeroThreshold = 0.001,
            zeroCount = 2,
            positiveBuckets = Seq((1, 9.0), (2, 5.0)),
            negativeBuckets = Nil))
        val framed = org.xerial.snappy.Snappy.compress(
          RemoteWrite.encodeRequestV2(Request(Nil, Nil, Nil, spec)))
        MetricStreamIngest.ingestHistograms(e, s,
          RemoteWrite.decodeRequest(framed).histograms)
        e
      }
      eng.instantPromQL(
        """histogram_quantile(0.5, rate(mix_latency[2s]))""", 2500L)
        .select(col("__name__"), col("job"), col("value"))
    }),

    // Native histograms as a RANGE query (round 11) -- the graph shape:
    // histogram_quantile(0.5, rate(m[2s])) on 2 s tumbling buckets, deltas
    // chained across buckets (the scalar rate path's arithmetic), counter
    // reset inside the second bucket, plus a single-sample series whose
    // zero-increase buckets drop (the "rate needs two samples" rule). The
    // oracle replays the full pipeline in SQL per time bucket.
    query("nh4_native_hist_range",
      // Range rate-histogram replay: the nh3 pipeline PER TIME BUCKET --
      // deltas chain across buckets (attributed to the later sample), the
      // worker series' single sample yields count 0 and drops.
      """WITH deltas(ts_ms, ord, idx, delta) AS (VALUES
        |    (CAST(1000 AS BIGINT), 1, 1, 2),
        |    (CAST(1500 AS BIGINT), 1, 1, 5),
        |    (CAST(2500 AS BIGINT), 1, 1, 1),
        |    (CAST(3500 AS BIGINT), 1, 1, 4)),
        |  zeroes(ts_ms, zcnt) AS (VALUES
        |    (CAST(1000 AS BIGINT), CAST(1 AS DOUBLE)),
        |    (CAST(1500 AS BIGINT), CAST(1 AS DOUBLE)),
        |    (CAST(2500 AS BIGINT), CAST(2 AS DOUBLE)),
        |    (CAST(3500 AS BIGINT), CAST(2 AS DOUBLE))),
        |  counts AS (
        |    SELECT ts_ms, idx, CAST(sum(delta) OVER (
        |        PARTITION BY ts_ms ORDER BY ord) AS DOUBLE) AS cnt
        |    FROM deltas),
        |  dense AS (
        |    SELECT t.ts_ms, k.idx, coalesce(c.cnt, CAST(0 AS DOUBLE)) AS cnt
        |    FROM (SELECT DISTINCT ts_ms FROM counts) t
        |    CROSS JOIN (SELECT DISTINCT idx FROM counts) k
        |    LEFT JOIN counts c ON c.ts_ms = t.ts_ms AND c.idx = k.idx),
        |  incs AS (
        |    SELECT CAST(floor(ts_ms / 2000) AS BIGINT) * 2000 AS bucket_ms, idx,
        |      sum(CASE WHEN prev IS NULL THEN 0
        |               WHEN cnt >= prev THEN cnt - prev
        |               ELSE cnt END) AS inc
        |    FROM (SELECT ts_ms, idx, cnt, lag(cnt) OVER (
        |            PARTITION BY idx ORDER BY ts_ms) AS prev FROM dense)
        |    GROUP BY bucket_ms, idx),
        |  zincs AS (
        |    SELECT CAST(floor(ts_ms / 2000) AS BIGINT) * 2000 AS bucket_ms,
        |      sum(CASE WHEN prev IS NULL THEN 0
        |               WHEN zcnt >= prev THEN zcnt - prev
        |               ELSE zcnt END) AS inc
        |    FROM (SELECT ts_ms, zcnt, lag(zcnt) OVER (ORDER BY ts_ms) AS prev
        |          FROM zeroes)
        |    GROUP BY bucket_ms),
        |  cfield(ts_ms, c) AS (VALUES
        |    (CAST(1000 AS BIGINT), CAST(3 AS DOUBLE)),
        |    (CAST(1500 AS BIGINT), CAST(6 AS DOUBLE)),
        |    (CAST(2500 AS BIGINT), CAST(3 AS DOUBLE)),
        |    (CAST(3500 AS BIGINT), CAST(6 AS DOUBLE))),
        |  totals AS (
        |    -- count = the stored count field as its own reset-aware
        |    -- counter per time bucket (see nh3's note)
        |    SELECT CAST(floor(ts_ms / 2000) AS BIGINT) * 2000 AS bucket_ms,
        |      sum(CASE WHEN prev IS NULL THEN 0
        |               WHEN c >= prev THEN c - prev
        |               ELSE c END) AS cnt
        |    FROM (SELECT ts_ms, c, lag(c) OVER (ORDER BY ts_ms) AS prev
        |          FROM cfield)
        |    GROUP BY bucket_ms),
        |  allb AS (
        |    SELECT bucket_ms, -2147483648 AS idx, CAST(0.0 AS DOUBLE) AS lo,
        |      0.001 AS hi, inc AS cnt FROM zincs
        |    UNION ALL
        |    SELECT bucket_ms, idx, power(2.0, idx - 1) AS lo,
        |      power(2.0, idx) AS hi, inc AS cnt FROM incs),
        |  walk AS (
        |    SELECT a.bucket_ms, a.idx, a.lo, a.hi, a.cnt,
        |      sum(a.cnt) OVER (PARTITION BY a.bucket_ms ORDER BY a.idx) - a.cnt
        |        AS cum_before,
        |      0.5 * t.cnt AS rank
        |    FROM allb a JOIN totals t ON t.bucket_ms = a.bucket_ms
        |    WHERE t.cnt > 0),
        |  pick AS (
        |    SELECT bucket_ms,
        |      lo + (hi - lo) * ((rank - cum_before) / cnt) AS value,
        |      row_number() OVER (PARTITION BY bucket_ms ORDER BY idx) AS rn
        |    FROM walk WHERE cnt > 0 AND cum_before + cnt >= rank)
        |SELECT 'rpc_latency' AS __name__, 'api' AS job, bucket_ms, value
        |FROM pick WHERE rn = 1""".stripMargin)((s, dir) => {
      val eng = cachedServingEngine("nh4") {
        import graft.streaming.{MetricStreamIngest, RemoteWrite}
        import graft.streaming.RemoteWrite.{HistogramSample, Request}
        val root = java.nio.file.Files
          .createTempDirectory("graft-nh4").toString
        val e = new graft.metric.MetricEngine(s, root)
        def h(job: String, ts: Long, zero: Double, b1: Double) =
          HistogramSample("rpc_latency", Map("job" -> job), ts,
            count = zero + b1, sum = b1 * 1.5, schema = 0,
            zeroThreshold = 0.001, zeroCount = zero,
            positiveBuckets = Seq((1, b1)), negativeBuckets = Nil)
        val spec = Seq(
          h("api", 1000L, 1, 2), h("api", 1500L, 1, 5),
          h("api", 2500L, 2, 1), // bucket-1 counter reset (5 -> 1)
          h("api", 3500L, 2, 4),
          h("worker", 2500L, 3, 7)) // single sample -> all buckets drop
        val framed = org.xerial.snappy.Snappy.compress(
          RemoteWrite.encodeRequestV2(Request(Nil, Nil, Nil, spec)))
        MetricStreamIngest.ingestHistograms(e, s,
          RemoteWrite.decodeRequest(framed).histograms)
        e
      }
      eng.queryPromQL(
        """histogram_quantile(0.5, rate(rpc_latency[2s]))""",
        graft.storage.TimeRange(Long.MinValue, Long.MaxValue))
        .select(col("__name__"), col("job"), col("bucket_ms"), col("value"))
    }),

    // Cross-series native-histogram aggregation (round 11) -- the
    // service-level latency shape: histogram_quantile(0.5,
    // sum by (job) (rate(m[2s]))) over TWO hosts in one job (the sum is
    // bucket-wise across series) plus a second job, instant at T=2500.
    // The oracle replays per-series windowed increases then the per-job
    // bucket-wise sum and walk in SQL.
    query("nh5_native_hist_agg",
      // Aggregated native-histogram replay: per-series windowed increase
      // -> bucket-wise per-job sum -> walk, all in SQL from the wire
      // deltas of two hosts sharing one job.
      """WITH deltas(job, host, ts_ms, ord, idx, delta) AS (VALUES
        |    ('api', 'h1', CAST(1000 AS BIGINT), 1, 1, 2),
        |    ('api', 'h1', CAST(2000 AS BIGINT), 1, 1, 5),
        |    ('api', 'h2', CAST(1200 AS BIGINT), 1, 2, 2),
        |    ('api', 'h2', CAST(2200 AS BIGINT), 1, 2, 7),
        |    ('worker', 'h9', CAST(1100 AS BIGINT), 1, 1, 1),
        |    ('worker', 'h9', CAST(2100 AS BIGINT), 1, 1, 2)),
        |  zeroes(job, host, ts_ms, zcnt) AS (VALUES
        |    ('api', 'h1', CAST(1000 AS BIGINT), CAST(1 AS DOUBLE)),
        |    ('api', 'h1', CAST(2000 AS BIGINT), CAST(1 AS DOUBLE)),
        |    ('api', 'h2', CAST(1200 AS BIGINT), CAST(0 AS DOUBLE)),
        |    ('api', 'h2', CAST(2200 AS BIGINT), CAST(0 AS DOUBLE)),
        |    ('worker', 'h9', CAST(1100 AS BIGINT), CAST(2 AS DOUBLE)),
        |    ('worker', 'h9', CAST(2100 AS BIGINT), CAST(3 AS DOUBLE))),
        |  counts AS (
        |    SELECT job, host, ts_ms, idx, CAST(sum(delta) OVER (
        |        PARTITION BY job, host, ts_ms ORDER BY ord) AS DOUBLE) AS cnt
        |    FROM deltas),
        |  incs AS (
        |    SELECT job, idx, sum(CASE WHEN prev IS NULL THEN 0
        |                              WHEN cnt >= prev THEN cnt - prev
        |                              ELSE cnt END) AS inc
        |    FROM (SELECT job, host, idx, cnt, lag(cnt) OVER (
        |            PARTITION BY job, host, idx ORDER BY ts_ms) AS prev
        |          FROM counts)
        |    GROUP BY job, idx),
        |  zincs AS (
        |    SELECT job, sum(CASE WHEN prev IS NULL THEN 0
        |                         WHEN zcnt >= prev THEN zcnt - prev
        |                         ELSE zcnt END) AS inc
        |    FROM (SELECT job, zcnt, lag(zcnt) OVER (
        |            PARTITION BY job, host ORDER BY ts_ms) AS prev FROM zeroes)
        |    GROUP BY job),
        |  totals AS (
        |    SELECT i.job, sum(i.inc) + any_value(z.inc) AS cnt
        |    FROM incs i JOIN zincs z ON z.job = i.job GROUP BY i.job),
        |  allb AS (
        |    SELECT job, -2147483648 AS idx, CAST(0.0 AS DOUBLE) AS lo,
        |      0.001 AS hi, inc AS cnt FROM zincs
        |    UNION ALL
        |    SELECT job, idx, power(2.0, idx - 1) AS lo, power(2.0, idx) AS hi,
        |      inc AS cnt FROM incs),
        |  walk AS (
        |    SELECT a.job, a.idx, a.lo, a.hi, a.cnt,
        |      sum(a.cnt) OVER (PARTITION BY a.job ORDER BY a.idx) - a.cnt
        |        AS cum_before,
        |      0.5 * t.cnt AS rank
        |    FROM allb a JOIN totals t ON t.job = a.job WHERE t.cnt > 0),
        |  pick AS (
        |    SELECT job, lo + (hi - lo) * ((rank - cum_before) / cnt) AS value,
        |      row_number() OVER (PARTITION BY job ORDER BY idx) AS rn
        |    FROM walk WHERE cnt > 0 AND cum_before + cnt >= rank)
        |SELECT job, value FROM pick WHERE rn = 1""".stripMargin)((s, dir) => {
      val eng = cachedServingEngine("nh5") {
        import graft.streaming.{MetricStreamIngest, RemoteWrite}
        import graft.streaming.RemoteWrite.{HistogramSample, Request}
        val root = java.nio.file.Files
          .createTempDirectory("graft-nh5").toString
        val e = new graft.metric.MetricEngine(s, root)
        def h(job: String, host: String, ts: Long, zero: Double,
            idx: Int, cnt: Double) =
          HistogramSample("rpc_latency", Map("job" -> job, "host" -> host),
            ts, count = zero + cnt, sum = cnt * 1.5, schema = 0,
            zeroThreshold = 0.001, zeroCount = zero,
            positiveBuckets = Seq((idx, cnt)), negativeBuckets = Nil)
        val spec = Seq(
          h("api", "h1", 1000L, 1, 1, 2), h("api", "h1", 2000L, 1, 1, 5),
          h("api", "h2", 1200L, 0, 2, 2), h("api", "h2", 2200L, 0, 2, 7),
          h("worker", "h9", 1100L, 2, 1, 1),
          h("worker", "h9", 2100L, 3, 1, 2))
        val framed = org.xerial.snappy.Snappy.compress(
          RemoteWrite.encodeRequestV2(Request(Nil, Nil, Nil, spec)))
        MetricStreamIngest.ingestHistograms(e, s,
          RemoteWrite.decodeRequest(framed).histograms)
        e
      }
      eng.instantPromQL(
        """histogram_quantile(0.5, sum by (job) (rate(rpc_latency[2s])))""",
        2500L).select(col("job"), col("value"))
    }),

    // Prometheus remote READ end-to-end (round 9): a fixed sample set
    // through the real engine, then the full wire path - encode a
    // two-query ReadRequest (EQ matchers; regex name + NEQ), snappy-frame
    // it, decode, evaluate readRaw per query (inclusive ms bounds), encode
    // the ReadResponse, decode it back - so codec AND evaluation are both
    // under the oracle. Hand-written expected rows.
    query("rr1_remote_read",
      // Hand-written expected rows for the fixed remote-read request: query 0
      // = EQ name + EQ instance over [1000, 2000] inclusive; query 1 = regex
      // name + NEQ instance (absent label matches !=) over [0, 5000].
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), 'http_requests_total', 'instance=i1,job=api',
        |   CAST(1000 AS BIGINT), CAST(1.5 AS DOUBLE)),
        |  (CAST(0 AS BIGINT), 'http_requests_total', 'instance=i1,job=api',
        |   CAST(2000 AS BIGINT), CAST(2.25 AS DOUBLE)),
        |  (CAST(1 AS BIGINT), 'cpu_seconds', 'job=api,zone=eu-west-π',
        |   CAST(1500 AS BIGINT), CAST(-3.75 AS DOUBLE)),
        |  (CAST(1 AS BIGINT), 'http_requests_total', 'instance=i2,job=api',
        |   CAST(1500 AS BIGINT), CAST(9.0 AS DOUBLE))
        |) AS t(query_idx, name, series_labels, ts_ms, value)""".stripMargin)((s, dir) => {
      import graft.streaming.RemoteRead
      val eng = cachedServingEngine("rr1") {
        import graft.streaming.MetricStreamIngest
        import graft.metric.Sample
        val root = java.nio.file.Files
          .createTempDirectory("graft-rr1").toString
        val e = new graft.metric.MetricEngine(s, root)
        MetricStreamIngest.ingestDecoded(e, s, Seq(
          Sample("http_requests_total", Map("instance" -> "i1", "job" -> "api"),
            1000L, 1.5),
          Sample("http_requests_total", Map("instance" -> "i1", "job" -> "api"),
            2000L, 2.25),
          Sample("http_requests_total", Map("instance" -> "i2", "job" -> "api"),
            1500L, 9.0),
          Sample("cpu_seconds", Map("job" -> "api", "zone" -> "eu-west-π"),
            1500L, -3.75)))
        e
      }
      val req = org.xerial.snappy.Snappy.compress(RemoteRead.encodeRequest(Seq(
        RemoteRead.Query(1000L, 2000L, Seq(
          RemoteRead.Matcher(0, "__name__", "http_requests_total"),
          RemoteRead.Matcher(0, "instance", "i1"))),
        RemoteRead.Query(0L, 5000L, Seq(
          RemoteRead.Matcher(2, "__name__", ".+"),
          RemoteRead.Matcher(1, "instance", "i1"))))))
      val results = RemoteRead.decodeRequest(req).map { q =>
        val ms = q.matchers.map(RemoteRead.toPromQLMatcher)
        RemoteRead.seriesFromRows(
          eng.readRaw(ms, graft.storage.TimeRange(q.startMs, q.endMs + 1))
            .collect().map(r => (r.getAs[String]("series_key"),
              r.getAs[Long]("ts_ms"), r.getAs[Double]("value"))).toSeq,
          graft.metric.MetricEngine.parseSeriesKey)
      }
      val decoded = RemoteRead.decodeResponse(
        org.xerial.snappy.Snappy.compress(RemoteRead.encodeResponse(results)))
      import s.implicits._
      decoded.zipWithIndex.flatMap { case (seriesList, qi) =>
        seriesList.flatMap { ser =>
          val name = ser.labels.toMap.getOrElse("__name__", "")
          val rest = ser.labels.filter(_._1 != "__name__")
            .map { case (k, v) => s"$k=$v" }.mkString(",")
          ser.samples.map { case (ts, v) => (qi.toLong, name, rest, ts, v) }
        }
      }.toDF("query_idx", "name", "series_labels", "ts_ms", "value")
    }),

    // Distributed series-matcher walk (round 12): readRaw with an
    // index-exact positive regex + a residual !~ matcher (absent label
    // matches) — the series dictionary is matched on the EXECUTORS
    // (MetricEngine.matchedSeriesFrame: index semi-joins + a filter over
    // the decoded series_key), never collected to the driver.
    // Hand-written expected rows.
    query("rr2_series_matchers",
      // Hand-written expected rows for the fixed matcher walk: path=~"/(a|c)"
      // keeps /a and /c series; dc!~"w.*" drops dc=west and KEEPS the
      // dc-absent series (absent label = "" in Prometheus semantics).
      """SELECT * FROM (VALUES
        |  ('web_hits', 'dc=east,path=/a', CAST(1000 AS BIGINT),
        |   CAST(1.0 AS DOUBLE)),
        |  ('web_hits', 'path=/a', CAST(1000 AS BIGINT),
        |   CAST(3.0 AS DOUBLE)),
        |  ('web_hits', 'dc=east,path=/c,tier=gold', CAST(1000 AS BIGINT),
        |   CAST(4.0 AS DOUBLE))
        |) AS t(name, series_labels, ts_ms, value)""".stripMargin)((s, dir) => {
      import graft.promql.{LabelMatcher, MatchOp}
      val eng = cachedServingEngine("rr2") {
        import graft.streaming.MetricStreamIngest
        import graft.metric.Sample
        val root = java.nio.file.Files
          .createTempDirectory("graft-rr2").toString
        val e = new graft.metric.MetricEngine(s, root)
        MetricStreamIngest.ingestDecoded(e, s, Seq(
          Sample("web_hits", Map("path" -> "/a", "dc" -> "east"), 1000L, 1.0),
          Sample("web_hits", Map("path" -> "/b", "dc" -> "west"), 1000L, 2.0),
          Sample("web_hits", Map("path" -> "/a"), 1000L, 3.0),
          Sample("web_hits",
            Map("path" -> "/c", "dc" -> "east", "tier" -> "gold"), 1000L, 4.0),
          Sample("other_metric", Map("path" -> "/a"), 1000L, 9.0)))
        e
      }
      val ms = Seq(
        LabelMatcher("__name__", MatchOp.Eq, "web_hits"),
        LabelMatcher("path", MatchOp.Re, "/(a|c)"),
        LabelMatcher("dc", MatchOp.Nre, "w.*"))
      import s.implicits._
      eng.readRaw(ms, graft.storage.TimeRange(0L, 5000L))
        .collect().toSeq.map { r =>
          val (name, labels) = graft.metric.MetricEngine.parseSeriesKey(
            r.getAs[String]("series_key"))
          (name,
            labels.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(","),
            r.getAs[Long]("ts_ms"), r.getAs[Double]("value"))
        }.toDF("name", "series_labels", "ts_ms", "value")
    }),

    // OTLP/HTTP ingest codec (round 9, POST /v1/metrics): a fixed
    // ExportMetricsServiceRequest (resource attrs + gauge + int-valued
    // sum, gzip-framed) decoded to engine samples — name/label
    // sanitization, attr precedence, and ns->ms truncation under the
    // oracle. Hand-written expected rows.
    query("otlp1_ingest",
      // Hand-written expected rows for the fixed OTLP request (sanitized
      // names/labels, point attr wins over resource attr, ns -> ms).
      """SELECT * FROM (VALUES
        |  ('http_server_duration', 'code=200,host=h1,service_name=api',
        |   CAST(1723680000000 AS BIGINT), CAST(1.5 AS DOUBLE)),
        |  ('http_server_duration', 'host=h2,service_name=api',
        |   CAST(1723680001000 AS BIGINT), CAST(2.5 AS DOUBLE)),
        |  ('requests_total', 'host=h1,service_name=api',
        |   CAST(1723680002000 AS BIGINT), CAST(42.0 AS DOUBLE))
        |) AS t(name, labels, ts_ms, value)""".stripMargin)((s, dir) => {
      import graft.streaming.Otlp
      val body = Otlp.encode(
        resourceAttrs = Map("service.name" -> "api", "host" -> "h1"),
        metrics = Seq(
          Otlp.MetricSpec("http.server.duration", Seq(
            Otlp.Point(Map("code" -> "200"), 1723680000000000000L, 1.5),
            Otlp.Point(Map("host" -> "h2"), 1723680001000000000L, 2.5))),
          Otlp.MetricSpec("requests.total", Seq(
            Otlp.Point(Map.empty, 1723680002000000000L, 42.0, asInt = true)),
            sum = true)))
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(body); gz.close()
      val decoded = Otlp.decode(Otlp.unframe(bos.toByteArray))
      def lj(m: Map[String, String]): String =
        m.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")
      import s.implicits._
      decoded.map(x => (x.name, lj(x.labels), x.timestamp, x.value))
        .toDF("name", "labels", "ts_ms", "value")
    }),

    // OTLP NATIVE histograms (round 12): a mixed gauge + exponential-
    // histogram payload through the full OTLP wire path (encode → decode →
    // ingest), then histogram_quantile over the stored native buckets.
    // OTLP scale 0 = Prometheus schema 0; OTLP bucket i at offset covers
    // (2^(offset+i), 2^(offset+i+1)] → Prometheus index offset+i+1. The
    // oracle replays the bucket walk (rank = φ·count, linear interpolation
    // in the located bucket) over the hand-translated bounds in SQL.
    query("otlp2_native_hist",
      // Replay of the OTLP exponential-bucket quantile: bounds hand-
      // translated from (scale 0, offset, dense counts) to (lo, hi] pairs
      // — h1: zero [0, 0.001] cnt 2, (1,2] cnt 3, (2,4] cnt 5 of 10;
      // h2: (4,8] cnt 4 of 4 — then the standard cumulative walk with
      // linear interpolation, per (host, phi).
      """WITH buckets(host, ord, lo, hi, cnt) AS (VALUES
        |    ('h1', 0, 0.0, 0.001, CAST(2 AS DOUBLE)),
        |    ('h1', 1, 1.0, 2.0, CAST(3 AS DOUBLE)),
        |    ('h1', 2, 2.0, 4.0, CAST(5 AS DOUBLE)),
        |    ('h2', 2, 4.0, 8.0, CAST(4 AS DOUBLE))),
        |  totals(host, total) AS (VALUES
        |    ('h1', CAST(10 AS DOUBLE)), ('h2', CAST(4 AS DOUBLE))),
        |  phis(phi) AS (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE))),
        |  walk AS (
        |    SELECT b.host, p.phi, b.lo, b.hi, b.cnt,
        |      sum(b.cnt) OVER (PARTITION BY b.host, p.phi ORDER BY b.ord)
        |        - b.cnt AS cum_before,
        |      p.phi * t.total AS rk
        |    FROM buckets b JOIN totals t USING (host) CROSS JOIN phis p),
        |  pick AS (
        |    SELECT host, phi,
        |      lo + (hi - lo) * ((rk - cum_before) / cnt) AS value,
        |      row_number() OVER (PARTITION BY host, phi
        |        ORDER BY cum_before) AS rn
        |    FROM walk WHERE cnt > 0 AND cum_before + cnt >= rk)
        |SELECT host, phi, value FROM pick WHERE rn = 1""".stripMargin)((s, dir) => {
      val eng = cachedServingEngine("otlp2") {
        import graft.streaming.{MetricStreamIngest, Otlp}
        val root = java.nio.file.Files
          .createTempDirectory("graft-otlp2").toString
        val e = new graft.metric.MetricEngine(s, root)
        val ts = 1723680000000000000L
        val body = Otlp.encode(Map("service.name" -> "api"), Seq(
          Otlp.MetricSpec("up", Seq(Otlp.Point(Map.empty, ts, 1.0))),
          Otlp.MetricSpec("rpc.lat", Nil, expPoints = Seq(
            Otlp.ExpHistPoint(Map("host" -> "h1"), ts, count = 10,
              sum = 20.0, scale = 0, zeroCount = 2, posOffset = 0,
              posCounts = Seq(3, 5), zeroThreshold = 0.001),
            Otlp.ExpHistPoint(Map("host" -> "h2"), ts, count = 4,
              sum = 9.0, scale = 0, zeroCount = 0, posOffset = 2,
              posCounts = Seq(4))))))
        val d = Otlp.decodeAll(Otlp.unframe(body))
        MetricStreamIngest.ingestDecoded(e, s, d.samples)
        MetricStreamIngest.ingestHistograms(e, s, d.histograms)
        e
      }
      eng.histogramQuantile("rpc_lat", Seq(0.5, 0.9),
          graft.storage.TimeRange(Long.MinValue, Long.MaxValue))
        .select(
          element_at(graft.metric.MetricEngine.seriesLabelsColumn(
            col("series_key")), "host").as("host"),
          col("phi"), col("value"))
    }),

    // OTLP SUMMARY ingest (round 12): summary data points translate to
    // the classic <name>_sum / <name>_count / <name>{quantile="q"}
    // series triple (the standard OTLP→Prometheus mapping; quantile
    // labels render Go-style, "0.99"), then a PromQL selector reads the
    // quantile series back through the engine. Hand-written rows.
    query("otlp3_summary",
      // Hand-written rows for the fixed OTLP summary payload: the q=0.99
      // values per host plus the _sum series.
      """SELECT * FROM (VALUES
        |  ('q99', 'h1', CAST(7.25 AS DOUBLE)),
        |  ('q99', 'h2', CAST(3.5 AS DOUBLE)),
        |  ('sum', 'h1', CAST(42.5 AS DOUBLE)),
        |  ('sum', 'h2', CAST(9.0 AS DOUBLE))
        |) AS t(kind, host, value)""".stripMargin)((s, dir) => {
      val eng = cachedServingEngine("otlp3") {
        import graft.streaming.{MetricStreamIngest, Otlp}
        val root = java.nio.file.Files
          .createTempDirectory("graft-otlp3").toString
        val e = new graft.metric.MetricEngine(s, root)
        val ts = 1723680000000000000L
        val d = Otlp.decodeAll(Otlp.encode(Map("service.name" -> "api"), Seq(
          Otlp.MetricSpec("rpc.lat", Nil, summaryPoints = Seq(
            Otlp.SummaryPoint(Map("host" -> "h1"), ts, count = 10,
              sum = 42.5, quantiles = Seq((0.5, 1.5), (0.99, 7.25))),
            Otlp.SummaryPoint(Map("host" -> "h2"), ts, count = 4,
              sum = 9.0, quantiles = Seq((0.5, 2.0), (0.99, 3.5))))))))
        MetricStreamIngest.ingestDecoded(e, s, d.samples)
        e
      }
      // ONE labeled instant-evaluator pass for both selectors: a combined
      // anchored name-regex selector reads both metrics, and per-series
      // newest-sample semantics are per series, so one filter on
      // (__name__, quantile) keeps exactly the rows each separate selector
      // would (rpc_lat{quantile="0.99"} filters a fixed series label;
      // rpc_lat_sum carries no quantile label, decoded as "") and one
      // projection tags them.
      eng.instantPromQLLabeled(
          """{__name__=~"rpc_lat|rpc_lat_sum"}""", 1723680000000L)
        .filter((col("__name__") === "rpc_lat" && col("quantile") === "0.99") ||
          col("__name__") === "rpc_lat_sum")
        .select(
          when(col("__name__") === "rpc_lat_sum", "sum").otherwise("q99").as("kind"),
          col("host"), col("value"))
    }),

    // Federation snapshot (round 9, GET /federate's engine): newest sample
    // per matching series within the lookback anchored at a FIXED nowMs -
    // cpu{host=a} has two samples (newest wins), up's only sample is
    // outside the lookback (stale, absent). Hand-written oracle rows.
    query("fed1_federate",
      // Federation at nowMs=100000 lookback=90000 -> window (10000, 100000]:
      // cpu{host=a} newest of two samples, cpu{host=b} sole sample, up stale.
      """SELECT * FROM (VALUES
        |  ('cpu', 'host=a', CAST(60000 AS BIGINT), CAST(2.5 AS DOUBLE)),
        |  ('cpu', 'host=b', CAST(55000 AS BIGINT), CAST(5.0 AS DOUBLE))
        |) AS t(name, series_labels, ts_ms, value)""".stripMargin)((s, dir) => {
      val eng = cachedServingEngine("fed1") {
        import graft.streaming.MetricStreamIngest
        import graft.metric.Sample
        val root = java.nio.file.Files
          .createTempDirectory("graft-fed1").toString
        val e = new graft.metric.MetricEngine(s, root)
        MetricStreamIngest.ingestDecoded(e, s, Seq(
          Sample("cpu", Map("host" -> "a"), 20000L, 1.0),
          Sample("cpu", Map("host" -> "a"), 60000L, 2.5),
          Sample("cpu", Map("host" -> "b"), 55000L, 5.0),
          Sample("up", Map.empty, 5000L, 1.0)))
        e
      }
      val out = eng.federate("""{__name__=~".+"}""",
        nowMs = 100000L, lookbackMs = 90000L) // window (10000, 100000]
      val skName = substring_index(col("series_key"), "\u0001", 1)
      val skTail = col("series_key").substr(length(skName) + lit(2), lit(1 << 20))
      out.select(skName.as("name"),
        translate(skTail, "\u0001\u0002", ",=").as("series_labels"),
        col("ts_ms"), col("value"))
    }),

    // Spec joins: label filter → TSID semi-join (RFC two-step lookup shape).
    query("j1_label_semijoin",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer
        |                    WHERE c_mktsegment = 'BUILDING')""".stripMargin)((s, dir) => {
      val bld = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      t(s, dir, "orders")
        .join(broadcast(bld), col("o_custkey") === col("c_custkey"), "left_semi")
        .select("o_orderkey", "o_custkey", "o_totalprice")
    }),

    // Anti-joined against a DATE SLICE of orders (customers with no 1995
    // order) so the expected result is non-empty at every test scale
    // factor — an all-orders anti-join returns 0 rows here (every
    // customer has an order), which would also "pass" for an engine that
    // returns empty for everything.
    query("j2_anti",
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
        |                        WHERE o_orderdate < TIMESTAMP '1996-01-01')""".stripMargin)((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders")
            .filter(col("o_orderdate") < lit("1996-01-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")),

    // Range join (the time-series interval join Spark lacks): per-user
    // ordered event pairs within 1 hour via the bucketized equi-join — a
    // raw theta join would plan nested-loop all-pairs. Aggregated per user
    // so the oracle compares gap statistics, not O(pairs) rows.
    query("rj1_range_pairs",
      // Brute-force theta self-join replay of the bucketized range join.
      """WITH e AS (SELECT user_id, epoch_ms(ts::TIMESTAMP) AS tms, event_id
        |  FROM events)
        |SELECT a.user_id, count(*) AS n_pairs,
        |  min(b.tms - a.tms) AS min_gap_ms, max(b.tms - a.tms) AS max_gap_ms
        |FROM e a JOIN e b ON a.user_id = b.user_id
        |  AND b.tms - a.tms >= 0 AND b.tms - a.tms <= 3600000
        |  AND (a.tms < b.tms OR (a.tms = b.tms AND a.event_id < b.event_id))
        |GROUP BY a.user_id""".stripMargin)((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), tsMs.as("tms"), col("event_id"))
      graft.operators.RangeJoin
        .selfWithinDelta(ev, Seq("user_id"), "tms", "event_id", delta = 3600000L)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
          min(col("r_t") - col("l_t")).as("min_gap_ms"),
          max(col("r_t") - col("l_t")).as("max_gap_ms"))
    }),

    // Multi-label AND = intersection of TSID sets via repeated semi-join.
    query("j3_two_label_and",
      """SELECT DISTINCT user_id FROM events
        |WHERE event_type = 'error'
        |  AND user_id IN (SELECT user_id FROM events
        |                  WHERE event_type = 'purchase')""".stripMargin)((s, dir) => {
      val ev = t(s, dir, "events")
      val purchasers = ev.filter(col("event_type") === "purchase")
        .select("user_id").distinct()
      ev.filter(col("event_type") === "error").select("user_id").distinct()
        .join(broadcast(purchasers), Seq("user_id"), "left_semi")
    }),

    // RFC two-step read: label lookup (distinct series) → data semi-join → agg.
    query("m1_two_step",
      """WITH tsids AS (SELECT DISTINCT user_id FROM events
        |               WHERE event_type = 'error' AND value > 190)
        |SELECT user_id, count(*) AS n, round(sum(value), 2) AS sum_v
        |FROM events WHERE user_id IN (SELECT user_id FROM tsids)
        |GROUP BY user_id""".stripMargin)((s, dir) => {
      val ev = t(s, dir, "events")
      val tsids = ev.filter(col("event_type") === "error" && col("value") > 190)
        .select("user_id").distinct()
      ev.join(broadcast(tsids), Seq("user_id"), "left_semi")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_v"))
    }),

    // F1: series/metric id population (md5 — portable across engines; the
    // engine-internal path uses xxhash64, see graft.metric).
    query("f1_series_id",
      """SELECT DISTINCT event_type, user_id,
        |  md5(event_type) AS metric_id,
        |  md5(event_type || '|' || CAST(user_id AS VARCHAR)) AS series_key
        |FROM events""".stripMargin)((s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"), col("user_id")).distinct()
        .withColumn("metric_id", md5(col("event_type")))
        .withColumn("series_key",
          md5(concat(col("event_type"), lit("|"), col("user_id").cast("string"))))),

    // T5: TTL expiry — retention filter relative to the newest sample.
    query("ttl1_retention",
      """WITH mx AS (SELECT max(epoch_ms(ts::TIMESTAMP)) AS m FROM events)
        |SELECT count(*) AS n_retained, min(epoch_ms(ts::TIMESTAMP)) AS oldest_ms
        |FROM events, mx WHERE epoch_ms(ts::TIMESTAMP) >= m - 604800000""".stripMargin)((s, dir) => {
      val ev = t(s, dir, "events").withColumn("tms", tsMs)
      val mx = ev.agg(max("tms").as("mx"))
      ev.crossJoin(broadcast(mx))
        .filter(col("tms") >= col("mx") - lit(604800000L))
        .agg(count(lit(1)).as("n_retained"), min("tms").as("oldest_ms"))
    }),

    // O3/§2.7: set op — distinct union of two label selections.
    query("set1_union",
      """SELECT user_id FROM events WHERE event_type = 'click'
        |UNION
        |SELECT user_id FROM events WHERE event_type = 'error'""".stripMargin)((s, dir) => {
      val ev = t(s, dir, "events")
      ev.filter(col("event_type") === "click").select("user_id")
        .union(ev.filter(col("event_type") === "error").select("user_id"))
        .distinct()
    }),

    // §2.7: intersect — users who both clicked AND errored. Plans as a
    // left-semi hash join on the distinct sides (one shuffle per side).
    query("set2_intersect",
      """SELECT user_id FROM events WHERE event_type = 'click'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'error'""".stripMargin)((s, dir) => {
      val ev = t(s, dir, "events")
      ev.filter(col("event_type") === "click").select("user_id")
        .intersect(ev.filter(col("event_type") === "error").select("user_id"))
    }),

    // §2.7: except — (user, day) pairs with a click but no error that day
    // (left-anti shape; day granularity keeps the result non-degenerate:
    // every user eventually hits every event type over the full timeline).
    query("set3_except",
      """SELECT user_id,
        |  CAST(floor(epoch_ms(ts::TIMESTAMP) / 86400000) AS BIGINT) AS day
        |FROM events WHERE event_type = 'click'
        |EXCEPT
        |SELECT user_id,
        |  CAST(floor(epoch_ms(ts::TIMESTAMP) / 86400000) AS BIGINT) AS day
        |FROM events WHERE event_type = 'error'""".stripMargin)((s, dir) => {
      val ev = t(s, dir, "events")
      val day = floor(tsMs / lit(86400000L)).cast("long").as("day")
      ev.filter(col("event_type") === "click").select(col("user_id"), day)
        .except(ev.filter(col("event_type") === "error")
          .select(col("user_id"), day))
    }),

    // TPC-H-ish pricing summary (hash agg with partial aggregation).
    query("q1_pricing",
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |      (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS sum_disc_c4,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin)((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
            .as("sum_disc_c4"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          count(lit(1)).as("count_order"))),

    // 3-way broadcast join + agg.
    query("q3_revenue",
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |      (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_c4
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |  AND o_custkey IN (SELECT c_custkey FROM customer
        |                    WHERE c_mktsegment = 'BUILDING')
        |GROUP BY o_orderkey, o_orderpriority""".stripMargin)((s, dir) => {
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") < to_timestamp(lit("1998-01-01")))
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > to_timestamp(lit("1998-01-01")))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"), "left_semi")
        .groupBy(col("o_orderkey"), col("o_orderpriority"))
        .agg(sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
          .as("revenue_c4"))
    }),

    // 5-way join through the region→nation→customer→orders→lineitem chain.
    query("q5_regional",
      """SELECT r_name, n_name,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |      (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_c4
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY r_name, n_name""".stripMargin)((s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
                col("o_orderdate") < to_timestamp(lit("1997-01-01")))
      val joined = li
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      joined.groupBy("r_name", "n_name")
        .agg(sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
          .as("revenue_c4"))
    }),

    // Window top-k per group (beyond-reference analytic op).
    query("w1_top_orders",
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk
        |  FROM orders) WHERE rk <= 3""".stripMargin)((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rk", row_number().over(w).cast("long")).filter(col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    }),

    // Running (prefix) aggregation window.
    query("w2_running_sum",
      """SELECT event_id, user_id,
        |  round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running
        |FROM events""".stripMargin)((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          round(sum("value").over(w), 2).as("running"))
    }),

    // Dedup: exact content-hash groups.
    query("d1_exact_groups",
      """SELECT md5(text) AS content_key, min(doc_id) AS keeper_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY content_key""".stripMargin)((s, dir) =>
      Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")),

    // Dedup: MinHash signatures (4 hashes).
    query("d2_minhash_sig",
      """SELECT doc_id,
        |  min(md5('0|' || t)) AS mh0, min(md5('1|' || t)) AS mh1,
        |  min(md5('2|' || t)) AS mh2, min(md5('3|' || t)) AS mh3
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
        |GROUP BY doc_id""".stripMargin)((s, dir) =>
      Dedup.minhashSignature(t(s, dir, "documents"), "doc_id", "text", numHashes = 4)),

    // Dedup: LSH candidate pairs (8 hashes, 4 bands × 2).
    query("d3_lsh_pairs",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |sig AS (SELECT doc_id,
        |  min(md5('0|' || t)) AS mh0, min(md5('1|' || t)) AS mh1,
        |  min(md5('2|' || t)) AS mh2, min(md5('3|' || t)) AS mh3,
        |  min(md5('4|' || t)) AS mh4, min(md5('5|' || t)) AS mh5,
        |  min(md5('6|' || t)) AS mh6, min(md5('7|' || t)) AS mh7
        |  FROM tok GROUP BY doc_id),
        |bands AS (
        |  SELECT 0 AS band, mh0 || '|' || mh1 AS band_key, doc_id FROM sig
        |  UNION ALL SELECT 1, mh2 || '|' || mh3, doc_id FROM sig
        |  UNION ALL SELECT 2, mh4 || '|' || mh5, doc_id FROM sig
        |  UNION ALL SELECT 3, mh6 || '|' || mh7, doc_id FROM sig)
        |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM bands a JOIN bands b USING (band, band_key)
        |WHERE a.doc_id < b.doc_id""".stripMargin)((s, dir) =>
      Dedup.lshCandidatePairs(
        Dedup.minhashSignature(t(s, dir, "documents"), "doc_id", "text", 8),
        "doc_id", numHashes = 8, bandSize = 2)),

    // Dedup: 16-bit SimHash signatures.
    query("d4_simhash16",
      """WITH tok AS (SELECT doc_id, md5(t) AS h
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)),
        |votes AS (SELECT doc_id, j,
        |    sum(CASE WHEN substr(h, CAST(j AS INTEGER) + 1, 1)
        |             IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END) AS v
        |  FROM tok CROSS JOIN generate_series(0, 15) AS g(j)
        |  GROUP BY doc_id, j)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN v > 0 THEN CAST(2 ** j AS BIGINT) ELSE 0 END) AS BIGINT)
        |    AS simhash16
        |FROM votes GROUP BY doc_id""".stripMargin)((s, dir) =>
      Dedup.simhash16(t(s, dir, "documents"), "doc_id", "text")),

    // SimHash near-dup PAIRS via banded hamming LSH (pigeonhole-complete
    // for dist < bands), exact popcount verify — never all-pairs.
    query("d7_simhash_pairs",
      """WITH tok AS (SELECT doc_id, md5(t) AS h
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)),
        |votes AS (SELECT doc_id, j,
        |    sum(CASE WHEN substr(h, CAST(j AS INTEGER) + 1, 1)
        |             IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END) AS v
        |  FROM tok CROSS JOIN generate_series(0, 15) AS g(j)
        |  GROUP BY doc_id, j),
        |sig AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN v > 0 THEN CAST(2 ** j AS BIGINT) ELSE 0 END) AS BIGINT)
        |      AS sh
        |  FROM votes GROUP BY doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS dist
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 1""".stripMargin)((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
        maxDist = 1, bands = 2)),

    // Dedup: 64-bit SimHash near-dup pairs (the 100 TB signature width) —
    // banded hamming LSH, 8 bands of 8 bits, pigeonhole-complete for
    // dist <= 7. The oracle recomputes signatures lane-by-lane in SQL and
    // takes brute-force all-pairs popcount, so the hash only matches if
    // the banded join found EVERY qualifying pair.
    query("d8_simhash64_pairs",
      """WITH tok AS (SELECT doc_id, md5(t) AS h0, md5('1' || t) AS h1
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)),
        |votes AS (SELECT doc_id, b,
        |    sum(CASE WHEN substr(CASE WHEN b < 32 THEN h0 ELSE h1 END,
        |                         CAST(b % 32 AS INTEGER) + 1, 1)
        |             IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END) AS v
        |  FROM tok CROSS JOIN generate_series(0, 63) AS g(b)
        |  GROUP BY doc_id, b),
        |sig AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN v <= 0 THEN 0
        |             WHEN b = 63 THEN CAST(-9223372036854775808 AS BIGINT)
        |             ELSE (1::BIGINT << CAST(b AS INTEGER)) END) AS BIGINT) AS sh
        |  FROM votes GROUP BY doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS dist
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 7""".stripMargin)((s, dir) =>
      Dedup.simhashPairs64(t(s, dir, "documents"), "doc_id", "text",
        maxDist = 7, bands = 8)),

    // Dedup: SimHash near-dup pairs via Manku COMBINATION banding
    // (WWW'07) — keys are r = blocks−maxDist concatenated blocks over
    // C(8,5)=56 tables of 40-bit keys, the corpus-scale alternative to
    // d8's 8-bit band keys. Output contract identical (exact popcount
    // ≤ 3); the oracle is the brute-force all-pairs replay, so the hash
    // only matches if the 56-table candidate join found EVERY pair.
    query("d16_simhash_combo_pairs",
      // Same signature replay as d8, brute-force pairs at dist <= 3: the
      // combination-banded Spark side must find exactly these.
      """WITH tok AS (SELECT doc_id, md5(t) AS h0, md5('1' || t) AS h1
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)),
        |votes AS (SELECT doc_id, b,
        |    sum(CASE WHEN substr(CASE WHEN b < 32 THEN h0 ELSE h1 END,
        |                         CAST(b % 32 AS INTEGER) + 1, 1)
        |             IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END) AS v
        |  FROM tok CROSS JOIN generate_series(0, 63) AS g(b)
        |  GROUP BY doc_id, b),
        |sig AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN v <= 0 THEN 0
        |             WHEN b = 63 THEN CAST(-9223372036854775808 AS BIGINT)
        |             ELSE (1::BIGINT << CAST(b AS INTEGER)) END) AS BIGINT) AS sh
        |  FROM votes GROUP BY doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS dist
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 3""".stripMargin)((s, dir) =>
      Dedup.combinationHammingPairs(
        Dedup.simhash64(t(s, dir, "documents"), "doc_id", "text"),
        "doc_id", "simhash64", bits = 64, maxDist = 3, blocks = 8)),

    // Dedup: the corpus-size-driven banding picker (round 14) — ONE API
    // that counts the signature frame and routes below ~10⁶ docs to
    // simple banding (fewest tables), above to d16's Manku combination
    // scheme. Same brute-force oracle as d8/d16: the hash matches only
    // if whichever scheme was picked found EVERY dist<=3 pair.
    query("d17_auto_banding_pairs",
      // The auto-picked banding scheme must find the same brute-force
      // dist<=3 pair set whichever arm the corpus size routes it to.
      """WITH tok AS (SELECT doc_id, md5(t) AS h0, md5('1' || t) AS h1
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)),
        |votes AS (SELECT doc_id, b,
        |    sum(CASE WHEN substr(CASE WHEN b < 32 THEN h0 ELSE h1 END,
        |                         CAST(b % 32 AS INTEGER) + 1, 1)
        |             IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END) AS v
        |  FROM tok CROSS JOIN generate_series(0, 63) AS g(b)
        |  GROUP BY doc_id, b),
        |sig AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN v <= 0 THEN 0
        |             WHEN b = 63 THEN CAST(-9223372036854775808 AS BIGINT)
        |             ELSE (1::BIGINT << CAST(b AS INTEGER)) END) AS BIGINT) AS sh
        |  FROM votes GROUP BY doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS dist
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 3""".stripMargin)((s, dir) =>
      Dedup.autoHammingPairs64(
        Dedup.simhash64(t(s, dir, "documents"), "doc_id", "text"),
        "doc_id", "simhash64", maxDist = 3)),

    // Dedup: line-level boilerplate removal (CCNet/RefinedWeb line-dedup) —
    // 10-token lines whose corpus document-frequency exceeds 2 are dropped,
    // documents reassembled from the survivors in original order.
    query("d9_line_dedup",
      // Line-dedup replay: identical 10-token chunking via ordinal grouping,
      // document-frequency threshold, ordered reassembly.
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |         generate_subscripts(string_split(text, ' '), 1) AS ord
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id, (ord-1)//10 AS line_no,
        |         string_agg(tok, ' ' ORDER BY ord) AS line
        |  FROM toks GROUP BY doc_id, (ord-1)//10),
        |boiler AS (
        |  SELECT line FROM lines GROUP BY line HAVING count(DISTINCT doc_id) > 2)
        |SELECT doc_id, string_agg(line, ' ' ORDER BY line_no) AS clean_text,
        |       count(*) AS n_kept
        |FROM lines WHERE line NOT IN (SELECT line FROM boiler)
        |GROUP BY doc_id""".stripMargin)((s, dir) =>
      Dedup.lineDedup(t(s, dir, "documents"), "doc_id", "text",
        chunkTokens = 10, maxDocFreq = 2)),

    // Dedup: C4-style keep-first line dedup — any line repeated anywhere in
    // the corpus survives only at its globally-first (doc_id, position)
    // occurrence; one shuffle keyed on the line.
    query("d12_keepfirst_lines",
      // Keep-first replay: the globally-first occurrence is row_number = 1
      // ordered by (doc_id, line_no) within each line partition.
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |         generate_subscripts(string_split(text, ' '), 1) AS ord
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id, (ord-1)//10 AS line_no,
        |         string_agg(tok, ' ' ORDER BY ord) AS line
        |  FROM toks GROUP BY doc_id, (ord-1)//10),
        |rn AS (SELECT doc_id, line_no, line,
        |    row_number() OVER (PARTITION BY line ORDER BY doc_id, line_no) AS rn
        |  FROM lines)
        |SELECT doc_id, string_agg(line, ' ' ORDER BY line_no) AS clean_text,
        |       count(*) AS n_kept
        |FROM rn WHERE rn = 1
        |GROUP BY doc_id""".stripMargin)((s, dir) =>
      Dedup.keepFirstLines(t(s, dir, "documents"), "doc_id", "text",
        chunkTokens = 10)),

    // Dedup: exact repeated-span statistics (Lee et al. substring-dedup
    // signal, hash-windows instead of a suffix array) — 40-char windows,
    // first-occurrence rule, per-doc interval union.
    query("d13_repeated_spans",
      """WITH g AS (SELECT doc_id,
        |    unnest(generate_series(1, length(text) - 39)) AS pos, text
        |  FROM documents WHERE length(text) >= 40),
        |h AS (SELECT doc_id, pos,
        |    md5(substr(text, CAST(pos AS INTEGER), 40)) AS h FROM g),
        |rn AS (SELECT doc_id, pos,
        |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        |  FROM h),
        |d AS (SELECT doc_id, pos AS s, pos + 40 AS e FROM rn WHERE rn > 1),
        |m AS (SELECT doc_id, s, e,
        |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id
        |        ORDER BY s, e
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |      THEN 1 ELSE 0 END AS newg
        |  FROM d),
        |grp AS (SELECT doc_id, s, e,
        |    sum(newg) OVER (PARTITION BY doc_id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM m),
        |spans AS (SELECT doc_id, grp, min(s) AS ms, max(e) AS me
        |  FROM grp GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |    CAST(sum(me - ms) AS BIGINT) AS dup_chars FROM spans GROUP BY 1)
        |SELECT dd.doc_id,
        |  CAST(coalesce(a.n_spans, 0) AS BIGINT) AS n_spans,
        |  CAST(coalesce(a.dup_chars, 0) AS BIGINT) AS dup_chars,
        |  CAST(length(dd.text) AS BIGINT) AS n_chars,
        |  round(coalesce(a.dup_chars, 0) / length(dd.text), 4) AS dup_frac
        |FROM documents dd LEFT JOIN agg a USING (doc_id)""".stripMargin)((s, dir) =>
      Dedup.repeatedSpans(t(s, dir, "documents"), "doc_id", "text", k = 40)),

    // Dedup: exact substring dedup, reassembly form — d13's merged spans
    // CUT out of their documents and the survivors stitched back together
    // (the text Lee et al. actually train on; first-occurrence WINDOWS
    // are never marked, though overlapping spans can still clip them —
    // see the cutRepeatedSpans scaladoc).
    query("d18_cut_spans",
      // d13's CTE chain extended one step: the gap segments between merged
      // spans (lag(me) → ms, plus the [max(me), len+1) tail) string_agg back
      // together in order — the reassembled deduplicated text.
      """WITH g AS (SELECT doc_id,
        |    unnest(generate_series(1, length(text) - 39)) AS pos, text
        |  FROM documents WHERE length(text) >= 40),
        |h AS (SELECT doc_id, pos,
        |    md5(substr(text, CAST(pos AS INTEGER), 40)) AS h FROM g),
        |rn AS (SELECT doc_id, pos,
        |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        |  FROM h),
        |d AS (SELECT doc_id, pos AS s, pos + 40 AS e FROM rn WHERE rn > 1),
        |m AS (SELECT doc_id, s, e,
        |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id
        |        ORDER BY s, e
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |      THEN 1 ELSE 0 END AS newg
        |  FROM d),
        |grp AS (SELECT doc_id, s, e,
        |    sum(newg) OVER (PARTITION BY doc_id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM m),
        |spans AS (SELECT doc_id, grp, min(s) AS ms, max(e) AS me
        |  FROM grp GROUP BY 1, 2),
        |segs AS (
        |  SELECT doc_id,
        |    coalesce(lag(me) OVER (PARTITION BY doc_id ORDER BY ms), 1) AS ss,
        |    ms AS se
        |  FROM spans
        |  UNION ALL
        |  SELECT doc_id, max(me) AS ss, NULL AS se FROM spans GROUP BY doc_id),
        |stitched AS (
        |  SELECT s.doc_id,
        |    string_agg(substr(dd.text, CAST(s.ss AS INTEGER),
        |      CAST(coalesce(s.se, length(dd.text) + 1) - s.ss AS INTEGER)),
        |      '' ORDER BY s.ss) AS clean
        |  FROM segs s JOIN documents dd USING (doc_id) GROUP BY s.doc_id),
        |cut AS (SELECT doc_id, CAST(sum(me - ms) AS BIGINT) AS cut_chars
        |  FROM spans GROUP BY doc_id)
        |SELECT dd.doc_id, coalesce(st.clean, dd.text) AS clean_text,
        |  CAST(coalesce(c.cut_chars, 0) AS BIGINT) AS cut_chars
        |FROM documents dd LEFT JOIN stitched st USING (doc_id)
        |  LEFT JOIN cut c USING (doc_id)""".stripMargin)((s, dir) =>
      Dedup.cutRepeatedSpans(t(s, dir, "documents"), "doc_id", "text",
        k = 40)),

    // Dedup: n-gram Jaccard verification over a bounded pair set.
    query("d5_ngram_jaccard",
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 30),
        |sh AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(generate_series(1, greatest(length(text) - 2, 1)),
        |           i -> substr(text, CAST(i AS INTEGER), 3))) AS sh
        |  FROM d),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY id_a, id_b)
        |SELECT id_a, id_b,
        |  round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 4) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b""".stripMargin)((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 30)
      val ids = docs.select(col("doc_id"))
      val pairs = ids.select(col("doc_id").as("id_a"))
        .crossJoin(ids.select(col("doc_id").as("id_b")))
        .filter(col("id_a") < col("id_b"))
      Dedup.ngramJaccard(docs, pairs, "doc_id", "text", n = 3)
    }),

    // Dedup: n-gram CONTAINMENT over the same bounded pair set — one-sided
    // |A∩B|/|A| catches short-in-long embedding that Jaccard dilutes; the
    // three counts come from ONE native gram pass as exact integers.
    query("d10_containment",
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 30),
        |sh AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(generate_series(1, greatest(length(text) - 2, 1)),
        |           i -> substr(text, CAST(i AS INTEGER), 3))) AS sh
        |  FROM d),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(count(*) AS BIGINT) AS n_common
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY id_a, id_b)
        |SELECT id_a, id_b, n_common,
        |  round(CAST(n_common AS DOUBLE) / sa.n, 4) AS contain_a,
        |  round(CAST(n_common AS DOUBLE) / sb.n, 4) AS contain_b,
        |  round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 4) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b""".stripMargin)((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 30)
      val ids = docs.select(col("doc_id"))
      val pairs = ids.select(col("doc_id").as("id_a"))
        .crossJoin(ids.select(col("doc_id").as("id_b")))
        .filter(col("id_a") < col("id_b"))
      Dedup.ngramContainment(docs, pairs, "doc_id", "text", n = 3)
    }),

    // Sketch: deterministic HyperLogLog distinct-count of events.user_id
    // (m=256 registers, md5 bucketing + hex-space leading-zero rank) with
    // the exact count alongside — the cross-engine-verifiable analog of
    // approx_count_distinct; state is 256 rows however large the corpus.
    query("sk1_hll_distinct",
      // Full HLL replay: md5 bucket byte, 13-hex-char leading-zero rank,
      // per-bucket max, α·m²/Σ2^-ρ with linear-counting small-range branch.
      """WITH h AS (SELECT md5(CAST(user_id AS VARCHAR)) AS h FROM events),
        |r AS (SELECT CAST(concat('0x', substr(h, 1, 2)) AS BIGINT) AS bucket,
        |             substr(h, 3, 13) AS sub FROM h),
        |rho AS (SELECT bucket,
        |    CASE WHEN length(regexp_extract(sub, '^0*')) = 13 THEN 53
        |         ELSE length(regexp_extract(sub, '^0*')) * 4 +
        |           CASE substr(sub, length(regexp_extract(sub, '^0*')) + 1, 1)
        |             WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
        |             WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1
        |             WHEN '7' THEN 1 ELSE 0 END + 1 END AS rho
        |  FROM r),
        |reg AS (SELECT bucket, max(rho) AS max_rho FROM rho GROUP BY bucket),
        |agg AS (SELECT count(*) AS n_used, sum(pow(2.0, -max_rho)) AS s FROM reg),
        |est AS (SELECT n_used, 256 - n_used AS n_empty,
        |    (0.7213 / (1 + 1.079 / 256)) * 256 * 256 / (s + (256 - n_used)) AS raw
        |  FROM agg)
        |SELECT CAST(n_used AS BIGINT) AS n_used,
        |  CAST(n_empty AS BIGINT) AS n_empty,
        |  round(CASE WHEN raw <= 640 AND n_empty > 0
        |             THEN 256 * ln(256.0 / n_empty) ELSE raw END, 3) AS estimate,
        |  (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events)
        |    AS exact_distinct
        |FROM est""".stripMargin)((s, dir) =>
      graft.pipeline.Sketches.hllDistinct(
        t(s, dir, "events"), col("user_id"))),

    // Sketch: count-min point queries (d=4 rows × w=32 cells, one
    // increment per event) for every distinct user, next to exact counts —
    // estimates never undercount, overcount only on collision.
    query("sk2_cms_counts",
      """WITH ks AS (SELECT DISTINCT user_id FROM events),
        |cells AS (SELECT i,
        |    CAST(concat('0x', substr(md5(CAST(i AS VARCHAR) || '|' ||
        |      CAST(user_id AS VARCHAR)), 1, 2)) AS BIGINT) % 32 AS pos,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events CROSS JOIN generate_series(0, 3) t(i)
        |  GROUP BY 1, 2),
        |probe AS (SELECT user_id, i,
        |    CAST(concat('0x', substr(md5(CAST(i AS VARCHAR) || '|' ||
        |      CAST(user_id AS VARCHAR)), 1, 2)) AS BIGINT) % 32 AS pos
        |  FROM ks CROSS JOIN generate_series(0, 3) t(i)),
        |est AS (SELECT user_id, min(cnt) AS cms_est
        |  FROM probe JOIN cells USING (i, pos) GROUP BY user_id),
        |exact AS (SELECT user_id, CAST(count(*) AS BIGINT) AS exact_count
        |  FROM events GROUP BY user_id)
        |SELECT user_id, exact_count, cms_est
        |FROM est JOIN exact USING (user_id)""".stripMargin)((s, dir) => {
      val ev = t(s, dir, "events")
      val cells = graft.pipeline.Sketches.cmsCells(ev, col("user_id"))
      val probe = ev.select(col("user_id")).distinct()
      val exact = ev.groupBy("user_id")
        .agg(count(lit(1)).as("exact_count"))
      graft.pipeline.Sketches.cmsEstimate(cells, probe, col("user_id"))
        .select(col("probe_key").cast("long").as("user_id"), col("cms_est"))
        .join(exact, "user_id")
        .select(col("user_id"), col("exact_count"), col("cms_est"))
    }),

    // Sketch: per-group HLL — distinct users per event_type from one
    // map-side-combinable pass over groups×256 registers, exact counts
    // alongside (the bounded-dimension distinct-count at 100 TB).
    query("sk5_hll_by_group",
      """WITH h AS (SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS h
        |  FROM events),
        |r AS (SELECT event_type,
        |    CAST(concat('0x', substr(h, 1, 2)) AS BIGINT) AS bucket,
        |    substr(h, 3, 13) AS sub FROM h),
        |rho AS (SELECT event_type, bucket,
        |    CASE WHEN length(regexp_extract(sub, '^0*')) = 13 THEN 53
        |         ELSE length(regexp_extract(sub, '^0*')) * 4 +
        |           CASE substr(sub, length(regexp_extract(sub, '^0*')) + 1, 1)
        |             WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
        |             WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1
        |             WHEN '7' THEN 1 ELSE 0 END + 1 END AS rho
        |  FROM r),
        |reg AS (SELECT event_type, bucket, max(rho) AS max_rho
        |  FROM rho GROUP BY 1, 2),
        |agg AS (SELECT event_type, count(*) AS n_used,
        |    sum(pow(2.0, -max_rho)) AS s FROM reg GROUP BY 1),
        |est AS (SELECT event_type, n_used, 256 - n_used AS n_empty,
        |    (0.7213 / (1 + 1.079 / 256)) * 256 * 256 / (s + (256 - n_used)) AS raw
        |  FROM agg),
        |ex AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT)
        |    AS exact_distinct FROM events GROUP BY 1)
        |SELECT event_type, CAST(n_used AS BIGINT) AS n_used,
        |  CAST(n_empty AS BIGINT) AS n_empty,
        |  round(CASE WHEN raw <= 640 AND n_empty > 0
        |             THEN 256 * ln(256.0 / n_empty) ELSE raw END, 3) AS estimate,
        |  exact_distinct
        |FROM est JOIN ex USING (event_type)""".stripMargin)((s, dir) => {
      val ev = t(s, dir, "events")
      val est = graft.pipeline.Sketches.hllEstimateBy(
        graft.pipeline.Sketches.hllRegistersBy(ev,
          col("event_type"), col("user_id")))
      val exact = ev.groupBy(col("event_type").as("group"))
        .agg(count_distinct(col("user_id")).as("exact_distinct"))
      est.join(exact, "group")
        .select(col("group").as("event_type"), col("n_used"), col("n_empty"),
          col("estimate"), col("exact_distinct"))
    }),

    // Sketch→verify heavy hitters: count-min candidates (CMS never
    // undercounts, so the candidate set provably CONTAINS every true heavy
    // hitter), then exact counts on the candidates only — the classic
    // two-phase shape whose second pass touches a candidate-bounded key
    // set, never the full distinct domain. The oracle is the plain exact
    // HAVING filter: correctness does not depend on sketch accuracy.
    query("sk6_heavy_hitters",
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY user_id HAVING count(*) >= 80""".stripMargin)((s, dir) => {
      val ev = t(s, dir, "events")
      val cells = graft.pipeline.Sketches.cmsCells(ev, col("user_id"))
      val probe = ev.select(col("user_id")).distinct()
      val cand = graft.pipeline.Sketches
        .cmsEstimate(cells, probe, col("user_id"))
        .filter(col("cms_est") >= 80)
        .select(col("probe_key").cast("long").as("user_id"))
      ev.join(broadcast(cand), Seq("user_id"), "left_semi")
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 80)
    }),

    // Sketch: KMV (bottom-k) distinct sketches per event_type with PAIRWISE
    // union/intersection estimates — the set-algebra sketch HLL cannot
    // provide (registers don't intersect). Exact counts alongside: the
    // estimate column is graded by the oracle replaying the full KMV
    // formula, the exact columns pin the ground truth.
    query("sk8_kmv_intersect",
      // Full KMV replay: identical md5-derived 60-bit hashes, per-group
      // bottom-64 by rank, union sketch = bottom-64 of the merged lists,
      // estimator (k-1)·2^60/u_k with the exact-below-capacity branch.
      """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
        |hs0 AS (SELECT DISTINCT event_type,
        |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS h FROM tu),
        |rk AS (SELECT event_type, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        |  FROM hs0),
        |sk AS (SELECT event_type, list(h ORDER BY h) AS hs
        |  FROM rk WHERE rn <= 64 GROUP BY 1),
        |nd AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS nd
        |  FROM tu GROUP BY 1),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    a.hs AS ha, b.hs AS hb
        |  FROM sk a, sk b WHERE a.event_type < b.event_type),
        |u AS (SELECT type_a, type_b, ha, hb,
        |    list_sort(list_distinct(ha || hb))[1:64] AS hu FROM p),
        |s AS (SELECT type_a, type_b, len(hu) AS un, hu[len(hu)] AS umax,
        |    len(list_filter(hu, x ->
        |      list_contains(ha, x) AND list_contains(hb, x))) AS x
        |  FROM u),
        |est AS (SELECT type_a, type_b,
        |    CASE WHEN un < 64 THEN CAST(un AS DOUBLE)
        |         ELSE 63.0 * 1152921504606846976.0 / CAST(umax AS DOUBLE)
        |    END AS est_union,
        |    (CAST(x AS DOUBLE) / CAST(un AS DOUBLE)) *
        |    CASE WHEN un < 64 THEN CAST(un AS DOUBLE)
        |         ELSE 63.0 * 1152921504606846976.0 / CAST(umax AS DOUBLE)
        |    END AS est_intersect
        |  FROM s),
        |xi AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
        |    CAST(count(*) AS BIGINT) AS exact_intersect
        |  FROM tu x JOIN tu y
        |    ON x.user_id = y.user_id AND x.event_type < y.event_type
        |  GROUP BY 1, 2)
        |SELECT e.type_a, e.type_b, round(e.est_union, 3) AS est_union,
        |  round(e.est_intersect, 3) AS est_intersect,
        |  na.nd + nb.nd - coalesce(xi.exact_intersect, 0) AS exact_union,
        |  coalesce(xi.exact_intersect, 0) AS exact_intersect
        |FROM est e
        |JOIN nd na ON e.type_a = na.event_type
        |JOIN nd nb ON e.type_b = nb.event_type
        |LEFT JOIN xi ON e.type_a = xi.type_a AND e.type_b = xi.type_b""".stripMargin)((s, dir) => {
      val ev = t(s, dir, "events")
      val sk = graft.pipeline.Sketches.kmvSketch(
        ev, col("event_type"), col("user_id"))
      val est = graft.pipeline.Sketches.kmvPairEstimates(sk)
        .select(col("group_a").as("type_a"), col("group_b").as("type_b"),
          col("est_union"), col("est_intersect"))
      val tu = ev.select(col("event_type"), col("user_id")).distinct()
      val nd = tu.groupBy("event_type").agg(count(lit(1)).as("nd"))
      val xi = tu.as("x").join(tu.as("y"),
          col("x.user_id") === col("y.user_id") &&
          col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("type_a"),
          col("y.event_type").as("type_b"))
        .agg(count(lit(1)).as("exact_intersect"))
      est
        .join(nd.select(col("event_type").as("type_a"), col("nd").as("__na__")),
          "type_a")
        .join(nd.select(col("event_type").as("type_b"), col("nd").as("__nb__")),
          "type_b")
        .join(xi, Seq("type_a", "type_b"), "left")
        .select(col("type_a"), col("type_b"),
          round(col("est_union"), 3).as("est_union"),
          round(col("est_intersect"), 3).as("est_intersect"),
          (col("__na__") + col("__nb__") -
            coalesce(col("exact_intersect"), lit(0L))).as("exact_union"),
          coalesce(col("exact_intersect"), lit(0L)).as("exact_intersect"))
    }),

    // Sketch: PER-GROUP quantiles from grouped log-bucket histograms —
    // p50/p99 of value per event_type, state groups × buckets.
    query("sk7_quantiles_by_group",
      """WITH v AS (SELECT event_type, CAST(round(value*100) AS BIGINT) AS v
        |    FROM events WHERE CAST(round(value*100) AS BIGINT) > 0),
        |s AS (SELECT event_type, v,
        |    greatest(length(bin(v)) - 1 - 6, 0) AS s FROM v),
        |h AS (SELECT event_type, (v >> s) << s AS bucket_lo,
        |    CAST(count(*) AS BIGINT) AS cnt FROM s GROUP BY 1, 2),
        |c AS (SELECT event_type, bucket_lo,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket_lo)
        |      AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM h)
        |SELECT event_type, q, round(min(bucket_lo) / 100.0, 4) AS est,
        |  max(n) AS n
        |FROM c CROSS JOIN (SELECT unnest([0.5, 0.99]::DOUBLE[]) AS q) qs
        |WHERE cum >= ceil(q * n)
        |GROUP BY event_type, q""".stripMargin)((s, dir) => {
      val hist = graft.pipeline.Sketches.logHistogramBy(
        t(s, dir, "events"), col("event_type"), col("value"))
      graft.pipeline.Sketches.histQuantilesBy(hist, Seq(0.5, 0.99))
        .select(col("group").as("event_type"), col("q"), col("est"), col("n"))
    }),

    // Sketch: log-bucket quantile histogram (the DDSketch shape with EXACT
    // integer bucketing — top-7-significant-bits masking, no libm): p50/p90/
    // p99 of events.value read from a registers-sized state built in one
    // map-side-combinable pass; each estimate within 2^-6 relative error.
    query("sk3_log_quantiles",
      // Exact replay of the log-bucket quantile sketch: the bucketer is pure
      // integer ops (bin/shift), so the histogram — and therefore every
      // quantile read — is bit-identical, not just approximately equal.
      """WITH v AS (SELECT CAST(round(value*100) AS BIGINT) AS v
        |    FROM events WHERE CAST(round(value*100) AS BIGINT) > 0),
        |s AS (SELECT v, greatest(length(bin(v)) - 1 - 6, 0) AS s FROM v),
        |h AS (SELECT (v >> s) << s AS bucket_lo, CAST(count(*) AS BIGINT) AS cnt
        |  FROM s GROUP BY 1),
        |c AS (SELECT bucket_lo,
        |    CAST(sum(cnt) OVER (ORDER BY bucket_lo) AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER () AS BIGINT) AS n FROM h)
        |SELECT q, round(min(bucket_lo) / 100.0, 4) AS est, max(n) AS n
        |FROM c CROSS JOIN (SELECT unnest([0.5, 0.9, 0.99]::DOUBLE[]) AS q) qs
        |WHERE cum >= ceil(q * n)
        |GROUP BY q""".stripMargin)((s, dir) => {
      val hist = graft.pipeline.Sketches.logHistogram(
        t(s, dir, "events"), col("value"))
      graft.pipeline.Sketches.histQuantiles(hist, Seq(0.5, 0.9, 0.99))
    }),

    // Sketch: Bloom-filter content membership — filter built over the
    // even-doc texts (8192 bits, k=4, packed 32-bit words via bit_or),
    // every document probed; no false negatives by construction,
    // false positives flagged against ground truth.
    query("bf1_bloom_probe",
      """WITH members AS (SELECT text FROM documents WHERE doc_id % 2 = 0),
        |mpos AS (SELECT DISTINCT
        |    CAST(concat('0x', substr(md5(CAST(i AS VARCHAR) || '|' || text),
        |      1, 4)) AS BIGINT) % 8192 AS pos
        |  FROM members CROSS JOIN generate_series(0, 3) t(i)),
        |words AS (SELECT pos // 32 AS word_idx,
        |    bit_or(1::BIGINT << CAST(pos % 32 AS INTEGER)) AS word
        |  FROM mpos GROUP BY 1),
        |ppos AS (SELECT d.doc_id,
        |    CAST(concat('0x', substr(md5(CAST(i AS VARCHAR) || '|' || d.text),
        |      1, 4)) AS BIGINT) % 8192 AS pos
        |  FROM documents d CROSS JOIN generate_series(0, 3) t(i)),
        |probe AS (SELECT doc_id,
        |    bool_and(coalesce(word, 0) & (1::BIGINT << CAST(pos % 32 AS INTEGER))
        |             <> 0) AS maybe_member
        |  FROM ppos LEFT JOIN words ON words.word_idx = ppos.pos // 32
        |  GROUP BY doc_id)
        |SELECT p.doc_id, p.maybe_member,
        |  d.text IN (SELECT text FROM members) AS is_member,
        |  p.maybe_member AND d.text NOT IN (SELECT text FROM members)
        |    AS is_false_positive
        |FROM probe p JOIN documents d ON d.doc_id = p.doc_id""".stripMargin)((s, dir) => {
      val docs = t(s, dir, "documents")
      val members = docs.filter(col("doc_id") % 2 === 0)
      val filter = graft.pipeline.Sketches.bloomBuild(members, col("text"))
      val truth = members.select(col("text")).distinct()
        .withColumn("__m__", lit(true))
      graft.pipeline.Sketches.bloomProbe(filter, docs, "doc_id", col("text"))
        .join(docs.select(col("doc_id"), col("text")), "doc_id")
        .join(truth, Seq("text"), "left")
        .select(col("doc_id"), col("maybe_member"),
          coalesce(col("__m__"), lit(false)).as("is_member"),
          (col("maybe_member") && !coalesce(col("__m__"), lit(false)))
            .as("is_false_positive"))
    }),

    // Dedup endgame: candidate pairs -> connected components -> keeper/drop.
    query("d6_dup_clusters",
      """WITH RECURSIVE d AS (SELECT doc_id, text FROM documents WHERE doc_id < 30),
        |sh AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(generate_series(1, greatest(length(text) - 2, 1)),
        |           i -> substr(text, CAST(i AS INTEGER), 3))) AS sh
        |  FROM d),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY id_a, id_b),
        |pairs AS (
        |  SELECT id_a, id_b FROM inter
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 4) >= 0.35),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach(node, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src)
        |SELECT node AS doc_id, min(r) AS cluster_id,
        |  node = min(r) AS is_keeper
        |FROM reach GROUP BY node""".stripMargin)((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 30)
      val ids = docs.select(col("doc_id"))
      val allPairs = ids.select(col("doc_id").as("id_a"))
        .crossJoin(ids.select(col("doc_id").as("id_b")))
        .filter(col("id_a") < col("id_b"))
      val nearDups = Dedup.ngramJaccard(docs, allPairs, "doc_id", "text", n = 3)
        .filter(col("jaccard") >= 0.35)
        .select("id_a", "id_b")
      Dedup.duplicateClusters(nearDups)
        .select(col("id").as("doc_id"), col("cluster_id"),
          (col("id") === col("cluster_id")).as("is_keeper"))
    }),

    // Similarity: embedding-cosine near-duplicate pairs (bounded subset).
    query("e1_cosine_pairs",
      """SELECT * FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |      (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
        |       sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 4)
        |      AS cos
        |  FROM embeddings a CROSS JOIN embeddings b
        |  WHERE a.vec_id < 100 AND b.vec_id < 100 AND a.vec_id < b.vec_id)
        |WHERE cos >= 0.2""".stripMargin)((s, dir) =>
      Similarity.cosinePairs(
        t(s, dir, "embeddings").filter(col("vec_id") < 100), "vec_id", "embedding",
        threshold = 0.2)),

    // Near-dup pairs over the FULL corpus via LSH bucketing + exact cosine
    // verify — the scale path e1's bounded-candidate contract points to.
    query("e6_lsh_neardup",
      """WITH comp AS (SELECT vec_id,
        |    generate_subscripts(embedding, 1) - 1 AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |dots AS (SELECT vec_id, j, sum(x * (((i * 73 + j * 151 + i * j * 37) % 101) - 50)) AS dot
        |  FROM comp CROSS JOIN generate_series(0, 3) AS g(j)
        |  GROUP BY vec_id, j),
        |bk AS (SELECT vec_id,
        |    CAST(sum(CASE WHEN dot > 0 THEN CAST(2 ** j AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS bucket
        |  FROM dots GROUP BY vec_id),
        |e AS (SELECT b.bucket, x.vec_id, x.embedding
        |  FROM embeddings x JOIN bk b USING (vec_id))
        |SELECT * FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |      (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
        |       sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 4)
        |      AS cos
        |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]) > 0
        |    AND list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]) > 0)
        |WHERE cos >= 0.3""".stripMargin)((s, dir) =>
      Similarity.lshNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        dim = 64, threshold = 0.3)),

    // e6 with TWO independent hyperplane families unioned — the
    // recall-recovery lever for pairs a single family's bucket boundary
    // splits. The oracle replays both families' bucketings and unions, so
    // the hash only matches if the family offsets, the per-family joins,
    // and the cross-family de-dup all line up.
    query("e13_lsh_multifamily",
      // e6's derivation over TWO hyperplane families (absolute plane index
      // jj = family*4 + bit; bit weight 2^(jj%4)), pairs unioned across
      // families and de-duplicated.
      """WITH comp AS (SELECT vec_id,
        |    generate_subscripts(embedding, 1) - 1 AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |dots AS (SELECT vec_id, jj,
        |    sum(x * (((i * 73 + jj * 151 + i * jj * 37) % 101) - 50)) AS dot
        |  FROM comp CROSS JOIN generate_series(0, 7) AS g(jj)
        |  GROUP BY vec_id, jj),
        |bk AS (SELECT vec_id, jj // 4 AS family,
        |    CAST(sum(CASE WHEN dot > 0 THEN CAST(2 ** (jj % 4) AS BIGINT)
        |             ELSE 0 END) AS BIGINT) AS bucket
        |  FROM dots GROUP BY vec_id, jj // 4),
        |e AS (SELECT b.family, b.bucket, x.vec_id, x.embedding
        |  FROM embeddings x JOIN bk b USING (vec_id))
        |SELECT DISTINCT * FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |      (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
        |       sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 4)
        |      AS cos
        |  FROM e a JOIN e b ON a.family = b.family AND a.bucket = b.bucket
        |    AND a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]) > 0
        |    AND list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]) > 0)
        |WHERE cos >= 0.3""".stripMargin)((s, dir) =>
      Similarity.lshNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        dim = 64, threshold = 0.3, bits = 4, families = 2)),

    // The corpus-proportional code-length arm (bits = -1, round 14): the
    // deploy-time sizing for unknown corpora. The picked bits depend on
    // the corpus count in general, but autoLshBits is deterministic and
    // resolves to 4 at BOTH verify scales (500 and 2000 vectors are under
    // the 250-occupancy knee, so the lower clamp wins) — so the oracle
    // replays the two-family 4-bit bucketing exactly like e13, and the
    // bench 10× lane still measures the auto arm's scaling (at 10× it
    // picks longer codes; fixed bits go n²/2^bits).
    query("e15_lsh_neardup_auto",
      // The auto-bits arm replayed at the bits the sizing deterministically
      // picks at fixture scale: autoLshBits(n) = 4 for every n ≤ 4000 (the
      // lower clamp), so the two-family 4-bit derivation is EXACTLY e13's —
      // same plane indices jj = family*4 + bit, same union + de-dup. A
      // corpus big enough to pick different bits would need a different
      // replay; at verify scale this one is exact.
      """WITH comp AS (SELECT vec_id,
        |    generate_subscripts(embedding, 1) - 1 AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |dots AS (SELECT vec_id, jj,
        |    sum(x * (((i * 73 + jj * 151 + i * jj * 37) % 101) - 50)) AS dot
        |  FROM comp CROSS JOIN generate_series(0, 7) AS g(jj)
        |  GROUP BY vec_id, jj),
        |bk AS (SELECT vec_id, jj // 4 AS family,
        |    CAST(sum(CASE WHEN dot > 0 THEN CAST(2 ** (jj % 4) AS BIGINT)
        |             ELSE 0 END) AS BIGINT) AS bucket
        |  FROM dots GROUP BY vec_id, jj // 4),
        |e AS (SELECT b.family, b.bucket, x.vec_id, x.embedding
        |  FROM embeddings x JOIN bk b USING (vec_id))
        |SELECT DISTINCT * FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |      (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
        |       sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 4)
        |      AS cos
        |  FROM e a JOIN e b ON a.family = b.family AND a.bucket = b.bucket
        |    AND a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]) > 0
        |    AND list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]) > 0)
        |WHERE cos >= 0.3""".stripMargin)((s, dir) =>
      Similarity.lshNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        dim = 64, threshold = 0.3, bits = -1, families = 2)),

    // Symmetric int8 quantization: one row per (vector, dimension) + scale.
    query("e7_quantize",
      """WITH e AS (SELECT vec_id,
        |    generate_subscripts(embedding, 1) - 1 AS pos,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |s AS (SELECT vec_id, max(abs(x)) AS scale FROM e GROUP BY vec_id)
        |SELECT e.vec_id, CAST(pos AS BIGINT) AS pos,
        |  CAST(CASE WHEN scale = 0 THEN 0
        |            ELSE round(x / scale * 127) END AS BIGINT) AS q,
        |  round(scale, 6) AS scale
        |FROM e JOIN s USING (vec_id)""".stripMargin)((s, dir) =>
      Similarity.quantizeInt8(t(s, dir, "embeddings"), "vec_id", "embedding")),

    // ANN over the int8-QUANTIZED corpus (asymmetric distance: float query
    // vs 4×-smaller codes) — exact top-3 ranking against quantized vectors.
    query("e8_quantized_ann",
      // Codes built as ordered lists so list_dot_product matches the Spark
      // side's left-to-right double accumulation exactly (grouped sums would
      // reorder the addition).
      """WITH c AS (SELECT vec_id,
        |    list_transform(embedding, x -> CASE
        |      WHEN list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) = 0
        |        THEN 0.0
        |      ELSE round(CAST(x AS DOUBLE) /
        |        list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) * 127)
        |      END) AS codes
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_dot_product(q.embedding::DOUBLE[], c.codes) /
        |      (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
        |       sqrt(list_dot_product(c.codes, c.codes))), 6) AS qcos
        |  FROM embeddings q CROSS JOIN c
        |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
        |    AND list_dot_product(c.codes, c.codes) > 0
        |    AND list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]) > 0)
        |SELECT query_id, neighbor_id, qcos, rank FROM (
        |  SELECT query_id, neighbor_id, qcos,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY qcos DESC, neighbor_id) AS BIGINT) AS rank
        |  FROM scored) WHERE rank <= 3""".stripMargin)((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.quantizedTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 3)
    }),

    // Similarity: brute-force exact top-3 neighbors for 10 query vectors.
    query("e2_knn_top3",
      """WITH scored AS (
        |  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
        |    round(list_dot_product(q.embedding::DOUBLE[], v.embedding::DOUBLE[]) /
        |      (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
        |       sqrt(list_dot_product(v.embedding::DOUBLE[], v.embedding::DOUBLE[]))), 6)
        |      AS cos
        |  FROM embeddings q CROSS JOIN embeddings v
        |  WHERE q.vec_id < 10 AND v.vec_id <> q.vec_id)
        |SELECT query_id, neighbor_id, cos, rank FROM (
        |  SELECT query_id, neighbor_id, cos,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |  FROM scored) WHERE rank <= 3""".stripMargin)((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 3)
        .select(col("query_id"), col("neighbor_id"), col("cos"),
          col("rank").cast("long").as("rank"))
    }),

    // Bucketed ANN top-k over TWO LSH families: candidates restricted to
    // either family's bucket, deduped, exact-cosine ranked. The oracle
    // replays both bucketings + the rank in SQL, so the hash only matches
    // if family offsets, candidate union, dedupe, and tiebreaks all agree.
    query("e14_lsh_topk",
      // e13's two-family bucketing + e2's ranking: candidates from either
      // family's bucket, deduped per (query, neighbor), exact-cosine top-3.
      """WITH comp AS (SELECT vec_id,
        |    generate_subscripts(embedding, 1) - 1 AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |dots AS (SELECT vec_id, jj,
        |    sum(x * (((i * 73 + jj * 151 + i * jj * 37) % 101) - 50)) AS dot
        |  FROM comp CROSS JOIN generate_series(0, 7) AS g(jj)
        |  GROUP BY vec_id, jj),
        |bk AS (SELECT vec_id, jj // 4 AS family,
        |    CAST(sum(CASE WHEN dot > 0 THEN CAST(2 ** (jj % 4) AS BIGINT)
        |             ELSE 0 END) AS BIGINT) AS bucket
        |  FROM dots GROUP BY vec_id, jj // 4),
        |e AS (SELECT b.family, b.bucket, x.vec_id, x.embedding
        |  FROM embeddings x JOIN bk b USING (vec_id)),
        |cands AS (SELECT DISTINCT q.vec_id AS query_id, v.vec_id AS neighbor_id,
        |    round(list_dot_product(q.embedding::DOUBLE[], v.embedding::DOUBLE[]) /
        |      (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
        |       sqrt(list_dot_product(v.embedding::DOUBLE[], v.embedding::DOUBLE[]))), 6)
        |      AS cos
        |  FROM e q JOIN e v ON q.family = v.family AND q.bucket = v.bucket
        |  WHERE q.vec_id < 10 AND v.vec_id <> q.vec_id)
        |SELECT query_id, neighbor_id, cos, rank FROM (
        |  SELECT query_id, neighbor_id, cos,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |  FROM cands) WHERE rank <= 3""".stripMargin)((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", dim = 64, k = 3, bits = 4, families = 2)
        .select(col("query_id"), col("neighbor_id"), col("cos"),
          col("rank").cast("long").as("rank"))
    }),

    // Similarity: IVF (k-means cell) ANN — nProbe=4 of an auto-sized cell
    // count (⌈n/250⌉ clamped to [8,4096]; 8 at these sfs). Index built
    // once per JVM per dataset (index construction is write-path work). The
    // oracle embeds the trained centroids as literals (see ivfOracle),
    // so assignment + probe + rerank hash-check against DuckDB.
    new Query("e4_ivf_topk", ivfOracle)((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (indexed, centroids) = ivfIndexOf(s, dir)
      Similarity.ivfTopK(indexed, emb.filter(col("vec_id") < 10), centroids,
        "vec_id", "embedding", topK = 3, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"), col("cos"),
          col("rank").cast("long").as("rank"))
    }),

    // Similarity: product-quantization ANN — 8 subspaces × 16 codewords
    // (8 bytes/vector, a 32× corpus compression); queries rank against the
    // codeword reconstructions (asymmetric distance). The oracle embeds the
    // trained codebooks as literals (see pqOracle) and flattens the
    // codewords in the same subspace order, so encoding + reconstruction +
    // rerank hash-check against DuckDB.
    new Query("e9_pq_topk", pqOracle)((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (encoded, books) = pqIndexOf(s, dir)
      Similarity.pqTopK(encoded, emb.filter(col("vec_id") < 10), books,
        "vec_id", "embedding", k = 3)
        .select(col("query_id"), col("neighbor_id"), col("pq_cos"),
          col("rank").cast("long").as("rank"))
    }),

    // Similarity: full-corpus kNN graph by IVF-cell blocking — every vector
    // ranks its top-3 neighbors within its coarse cell (per-cell m² sharded
    // across cells, total n²/k; the batch alternative to per-query probing
    // when the whole corpus is the query set). Oracle replays cell
    // assignment from the trained centroid literals (knnOracle).
    new Query("e10_knn_graph", knnOracle)((s, dir) => {
      val (indexed, _) = ivfIndexOf(s, dir)
      Similarity.knnGraph(indexed, "vec_id", "embedding", k = 3)
        .select(col("vec_id"), col("neighbor_id"), col("cos"),
          col("rank").cast("long").as("rank"))
    }),

    // Graph analytics: fixed-point integer PageRank over the e10 kNN graph
    // (document-centrality data-selection signal) — 5 exact-integer
    // iterations, bit-identical in any engine; oracle unrolls the same
    // iterations over the same centroid-literal graph.
    new Query("e12_pagerank", pageRankOracle)((s, dir) => {
      val (indexed, _) = ivfIndexOf(s, dir)
      val edges = Similarity.knnGraph(indexed, "vec_id", "embedding", k = 3)
        .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      graft.pipeline.Graphs.pageRank(edges, iterations = 5)
        .select(col("id").as("vec_id"), col("rank"))
    }),

    // Similarity: Johnson-Lindenstrauss ±1 random projection 64 → 8 dims
    // (the dimensionality-reduction pass in front of ANN/clustering) —
    // signs regenerated from md5 parity, zero-shuffle codegen'd folds,
    // output exploded to scalar (id, dim, y) rows for the comparator.
    query("e11_random_projection", jlOracle)((s, dir) =>
      Similarity.randomProjection(t(s, dir, "embeddings"),
        "vec_id", "embedding", outDim = 8, inDim = 64)),

    // Similarity: LSH bucket assignment (the ANN scale path).
    query("e3_lsh_buckets",
      """WITH comp AS (SELECT vec_id,
        |    generate_subscripts(embedding, 1) - 1 AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |dots AS (SELECT vec_id, j, sum(x * (((i * 73 + j * 151 + i * j * 37) % 101) - 50)) AS dot
        |  FROM comp CROSS JOIN generate_series(0, 3) AS g(j)
        |  GROUP BY vec_id, j)
        |SELECT vec_id,
        |  CAST(sum(CASE WHEN dot > 0 THEN CAST(2 ** j AS BIGINT) ELSE 0 END) AS BIGINT)
        |    AS bucket
        |FROM dots GROUP BY vec_id""".stripMargin)((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          Similarity.lshBucket(col("embedding"), dim = 64, k = 4).as("bucket"))),

    // Per-label mean embedding (class prototypes / k-means update step):
    // map-side-combined (group, position) aggregate, one scalar row per
    // (label, dimension).
    query("e5_centroids",
      """WITH e AS (SELECT label, unnest(embedding) AS v,
        |    generate_subscripts(embedding, 1) - 1 AS pos
        |  FROM embeddings)
        |SELECT label, CAST(pos AS BIGINT) AS pos,
        |  round(avg(v), 4) + 0.0 AS m,
        |  CAST(count(*) AS BIGINT) AS n_vectors
        |FROM e GROUP BY label, pos""".stripMargin)((s, dir) =>
      Similarity.centroids(t(s, dir, "embeddings"), "label", "embedding")),

    // End-to-end curation pipeline composing the verified primitives:
    // quality filter → exact-dedup keepers → deterministic hash split →
    // per-(split, lang) corpus summary. The shape a real training-data
    // curation DAG has: codegen'd filters, one dedup shuffle, one summary
    // shuffle — nothing driver-side.
    query("c1_curation",
      s"""WITH q AS (SELECT doc_id, lang, text,
        |    len(string_split(text, ' ')) AS q_tokens,
        |    round(CAST(len(list_filter(string_split(lower(text), ' '),
        |        tk -> tk IN ($stopEn))) AS DOUBLE)
        |      / len(string_split(text, ' ')), 4) AS q_stop_ratio
        |  FROM documents),
        |f AS (SELECT * FROM q WHERE q_tokens >= 30 AND q_stop_ratio >= 0.05),
        |k AS (SELECT md5(text) AS ck, min(doc_id) AS keeper FROM f GROUP BY ck),
        |kept AS (SELECT f.* FROM f JOIN k ON f.doc_id = k.keeper),
        |s AS (SELECT *, CASE WHEN substr(md5(doc_id::VARCHAR), 1, 1) IN
        |    ('0','1','2','3','4','5','6','7','8','9','a','b','c')
        |    THEN 'train' ELSE 'val' END AS split
        |  FROM kept)
        |SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(q_tokens) AS BIGINT) AS n_tokens
        |FROM s GROUP BY split, lang""".stripMargin)((s, dir) => {
      val scored = TextAnalysis.quality(t(s, dir, "documents"), "text")
        .filter(col("q_tokens") >= 30 && col("q_stop_ratio") >= 0.05)
      val keepers = Dedup.exactGroups(scored, "doc_id", "text")
        .select(col("keeper_id").as("doc_id"))
      scored.join(keepers, Seq("doc_id"), "left_semi")
        .withColumn("split", graft.pipeline.Sharding.hashSplit(col("doc_id")))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("q_tokens")).cast("long").as("n_tokens"))
    }),

    // Gopher-style repetition GATE composing the three repetition
    // families (word-2-gram, char-3-gram, duplicate-line) into one
    // keep/drop decision per document — the filter shape repetition
    // signals exist for. All three signals are per-row codegen'd HOF
    // passes over one scan; the gate is a boolean conjunction, so the
    // whole DAG is map-only with pushdown intact at 100 TB.
    query("c8_repetition_gate",
      // The repetition gate replayed: the three per-doc signals (each
      // rounded exactly as its own oracle rounds) conjoined at the same
      // thresholds.
      """WITH s AS (SELECT doc_id, string_split(text, ' ') AS toks, text
        |  FROM documents),
        |g2 AS (SELECT doc_id, text, toks,
        |    list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
        |      i -> toks[CAST(i AS INTEGER)] || ' ' || toks[CAST(i AS INTEGER) + 1]) AS grams
        |  FROM s),
        |c2 AS (SELECT doc_id, text, toks, len(grams) AS n2,
        |    list_transform(list_distinct(grams),
        |      gr -> len(list_filter(grams, x -> x = gr))) AS counts
        |  FROM g2),
        |dup2 AS (SELECT doc_id,
        |    CASE WHEN n2 < 1 THEN 0.0
        |         ELSE round(CAST(list_sum(list_transform(counts,
        |                c -> CASE WHEN c > 1 THEN c ELSE 0 END)) AS DOUBLE) / n2, 4)
        |    END AS v
        |  FROM c2),
        |cg AS (SELECT doc_id,
        |    unnest(list_transform(
        |      generate_series(1, greatest(length(text) - 2, 0)),
        |      i -> substr(text, CAST(i AS INTEGER), 3))) AS gram
        |  FROM documents),
        |cper AS (SELECT doc_id, gram, count(*) AS c FROM cg GROUP BY 1, 2),
        |cagg AS (SELECT doc_id, round(max(c) * 1.0 / sum(c), 4) AS v
        |  FROM cper GROUP BY doc_id),
        |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |l AS (SELECT doc_id,
        |    unnest(list_transform(
        |      generate_series(1, CAST(ceil(len(ws) / 2.0) AS BIGINT)),
        |      i -> array_to_string(
        |        ws[CAST((i - 1) * 2 + 1 AS INTEGER):CAST(least(i * 2, len(ws)) AS INTEGER)],
        |        ' '))) AS line
        |  FROM w),
        |lper AS (SELECT doc_id, line, count(*) AS c FROM l GROUP BY 1, 2),
        |lagg AS (SELECT doc_id,
        |    round((sum(c) - count(*)) * 1.0 / sum(c), 4) AS v
        |  FROM lper GROUP BY doc_id)
        |SELECT d.doc_id,
        |  (dup2.v <= 0.1 AND cagg.v <= 0.035 AND lagg.v <= 0.05) AS keep
        |FROM documents d
        |JOIN dup2 ON d.doc_id = dup2.doc_id
        |JOIN cagg ON d.doc_id = cagg.doc_id
        |JOIN lagg ON d.doc_id = lagg.doc_id""".stripMargin)((s, dir) => {
      val ws = split(col("text"), " ")
      val lines = transform(
        sequence(lit(1), ceil(size(ws) / lit(2.0)).cast("int")),
        i => array_join(slice(ws, (i - lit(1)) * lit(2) + lit(1), lit(2)), " "))
      val framed = t(s, dir, "documents")
        .withColumn("text2", array_join(lines, "\n"))
      val lr = graft.pipeline.TextAnalysis.lineRepetition(framed, "text2")
      val cg = graft.pipeline.TextAnalysis.charGramRepetition(lr, "text", n = 3)
      val rep = graft.pipeline.TextAnalysis.repetition(cg, "text")
      rep.select(col("doc_id"),
        (col("r_dup2gram_frac") <= 0.1 && col("cg_top3_frac") <= 0.035 &&
          col("lr_dup_line_frac") <= 0.05).as("keep"))
    }),

    // Text: stopword-heuristic language ID.
    query("t1_langid",
      s"""WITH s AS (SELECT doc_id, lang,
        |  len(list_filter(string_split(lower(text), ' '),
        |      tk -> tk IN ($stopEn))) AS en,
        |  len(list_filter(string_split(lower(text), ' '),
        |      tk -> tk IN ($stopEs))) AS es,
        |  len(list_filter(string_split(lower(text), ' '),
        |      tk -> tk IN ($stopDe))) AS de
        |  FROM documents)
        |SELECT doc_id, lang AS labeled_lang,
        |  CASE WHEN en = 0 AND es = 0 AND de = 0 THEN 'und'
        |       WHEN en >= es AND en >= de THEN 'en'
        |       WHEN es >= de THEN 'es' ELSE 'de' END AS pred_lang
        |FROM s""".stripMargin)((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang").as("labeled_lang"),
          TextAnalysis.langId(col("text")).as("pred_lang"))),

    // Text: quality scoring.
    query("t2_quality",
      s"""SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS q_chars,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS q_tokens,
        |  round(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |    / len(string_split(text, ' ')), 4) AS q_mean_tok_len,
        |  round(CAST(len(list_filter(string_split(lower(text), ' '),
        |      tk -> tk IN ($stopEn))) AS DOUBLE)
        |    / len(string_split(text, ' ')), 4) AS q_stop_ratio
        |FROM documents""".stripMargin)((s, dir) =>
      TextAnalysis.quality(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("q_chars").cast("long").as("q_chars"),
          col("q_tokens").cast("long").as("q_tokens"),
          col("q_mean_tok_len"), col("q_stop_ratio"))),

    // Text: token counting (whitespace + BPE-ish regex).
    query("t3_token_count",
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))
        |    AS BIGINT) AS re_tokens
        |FROM documents""".stripMargin)((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("ws_tokens"),
          TextAnalysis.regexTokenCount(col("text")).cast("long").as("re_tokens"))),

    // Shard assembly: token-budget packing via the two-phase scalable
    // global prefix sum (one range exchange; no single-partition window).
    query("t6_shard_pack",
      """WITH c AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    sum(CAST(len(string_split(text, ' ')) AS BIGINT)) OVER (
        |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cum
        |  FROM documents)
        |SELECT doc_id, n_tokens,
        |  CAST(floor((cum - n_tokens) / 4000.0) AS BIGINT) AS shard
        |FROM c""".stripMargin)((s, dir) =>
      graft.pipeline.Sharding.packByTokenBudget(
        t(s, dir, "documents").select("doc_id", "text"),
        "text", tokenBudget = 4000L, orderCols = Seq(col("doc_id")))
        .select(col("doc_id"), col("n_tokens"), col("shard"))),

    // Deterministic seeded corpus shuffle: global training-order positions
    // by md5(id || seed) rank — same two-phase prefix-sum shape as t6
    // (one range exchange, never a single-task global window).
    query("t17_corpus_shuffle",
      // Shuffle replay: DuckDB ranks with a window (fine at oracle scale);
      // the engine's prefix-sum rank must agree exactly.
      """SELECT doc_id,
        |  row_number() OVER (ORDER BY md5(doc_id::VARCHAR || 'epoch0'), doc_id)
        |    - 1 AS position
        |FROM documents""".stripMargin)((s, dir) =>
      graft.pipeline.Sharding.shufflePositions(
        t(s, dir, "documents").select("doc_id"), "doc_id", seed = "epoch0")
        .select(col("doc_id"), col("position"))),

    // Temperature-scaled mixture weights per language (the mT5/XLM-R
    // low-resource upsampling recipe, α=0.5): all arithmetic on the tiny
    // groups frame after one map-side-combinable count.
    query("t20_temperature_mix",
      """WITH g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY lang),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n,
        |             sum(pow(n_docs, 0.5)) AS z FROM g)
        |SELECT lang, n_docs,
        |  round(n_docs / n, 6) AS share,
        |  round(pow(n_docs, 0.5) / z, 6) AS weight,
        |  round(pow(n_docs, 0.5) / z / (n_docs / n), 4) AS boost,
        |  round(pow(n_docs, 0.5) / z * n, 2) AS expected_docs
        |FROM g CROSS JOIN t""".stripMargin)((s, dir) =>
      graft.pipeline.Sharding.temperatureWeights(
        t(s, dir, "documents"), "lang", alpha = 0.5)),

    // Deterministic interleaved epoch schedule from the t20 mixture
    // weights: weighted-fair-queueing virtual time per group, global rank
    // via the two-phase prefix sum (no one-partition window).
    query("t21_mixture_schedule",
      """WITH g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1),
        |t AS (SELECT sum(pow(n, 0.5)) AS z FROM g),
        |w AS (SELECT lang, round(pow(n, 0.5) / z, 6) AS weight
        |  FROM g CROSS JOIN t),
        |r AS (SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(doc_id::VARCHAR || 'epoch0'), doc_id) AS r
        |  FROM documents),
        |p AS (SELECT doc_id, r.lang, (r - 0.5) / weight AS vt
        |  FROM r JOIN w USING (lang))
        |SELECT doc_id, lang,
        |  CAST(row_number() OVER (ORDER BY vt, lang, doc_id) - 1 AS BIGINT)
        |    AS sched_pos
        |FROM p""".stripMargin)((s, dir) =>
      graft.pipeline.Sharding.mixtureSchedule(
        t(s, dir, "documents"), "lang", "doc_id", alpha = 0.5, seed = "epoch0")),

    // Deterministic weighted sample WITHOUT replacement (Efraimidis-
    // Spirakis exponential keys over a seeded md5 uniform): 100 docs drawn
    // length-proportionally — the "sample by token weight" primitive of a
    // mixture pipeline, rerun-stable and engine-portable. The oracle
    // replays the exact key arithmetic, so the sampled SET must match.
    query("t23_weighted_sample",
      // Exponential-key replay: u from 13 md5 hex chars (52 bits, +0.5 to
      // dodge ln(0)), key = -ln(u)/w, bottom-100 with the doc_id tiebreak.
      """WITH u AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS w, n_chars,
        |    (CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
        |         'epoch7')), 1, 13)) AS BIGINT) + 0.5)
        |      / 4503599627370496.0 AS u
        |  FROM documents WHERE n_chars > 0)
        |SELECT doc_id, n_chars
        |FROM u ORDER BY -ln(u) / w, doc_id LIMIT 100""".stripMargin)((s, dir) =>
      graft.pipeline.Sharding.weightedSample(
        t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", col("n_chars"), k = 100, seed = "epoch7")
        .select(col("doc_id"), col("n_chars"))),

    // URL canonicalization + registrable domain (the C4/CCNet URL-dedup
    // pre-pass). The corpus has no URL column, so URLs are synthesized
    // deterministically (same construction in the oracle) with the noise
    // the canonicalizer must remove: case-varied host, default port,
    // tracking params, fragment; odd docs get a co.uk two-level zone.
    query("t22_url_canon",
      """WITH u AS (SELECT doc_id,
        |    'HTTPS://WWW.' ||
        |    CASE WHEN doc_id % 2 = 0
        |         THEN 'News' || source || '.Example.COM:443'
        |         ELSE 'Shop' || source || '.CO.UK' END ||
        |    '/page/' || CAST(doc_id AS VARCHAR) ||
        |    '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR) ||
        |    '&fbclid=xyz#frag' AS url
        |  FROM documents),
        |nf AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS nu
        |  FROM u),
        |pre AS (SELECT doc_id, url,
        |    regexp_replace(lower(regexp_extract(nu,
        |      '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', 0)), ':(443|80)$', '')
        |    || regexp_replace(nu, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', '')
        |      AS ju
        |  FROM nf),
        |nt AS (SELECT doc_id, url,
        |    regexp_replace(ju, '[?&](utm_[a-zA-Z]+|gclid|fbclid)=[^&#]*',
        |      '', 'g') AS tu
        |  FROM pre),
        |cn AS (SELECT doc_id, url,
        |    regexp_replace(regexp_replace(tu, '^([^?]*)&', '\1?'),
        |      '[?&]$', '') AS canon_url
        |  FROM nt),
        |hh AS (SELECT doc_id, canon_url,
        |    lower(regexp_extract(url,
        |      '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]*)', 1)) AS host
        |  FROM cn)
        |SELECT doc_id, canon_url,
        |  CASE WHEN regexp_extract(host,
        |      '([^.]+\.(?:co|com|ac|gov|org|net|edu)\.[^.]+)$', 1) <> ''
        |    THEN regexp_extract(host,
        |      '([^.]+\.(?:co|com|ac|gov|org|net|edu)\.[^.]+)$', 1)
        |    ELSE regexp_extract(host, '([^.]+\.[^.]+)$', 1) END AS domain
        |FROM hh""".stripMargin)((s, dir) => {
      val host = when(col("doc_id") % 2 === 0,
          concat(lit("News"), col("source"), lit(".Example.COM:443")))
        .otherwise(concat(lit("Shop"), col("source"), lit(".CO.UK")))
      val url = concat(lit("HTTPS://WWW."), host,
        lit("/page/"), col("doc_id").cast("string"),
        lit("?utm_source=feed&id="), col("doc_id").cast("string"),
        lit("&fbclid=xyz#frag"))
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.canonicalizeUrl(url).as("canon_url"),
        TextAnalysis.registrableDomain(url).as("domain"))
    }),

    // Deterministic rerun-stable train/val split on a portable content hash.
    query("t7_hash_split",
      """SELECT doc_id,
        |  CASE WHEN substr(md5(doc_id::VARCHAR), 1, 1)
        |         IN ('0','1','2','3','4','5','6','7','8','9','a','b','c')
        |       THEN 'train' ELSE 'val' END AS split
        |FROM documents""".stripMargin)((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        graft.pipeline.Sharding.hashSplit(col("doc_id")).as("split"))),

    // Text: Gopher-style repetition/boilerplate metrics (dup-token fraction,
    // top/duplicate 2-gram fractions, symbol ratio) as pure array exprs.
    query("t8_repetition",
      """WITH s AS (SELECT doc_id, string_split(text, ' ') AS toks, text FROM documents),
        |g AS (SELECT doc_id, text, toks, len(toks) AS nt,
        |    list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
        |      i -> toks[CAST(i AS INTEGER)] || ' ' || toks[CAST(i AS INTEGER) + 1]) AS grams
        |  FROM s),
        |c AS (SELECT doc_id, text, toks, nt, grams, len(grams) AS n2,
        |    list_transform(list_distinct(grams),
        |      gr -> len(list_filter(grams, x -> x = gr))) AS counts
        |  FROM g)
        |SELECT doc_id,
        |  round(CAST(nt - len(list_distinct(toks)) AS DOUBLE) / nt, 4)
        |    AS r_dup_tok_frac,
        |  CASE WHEN n2 < 1 THEN 0.0
        |       ELSE round(CAST(list_max(counts) AS DOUBLE) / n2, 4)
        |  END AS r_top2gram_frac,
        |  CASE WHEN n2 < 1 THEN 0.0
        |       ELSE round(CAST(list_sum(list_transform(counts,
        |              c2 -> CASE WHEN c2 > 1 THEN c2 ELSE 0 END)) AS DOUBLE) / n2, 4)
        |  END AS r_dup2gram_frac,
        |  round(CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE) / nt, 4)
        |    AS r_symbol_ratio
        |FROM c""".stripMargin)((s, dir) =>
      graft.pipeline.TextAnalysis.repetition(t(s, dir, "documents"), "text")
        .select("doc_id", "r_dup_tok_frac", "r_top2gram_frac",
          "r_dup2gram_frac", "r_symbol_ratio")),

    // Deterministic hash sampling (~30%): pure pushdown filter, rerun-stable.
    query("t9_hash_sample",
      """SELECT doc_id FROM documents
        |WHERE substr(md5(doc_id::VARCHAR), 1, 4) < '4ccc'""".stripMargin)((s, dir) =>
      t(s, dir, "documents")
        .filter(graft.pipeline.Sharding.hashSample(col("doc_id"), 0.3))
        .select("doc_id")),

    // Per-stratum quota sample: 50 rows per event_type by md5 order.
    query("t10_stratified",
      """SELECT event_type, event_id, user_id FROM (
        |  SELECT event_type, event_id, user_id,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY md5(event_id::VARCHAR), event_id) AS rk
        |  FROM events) WHERE rk <= 50""".stripMargin)((s, dir) =>
      graft.pipeline.Sharding.stratifiedSample(
        t(s, dir, "events").select("event_type", "event_id", "user_id"),
        Seq("event_type"), "event_id", k = 50)),

    // Corpus vocabulary: top-100 tokens by frequency (deterministic cut).
    query("t11_vocab",
      """SELECT token, n FROM (
        |  SELECT token, count(*) AS n FROM (
        |    SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY token)
        |ORDER BY n DESC, token LIMIT 100""".stripMargin)((s, dir) =>
      graft.pipeline.TextAnalysis.vocabulary(t(s, dir, "documents"), "text", 100)),

    // Winnowing fingerprint set (MOSS): k=5-gram md5 minima over w=4
    // windows — shared substrings >= k+w-1 chars guarantee a shared print.
    // Exploded to one (doc_id, fp) row per fingerprint: scalar output for
    // the driver comparator, and the natural shape for overlap self-joins.
    query("t13_winnow",
      """WITH s AS (SELECT doc_id, replace(lower(text), ' ', '') AS norm
        |  FROM documents),
        |g AS (SELECT doc_id,
        |    list_transform(generate_series(1, len(norm) - 4),
        |      i -> substr(md5(substr(norm, CAST(i AS INTEGER), 5)), 1, 8))
        |      AS grams
        |  FROM s),
        |f AS (SELECT doc_id,
        |  CASE WHEN len(grams) - 3 < 1 THEN []::VARCHAR[]
        |       ELSE list_sort(list_distinct(list_transform(
        |              generate_series(1, len(grams) - 3),
        |              j -> list_min(grams[CAST(j AS INTEGER):CAST(j + 3 AS INTEGER)]))))
        |  END AS fps
        |FROM g)
        |SELECT doc_id, unnest(fps) AS fp FROM f""".stripMargin)((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextAnalysis.winnow(col("text"), k = 5, w = 4)).as("fp"))),

    // RAG-style overlapping token windows: 32-token chunks starting every
    // 24 tokens (8 tokens of shared context between neighbors), last
    // window truncated.
    query("t24_chunk_windows",
      // Overlapping token windows: starts 0, 24, 48, … strictly below the
      // token count; chunk = 32 tokens from each start (truncated at end).
      """WITH s AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |c AS (SELECT doc_id, w, unnest(range(0, len(w), 24)) AS st FROM s)
        |SELECT doc_id, CAST(st / 24 AS BIGINT) AS chunk_idx,
        |  CAST(least(32, len(w) - st) AS BIGINT) AS n_tokens,
        |  array_to_string(w[CAST(st + 1 AS INTEGER):CAST(st + 32 AS INTEGER)],
        |    ' ') AS chunk_text
        |FROM c""".stripMargin)((s, dir) =>
      graft.pipeline.TextAnalysis.slidingChunks(
        t(s, dir, "documents"), "doc_id", "text", window = 32, stride = 24)),

    // Gopher char-3-gram repetition signals: most-frequent-gram fraction
    // and duplicated-gram fraction per document, both over gram
    // occurrences — one codegen'd per-row pass, no explode.
    query("t25_char_grams",
      // Char-3-gram repetition: per-doc occurrence counts of every 3-char
      // substring; top = max count / total, dup = sum of counts > 1 / total.
      """WITH g AS (SELECT doc_id,
        |    unnest(list_transform(
        |      generate_series(1, greatest(length(text) - 2, 0)),
        |      i -> substr(text, CAST(i AS INTEGER), 3))) AS gram
        |  FROM documents),
        |per AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
        |agg AS (SELECT doc_id, sum(c) AS ng, max(c) AS mx,
        |    sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup
        |  FROM per GROUP BY doc_id)
        |SELECT doc_id, round(mx * 1.0 / ng, 4) AS cg_top3_frac,
        |  round(dup * 1.0 / ng, 4) AS cg_dup3_frac
        |FROM agg""".stripMargin)((s, dir) =>
      graft.pipeline.TextAnalysis.charGramRepetition(
          t(s, dir, "documents"), "text", n = 3)
        .select("doc_id", "cg_top3_frac", "cg_dup3_frac")),

    // Gopher duplicate-line signals over a deterministic multi-line view
    // (each document re-chunked into 2-word lines — the corpus has no
    // newlines; repeated word pairs become repeated lines): occurrence-
    // and character-weighted duplicate-line fractions.
    query("t26_line_repetition",
      // Duplicate-line fractions over the same deterministic 2-word-chunk
      // line view the Spark side builds (chunks never contain the
      // separator, so join-then-split is the chunk list itself).
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents),
        |l AS (SELECT doc_id,
        |    unnest(list_transform(
        |      generate_series(1, CAST(ceil(len(ws) / 2.0) AS BIGINT)),
        |      i -> array_to_string(
        |        ws[CAST((i - 1) * 2 + 1 AS INTEGER):CAST(least(i * 2, len(ws)) AS INTEGER)],
        |        ' '))) AS line
        |  FROM w),
        |per AS (SELECT doc_id, line, count(*) AS c FROM l GROUP BY 1, 2),
        |agg AS (SELECT doc_id, sum(c) AS total, count(*) AS dist,
        |    sum(length(line) * c) AS chars,
        |    sum(length(line) * (c - 1)) AS dupchars
        |  FROM per GROUP BY doc_id)
        |SELECT doc_id,
        |  round((total - dist) * 1.0 / total, 4) AS lr_dup_line_frac,
        |  round(CASE WHEN chars = 0 THEN 0
        |        ELSE dupchars * 1.0 / chars END, 4) AS lr_dup_line_char_frac
        |FROM agg""".stripMargin)((s, dir) => {
      val ws = split(col("text"), " ")
      val lines = transform(
        sequence(lit(1), ceil(size(ws) / lit(2.0)).cast("int")),
        i => array_join(slice(ws, (i - lit(1)) * lit(2) + lit(1), lit(2)), " "))
      val framed = t(s, dir, "documents")
        .withColumn("text2", array_join(lines, "\n"))
        .select("doc_id", "text2")
      graft.pipeline.TextAnalysis.lineRepetition(framed, "text2")
        .select("doc_id", "lr_dup_line_frac", "lr_dup_line_char_frac")
    }),

    // Dedup: MOSS-style candidate pairs from shared winnow fingerprints —
    // noise-thresholded print equi-join (df <= 10), >= 2 shared prints,
    // overlap coefficient against the smaller print set.
    query("d11_winnow_pairs",
      // t13's winnow replay feeding the MOSS pair derivation: noise filter
      // (fp document frequency <= 10), shared-print counts, overlap vs the
      // smaller set.
      """WITH s AS (SELECT doc_id, replace(lower(text), ' ', '') AS norm
        |  FROM documents),
        |g AS (SELECT doc_id,
        |    list_transform(generate_series(1, len(norm) - 4),
        |      i -> substr(md5(substr(norm, CAST(i AS INTEGER), 5)), 1, 8))
        |      AS grams
        |  FROM s),
        |f AS (SELECT doc_id,
        |  CASE WHEN len(grams) - 3 < 1 THEN []::VARCHAR[]
        |       ELSE list_sort(list_distinct(list_transform(
        |              generate_series(1, len(grams) - 3),
        |              j -> list_min(grams[CAST(j AS INTEGER):CAST(j + 3 AS INTEGER)]))))
        |  END AS fps
        |FROM g),
        |x AS (SELECT doc_id, unnest(fps) AS fp FROM f),
        |freq AS (SELECT fp, count(*) AS dfq FROM x GROUP BY fp),
        |rare AS (SELECT doc_id, x.fp FROM x JOIN freq USING (fp)
        |  WHERE dfq <= 10),
        |sizes AS (SELECT doc_id, count(*) AS n FROM rare GROUP BY doc_id),
        |sh AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, n_shared,
        |  round(CAST(n_shared AS DOUBLE) / least(sa.n, sb.n), 4) AS overlap
        |FROM sh
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE n_shared >= 2""".stripMargin)((s, dir) =>
      Dedup.winnowPairs(t(s, dir, "documents"), "doc_id", "text",
        k = 5, w = 4, maxDocFreq = 10, minShared = 2)),

    // Benchmark decontamination: docs sharing any 5-token n-gram with the
    // held-out split (doc_id % 10 == 0 stands in for the benchmark set).
    query("t14_decontaminate",
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents),
        |tg AS (SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(tk) - 4),
        |      i -> array_to_string(tk[CAST(i AS INTEGER):CAST(i + 4 AS INTEGER)], ' ')))
        |      AS gram
        |  FROM toks WHERE doc_id % 10 <> 0),
        |bg AS (SELECT DISTINCT
        |    unnest(list_transform(generate_series(1, len(tk) - 4),
        |      i -> array_to_string(tk[CAST(i AS INTEGER):CAST(i + 4 AS INTEGER)], ' ')))
        |      AS gram
        |  FROM toks WHERE doc_id % 10 = 0)
        |SELECT doc_id, count(*) AS n_hits
        |FROM tg WHERE gram IN (SELECT gram FROM bg)
        |GROUP BY doc_id""".stripMargin)((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.contaminatedDocs(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
        docs.filter(col("doc_id") % 10 === 0), "text", k = 5)
    }),

    // Characteristic terms per doc: rarity-weighted tf (tf * N / df — the
    // log-free TF-IDF whose per-doc ranking equals the classic one), top-3
    // with deterministic term tiebreak.
    query("t15_tfidf",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT doc_id, term, tf, df, round(score, 4) AS score, rank FROM (
        |  SELECT t.doc_id, t.term, t.tf, d.df,
        |    t.tf * n.n_docs / d.df AS score,
        |    row_number() OVER (PARTITION BY t.doc_id
        |      ORDER BY t.tf * n.n_docs / d.df DESC, t.term ASC) AS rank
        |  FROM tf t JOIN dfreq d USING (term), n)
        |WHERE rank <= 3""".stripMargin)((s, dir) =>
      TextAnalysis.tfIdfTopTerms(t(s, dir, "documents"), "doc_id", "text",
        k = 3)),

    // Text: per-doc token-distribution Shannon entropy (quality signal).
    query("t16_entropy",
      // `+ 0.0` folds DuckDB's IEEE -0.0 (Spark's BigDecimal round never
      // emits it).
      """WITH tc AS (SELECT doc_id, t, count(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |        FROM documents)
        |  WHERE length(t) > 0
        |  GROUP BY doc_id, t)
        |SELECT doc_id,
        |  round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 4) + 0.0 AS entropy
        |FROM tc GROUP BY doc_id""".stripMargin)((s, dir) =>
      TextAnalysis.tokenEntropy(t(s, dir, "documents"), "doc_id", "text")),

    // Text: corpus-unigram LM score (CCNet-style perplexity filter with the
    // corpus itself as the LM) — mean -log2 p(token) per document.
    query("t18_unigram_nll",
      """WITH toks AS (
        |  SELECT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM documents)
        |  WHERE length(tok) > 0),
        |freq AS (SELECT tok, count(*) AS nw FROM toks GROUP BY tok),
        |tot AS (SELECT count(*) AS total FROM toks)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  round(-avg(log2(nw * 1.0 / total)), 4) AS nll_bits
        |FROM toks JOIN freq USING (tok) CROSS JOIN tot
        |GROUP BY doc_id""".stripMargin)((s, dir) =>
      TextAnalysis.unigramNll(t(s, dir, "documents"), "doc_id", "text")),

    // Text: interpolated bigram LM score — λ·P(w|prev) + (1-λ)·P(w), the
    // next perplexity-filter order up from t18; first tokens back off to
    // the unigram term.
    query("t19_bigram_nll",
      // Bigram replay: lag() adjacency after the empty-token filter (same cut
      // as Spark), counts joined back, λ = 0.75 interpolation, unigram-only
      // backoff on first tokens.
      """WITH toks AS (
        |  SELECT doc_id, tok, ord FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |           generate_subscripts(string_split(text, ' '), 1) AS ord
        |    FROM documents)
        |  WHERE length(tok) > 0),
        |seq AS (SELECT doc_id, tok,
        |    lag(tok) OVER (PARTITION BY doc_id ORDER BY ord) AS prev
        |  FROM toks),
        |uni AS (SELECT tok, count(*) AS nw FROM toks GROUP BY tok),
        |tot AS (SELECT count(*) AS total FROM toks),
        |bi AS (SELECT prev, tok, count(*) AS nbi FROM seq
        |  WHERE prev IS NOT NULL GROUP BY prev, tok),
        |ctx AS (SELECT prev, count(*) AS nprev FROM seq
        |  WHERE prev IS NOT NULL GROUP BY prev)
        |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  round(-avg(log2(CASE WHEN s.prev IS NULL THEN u.nw * 1.0 / t.total
        |    ELSE 0.75 * (b.nbi * 1.0 / c.nprev) + 0.25 * (u.nw * 1.0 / t.total)
        |    END)), 4) AS nll_bits
        |FROM seq s JOIN uni u ON u.tok = s.tok
        |  LEFT JOIN bi b ON b.prev = s.prev AND b.tok = s.tok
        |  LEFT JOIN ctx c ON c.prev = s.prev
        |  CROSS JOIN tot t
        |GROUP BY s.doc_id""".stripMargin)((s, dir) =>
      TextAnalysis.bigramNll(t(s, dir, "documents"), "doc_id", "text")),

    // Composite embedding-dedup DAG: LSH-bucketed cosine near-dup pairs
    // (the e6 scale path) → connected components → keeper/drop decision —
    // the full near-duplicate removal pipeline over embeddings, chained
    // from verified primitives exactly like c1 chains the text side.
    // bits = -1 (round 15): the corpus-proportional code length, so the
    // shipped recipe stays linear as the corpus grows (fixed 4-bit codes
    // are n²/16 in candidate volume — IvfProbe measured 695 vs 95
    // candidates/vec at 10×). Oracle-invariant at fixture scale:
    // autoLshBits(500) = autoLshBits(2000) = 4, the old literal.
    query("c2_embedding_dedup",
      // e6's LSH pair derivation (incl. zero-norm guard) + d6's recursive
      // min-label reachability — the independent replay of the composite DAG.
      """WITH RECURSIVE comp AS (SELECT vec_id,
        |    generate_subscripts(embedding, 1) - 1 AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |dots AS (SELECT vec_id, j, sum(x * (((i * 73 + j * 151 + i * j * 37) % 101) - 50)) AS dot
        |  FROM comp CROSS JOIN generate_series(0, 3) AS g(j)
        |  GROUP BY vec_id, j),
        |bk AS (SELECT vec_id,
        |    CAST(sum(CASE WHEN dot > 0 THEN CAST(2 ** j AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS bucket
        |  FROM dots GROUP BY vec_id),
        |e AS (SELECT b.bucket, x.vec_id, x.embedding
        |  FROM embeddings x JOIN bk b USING (vec_id)),
        |pairs AS (SELECT id_a, id_b FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |      (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
        |       sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 4)
        |      AS cos
        |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]) > 0
        |    AND list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]) > 0)
        |  WHERE cos >= 0.3),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach(node, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT reach.node, e2.dst FROM reach JOIN edges e2 ON reach.r = e2.src)
        |SELECT node AS vec_id, min(r) AS cluster_id,
        |  node = min(r) AS is_keeper
        |FROM reach GROUP BY node""".stripMargin)((s, dir) => {
      val pairs = Similarity.lshNearDupPairs(t(s, dir, "embeddings"),
        "vec_id", "embedding", dim = 64, threshold = 0.3, bits = -1)
        .select(col("id_a"), col("id_b"))
      Dedup.duplicateClusters(pairs)
        .select(col("id").as("vec_id"), col("cluster_id"),
          (col("id") === col("cluster_id")).as("is_keeper"))
    }),

    // Composite MinHash dedup DAG over the FULL corpus — the canonical
    // text-side near-dup pipeline: minhash signatures → banded LSH
    // candidates with the maxBucket star-expansion (this corpus is
    // hyper-duplicative: uncapped, 79% of ALL pairs share a band and the
    // pipeline goes quadratic — the cap is what makes it run at 100 TB) →
    // n-gram Jaccard verification at 0.5 on candidates only → connected
    // components → keeper/drop decision.
    query("c3_minhash_dedup",
      // d3's banded-LSH candidates with the maxBucket=16 star expansion
      // (hub = bucket min id), verified by 3-gram Jaccard >= 0.5, clustered
      // by d6's recursive min-label reachability.
      """WITH RECURSIVE tok AS (SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS t FROM documents),
        |sig AS (SELECT doc_id,
        |  min(md5('0|' || t)) AS mh0, min(md5('1|' || t)) AS mh1,
        |  min(md5('2|' || t)) AS mh2, min(md5('3|' || t)) AS mh3,
        |  min(md5('4|' || t)) AS mh4, min(md5('5|' || t)) AS mh5,
        |  min(md5('6|' || t)) AS mh6, min(md5('7|' || t)) AS mh7
        |  FROM tok GROUP BY doc_id),
        |bands AS (
        |  SELECT 0 AS band, mh0 || '|' || mh1 AS band_key, doc_id FROM sig
        |  UNION ALL SELECT 1, mh2 || '|' || mh3, doc_id FROM sig
        |  UNION ALL SELECT 2, mh4 || '|' || mh5, doc_id FROM sig
        |  UNION ALL SELECT 3, mh6 || '|' || mh7, doc_id FROM sig),
        |stats AS (SELECT band, band_key, count(*) AS m, min(doc_id) AS hub
        |  FROM bands GROUP BY band, band_key),
        |bb AS (SELECT b.band, b.band_key, b.doc_id, s.m, s.hub
        |  FROM bands b JOIN stats s USING (band, band_key)),
        |cand AS (SELECT DISTINCT id_a, id_b FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bb a JOIN bb b USING (band, band_key)
        |  WHERE a.m <= 16 AND a.doc_id < b.doc_id
        |  UNION ALL
        |  SELECT hub, doc_id FROM bb WHERE m > 16 AND doc_id <> hub)),
        |sh AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(generate_series(1, greatest(length(text) - 2, 1)),
        |           i -> substr(text, CAST(i AS INTEGER), 3))) AS sh
        |  FROM documents),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT c.id_a, c.id_b, count(*) AS n_inter
        |  FROM cand c
        |  JOIN sh a ON a.doc_id = c.id_a
        |  JOIN sh b ON b.doc_id = c.id_b AND b.sh = a.sh
        |  GROUP BY c.id_a, c.id_b),
        |pairs AS (
        |  SELECT id_a, id_b FROM inter
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 4) >= 0.5),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach(node, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT reach.node, e2.dst FROM reach JOIN edges e2 ON reach.r = e2.src)
        |SELECT node AS doc_id, min(r) AS cluster_id,
        |  node = min(r) AS is_keeper
        |FROM reach GROUP BY node""".stripMargin)((s, dir) =>
      // one-call composite (Dedup.minhashDedup): sig → capped LSH →
      // Jaccard verify → CC
      Dedup.minhashDedup(t(s, dir, "documents"), "doc_id", "text",
          numHashes = 8, bandSize = 2, maxBucket = 16,
          ngramN = 3, jaccardThreshold = 0.5)
        .select(col("id").as("doc_id"), col("cluster_id"), col("is_keeper"))),

    // Composite SemDeDup DAG (Abbas et al. 2023): semantic dedup with the
    // embedding's cluster as the blocking key — within-cluster ALL-pairs
    // cosine is the published algorithm, and the cluster bound is exactly
    // what makes it tractable (per-cluster m² work sharded across clusters,
    // never corpus n²; at 100 TB the clusters come from the IVF coarse
    // quantizer — here the label column plays that role so the oracle can
    // replay the clustering exactly) → connected components → keeper.
    query("c4_semantic_dedup",
      // Within-label pairwise cosine >= 0.3 → undirected edges → recursive
      // min-label components (the d6 oracle shape over the e1 cosine shape).
      // Pre-normalized exactly like the Spark side (unit vectors, then a bare
      // dot) so the float op sequence matches at the threshold boundary.
      """WITH RECURSIVE unit AS (
        |  SELECT label, vec_id,
        |    list_transform(embedding::DOUBLE[],
        |      x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
        |                                     embedding::DOUBLE[]))) AS u
        |  FROM embeddings
        |  WHERE sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) <> 0),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM unit a JOIN unit b
        |    ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.u, b.u) >= 0.3),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach(node, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src)
        |SELECT node AS vec_id, min(r) AS cluster_id,
        |  node = min(r) AS is_keeper
        |FROM reach GROUP BY node""".stripMargin)((s, dir) => {
      // Pre-normalize ONCE per vector (n vectors) so the quadratic pair
      // stage is a bare dot product — cosine inside the join would
      // recompute each vector's norm once per partner (measured 1.9× on
      // this query). Zero-norm vectors map to null and drop at the filter,
      // matching Similarity.cosine's null contract.
      val unit = t(s, dir, "embeddings")
        .withColumn("__n__", Similarity.norm(col("embedding")))
        .select(col("label"), col("vec_id"),
          when(col("__n__") =!= 0.0,
            transform(col("embedding"), x => x / col("__n__"))).as("__u__"))
      val a = unit.select(col("label"), col("vec_id").as("id_a"),
        col("__u__").as("__ua__"))
      val b = unit.select(col("label"), col("vec_id").as("id_b"),
        col("__u__").as("__ub__"))
      val pairs = a.join(b, Seq("label")).filter(col("id_a") < col("id_b"))
        .filter(Similarity.dot(col("__ua__"), col("__ub__")) >= 0.3)
        .select(col("id_a"), col("id_b"))
      Dedup.duplicateClusters(pairs)
        .select(col("id").as("vec_id"), col("cluster_id"),
          (col("id") === col("cluster_id")).as("is_keeper"))
    }),

    // Content-defined chunking: every (doc, chunk) with its content md5 —
    // boundary positions fall where the 16-char window hash is 0 mod 32,
    // so the oracle's formula replay must agree on every cut AND every
    // chunk digest (any off-by-one in the window or segment arithmetic
    // value-mismatches).
    query("d14_cdc_chunks",
      // CDC replay: same polynomial cut rule (Σ code·31^j mod 1e9+7, mod 32
      // == 0, interior cuts only — constants shared via Dedup.cdcPows), same
      // per-chunk md5 digests.
      s"""WITH s AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
        |  FROM documents),
        |c0 AS (SELECT doc_id, text, n,
        |    list_transform(range(1, n + 1), p ->
        |      CAST(ascii(substr(text, CAST(p AS INTEGER), 1)) AS BIGINT))
        |      AS codes
        |  FROM s),
        |c AS (SELECT doc_id, text, n,
        |    CASE WHEN n >= 16 THEN list_filter(generate_series(16, n), i ->
        |      (($cdcTermsSql) % 1000000007) % 32 = 0 AND i < n)
        |    ELSE [] END AS cuts
        |  FROM c0),
        |b AS (SELECT doc_id, text, [0] || cuts || [n] AS bounds FROM c),
        |k AS (SELECT doc_id, text, bounds,
        |    unnest(generate_series(1, len(bounds) - 1)) AS idx FROM b)
        |SELECT doc_id, CAST(idx AS BIGINT) AS chunk_idx,
        |  md5(substr(text, CAST(bounds[CAST(idx AS INTEGER)] + 1 AS INTEGER),
        |    CAST(bounds[CAST(idx AS INTEGER) + 1]
        |      - bounds[CAST(idx AS INTEGER)] AS INTEGER))) AS chunk_md5,
        |  CAST(bounds[CAST(idx AS INTEGER) + 1]
        |    - bounds[CAST(idx AS INTEGER)] AS BIGINT) AS chunk_len
        |FROM k
        |WHERE bounds[CAST(idx AS INTEGER) + 1] > bounds[CAST(idx AS INTEGER)]""".stripMargin)((s, dir) =>
      Dedup.cdcChunks(t(s, dir, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("chunk_idx"), col("chunk_md5"),
          col("chunk_len"))),

    // Chunk-level dedup statistics over the CDC stream — the backup-store /
    // corpus-boilerplate measure: how many chunk occurrences collapse when
    // identical content is stored once (dedup ratio in chunks and bytes).
    query("d15_cdc_dedup",
      s"""WITH s AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
        |  FROM documents),
        |c0 AS (SELECT doc_id, text, n,
        |    list_transform(range(1, n + 1), p ->
        |      CAST(ascii(substr(text, CAST(p AS INTEGER), 1)) AS BIGINT))
        |      AS codes
        |  FROM s),
        |c AS (SELECT doc_id, text, n,
        |    CASE WHEN n >= 16 THEN list_filter(generate_series(16, n), i ->
        |      (($cdcTermsSql) % 1000000007) % 32 = 0 AND i < n)
        |    ELSE [] END AS cuts
        |  FROM c0),
        |b AS (SELECT doc_id, text, [0] || cuts || [n] AS bounds FROM c),
        |k AS (SELECT doc_id, text, bounds,
        |    unnest(generate_series(1, len(bounds) - 1)) AS idx FROM b),
        |ch AS (SELECT
        |    md5(substr(text, CAST(bounds[CAST(idx AS INTEGER)] + 1 AS INTEGER),
        |      CAST(bounds[CAST(idx AS INTEGER) + 1]
        |        - bounds[CAST(idx AS INTEGER)] AS INTEGER))) AS chunk_md5,
        |    CAST(bounds[CAST(idx AS INTEGER) + 1]
        |      - bounds[CAST(idx AS INTEGER)] AS BIGINT) AS chunk_len
        |  FROM k
        |  WHERE bounds[CAST(idx AS INTEGER) + 1] > bounds[CAST(idx AS INTEGER)]),
        |pc AS (SELECT chunk_md5, CAST(count(*) AS BIGINT) AS cnt,
        |    max(chunk_len) AS len FROM ch GROUP BY 1)
        |SELECT CAST(sum(cnt) AS BIGINT) AS n_chunks,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST(sum(cnt - 1) AS BIGINT) AS n_dup,
        |  CAST(sum(cnt * len) AS BIGINT) AS bytes_total,
        |  CAST(sum(len) AS BIGINT) AS bytes_dedup
        |FROM pc""".stripMargin)((s, dir) => {
      val perContent = Dedup.cdcChunks(t(s, dir, "documents"), "doc_id", "text")
        .groupBy("chunk_md5")
        .agg(count(lit(1)).as("cnt"), max("chunk_len").as("len"))
      perContent.agg(
        sum("cnt").as("n_chunks"),
        count(lit(1)).as("n_distinct"),
        sum(col("cnt") - 1).as("n_dup"),
        sum(col("cnt") * col("len")).as("bytes_total"),
        sum("len").as("bytes_dedup"))
    }),

    // PII redaction. The synthetic corpus carries no PII, so the input is
    // salted deterministically from doc_id (same construction in the oracle)
    // to make every redaction pattern actually fire.
    query("t12_redact",
      ("""WITH s AS (SELECT doc_id,
        |  text || ' contact user' || doc_id::VARCHAR ||
        |    '@example.com or 192.168.0.1 or +1 555 123 4567' AS t
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+?\d[\d() -]{6,}\d', '<PHONE>', 'g') AS clean_text
        |FROM s""").stripMargin)((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.redactPii(concat(col("text"),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com or 192.168.0.1 or +1 555 123 4567")))
            .as("clean_text"))),

    // Text: normalization (lowercase, strip non-alnum, collapse whitespace).
    query("t5_normalize",
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |    ' +', ' ', 'g') AS norm_text
        |FROM documents""".stripMargin)((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
            " +", " ").as("norm_text"))),

    // Value histogram: fixed-width bins per event type.
    query("x10_histogram",
      """SELECT event_type, CAST(floor(value / 25.0) AS BIGINT) AS bin,
        |  count(*) AS n
        |FROM events GROUP BY event_type, bin""".stripMargin)((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"),
          floor(col("value") / lit(25.0)).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"))),

    // Text: normalized-content fingerprint.
    query("t4_fingerprint",
      """SELECT doc_id, md5(replace(lower(text), ' ', '')) AS fp
        |FROM documents""".stripMargin)((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))),

    // Multimodal: opaque binary payload + typed metadata (decode is stubbed;
    // the oracle checks the portable subset: byte length + content digest).
    query("mm1_media_meta",
      """SELECT doc_id AS media_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS payload_md5
        |FROM documents""".stripMargin)((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id").as("media_id"),
          length(col("text").cast("binary")).cast("long").as("n_bytes"),
          md5(col("text").cast("binary")).as("payload_md5"))),

    // Multimodal: REAL pixel-level decode through the per-partition feature
    // extractor. The fixture synthesizes a valid 24bpp BMP per document
    // (dims + pixel bytes by SQL-replayable formulas of doc_id); the engine
    // decodes the header (data offset, dims, bpp, row padding) and walks the
    // actual pixel bytes for channel statistics. The oracle recomputes every
    // number from the generation formulas — it never sees the binary, so any
    // decode-offset bug (symmetric or not) shows up as a value mismatch.
    query("mm2_features",
      // Recomputed from the BMP generation formulas (Multimodal.synthDims /
      // synthByte): w = 4*(2 + id%4), h = 4 + id%8, file = 54-byte header +
      // 3wh pixel bytes (w % 4 = 0 → no row padding), pixel k =
      // (id*31 + 7k) mod 256; f_mean = mean over all pixel bytes / 255,
      // f_c0 = mean over channel-0 (k ≡ 0 mod 3) bytes / 255. The engine
      // derives the same numbers by DECODING the binary.
      """SELECT d.doc_id AS media_id,
        |  CAST(54 + 3 * d.w * d.h AS BIGINT) AS n_bytes,
        |  d.w, d.h,
        |  round(s.f_mean, 4) AS f_mean, round(s.f_c0, 4) AS f_c0
        |FROM (SELECT doc_id,
        |        CAST(4 * (2 + doc_id % 4) AS INT) AS w,
        |        CAST(4 + doc_id % 8 AS INT) AS h
        |      FROM documents) d,
        |  LATERAL (SELECT
        |      avg(((d.doc_id * 31 + i * 7) % 256) / 255.0) AS f_mean,
        |      avg(CASE WHEN i % 3 = 0
        |          THEN ((d.doc_id * 31 + i * 7) % 256) / 255.0 END) AS f_c0
        |    -- range() rejects lateral column bounds; 660 = 3*max(w)*max(h)
        |    FROM range(0, 660) t(i) WHERE i < 3 * d.w * d.h) s""".stripMargin)((s, dir) => {
      val media = graft.pipeline.Multimodal.toMedia(
        graft.pipeline.Multimodal.withSyntheticImages(
          t(s, dir, "documents"), "doc_id"),
        "doc_id", "payload", "application/octet-stream")
      graft.pipeline.Multimodal.extractFeatures(media, targetPartitions = s.sparkContext.defaultParallelism)
        .select(col("media_id"), col("n_bytes"),
          element_at(col("feature"), 1).cast("int").as("w"),
          element_at(col("feature"), 2).cast("int").as("h"),
          round(element_at(col("feature"), 3), 4).as("f_mean"),
          round(element_at(col("feature"), 4), 4).as("f_c0"))
    }),

    // Multimodal: metadata-only header decode over a MIXED BMP/PNG corpus —
    // width/height/format parsed from the payload's own bytes with pure
    // codegen'd column expressions (substring+hex+conv), no UDF: the shape
    // of a 100 TB media-metadata scan.
    query("mm3_image_header",
      // Header fields by formula; the engine must parse them back out of the
      // container bytes (BMP little-endian vs PNG big-endian dims).
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'image/bmp' ELSE 'image/png' END AS mime,
        |  CAST(4 * (2 + doc_id % 4) AS INT) AS w,
        |  CAST(4 + doc_id % 8 AS INT) AS h
        |FROM documents""".stripMargin)((s, dir) => {
      val media = graft.pipeline.Multimodal.toMedia(
        graft.pipeline.Multimodal.withSyntheticImages(
          t(s, dir, "documents"), "doc_id", mixed = true),
        "doc_id", "payload", "application/octet-stream")
      media.select(col("media_id"), col("meta.mime").as("mime"),
        col("meta.width").as("w"), col("meta.height").as("h"))
    }),

    // Multimodal audio: WAV header fields decoded with pure column
    // expressions (canonical RIFF/PCM layout) — the audio analog of mm3.
    query("mm4_audio_meta",
      // WAV header fields by formula (Multimodal.syntheticWav): channels =
      // 1 + id%2, rate from the 4-value table, 16-bit PCM.
      """SELECT doc_id AS media_id,
        |  CAST(1 + doc_id % 2 AS INT) AS channels,
        |  CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |       WHEN 2 THEN 22050 ELSE 44100 END AS INT) AS sample_rate,
        |  CAST(16 AS INT) AS bits
        |FROM documents""".stripMargin)((s, dir) => {
      val media = graft.pipeline.Multimodal.withSyntheticAudio(
        t(s, dir, "documents"), "doc_id")
      media.select(col("doc_id").cast("long").as("media_id"),
        graft.pipeline.Multimodal.wavChannels(col("payload")).as("channels"),
        graft.pipeline.Multimodal.wavSampleRate(col("payload")).as("sample_rate"),
        graft.pipeline.Multimodal.wavBitsPerSample(col("payload")).as("bits"))
    }),

    // Multimodal audio: REAL 16-bit PCM decode (RIFF chunk walk + sample
    // loop) → frames + RMS amplitude; the oracle replays the generation
    // formula, never touching the binary.
    query("mm5_audio_rms",
      // RMS replayed from the sample formula s_k = ((id*131 + 17k) mod 65536)
      // - 32768 over n = frames*channels samples; 198 = max n (99 frames * 2).
      """SELECT d.doc_id AS media_id, d.channels, d.sample_rate,
        |  CAST(d.frames AS BIGINT) AS frames,
        |  round(s.rms, 4) AS rms,
        |  round(d.frames * 1000.0 / d.sample_rate, 4) AS duration_ms
        |FROM (SELECT doc_id,
        |        CAST(1 + doc_id % 2 AS INT) AS channels,
        |        CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |             WHEN 2 THEN 22050 ELSE 44100 END AS INT) AS sample_rate,
        |        50 + doc_id % 50 AS frames
        |      FROM documents) d,
        |  LATERAL (SELECT
        |      sqrt(avg(pow((d.doc_id * 131 + k * 17) % 65536 - 32768, 2)))
        |        / 32768.0 AS rms
        |    FROM range(0, 198) t(k)
        |    WHERE k < d.frames * d.channels) s""".stripMargin)((s, dir) => {
      val media = graft.pipeline.Multimodal.toMedia(
        graft.pipeline.Multimodal.withSyntheticAudio(
          t(s, dir, "documents"), "doc_id"),
        "doc_id", "payload", "audio/wav")
      graft.pipeline.Multimodal.extractAudioFeatures(media, targetPartitions = s.sparkContext.defaultParallelism)
        .select(col("media_id"), col("channels"), col("sample_rate"),
          col("frames"),
          round(col("rms"), 4).as("rms"),
          round(col("frames") * 1000.0 / col("sample_rate"), 4).as("duration_ms"))
    }),

    // Multimodal video: AVI header decode with pure column expressions —
    // dimensions/frame-count/fps are the pipeline-relevant video facts;
    // frame payloads stay opaque (external-codec concern).
    query("mm6_video_meta",
      // AVI header fields by formula (Multimodal.syntheticAvi): w = 16*(2 +
      // id%4), h = 8*(4 + id%8), frames = 30 + id%30, fps from the 4-value
      // exact-period table.
      """SELECT doc_id AS media_id,
        |  CAST(16 * (2 + doc_id % 4) AS INT) AS w,
        |  CAST(8 * (4 + doc_id % 8) AS INT) AS h,
        |  CAST(30 + doc_id % 30 AS BIGINT) AS frames,
        |  round(CAST(CASE doc_id % 4 WHEN 0 THEN 10 WHEN 1 THEN 20
        |       WHEN 2 THEN 25 ELSE 40 END AS DOUBLE), 4) AS fps
        |FROM documents""".stripMargin)((s, dir) => {
      val media = graft.pipeline.Multimodal.withSyntheticVideo(
        t(s, dir, "documents"), "doc_id")
      media.select(col("doc_id").cast("long").as("media_id"),
        graft.pipeline.Multimodal.aviWidth(col("payload")).as("w"),
        graft.pipeline.Multimodal.aviHeight(col("payload")).as("h"),
        graft.pipeline.Multimodal.aviTotalFrames(col("payload")).cast("long").as("frames"),
        round(lit(1000000.0) /
          graft.pipeline.Multimodal.aviMicroSecPerFrame(col("payload")), 4).as("fps"))
    }),

    // Multimodal: frame SAMPLING — every 4th video frame chunk's
    // (idx, offset, size) from a real RIFF movi walk (incl. odd-size pad
    // bytes); downstream decode touches only the sampled byte ranges.
    query("mm7_frame_sample",
      // Frame layout by formula (sizes, cumulative padded offsets); the
      // engine must recover the same (idx, offset, size) by WALKING the
      // RIFF movi chunks, pad bytes included.
      """WITH f AS (SELECT doc_id, 30 + doc_id % 30 AS frames FROM documents),
        |i AS (SELECT doc_id, unnest(generate_series(0, frames - 1)) AS i
        |  FROM f),
        |sz AS (SELECT doc_id, i, 8 + (doc_id + 3 * i) % 12 AS sz FROM i),
        |o AS (SELECT doc_id, i, sz,
        |    100 + coalesce(sum(8 + sz + sz % 2) OVER (PARTITION BY doc_id
        |      ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0) + 8 AS off
        |  FROM sz)
        |SELECT doc_id AS media_id, CAST(i AS BIGINT) AS frame_idx,
        |  CAST(off AS BIGINT) AS offset, CAST(sz AS BIGINT) AS n_bytes
        |FROM o WHERE i % 4 = 0""".stripMargin)((s, dir) => {
      val media = graft.pipeline.Multimodal.withSyntheticVideoFrames(
          t(s, dir, "documents"), "doc_id")
        .select(col("doc_id").cast("long").as("media_id"), col("payload"))
      graft.pipeline.Multimodal.sampleVideoFrames(media, every = 4,
          targetPartitions = s.sparkContext.defaultParallelism)
        .select(col("media_id"),
          col("frame_idx").cast("long").as("frame_idx"), col("offset"),
          col("n_bytes").cast("long").as("n_bytes"))
    }),

    // Multimodal: nearest-neighbor 2× RESIZE over the decoded BMP pixel
    // stream (real pixel indexing in mapPartitions batches) — output dims
    // and the sampled-pixel mean, formula-checked against the generator.
    query("mm8_resize",
      // Sampled-pixel statistics by formula: byte k of the synthetic stream
      // is (id*31 + 7k) mod 256 at k = 3wr + 3x + c; the engine recomputes
      // them from the actual decoded BMP bytes.
      """WITH d AS (SELECT doc_id, (2 + doc_id % 4) * 4 AS w,
        |    4 + doc_id % 8 AS h FROM documents),
        |g AS (SELECT doc_id, w, w // 2 AS w2, h // 2 AS h2 FROM d),
        |ry AS (SELECT doc_id, w, w2, h2,
        |    unnest(generate_series(0, h2 - 1)) AS ry FROM g),
        |rx AS (SELECT doc_id, w, w2, h2, ry,
        |    unnest(generate_series(0, w2 - 1)) AS rx FROM ry),
        |px AS (SELECT doc_id, w2, h2,
        |    (doc_id * 31 + (2 * ry * 3 * w + 6 * rx + c.c) * 7) % 256 AS v
        |  FROM rx CROSS JOIN (SELECT unnest([0, 1, 2]) AS c) c)
        |SELECT doc_id AS media_id, CAST(w2 AS BIGINT) AS rw,
        |  CAST(h2 AS BIGINT) AS rh,
        |  round(CAST(sum(v) AS DOUBLE) / count(*) / 255.0, 6) AS r_mean
        |FROM px GROUP BY 1, 2, 3""".stripMargin)((s, dir) => {
      val media = graft.pipeline.Multimodal.toMedia(
        graft.pipeline.Multimodal.withSyntheticImages(
          t(s, dir, "documents"), "doc_id"),
        "doc_id", "payload", "application/octet-stream")
      graft.pipeline.Multimodal.resizeImages(media, targetPartitions = s.sparkContext.defaultParallelism)
        .select(col("media_id"), col("rw").cast("long").as("rw"),
          col("rh").cast("long").as("rh"),
          round(col("mean"), 6).as("r_mean"))
    }),

    // Multimodal: 64-bit perceptual dHash over the REAL decoded pixel
    // stream (9×8 nearest-neighbor grid → luma-sum comparisons) — emitted
    // as 8 per-row band bytes (the LSH blocking keys and the driver's
    // scalar-only output shape). The oracle recomputes every byte from the
    // pixel-generation formulas without touching the binary.
    query("mm9_dhash",
      // dHash bytes by formula: the sampled-grid luma sums replay from the
      // pixel-generation arithmetic (file row (r*h)//8, column (c*w)//9,
      // channel bytes (base*31 + k*7 + delta) % 256) — the oracle never sees
      // the binary, so any decode-offset or grid-index bug value-mismatches.
      """WITH d AS (SELECT doc_id, doc_id AS base, 0 AS delta,
        |    (2 + doc_id % 4) * 4 AS w, 4 + (doc_id % 8) AS h FROM documents),
        |hs AS (SELECT doc_id, list_transform(range(0, 8), r ->
        |    list_sum(list_transform(range(0, 8), c ->
        |      CASE WHEN
        |        ((base*31 + (3*(((r*h)//8)*w + ((c*w)//9)) + 0)*7 + delta) % 256)
        |      + ((base*31 + (3*(((r*h)//8)*w + ((c*w)//9)) + 1)*7 + delta) % 256)
        |      + ((base*31 + (3*(((r*h)//8)*w + ((c*w)//9)) + 2)*7 + delta) % 256)
        |      <
        |        ((base*31 + (3*(((r*h)//8)*w + (((c+1)*w)//9)) + 0)*7 + delta) % 256)
        |      + ((base*31 + (3*(((r*h)//8)*w + (((c+1)*w)//9)) + 1)*7 + delta) % 256)
        |      + ((base*31 + (3*(((r*h)//8)*w + (((c+1)*w)//9)) + 2)*7 + delta) % 256)
        |      THEN 1 << c ELSE 0 END))) AS bands
        |  FROM d)
        |SELECT doc_id AS media_id, CAST(t.r AS BIGINT) AS band,
        |  CAST(bands[t.r + 1] AS BIGINT) AS band_byte
        |FROM hs, range(0, 8) t(r)""".stripMargin)((s, dir) => {
      val media = graft.pipeline.Multimodal.toMedia(
        graft.pipeline.Multimodal.withSyntheticImages(
          t(s, dir, "documents"), "doc_id"),
        "doc_id", "payload", "application/octet-stream")
      graft.pipeline.Multimodal.dHashImages(media, targetPartitions = s.sparkContext.defaultParallelism)
        .select(col("media_id"), posexplode(array((0 until 8).map(r =>
          shiftright(col("dhash"), r * 8).bitwiseAND(lit(255L))): _*)))
        .select(col("media_id"), col("pos").cast("long").as("band"),
          col("col").cast("long").as("band_byte"))
    }),

    // Multimodal: image NEAR-DUP pairs — dHash signatures joined by band
    // equality (8×8-bit banded LSH, complete for dist < 8 by pigeonhole),
    // exact popcount verify. Fixture: docs 2k/2k+1 share a base image with
    // the odd copy uniformly brightened (+4 mod 256), so true pairs sit a
    // few wrapped-comparison bits apart — the perceptual-robustness case a
    // byte-exact dedup can never catch. Oracle = all-pairs hamming (banded
    // LSH at maxDist < bands is exactly the all-pairs answer).
    query("mm10_image_neardup",
      // Banded LSH at maxDist < bands is EXACTLY the all-pairs answer
      // (pigeonhole), so the oracle is the brute-force hamming join over the
      // formula-replayed signatures.
      """WITH d AS (SELECT doc_id, doc_id // 2 AS base, (doc_id % 2) * 4 AS delta,
        |    (2 + (doc_id // 2) % 4) * 4 AS w,
        |    4 + ((doc_id // 2) % 8) AS h FROM documents),
        |hs AS (SELECT doc_id, list_transform(range(0, 8), r ->
        |    list_sum(list_transform(range(0, 8), c ->
        |      CASE WHEN
        |        ((base*31 + (3*(((r*h)//8)*w + ((c*w)//9)) + 0)*7 + delta) % 256)
        |      + ((base*31 + (3*(((r*h)//8)*w + ((c*w)//9)) + 1)*7 + delta) % 256)
        |      + ((base*31 + (3*(((r*h)//8)*w + ((c*w)//9)) + 2)*7 + delta) % 256)
        |      <
        |        ((base*31 + (3*(((r*h)//8)*w + (((c+1)*w)//9)) + 0)*7 + delta) % 256)
        |      + ((base*31 + (3*(((r*h)//8)*w + (((c+1)*w)//9)) + 1)*7 + delta) % 256)
        |      + ((base*31 + (3*(((r*h)//8)*w + (((c+1)*w)//9)) + 2)*7 + delta) % 256)
        |      THEN 1 << c ELSE 0 END))) AS bands
        |  FROM d),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(list_sum(list_transform(range(0, 8), i ->
        |      bit_count(xor(a.bands[i + 1], b.bands[i + 1])))) AS BIGINT) AS dist
        |  FROM hs a, hs b WHERE a.doc_id < b.doc_id)
        |SELECT id_a, id_b, dist FROM p WHERE dist <= 7""".stripMargin)((s, dir) => {
      val media = graft.pipeline.Multimodal.toMedia(
        graft.pipeline.Multimodal.withSyntheticNearDupImages(
          t(s, dir, "documents"), "doc_id"),
        "doc_id", "payload", "application/octet-stream")
      val sig = graft.pipeline.Multimodal.dHashImages(media, targetPartitions = s.sparkContext.defaultParallelism)
      Dedup.hammingPairs64(sig, "media_id", "dhash", maxDist = 7, bands = 8)
        .select(col("id_a"), col("id_b"), col("dist"))
    }),

    // Multimodal: REAL JPEG metadata decode — a marker-segment walk (BE
    // segment lengths, standalone markers, FF padding) to SOF0, never a
    // fixed offset (the fixture varies its DQT stub length by id so a
    // hardcoded-offset "parser" value-mismatches). Third image container
    // beside BMP (mm2) and PNG (mm3).
    query("mm11_jpeg_meta",
      """SELECT doc_id AS media_id,
        |  CAST((2 + doc_id % 4) * 4 AS BIGINT) AS w,
        |  CAST(4 + doc_id % 8 AS BIGINT) AS h,
        |  CAST(3 AS BIGINT) AS components,
        |  false AS progressive
        |FROM documents""".stripMargin)((s, dir) => {
      val media = graft.pipeline.Multimodal.toMedia(
        graft.pipeline.Multimodal.withSyntheticJpegs(
          t(s, dir, "documents"), "doc_id"),
        "doc_id", "payload", "image/jpeg")
      graft.pipeline.Multimodal.jpegMeta(media, targetPartitions = s.sparkContext.defaultParallelism)
        .select(col("media_id"), col("w").cast("long").as("w"),
          col("h").cast("long").as("h"),
          col("components").cast("long").as("components"),
          col("progressive"))
    }),

    // GIF + extended-WebP header decode (the two container formats beyond
    // BMP/PNG): logical-screen / VP8X canvas dims via pure column
    // expressions; the oracle replays the synthesis formulas and never
    // sees a byte.
    query("mm12_gif_webp",
      // SOF0 dims by formula — the engine must find them through the real
      // marker walk (segment lengths vary per id).
      // GIF (even ids, 14-byte header fixture) / extended WebP (odd, 30-byte
      // VP8X fixture): dims replayed from the synthesis formulas.
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'gif' ELSE 'webp' END AS fmt,
        |  CAST(4 * (2 + doc_id % 4) AS BIGINT) AS w,
        |  CAST(4 + doc_id % 8 AS BIGINT) AS h,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 14 ELSE 30 END AS BIGINT)
        |    AS n_bytes
        |FROM documents""".stripMargin)((s, dir) => {
      val media = graft.pipeline.Multimodal.withSyntheticGifWebp(
        t(s, dir, "documents"), "doc_id")
      media.select(col("doc_id").as("media_id"),
        graft.pipeline.Multimodal.imageFormat(col("payload")).as("fmt"),
        graft.pipeline.Multimodal.imageWidth(col("payload")).cast("long").as("w"),
        graft.pipeline.Multimodal.imageHeight(col("payload")).cast("long").as("h"),
        length(col("payload")).cast("long").as("n_bytes"))
    }),

    // Composite image-dedup DAG: real pixel decode → perceptual dHash →
    // banded-hamming LSH pairs → connected components → keeper decision
    // (the c2/c3 DAG shape with a pixel-derived blocking signature). The
    // fixture corpus is bounded to 1024 docs: the synthetic image space is
    // deliberately low-entropy (dims/stream repeat mod 8), so past that
    // the dist<=7 graph degenerates into "everything resembles everything"
    // — dense components, not a dedup signal. Even bounded, hash balls
    // CHAIN (A~B, B~C at dist 7 with A,C unlinked): components reach ~512
    // nodes with double-digit diameters, which the single-task union-find
    // arm of duplicateClusters resolves in one pass.
    query("c7_image_dedup",
      // mm10's formula-replayed hamming pairs fed into d6's recursive
      // min-label reachability — keeper = the component's smallest id.
      """WITH RECURSIVE d AS (SELECT doc_id, doc_id // 2 AS base,
        |    (doc_id % 2) * 4 AS delta,
        |    (2 + (doc_id // 2) % 4) * 4 AS w,
        |    4 + ((doc_id // 2) % 8) AS h
        |  FROM documents WHERE doc_id < 1024),
        |hs AS (SELECT doc_id, list_transform(range(0, 8), r ->
        |    list_sum(list_transform(range(0, 8), c ->
        |      CASE WHEN
        |        ((base*31 + (3*(((r*h)//8)*w + ((c*w)//9)) + 0)*7 + delta) % 256)
        |      + ((base*31 + (3*(((r*h)//8)*w + ((c*w)//9)) + 1)*7 + delta) % 256)
        |      + ((base*31 + (3*(((r*h)//8)*w + ((c*w)//9)) + 2)*7 + delta) % 256)
        |      <
        |        ((base*31 + (3*(((r*h)//8)*w + (((c+1)*w)//9)) + 0)*7 + delta) % 256)
        |      + ((base*31 + (3*(((r*h)//8)*w + (((c+1)*w)//9)) + 1)*7 + delta) % 256)
        |      + ((base*31 + (3*(((r*h)//8)*w + (((c+1)*w)//9)) + 2)*7 + delta) % 256)
        |      THEN 1 << c ELSE 0 END))) AS bands
        |  FROM d),
        |p AS (SELECT id_a, id_b FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    list_sum(list_transform(range(0, 8), i ->
        |      bit_count(xor(a.bands[i + 1], b.bands[i + 1])))) AS dist
        |  FROM hs a, hs b WHERE a.doc_id < b.doc_id)
        |  WHERE dist <= 7),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM p
        |          UNION SELECT id_b, id_a FROM p),
        |reach(node, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT reach.node, e2.dst FROM reach JOIN edges e2 ON reach.r = e2.src)
        |SELECT node AS media_id, min(r) AS cluster_id,
        |  node = min(r) AS is_keeper
        |FROM reach GROUP BY node""".stripMargin)((s, dir) => {
      val media = graft.pipeline.Multimodal.toMedia(
        graft.pipeline.Multimodal.withSyntheticNearDupImages(
          t(s, dir, "documents").filter(col("doc_id") < 1024), "doc_id"),
        "doc_id", "payload", "application/octet-stream")
      val sig = graft.pipeline.Multimodal.dHashImages(media, targetPartitions = s.sparkContext.defaultParallelism)
      val pairs = Dedup.hammingPairs64(sig, "media_id", "dhash",
          maxDist = 7, bands = 8)
        .select(col("id_a"), col("id_b"))
      Dedup.duplicateClusters(pairs)
        .select(col("id").as("media_id"), col("cluster_id"),
          (col("id") === col("cluster_id")).as("is_keeper"))
    }),

    // Composite incremental-update dedup: a NEW batch dedupes against the
    // EXISTING corpus (the recurring production job) — Bloom pre-filter
    // built from the corpus (broadcast-sized words, no false negatives:
    // nothing truly-new is ever dropped) cuts the batch to possible-dup
    // candidates, then only THOSE verify with the exact content join.
    // Here batch = odd docs, corpus = even docs, with every 10th odd doc
    // planted as a duplicate of its even neighbor via the md5 fingerprint.
    query("c6_incremental_dedup",
      // Exact replay without the Bloom stage: the filter has no false
      // negatives and candidates verify exactly, so the sketch path's answer
      // must equal the plain membership check.
      """WITH fps AS (SELECT doc_id, md5(text) AS fp FROM documents),
        |nb AS (SELECT doc_id + 1 AS doc_id, fp AS prev_fp FROM fps),
        |batch AS (SELECT f.doc_id,
        |    CASE WHEN f.doc_id % 10 = 1 THEN coalesce(nb.prev_fp, f.fp)
        |         ELSE f.fp END AS fp
        |  FROM fps f LEFT JOIN nb USING (doc_id)
        |  WHERE f.doc_id % 2 = 1)
        |SELECT doc_id,
        |  CASE WHEN fp IN (SELECT fp FROM fps WHERE doc_id % 2 = 0)
        |       THEN 'dup' ELSE 'new' END AS status
        |FROM batch""".stripMargin)((s, dir) => {
      val all = t(s, dir, "documents")
      val fps = all.select(col("doc_id"), md5(col("text")).as("fp"))
      val corpus = fps.filter(col("doc_id") % 2 === 0)
      // plant dups: doc 10k+1 carries doc 10k's content fingerprint
      val neighbor = fps.select((col("doc_id") + 1).as("doc_id"),
        col("fp").as("__prev__"))
      val batch = fps.filter(col("doc_id") % 2 === 1)
        .join(neighbor, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 1,
            coalesce(col("__prev__"), col("fp")))
            .otherwise(col("fp")).as("fp"))
      val filter = graft.pipeline.Sketches.bloomBuild(corpus, col("fp"))
      val maybe = graft.pipeline.Sketches
        .bloomProbe(filter, batch, "doc_id", col("fp"))
        .filter(col("maybe_member")).select("doc_id")
      val candidates = batch.join(maybe, Seq("doc_id"), "left_semi")
      val dupIds = candidates
        .join(corpus.select("fp"), Seq("fp"), "left_semi").select("doc_id")
      batch.join(dupIds, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit("new").as("status"))
        .unionAll(dupIds.withColumn("status", lit("dup")))
    }),

    // Composite media-curation DAG: mixed-container corpus → header-only
    // format/size gate (codegen'd metadata scan, no pixel work on
    // rejects) → real pixel resize on the survivors → per-output-shape
    // stats. The multimodal analog of c1's text curation chain.
    query("c5_media_curation",
      // The curation gate by formula: BMP = even ids, width >= 12 = id%4 >= 1
      // -> survivors are ids with id%4 == 2; per-shape stats over their
      // formula-derived resize means.
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 4 = 2),
        |d AS (SELECT doc_id, (2 + doc_id % 4) * 4 AS w,
        |    4 + doc_id % 8 AS h FROM ids),
        |g AS (SELECT doc_id, w, w // 2 AS w2, h // 2 AS h2 FROM d),
        |ry AS (SELECT doc_id, w, w2, h2,
        |    unnest(generate_series(0, h2 - 1)) AS ry FROM g),
        |rx AS (SELECT doc_id, w, w2, h2, ry,
        |    unnest(generate_series(0, w2 - 1)) AS rx FROM ry),
        |px AS (SELECT doc_id, w2, h2,
        |    (doc_id * 31 + (2 * ry * 3 * w + 6 * rx + c.c) * 7) % 256 AS v
        |  FROM rx CROSS JOIN (SELECT unnest([0, 1, 2]) AS c) c),
        |m AS (SELECT doc_id, w2, h2,
        |    CAST(sum(v) AS DOUBLE) / count(*) / 255.0 AS mean
        |  FROM px GROUP BY 1, 2, 3)
        |SELECT CAST(w2 AS BIGINT) AS rw, CAST(h2 AS BIGINT) AS rh,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(min(mean), 6) AS min_mean, round(max(mean), 6) AS max_mean
        |FROM m GROUP BY 1, 2""".stripMargin)((s, dir) => {
      val media = graft.pipeline.Multimodal.toMedia(
        graft.pipeline.Multimodal.withSyntheticImages(
          t(s, dir, "documents"), "doc_id", mixed = true),
        "doc_id", "payload", "application/octet-stream")
      val keep = media.filter(col("meta.mime") === "image/bmp" &&
        col("meta.width") >= 12)
      graft.pipeline.Multimodal.resizeImages(keep, targetPartitions = s.sparkContext.defaultParallelism)
        .groupBy(col("rw").cast("long").as("rw"),
          col("rh").cast("long").as("rh"))
        .agg(count(lit(1)).as("n"),
          round(min("mean"), 6).as("min_mean"),
          round(max("mean"), 6).as("max_mean"))
    }),

    // Beyond-reference analytics: rollup (grouping sets family).
    query("x1_rollup",
      """SELECT event_type,
        |  CAST(floor(epoch_ms(ts::TIMESTAMP) / 86400000) AS BIGINT) * 86400000 AS day_ms,
        |  count(*) AS n, round(sum(value), 2) AS sum_v
        |FROM events GROUP BY ROLLUP (event_type, day_ms)""".stripMargin)((s, dir) =>
      t(s, dir, "events")
        .rollup(col("event_type"), bucket(86400000L).as("day_ms"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_v"))),

    // Multi distinct aggregation.
    query("x2_distinct_agg",
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(count(DISTINCT CAST(floor(epoch_ms(ts::TIMESTAMP) / 86400000) AS BIGINT) * 86400000)
        |    AS BIGINT) AS n_days,
        |  count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin)((s, dir) =>
      t(s, dir, "events").groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"),
          countDistinct(bucket(86400000L)).as("n_days"),
          count(lit(1)).as("n"))),

    // Global top-k (sort + limit with deterministic tiebreak).
    query("x3_topk",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)((s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100).select("o_orderkey", "o_totalprice")),

    // As-of join: each purchase gets the most recent strictly-earlier error
    // of the same user (graft.operators.AsOfJoin — union + running window,
    // one shuffle, no range-join blowup).
    query("x4_asof_join",
      """WITH u AS (
        |  SELECT user_id, event_id, ts, epoch_ms(ts::TIMESTAMP) AS tms, event_type,
        |    CASE WHEN event_type = 'error' THEN epoch_ms(ts::TIMESTAMP) END AS err_ts
        |  FROM events WHERE event_type IN ('purchase', 'error'))
        |SELECT user_id, event_id, tms, last_err FROM (
        |  SELECT user_id, event_id, tms, event_type,
        |    max(err_ts) OVER (PARTITION BY user_id ORDER BY tms
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_err
        |  FROM u) WHERE event_type = 'purchase'""".stripMargin)((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), tsMs.as("tms"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), tsMs.as("err_tms"))
      graft.operators.AsOfJoin.joinPrior(purchases, errors, Seq("user_id"),
          "tms", "err_tms", payload = Nil, strict = true)
        .select(col("user_id"), col("event_id"), col("tms"),
          col("asof_err_tms").as("last_err"))
    }),

    // As-of join with bounded staleness: the latest prior error only if it
    // happened within the last hour (older priors null out).
    query("x11_asof_tolerance",
      // Same replay with a bounded window frame: only errors in the last hour
      // qualify.
      """WITH u AS (
        |  SELECT user_id, event_id, ts, epoch_ms(ts::TIMESTAMP) AS tms, event_type,
        |    CASE WHEN event_type = 'error' THEN epoch_ms(ts::TIMESTAMP) END AS err_ts
        |  FROM events WHERE event_type IN ('purchase', 'error'))
        |SELECT user_id, event_id, tms, recent_err FROM (
        |  SELECT user_id, event_id, tms, event_type,
        |    max(err_ts) OVER (PARTITION BY user_id ORDER BY tms
        |      RANGE BETWEEN 3600000 PRECEDING AND 1 PRECEDING) AS recent_err
        |  FROM u) WHERE event_type = 'purchase'""".stripMargin)((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), tsMs.as("tms"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), tsMs.as("err_tms"))
      graft.operators.AsOfJoin.joinPrior(purchases, errors, Seq("user_id"),
          "tms", "err_tms", payload = Nil, strict = true,
          toleranceMs = Some(3600000L))
        .select(col("user_id"), col("event_id"), col("tms"),
          col("asof_err_tms").as("recent_err"))
    }),

    // Sessionization: 30-min-gap sessions per user (streaming-style analytic
    // expressed as two windows + aggregation).
    query("x5_sessionize",
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts::TIMESTAMP) AS tms FROM events),
        |d AS (SELECT user_id, event_id, tms,
        |    CASE WHEN lag(tms) OVER w IS NULL THEN 1
        |         WHEN tms - lag(tms) OVER w > 1800000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tms, event_id)),
        |s AS (SELECT user_id, tms,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY tms, event_id
        |      ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM d)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  count(*) AS n_events, max(tms) - min(tms) AS duration_ms
        |FROM s GROUP BY user_id, session_id""".stripMargin)((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("tms"), col("event_id"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events").select(col("user_id"), col("event_id"), tsMs.as("tms"))
        .withColumn("new_s",
          when(col("tms") - lag("tms", 1).over(w) > 1800000L, 1L)
            .when(lag("tms", 1).over(w).isNull, 1L).otherwise(0L))
        .withColumn("session_id", sum("new_s").over(wRun))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          (max("tms") - min("tms")).as("duration_ms"))
    }),

    // Funnel analysis: signup → view → purchase per user, each stage within
    // 7 days of the previous — three stage-scoped min-aggregations chained
    // by co-partitioned user_id joins (the standard product-analytics
    // funnel; every shuffle keys on the user, nothing quadratic).
    query("x12_funnel",
      """WITH e AS (SELECT user_id, event_type,
        |    epoch_ms(ts::TIMESTAMP) AS tms FROM events),
        |s1 AS (SELECT user_id, min(tms) AS t1 FROM e
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(tms) AS t2 FROM e JOIN s1 USING (user_id)
        |  WHERE event_type = 'view' AND tms > t1 AND tms <= t1 + 604800000
        |  GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(tms) AS t3 FROM e JOIN s2 USING (user_id)
        |  WHERE event_type = 'purchase' AND tms > t2 AND tms <= t2 + 604800000
        |  GROUP BY 1)
        |SELECT s1.user_id, t1, t2, t3
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""".stripMargin)((s, dir) => {
      val day7 = 7L * 86400000L
      val ev = t(s, dir, "events").select(col("user_id"), col("event_type"),
        tsMs.as("tms"))
      val s1 = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("tms").as("t1"))
      val s2 = ev.filter(col("event_type") === "view").join(s1, "user_id")
        .filter(col("tms") > col("t1") && col("tms") <= col("t1") + day7)
        .groupBy("user_id").agg(min("tms").as("t2"))
      val s3 = ev.filter(col("event_type") === "purchase")
        .join(s2, "user_id")
        .filter(col("tms") > col("t2") && col("tms") <= col("t2") + day7)
        .groupBy("user_id").agg(min("tms").as("t3"))
      s1.join(s2, Seq("user_id"), "left").join(s3.select("user_id", "t3"),
          Seq("user_id"), "left")
        .select(col("user_id"), col("t1"), col("t2"), col("t3"))
    }),

    // Cohort retention: users grouped by first-seen week, per-week-offset
    // active share — distinct (user, week) activity joined to cohort
    // assignment, two user-keyed shuffles and a groups-sized output.
    query("x13_retention",
      """WITH e AS (SELECT DISTINCT user_id,
        |    CAST(floor(epoch_ms(ts::TIMESTAMP) / 604800000) AS BIGINT) AS wk
        |  FROM events),
        |c AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY 1),
        |sz AS (SELECT cohort_wk, CAST(count(*) AS BIGINT) AS n_cohort
        |  FROM c GROUP BY 1),
        |act AS (SELECT cohort_wk, wk - cohort_wk AS offset_wk,
        |    CAST(count(*) AS BIGINT) AS n_active
        |  FROM e JOIN c USING (user_id) GROUP BY 1, 2)
        |SELECT cohort_wk, offset_wk, n_active, n_cohort,
        |  round(n_active / n_cohort, 4) AS retention
        |FROM act JOIN sz USING (cohort_wk)""".stripMargin)((s, dir) => {
      val week = 604800000L
      val ev = t(s, dir, "events")
        .select(col("user_id"), (tsMs.divide(lit(week))).cast("long").as("wk"))
      val cohort = ev.groupBy("user_id").agg(min("wk").as("cohort_wk"))
      val sizes = cohort.groupBy("cohort_wk").agg(
        count(lit(1)).as("n_cohort"))
      ev.distinct().join(cohort, "user_id")
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("offset_wk"))
        .agg(count(lit(1)).as("n_active"))
        .join(sizes, "cohort_wk")
        .select(col("cohort_wk"), col("offset_wk"), col("n_active"),
          col("n_cohort"),
          round(col("n_active") / col("n_cohort"), 4).as("retention"))
    }),

    // Exact interpolated quantiles per group.
    query("x6_quantiles",
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 4) AS med,
        |  round(quantile_cont(value, 0.9), 4) AS p90
        |FROM events GROUP BY event_type""".stripMargin)((s, dir) =>
      t(s, dir, "events").groupBy("event_type")
        .agg(round(percentile(col("value"), lit(0.5)), 4).as("med"),
          round(percentile(col("value"), lit(0.9)), 4).as("p90"))),

    // Cube over two dimensions (grouping-sets family).
    query("x8_cube",
      """SELECT event_type, user_id, count(*) AS n, round(sum(value), 2) AS sum_v
        |FROM events GROUP BY CUBE (event_type, user_id)""".stripMargin)((s, dir) =>
      t(s, dir, "events")
        .cube(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_v"))),

    // PromQL instant-vector semantics: a 6h step grid per series, each step
    // takes the latest sample at-or-before it (as-of join) within a 24h
    // staleness lookback — gap filling the way a PromQL range query does.
    query("x9_gapfill",
      """WITH pts AS (
        |  SELECT user_id, epoch_ms(ts::TIMESTAMP) AS tms, max(value) AS value
        |  FROM events GROUP BY user_id, tms),
        |grid AS (
        |  SELECT user_id,
        |    unnest(list_transform(generate_series(0, 119),
        |           i -> 1704067200000 + i * 21600000)) AS step_ms
        |  FROM (SELECT DISTINCT user_id FROM events))
        |SELECT g.user_id, g.step_ms,
        |  CASE WHEN g.step_ms - p.tms <= 86400000 THEN p.value END AS val
        |FROM grid g ASOF LEFT JOIN pts p
        |  ON g.user_id = p.user_id AND g.step_ms >= p.tms""".stripMargin)((s, dir) => {
      val start = 1704067200000L // 2024-01-01
      val stepMs = 21600000L     // 6h
      val steps = 120
      val ev = t(s, dir, "events")
      // collapse ms-precision ties so both engines pick the same sample
      val pts = ev.select(col("user_id"), tsMs.as("tms"), col("value"))
        .groupBy("user_id", "tms").agg(max("value").as("value"))
      val grid = ev.select("user_id").distinct()
        .select(col("user_id"), explode(sequence(lit(start),
          lit(start + (steps - 1) * stepMs), lit(stepMs))).as("step_ms"))
      graft.operators.AsOfJoin.joinPrior(grid, pts, Seq("user_id"),
          "step_ms", "tms", payload = Seq("value"), strict = false)
        .select(col("user_id"), col("step_ms"),
          when(col("step_ms") - col("asof_tms") <= 86400000L, col("asof_value"))
            .as("val"))
    }),

    // Pivot: per-user event-type counts as columns.
    query("x7_pivot",
      """SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY user_id""".stripMargin)((s, dir) =>
      t(s, dir, "events").groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("click", "error", "purchase", "signup", "view")))
  ))

  /** A duplicated name fails construction: as map keys it would silently
    * drop all but one of its entries. */
  private def distinctNames(qs: Seq[Query]): Seq[Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    qs
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.iterator.map(q => q.name -> q.build).toMap

  def oracleSql: Map[String, String] =
    registry.iterator.flatMap(q => q.sql.map(q.name -> _)).toMap

  /** Trained vectors as oracle `VALUES` rows `(<prefix>j, [..]::DOUBLE[],
    * |c|²)`, the doubles rendered exactly as the engine holds them. */
  private def vectorRows(vs: Array[Array[Double]], prefix: String = ""): String =
    vs.zipWithIndex.map { case (c, j) =>
      val lst = c.map(_.toString).mkString("[", ", ", "]")
      val cn = c.map(x => x * x).sum
      s"($prefix$j, $lst::DOUBLE[], $cn)"
    }.mkString(",\n")

  /** The centroids of the first dir's IVF index, if this JVM built one. */
  private def trainedCentroids: Option[Array[Array[Double]]] =
    firstBuilt[(DataFrame, Array[Array[Double]])]("ivfIndex").map(_._2)

  /** e12's oracle: the e10 kNN graph (same centroid literals) with 5
    * UNROLLED exact-integer PageRank iterations — recursive CTEs cannot
    * aggregate in the recursive term, and the fixed iteration count makes
    * unrolling trivial to generate. */
  private def pageRankOracle: Option[String] =
    trainedCentroids.map { centroids =>
      val cent = vectorRows(centroids)
      val iters = (1 to 5).map { i =>
        s"""pr$i AS (SELECT n.id,
           |  CAST(150000000000 + coalesce(s.v, 0) AS BIGINT) AS rank
           |  FROM nodes n LEFT JOIN (
           |    SELECT e2.dst AS id,
           |      sum(((p.rank * 85) // 100) // e2.outdeg) AS v
           |    FROM e2 JOIN pr${i - 1} p ON p.id = e2.src GROUP BY 1) s
           |  USING (id))""".stripMargin
      }.mkString(",\n")
      s"""WITH cent(cell, c, cn) AS (VALUES $cent),
         |assigned AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT v.vec_id, c.cell, row_number() OVER (
         |        PARTITION BY v.vec_id
         |        ORDER BY 2 * list_dot_product(v.embedding::DOUBLE[], c.c) - c.cn DESC,
         |                 c.cell ASC) AS rn
         |    FROM embeddings v CROSS JOIN cent c) WHERE rn = 1),
         |scored AS (
         |  SELECT a.vec_id, b.vec_id AS neighbor_id,
         |    round(list_dot_product(q.embedding::DOUBLE[], v.embedding::DOUBLE[]) /
         |      (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
         |       sqrt(list_dot_product(v.embedding::DOUBLE[], v.embedding::DOUBLE[]))), 6)
         |      AS cos
         |  FROM assigned a
         |  JOIN assigned b ON b.cell = a.cell AND b.vec_id <> a.vec_id
         |  JOIN embeddings q ON q.vec_id = a.vec_id
         |  JOIN embeddings v ON v.vec_id = b.vec_id),
         |g AS (SELECT vec_id AS src, neighbor_id AS dst FROM (
         |  SELECT vec_id, neighbor_id,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored) WHERE rank <= 3),
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
         |  FROM g GROUP BY 1),
         |e2 AS (SELECT g.src, g.dst, deg.outdeg FROM g JOIN deg USING (src)),
         |nodes AS (SELECT src AS id FROM g UNION SELECT dst FROM g),
         |pr0 AS (SELECT id, CAST(1000000000000 AS BIGINT) AS rank FROM nodes),
         |$iters
         |SELECT id AS vec_id, rank FROM pr5""".stripMargin
    }

  /** e11's oracle: the sign matrix is a pure function of the seed
    * ([[graft.pipeline.Similarity.projectionSigns]]), so the replay embeds
    * it as literals — no trained state, generated statically. */
  private def jlOracle: String = {
    val signs = graft.pipeline.Similarity.projectionSigns(8, 64, "jl")
    val rows = signs.zipWithIndex.map { case (s, j) =>
      s"($j, ${s.map(_.toString).mkString("[", ", ", "]")}::DOUBLE[])"
    }.mkString(",\n")
    val scale = math.sqrt(8.0)
    s"""WITH signs(dim, s) AS (VALUES $rows)
       |SELECT v.vec_id, CAST(signs.dim AS BIGINT) AS dim,
       |  round(list_dot_product(v.embedding::DOUBLE[], signs.s) / $scale, 6)
       |    AS y
       |FROM embeddings v CROSS JOIN signs""".stripMargin
  }

  /** e4's oracle is generated from the centroids the IVF index actually
    * trained this run: `oracleSql` is a def and Verify dumps it AFTER running
    * the queries, so the fixed-seed centroids the e4 query used are in
    * the fixture memo. Embedded as double literals, cell assignment, probe and
    * cosine rerank become plain arithmetic DuckDB reproduces bit-for-bit
    * (float products accumulated left-to-right in double on both engines).
    * If no index was built this run, the entry is omitted and the driver
    * falls back to the weaker rows-only check. */
  private def ivfOracle: Option[String] =
    trainedCentroids.map { centroids =>
      val cent = vectorRows(centroids)
      s"""WITH cent(cell, c, cn) AS (VALUES $cent),
         |assigned AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT v.vec_id, c.cell, row_number() OVER (
         |        PARTITION BY v.vec_id
         |        ORDER BY 2 * list_dot_product(v.embedding::DOUBLE[], c.c) - c.cn DESC,
         |                 c.cell ASC) AS rn
         |    FROM embeddings v CROSS JOIN cent c) WHERE rn = 1),
         |probed AS (
         |  SELECT query_id, cell FROM (
         |    SELECT q.vec_id AS query_id, c.cell, row_number() OVER (
         |        PARTITION BY q.vec_id
         |        ORDER BY 2 * list_dot_product(q.embedding::DOUBLE[], c.c) - c.cn DESC,
         |                 c.cell DESC) AS rn
         |    FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 10) WHERE rn <= 4),
         |scored AS (
         |  SELECT p.query_id, a.vec_id AS neighbor_id,
         |    round(list_dot_product(q.embedding::DOUBLE[], v.embedding::DOUBLE[]) /
         |      (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
         |       sqrt(list_dot_product(v.embedding::DOUBLE[], v.embedding::DOUBLE[]))), 6)
         |      AS cos
         |  FROM probed p
         |  JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.query_id
         |  JOIN embeddings q ON q.vec_id = p.query_id
         |  JOIN embeddings v ON v.vec_id = a.vec_id)
         |SELECT query_id, neighbor_id, cos, rank FROM (
         |  SELECT query_id, neighbor_id, cos,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM scored) WHERE rank <= 3""".stripMargin
    }

  /** e10's oracle, generated like [[ivfOracle]] from the same trained
    * centroids: identical assignment CTE, then a within-cell self-join and
    * per-query rank — the graph the Spark side builds, replayed flat. */
  private def knnOracle: Option[String] =
    trainedCentroids.map { centroids =>
      val cent = vectorRows(centroids)
      s"""WITH cent(cell, c, cn) AS (VALUES $cent),
         |assigned AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT v.vec_id, c.cell, row_number() OVER (
         |        PARTITION BY v.vec_id
         |        ORDER BY 2 * list_dot_product(v.embedding::DOUBLE[], c.c) - c.cn DESC,
         |                 c.cell ASC) AS rn
         |    FROM embeddings v CROSS JOIN cent c) WHERE rn = 1),
         |scored AS (
         |  SELECT a.vec_id, b.vec_id AS neighbor_id,
         |    round(list_dot_product(q.embedding::DOUBLE[], v.embedding::DOUBLE[]) /
         |      (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
         |       sqrt(list_dot_product(v.embedding::DOUBLE[], v.embedding::DOUBLE[]))), 6)
         |      AS cos
         |  FROM assigned a
         |  JOIN assigned b ON b.cell = a.cell AND b.vec_id <> a.vec_id
         |  JOIN embeddings q ON q.vec_id = a.vec_id
         |  JOIN embeddings v ON v.vec_id = b.vec_id)
         |SELECT vec_id, neighbor_id, cos, rank FROM (
         |  SELECT vec_id, neighbor_id, cos,
         |    CAST(row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM scored) WHERE rank <= 3""".stripMargin
    }

  /** e9's oracle, generated like [[ivfOracle]] from the codebooks the
    * PQ index trained this run: per-subspace assignment replay, codeword
    * reconstruction FLATTENED in subspace order (one left-to-right dot —
    * the same accumulation grouping the Spark side uses, never a float sum
    * over per-subspace partial dots), cosine rerank. */
  private def pqOracle: Option[String] =
    firstBuilt[(DataFrame, Array[Array[Array[Double]]])]("pqIndex").map { case (_, books) =>
      val cb = books.zipWithIndex
        .map { case (book, m) => vectorRows(book, prefix = s"$m, ") }.mkString(",\n")
      s"""WITH cb(m, j, c, cn) AS (VALUES $cb),
         |assigned AS (
         |  SELECT vec_id, m, j FROM (
         |    SELECT v.vec_id, cb.m, cb.j, row_number() OVER (
         |        PARTITION BY v.vec_id, cb.m
         |        ORDER BY 2 * list_dot_product(
         |            list_slice(v.embedding::DOUBLE[], 1 + 8 * cb.m, 8 + 8 * cb.m),
         |            cb.c) - cb.cn DESC,
         |          cb.j ASC) AS rn
         |    FROM embeddings v CROSS JOIN cb) WHERE rn = 1),
         |recon AS (
         |  SELECT a.vec_id, flatten(list(cb.c ORDER BY a.m)) AS vr
         |  FROM assigned a JOIN cb ON cb.m = a.m AND cb.j = a.j
         |  GROUP BY a.vec_id),
         |scored AS (
         |  SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
         |    round(list_dot_product(q.embedding::DOUBLE[], r.vr) /
         |      (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
         |       sqrt(list_dot_product(r.vr, r.vr))), 6) AS pq_cos
         |  FROM embeddings q CROSS JOIN recon r
         |  WHERE q.vec_id < 10 AND r.vec_id <> q.vec_id
         |    AND list_dot_product(r.vr, r.vr) <> 0)
         |SELECT query_id, neighbor_id, pq_cos, rank FROM (
         |  SELECT query_id, neighbor_id, pq_cos,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY pq_cos DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM scored) WHERE rank <= 3""".stripMargin
    }
}
