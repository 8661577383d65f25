package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.metric._
import graft.storage.{CompactionConfig, CompactionScheduler, Compactor, TimeRange}
import graft.streaming.{MetricStreamIngest, RemoteWrite}

/** Soak-harness analog of the reference server (server/src/main.rs:187-233):
  * pushes N batches of encoded remote-write payloads through the streaming
  * ingest path, then compacts and queries. With a third arg `scheduler`,
  * a background CompactionScheduler runs CONCURRENTLY with ingest (the
  * reference's 10s-tick picker loop, scheduler.rs:40-160, at a 1s tick).
  * Run: `sbt "runMain graft.tools.MetricSoak [numBatches] [rowsPerBatch] [scheduler] [rollup] [hist]"` */
object MetricSoak {
  def main(args: Array[String]): Unit = {
    val numBatches = args.headOption.map(_.toInt).getOrElse(6)
    val rows = args.lift(1).map(_.toInt).getOrElse(1000)
    val useScheduler = args.lift(2).contains("scheduler")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val root = Files.createTempDirectory("graft-soak").toString
    println(s"[soak] root=$root batches=$numBatches rows=$rows")
    val engine = new MetricEngine(spark, root)
    // One MemoryStream per query: MemoryStream.commit trims the shared batch
    // buffer, so a single instance only supports a single reader.
    val stream = MemoryStream[Array[Byte]]
    val streamAgg = MemoryStream[Array[Byte]]
    val streamLast = MemoryStream[Array[Byte]]
    val q = MetricStreamIngest.start(engine, stream.toDS(),
      Files.createTempDirectory("graft-soak-ckpt").toString, triggerMs = 100L)
    val qAgg = graft.streaming.StreamAggregates
      .promqlWindowed(MetricStreamIngest.decodePayloads(streamAgg.toDS()))
      .writeStream.outputMode("append").format("memory").queryName("soak_agg").start()
    val qLast = graft.streaming.StreamAggregates
      .liveLastValue(MetricStreamIngest.decodePayloads(streamLast.toDS()))
      .writeStream.outputMode("update").format("memory").queryName("soak_last").start()

    val t0 = 1723680000000L
    val rnd = new scala.util.Random(42)
    val bgCompactor = new Compactor(engine.data,
      CompactionConfig(inputSstMinNum = 2, inputSstMaxNum = 30))
    val scheduler = new CompactionScheduler(bgCompactor, intervalMs = 1000L)
    if (useScheduler) { scheduler.start(); println("[soak] background compaction scheduler ON (1s tick)") }
    // Live downsampling lane: a 1h rollup refreshed on a 1s tick
    // CONCURRENTLY with ingest (and, with `scheduler`, with compaction —
    // compaction-swapped SST ids re-roll their segment). The freshness
    // gate means a query between ingest and the next tick routes to raw;
    // after the final refresh the routed result must equal raw exactly.
    val useRollup = args.contains("rollup")
    val useHist = args.contains("hist")
    val rollup = new Rollup(engine, gridMs = 3600L * 1000)
    // histogram-rollup lane (round 12): when BOTH lanes are on, the same
    // scheduler tick also re-rolls the native-histogram partials
    val histRollup = new HistogramRollup(engine, gridMs = 3600L * 1000)
    val rollupScheduler = new RollupScheduler(
      Seq(rollup) ++ (if (useHist) Seq(histRollup) else Nil), intervalMs = 1000L)
    if (useRollup) {
      engine.registerRollup(rollup)
      if (useHist) engine.registerHistogramRollup(histRollup)
      rollupScheduler.start()
      println("[soak] background rollup refresher ON (1h grid, 1s tick" +
        (if (useHist) ", histogram lane" else "") + ")")
    }
    val start = System.nanoTime()
    (0 until numBatches).foreach { b =>
      val samples = (0 until rows).map { i =>
        Sample("soak_metric",
          Map("worker" -> s"w${i % 4}", "host" -> s"host${i % 16}"),
          t0 + (b.toLong * rows + i) * 500L, rnd.nextDouble() * 100)
      }
      val payload = RemoteWrite.encode(samples)
      stream.addData(payload)
      streamAgg.addData(payload)
      streamLast.addData(payload)
      // native-histogram lane (arg `hist`): one v2-wire histogram per
      // batch rides the same engine (and the same write ordering) as the
      // sample stream — live evidence the histograms table coexists with
      // concurrent compaction/rollup ticks. Off by default so the
      // throughput line stays comparable with earlier rounds' numbers.
      if (useHist) {
        val histReq = RemoteWrite.encodeRequestV2(RemoteWrite.Request(
          Nil, Nil, Nil, Seq(RemoteWrite.HistogramSample(
            "soak_latency", Map("worker" -> s"w${b % 4}"),
            t0 + b.toLong * 1000L,
            count = 3 + b, sum = 10.0 + b, schema = 0, zeroThreshold = 0.001,
            zeroCount = 1, positiveBuckets = Seq((1, 2.0), (2, b.toDouble)),
            negativeBuckets = Nil))))
        MetricStreamIngest.ingestHistograms(engine, spark,
          RemoteWrite.decodeRequest(histReq).histograms)
      }
      q.processAllAvailable()
      println(s"[soak] batch $b ingested; data SSTs=${engine.data.manifest.allSsts().size}")
    }
    q.stop()
    val ingestSec = (System.nanoTime() - start) / 1e9 // ingest path only
    qAgg.processAllAvailable(); qLast.processAllAvailable()
    qAgg.stop(); qLast.stop()
    if (useScheduler) scheduler.stop()
    val nSeries = spark.sql("SELECT count(DISTINCT seriesKey) FROM soak_last").collect()(0).getLong(0)
    println(s"[soak] live last-value state tracks $nSeries series")

    val compactor = new Compactor(engine.data,
      CompactionConfig(inputSstMinNum = 2, inputSstMaxNum = 30))
    var n = 0
    while (compactor.runOnce()) n += 1
    println(s"[soak] compaction passes=$n; data SSTs now=${engine.data.manifest.allSsts().size}")

    val cnt = engine.query(MetricQuery("soak_metric", agg = MetricAgg.Count)).collect()(0).getDouble(0)
    val perWorker = engine.query(MetricQuery("soak_metric",
      labelFilters = Map("worker" -> "w1"), agg = MetricAgg.Count)).collect()(0).getDouble(0)
    val rate = engine.query(MetricQuery("soak_metric",
      labelFilters = Map("host" -> "host3"), agg = MetricAgg.Sum, rate = true,
      range = TimeRange(t0, t0 + 3600L * 1000))).collect()(0).getDouble(0)
    // Sustained ingest throughput through the full T1-T4 chain (decode →
    // id population → meta upsert → segmented SST write): batches are
    // pushed back-to-back (processAllAvailable), so this measures the
    // pipeline's capacity, not the reference's 500 ms pacing
    // (server config.rs write_interval) — capacity / cadence-demand is the
    // headroom multiple. Recorded in SCALE.md per round.
    val rowsPerSec = numBatches.toDouble * rows / ingestSec
    println(f"[soak] throughput=${rowsPerSec}%.0f rows/s over ${numBatches * rows} samples " +
      f"(capacity vs the reference's 1000-row/500ms cadence = ${rowsPerSec / 2000.0}%.1fx)")
    // Streaming state footprint: the live last-value lane keys state by
    // series, so state rows == live series count (bounded by cardinality,
    // not ingest volume); the ingest lane itself is foreachBatch and holds
    // NO state between micro-batches.
    println(s"[soak] state footprint: last-value state rows=$nSeries (== series), ingest lane stateless")
    println(f"[soak] ingest=${ingestSec}%.1fs total_samples=$cnt%.0f worker_w1=$perWorker%.0f host3_rate_sum=$rate%.2f")
    assert(cnt == numBatches.toLong * rows, s"lost samples: $cnt")
    if (useRollup) {
      rollupScheduler.stop()
      val stats = rollup.refresh() // catch anything after the last tick
      println(s"[soak] final rollup refresh: segments=${stats.segmentsRolled} " +
        s"fresh=${rollup.isFresh} rollupSSTs=${rollup.store.manifest.allSsts().size}")
      val all = TimeRange(Long.MinValue, Long.MaxValue)
      val promql = "sum by (worker) (soak_metric)"
      val routed = engine.queryPromQL(promql, all, Some(3600L * 1000))
      assert(routed.inputFiles.exists(_.contains("_rollup_")),
        "routing did not engage after refresh")
      val raw = engine.query(MetricQuery("soak_metric", stepMs = Some(3600L * 1000),
        agg = MetricAgg.Sum, groupByTag = Some("worker")))
      // round 6: partial-then-total summation order differs by ULPs
      def rounded(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("value", org.apache.spark.sql.functions.round(
          org.apache.spark.sql.functions.col("value"), 6))
          .collect().map(_.toSeq).toSet
      val a = rounded(routed)
      val b = rounded(raw)
      assert(a == b, s"routed != raw after live refresh loop: ${a.size} vs ${b.size}")
      println(s"[soak] rollup-routed hourly sums == raw replay (${a.size} groups)")
    }
    // histogram lane verification: every batch's histogram landed, and the
    // instant quantile answers from the newest (count = 3 + last batch)
    if (useHist) {
      val histRows = engine.queryHistograms("soak_latency",
        TimeRange(Long.MinValue, Long.MaxValue)).collect()
      require(histRows.length == numBatches,
        s"expected $numBatches histograms, got ${histRows.length}")
      val hq = engine.instantPromQL(
        """histogram_quantile(0.5, soak_latency{worker=~"w."})""",
        t0 + numBatches.toLong * 1000L, lookbackMs = 3600L * 1000).collect()
      require(hq.nonEmpty && hq.forall(r => !r.isNullAt(r.fieldIndex("value"))),
        s"histogram quantile empty: ${hq.mkString(";")}")
      println(s"[soak] native-histogram lane: ${histRows.length} histograms " +
        s"stored, instant quantile over ${hq.length} live series OK")
      // histogram-rollup routing after the live refresh loop: a final
      // refresh, then a grid-aligned rate quantile must route through the
      // rollup store AND equal the raw bucket-wise computation
      if (useRollup) {
        histRollup.refresh()
        require(histRollup.isFresh, "histogram rollup not fresh after refresh")
        val grid = 3600L * 1000
        val tEnd = (Math.floorDiv(t0, grid) + 2) * grid
        val q = s"""histogram_quantile(0.5, rate(soak_latency[2h]))"""
        val routedDf = engine.instantPromQL(q, tEnd)
        require(routedDf.queryExecution.executedPlan.toString
            .contains("_hrollup_"), "histogram rollup routing did not engage")
        val routed = routedDf.collect()
          .map(r => r.getAs[String]("worker") -> r.getAs[Double]("value"))
          .toMap
        val raw = graft.metric.NativeHistograms.quantile(
          graft.metric.NativeHistograms.increase(
            engine.queryHistograms("soak_latency",
              TimeRange(tEnd - 2 * grid, tEnd))), Seq(0.5))
          .collect().map { r =>
            val (_, ls) = graft.metric.MetricEngine.parseSeriesKey(
              r.getAs[String]("series_key"))
            ls("worker") -> r.getAs[Double]("value")
          }.toMap
        require(routed.keySet == raw.keySet &&
          raw.forall { case (k, v) => // single-sample series: NaN == NaN
            (v.isNaN && routed(k).isNaN) || math.abs(routed(k) - v) < 1e-9 },
          s"histogram rollup routed != raw: $routed vs $raw")
        println(s"[soak] histogram-rollup-routed rate quantile == raw " +
          s"(${routed.size} series)")
      }
    }
    println("[soak] OK")
    spark.stop()
  }
}
