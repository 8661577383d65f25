package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.metric._
import graft.storage.TimeRange

/** Downsampled rollup tables: incremental per-segment refresh off the data
  * manifest, combinable partials, exact agreement with raw-table queries,
  * late-data repair, and the rejection surface. */
class RollupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val hour = 3600000L
  private val day = 24 * hour
  // segment = 2 days, grid = 1 hour
  private def freshEngine(): MetricEngine =
    new MetricEngine(spark,
      Files.createTempDirectory("graft-rollup").toString, segmentMs = 2 * day)

  private def write(eng: MetricEngine, rows: Seq[(String, Long, Double)]): Unit =
    eng.write(spark.createDataFrame(rows.map { case (host, ts, v) =>
      Sample("cpu", Map("host" -> host), ts, v) }))

  test("multi-label by groups on the fast path and routes through the " +
      "rollup; a series missing one label lands in its \"\" group") {
    val eng = freshEngine()
    eng.write(spark.createDataFrame(Seq(
      Sample("req", Map("host" -> "a", "dc" -> "us"), 1000L, 1.0),
      Sample("req", Map("host" -> "a", "dc" -> "eu"), 2000L, 2.0),
      Sample("req", Map("host" -> "b", "dc" -> "us"), 3000L, 4.0),
      Sample("req", Map("host" -> "c"), 4000L, 8.0), // dc absent -> ""
      Sample("req", Map("host" -> "a", "dc" -> "us"), hour + 1, 16.0))))
    val r = new Rollup(eng, gridMs = hour)
    r.refresh()
    eng.registerRollup(r)
    val all = TimeRange(Long.MinValue, Long.MaxValue)
    val routed = eng.queryPromQL("sum by (host, dc) (req)", all, Some(hour))
    assert(routed.inputFiles.exists(_.contains("_rollup_")),
      routed.inputFiles.toSeq)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(row => (row.getAs[String]("host"),
        row.getAs[String]("dc"), row.getAs[Long]("bucket_ms"),
        row.getAs[Double]("value"))).toSet
    val expected = Set(
      ("a", "us", 0L, 1.0), ("a", "eu", 0L, 2.0), ("b", "us", 0L, 4.0),
      ("c", "", 0L, 8.0), ("a", "us", hour, 16.0))
    assert(rows(routed) == expected)
    // the raw fast path (stale rollup) produces the same groups
    eng.write(spark.createDataFrame(Seq(
      Sample("req", Map("host" -> "b", "dc" -> "us"), 5000L, 32.0))))
    val raw = eng.queryPromQL("sum by (host, dc) (req)", all, Some(hour))
    assert(!raw.inputFiles.exists(_.contains("_rollup_")))
    assert(rows(raw) == expected - (("b", "us", 0L, 4.0)) +
      (("b", "us", 0L, 36.0)))
    // and the general path agrees (negative matcher forces it)
    val gen = eng.queryPromQL("""sum by (host, dc) (req{host!="zzz"})""",
      all, Some(hour))
    assert(rows(gen) == rows(raw))
  }

  test("refresh is incremental per segment; queries answer from partials " +
      "exactly; late data repairs its bucket on the next refresh") {
    val eng = freshEngine()
    // two segments: [0, 2d) and [2d, 4d)
    write(eng, Seq(
      ("a", 1000L, 1.0), ("a", hour + 1, 2.0), ("b", 2000L, 10.0),
      ("a", 2 * day + 500, 4.0)))
    val r = new Rollup(eng, gridMs = hour)

    val s1 = r.refresh()
    assert(s1.segmentsRolled == 2)
    assert(r.refresh().segmentsRolled == 0) // nothing new -> no work

    def hourlySum(): Map[(String, Long), Double] =
      r.query(MetricQuery("cpu", stepMs = Some(hour), agg = MetricAgg.Sum,
          groupByTag = Some("host")))
        .collect().map(row => (row.getAs[String]("host"),
          row.getAs[Long]("bucket_ms")) -> row.getAs[Double]("value")).toMap
    assert(hourlySum() == Map(
      ("a", 0L) -> 1.0, ("a", hour) -> 2.0, ("b", 0L) -> 10.0,
      ("a", 2 * day) -> 4.0))

    // late write into the FIRST segment: only that segment re-rolls, and
    // the bucket repairs (rollup rows overwrite via pk last-write-wins)
    write(eng, Seq(("a", 3000L, 5.0)))
    val s2 = r.refresh()
    assert(s2.segmentsRolled == 1)
    assert(hourlySum()(("a", 0L)) == 6.0)
  }

  test("a refresh rolls equal rows whether its scan reads one partition " +
      "or goes through the merge exchange") {
    def rolled(aboveBound: Boolean): Set[Seq[Any]] = {
      val eng = freshEngine()
      val rnd = new scala.util.Random(7)
      // integral values keep every partial exact in any summation order
      def batch(): Unit = write(eng, (0 until 80).map(i =>
        (s"h${i % 3}", (rnd.nextDouble() * 4 * day).toLong, rnd.nextInt(100).toDouble)))
      val r = new Rollup(eng, gridMs = hour)
      def refresh() =
        if (aboveBound) SparkTestSession.aboveMergeBound(r.refresh()) else r.refresh()
      batch(); refresh()
      batch(); refresh()
      r.store.scan().collect().map(_.toSeq).toSet
    }
    val single = rolled(aboveBound = false)
    assert(single.nonEmpty)
    assert(single == rolled(aboveBound = true))
  }

  test("rollup query equals the raw-table query for every combinable " +
      "aggregation, stepped and unstepped") {
    val eng = freshEngine()
    val rnd = new scala.util.Random(42)
    write(eng, (0 until 200).map(i =>
      (s"h${i % 3}", (i * 37L * 60000L) % (4 * day), rnd.nextDouble() * 100)))
    val r = new Rollup(eng, gridMs = hour)
    r.refresh()
    for (agg <- Seq(MetricAgg.Sum, MetricAgg.Count, MetricAgg.Min,
        MetricAgg.Max, MetricAgg.Avg);
        step <- Seq(Some(day), None);
        // unaligned ranges exercise the degenerate-partial edge splice
        range <- Seq(TimeRange(Long.MinValue, Long.MaxValue),
          TimeRange(90000L, 3 * day + 90000L))) {
      val q = MetricQuery("cpu", range = range, stepMs = step, agg = agg,
        groupByTag = Some("host"))
      val viaRollup = r.query(q).withColumn("value", round(col("value"), 6))
        .collect().map(_.toSeq).toSet
      val viaRaw = eng.query(q).withColumn("value", round(col("value"), 6))
        .collect().map(_.toSeq).toSet
      assert(viaRollup == viaRaw, s"agg=$agg step=$step range=$range")
    }
    // label-filtered too
    val q = MetricQuery("cpu", labelFilters = Map("host" -> "h1"),
      stepMs = Some(day), agg = MetricAgg.Sum)
    // round 6: partial-then-total summation order differs from raw by ULPs
    assert(r.query(q).withColumn("value", round(col("value"), 6))
      .collect().map(_.toSeq).toSet ==
      eng.query(q).withColumn("value", round(col("value"), 6))
        .collect().map(_.toSeq).toSet)
  }

  test("rollup TSID join broadcasts only while small — the raw path's " +
      "adaptive gate, not a forced hint (a low-selectivity matcher over a " +
      "huge metric must never force a driver collect)") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    def hintCount(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collect { case h: ResolvedHint => h }.size
    val eng = freshEngine()
    write(eng, Seq(("a", 1000L, 1.0), ("a", hour + 1, 2.0), ("b", 2000L, 4.0)))
    val r = new Rollup(eng, gridMs = hour)
    r.refresh()
    val q = MetricQuery("cpu", stepMs = Some(hour), agg = MetricAgg.Sum,
      groupByTag = Some("host"))
    val hinted = r.query(q)
    assert(hintCount(hinted) > 0,
      "small TSID sets should carry the broadcast hint on the rollup path")
    spark.conf.set("graft.metric.broadcastMaxBytes", "0")
    try {
      // over-cap: NO forced broadcast — the join shape is AQE's call
      val unhinted = r.query(q)
      assert(hintCount(unhinted) == 0, "rollup path must honor the size gate")
      assert(unhinted.collect().toSet == hinted.collect().toSet)
    } finally spark.conf.unset("graft.metric.broadcastMaxBytes")
  }

  test("last partial carries each bucket's newest value") {
    val eng = freshEngine()
    write(eng, Seq(("a", 100L, 1.0), ("a", 200L, 7.0), ("a", hour + 1, 3.0)))
    val r = new Rollup(eng, gridMs = hour)
    r.refresh()
    val last = r.store.scan()
      .select("ts", "last").collect()
      .map(row => row.getLong(0) -> row.getDouble(1)).toMap
    assert(last == Map(0L -> 7.0, hour -> 3.0))
  }

  test("rejections: grid must divide the segment, step must be a grid " +
      "multiple, group and non-sum rate fall back to raw") {
    val eng = freshEngine()
    intercept[IllegalArgumentException](new Rollup(eng, gridMs = 7000L))
    val r = new Rollup(eng, gridMs = hour)
    intercept[IllegalArgumentException](
      r.query(MetricQuery("cpu", stepMs = Some(hour + 1))))
    intercept[IllegalArgumentException](
      r.query(MetricQuery("cpu", rate = true, agg = MetricAgg.Avg,
        stepMs = Some(hour))))
    intercept[IllegalArgumentException](
      r.query(MetricQuery("cpu", agg = MetricAgg.Group)))
    // unknown metric: empty frame with the query's schema
    val empty = r.query(MetricQuery("nope", stepMs = Some(hour),
      groupByTag = Some("host")))
    assert(empty.columns.toSeq == Seq("host", "bucket_ms", "value"))
    assert(empty.count() == 0)
  }

  test("counter partials answer sum(rate/increase) exactly: in-bucket " +
      "resets, boundary resets, gaps, single-sample buckets") {
    val eng = freshEngine()
    write(eng, Seq(
      // host a: rises, resets INSIDE bucket 0, rises across the 0->1
      // boundary, then a gap (bucket 2 empty) into a single-sample bucket 3
      ("a", 100L, 5.0), ("a", 200L, 9.0), ("a", 300L, 2.0), ("a", 400L, 6.0),
      ("a", hour + 100, 8.0), ("a", hour + 200, 11.0),
      ("a", 3 * hour + 100, 1.0), // reset across the gap (11 -> 1)
      // host b: reset EXACTLY at the bucket boundary sample
      ("b", 500L, 20.0), ("b", hour + 1, 3.0), ("b", hour + 2, 7.0)))
    val r = new Rollup(eng, gridMs = hour)
    r.refresh()
    for (step <- Seq(Some(hour), Some(2 * hour), None);
        // unaligned ranges splice raw edge samples into the rate window;
        // (250, hour+1) has NO full grid bucket — the all-raw degenerate
        // path — and (150, 3h+150) splices both edges
        range <- Seq(TimeRange(Long.MinValue, Long.MaxValue),
          TimeRange(150L, 3 * hour + 150L), TimeRange(250L, hour + 1))) {
      val q = MetricQuery("cpu", range = range, stepMs = step,
        agg = MetricAgg.Sum, groupByTag = Some("host"), rate = true)
      val viaRollup = r.query(q).collect().map(_.toSeq).toSet
      val viaRaw = eng.query(q).collect().map(_.toSeq).toSet
      assert(viaRollup == viaRaw, s"step=$step range=$range")
    }
    // hand-checked hourly increases (first in-range sample contributes 0)
    val hourly = r.query(MetricQuery("cpu", stepMs = Some(hour),
        agg = MetricAgg.Sum, groupByTag = Some("host"), rate = true))
      .collect().map(row => (row.getAs[String]("host"),
        row.getAs[Long]("bucket_ms")) -> row.getAs[Double]("value")).toMap
    assert(hourly == Map(
      ("a", 0L) -> 10.0,          // +4, reset->2, +4
      ("a", hour) -> 5.0,         // 6->8 (+2) then +3
      ("a", 3 * hour) -> 1.0,     // reset across gap: counts the full 1.0
      ("b", 0L) -> 0.0,
      ("b", hour) -> 7.0))        // 20->3 reset (3) then +4
  }

  test("stddev/stdvar answer from the moment partials (explicit callers)") {
    val eng = freshEngine()
    val rnd = new scala.util.Random(7)
    write(eng, (0 until 150).map(i =>
      (s"h${i % 2}", (i * 41L * 60000L) % (2 * day), rnd.nextDouble() * 10)))
    val r = new Rollup(eng, gridMs = hour)
    r.refresh()
    for (agg <- Seq(MetricAgg.Stddev, MetricAgg.Stdvar)) {
      val q = MetricQuery("cpu", stepMs = Some(day), agg = agg,
        groupByTag = Some("host"))
      val viaRollup = r.query(q).withColumn("value", round(col("value"), 6))
        .collect().map(_.toSeq).toSet
      val viaRaw = eng.query(q).withColumn("value", round(col("value"), 6))
        .collect().map(_.toSeq).toSet
      assert(viaRollup == viaRaw, s"agg=$agg")
    }
  }

  test("transparent routing: a registered fresh rollup answers the PromQL " +
      "fast path; staleness and unaligned bounds fall back to raw") {
    val eng = freshEngine()
    write(eng, Seq(("a", 1000L, 1.0), ("a", hour + 1, 2.0), ("b", 2000L, 4.0)))
    val r = new Rollup(eng, gridMs = hour)
    r.refresh()
    eng.registerRollup(r)

    def files(df: org.apache.spark.sql.DataFrame) = df.inputFiles.toSeq
    val all = TimeRange(Long.MinValue, Long.MaxValue)

    // combinable stepped agg -> rollup files, same values as raw replay
    val routed = eng.queryPromQL("sum by (host) (cpu)", all, Some(hour))
    assert(files(routed).exists(_.contains("_rollup_")), files(routed))
    assert(routed.collect().map(row => (row.getAs[String]("host"),
        row.getAs[Long]("bucket_ms"), row.getAs[Double]("value"))).toSet ==
      Set(("a", 0L, 1.0), ("a", hour, 2.0), ("b", 0L, 4.0)))

    // non-combinable agg stays on raw
    val stddev = eng.queryPromQL("stddev by (host) (cpu)", all, Some(hour))
    assert(!files(stddev).exists(_.contains("_rollup_")))

    // UNALIGNED bounds take the hybrid edge-split: raw answers the
    // partial edge bucket, the rollup answers the full interior buckets,
    // and the union equals the pure-raw replay exactly
    val hybridRange = TimeRange(500L, Long.MaxValue)
    val hybrid = eng.queryPromQL("sum by (host) (cpu)", hybridRange, Some(hour))
    assert(files(hybrid).exists(_.contains("_rollup_")), files(hybrid))
    assert(files(hybrid).exists(f =>
      f.contains("/data/") && !f.contains("_rollup_")), files(hybrid))
    val hybridRaw = eng.query(MetricQuery("cpu", range = hybridRange,
      stepMs = Some(hour), agg = MetricAgg.Sum, groupByTag = Some("host")))
    assert(hybrid.collect().map(_.toSeq).toSet ==
      hybridRaw.collect().map(_.toSeq).toSet)
    // unaligned rate routes too: the degenerate edge partials chain into
    // the rate window, reproducing the raw lag deltas across the splice
    val hybridRate = eng.queryPromQL("sum by (host) (increase(cpu[1h]))",
      hybridRange, Some(hour))
    assert(files(hybridRate).exists(_.contains("_rollup_")), files(hybridRate))
    val hybridRateRaw = eng.query(MetricQuery("cpu", range = hybridRange,
      stepMs = Some(hour), agg = MetricAgg.Sum, groupByTag = Some("host"),
      rate = true))
    assert(hybridRate.collect().map(_.toSeq).toSet ==
      hybridRateRaw.collect().map(_.toSeq).toSet)

    // new ingest makes the rollup stale -> raw (correct fresh values),
    // refresh restores routing
    write(eng, Seq(("a", 2000L, 10.0)))
    val stale = eng.queryPromQL("sum by (host) (cpu)", all, Some(hour))
    assert(!files(stale).exists(_.contains("_rollup_")))
    assert(stale.filter(col("host") === "a" && col("bucket_ms") === 0L)
      .collect().head.getAs[Double]("value") == 11.0)
    r.refresh()
    val again = eng.queryPromQL("sum by (host) (cpu)", all, Some(hour))
    assert(files(again).exists(_.contains("_rollup_")))
    assert(again.filter(col("host") === "a" && col("bucket_ms") === 0L)
      .collect().head.getAs[Double]("value") == 11.0)

    // sum(increase(...)) routes through the counter partials and equals
    // the raw replay; avg(rate) (non-sum) stays on raw
    val rateRouted = eng.queryPromQL("sum by (host) (increase(cpu[1h]))",
      all, Some(hour))
    assert(files(rateRouted).exists(_.contains("_rollup_")), files(rateRouted))
    val rateRaw = eng.query(MetricQuery("cpu", stepMs = Some(hour),
      agg = MetricAgg.Sum, groupByTag = Some("host"), rate = true))
    assert(rateRouted.collect().map(_.toSeq).toSet ==
      rateRaw.collect().map(_.toSeq).toSet)
  }

  test("index-exact regex matchers take the fast path and route through " +
      "the rollup; negative matchers stay on the general (raw) path") {
    val eng = freshEngine()
    write(eng, Seq(("a", 1000L, 1.0), ("ab", 2000L, 2.0), ("b", 3000L, 4.0),
      ("a", hour + 1, 8.0)))
    val r = new Rollup(eng, gridMs = hour)
    r.refresh()
    eng.registerRollup(r)
    val all = TimeRange(Long.MinValue, Long.MaxValue)

    // =~ resolves through the index dictionary -> routed, exact values
    val re = eng.queryPromQL("""sum by (host) (cpu{host=~"a.*"})""",
      all, Some(hour))
    assert(re.inputFiles.exists(_.contains("_rollup_")), re.inputFiles.toSeq)
    assert(re.collect().map(row => (row.getAs[String]("host"),
        row.getAs[Long]("bucket_ms"), row.getAs[Double]("value"))).toSet ==
      Set(("a", 0L, 1.0), ("ab", 0L, 2.0), ("a", hour, 8.0)))
    // rate over a regex selector routes too
    val reRate = eng.queryPromQL("""sum by (host) (increase(cpu{host=~"a|ab"}[1h]))""",
      all, Some(hour))
    assert(reRate.inputFiles.exists(_.contains("_rollup_")))
    assert(reRate.collect().map(row => (row.getAs[String]("host"),
        row.getAs[Long]("bucket_ms"), row.getAs[Double]("value"))).toSet ==
      Set(("a", 0L, 0.0), ("ab", 0L, 0.0), ("a", hour, 7.0)))
    // negative and empty-matching shapes cannot be index-exact -> raw
    for (q <- Seq("""sum by (host) (cpu{host!="a"})""",
        """sum by (host) (cpu{host=~"a.*|"})""")) {
      val out = eng.queryPromQL(q, all, Some(hour))
      assert(!out.inputFiles.exists(_.contains("_rollup_")), q)
    }
    // general-path agreement for the negative matcher (values correct)
    val neg = eng.queryPromQL("""sum by (host) (cpu{host!="a"})""",
      all, Some(hour))
    assert(neg.collect().map(row => (row.getAs[String]("host"),
        row.getAs[Long]("bucket_ms"), row.getAs[Double]("value"))).toSet ==
      Set(("ab", 0L, 2.0), ("b", 0L, 4.0)))
  }

  test("multi-grid routing picks the coarsest eligible rollup: daily " +
      "queries hit the 1d grid, hourly queries the 1h grid") {
    val eng = freshEngine()
    write(eng, (0 until 48).map(i => ("a", i * hour + 60000L, i.toDouble)))
    val rh = new Rollup(eng, gridMs = hour)
    val rd = new Rollup(eng, gridMs = day)
    rh.refresh(); rd.refresh()
    eng.registerRollup(rh)
    eng.registerRollup(rd)
    val all = TimeRange(Long.MinValue, Long.MaxValue)

    val daily = eng.queryPromQL("sum by (host) (cpu)", all, Some(day))
    assert(daily.inputFiles.exists(_.contains(s"_rollup_$day")),
      daily.inputFiles.toSeq)
    val hourly = eng.queryPromQL("sum by (host) (cpu)", all, Some(hour))
    assert(hourly.inputFiles.exists(_.contains(s"_rollup_$hour")) &&
      !hourly.inputFiles.exists(_.contains(s"_rollup_$day")),
      hourly.inputFiles.toSeq)
    // values equal the raw replay on both grids
    for ((routed, step) <- Seq((daily, day), (hourly, hour))) {
      val raw = eng.query(MetricQuery("cpu", stepMs = Some(step),
        agg = MetricAgg.Sum, groupByTag = Some("host")))
      assert(routed.collect().map(_.toSeq).toSet ==
        raw.collect().map(_.toSeq).toSet, s"step=$step")
    }
  }

  test("cold backfill over 50 dirty segments runs as ONE aggregation job, " +
      "not one per segment (writeSegmented dynamic partitioning), and the " +
      "rolled answers still match raw") {
    val eng = freshEngine()
    // 50 segments (2 days each), one sample per segment + a second host in
    // a few segments so grouping stays non-trivial
    val rows = (0 until 50).flatMap { i =>
      val base = i * 2 * day
      Seq(("a", base + 1000L, i.toDouble)) ++
        (if (i % 7 == 0) Seq(("b", base + hour + 5L, 100.0 + i)) else Nil)
    }
    write(eng, rows)
    val r = new Rollup(eng, gridMs = hour)
    val group = "rollup-backfill-test"
    spark.sparkContext.setJobGroup(group, "rollup backfill job count")
    val stats = try r.refresh() finally spark.sparkContext.clearJobGroup()
    assert(stats.segmentsRolled == 50)
    // status tracker is listener-fed; give it a beat
    def jobCount(): Int = {
      Thread.sleep(200)
      spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    }
    val jobs = jobCount()
    // one write job (+ a few AQE stage jobs at most) — NEVER O(segments)
    assert(jobs > 0 && jobs <= 10,
      s"backfill launched $jobs Spark jobs for 50 dirty segments")
    // answers equal the raw path across the whole range
    val q = MetricQuery("cpu", stepMs = Some(day), agg = MetricAgg.Sum,
      groupByTag = Some("host"))
    assert(r.query(q).collect().map(_.toSeq).toSet ==
      eng.query(q).collect().map(_.toSeq).toSet)
    // incremental after the backfill: one new write re-rolls one segment
    write(eng, Seq(("a", 3 * 2 * day + 2000L, 7.0)))
    assert(r.refresh().segmentsRolled == 1)
  }

  test("watermark survives a reopen: a new Rollup instance over the same " +
      "roots refreshes nothing until new data arrives") {
    val eng = freshEngine()
    write(eng, Seq(("a", 1000L, 1.0)))
    val r1 = new Rollup(eng, gridMs = hour)
    assert(r1.refresh().segmentsRolled == 1)
    val r2 = new Rollup(eng, gridMs = hour) // same engine root -> same store
    assert(r2.refresh().segmentsRolled == 0)
    write(eng, Seq(("a", hour * 5, 2.0)))
    assert(r2.refresh().segmentsRolled == 1)
  }

  test("histogram rollup: routed histogram_quantile(q, rate(m[w])) and " +
      "the sum-by shape equal the raw path on a reset-bearing fixture, " +
      "and the routed plan reads the rollup store") {
    import graft.streaming.MetricStreamIngest
    import graft.streaming.RemoteWrite.HistogramSample
    val eng = freshEngine()
    def h(host: String, ts: Long, zero: Double,
        buckets: Seq[(Int, Double)]) =
      HistogramSample("lat", Map("host" -> host), ts,
        count = zero + buckets.map(_._2).sum, sum = 0.0, schema = 0,
        zeroThreshold = 0.001, zeroCount = zero,
        positiveBuckets = buckets, negativeBuckets = Nil)
    MetricStreamIngest.ingestHistograms(eng, spark, Seq(
      // host a: growth, an idx that vanishes and another that appears,
      // then a counter reset on idx 1 across a grid-bucket boundary
      h("a", 10 * 60000L, 1, Seq((1, 2.0), (2, 3.0))),
      h("a", 50 * 60000L, 1, Seq((1, 5.0), (3, 2.0))),
      h("a", hour + 10 * 60000L, 2, Seq((1, 1.0), (3, 4.0))),
      h("a", 2 * hour + 30 * 60000L, 2, Seq((1, 6.0), (3, 4.0))),
      // host b: sparse — skips grid buckets entirely
      h("b", hour + 20 * 60000L, 0, Seq((2, 7.0))),
      h("b", 3 * hour + 40 * 60000L, 0, Seq((2, 9.0)))))
    val T = 4 * hour
    val q1 = """histogram_quantile(0.5, rate(lat[4h]))"""
    val q2 = """histogram_quantile(0.5, sum by (host) (rate(lat[4h])))"""
    def run(text: String) = eng.instantPromQL(text, T).collect()
      .map(r => (r.getAs[String]("host"), r.getAs[Double]("value"))).toMap
    val raw1 = run(q1)
    val raw2 = run(q2)
    assert(raw1.keySet == Set("a", "b"), raw1.toString)
    val hr = new HistogramRollup(eng, gridMs = hour)
    assert(!hr.isFresh)
    hr.refresh()
    assert(hr.isFresh)
    eng.registerHistogramRollup(hr)
    val routedDf = eng.instantPromQL(q1, T)
    val plan = routedDf.queryExecution.executedPlan.toString
    assert(plan.contains("_hrollup_"),
      s"routed plan must read the rollup store:\n$plan")
    val routed1 = routedDf.collect()
      .map(r => (r.getAs[String]("host"), r.getAs[Double]("value"))).toMap
    val routed2 = run(q2)
    assert(routed1.keySet == raw1.keySet)
    raw1.foreach { case (k, v) =>
      assert(math.abs(routed1(k) - v) < 1e-9, s"$k: raw $v routed ${routed1(k)}") }
    assert(routed2.keySet == raw2.keySet)
    raw2.foreach { case (k, v) =>
      assert(math.abs(routed2(k) - v) < 1e-9, s"$k: raw $v routed ${routed2(k)}") }
    // an unaligned window falls back to raw (no rollup store in the plan)
    val unaligned = eng.instantPromQL(q1, T + 1).queryExecution
      .executedPlan.toString
    assert(!unaligned.contains("_hrollup_"))
    // late data: a new sample makes the rollup stale -> raw until refresh
    MetricStreamIngest.ingestHistograms(eng, spark, Seq(
      h("a", 3 * hour + 50 * 60000L, 2, Seq((1, 8.0), (3, 4.0)))))
    assert(!hr.isFresh)
    val stale = eng.instantPromQL(q1, T).queryExecution
      .executedPlan.toString
    assert(!stale.contains("_hrollup_"))
    hr.refresh()
    assert(hr.isFresh)
    // after the re-roll the routed answer includes the late sample —
    // compare against the raw increase computed directly
    val routedLate = run(q1)
    val expLate = NativeHistograms.quantile(
      NativeHistograms.increase(
        eng.queryHistograms("lat", TimeRange(1L, T + 1))), Seq(0.5))
      .collect().map { r =>
        val (_, ls) = MetricEngine.parseSeriesKey(
          r.getAs[String]("series_key"))
        ls("host") -> r.getAs[Double]("value")
      }.toMap
    assert(routedLate.keySet == expLate.keySet)
    expLate.foreach { case (k, v) =>
      assert(math.abs(routedLate(k) - v) < 1e-9,
        s"late $k: exp $v got ${routedLate(k)}") }
    // RANGE (graph) shape routes too: per-tumbling-bucket quantiles over
    // an aligned range equal the raw bucket-wise computation, NaN buckets
    // (single overall-first sample) dropped on both sides
    val rRange = TimeRange(0L, 4 * hour)
    val routedRangeDf = eng.queryPromQL(
      """histogram_quantile(0.5, rate(lat[1h]))""", rRange)
    assert(routedRangeDf.queryExecution.executedPlan.toString
      .contains("_hrollup_"), "range routing did not engage")
    val routedRange = routedRangeDf.collect()
      .map(r => (r.getAs[String]("host"), r.getAs[Long]("bucket_ms")) ->
        r.getAs[Double]("value")).toMap
    val rawRange = {
      import org.apache.spark.sql.functions.{col, isnan, not}
      NativeHistograms.quantile(
        NativeHistograms.increase(
          eng.queryHistograms("lat", rRange), Some(hour)), Seq(0.5))
        .filter(not(isnan(col("value"))))
        .collect().map { r =>
          val (_, ls) = MetricEngine.parseSeriesKey(
            r.getAs[String]("series_key"))
          (ls("host"), r.getAs[Long]("bucket_ms")) -> r.getAs[Double]("value")
        }.toMap
    }
    assert(routedRange.keySet == rawRange.keySet,
      s"range routed keys ${routedRange.keySet} vs raw ${rawRange.keySet}")
    rawRange.foreach { case (k, v) =>
      assert(math.abs(routedRange(k) - v) < 1e-9,
        s"range $k: raw $v routed ${routedRange(k)}") }
    // unaligned range bounds fall back to raw
    assert(!eng.queryPromQL(
      """histogram_quantile(0.5, rate(lat[1h]))""",
      TimeRange(1L, 4 * hour)).queryExecution.executedPlan.toString
      .contains("_hrollup_"))
  }

  test("histogram rollup: a schema change ACROSS grid buckets inside the " +
      "window auto-falls back to raw (hash-identical answer, no error); " +
      "windows on one side of the change stay routed") {
    import graft.streaming.MetricStreamIngest
    import graft.streaming.RemoteWrite.HistogramSample
    val eng = freshEngine()
    def h(host: String, ts: Long, schema: Int, buckets: Seq[(Int, Double)]) =
      HistogramSample("lat", Map("host" -> host), ts,
        count = buckets.map(_._2).sum, sum = 0.0, schema = schema,
        zeroThreshold = 0.001, zeroCount = 0.0,
        positiveBuckets = buckets, negativeBuckets = Nil)
    // hour buckets 0 and 1 at schema 1; a scrape-config change flips the
    // series to schema 0 from hour 2 on (mixed ACROSS buckets, uniform
    // within each — refresh would have downscaled a within-bucket mix)
    MetricStreamIngest.ingestHistograms(eng, spark, Seq(
      h("a", 10 * 60000L, 1, Seq((2, 2.0), (4, 1.0))),
      h("a", 50 * 60000L, 1, Seq((2, 5.0), (4, 3.0))),
      h("a", hour + 30 * 60000L, 1, Seq((2, 7.0), (4, 4.0))),
      h("a", 2 * hour + 10 * 60000L, 0, Seq((1, 8.0), (2, 5.0))),
      h("a", 3 * hour + 40 * 60000L, 0, Seq((1, 9.0), (2, 7.0)))))
    val hr = new HistogramRollup(eng, gridMs = hour)
    hr.refresh()
    assert(hr.isFresh)
    eng.registerHistogramRollup(hr)
    val T = 4 * hour
    val q = """histogram_quantile(0.5, rate(lat[4h]))"""
    // the window spans the change: must NOT error, must match raw exactly
    val df = eng.instantPromQL(q, T)
    assert(!df.queryExecution.executedPlan.toString.contains("_hrollup_"),
      "schema-mixed window must route to raw")
    val got = df.collect()
      .map(r => (r.getAs[String]("host"), r.getAs[Double]("value"))).toMap
    val exp = NativeHistograms.quantile(
      NativeHistograms.increase(
        eng.queryHistograms("lat", TimeRange(1L, T + 1))), Seq(0.5))
      .collect().map { r =>
        val (_, ls) = MetricEngine.parseSeriesKey(r.getAs[String]("series_key"))
        ls("host") -> r.getAs[Double]("value")
      }.toMap
    assert(got.keySet == exp.keySet, got.toString)
    exp.foreach { case (k, v) =>
      assert(math.abs(got(k) - v) < 1e-9, s"$k: raw $v routed ${got(k)}") }
    // a window entirely on ONE side of the change still routes
    val routedDf = eng.queryPromQL(
      """histogram_quantile(0.5, rate(lat[1h]))""", TimeRange(0L, 2 * hour))
    assert(routedDf.queryExecution.executedPlan.toString.contains("_hrollup_"),
      "uniform-schema window should stay routed")
    // and the RANGE shape spanning the change falls back without erroring
    val rangeDf = eng.queryPromQL(
      """histogram_quantile(0.5, rate(lat[1h]))""", TimeRange(0L, 4 * hour))
    assert(!rangeDf.queryExecution.executedPlan.toString.contains("_hrollup_"))
    assert(rangeDf.collect().nonEmpty)
  }

  test("RollupScheduler refreshes histogram rollups alongside scalar " +
      "ones; a failing lane counts and surfaces, then clears") {
    import graft.streaming.MetricStreamIngest
    import graft.streaming.RemoteWrite.HistogramSample
    val eng = freshEngine()
    write(eng, Seq(("a", 1000L, 1.0), ("a", hour + 1, 2.0)))
    MetricStreamIngest.ingestHistograms(eng, spark, Seq(
      HistogramSample("lat", Map("host" -> "a"), 1000L, count = 3,
        sum = 4.5, schema = 0, zeroThreshold = 0.0, zeroCount = 0,
        positiveBuckets = Seq((1, 3.0)), negativeBuckets = Nil)))
    val r = new Rollup(eng, gridMs = hour)
    val hr = new HistogramRollup(eng, gridMs = hour)
    val sched = new RollupScheduler(Seq(r), histRollups = Seq(hr))
    assert(!r.isFresh && !hr.isFresh)
    sched.runOnce()
    assert(r.isFresh && hr.isFresh)
    assert(sched.refreshFailuresTotal == 0 && sched.lastRefreshError.isEmpty)
    // a poisoned lane (unreadable store root) fails, counts, surfaces —
    // and the healthy lanes still refresh on the same tick
    MetricStreamIngest.ingestHistograms(eng, spark, Seq(
      HistogramSample("lat", Map("host" -> "a"), 2000L, count = 5,
        sum = 9.0, schema = 0, zeroThreshold = 0.0, zeroCount = 0,
        positiveBuckets = Seq((1, 5.0)), negativeBuckets = Nil)))
    val broken = new HistogramRollup(eng, gridMs = 2 * hour) {
      override def refresh(): Rollup.RefreshStats =
        throw new RuntimeException("poisoned lane")
    }
    val sched2 = new RollupScheduler(Nil, histRollups = Seq(hr, broken))
    sched2.runOnce()
    assert(hr.isFresh)
    assert(sched2.refreshFailuresTotal == 1)
    assert(sched2.lastRefreshError.exists(_.contains("poisoned")))
  }

  test("native histogram queries at two windows leave no CacheManager " +
      "entry behind") {
    import graft.streaming.MetricStreamIngest
    import graft.streaming.RemoteWrite.HistogramSample
    val eng = freshEngine()
    MetricStreamIngest.ingestHistograms(eng, spark, (1 to 4).map(i =>
      HistogramSample("lat", Map("host" -> "a"), i * 60000L,
        count = 3.0 * i, sum = 0.0, schema = 0, zeroThreshold = 0.001,
        zeroCount = 0, positiveBuckets = Seq((1, 1.0 * i), (2, 2.0 * i)),
        negativeBuckets = Nil)))
    import org.apache.spark.sql.GraftTestShims.cachedEntries
    val before = cachedEntries(spark)
    for (w <- Seq("2m", "3m")) assert(eng.instantPromQL(
      s"histogram_quantile(0.5, rate(lat[$w]))", 4 * 60000L).collect()
      .nonEmpty, w)
    assert(cachedEntries(spark) == before)
  }
}
