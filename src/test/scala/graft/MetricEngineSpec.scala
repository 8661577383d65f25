package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.metric._
import graft.storage.TimeRange

/** Mirrors the RFC worked example (docs/rfcs/20240827-metric-engine.md:140-179):
  * two http_requests series over labels url/code/job → 1 metrics row,
  * 2 series rows, 6 tags rows, 6 index rows; plus the two-step read path. */
class MetricEngineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def engine(): MetricEngine =
    new MetricEngine(spark, Files.createTempDirectory("graft-metric").toString,
      segmentMs = 12L * 3600 * 1000)

  private val day = 1723680000000L // 2024-08-15 epoch ms

  private def rfcSamples = {
    import spark.implicits._
    Seq(
      Sample("http_requests",
        Map("url" -> "/api/put", "code" -> "200", "job" -> "proxy"), day, 100.0),
      Sample("http_requests",
        Map("url" -> "/api/query", "code" -> "200", "job" -> "proxy"), day, 10.0)
    ).toDF()
  }

  test("ingest populates the RFC table cardinalities") {
    val e = engine()
    e.write(rfcSamples)
    assert(e.metrics.scan().count() == 1)
    assert(e.series.scan().count() == 2)
    assert(e.tags.scan().count() == 4)   // distinct (key,value): 2 urls + code + job
    assert(e.index.scan().count() == 6)
    assert(e.data.scan().count() == 2)
  }

  test("two-step label lookup narrows to the right series") {
    val e = engine()
    e.write(rfcSamples)
    val got = e.query(MetricQuery("http_requests",
      labelFilters = Map("url" -> "/api/put"))).collect()
    assert(got.length == 1 && got(0).getDouble(0) == 100.0)
    // AND of two labels — one matching, one not
    val none = e.query(MetricQuery("http_requests",
      labelFilters = Map("url" -> "/api/put", "code" -> "500"))).collect()
    assert(none.head.isNullAt(0) || none.isEmpty) // sum over empty set
  }

  test("group-by-tag aggregation (sum by url)") {
    val e = engine()
    e.write(rfcSamples)
    val got = e.query(MetricQuery("http_requests", groupByTag = Some("url")))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(got == Map("/api/put" -> 100.0, "/api/query" -> 10.0))
  }

  test("TSID joins broadcast only while small (SURVEY §2.3 adaptive hint)") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    def hintCount(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collect { case h: ResolvedHint => h }.size
    val e = engine()
    e.write(rfcSamples)
    val q = MetricQuery("http_requests",
      labelFilters = Map("url" -> "/api/put"), groupByTag = Some("url"))
    val hinted = e.query(q)
    assert(hintCount(hinted) > 0, "small TSID sets should carry the broadcast hint")
    spark.conf.set("graft.broadcastMaxBytes", "0")
    try {
      // over-cap: no hint — the join shape is AQE's call, never a forced
      // driver collect of an unbounded TSID set
      val unhinted = e.query(q)
      assert(hintCount(unhinted) == 0)
      assert(unhinted.collect().toSet == hinted.collect().toSet)
    } finally spark.conf.unset("graft.broadcastMaxBytes")
  }

  test("bucketed data-table ingest: N SSTs per segment, queries unchanged") {
    import spark.implicits._
    val many = (1 to 64).map(i =>
      Sample("http_requests", Map("url" -> s"/api/$i"), day, i.toDouble)).toDF()
    val single = engine()
    single.write(many)
    val bucketed = new MetricEngine(spark,
      Files.createTempDirectory("graft-metric").toString,
      segmentMs = 12L * 3600 * 1000, dataBuckets = 4)
    bucketed.write(many)
    assert(bucketed.data.manifest.allSsts().size == 4) // one segment, 4 buckets
    assert(single.data.manifest.allSsts().size == 1)
    val q = MetricQuery("http_requests", groupByTag = Some("url"))
    def run(e: MetricEngine) =
      e.query(q).collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(run(bucketed) == run(single))
  }

  test("last-write-wins on duplicate (series, ts) across writes") {
    import spark.implicits._
    val e = engine()
    e.write(rfcSamples)
    e.write(Seq(Sample("http_requests",
      Map("url" -> "/api/put", "code" -> "200", "job" -> "proxy"), day, 777.0)).toDF())
    val got = e.query(MetricQuery("http_requests",
      labelFilters = Map("url" -> "/api/put"))).collect()
    assert(got(0).getDouble(0) == 777.0)
  }

  test("rate over a counter series with reset") {
    import spark.implicits._
    val e = engine()
    val base = day
    val counter = Seq(10.0, 20.0, 35.0, 5.0, 12.0).zipWithIndex.map { case (v, i) =>
      Sample("reqs_total", Map("job" -> "api"), base + i * 1000L, v)
    }
    e.write(counter.toDF())
    // increase = 10 + 15 + 5(reset: full value) + 7 = 37
    val got = e.query(MetricQuery("reqs_total", agg = MetricAgg.Sum, rate = true))
      .collect()
    assert(got(0).getDouble(0) == 37.0)
  }

  test("time-range query prunes to the requested window") {
    import spark.implicits._
    val e = engine()
    val samples = (0 until 10).map(i =>
      Sample("m", Map("k" -> "v"), day + i * 60000L, i.toDouble))
    e.write(samples.toDF())
    val got = e.query(MetricQuery("m", agg = MetricAgg.Count,
      range = TimeRange(day, day + 5 * 60000L))).collect()
    assert(got(0).getDouble(0) == 5.0)
  }

  test("sort_by_label joins ALL its label arguments; label_replace " +
      "preserves the existing dst on regex non-match") {
    import spark.implicits._
    val e = engine()
    e.write(Seq(
      Sample("m", Map("env" -> "prod", "zone" -> "b"), day, 1.0),
      Sample("m", Map("env" -> "dev", "zone" -> "a"), day, 2.0)).toDF())
    val r = TimeRange(day, day + 1000L)
    // one label: must not throw (was args(1) IndexOutOfBounds); order by env
    val one = e.queryPromQL("""sort_by_label(m{zone=~".+"}, "env")""", r)
      .collect().map(_.getAs[Double]("value")).toSeq
    assert(one == Seq(2.0, 1.0)) // dev before prod
    // two labels: both must be joined (zone drives the order here)
    val two = e.queryPromQL("""sort_by_label(m{env=~".+"}, "zone", "env")""", r)
      .collect().map(_.getAs[Double]("value")).toSeq
    assert(two == Seq(2.0, 1.0)) // zone a before zone b
    // label_replace non-match: env must come back "prod"/"dev", not ""
    val kept = e.queryPromQL(
      """label_replace(m{zone="b"}, "env", "$1", "nosuch", "(.+)")""", r)
      .collect().map(_.getAs[String]("env")).toSeq
    assert(kept == Seq("prod"), s"existing dst lost: $kept")
  }

  test("labels named like structural columns: ts/tsid group correctly on " +
      "the fast path; irreconcilable names fail fast with a clear message") {
    import spark.implicits._
    val e = engine()
    e.write(Seq(
      Sample("m", Map("tsid" -> "a", "ts" -> "t1"), day, 1.0),
      Sample("m", Map("tsid" -> "b", "ts" -> "t1"), day, 2.0)).toDF())
    val r = TimeRange(day, day + 1000L)
    // a label literally named "tsid" (legal Prometheus) must not collide
    // with the frame's tsid column in the fast path's index join
    val byTsid = e.queryPromQL("""sum by (tsid) (m{ts="t1"})""", r)
      .collect().map(row => row.getAs[String]("tsid") ->
        row.getAs[Double]("value")).toMap
    assert(byTsid == Map("a" -> 1.0, "b" -> 2.0))
    // same for "ts"
    val byTs = e.queryPromQL("""sum by (ts) (m{tsid="a"})""", r)
      .collect().map(row => row.getAs[String]("ts") ->
        row.getAs[Double]("value")).toMap
    assert(byTs == Map("t1" -> 1.0))
    // "value" as a group label cannot be represented in the flat output
    // frame on either path: clear error, not a duplicate-column blowup
    val e1 = intercept[IllegalArgumentException](
      e.queryPromQL("""sum by (value) (m{ts="t1"})""", r).collect())
    assert(e1.getMessage.contains("value"))
    // index-exact regexes take the fast path too (round 10), which
    // represents a "tsid" group label fine — values, not an error
    val byTsidRe = e.queryPromQL("""sum by (tsid) (m{ts=~"t.*"})""", r)
      .collect().map(row => row.getAs[String]("tsid") ->
        row.getAs[Double]("value")).toMap
    assert(byTsidRe == Map("a" -> 1.0, "b" -> 2.0))
    // the general path (negative matcher) rejects reserved names clearly
    val e2 = intercept[IllegalArgumentException](
      e.queryPromQL("""sum by (tsid) (m{ts!="zzz"})""", r).collect())
    assert(e2.getMessage.contains("structural"))
  }

  test("labelsKey (Scala) and labelsKeyColumn (Spark) agree byte-for-byte, " +
      "including supplementary-plane label names") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val sets: Seq[Map[String, String]] = Seq(
      Map.empty,
      Map("b" -> "2", "a" -> "1"),
      Map("a" -> "1,b=2"),
      // U+10000 vs U+E000: UTF-16 sorts them opposite to UTF-8 byte order
      Map(new String(Character.toChars(0x10000)) -> "hi", "\uE000" -> "lo"),
      // the SEPARATOR control chars themselves, in values and names \u2014
      // escaped by both forms, identically
      Map("a" -> "1\u0001b\u00022", "x\u0000y" -> "\u0000"),
      Map("job" -> "x", "host" -> "h0", "mode" -> "user"))
    val df = sets.zipWithIndex.map { case (m, i) => (i, m) }.toDF("i", "labels")
    val viaColumn = df.select(col("i"),
        graft.metric.MetricEngine.labelsKeyColumn(col("labels")))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    sets.zipWithIndex.foreach { case (m, i) =>
      assert(viaColumn(i) == graft.metric.MetricEngine.labelsKey(m),
        s"key drift for $m")
    }
  }

  test("series keys escape the separator control chars: a value containing " +
      "\\u0001/\\u0002 can neither collide with a distinct label set nor " +
      "crash the key parser") {
    import graft.metric.MetricEngine.{labelsKey, parseSeriesKey}
    // the classic injection: {a="1\u0001b\u00022"} vs {a="1", b="2"}
    val packed = Map("a" -> "1\u0001b\u00022")
    val split = Map("a" -> "1", "b" -> "2")
    assert(labelsKey(packed) != labelsKey(split),
      "distinct label sets produced one series key \u2014 tsid collision")
    // parse round-trips every component, including bare \u0001 in values
    for (labels <- Seq(packed, split, Map("v" -> "x\u0001y"),
        Map("k\u0002" -> "\u0000\u0001\u0002"), Map.empty[String, String])) {
      val key = "m" + labelsKey(labels)
      assert(parseSeriesKey(key) == (("m", labels)), s"round trip: $labels")
    }
    // ordinary keys are byte-identical to the pre-escaping form: existing
    // stored tsids are unaffected
    assert(labelsKey(split) == "\u0001a\u00021\u0001b\u00022")
  }

  // Round-12 verdict task 1: the series-matcher walk must run distributed
  // — index-exact matchers through the tag index, residual (!~/!=) as a
  // Spark filter over the decoded series_key — never collecting the
  // per-metric series dictionary to the driver.
  private def highCardEngine(): (MetricEngine, Seq[Sample]) = {
    import spark.implicits._
    val e = engine()
    val samples = (0 until 500).map { i =>
      Sample("hc_metric",
        Map("shard" -> s"s${i % 50}", "host" -> f"h$i%03d") ++
          (if (i % 3 == 0) Map("zone" -> s"z${i % 4}") else Map.empty),
        day + i, i.toDouble)
    }
    e.write(samples.toDF())
    (e, samples)
  }

  test("readRaw with mixed exact + residual matchers matches the " +
      "driver-side reference on a 500-series fixture; its series frame " +
      "is a catalog LocalTableScan under the cap, and the above-cap arm " +
      "stages no series keys on the driver") {
    import graft.promql.{LabelMatcher, MatchOp}
    val (e, samples) = highCardEngine()
    val matchers = Seq(
      LabelMatcher("__name__", MatchOp.Eq, "hc_metric"),
      LabelMatcher("shard", MatchOp.Re, "s1.*"), // index-exact
      LabelMatcher("zone", MatchOp.Nre, "z[01]")) // residual; absent matches
    val df = e.readRaw(matchers, TimeRange(Long.MinValue, Long.MaxValue))
    val plan = df.queryExecution.executedPlan.toString
    // the catalog's local frame reaches its broadcast as the job-free
    // LocalBroadcastSource that replaces its LocalTableScan
    assert(plan.contains("LocalBroadcastSource"),
      s"series walk did not read the catalog:\n$plan")
    // the above-cap arm: distributed, no driver-staged keys, same series
    val mid = e.metrics.scan().collect()(0).getAs[Long]("metric_id")
    val distributed = e.matchedSeriesFrame(None, mid, matchers.tail)
    assert(!distributed.queryExecution.executedPlan.toString
      .contains("LocalTableScan"))
    def keys(f: org.apache.spark.sql.DataFrame) =
      f.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(keys(distributed) ==
      keys(e.matchedSeriesFrame(e.loadedCatalog(), mid, matchers.tail)))
    def m(v: String, re: String) = v.matches("^(?:" + re + ")$")
    val expect = samples.filter { s =>
      m(s.labels.getOrElse("shard", ""), "s1.*") &&
        !m(s.labels.getOrElse("zone", ""), "z[01]")
    }.map(s => (s.timestamp, s.value)).sorted
    assert(expect.nonEmpty && expect.size < samples.size)
    val got = df.collect()
      .map(r => (r.getAs[Long]("ts_ms"), r.getAs[Double]("value")))
      .toSeq.sorted
    assert(got == expect)
  }

  test("seriesFor matches distributed and honors the limit cap") {
    val (e, samples) = highCardEngine()
    val sel = """hc_metric{zone!~"z[02]"}"""
    val full = e.seriesFor(sel, limit = 100000)
    def m(v: String, re: String) = v.matches("^(?:" + re + ")$")
    val expect = samples.filter(s => !m(s.labels.getOrElse("zone", ""), "z[02]"))
    assert(full.size == expect.size)
    assert(full.forall(ls => !m(ls.getOrElse("zone", ""), "z[02]") &&
      ls("__name__") == "hc_metric"))
    val capped = e.seriesFor(sel, limit = 25)
    assert(capped.size == 25)
    // capped result is a prefix of the full key-ordered result
    assert(capped == full.take(25))
  }

  test("broad __name__ regex: plan size and driver staging stay bounded " +
      "(one scan + names semi-join, no per-name union), results exact; " +
      "few-name regexes keep pruned per-metric branches") {
    import spark.implicits._
    import graft.promql.{LabelMatcher, MatchOp}
    val e = engine()
    val names = (0 until 40).map(i => f"fed_metric_$i%02d")
    e.write(names.zipWithIndex.flatMap { case (n, i) =>
      Seq(Sample(n, Map("host" -> "a"), day + i, i.toDouble),
        Sample(n, Map("host" -> "b"), day + 1000 + i, i + 0.5))
    }.toDF())
    val all = TimeRange(Long.MinValue, Long.MaxValue)
    // 40 matched names > fanout cap -> the single-scan + semi-join plan
    val broad = e.readRaw(Seq(
      LabelMatcher("__name__", MatchOp.Re, "fed_metric_.*"),
      LabelMatcher("host", MatchOp.Eq, "a")), all)
    val plan = broad.queryExecution.executedPlan.toString
    assert(!plan.contains("Union"),
      s"broad name regex built a per-name union plan:\n$plan")
    val got = broad.collect().map(_.getAs[Double]("value")).toSeq.sorted
    assert(got == (0 until 40).map(_.toDouble))
    // 3 matched names <= cap -> pruned per-metric branches (a Union)
    val narrow = e.readRaw(Seq(
      LabelMatcher("__name__", MatchOp.Re, "fed_metric_0[0-2]"),
      LabelMatcher("host", MatchOp.Eq, "b")), all)
    assert(narrow.queryExecution.executedPlan.toString.contains("Union"))
    assert(narrow.collect().map(_.getAs[Double]("value")).toSeq.sorted
      == Seq(0.5, 1.5, 2.5))
    // seriesFor over the same broad regex: one limit-capped job count
    // (constant, independent of the matched-name count)
    val group = "sf-broad-" + System.nanoTime()
    spark.sparkContext.setJobGroup(group, "seriesFor broad")
    val series = try e.seriesFor("""{__name__=~"fed_metric_.*"}""", limit = 15)
      finally spark.sparkContext.clearJobGroup()
    assert(series.size == 15)
    assert(series == series.sortBy(m => (m("__name__"), m("host"))))
    val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    assert(jobs <= 6, s"seriesFor ran $jobs jobs for a 40-name regex")
  }

  test("PromQL evaluator: broad __name__ regex runs ONE scan semi-joined " +
      "on the matched series (no per-name union), results exact; narrow " +
      "regexes keep pruned branches; label-key count adds no joins") {
    import spark.implicits._
    val e = engine()
    val names = (0 until 40).map(i => f"ev_metric_$i%02d")
    e.write(names.zipWithIndex.flatMap { case (n, i) =>
      Seq(Sample(n, Map("host" -> "a", "zone" -> "z1"), day + i, i.toDouble),
        Sample(n, Map("host" -> "b", "zone" -> "z2"), day + 1000 + i, 100.0 + i))
    }.toDF())
    val all = TimeRange(Long.MinValue, Long.MaxValue)
    // 40 matched names > fanout cap -> the single-scan evaluator frame
    val broad = e.queryPromQL(
      """sum by (__name__) ({__name__=~"ev_metric_.*", host="a"})""", all)
    val plan = broad.queryExecution.executedPlan.toString
    assert(!plan.contains("Union"),
      s"broad evaluator regex built a per-name union plan:\n$plan")
    val got = broad.collect()
      .map(r => (r.getAs[String]("__name__"), r.getAs[Double]("value"))).toMap
    assert(got == names.zipWithIndex
      .map { case (n, i) => n -> i.toDouble }.toMap)
    // 3 matched names <= cap -> statically-pruned per-metric branches
    val narrow = e.queryPromQL(
      """sum by (__name__) ({__name__=~"ev_metric_0[0-2]", host="b"})""", all)
    assert(narrow.queryExecution.executedPlan.toString.contains("Union"))
    assert(narrow.collect().map(_.getAs[Double]("value")).toSeq.sorted
      == Seq(100.0, 101.0, 102.0))
    // label attach is ONE index join however many keys the query
    // references: same selector, 1 vs 2 grouping labels, equal join count
    def joinCount(q: String): Int =
      e.queryPromQL(q, all).queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.length
    val j1 = joinCount("sum by (host) (ev_metric_00)")
    val j2 = joinCount("sum by (host, zone) (ev_metric_00)")
    assert(j1 == j2, s"label-key count changed the join count: $j1 vs $j2")
    // and the values still come out right through the map-decode path
    val byTwo = e.queryPromQL("sum by (host, zone) (ev_metric_00)", all)
      .collect().map(r => (r.getAs[String]("host"), r.getAs[String]("zone"),
        r.getAs[Double]("value"))).toSet
    assert(byTwo == Set(("a", "z1", 0.0), ("b", "z2", 100.0)))
    // COMPOSED worst case (round 15): capped name regex × without(...) ×
    // sliding range mode — the three individually-pinned caps at once
    // (the shape an "all recording rules" dashboard panel issues). The
    // plan must stay the single-scan shape (no per-name Union) and its
    // logical node count must stay small and FLAT in the matched-name
    // count — pinned against the 3-name composition of the same query.
    spark.conf.set("graft.promql.rangeWindows", "sliding")
    try {
      def composedNodes(re: String): (Int, String) = {
        val df = e.queryPromQL(
          s"""sum without (zone) (rate({__name__=~"$re"}[1s]))""",
          TimeRange(day - 2000, day + 4000), Some(1000L))
        val p = df.queryExecution.optimizedPlan
        (p.collect { case n => n }.length, p.toString)
      }
      val (broadN, broadPlan) = composedNodes("ev_metric_.*")   // 40 names
      val (narrowN, _) = composedNodes("ev_metric_0[0-2]")      // 3 names
      assert(!broadPlan.contains("Union"),
        s"composed broad-regex plan built a per-name union:\n$broadPlan")
      // flat: the 40-name plan may not exceed the 3-name plan by more
      // than the fixed semi-join scaffolding (narrow keeps 3 pruned
      // branches, so it is the larger shape in node terms)
      assert(broadN <= narrowN + 10,
        s"composed plan grew with matched names: broad=$broadN narrow=$narrowN")
      assert(broadN <= 60,
        s"composed plan node count blew up: $broadN\n$broadPlan")
    } finally spark.conf.unset("graft.promql.rangeWindows")
  }

  test("capped labelValues/labelKeys over the catalog: no job, same answers") {
    val (e, samples) = highCardEngine()
    // load the driver dictionaries first (one scan each, once per engine)
    assert(e.loadedCatalog().isDefined)
    e.labelValues("__name__").collect()
    val group = "discovery-" + System.nanoTime()
    spark.sparkContext.setJobGroup(group, "capped discovery")
    def values(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getString(0)).toSeq
    val allKeys = (samples.flatMap(_.labels.keys) :+ "__name__")
      .distinct.sorted
    try {
      // the catalog arm sorts and takes on the driver
      assert(values(e.labelValues("host", 5)) ==
        samples.flatMap(_.labels.get("host")).distinct.sorted.take(5))
      // uncapped arm still answers the full sorted dictionary
      assert(values(e.labelValues("zone")) ==
        samples.flatMap(_.labels.get("zone")).distinct.sorted)
      // __name__ routes to the metric-name dictionary
      assert(values(e.labelValues("__name__", 10)) == Seq("hc_metric"))
      // labelKeys (the /api/v1/labels no-selector arm) is capped alike
      assert(values(e.labelKeys(2)) == allKeys.take(2))
      assert(values(e.labelKeys()) == allKeys)
    } finally spark.sparkContext.clearJobGroup()
    val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    assert(jobs == 0, s"catalog-arm discovery ran $jobs jobs")
  }

  test("regex matchers are exactly anchored end-to-end: a label value " +
      "with a trailing newline never matches its newline-less pattern") {
    import spark.implicits._
    val e = engine()
    e.write(Seq(
      Sample("m", Map("h" -> "a"), day, 1.0),
      Sample("m", Map("h" -> "a\n"), day, 2.0)).toDF())
    // index-exact positive regex (indexExactTsids' rlike arm)
    val raw = e.readRaw(Seq(
        graft.promql.LabelMatcher("__name__", graft.promql.MatchOp.Eq, "m"),
        graft.promql.LabelMatcher("h", graft.promql.MatchOp.Re, "a")),
      TimeRange(Long.MinValue, Long.MaxValue)).collect()
    assert(raw.map(_.getAs[Double]("value")).toSeq == Seq(1.0))
    // evaluator matcherPredicate path
    val ev = e.queryPromQL("""m{h=~"a"}""",
      TimeRange(Long.MinValue, Long.MaxValue)).collect()
    assert(ev.map(_.getAs[Double]("value")).toSeq == Seq(1.0))
  }

  test("sliding range windows (opt-in): rate evaluates per-step (T-w, T] " +
      "windows with in-window chaining; tumbling stays the default") {
    import spark.implicits._
    val e = engine()
    e.write(Seq(
      Sample("m", Map("h" -> "a"), 3000L, 1.0),
      Sample("m", Map("h" -> "a"), 8000L, 4.0),
      Sample("m", Map("h" -> "a"), 12000L, 9.0),
      Sample("m", Map("h" -> "a"), 18000L, 11.0),
      Sample("m", Map("h" -> "a"), 23000L, 2.0), // counter reset
      Sample("m", Map("h" -> "a"), 27000L, 5.0)).toDF())
    val range = TimeRange(10000L, 30000L)
    // default: step 5s against window 10s is rejected (tumbling rule)
    intercept[IllegalArgumentException](
      e.queryPromQL("rate(m[10s])", range, Some(5000L)))
    spark.conf.set("graft.promql.rangeWindows", "sliding")
    try {
      val got = e.queryPromQL("rate(m[10s])", range, Some(5000L))
        .collect()
        .map(r => r.getAs[Long]("bucket_ms") -> r.getAs[Double]("value"))
        .toMap
      // T=10000 (0,10000]: 1→4 = 3/10s; T=15000 (5000,15000]: 4→9 = 5;
      // T=20000 (10000,20000]: 9→11 = 2; T=25000 (15000,25000]: 11→2
      // reset → 2; the 27000 sample has no grid T below the range end
      assert(got == Map(10000L -> 0.3, 15000L -> 0.5, 20000L -> 0.2,
        25000L -> 0.2), got.toString)
      // sum by over sliding rate keeps the same grid
      val summed = e.queryPromQL("""sum by (h) (rate(m[10s]))""",
          range, Some(5000L))
        .collect()
        .map(r => (r.getAs[String]("h"), r.getAs[Long]("bucket_ms"),
          r.getAs[Double]("value"))).toSet
      assert(summed == Set(("a", 10000L, 0.3), ("a", 15000L, 0.5),
        ("a", 20000L, 0.2), ("a", 25000L, 0.2)), summed.toString)
    } finally spark.conf.unset("graft.promql.rangeWindows")
  }

  test("sliding subqueries: the inner expression evaluates on its own " +
      "epoch-aligned step grid with pinned windows; inner window need " +
      "not equal the subquery step") {
    import spark.implicits._
    val e = engine()
    e.write(Seq(
      Sample("m", Map("h" -> "a"), 3000L, 1.0),
      Sample("m", Map("h" -> "a"), 8000L, 4.0),
      Sample("m", Map("h" -> "a"), 12000L, 9.0),
      Sample("m", Map("h" -> "a"), 18000L, 11.0),
      Sample("m", Map("h" -> "a"), 23000L, 2.0), // counter reset
      Sample("m", Map("h" -> "a"), 27000L, 5.0)).toDF())
    val range = TimeRange(22000L, 33000L)
    val q = "max_over_time(rate(m[10s])[10s:5s])"
    // tumbling default: inner window 10s ≠ subquery step 5s is rejected
    // (the inner timeline is bucketized by the step)
    intercept[IllegalArgumentException](
      e.queryPromQL(q, range, Some(5000L)))
    spark.conf.set("graft.promql.rangeWindows", "sliding")
    try {
      // inner rate at epoch-aligned t (window (t-10s, t], in-window
      // chaining): t=20000 → 0.2; t=25000 → reset → 0.2; t=30000 → 0.3.
      // outer max over (T-10s, T]: T=25000 → max(0.2, 0.2) = 0.2;
      // T=30000 → max(0.2, 0.3) = 0.3.
      val got = e.queryPromQL(q, range, Some(5000L))
        .collect()
        .map(r => r.getAs[Long]("bucket_ms") -> r.getAs[Double]("value"))
        .toMap
      assert(got == Map(25000L -> 0.2, 30000L -> 0.3), got.toString)
      // sliding widens the sample read by the TOTAL lookback (subquery
      // window + inner window): a range starting right after the newest
      // sample still sees inner steps fed by samples 2 windows back
      val tail = e.queryPromQL(q, TimeRange(28000L, 33000L), Some(5000L))
        .collect()
        .map(r => r.getAs[Long]("bucket_ms") -> r.getAs[Double]("value"))
        .toMap
      assert(tail == Map(30000L -> 0.3), tail.toString)
    } finally spark.conf.unset("graft.promql.rangeWindows")
  }

  test("UTF-8 metric names end to end: an OTLP-style dotted name ingests, " +
      "serves through the quoted-selector syntax, and groups by __name__") {
    import spark.implicits._
    val e = engine()
    e.write(Seq(
      Sample("http.server.duration", Map("job" -> "api"), day, 4.0),
      Sample("http.server.duration", Map("job" -> "api"), day + 1000, 6.0),
      Sample("http.server.duration", Map("job" -> "worker"), day, 1.5),
      Sample("plain_metric", Map("job" -> "api"), day, 9.0)).toDF())
    val all = TimeRange(Long.MinValue, Long.MaxValue)
    val got = e.queryPromQL(
        """sum by (job) ({"http.server.duration"})""", all)
      .collect().map(r => r.getAs[String]("job") -> r.getAs[Double]("value"))
      .toMap
    assert(got == Map("api" -> 10.0, "worker" -> 1.5))
    // name regex across classic + dotted names via the evaluator
    val byName = e.queryPromQL(
        """sum by (__name__) ({__name__=~"http.*|plain.*"})""", all)
      .collect()
      .map(r => r.getAs[String]("__name__") -> r.getAs[Double]("value"))
      .toMap
    assert(byName == Map("http.server.duration" -> 11.5,
      "plain_metric" -> 9.0))
    // exotic label NAMES in exact matchers stay value-level (index
    // semi-join fast path) — they work; no such label ingested -> empty
    assert(e.queryPromQL(
      """{"http.server.duration", "http.verb"="GET"}""", all)
      .collect().isEmpty)
    // a shape that must BIND the label to a flat column (general path:
    // non-index-exact matcher pulls it into the label frame) WORKS too
    // (round 15): the evaluator carries labels positionally, so the
    // dotted name never becomes a parsed Spark column reference. The
    // label was never ingested, so != "GET" matches the absent-label ""
    // on every series of the metric.
    val neg = e.queryPromQL(
      """sum by (job) ({"http.server.duration", "http.verb"!="GET"})""",
      all).collect()
      .map(r => r.getAs[String]("job") -> r.getAs[Double]("value")).toMap
    assert(neg == Map("api" -> 10.0, "worker" -> 1.5))
  }

  test("UTF-8 label NAMES through the evaluator (round 15): dotted OTLP " +
      "attributes as grouping labels, quoted-name matchers, without(), " +
      "and binary-op matching — output schema keyed by the real names") {
    import spark.implicits._
    val e = engine()
    e.write(Seq(
      Sample("req", Map("service.name" -> "api", "host.name" -> "h1"),
        day, 4.0),
      Sample("req", Map("service.name" -> "api", "host.name" -> "h2"),
        day + 1000, 6.5),
      Sample("req", Map("service.name" -> "worker", "host.name" -> "h1"),
        day, 1.25),
      Sample("cap", Map("service.name" -> "api"), day, 10.0),
      Sample("cap", Map("service.name" -> "worker"), day, 5.0)).toDF())
    val all = TimeRange(Long.MinValue, Long.MaxValue)
    // quoted grouping label; output column IS the dotted name
    val bySvc = e.queryPromQL(
        """sum by ("service.name") (req{"host.name"=~"h[0-9]"})""", all)
      .collect()
      .map(r => r.getAs[String]("service.name") -> r.getAs[Double]("value"))
      .toMap
    assert(bySvc == Map("api" -> 10.5, "worker" -> 1.25))
    // without() over dotted label names: drops host.name, keeps
    // service.name as a real output column
    val wo = e.queryPromQL("""sum without ("host.name") (req)""", all)
    assert(wo.columns.contains("service.name"))
    assert(wo.collect()
      .map(r => r.getAs[String]("service.name") -> r.getAs[Double]("value"))
      .toMap == Map("api" -> 10.5, "worker" -> 1.25))
    // binary-operator matching ON a dotted label across two metrics
    val ratio = e.queryPromQL(
        """sum by ("service.name") (req) / on("service.name") sum by ("service.name") (cap)""",
        all).collect()
      .map(r => r.getAs[String]("service.name") -> r.getAs[Double]("value"))
      .toMap
    assert(ratio == Map("api" -> 1.05, "worker" -> 0.25))
    // adversarial names: backtick, escaped quote, space, dot in ONE
    // label name — the quoting helper must escape backticks or the
    // backtick-quoted reference itself would unbalance
    val gnarly = "a`b\"c d.e"
    e.write(Seq(
      Sample("gn", Map(gnarly -> "x"), day, 2.0),
      Sample("gn", Map(gnarly -> "y"), day, 3.0)).toDF())
    val sel = "gn{\"a`b\\\"c d.e\"=~\"x|y\"}"
    val gq = e.queryPromQL(s"""sum by ("a`b\\"c d.e") ($sel)""", all)
    assert(gq.columns.contains(gnarly))
    assert(gq.collect()
      .map(r => r.getAs[String](gnarly) -> r.getAs[Double]("value")).toMap
      == Map("x" -> 2.0, "y" -> 3.0))
    // the structural-output collision still fails fast (a label named
    // "value" cannot ride the flat result frames)
    e.write(Seq(
      Sample("vbad", Map("value" -> "x"), day, 1.0)).toDF())
    val ex = intercept[IllegalArgumentException](
      e.queryPromQL("""sum by ("value") (vbad)""", all))
    assert(ex.getMessage.contains("collide"))
    // and on the general path (regex matcher forces the evaluator)
    val ex2 = intercept[IllegalArgumentException](
      e.queryPromQL("""sum by ("value") (vbad{"value"=~"x|y"})""", all))
    assert(ex2.getMessage.contains("collide") ||
      ex2.getMessage.contains("structural"))
  }

  test("sliding subqueries NEST past depth 2: a subquery-of-subquery " +
      "recurses the inner context (each level its own epoch-aligned " +
      "grid, lookback widening compounds)") {
    import spark.implicits._
    val e = engine()
    e.write(Seq(
      Sample("m", Map("h" -> "a"), 3000L, 1.0),
      Sample("m", Map("h" -> "a"), 8000L, 4.0),
      Sample("m", Map("h" -> "a"), 12000L, 9.0),
      Sample("m", Map("h" -> "a"), 18000L, 11.0),
      Sample("m", Map("h" -> "a"), 23000L, 2.0), // counter reset
      Sample("m", Map("h" -> "a"), 27000L, 5.0)).toDF())
    val q = "min_over_time(max_over_time(rate(m[10s])[10s:5s])[20s:10s])"
    val range = TimeRange(22000L, 42000L)
    spark.conf.set("graft.promql.rangeWindows", "sliding")
    try {
      // inner rate on the 5s grid ((t-10s, t], chained reset-aware):
      //   5000→0.0, 10000→0.3, 15000→0.5, 20000→0.2, 25000→0.2 (reset),
      //   30000→0.3, 35000→0.0
      // mid max_over_time on the 10s grid over (T-10s, T] of those:
      //   10000→0.3, 20000→0.5, 30000→0.3, 40000→0.0
      // outer min_over_time at step 10s over (T-20s, T] of the mid points:
      //   30000→min(0.5, 0.3)=0.3, 40000→min(0.3, 0.0)=0.0
      val got = e.queryPromQL(q, range, Some(10000L)).collect()
        .map(r => r.getAs[Long]("bucket_ms") -> r.getAs[Double]("value"))
        .toMap
      assert(got == Map(30000L -> 0.3, 40000L -> 0.0), got.toString)
    } finally spark.conf.unset("graft.promql.rangeWindows")
  }

  test("sliding mode clamps stepped non-range output to the requested " +
      "range: absent() over a widened read emits no pre-range buckets") {
    import spark.implicits._
    val e = engine()
    e.write(Seq(Sample("m", Map("h" -> "a"), 3000L, 1.0)).toDF())
    spark.conf.set("graft.promql.rangeWindows", "sliding")
    try {
      val buckets = e.queryPromQL("absent(rate(nope[10s]))",
          TimeRange(20000L, 40000L), Some(5000L))
        .collect().map(_.getAs[Long]("bucket_ms")).toSeq.sorted
      assert(buckets.nonEmpty, "absent() should fire for a missing metric")
      assert(buckets.forall(b => b >= 20000L && b < 40000L),
        s"buckets leaked outside the requested range: $buckets")
    } finally spark.conf.unset("graft.promql.rangeWindows")
  }

  test("series registration is idempotent: re-delivery adds no meta rows, " +
      "a half-known batch registers only its new series, and a reopened " +
      "engine sees every series and registers nothing twice") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-metric-reg").toString
    def batch(hosts: Seq[String], at: Long) = hosts.flatMap(h => (0 until 3).map(i =>
      Sample("reg_total", Map("host" -> h, "mode" -> "user"), at + i * 1000L, i)))
    // stored rows, not merged ones: a duplicate registration would show
    def stored(e: MetricEngine) = Seq(e.metrics, e.series, e.tags, e.index)
      .map(_.manifest.allSsts().map(_.numRows).sum)
    val e = new MetricEngine(spark, root)
    val first = batch(Seq("a", "b", "c", "d"), day)
    e.write(first.toDF())
    val registered = stored(e)
    // metrics 1, series 4, tags 4 hosts + mode=user, index 4 × 2 labels
    assert(registered == Seq(1, 4, 5, 8))
    // re-delivery, driver-local and distributed: no meta rows
    e.write(first.toDF())
    e.write(first.toDF().repartition(2))
    assert(stored(e) == registered)
    // half known, half new: only e and f register
    e.write(batch(Seq("c", "d", "e", "f"), day + 60000L).toDF())
    val (_, series, tags, index) = stored(e) match {
      case Seq(m, s, t, i) => (m, s, t, i)
    }
    assert(series == 4 + 2 && index == 8 + 2 * 2)
    assert(tags <= 5 + 3 && e.tags.scan().count() == 4 + 2 + 1)
    assert(e.metrics.scan().count() == 1 && e.series.scan().count() == 6)

    // a fresh engine on the same root sees every series ...
    val reopened = new MetricEngine(spark, root)
    val hosts = reopened.query(MetricQuery("reg_total", agg = MetricAgg.Count,
      groupByTag = Some("host"))).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(hosts == Map("a" -> 3.0, "b" -> 3.0, "c" -> 6.0, "d" -> 6.0,
      "e" -> 3.0, "f" -> 3.0))
    // ... and its first write registers nothing twice, only what is new
    val before = stored(reopened)
    reopened.write(batch(Seq("a", "b", "c", "d", "e", "f"), day + 120000L).toDF())
    assert(stored(reopened) == before)
    reopened.write(batch(Seq("f", "g"), day + 180000L).toDF())
    assert(stored(reopened)(1) == before(1) + 1 && stored(reopened)(3) == before(3) + 2)
    assert(reopened.series.scan().count() == 7)
    assert(reopened.data.scan().count() == 4 * 3 + 4 * 3 + 6 * 3 + 2 * 3)
  }
  test("series catalog == distributed index/series arm: random label sets " +
      "(absent labels, dotted UTF-8 names, key escape characters in " +
      "values) under =, !=, =~, !~ and empty-matching regex matchers") {
    import spark.implicits._
    import graft.promql.{LabelMatcher, MatchOp}
    val e = engine()
    val rnd = new scala.util.Random(20261019L)
    val keys = Seq("a", "svc.name", "zö.ne", "b")
    val values = Seq("x", "xy", "x\u0001y", "\u0000", "v\u0002", "\u00002",
      "p.q", "ü", "")
    val samples = for (m <- Seq("cat_a", "cat_b"); i <- 0 until 40) yield
      Sample(m, keys.filter(_ => rnd.nextDouble() < 0.6)
          .map(k => k -> values(rnd.nextInt(values.size))).toMap + ("i" -> s"$i"),
        day + i, i.toDouble)
    e.write(samples.toDF())
    val cat = e.loadedCatalog()
    assert(cat.exists(_.size == 80))
    val mids = e.metrics.scan().collect()
      .map(r => r.getAs[String]("metric_name") -> r.getAs[Long]("metric_id")).toMap
    val patterns = Seq("x.*", "", ".*", "(x.*)?", "x\u0001y|p\\.q", "[^x].*", "ü|v.")
    def matcher(): LabelMatcher = {
      val k = keys(rnd.nextInt(keys.size))
      rnd.nextInt(4) match {
        case 0 => LabelMatcher(k, MatchOp.Eq, values(rnd.nextInt(values.size)))
        case 1 => LabelMatcher(k, MatchOp.Ne, values(rnd.nextInt(values.size)))
        case 2 => LabelMatcher(k, MatchOp.Re, patterns(rnd.nextInt(patterns.size)))
        case _ => LabelMatcher(k, MatchOp.Nre, patterns(rnd.nextInt(patterns.size)))
      }
    }
    def exact(m: LabelMatcher) = m.op match {
      case MatchOp.Eq => m.value.nonEmpty
      case MatchOp.Re => !"".matches(s"^(?:${m.value})$$")
      case _ => false
    }
    def rows(f: org.apache.spark.sql.DataFrame) =
      f.collect().map(_.toSeq).sortBy(_.toString).toSeq
    val mid = mids("cat_a")
    val labelKeys = keys :+ "i"
    var nonEmpty = 0
    for (_ <- 0 until 16) {
      val ms = Seq.fill(1 + rnd.nextInt(2))(matcher())
      val clue = ms.mkString(", ")
      val local = e.matchedSeriesFrame(cat, mid, ms)
      val dist = e.matchedSeriesFrame(None, mid, ms)
      assert(rows(local) == rows(dist), clue)
      val both = Seq(mids("cat_a"), mids("cat_b"))
      assert(rows(e.matchedSeriesFrameAll(cat, Some(both), both.toDF("metric_id"), ms)) ==
        rows(e.matchedSeriesFrameAll(None, None, both.toDF("metric_id"), ms)), clue)
      val ex = ms.filter(exact)
      if (ex.nonEmpty)
        assert(rows(e.indexExactTsids(cat, mid, ex)) ==
          rows(e.indexExactTsids(None, mid, ex)), clue)
      // decoded labels of every matched series: catalog vs index rows
      val matched = local.collect().map(_.getLong(0)).toSet
      if (matched.nonEmpty) nonEmpty += 1
      def labelsOf(f: org.apache.spark.sql.DataFrame) = f.collect()
        .map(r => r.getLong(0) -> r.getMap[String, String](1).toMap).toMap
      val fromCat = labelsOf(e.labelMapFrame(cat, mid, labelKeys, "l"))
      val fromIndex = labelsOf(e.labelMapFrame(None, mid, labelKeys, "l"))
      matched.foreach(t => assert(fromCat(t) == fromIndex.getOrElse(t, Map.empty), clue))
    }
    assert(nonEmpty >= 4, s"only $nonEmpty matcher sets matched any series")
  }

  test("a query racing registerSeries sees the old or the new series " +
      "set, never part of a batch") {
    import spark.implicits._
    val e = engine()
    def batch(b: Int) = (0 until 5).map(i =>
      Sample("race_total", Map("b" -> s"$b", "i" -> s"$i"), day + b, 1.0))
    e.write(batch(0).toDF())
    val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
    val writer = new Thread(() => (1 to 6).foreach(b => e.write(batch(b).toDF())))
    writer.start()
    while (writer.isAlive) seen += e.seriesFor("race_total", limit = 1000).size
    writer.join()
    seen += e.seriesFor("race_total", limit = 1000).size
    assert(seen.forall(_ % 5 == 0), seen.distinct)
    assert(seen == seen.sorted && seen.last == 35, seen.distinct)
  }
}
