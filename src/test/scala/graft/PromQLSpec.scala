package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.metric._
import graft.promql._
import graft.storage.TimeRange

/** PromQL text surface: parser AST, flat-frame evaluation (PromQLContext),
  * and the engine two-step path (MetricEngine.queryPromQL) — the reference
  * RFC's sum+rate scope (20220702-prometheus-read-extension.md:78-99)
  * generalized. */
class PromQLSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  // ------------------------------------------------------------------ parser

  test("parser: '^' power — right-associative, above every binop AND above " +
      "unary minus; literal^literal folds with Go Pow edge rules") {
    // right-assoc: 2^3^2 = 2^(3^2) = 512 (folds to a literal)
    assert(PromQLParser.parse("cpu * 2^3^2") ==
      BinOp("*", Selector("cpu", Nil), NumLit(512.0)))
    // '^' outranks unary minus: -2^2 = -(2^2) = -4
    assert(PromQLParser.parse("cpu + -2^2") ==
      BinOp("+", Selector("cpu", Nil), NumLit(-4.0)))
    // and outranks '*': cpu * 2^3 multiplies by 8, not (cpu*2)^3
    assert(PromQLParser.parse("cpu * 2 ^ 3") ==
      BinOp("*", Selector("cpu", Nil), NumLit(8.0)))
    // vector operand stays a BinOp and round-trips through the printer
    val vp = PromQLParser.parse("cpu ^ 2")
    assert(vp == BinOp("^", Selector("cpu", Nil), NumLit(2.0)))
    assert(PromQLParser.parse(PromQLPrinter.print(vp)) == vp)
    // Go Pow edge rules at fold time: 1^NaN = 1 (Java's Math.pow says NaN)
    assert(PromQLParser.goPow(1.0, Double.NaN) == 1.0)
    assert(PromQLParser.goPow(-1.0, Double.PositiveInfinity) == 1.0)
    assert(PromQLParser.goPow(2.0, 10.0) == 1024.0)
  }

  test("parser: full shape with grouping, range fn, matchers, compound duration") {
    val ast = PromQLParser.parse(
      """sum by (dc) (rate(requests_total{env="prod", dc!~"eu.*", code=~"5\\d\\d"}[1h30m]))""")
    assert(ast == Agg(MetricAgg.Sum, Seq("dc"),
      RangeFn(RangeF.Rate,
        Selector("requests_total", Seq(
          LabelMatcher("env", MatchOp.Eq, "prod"),
          LabelMatcher("dc", MatchOp.Nre, "eu.*"),
          LabelMatcher("code", MatchOp.Re, "5\\d\\d"))),
        90 * 60 * 1000L)))
  }

  test("parser: by clause after the body; bare selector; empty matcher set") {
    assert(PromQLParser.parse("max(cpu) by (host)") ==
      Agg(MetricAgg.Max, Seq("host"), Selector("cpu", Nil)))
    assert(PromQLParser.parse("cpu{}") == Selector("cpu", Nil))
    assert(PromQLParser.parse("up") == Selector("up", Nil))
  }

  test("parser: Prometheus 3 UTF-8 selectors — a bare quoted element is " +
      "the metric name, quoted label names parse, duplicates reject") {
    assert(PromQLParser.parse("""{"http.server.duration"}""") ==
      Selector("http.server.duration", Nil))
    assert(PromQLParser.parse("""{"http.server.duration", job="api"}""") ==
      Selector("http.server.duration",
        Seq(LabelMatcher("job", MatchOp.Eq, "api"))))
    // position is free (canonicalization lifts the single __name__ Eq)
    assert(PromQLParser.parse("""{job="api", "metric name"}""") ==
      Selector("metric name", Seq(LabelMatcher("job", MatchOp.Eq, "api"))))
    // quoted LABEL names are accepted syntax ({"job"="api"} == job="api")
    assert(PromQLParser.parse("""{"job"="api", "http.verb"!="GET"}""") ==
      Selector("", Seq(LabelMatcher("job", MatchOp.Eq, "api"),
        LabelMatcher("http.verb", MatchOp.Ne, "GET"))))
    // escapes inside the quoted name
    assert(PromQLParser.parse("""{"with \"quote\""}""") ==
      Selector("with \"quote\"", Nil))
    // a quoted name element next to a classic metric name is a duplicate
    intercept[PromQLParseException](
      PromQLParser.parse("""cpu{"other.name"}"""))
    // two quoted name elements too
    intercept[PromQLParseException](
      PromQLParser.parse("""{"a", "b"}"""))
    // empty quoted elements must not canonicalize into match-all
    intercept[PromQLParseException](PromQLParser.parse("""{""}"""))
    intercept[PromQLParseException](
      PromQLParser.parse("""{"", job="api"}"""))
    intercept[PromQLParseException](PromQLParser.parse("""{""="x"}"""))
    // {__name__=""} stays a MATCHER (matches nothing — no series has an
    // empty name), never a lifted match-all metric
    assert(PromQLParser.parse("""{__name__="", job="api"}""") ==
      Selector("", Seq(LabelMatcher("__name__", MatchOp.Eq, ""),
        LabelMatcher("job", MatchOp.Eq, "api"))))
  }

  test("parser: Prometheus 3 quoted label names in grouping/matching " +
      "lists — by/without/on/ignoring/group_left — and printer round trip") {
    assert(PromQLParser.parse("""sum by ("service.name") (req)""") ==
      Agg(MetricAgg.Sum, Seq("service.name"), Selector("req", Nil)))
    assert(PromQLParser.parse("""sum without ("host.name", job) (req)""") ==
      Agg(MetricAgg.Sum, Seq("host.name", "job"), Selector("req", Nil),
        without = true))
    val binop = PromQLParser.parse(
      """a / on("service.name") group_left("host.name") b""")
    binop match {
      case BinOp("/", _, _, false, Some(vm)) =>
        assert(vm.on && vm.labels == Seq("service.name"))
        assert(vm.include == Seq("host.name"))
      case other => fail(other.toString)
    }
    // empty quoted label names reject
    intercept[PromQLParseException](
      PromQLParser.parse("""sum by ("") (req)"""))
    // printer quotes non-classic names in lists so the round trip is exact
    for (q <- Seq("""sum by ("service.name") (req)""",
        """sum without ("host.name",job) (req)""",
        """a / on("service.name") group_left("host.name") b""",
        """topk by ("svc.zone") (3, req)""")) {
      val ast = PromQLParser.parse(q)
      assert(PromQLParser.parse(PromQLPrinter.print(ast)) == ast,
        s"round trip failed for $q -> ${PromQLPrinter.print(ast)}")
    }
  }

  test("parser: agg names are contextual keywords — sum{...} is a metric") {
    assert(PromQLParser.parse("""sum{a="b"}""") ==
      Selector("sum", Seq(LabelMatcher("a", MatchOp.Eq, "b"))))
    assert(PromQLParser.parse("count(sum)") ==
      Agg(MetricAgg.Count, Nil, Selector("sum", Nil)))
  }

  test("parser: every duration unit") {
    def win(s: String) =
      PromQLParser.parse(s"increase(c[$s])").asInstanceOf[RangeFn].windowMs
    assert(win("500ms") == 500L)
    assert(win("90s") == 90000L)
    assert(win("2m") == 120000L)
    assert(win("1h") == 3600000L)
    assert(win("1d") == 86400000L)
    assert(win("1w") == 604800000L)
  }

  test("parser: parameterized aggregations topk/bottomk/quantile") {
    assert(PromQLParser.parse("topk(3, cpu)") ==
      ParamAgg(ParamOp.TopK, 3.0, Nil, Selector("cpu", Nil)))
    assert(PromQLParser.parse("""quantile by (dc) (0.9, rate(reqs[5m]))""") ==
      ParamAgg(ParamOp.Quantile, 0.9, Seq("dc"),
        RangeFn(RangeF.Rate, Selector("reqs", Nil), 300000L)))
    assert(PromQLParser.parse("bottomk(2, cpu) by (host)") ==
      ParamAgg(ParamOp.BottomK, 2.0, Seq("host"), Selector("cpu", Nil)))
    assertThrows[PromQLParseException](PromQLParser.parse("topk(0, cpu)"))
    assertThrows[PromQLParseException](PromQLParser.parse("topk(1.5, cpu)"))
    assertThrows[PromQLParseException](PromQLParser.parse("quantile(1.2, cpu)"))
    assertThrows[PromQLParseException](PromQLParser.parse("topk(cpu, 3)"))
  }

  test("context: topk/bottomk rank rows per bucket group; quantile interpolates") {
    val ctx = ctxOf(Seq(
      Row("cpu", "a", "us", 0L, 1.0), Row("cpu", "b", "us", 1L, 5.0),
      Row("cpu", "c", "us", 2L, 3.0), Row("cpu", "d", "eu", 3L, 4.0),
      Row("cpu", "a", "us", H, 9.0), Row("cpu", "b", "us", H + 1, 2.0)))
    // selector output is (dc, host, ts_ms, value) + appended bucket_ms
    val top2 = ctx.sql("topk(2, cpu)", stepMs = Some(H)).collect()
      .map(r => (r.getLong(4), r.getString(1))).toSet // (bucket, host)
    assert(top2 == Set((0L, "b"), (0L, "d"), (H, "a"), (H, "b")))
    val bottom1 = ctx.sql("bottomk(1, cpu)", stepMs = Some(H)).collect()
      .map(r => (r.getLong(4), r.getString(1))).toSet
    assert(bottom1 == Set((0L, "a"), (H, "b")))
    // global top-k without step: TakeOrdered path
    val g = ctx.sql("topk(2, cpu)").collect().map(_.getString(1)).toSet
    assert(g == Set("a", "b")) // 9.0 and 5.0
    val q = ctx.sql("quantile(0.5, cpu)", stepMs = Some(H)).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(q == Map(0L -> 3.5, H -> 5.5)) // medians of (1,3,4,5) and (2,9)
  }

  test("parser: limitk/limit_ratio — negative ratio allowed, bounds checked") {
    assert(PromQLParser.parse("limitk(5, cpu)") ==
      ParamAgg(ParamOp.LimitK, 5.0, Nil, Selector("cpu", Nil)))
    assert(PromQLParser.parse("limit_ratio(-0.5, cpu)") ==
      ParamAgg(ParamOp.LimitRatio, -0.5, Nil, Selector("cpu", Nil)))
    assertThrows[PromQLParseException](PromQLParser.parse("limitk(0, cpu)"))
    assertThrows[PromQLParseException](PromQLParser.parse("limitk(1.5, cpu)"))
    assertThrows[PromQLParseException](PromQLParser.parse("limit_ratio(0, cpu)"))
    assertThrows[PromQLParseException](PromQLParser.parse("limit_ratio(1.3, cpu)"))
  }

  test("context: limitk picks deterministically per bucket; limit_ratio and " +
      "its negative complement partition the input exactly") {
    val ctx = ctxOf(Seq(
      Row("cpu", "a", "us", 0L, 1.0), Row("cpu", "b", "us", 1L, 5.0),
      Row("cpu", "c", "us", 2L, 3.0), Row("cpu", "d", "eu", 3L, 4.0),
      Row("cpu", "a", "us", H, 9.0), Row("cpu", "b", "us", H + 1, 2.0)))
    val lim = ctx.sql("limitk(2, cpu)", stepMs = Some(H)).collect()
      .map(r => (r.getLong(4), r.getString(1))).toSet
    // deterministic pick: ordered by (dc, host, ts_ms) — "eu"/d precedes
    // the "us" rows in bucket 0
    assert(lim == Set((0L, "d"), (0L, "a"), (H, "a"), (H, "b")))
    val all = ctx.sql("cpu").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val keep = ctx.sql("limit_ratio(0.4, cpu)").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val drop = ctx.sql("limit_ratio(-0.6, cpu)").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(keep.toSet.intersect(drop.toSet).isEmpty)
    assert((keep ++ drop).sorted.toSeq == all.sorted.toSeq)
    // series-consistency: a host is all-in or all-out across its samples
    val inHosts = keep.map(_._2).toSet
    assert(drop.map(_._2).toSet.intersect(inHosts).isEmpty)
  }

  test("parser: scalar()/vector()/time() parse; time takes no argument") {
    assert(PromQLParser.parse("scalar(sum(cpu))") ==
      FnCall("scalar", Agg(MetricAgg.Sum, Nil, Selector("cpu", Nil))))
    assert(PromQLParser.parse("vector(1)") == FnCall("vector", NumLit(1.0)))
    assert(PromQLParser.parse("time()") == FnCall("time", NumLit(0.0)))
    assertThrows[PromQLParseException](PromQLParser.parse("time(cpu)"))
  }

  test("context: scalar() combines per step against the vector's full " +
      "identity; NaN when the child is not single-element; vector()/time() " +
      "emit step grids") {
    val ctx = ctxOf(Seq(
      Row("cpu", "a", "us", 0L, 1.0), Row("cpu", "b", "us", 1L, 3.0),
      Row("cpu", "a", "us", H, 2.0)))
    // share-of-total: labels survive (the generic match path would
    // collapse them to the bucket key)
    val shareDf = ctx.sql("cpu / scalar(sum(cpu))", stepMs = Some(H))
    val share = shareDf.collect()
      .map(r => (r.getAs[Long]("bucket_ms"), r.getAs[String]("host"),
        r.getAs[Double]("value"))).toSet
    assert(share == Set((0L, "a", 0.25), (0L, "b", 0.75), (H, "a", 1.0)))
    // scalar over a multi-element child is NaN per affected step (bucket 0
    // has two samples; bucket H's single sample stays valid); comparisons
    // drop NaN rows and the H row compares 2.0 > 2.0 = false
    val nan = ctx.sql("cpu / scalar(cpu)", stepMs = Some(H)).collect()
      .map(r => (r.getAs[Long]("bucket_ms"), r.getAs[Double]("value")))
    assert(nan.count { case (b, v) => b == 0L && v.isNaN } == 2)
    assert(nan.toSet.contains((H, 1.0)))
    assert(ctx.sql("cpu > scalar(cpu)", stepMs = Some(H)).collect().isEmpty)
    // vector(n): one label-less sample per step over the bounded range
    val v = ctx.sql("vector(7)", stepMs = Some(H),
        range = Some(TimeRange(0L, 3 * H))).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(v == Set((0L, 7.0), (H, 7.0), (2 * H, 7.0)))
    // time(): bucket start seconds
    val t = ctx.sql("time()", stepMs = Some(H),
        range = Some(TimeRange(0L, 2 * H))).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(t == Set((0L, 0.0), (H, 3600.0)))
    // scalar ∘ scalar arithmetic joins on the step bucket
    val ss = ctx.sql("scalar(sum(cpu)) + scalar(sum(cpu))", stepMs = Some(H))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(ss == Map(0L -> 8.0, H -> 4.0))
  }

  test("parser: binary operators with Prometheus precedence") {
    assert(PromQLParser.parse("a + b * c") ==
      BinOp("+", Selector("a", Nil),
        BinOp("*", Selector("b", Nil), Selector("c", Nil))))
    assert(PromQLParser.parse("(a + b) * 2") ==
      BinOp("*", BinOp("+", Selector("a", Nil), Selector("b", Nil)), NumLit(2.0)))
    assert(PromQLParser.parse("sum(a) / sum(b) > 0.5") ==
      BinOp(">",
        BinOp("/", Agg(MetricAgg.Sum, Nil, Selector("a", Nil)),
          Agg(MetricAgg.Sum, Nil, Selector("b", Nil))),
        NumLit(0.5)))
  }

  test("parser + context: unary minus folds literals, binds tighter than *") {
    assert(PromQLParser.parse("-5") == NumLit(-5.0))
    assert(PromQLParser.parse("+5") == NumLit(5.0))
    assert(PromQLParser.parse("--5") == NumLit(5.0))
    // (-a) * 2, NOT -(a * 2): unary outranks every binary operator
    assert(PromQLParser.parse("-a * 2") ==
      BinOp("*", BinOp("-", NumLit(0.0), Selector("a", Nil)), NumLit(2.0)))
    assert(PromQLParser.parse("+a") == Selector("a", Nil))
    val ctx = ctxOf(Seq(
      Row("cpu", "a", "us", 0L, 0.2), Row("cpu", "b", "us", 0L, 0.8)))
    val neg = ctx.sql("-cpu * 10").collect()
      .map(r => (r.getString(1), r.getDouble(3))).toSet
    assert(neg == Set(("a", -2.0), ("b", -8.0)))
    assertThrows[IllegalArgumentException](ctx.sql("-(3)")) // scalar-only
  }

  test("context: absent_over_time emits 1.0 exactly for the empty buckets") {
    val ctx = ctxOf(Seq(
      Row("cpu", "a", "us", 0L, 1.0),          // hour 0 present
      Row("cpu", "a", "us", 3 * H + 1, 2.0)))  // hour 3 present
    val absent = ctx.sql("absent_over_time(cpu[1h])",
        range = Some(graft.storage.TimeRange(0L, 4 * H)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(absent == Set((H, 1.0), (2 * H, 1.0)))  // hours 1, 2 empty
    // matchers narrow the selection: host b never reports -> all 4 absent
    assert(ctx.sql("""absent_over_time(cpu{host="b"}[1h])""",
      range = Some(graft.storage.TimeRange(0L, 4 * H))).count() == 4)
    // unbounded range and mismatched step fail loudly
    assertThrows[IllegalArgumentException](
      ctx.sql("absent_over_time(cpu[1h])"))
    assertThrows[IllegalArgumentException](
      ctx.sql("absent_over_time(cpu[1h])", stepMs = Some(2 * H),
        range = Some(graft.storage.TimeRange(0L, 4 * H))))
  }

  test("count_values renders Go strconv 'f' label text; absent()/" +
      "absent_over_time reconstruct `=` matcher labels (round 12)") {
    val ctx = ctxOf(Seq(
      Row("cpu", "a", "us", 0L, 2.0),
      Row("cpu", "b", "us", 0L, 2.0),
      Row("cpu", "a", "us", 1L, 0.0000001),
      Row("cpu", "a", "us", 2L, 12300000.0),
      Row("cpu", "a", "us", 3L, 2.5),
      Row("cpu", "a", "us", 4L, -1.5E21)))
    val cv = ctx.sql("""count_values("v", cpu)""").collect()
      .map(r => r.getAs[String]("v") -> r.getAs[Double]("value")).toMap
    // "2" not "2.0", plain decimal at any magnitude, never E-notation
    assert(cv == Map("2" -> 2.0, "0.0000001" -> 1.0, "12300000" -> 1.0,
      "2.5" -> 1.0, "-1500000000000000000000" -> 1.0), cv.toString)
    // absent: = matchers become literal labels; regex / duplicate-=
    // labels drop (Prometheus createLabelsForAbsentFunction)
    val ab = ctx.sql("""absent(cpu{host="zzz", dc=~"e.*"})""").collect()
    assert(ab.length == 1)
    assert(ab.head.getAs[String]("host") == "zzz")
    assert(!ab.head.schema.fieldNames.contains("dc"))
    val abOt = ctx.sql("""absent_over_time(cpu{host="zzz"}[1h])""",
      range = Some(graft.storage.TimeRange(0L, 2 * H))).collect()
    assert(abOt.length == 2 && abOt.forall(_.getAs[String]("host") == "zzz"))
  }

  test("context: stddev/stdvar/mad over time") {
    val ctx = ctxOf(Seq(
      Row("cpu", "a", "us", 0L, 1.0), Row("cpu", "a", "us", 1L, 3.0),
      Row("cpu", "a", "us", H, 1.0), Row("cpu", "a", "us", H + 1, 2.0),
      Row("cpu", "a", "us", H + 2, 4.0), Row("cpu", "a", "us", H + 3, 8.0)))
    def vals(q: String): Map[Long, Double] = ctx.sql(q).collect()
      .map(r => r.getLong(r.fieldIndex("bucket_ms")) ->
        r.getDouble(r.fieldIndex("value"))).toMap
    // hour 0: {1,3} -> pop var 1; hour 1: {1,2,4,8} -> mean 3.75, var 7.1875
    val sd = vals("stddev_over_time(cpu[1h])")
    assert(sd(0L) == 1.0 && math.abs(sd(H) - math.sqrt(7.1875)) < 1e-12)
    val sv = vals("stdvar_over_time(cpu[1h])")
    assert(sv(0L) == 1.0 && math.abs(sv(H) - 7.1875) < 1e-12)
    // mad hour 0: med 2, devs {1,1} -> 1; hour 1: med 3 (interp), devs
    // sorted {1,1,2,5} -> interpolated median 1.5
    val md = vals("mad_over_time(cpu[1h])")
    assert(md(0L) == 1.0 && md(H) == 1.5)
    // single-sample bucket: mad = 0, stddev = 0
    val one = ctxOf(Seq(Row("cpu", "a", "us", 0L, 5.0)))
    assert(one.sql("mad_over_time(cpu[1h])").collect().head
      .getDouble(3) == 0.0)
    assert(one.sql("stddev_over_time(cpu[1h])").collect().head
      .getDouble(3) == 0.0)
  }

  test("context: scalar arithmetic maps values; comparisons filter rows") {
    val ctx = ctxOf(Seq(
      Row("cpu", "a", "us", 0L, 0.2), Row("cpu", "b", "us", 0L, 0.8)))
    val scaled = ctx.sql("cpu * 100").collect()
      .map(r => (r.getString(1), r.getDouble(3))).toSet
    assert(scaled == Set(("a", 20.0), ("b", 80.0)))
    val hot = ctx.sql("cpu > 0.5").collect().map(_.getString(1)).toSet
    assert(hot == Set("b"))
    assertThrows[IllegalArgumentException](ctx.sql("2 + 2"))
  }

  test("context: vector/vector ops match on shared label and bucket columns") {
    val ctx = ctxOf(Seq(
      Row("err", "a", "us", 0L, 1.0), Row("err", "b", "us", 0L, 3.0),
      Row("req", "a", "us", 0L, 10.0), Row("req", "b", "us", 0L, 10.0),
      Row("err", "a", "us", H, 5.0), Row("req", "a", "us", H, 10.0)))
    val ratio = ctx.sql("sum by (host) (err) / sum by (host) (req)",
      stepMs = Some(H)).collect()
      .map(r => ((r.getString(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(ratio == Map(("a", 0L) -> 0.1, ("b", 0L) -> 0.3, ("a", H) -> 0.5))
    // ungrouped singletons: cross join
    val total = ctx.sql("sum(err) / sum(req)").collect()
    assert(total.length == 1 && total.head.getDouble(0) == 9.0 / 30.0)
    // comparison between vectors keeps lhs rows where the predicate holds
    val bad = ctx.sql("sum by (host) (err) >= sum by (host) (req) * 0.25",
      stepMs = Some(H)).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(bad == Set(("b", 0L), ("a", H)))
  }

  test("parser: rejects malformed input with positions") {
    for (bad <- Seq("sum by (dc) (cpu) by (dc)", "cpu{env=prod}", "cpu[5m",
        "rate(cpu[5x])", "cpu{env=\"p", "cpu up", "sum()", ""))
      assertThrows[PromQLParseException](PromQLParser.parse(bad))
  }

  test("parser: offset, over_time fns, bool, on/ignoring, without, fns, histq") {
    assert(PromQLParser.parse("cpu offset 5m") == Selector("cpu", Nil, 300000L))
    assert(PromQLParser.parse("""rate(cpu{dc="us"}[5m] offset 1h)""") ==
      RangeFn(RangeF.Rate,
        Selector("cpu", Seq(LabelMatcher("dc", MatchOp.Eq, "us")), 3600000L),
        300000L))
    assert(PromQLParser.parse("avg_over_time(cpu[30m])") ==
      RangeFn(RangeF.AvgOverTime, Selector("cpu", Nil), 1800000L))
    assert(PromQLParser.parse("last_over_time(cpu[1h])") ==
      RangeFn(RangeF.LastOverTime, Selector("cpu", Nil), 3600000L))
    assert(PromQLParser.parse("a > bool b") ==
      BinOp(">", Selector("a", Nil), Selector("b", Nil), bool = true))
    assert(PromQLParser.parse("a / on(host) b") ==
      BinOp("/", Selector("a", Nil), Selector("b", Nil), false,
        Some(VectorMatch(on = true, Seq("host")))))
    assert(PromQLParser.parse("a * ignoring(dc) group_left(role) b") ==
      BinOp("*", Selector("a", Nil), Selector("b", Nil), false,
        Some(VectorMatch(on = false, Seq("dc"), Some(GroupSide.Left), Seq("role")))))
    assert(PromQLParser.parse("a == bool on() b") ==
      BinOp("==", Selector("a", Nil), Selector("b", Nil), bool = true,
        Some(VectorMatch(on = true, Nil))))
    assert(PromQLParser.parse("sum without (host) (cpu)") ==
      Agg(MetricAgg.Sum, Seq("host"), Selector("cpu", Nil), without = true))
    assert(PromQLParser.parse("clamp(cpu, 0, 10)") ==
      FnCall("clamp", Selector("cpu", Nil), Seq(0.0, 10.0)))
    assert(PromQLParser.parse("round(sum(cpu), 0.5)") ==
      FnCall("round", Agg(MetricAgg.Sum, Nil, Selector("cpu", Nil)), Seq(0.5)))
    assert(PromQLParser.parse("histogram_quantile(0.9, rate(h_bucket[5m]))") ==
      HistogramQuantile(0.9, RangeFn(RangeF.Rate, Selector("h_bucket", Nil), 300000L)))
    for (bad <- Seq("a + bool b", "a group_left b", "topk without (h) (3, cpu)",
        "cpu offset", "round(cpu, 1, 2)", "clamp(cpu)", "sum without () (cpu)",
        "histogram_quantile(1.5, x)"))
      assertThrows[PromQLParseException](PromQLParser.parse(bad))
  }

  // ----------------------------------------------------------------- context

  private val samplesSchema = StructType(Seq(
    StructField("m", StringType), StructField("host", StringType),
    StructField("dc", StringType), StructField("tms", LongType),
    StructField("v", DoubleType)))

  private def ctxOf(rows: Seq[Row]): PromQLContext = {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), samplesSchema)
    new PromQLContext(df, "m", col("tms"), "v",
      Map("host" -> "host", "dc" -> "dc"), ordering = Seq(col("tms")))
  }

  private val H = 3600000L

  test("sqlInstant: windowless = newest sample per series within lookback " +
      "(stale series drop); windowed = exact sliding (T-w, T] window") {
    val ctx = ctxOf(Seq(
      Row("cpu", "a", "us", 0L, 1.0), Row("cpu", "a", "us", H, 4.0),
      Row("cpu", "b", "us", H / 2, 10.0),
      // stale: last sample 3h before the eval time
      Row("cpu", "c", "us", -2 * H, 100.0),
      Row("mem", "a", "us", H, 7.0)))
    val T = H + 1000L
    // aggregation over latest-per-series: a→4 (not 1+4), b→10, c stale out
    val sum = ctx.sqlInstant("sum(cpu)", T, lookbackMs = 2 * H)
      .collect().map(_.getAs[Double]("value")).toSeq
    assert(sum == Seq(14.0), sum.toString)
    // raw selector keeps the actual sample timestamps
    val raw = ctx.sqlInstant("cpu", T, lookbackMs = 2 * H).collect()
      .map(r => (r.getAs[String]("host"), r.getAs[Long]("ts_ms"),
        r.getAs[Double]("value"))).toSet
    assert(raw == Set(("a", H, 4.0), ("b", H / 2, 10.0)), raw.toString)
    // a tight lookback drops everything: the ungrouped aggregate keeps
    // the evaluator's SQL convention (one null-value row — the serving
    // edge filters nulls into an empty vector); the grouped form is empty
    val none = ctx.sqlInstant("sum(cpu)", -3 * H, lookbackMs = 1000L).collect()
    assert(none.length == 1 && none(0).isNullAt(none(0).fieldIndex("value")))
    assert(ctx.sqlInstant("sum by (host) (cpu)", -3 * H, lookbackMs = 1000L)
      .collect().isEmpty)
    // windowed: EXACT sliding (T-w, T] window at the unaligned eval time
    // (round 11 — no tumbling approximation). Window (1000, 1h+1000]:
    // series a sees only its h-sample (the t=0 one is outside) → single
    // sample, increase 0; series b single sample → 0; stale c excluded.
    val inc = ctx.sqlInstant("increase(cpu[1h])", T)
      .collect().map(r => (r.getAs[String]("host"),
        r.getAs[Double]("value"))).toMap
    assert(inc == Map("a" -> 0.0, "b" -> 0.0), inc.toString)
    // widen the window so both of a's samples fall inside (T-2h, T]:
    // reset-aware increase 4-1 = 3 — the value Prometheus reports at T
    val inc2 = ctx.sqlInstant("increase(cpu[2h])", T, lookbackMs = 2 * H)
      .collect().map(r => (r.getAs[String]("host"),
        r.getAs[Double]("value"))).toMap
    assert(inc2 == Map("a" -> 3.0, "b" -> 0.0), inc2.toString)
    // grouped windowed: time-pinned output, one row per group
    val gw = ctx.sqlInstant("sum by (dc) (increase(cpu[2h]))", T,
      lookbackMs = 2 * H)
    assert(gw.columns.toSet == Set("dc", "value"))
    val gwRows = gw.collect()
    assert(gwRows.length == 1 && gwRows(0).getAs[Double]("value") == 3.0)
  }

  test("instant-selector @ and start()/end(): m @ t desugars to a boundary-" +
      "inclusive pinned lookback; sentinels resolve against the query range") {
    // parse shapes: m @ t = last_over_time(m[5m] @ t+1ms); start()/end()
    // parse to sentinels resolved only at the entry points
    assert(PromQLParser.parse("cpu @ 5") ==
      AtRange(RangeF.LastOverTime, Selector("cpu", Nil), 300000L, 5001L))
    assert(PromQLParser.parse("cpu offset 1m @ 5") ==
      AtRange(RangeF.LastOverTime, Selector("cpu", Nil, 60000L), 300000L, 5001L))
    assert(PromQLParser.hasAtSentinel(PromQLParser.parse("rate(cpu[1m] @ start())")))
    assert(PromQLParser.hasAtSentinel(PromQLParser.parse("sum(cpu @ end())")))
    assertThrows[PromQLParseException](PromQLParser.parse("cpu @ nope"))

    val T = 10 * H
    val ctx = ctxOf(Seq(
      Row("cpu", "a", "us", 2 * H, 3.0), Row("cpu", "a", "us", T, 9.0),
      Row("cpu", "b", "us", 2 * H - 60000L, 4.0)))
    // @ literal: newest sample in (t-5m, t], INCLUDING one exactly at t
    val atT = ctx.sqlInstant(s"sum(cpu @ ${2 * H / 1000})", T)
      .collect().map(_.getAs[Double]("value")).toSeq
    assert(atT == Seq(7.0), atT.toString) // a@2h (3.0) + b@2h-1m (4.0)
    // instant start() = end() = the evaluation time
    val atEnd = ctx.sqlInstant("sum(cpu @ end())", T)
      .collect().map(_.getAs[Double]("value")).toSeq
    assert(atEnd == Seq(9.0), atEnd.toString)
    // range query: @ end() pins to the range's inclusive end; the pinned
    // vector is a per-range constant
    val r = graft.storage.TimeRange(2 * H - 300000L + 1, 2 * H + 1)
    val viaRange = ctx.sql("sum(cpu @ end())", None, Some(r))
      .collect().map(_.getAs[Double]("value")).toSeq
    assert(viaRange == Seq(7.0), viaRange.toString)
    // sentinels without a bounded range are rejected loudly
    assertThrows[IllegalArgumentException](ctx.sql("sum(cpu @ end())"))
  }

  test("sqlInstant: offset selectors restrict on their OWN shifted timeline " +
      "and @-pinned windows read outside the lookback (regression: a global " +
      "newest-sample pre-filter starved both)") {
    val T = 10 * H
    val ctx = ctxOf(Seq(
      // series a: an old sample 2h back plus a fresh one at T-1s
      Row("cpu", "a", "us", T - 2 * H, 5.0), Row("cpu", "a", "us", T - 1000L, 9.0),
      // series b inside the pinned window only (far before the lookback)
      Row("cpu", "b", "us", 2 * H + 1000L, 30.0),
      Row("cpu", "b", "us", 2 * H + 2000L, 40.0)))
    // `cpu offset 2h` at T: newest sample within (T-2h-lookback, T-2h] is
    // the 2h-old one (5.0) — NOT empty, NOT the fresh 9.0
    val off = ctx.sqlInstant("sum(cpu offset 2h)", T, lookbackMs = H)
      .collect().map(_.getAs[Double]("value")).toSeq
    assert(off == Seq(5.0), off.toString)
    // un-offset twin still sees the fresh sample (per-selector timelines)
    val both = ctx.sqlInstant("sum(cpu) + sum(cpu offset 2h)", T, lookbackMs = H)
      .collect().map(_.getAs[Double]("value")).toSeq
    assert(both == Seq(14.0), both.toString)
    // pinned window [2h, 3h) lies far outside the lookback: the @ read is
    // unrestricted (sum 30+40), while the windowless operand stays exact
    val pinned = ctx.sqlInstant("sum_over_time(cpu[1h] @ 10800)", T, lookbackMs = H)
      .collect().map(_.getAs[Double]("value")).toSeq
    assert(pinned == Seq(70.0), pinned.toString)
    val mixed = ctx.sqlInstant("sum(cpu) + sum(sum_over_time(cpu[1h] @ 10800))",
      T, lookbackMs = H).collect().map(_.getAs[Double]("value")).toSeq
    assert(mixed == Seq(79.0), mixed.toString)
  }

  test("context: selector filters metric, matchers (anchored regex), range") {
    val ctx = ctxOf(Seq(
      Row("cpu", "a1", "us", 0L, 1.0), Row("cpu", "a2", "eu", H, 2.0),
      Row("cpu", "xa1", "us", 2 * H, 9.0), Row("mem", "a1", "us", 0L, 3.0)))
    val got = ctx.sql("""cpu{host=~"a\\d"}""").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    // host "xa1" excluded: Prometheus regexes are fully anchored
    assert(got == Set(("a1", 0L, 1.0), ("a2", H, 2.0)))
    val ranged = ctx.sql("""cpu{host=~"a\\d"}""",
      range = Some(TimeRange(0, H))).collect()
    assert(ranged.map(_.getString(1)).toSeq == Seq("a1"))
  }

  test("context: stepped agg by label over a selector") {
    val ctx = ctxOf(Seq(
      Row("cpu", "a", "us", 0L, 1.0), Row("cpu", "b", "us", 10L, 5.0),
      Row("cpu", "a", "us", H + 1, 3.0), Row("cpu", "a", "us", H + 2, 4.0)))
    val got = ctx.sql("sum by (dc) (cpu)", stepMs = Some(H)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set(("us", 0L, 6.0), ("us", H, 7.0)))
    // no step -> one row per by-group over the whole range
    val flat = ctx.sql("avg(cpu) by (host)").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(flat == Set(("a", 8.0 / 3), ("b", 5.0)))
  }

  test("context: rate/increase are reset-aware and per-series; rate divides by window") {
    // counter: 0→10→4 (reset: contributes 4)→9; deltas 10, 4, 5 = 19
    val ctx = ctxOf(Seq(
      Row("reqs", "a", "us", 0L, 0.0), Row("reqs", "a", "us", 1000L, 10.0),
      Row("reqs", "a", "us", 2000L, 4.0), Row("reqs", "a", "us", 3000L, 9.0),
      Row("reqs", "b", "us", 1000L, 100.0))) // single sample: increase 0
    val inc = ctx.sql("increase(reqs[1h])").collect()
      .map(r => (r.getString(1), r.getDouble(3))).toMap // (dc,host,bucket,value)
    assert(inc == Map("a" -> 19.0, "b" -> 0.0))
    val rate = ctx.sql("sum(rate(reqs[1h]))").collect()
    assert(rate.length == 1)
    assert(math.abs(rate.head.getDouble(1) - 19.0 / 3600) < 1e-12)
  }

  test("context: delta is last-minus-first per bucket; agg keeps fn buckets") {
    val ctx = ctxOf(Seq(
      Row("temp", "a", "us", 0L, 20.0), Row("temp", "a", "us", 1000L, 25.5),
      Row("temp", "a", "us", H, 30.0), Row("temp", "a", "us", H + 1, 10.0)))
    val got = ctx.sql("delta(temp[1h])").collect()
      .map(r => (r.getLong(2), r.getDouble(3))).toMap
    assert(got == Map(0L -> 5.5, H -> -20.0))
    // step is ignored when the child already carries window buckets
    val agg = ctx.sql("max by (host) (delta(temp[1h]))", stepMs = Some(2 * H))
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    assert(agg == Map(0L -> 5.5, H -> -20.0))
  }

  test("parser: unknown string escapes fail loudly; known ones decode") {
    // \d must not silently become the literal "d" — Prometheus rejects it
    assertThrows[PromQLParseException](PromQLParser.parse("""cpu{host=~"h\d"}"""))
    assert(PromQLParser.parse("""cpu{host="a\\b\"c"}""") ==
      Selector("cpu", Seq(LabelMatcher("host", MatchOp.Eq, "a\\b\"c"))))
  }

  test("context: absent labels are empty strings for matchers (Prometheus semantics)") {
    // dc is null on one row: != and !~ must MATCH it, ="" must select it
    val schema = StructType(Seq(
      StructField("m", StringType), StructField("host", StringType),
      StructField("dc", StringType), StructField("tms", LongType),
      StructField("v", DoubleType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row("cpu", "a", "us", 0L, 1.0), Row("cpu", "b", null, 0L, 2.0)), 2), schema)
    val ctx = new PromQLContext(df, "m", col("tms"), "v",
      Map("host" -> "host", "dc" -> "dc"))
    def hosts(q: String) = ctx.sql(q).collect().map(_.getString(1)).toSet
    assert(hosts("""cpu{dc!="us"}""") == Set("b"))
    assert(hosts("""cpu{dc!~"u."}""") == Set("b"))
    assert(hosts("""cpu{dc=""}""") == Set("b"))
    assert(hosts("""cpu{dc=~""}""") == Set("b"))
    assert(hosts("""cpu{dc=~".*"}""") == Set("a", "b"))
    assert(hosts("""cpu{dc="us"}""") == Set("a"))
  }

  test("engine: unknown metric keeps the declared output schemas") {
    val sel = engine.queryPromQL("""nope{dc="us"}""", TimeRange(0, H))
    assert(sel.columns.toSeq == Seq("tsid", "ts_ms", "value") && sel.count() == 0)
    val agg = engine.query(MetricQuery("nope", Map.empty, TimeRange(0, H),
      Some(H), MetricAgg.Sum, Some("dc")))
    assert(agg.columns.toSeq == Seq("dc", "bucket_ms", "value") && agg.count() == 0)
  }

  test("context: unknown labels fail loudly") {
    val ctx = ctxOf(Seq(Row("cpu", "a", "us", 0L, 1.0)))
    assertThrows[IllegalArgumentException](ctx.sql("""cpu{zone="x"}"""))
    assertThrows[IllegalArgumentException](ctx.sql("sum by (zone) (cpu)"))
  }

  // ------------------------------------------------------------ engine path

  private lazy val engine: MetricEngine = {
    val eng = new MetricEngine(spark,
      java.nio.file.Files.createTempDirectory("graft-promql").toString)
    import spark.implicits._
    val rows = for {
      (host, dc) <- Seq(("h1", "us"), ("h2", "us"), ("h3", "eu"))
      i <- 0 until 6
    } yield Sample("reqs", Map("host" -> host, "dc" -> dc),
      i * 600000L, i * i * 1.0) // nonlinear counter
    eng.write(rows.toDF())
    eng
  }

  test("engine: text query == programmatic MetricQuery") {
    val viaText = engine.queryPromQL("""sum by (dc) (reqs{dc="us"})""",
      TimeRange(0, H), stepMs = Some(H)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val viaApi = engine.query(MetricQuery("reqs", Map("dc" -> "us"),
      TimeRange(0, H), Some(H), MetricAgg.Sum, Some("dc"))).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaText == viaApi && viaText.nonEmpty)
  }

  test("engine: rate text query divides the increase by the window") {
    val inc = engine.queryPromQL("sum(increase(reqs[1h]))", TimeRange(0, H))
      .select("value").collect().head.getDouble(0)
    val rate = engine.queryPromQL("sum(rate(reqs[1h]))", TimeRange(0, H))
      .select("value").collect().head.getDouble(0)
    // per host: 0,1,4,9,16,25 → increase 25; 3 hosts → 75
    assert(inc == 75.0)
    assert(math.abs(rate - 75.0 / 3600) < 1e-12)
  }

  test("engine: raw selector returns (tsid, ts_ms, value)") {
    val rows = engine.queryPromQL("""reqs{dc="eu"}""", TimeRange(0, H))
    assert(rows.columns.toSeq == Seq("tsid", "ts_ms", "value"))
    assert(rows.count() == 6)
  }

  test("context: mismatched binary operands are a shape error, not a cartesian") {
    val ctx = ctxOf(Seq(Row("cpu", "a", "us", 0L, 1.0)))
    assertThrows[IllegalArgumentException](
      ctx.sql("cpu > avg(cpu)", stepMs = Some(H)).collect())
    // `-1` now parses as a folded negative literal operand
    assert(ctx.sql("cpu * -1").collect().map(_.getDouble(3)).toSeq == Seq(-1.0))
  }

  test("engine: partially-labeled series — empty-string groups, ='' routing") {
    val eng = new MetricEngine(spark,
      java.nio.file.Files.createTempDirectory("graft-promql2").toString)
    import spark.implicits._
    eng.write(Seq(
      Sample("jobs", Map("host" -> "h1", "dc" -> "us"), 0L, 10.0),
      Sample("jobs", Map("host" -> "h2"), 0L, 3.0), // no dc label
      Sample("jobs", Map("host" -> "h2"), 60000L, 4.0)).toDF())
    // fast path by(dc): the dc-less series lands in the "" group, not dropped
    val byDc = eng.query(MetricQuery("jobs", Map.empty, TimeRange(0, H),
      None, MetricAgg.Sum, Some("dc"))).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(byDc == Map("us" -> 10.0, "" -> 7.0))
    // {dc=""} must route to the general path and select ONLY label-less
    // series (the index semi-join can't represent absence)
    val absent = eng.queryPromQL("""jobs{dc=""}""", TimeRange(0, H))
    assert(absent.columns.toSeq == Seq("tsid", "ts_ms", "value"))
    assert(absent.select("value").collect().map(_.getDouble(0)).toSet == Set(3.0, 4.0))
    // contradictory duplicate matchers conjunct (not last-one-wins)
    assert(eng.queryPromQL("""jobs{host="h1", host="h2"}""", TimeRange(0, H))
      .count() == 0)
    // binary op: the "" dc group matches across operands (null-safe keys)
    val share = eng.queryPromQL("sum by (dc) (jobs) / sum by (dc) (jobs)",
      TimeRange(0, H)).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(share == Map("us" -> 1.0, "" -> 1.0))
  }

  test("context: stddev/stdvar/group aggregations and count_values") {
    val ctx = ctxOf(Seq(
      Row("cpu", "a", "us", 0L, 1.0), Row("cpu", "b", "us", 0L, 3.0),
      Row("cpu", "c", "eu", 0L, 3.0)))
    assert(PromQLParser.parse("stddev by (dc) (cpu)") ==
      Agg(MetricAgg.Stddev, Seq("dc"), Selector("cpu", Nil)))
    val sd = ctx.sql("stddev by (dc) (cpu)").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(sd == Map("us" -> 1.0, "eu" -> 0.0)) // population stddev of {1,3}
    val sv = ctx.sql("stdvar(cpu)").collect().head.getDouble(0)
    assert(math.abs(sv - 8.0 / 9.0) < 1e-12) // var_pop of {1,3,3}
    val grp = ctx.sql("group by (dc) (cpu)").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(grp == Map("us" -> 1.0, "eu" -> 1.0))
    assert(PromQLParser.parse("""count_values("v", cpu)""") ==
      CountValues("v", Nil, Selector("cpu", Nil)))
    val cv = ctx.sql("""count_values by (dc) ("v", cpu)""").collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).toMap
    assert(cv == Map(("us", "1") -> 1.0, ("us", "3") -> 1.0,
      ("eu", "3") -> 1.0))
    val cvFlat = ctx.sql("""count_values("v", cpu)""").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(cvFlat == Map("1" -> 1.0, "3" -> 2.0))
    assertThrows[PromQLParseException](
      PromQLParser.parse("""count_values without (dc) ("v", cpu)"""))
    // aggregating over the SYNTHESIZED label works (validated vs the child
    // frame, not the static label map)
    val over = ctx.sql("""sum by (v) (count_values("v", cpu))""").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(over == Map("1" -> 1.0, "3" -> 2.0))
    // reserved / colliding label names are loud errors
    for (bad <- Seq("value", "dc", "ts_ms", ""))
      assertThrows[IllegalArgumentException](
        ctx.sql(s"""count_values("$bad", cpu)"""))
    // non-classic names are LEGAL label names under Prometheus 3 UTF-8
    // rules (round 15) — digit-leading, dotted, whatever: the synthesized
    // column carries the name literally
    val exotic = ctx.sql("""count_values("0.v", cpu)""")
    assert(exotic.columns.contains("0.v"))
    assert(exotic.collect()
      .map(r => (r.getAs[String]("0.v"), r.getAs[Double]("value"))).toMap
      == Map("1" -> 1.0, "3" -> 2.0))
  }

  test("engine: stddev/group fast path == general path; count_values") {
    // all-eq selector → fast path; a regex matcher forces the general path:
    // both must agree
    val fast = engine.queryPromQL("stddev by (dc) (reqs)", TimeRange(0, H))
      .collect().map(r => (r.getString(0), math.round(r.getDouble(1) * 1e9))).toMap
    val general = engine.queryPromQL("""stddev by (dc) (reqs{host=~".+"})""",
      TimeRange(0, H))
      .collect().map(r => (r.getString(0), math.round(r.getDouble(1) * 1e9))).toMap
    assert(fast == general && fast.keySet == Set("us", "eu"))
    val grp = engine.queryPromQL("group by (dc) (reqs)", TimeRange(0, H))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(grp == Map("us" -> 1.0, "eu" -> 1.0))
    // count_values routes to the general path; reqs values are i*i per host
    val cv = engine.queryPromQL("""count_values("val", reqs)""", TimeRange(0, H))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(cv == Map("0" -> 3.0, "1" -> 3.0, "4" -> 3.0, "9" -> 3.0,
      "16" -> 3.0, "25" -> 3.0))
  }

  test("parser: bare {...} selectors canonicalize __name__ matchers") {
    assert(PromQLParser.parse("""{__name__="cpu", host="a"}""") ==
      Selector("cpu", Seq(LabelMatcher("host", MatchOp.Eq, "a"))))
    assert(PromQLParser.parse("""{__name__=~"cpu|mem"}""") ==
      Selector("", Seq(LabelMatcher("__name__", MatchOp.Re, "cpu|mem"))))
    assert(PromQLParser.parse("""{host="a"}""") ==
      Selector("", Seq(LabelMatcher("host", MatchOp.Eq, "a"))))
    for (bad <- Seq("""cpu{__name__="mem"}""",
        """{__name__="a", __name__="b"}""", "{}"))
      assertThrows[PromQLParseException](PromQLParser.parse(bad))
  }

  test("context: multi-metric selection via __name__ matchers") {
    val ctx = ctxOf(Seq(
      Row("cpu", "a", "us", 0L, 1.0), Row("mem", "a", "us", 0L, 10.0),
      Row("disk", "a", "us", 0L, 100.0)))
    val total = ctx.sql("""sum({__name__=~"cpu|mem"})""").collect()
    assert(total.length == 1 && total.head.getDouble(0) == 11.0)
    // canonicalized eq form selects exactly like the named form
    val viaEq = ctx.sql("""{__name__="cpu"}""").collect()
      .map(r => (r.getString(1), r.getDouble(3))).toSet
    val named = ctx.sql("cpu").collect()
      .map(r => (r.getString(1), r.getDouble(3))).toSet
    assert(viaEq == named && named == Set(("a", 1.0)))
    // {label-only} spans every metric
    val all = ctx.sql("""sum({host="a"})""").collect()
    assert(all.head.getDouble(0) == 111.0)
  }

  test("engine: multi-metric __name__ selection with by (__name__) grouping") {
    val eng = new MetricEngine(spark,
      java.nio.file.Files.createTempDirectory("graft-promql5").toString)
    import spark.implicits._
    eng.write(Seq(
      Sample("cpu", Map("host" -> "h1"), 0L, 1.0),
      Sample("cpu", Map("host" -> "h2"), 0L, 2.0),
      Sample("mem", Map("host" -> "h1"), 0L, 10.0),
      Sample("disk", Map("host" -> "h1"), 0L, 100.0)).toDF())
    val byName = eng.queryPromQL("""sum by (__name__) ({__name__=~"cpu|mem"})""",
      TimeRange(0, H)).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(byName == Map("cpu" -> 3.0, "mem" -> 10.0))
    val regex = eng.queryPromQL("""sum({__name__=~"c.*"})""", TimeRange(0, H))
      .collect().head.getDouble(0)
    assert(regex == 3.0)
    // by (__name__) on a NAMED all-eq selector must not take the fast path
    // (whose index join has no __name__ tag and would emit a "" group)
    val named = eng.queryPromQL("sum by (__name__) (cpu)", TimeRange(0, H))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(named == Map("cpu" -> 3.0))
    // without always drops __name__: cpu+mem aggregate together
    val wo = eng.queryPromQL("""sum without (host) ({__name__=~"cpu|mem"})""",
      TimeRange(0, H)).collect()
    assert(wo.length == 1 && wo.head.getAs[Double]("value") == 13.0)
  }

  test("context: multi-metric range fns keep metric identity; stepped absent") {
    // cpu and mem share host "a": increase must NOT fuse them into one series
    val ctx = ctxOf(Seq(
      Row("cpu", "a", "us", 0L, 0.0), Row("cpu", "a", "us", 1000L, 5.0),
      Row("mem", "a", "us", 500L, 100.0), Row("mem", "a", "us", 1500L, 110.0)))
    val inc = ctx.sql("""increase({__name__=~"cpu|mem"}[1h])""").collect()
      .map(r => r.getDouble(3)).toSeq.sorted
    assert(inc == Seq(5.0, 10.0), s"got $inc") // fused would give garbage resets
    // stepped absent: one 1.0 row per EMPTY step bucket of the range
    val ab = ctx.sql("""absent(cpu{host="zzz"})""", stepMs = Some(1000L),
      range = Some(TimeRange(0L, 3000L))).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(ab == Set((0L, 1.0), (1000L, 1.0), (2000L, 1.0)))
    val partial = ctx.sql("absent(cpu)", stepMs = Some(1000L),
      range = Some(TimeRange(0L, 3000L))).collect()
      .map(r => r.getLong(0)).toSet
    assert(partial == Set(2000L)) // cpu present in buckets 0 and 1000 only
    assertThrows[IllegalArgumentException](
      ctx.sql("absent(cpu)", stepMs = Some(1000L)))
  }

  test("context: offset re-stamps shifted data onto the query timeline") {
    val ctx = ctxOf(Seq(
      Row("cpu", "a", "us", 0L, 1.0), Row("cpu", "a", "us", H, 5.0)))
    // value at query time t = underlying value at t - 1h
    val all = ctx.sql("cpu offset 1h").collect()
      .map(r => (r.getLong(2), r.getDouble(3))).toSet
    assert(all == Set((H, 1.0), (2 * H, 5.0)))
    // the range applies on the QUERY timeline (scan shifts back underneath)
    val ranged = ctx.sql("cpu offset 1h", range = Some(TimeRange(H, 2 * H)))
      .collect().map(r => (r.getLong(2), r.getDouble(3))).toSet
    assert(ranged == Set((H, 1.0)))
    // offset operand joins against the unshifted side on the query timeline
    val diff = ctx.sql("cpu - cpu offset 1h").collect()
      .map(r => (r.getLong(2), r.getDouble(3))).toSet
    assert(diff == Set((H, 4.0)))
  }

  test("context: *_over_time aggregate the window's samples per series") {
    val ctx = ctxOf(Seq(
      Row("m", "a", "us", 0L, 1.0), Row("m", "a", "us", 1000L, 3.0),
      Row("m", "a", "us", H, 10.0)))
    def vals(q: String) = ctx.sql(q).collect()
      .map(r => (r.getLong(2), r.getDouble(3))).toMap
    assert(vals("avg_over_time(m[1h])") == Map(0L -> 2.0, H -> 10.0))
    assert(vals("sum_over_time(m[1h])") == Map(0L -> 4.0, H -> 10.0))
    assert(vals("min_over_time(m[1h])") == Map(0L -> 1.0, H -> 10.0))
    assert(vals("max_over_time(m[1h])") == Map(0L -> 3.0, H -> 10.0))
    assert(vals("count_over_time(m[1h])") == Map(0L -> 2.0, H -> 1.0))
    assert(vals("last_over_time(m[1h])") == Map(0L -> 3.0, H -> 10.0))
  }

  test("context: bool comparisons return 1/0 instead of filtering") {
    val ctx = ctxOf(Seq(
      Row("cpu", "a", "us", 0L, 0.2), Row("cpu", "b", "us", 0L, 0.8)))
    val ind = ctx.sql("cpu > bool 0.5").collect()
      .map(r => (r.getString(1), r.getDouble(3))).toMap
    assert(ind == Map("a" -> 0.0, "b" -> 1.0))
    // grouped side vs scalar-shaped side needs on() group_left (Prometheus
    // many-to-one); bool returns the indicator with the many side's labels
    val vv = ctx.sql("sum by (host) (cpu) >= bool on() group_left sum(cpu) / 2")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(vv == Map("a" -> 0.0, "b" -> 1.0))
  }

  test("context: on()/ignoring() override keys; group_left/right carry the many side") {
    val ctx = ctxOf(Seq(
      Row("err", "a", "us", 0L, 1.0), Row("err", "b", "eu", 0L, 3.0),
      Row("req", "a", "us", 0L, 10.0), Row("req", "b", "eu", 0L, 10.0)))
    // sides grouped differently: on(host) joins them anyway
    val on = ctx.sql("sum by (host, dc) (err) / on(host) sum by (host) (req)")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(on == Map("a" -> 0.1, "b" -> 0.3))
    // ignoring(dc) drops dc from the auto keys
    val ign = ctx.sql(
      "sum by (host, dc) (err) / ignoring(dc) sum by (host, dc) (req)")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(ign == Map("a" -> 0.1, "b" -> 0.3))
    // group_left(dc): many side keeps its shape, dc copied from the one side
    val gl = ctx.sql(
      "sum by (host) (err) * on(host) group_left(dc) sum by (host, dc) (req)")
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).toMap
    assert(gl == Map(("a", "us") -> 10.0, ("b", "eu") -> 30.0))
    // group_right: right side is the many side; operand order still left-right
    val gr = ctx.sql(
      "sum by (host) (err) - on(host) group_right sum by (host, dc) (req)")
      .collect().map(r => ((r.getString(1), r.getString(0)), r.getDouble(2))).toMap
    assert(gr == Map(("a", "us") -> -9.0, ("b", "eu") -> -7.0))
    // unknown on-label is a shape error
    assertThrows[IllegalArgumentException](
      ctx.sql("sum by (host) (err) / on(zone) sum by (host) (req)").collect())
  }

  test("context: match-shape guards — empty keys, time grains, scalar matching") {
    val ctx = ctxOf(Seq(
      Row("err", "a", "us", 0L, 1.0), Row("err", "b", "eu", 0L, 3.0),
      Row("req", "a", "us", 0L, 10.0), Row("req", "b", "eu", 0L, 10.0)))
    // ignoring() that EMPTIES the key set is a shape error, not a cartesian
    assertThrows[IllegalArgumentException](
      ctx.sql("sum by (host) (err) / ignoring(host) sum by (host) (req)").collect())
    // group_* with no keys needs a fully-aggregated (scalar) one side
    assertThrows[IllegalArgumentException](
      ctx.sql("sum by (host) (err) / on() group_left sum by (host) (req)").collect())
    // vector matching against a scalar literal is rejected, never ignored
    assertThrows[IllegalArgumentException](ctx.sql("err / on(host) 2"))
    // mixed time grains (window bucket vs raw timestamps) are rejected
    assertThrows[IllegalArgumentException](
      ctx.sql("delta(err[1h]) / on(host) group_left req").collect())
    // grouped comparison: many side's labels (+include), LEFT operand's value
    val gl = ctx.sql(
      "sum by (host) (err) < on(host) group_left(dc) sum by (host, dc) (req)")
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).toMap
    assert(gl == Map(("a", "us") -> 1.0, ("b", "eu") -> 3.0))
  }

  test("context: offset works over an unbounded range (no sentinel underflow)") {
    val ctx = ctxOf(Seq(
      Row("cpu", "a", "us", 0L, 1.0), Row("cpu", "a", "us", H, 5.0)))
    val got = ctx.sql("sum(cpu offset 1h)",
      range = Some(TimeRange(Long.MinValue, Long.MaxValue))).collect()
    assert(got.length == 1 && got.head.getDouble(0) == 6.0)
  }

  test("context: without groups by the complement of the listed labels") {
    val ctx = ctxOf(Seq(
      Row("cpu", "a", "us", 0L, 1.0), Row("cpu", "b", "us", 0L, 2.0),
      Row("cpu", "c", "eu", 0L, 5.0)))
    val got = ctx.sql("sum without (host) (cpu)").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(got == Map("us" -> 3.0, "eu" -> 5.0))
  }

  test("context: scalar functions map values; round uses half-up to-nearest") {
    val ctx = ctxOf(Seq(
      Row("cpu", "a", "us", 0L, 2.4), Row("cpu", "b", "us", 0L, -1.2),
      Row("cpu", "c", "us", 0L, 9.0)))
    def vals(q: String) = ctx.sql(q).collect()
      .map(r => (r.getString(1), r.getDouble(3))).toMap
    assert(vals("abs(cpu)") == Map("a" -> 2.4, "b" -> 1.2, "c" -> 9.0))
    assert(vals("ceil(cpu)") == Map("a" -> 3.0, "b" -> -1.0, "c" -> 9.0))
    assert(vals("floor(cpu)") == Map("a" -> 2.0, "b" -> -2.0, "c" -> 9.0))
    assert(vals("round(cpu)") == Map("a" -> 2.0, "b" -> -1.0, "c" -> 9.0))
    assert(vals("round(cpu, 0.5)") == Map("a" -> 2.5, "b" -> -1.0, "c" -> 9.0))
    assert(vals("clamp(cpu, 0, 5)") == Map("a" -> 2.4, "b" -> 0.0, "c" -> 5.0))
    assert(vals("clamp_min(cpu, 0)") == Map("a" -> 2.4, "b" -> 0.0, "c" -> 9.0))
    assert(vals("clamp_max(cpu, 5)") == Map("a" -> 2.4, "b" -> -1.2, "c" -> 5.0))
  }

  test("context: absent/sgn/timestamp shape and map functions") {
    val ctx = ctxOf(Seq(
      Row("cpu", "a", "us", 5000L, -2.5), Row("cpu", "b", "us", 6000L, 4.0)))
    // absent: empty selection -> one 1.0 row; non-empty -> empty
    val missing = ctx.sql("""absent(cpu{host="zzz"})""").collect()
    assert(missing.length == 1 && missing.head.getDouble(0) == 1.0)
    assert(ctx.sql("absent(cpu)").count() == 0)
    val sgn = ctx.sql("sgn(cpu)").collect()
      .map(r => (r.getString(1), r.getDouble(3))).toMap
    assert(sgn == Map("a" -> -1.0, "b" -> 1.0))
    val ts = ctx.sql("timestamp(cpu)").collect()
      .map(r => (r.getString(1), r.getDouble(3))).toMap
    assert(ts == Map("a" -> 5.0, "b" -> 6.0))
  }

  test("context: histogram_quantile interpolates classic le buckets") {
    val schema = StructType(Seq(
      StructField("m", StringType), StructField("le", StringType),
      StructField("host", StringType), StructField("tms", LongType),
      StructField("v", DoubleType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row("lat", "0.1", "a", 0L, 2.0), Row("lat", "0.5", "a", 0L, 3.0),
      Row("lat", "+Inf", "a", 0L, 4.0),
      Row("lat", "0.1", "b", 0L, 5.0), Row("lat", "0.5", "b", 0L, 8.0),
      Row("lat", "+Inf", "b", 0L, 8.0)), 3), schema)
    val ctx = new PromQLContext(df, "m", col("tms"), "v",
      Map("le" -> "le", "host" -> "host"))
    def q(phi: Double) = ctx.sql(s"histogram_quantile($phi, lat)").collect()
      .map(r => (r.getString(0), r.getDouble(2))).toMap
    // host a, q=0.5: rank 2 lands in the first bucket → interpolate from 0
    // host b, q=0.5: rank 4 lands in le=0.1 (count 5) → 0.1*(4/5)
    val q50 = q(0.5)
    assert(math.abs(q50("a") - 0.1) < 1e-12 && math.abs(q50("b") - 0.08) < 1e-12)
    // host a, q=0.75: rank 3 → le=0.5 bucket: 0.1 + 0.4*(3-2)/(3-2) = 0.5
    // host b, q=0.75: rank 6 → le=0.5 bucket: 0.1 + 0.4*(6-5)/(8-5)
    val q75 = q(0.75)
    assert(math.abs(q75("a") - 0.5) < 1e-12)
    assert(math.abs(q75("b") - (0.1 + 0.4 / 3)) < 1e-12)
    // q=0.95: host a rank 3.8 → +Inf bucket → highest finite le
    assert(math.abs(q(0.95)("a") - 0.5) < 1e-12)
    // missing le label is a loud error
    val ctx2 = ctxOf(Seq(Row("cpu", "a", "us", 0L, 1.0)))
    assertThrows[IllegalArgumentException](ctx2.sql("histogram_quantile(0.9, cpu)"))
  }

  test("engine: offset, without, and histogram_quantile run against storage") {
    // offset: sum over [10m, 1h) of data shifted by 10m == unshifted [0, 50m)
    val off = engine.queryPromQL("sum(reqs offset 10m)", TimeRange(600000L, H))
      .select("value").collect().head.getDouble(0)
    val direct = engine.queryPromQL("sum(reqs)", TimeRange(0L, 3000000L))
      .select("value").collect().head.getDouble(0)
    assert(off == direct && off == 90.0) // 0+1+4+9+16 = 30 per host × 3
    // without(host): label-key universe from the tags table → group by dc
    val wo = engine.queryPromQL("sum without (host) (reqs)", TimeRange(0, H))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(wo == Map("us" -> 110.0, "eu" -> 55.0))
    // histogram_quantile over a le-labeled metric in storage
    val eng2 = new MetricEngine(spark,
      java.nio.file.Files.createTempDirectory("graft-promql3").toString)
    import spark.implicits._
    eng2.write(Seq(
      Sample("lat_bucket", Map("host" -> "h1", "le" -> "0.1"), 0L, 2.0),
      Sample("lat_bucket", Map("host" -> "h1", "le" -> "0.5"), 0L, 3.0),
      Sample("lat_bucket", Map("host" -> "h1", "le" -> "+Inf"), 0L, 4.0)).toDF())
    val hq = eng2.queryPromQL("histogram_quantile(0.75, lat_bucket)", TimeRange(0, H))
      .collect()
    assert(hq.length == 1 && math.abs(hq.head.getAs[Double]("value") - 0.5) < 1e-12)
  }

  test("engine: regex matchers prune the TSID set via the index dictionary") {
    // positive, non-empty-matching regex → index semi-join prune planned
    val q = engine.queryPromQL("""sum(reqs{host=~"h[12]"})""", TimeRange(0, H))
    assert(q.queryExecution.executedPlan.toString.contains("LeftSemi"),
      "regex matcher should plan an index TSID semi-join prune")
    assert(q.select("value").collect().map(_.getDouble(0)).toSeq == Seq(110.0))
    // a regex that can match "" selects ABSENT labels too — must NOT prune
    val eng = new MetricEngine(spark,
      java.nio.file.Files.createTempDirectory("graft-promql4").toString)
    import spark.implicits._
    eng.write(Seq(
      Sample("jobs", Map("host" -> "h1", "dc" -> "us"), 0L, 10.0),
      Sample("jobs", Map("host" -> "h2"), 0L, 3.0)).toDF()) // no dc label
    val loose = eng.queryPromQL("""jobs{dc=~"us|"}""", TimeRange(0, H))
      .select("value").collect().map(_.getDouble(0)).toSet
    assert(loose == Set(10.0, 3.0), "empty-matching regex must keep label-less series")
    val tight = eng.queryPromQL("""jobs{dc=~"us"}""", TimeRange(0, H))
      .select("value").collect().map(_.getDouble(0)).toSet
    assert(tight == Set(10.0))
    // intersection across matchers on ONE selector: regex AND eq must both hold
    val both = eng.queryPromQL("""sum(jobs{dc=~"u.", host="h1"})""", TimeRange(0, H))
      .select("value").collect().map(_.getDouble(0)).toSeq
    assert(both == Seq(10.0))
  }

  test("engine: step disagreeing with a range window is rejected on every path") {
    assertThrows[IllegalArgumentException](
      engine.queryPromQL("sum(rate(reqs[1h]))", TimeRange(0, H), stepMs = Some(1L)))
    assertThrows[IllegalArgumentException](
      engine.queryPromQL("avg(rate(reqs[1h]))", TimeRange(0, H), stepMs = Some(1L)))
  }

  test("engine general path: regex matchers, multi-label by, non-sum rate aggs") {
    // regex matcher over the joined label columns: us hosts h1,h2 only
    val us = engine.queryPromQL("""sum(reqs{host=~"h[12]"})""", TimeRange(0, H))
      .select("value").collect().map(_.getDouble(0))
    // per host values 0,1,4,9,16,25 → 55; two hosts
    assert(us.toSeq == Seq(110.0))
    // multi-label grouping (fast-path since round 10 — named getters, the
    // two paths order the label columns differently)
    val byBoth = engine.queryPromQL("max by (host, dc) (reqs)", TimeRange(0, H))
      .collect().map(r => ((r.getAs[String]("host"), r.getAs[String]("dc")),
        r.getAs[Double]("value"))).toMap
    assert(byBoth == Map(("h1", "us") -> 25.0, ("h2", "us") -> 25.0,
      ("h3", "eu") -> 25.0))
    // avg of per-series rates (sum-only on the fast path; general here)
    val avgRate = engine.queryPromQL("avg(rate(reqs[1h]))", TimeRange(0, H))
      .select("value").collect().head.getDouble(0)
    assert(math.abs(avgRate - 25.0 / 3600) < 1e-12)
    // ranked selection straight against storage
    val top = engine.queryPromQL("topk by (dc) (1, sum by (host, dc) (reqs))",
      TimeRange(0, H)).collect()
    assert(top.length == 2) // one winner per dc
    // binary op over aggregated operands
    val ratio = engine.queryPromQL("""sum(reqs{dc="eu"}) / sum(reqs)""",
      TimeRange(0, H)).collect().head.getDouble(0)
    assert(math.abs(ratio - 1.0 / 3) < 1e-12)
  }

  test("parser: extended range functions and label functions") {
    assert(PromQLParser.parse("resets(c[5m])") ==
      RangeFn(RangeF.Resets, Selector("c", Nil), 300000L))
    assert(PromQLParser.parse("changes(c[5m])") ==
      RangeFn(RangeF.Changes, Selector("c", Nil), 300000L))
    assert(PromQLParser.parse("irate(c[5m])") ==
      RangeFn(RangeF.Irate, Selector("c", Nil), 300000L))
    assert(PromQLParser.parse("idelta(c[5m])") ==
      RangeFn(RangeF.Idelta, Selector("c", Nil), 300000L))
    assert(PromQLParser.parse("deriv(c[5m])") ==
      RangeFn(RangeF.Deriv, Selector("c", Nil), 300000L))
    assert(PromQLParser.parse("present_over_time(c[5m])") ==
      RangeFn(RangeF.PresentOverTime, Selector("c", Nil), 300000L))
    assert(PromQLParser.parse("quantile_over_time(0.9, c[5m])") ==
      RangeFn(RangeF.QuantileOverTime(0.9), Selector("c", Nil), 300000L))
    assert(PromQLParser.parse("predict_linear(c[5m], 300)") ==
      RangeFn(RangeF.PredictLinear(300.0), Selector("c", Nil), 300000L))
    // duration-literal horizon + offset modifier inside the range vector
    assert(PromQLParser.parse("predict_linear(c[5m] offset 1h, 2m)") ==
      RangeFn(RangeF.PredictLinear(120.0), Selector("c", Nil, 3600000L), 300000L))
    assert(PromQLParser.parse("""label_join(up, "hd", "-", "host", "dc")""") ==
      LabelFn("label_join", Selector("up", Nil), "hd", Seq("-", "host", "dc")))
    assert(PromQLParser.parse("""label_replace(up, "h2", "$1", "host", "(.*)")""") ==
      LabelFn("label_replace", Selector("up", Nil), "h2", Seq("$1", "host", "(.*)")))
    assertThrows[PromQLParseException](
      PromQLParser.parse("quantile_over_time(1.5, c[5m])"))
    assertThrows[PromQLParseException](
      PromQLParser.parse("""label_replace(up, "h2", "$1", "host")"""))
    assertThrows[PromQLParseException](
      PromQLParser.parse("""label_join(up, "hd")"""))
  }

  test("context: resets/changes count transitions per series per bucket") {
    // one series, values 1,3,2,2,5 — resets: 3→2; changes: 1→3, 3→2, 2→5
    val ctx = ctxOf(Seq(
      Row("cpu", "a", "us", 0L, 1.0), Row("cpu", "a", "us", 1000L, 3.0),
      Row("cpu", "a", "us", 2000L, 2.0), Row("cpu", "a", "us", 3000L, 2.0),
      Row("cpu", "a", "us", 4000L, 5.0)))
    val r = ctx.sql("resets(cpu[1h])").collect()
    assert(r.length == 1 && r.head.getDouble(3) == 1.0)
    val c = ctx.sql("changes(cpu[1h])").collect()
    assert(c.length == 1 && c.head.getDouble(3) == 3.0)
  }

  test("context: irate/idelta use the two newest samples; single-sample buckets drop") {
    val ctx = ctxOf(Seq(
      Row("cpu", "a", "us", 0L, 1.0), Row("cpu", "a", "us", 60000L, 4.0),
      Row("cpu", "a", "us", 120000L, 2.0),
      Row("cpu", "b", "us", 0L, 7.0))) // single sample → no instant value
    val id = ctx.sql("idelta(cpu[1h])").collect()
      .map(r => (r.getString(1), r.getDouble(3))).toMap
    assert(id == Map("a" -> -2.0)) // 2 - 4; host b dropped
    val ir = ctx.sql("irate(cpu[1h])").collect()
      .map(r => (r.getString(1), r.getDouble(3))).toMap
    // v1=2 < v2=4 → reset: 2 / 60s
    assert(ir.keySet == Set("a") && math.abs(ir("a") - 2.0 / 60.0) < 1e-12)
  }

  test("context: deriv, predict_linear, quantile/present over time") {
    // exact line through (0s, 0) and (600s, 10): slope 1/60, intercept 0
    val ctx = ctxOf(Seq(
      Row("cpu", "a", "us", 0L, 0.0), Row("cpu", "a", "us", 600000L, 10.0),
      Row("mem", "q", "us", 0L, 1.0), Row("mem", "q", "us", 1000L, 2.0),
      Row("mem", "q", "us", 2000L, 3.0), Row("mem", "q", "us", 3000L, 4.0)))
    val d = ctx.sql("deriv(cpu[1h])").collect()
    assert(d.length == 1 && math.abs(d.head.getDouble(3) - 1.0 / 60) < 1e-12)
    // prediction 100s past the window end (3600s): (3600+100)/60
    val p = ctx.sql("predict_linear(cpu[1h], 100)").collect()
    assert(p.length == 1 && math.abs(p.head.getDouble(3) - 3700.0 / 60) < 1e-9)
    val q = ctx.sql("quantile_over_time(0.5, mem[1h])").collect()
    assert(q.length == 1 && q.head.getDouble(3) == 2.5)
    val pr = ctx.sql("present_over_time(mem[1h])").collect()
    assert(pr.length == 1 && pr.head.getDouble(3) == 1.0)
  }

  test("context: label_join and label_replace synthesize label columns") {
    val ctx = ctxOf(Seq(
      Row("up", "web1", "us", 0L, 1.0), Row("up", "db2", "eu", 0L, 2.0)))
    val joined = ctx.sql("""label_join(up, "hd", "-", "host", "dc")""")
      .collect().map(r => (r.getString(1), r.getString(4))).toSet
    assert(joined == Set(("web1", "web1-us"), ("db2", "db2-eu")))
    // capture group: strip the trailing digit into a "role" label
    val repl = ctx.sql(
      """sum by (role) (label_replace(up, "role", "$1", "host", "([a-z]+)[0-9]"))""")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(repl == Map("web" -> 1.0, "db" -> 2.0))
    // non-matching regex leaves the destination untouched (absent → "")
    val miss = ctx.sql(
      """label_replace(up, "role", "$1", "host", "zzz([0-9])")""")
      .collect().map(_.getString(4)).toSet
    assert(miss == Set(""))
    // structural column collision is a loud error
    assertThrows[IllegalArgumentException](
      ctx.sql("""label_join(up, "value", "-", "host")""").collect())
    // UTF-8 destination names work (Prometheus 3; round 15): a dotted
    // dst synthesizes, groups via the quoted by-list, and the output
    // column carries the dotted name literally
    val dotted = ctx.sql(
      """sum by ("svc.role") (label_replace(up, "svc.role", "$1", "host", "([a-z]+)[0-9]"))""")
    assert(dotted.columns.contains("svc.role"))
    assert(dotted.collect().map(r => (r.getString(0), r.getDouble(1))).toMap
      == Map("web" -> 1.0, "db" -> 2.0))
  }

  test("context: label_replace Go template semantics ($$, invalid refs, named)") {
    val ctx = ctxOf(Seq(Row("up", "web1", "us", 0L, 1.0)))
    // a reference to a group the pattern doesn't have expands to the EMPTY
    // string (Go ExpandString), never a runtime throw
    val bad = ctx.sql("""label_replace(up, "role", "$2", "host", "([a-z]+)[0-9]")""")
      .collect().map(_.getString(4)).toSet
    assert(bad == Set(""))
    // $$ is a literal dollar; a $ that starts no name is literal too
    val dollar = ctx.sql(
      """label_replace(up, "role", "$$-$1-$", "host", "([a-z]+)[0-9]")""")
      .collect().map(_.getString(4)).toSet
    assert(dollar == Set("$-web-$"))
    // named capture groups resolve via ${name}
    val named = ctx.sql(
      """label_replace(up, "role", "${w}", "host", "(?<w>[a-z]+)[0-9]")""")
      .collect().map(_.getString(4)).toSet
    assert(named == Set("web"))
    // the metric/series identity columns are structural: dst can't hit them
    assertThrows[IllegalArgumentException](
      ctx.sql("""label_join(up, "m", "-", "host")""").collect())
  }

  test("context: idelta drops buckets whose newest samples share a timestamp") {
    val ctx = ctxOf(Seq(
      Row("cpu", "a", "us", 60000L, 4.0), Row("cpu", "a", "us", 60000L, 2.0),
      Row("cpu", "b", "us", 0L, 1.0), Row("cpu", "b", "us", 60000L, 5.0)))
    // Prometheus instantValue: sampled interval of 0 yields no point, for
    // idelta exactly as for irate
    val id = ctx.sql("idelta(cpu[1h])").collect()
      .map(r => (r.getString(1), r.getDouble(3))).toMap
    assert(id == Map("b" -> 4.0))
  }

  test("parser: holt_winters, calendar functions, sort/sort_desc") {
    assert(PromQLParser.parse("holt_winters(cpu[1h], 0.5, 0.3)") ==
      RangeFn(RangeF.HoltWinters(0.5, 0.3), Selector("cpu", Nil), H))
    assert(PromQLParser.parse("holt_winters(cpu[1h] offset 5m, 0.5, 0.3)") ==
      RangeFn(RangeF.HoltWinters(0.5, 0.3), Selector("cpu", Nil, 300000L), H))
    // Prometheus 3 renamed it; both spellings parse to the same AST
    assert(PromQLParser.parse("double_exponential_smoothing(cpu[1h], 0.5, 0.3)") ==
      PromQLParser.parse("holt_winters(cpu[1h], 0.5, 0.3)"))
    // factors are strictly inside (0, 1)
    assertThrows[PromQLParseException](
      PromQLParser.parse("holt_winters(cpu[1h], 0, 0.3)"))
    assertThrows[PromQLParseException](
      PromQLParser.parse("holt_winters(cpu[1h], 0.5, 1)"))
    assert(PromQLParser.parse("hour(cpu)") == FnCall("hour", Selector("cpu", Nil)))
    assert(PromQLParser.parse("sort_desc(sum(cpu))") ==
      FnCall("sort_desc", Agg(MetricAgg.Sum, Nil, Selector("cpu", Nil))))
    // calendar names stay usable as metric names (contextual keywords)
    assert(PromQLParser.parse("""month{a="b"}""") ==
      Selector("month", Seq(LabelMatcher("a", MatchOp.Eq, "b"))))
  }

  test("context: holt_winters runs the Prometheus double-smoothing recurrence") {
    // one series, one bucket, values 1, 4, 9, 16 at 1s spacing
    val vals = Seq(1.0, 4.0, 9.0, 16.0)
    val ctx = ctxOf(vals.zipWithIndex.map { case (v, i) =>
      Row("cpu", "a", "us", i * 1000L, v) })
    val (sf, tf) = (0.5, 0.3)
    // reference recurrence (Prometheus funcHoltWinters)
    var sPrev = vals.head
    var b = vals(1) - vals.head
    var s = sf * vals(1) + (1 - sf) * (vals.head + b)
    vals.drop(2).foreach { x =>
      val bNew = tf * (s - sPrev) + (1 - tf) * b
      val sNew = sf * x + (1 - sf) * (s + bNew)
      sPrev = s; s = sNew; b = bNew
    }
    val got = ctx.sql("holt_winters(cpu[1h], 0.5, 0.3)").collect()
    assert(got.length == 1 && math.abs(got.head.getDouble(3) - s) < 1e-12)
    // a single-sample series emits nothing (Prometheus requires >= 2)
    val one = ctxOf(Seq(Row("cpu", "a", "us", 0L, 5.0)))
    assert(one.sql("holt_winters(cpu[1h], 0.5, 0.3)").collect().isEmpty)
  }

  test("context: calendar functions read the value as epoch seconds (UTC)") {
    // 2024-03-15 is a Friday; 2024-02-10 12:34 UTC in a leap February
    val t1 = java.time.Instant.parse("2024-03-15T07:05:09Z").getEpochSecond
    val t2 = java.time.Instant.parse("2024-02-10T12:34:56Z").getEpochSecond
    val ctx = ctxOf(Seq(
      Row("st", "a", "us", 0L, t1.toDouble), Row("st", "b", "us", 0L, t2.toDouble)))
    def run(fn: String): Map[String, Double] =
      ctx.sql(s"$fn(st)").collect()
        .map(r => (r.getString(1), r.getDouble(3))).toMap
    assert(run("hour") == Map("a" -> 7.0, "b" -> 12.0))
    assert(run("minute") == Map("a" -> 5.0, "b" -> 34.0))
    assert(run("day_of_week") == Map("a" -> 5.0, "b" -> 6.0)) // Fri=5, Sat=6
    assert(run("day_of_month") == Map("a" -> 15.0, "b" -> 10.0))
    assert(run("month") == Map("a" -> 3.0, "b" -> 2.0))
    assert(run("year") == Map("a" -> 2024.0, "b" -> 2024.0))
    assert(run("days_in_month") == Map("a" -> 31.0, "b" -> 29.0)) // leap Feb
    assert(run("day_of_year") == Map("a" -> 75.0, "b" -> 41.0))
    // timestamp() composes: hour of the sample's own time (epoch 0 = 00:00)
    val viaTs = ctx.sql("hour(timestamp(st))").collect().map(_.getDouble(3)).toSet
    assert(viaTs == Set(0.0))
  }

  test("context: sort/sort_desc order the output vector by value") {
    val ctx = ctxOf(Seq(
      Row("cpu", "a", "us", 0L, 3.0), Row("cpu", "b", "us", 0L, 1.0),
      Row("cpu", "c", "us", 0L, 2.0)))
    val asc = ctx.sql("sort(sum by (host) (cpu))").collect().map(_.getString(0))
    assert(asc.toSeq == Seq("b", "c", "a"))
    val desc = ctx.sql("sort_desc(sum by (host) (cpu))").collect().map(_.getString(0))
    assert(desc.toSeq == Seq("a", "c", "b"))
  }

  test("context: sort_by_label orders by label values (not sample values), " +
      "desc variant, multi-key, absent label sorts first") {
    val ctx = ctxOf(Seq(
      Row("cpu", "b", "us", 0L, 1.0), Row("cpu", "a", "eu", 0L, 9.0),
      Row("cpu", "c", "eu", 0L, 5.0)))
    // values (9, 1, 5) must NOT drive the order — labels do
    val asc = ctx.sql("""sort_by_label(sum by (host) (cpu), "host")""")
      .collect().map(_.getString(0))
    assert(asc.toSeq == Seq("a", "b", "c"))
    val desc = ctx.sql("""sort_by_label_desc(sum by (host) (cpu), "host")""")
      .collect().map(_.getString(0))
    assert(desc.toSeq == Seq("c", "b", "a"))
    // multi-key: dc first, then host breaks ties inside each dc
    val multi = ctx.sql(
      """sort_by_label(sum by (dc, host) (cpu), "dc", "host")""")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(multi.toSeq == Seq(("eu", "a"), ("eu", "c"), ("us", "b")))
    // an absent label reads "" and sorts before any value
    val absent = ctx.sql("""sort_by_label(sum by (host) (cpu), "nope")""")
      .collect().map(_.getString(0))
    assert(absent.toSeq == Seq("a", "b", "c")) // tiebreak = remaining labels
    // parser: at least one label argument
    intercept[IllegalArgumentException](
      ctx.sql("sort_by_label(sum by (host) (cpu))"))
  }

  test("parser: subqueries [w:step] and infix atan2") {
    assert(PromQLParser.parse("max_over_time(sum by (host) (cpu)[1d:1h])") ==
      RangeSubquery(RangeF.MaxOverTime,
        Agg(MetricAgg.Sum, Seq("host"), Selector("cpu", Nil)),
        86400000L, 3600000L))
    // a subquery over a bare selector is legal (Prometheus rate(x[5m:1m]))
    assert(PromQLParser.parse("rate(cpu[5m:1m])") ==
      RangeSubquery(RangeF.Rate, Selector("cpu", Nil), 300000L, 60000L))
    // interior ':' still lexes as one recording-rule-style metric name
    assert(PromQLParser.parse("job:rate5m") == Selector("job:rate5m", Nil))
    // atan2 binds at the '*' precedence level, left-associative
    assert(PromQLParser.parse("a atan2 b * 2") ==
      BinOp("*", BinOp("atan2", Selector("a", Nil), Selector("b", Nil)),
        NumLit(2.0)))
    // [w:] = default resolution (the evaluation step; sentinel 0)
    assert(PromQLParser.parse("avg_over_time(cpu[1d:])") ==
      RangeSubquery(RangeF.AvgOverTime, Selector("cpu", Nil), 86400000L, 0L))
    for (bad <- Seq(
        "max_over_time(sum(cpu)[1d])", // computed expr needs [w:step]
        "rate(cpu[5m:10m])", // step exceeds range
        "rate(cpu[5m:1m] offset 1h)")) // offset the inner selector instead
      assertThrows[PromQLParseException](PromQLParser.parse(bad))
  }

  test("context: a stepped ParamAgg inner (topk) under a subquery keeps " +
      "bucket_ms as a TIMELINE, not a label; topk/sum match on the " +
      "shared grain") {
    val ctx = ctxOf(Seq(
      Row("cpu", "a", "us", 0L, 1.0), Row("cpu", "b", "us", 10L, 5.0),
      Row("cpu", "a", "us", H + 1, 3.0), Row("cpu", "b", "us", H + 2, 4.0)))
    // stepped eval makes topk carry BOTH ts_ms and bucket_ms; treating
    // bucket_ms as a label duplicated the outer grouping column and threw
    // AMBIGUOUS_REFERENCE. hourly winners: b(5.0), b(4.0) → daily max 5.0
    val got = ctx.sql("max_over_time(topk(1, cpu)[1d:1h])",
        stepMs = Some(24 * H)).collect()
      .map(r => (r.getString(r.fieldIndex("host")),
        r.getAs[Double]("value"))).toSet
    assert(got == Set(("b", 5.0)), got.toString)
    // topk / sum at the same step: the shared grain (bucket_ms) matches;
    // the exact lTime == rTime test wrongly rejected the raw ts_ms the
    // topk side keeps. b's hourly shares: 5/6 and 4/7.
    val ratio = ctx.sql("topk(1, cpu) / sum(cpu)", stepMs = Some(H))
      .collect().map(r => (r.getAs[Long]("bucket_ms"),
        math.rint(r.getAs[Double]("value") * 1e6) / 1e6)).toSet
    assert(ratio == Set((0L, math.rint(5.0 / 6.0 * 1e6) / 1e6),
      (H, math.rint(4.0 / 7.0 * 1e6) / 1e6)), ratio.toString)
  }

  test("context: histogram_quantile coalesces duplicate le-buckets " +
      "(hidden series sharing projected labels SUM per bucket, " +
      "Prometheus's coalesceBuckets)") {
    // two hidden series (dc us/eu, dc NOT projected) with identical le
    // labels: summed buckets le=1 -> 2+4=6, le=+Inf -> 10+10=20;
    // q=0.5 rank 10 lands in (1, +Inf] -> clamps to max finite le = 1
    val ctx2 = new graft.promql.PromQLContext(
      spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          Row("lat", "1", "us", 0L, 2.0), Row("lat", "1", "eu", 0L, 4.0),
          Row("lat", "+Inf", "us", 0L, 10.0),
          Row("lat", "+Inf", "eu", 0L, 10.0)), 2), samplesSchema),
      "m", col("tms"), "v",
      // le is projected; dc stays a hidden series column
      Map("le" -> "host"), ordering = Seq(col("tms")),
      seriesCols = Nil)
    val got = ctx2.sql("histogram_quantile(0.5, lat)").collect()
      .map(_.getAs[Double]("value")).toSeq
    assert(got.length == 1 && math.abs(got.head - 1.0) < 1e-12,
      s"expected the coalesced-bucket quantile 1.0, got $got")
  }

  test("context: subquery re-evaluates the inner expr on the step timeline") {
    val ctx = ctxOf(Seq(
      Row("cpu", "a", "us", 0L, 1.0), Row("cpu", "a", "us", 10L, 5.0),
      Row("cpu", "a", "us", H + 1, 3.0), Row("cpu", "b", "us", H + 2, 4.0)))
    // inner hourly sums: (a, 0h)=6, (a, 1h)=3, (b, 1h)=4; daily max per host
    val got = ctx.sql("max_over_time(sum by (host) (cpu)[1d:1h])").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set(("a", 0L, 6.0), ("b", 0L, 4.0)))
    // fully-grouped inner: one pseudo-series, daily sum of hourly sums
    val s = ctx.sql("sum_over_time(sum(cpu)[1d:1h])").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(s == Set((0L, 13.0)))
    // an inner windowed fn must own the subquery's step timeline
    val ex = intercept[IllegalArgumentException](
      ctx.sql("avg_over_time(rate(cpu[30m])[1d:1h])").collect())
    assert(ex.getMessage.contains("must equal the subquery step"))
    // [w:] omits the resolution -> defaults to the evaluation step
    // (Prometheus's default-to-evaluation-interval), so at step=1d the
    // two spellings agree; unstepped evaluation has no default to take
    val D = 24 * H
    val dflt = ctx.sql("max_over_time(sum by (host) (cpu)[1d:])",
        stepMs = Some(D)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val expl = ctx.sql("max_over_time(sum by (host) (cpu)[1d:1d])",
        stepMs = Some(D)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(dflt == expl && dflt.nonEmpty)
    val ex2 = intercept[IllegalArgumentException](
      ctx.sql("max_over_time(sum by (host) (cpu)[1d:])").collect())
    assert(ex2.getMessage.contains("stepped evaluation"))
    // the pretty-printer round-trips the default-step spelling
    assert(graft.promql.PromQLPrinter.print(
      PromQLParser.parse("max_over_time(x[1d:])")) ==
      "max_over_time(x[1d:])")
  }

  test("engine: @ pinned window scans outside the query range") {
    // the query range [10h, 11h) holds no data; the pin reads [0, 1h)
    // anyway (manifest prune widened per pinned selector)
    val v = engine.queryPromQL("sum(increase(reqs[1h] @ 3600))",
      TimeRange(10 * H, 11 * H)).select("value").collect()
    assert(v.map(_.getDouble(0)).toSeq == Seq(75.0))
  }

  test("engine: subquery runs through the general path") {
    // 10-min-step inner sums over both us hosts, hourly max of those.
    // Samples are i² at i·10min per host; the two us hosts are identical, so
    // inner sums are 2i² and the [1h:10m] max in hour 0 is 2·25 = 50.
    val got = engine.queryPromQL(
      """max_over_time(sum by (dc) (reqs{dc="us"})[1h:10m])""",
      TimeRange(0, H)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set(("us", 0L, 50.0)))
  }

  test("context: set operators and/unless/or; precedence; scalar rejected") {
    val ctx = ctxOf(Seq(
      Row("cpu", "a", "us", 0L, 1.0), Row("cpu", "b", "us", 0L, 2.0),
      Row("mem", "a", "us", 0L, 9.0), Row("mem", "c", "us", 0L, 8.0)))
    def run(q: String) = ctx.sql(q).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSet
    // left values pass through untouched
    assert(run("sum by (host) (cpu) and sum by (host) (mem)") ==
      Set(("a", 1.0)))
    assert(run("sum by (host) (cpu) unless sum by (host) (mem)") ==
      Set(("b", 2.0)))
    assert(run("sum by (host) (cpu) or sum by (host) (mem)") ==
      Set(("a", 1.0), ("b", 2.0), ("c", 8.0)))
    // or binds loosest: a and b or c == (a and b) or c
    assert(PromQLParser.parse("a and b or c") ==
      BinOp("or", BinOp("and", Selector("a", Nil), Selector("b", Nil)),
        Selector("c", Nil)))
    assertThrows[IllegalArgumentException](ctx.sql("sum(cpu) and 2"))
    assertThrows[IllegalArgumentException](
      ctx.sql("sum by (host) (cpu) and on(host) group_left sum by (host) (mem)"))
  }

  test("tree walks: @-sentinel and subquery detection, @ resolution, " +
      "instant pinning, inner windows and sliding lookback over every node " +
      "type") {
    // columns: query, has @ sentinel, has subquery, innerWindows,
    // slidingLookback, resolveAtTimes at start() = 100 s / end() = 200 s,
    // pinRangeSelectors at 5 s (None: a subquery keeps tumbling semantics)
    final case class Case(q: String, sentinel: Boolean, subquery: Boolean,
        windows: Seq[Long], lookback: Long, resolved: String,
        pinned: Option[String])
    val m = 60000L
    val cases = Seq(
      Case("cpu", false, false, Nil, 0L, "cpu", Some("cpu")),
      Case("""rate(cpu{host="a"}[5m])""", false, false, Seq(5 * m), 5 * m,
        """rate(cpu{host="a"}[5m])""", Some("""rate(cpu{host="a"}[5m] @ 5)""")),
      Case("rate(cpu[1m] @ 100)", false, false, Nil, 0L,
        "rate(cpu[1m] @ 100)", Some("rate(cpu[1m] @ 100)")),
      Case("sum without (host) (rate(cpu[5m] @ start()))", true, false, Nil,
        0L, "sum without (host) (rate(cpu[5m] @ 100))",
        Some("sum without (host) (rate(cpu[5m] @ start()))")),
      Case("max_over_time(sum(rate(cpu[1m]))[1h:1m])", false, true,
        Seq(60 * m), 61 * m, "max_over_time(sum(rate(cpu[1m]))[1h:1m])", None),
      Case("max_over_time(avg_over_time(rate(cpu[1m])[10m:1m])[1h:10m])",
        false, true, Seq(60 * m), 71 * m,
        "max_over_time(avg_over_time(rate(cpu[1m])[10m:1m])[1h:10m])", None),
      Case("topk(3, cpu @ end())", true, false, Nil, 0L, "topk(3, cpu @ 200)",
        Some("topk(3, cpu @ end())")),
      Case("""count_values("v", cpu offset 5m)""", false, false, Nil, 0L,
        """count_values("v", cpu offset 5m)""",
        Some("""count_values("v", cpu offset 5m)""")),
      Case("2 * rate(cpu[5m]) + on(host) group_left(dc) mem", false, false,
        Seq(5 * m), 5 * m, "2 * rate(cpu[5m]) + on(host) group_left(dc) mem",
        Some("2 * rate(cpu[5m] @ 5) + on(host) group_left(dc) mem")),
      Case("abs(delta(cpu[10m]))", false, false, Seq(10 * m), 10 * m,
        "abs(delta(cpu[10m]))", Some("abs(delta(cpu[10m] @ 5))")),
      Case("histogram_quantile(0.9, sum by (le) (rate(req_bucket[5m])))",
        false, false, Seq(5 * m), 5 * m,
        "histogram_quantile(0.9, sum by (le) (rate(req_bucket[5m])))",
        Some("histogram_quantile(0.9, sum by (le) (rate(req_bucket[5m] @ 5)))")),
      Case("""label_replace(rate(cpu[2m]), "dst", "$1", "host", "(.*)")""",
        false, false, Seq(2 * m), 2 * m,
        """label_replace(rate(cpu[2m]), "dst", "$1", "host", "(.*)")""",
        Some("""label_replace(rate(cpu[2m] @ 5), "dst", "$1", "host", "(.*)")""")),
      Case("""label_join(cpu @ start(), "dst", ",", "host", "dc")""", true,
        false, Nil, 0L, """label_join(cpu @ 100, "dst", ",", "host", "dc")""",
        Some("""label_join(cpu @ start(), "dst", ",", "host", "dc")""")),
      Case("rate(cpu[5m]) / rate(mem[15m] offset 1m)", false, false,
        Seq(5 * m, 15 * m), 15 * m, "rate(cpu[5m]) / rate(mem[15m] offset 1m)",
        Some("rate(cpu[5m] @ 5) / rate(mem[15m] offset 1m @ 5)")),
      Case("quantile_over_time(0.5, cpu[5m] @ end()) > bool " +
          "max_over_time(mem[5m:1m])", true, true, Seq(5 * m), 5 * m,
        "quantile_over_time(0.5, cpu[5m] @ 200) > bool max_over_time(mem[5m:1m])",
        None),
      Case("""sort_by_label(sum by (host) (cpu @ 150), "host")""", false, false,
        Nil, 0L, """sort_by_label(sum by (host) (cpu @ 150), "host")""",
        Some("""sort_by_label(sum by (host) (cpu @ 150), "host")""")))
    // together the cases hold every node type
    val kinds = Set[Class[_]](classOf[Selector], classOf[RangeFn],
      classOf[AtRange], classOf[RangeSubquery], classOf[Agg],
      classOf[ParamAgg], classOf[CountValues], classOf[NumLit],
      classOf[BinOp], classOf[FnCall], classOf[HistogramQuantile],
      classOf[LabelFn])
    def nodes(e: Expr): Seq[Expr] = e +: e.children.flatMap(nodes)
    assert(cases.flatMap(r => nodes(PromQLParser.parse(r.q))).map(_.getClass)
      .toSet == kinds)
    val wrap: Expr => Expr = c => FnCall("abs", c)
    for (r <- cases; e <- nodes(PromQLParser.parse(r.q))) {
      assert(e.mapChildren(identity) == e, e)
      assert(e.mapChildren(wrap).children == e.children.map(wrap), e)
    }
    for (r <- cases) {
      val e = PromQLParser.parse(r.q)
      assert(PromQLParser.hasAtSentinel(e) == r.sentinel, r.q)
      assert(PromQLParser.hasSubquery(e) == r.subquery, r.q)
      assert(PromQLContext.innerWindows(e) == r.windows, r.q)
      assert(PromQLContext.slidingLookback(e) == r.lookback, r.q)
      assert(PromQLParser.resolveAtTimes(e, 100000L, 200000L) ==
        PromQLParser.parse(r.resolved), r.q)
      assert(PromQLParser.pinRangeSelectors(e, 5000L) ==
        r.pinned.map(PromQLParser.parse), r.q)
    }
  }

  test("parser + context: @ pins a range window; output is time-pinned") {
    assert(PromQLParser.parse("rate(cpu[5m] @ 900)") ==
      AtRange(RangeF.Rate, Selector("cpu", Nil), 300000L, 900000L))
    // offset and @ compose in either order; offset folds into the selector
    assert(PromQLParser.parse("rate(cpu[5m] @ 900 offset 1m)") ==
      PromQLParser.parse("rate(cpu[5m] offset 1m @ 900)"))
    assertThrows[PromQLParseException](
      PromQLParser.parse("rate(cpu[5m] @ 900 @ 901)"))
    // counter per host a: 0 @ 0s, 10 @ 30m, 25 @ 70m; window [0, 1h) @ 1h
    // sees 0→10 → increase 10; the 70m sample is outside the pin
    val ctx = ctxOf(Seq(
      Row("reqs", "a", "us", 0L, 0.0), Row("reqs", "a", "us", 30 * 60000L, 10.0),
      Row("reqs", "a", "us", 70 * 60000L, 25.0)))
    val got = ctx.sql("increase(reqs[1h] @ 3600)").collect()
    assert(got.map(r => (r.getString(1), r.getDouble(2))).toSet ==
      Set(("a", 10.0)))
    assert(!got.head.schema.fieldNames.contains("bucket_ms"))
    // a pinned vector joins a stepped one as a per-range constant (many
    // stepped rows to one pinned row), and the pin is honored at a
    // non-multiple-of-window timestamp (shifted bucketing): window
    // [11m, 71m) @ 71m sees 10→25 → increase 15
    val ratio = ctx.sql(
        "sum by (host) (increase(reqs[1h])) / on(host) group_left " +
          "sum by (host) (increase(reqs[1h] @ 4260))")
      .collect()
      .map(r => (r.getAs[Long]("bucket_ms"), r.getAs[Double]("value"))).toMap
    assert(ratio == Map(0L -> 10.0 / 15.0, 3600000L -> 1.0))
  }

  test("context: trig fns and the atan2 operator") {
    val ctx = ctxOf(Seq(Row("cpu", "a", "us", 0L, 0.5)))
    val v = ctx.sql("deg(sin(cpu) atan2 3)").collect().head.getDouble(3)
    assert(math.abs(v - math.toDegrees(math.atan2(math.sin(0.5), 3.0))) < 1e-12)
    val t = ctx.sql("tanh(rad(cpu))").collect().head.getDouble(3)
    assert(math.abs(t - math.tanh(math.toRadians(0.5))) < 1e-12)
    // inverse hyperbolics and pi() (a parse-time scalar fold)
    val ash = ctx.sql("asinh(cpu)").collect().head.getDouble(3)
    assert(math.abs(ash - 0.48121182505960347) < 1e-12) // asinh(0.5)
    val ath = ctx.sql("atanh(cpu)").collect().head.getDouble(3)
    assert(math.abs(ath - 0.5493061443340549) < 1e-12) // atanh(0.5)
    val ach = ctx.sql("acosh(cpu + 1)").collect().head.getDouble(3)
    assert(math.abs(ach - 0.9624236501192069) < 1e-12) // acosh(1.5)
    assert(ctx.sql("acosh(cpu)").collect().head.getDouble(3).isNaN) // domain
    val withPi = ctx.sql("cpu * pi()").collect().head.getDouble(3)
    assert(math.abs(withPi - 0.5 * math.Pi) < 1e-12)
  }

  test("context: many-to-one matching without group modifier raises " +
      "(Prometheus duplicate-series error), group_left allows it") {
    val ctx = ctxOf(Seq(
      Row("a", "h1", "us", 0L, 1.0),
      Row("b", "h1", "us", 0L, 10.0), Row("b", "h1", "eu", 0L, 20.0)))
    // b has TWO series per host=h1: `a + on(host) b` must error, not
    // silently emit two rows
    val e = intercept[Exception](
      ctx.sql("sum by (host) (a) + on(host) sum by (host, dc) (b)").collect())
    assert(e.getMessage != null &&
      (e.getMessage.contains("duplicate series") ||
        Option(e.getCause).exists(_.getMessage.contains("duplicate series"))))
    // explicit group_left accepts the same shape (b is the many side)
    val ok = ctx.sql(
      "sum by (host, dc) (b) + on(host) group_left sum by (host) (a)")
      .collect().map(_.getDouble(2)).sorted.toSeq
    assert(ok == Seq(11.0, 21.0))
    // clean 1:1 matching still flows
    val one = ctx.sql("sum by (host) (a) + on(host) sum by (host) (b)")
      .collect().map(_.getDouble(1)).toSeq
    assert(one == Seq(31.0))
  }

  test("context: scalar-scalar comparison requires bool and yields 1.0/0.0") {
    val ctx = ctxOf(Seq(
      Row("a", "h1", "us", 0L, 5.0), Row("b", "h1", "us", 0L, 3.0)))
    val e = intercept[IllegalArgumentException](
      ctx.sql("scalar(sum(a)) > scalar(sum(b))"))
    assert(e.getMessage.contains("bool"))
    val v = ctx.sql("scalar(sum(a)) > bool scalar(sum(b))").collect()
    assert(v.length == 1 && v.head.getDouble(0) == 1.0)
    val arith = ctx.sql("(scalar(sum(a)) > bool scalar(sum(b))) + 41")
    assert(arith.collect().head.getDouble(0) == 42.0)
  }

  test("context: `without` keeps labels the child SYNTHESIZED " +
      "(count_values / label_replace dst survive the aggregation)") {
    val ctx = ctxOf(Seq(
      Row("cpu", "h1", "us", 0L, 1.0), Row("cpu", "h2", "us", 0L, 1.0),
      Row("cpu", "h3", "us", 0L, 2.0)))
    // count_values synthesizes label "v"; without(host) must keep it
    // (value strings render Go-style — "1", round 12)
    val got = ctx.sql("""sum without (host) (count_values("v", cpu))""")
      .collect().map(r => (r.getAs[String]("v"), r.getAs[Double]("value"))).toMap
    assert(got == Map("1" -> 2.0, "2" -> 1.0))
    // label_replace dst survives without() on another label
    val lr = ctx.sql(
      """sum without (dc) (label_replace(cpu, "grp", "g-$1", "host", "h(.*)"))""")
      .collect().map(r => (r.getAs[String]("grp"), r.getAs[Double]("value"))).toMap
    assert(lr == Map("g-1" -> 1.0, "g-2" -> 1.0, "g-3" -> 2.0))
  }

  test("parser: negative scalar args, Inf/NaN literals, exponents, " +
      "huge integers, zero durations rejected") {
    val ctx = ctxOf(Seq(
      Row("cpu", "h1", "us", 0L, -5.0), Row("cpu", "h2", "us", 0L, 7.0)))
    // clamp with negative bounds is valid PromQL
    val c = ctx.sql("clamp(cpu, -1, 1)").collect()
      .map(r => (r.getString(1), r.getDouble(3))).toMap
    assert(c == Map("h1" -> -1.0, "h2" -> 1.0))
    assert(PromQLParser.parse("predict_linear(x[1h], -600)") ==
      RangeFn(RangeF.PredictLinear(-600.0), Selector("x", Nil), 3600000L))
    // Inf is a number literal, not a metric selector: x < Inf keeps all
    val inf = ctx.sql("cpu < Inf").collect()
    assert(inf.length == 2)
    assert(ctx.sql("cpu < bool NaN").collect().map(_.getDouble(3)).toSeq ==
      Seq(0.0, 0.0)) // NaN comparisons are false
    // exponent literals and >19-digit integers parse as doubles
    assert(PromQLParser.parse("x > 1e5") ==
      BinOp(">", Selector("x", Nil), NumLit(100000.0), false, None))
    assert(PromQLParser.parse("x > 99999999999999999999") ==
      BinOp(">", Selector("x", Nil), NumLit(1e20), false, None))
    // zero windows/steps are parse errors, not division-by-zero buckets
    assertThrows[PromQLParseException](PromQLParser.parse("rate(x[0s])"))
    assertThrows[PromQLParseException](
      PromQLParser.parse("max_over_time(x[1h:0s])"))
  }

  test("context: division and modulo by zero are Prometheus/IEEE " +
      "(±Inf, NaN) — never an ANSI arithmetic error") {
    val ctx = ctxOf(Seq(
      Row("a", "h1", "us", 0L, 5.0), Row("a", "h2", "us", 0L, -5.0),
      Row("a", "h3", "us", 0L, 0.0),
      Row("b", "h1", "us", 0L, 0.0), Row("b", "h2", "us", 0L, 0.0),
      Row("b", "h3", "us", 0L, 0.0)))
    val div = ctx.sql("sum by (host) (a) / sum by (host) (b)").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(div("h1") == Double.PositiveInfinity)
    assert(div("h2") == Double.NegativeInfinity)
    assert(div("h3").isNaN)
    val mod = ctx.sql("sum by (host) (a) % sum by (host) (b)").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(mod.values.forall(_.isNaN))
  }

  test("context: predict_linear under @ targets real time t + horizon " +
      "(no double shift at non-window-aligned pins)") {
    // series with exact slope 2/sec: value = 2 * t_sec
    val rows = (0 until 60).map(i =>
      Row("lin", "h1", "us", 1500000L + i * 60000L, 2.0 * (1500 + i * 60)))
    val ctx = ctxOf(rows)
    // pin @ 5400s (not a multiple of the 1h window): window [1800, 5400)s,
    // prediction at 5400 + 600 = 6000s → value 12000 exactly
    val got = ctx.sql("predict_linear(lin[1h] @ 5400, 600)").collect()
    assert(got.length == 1)
    assert(math.abs(got.head.getAs[Double]("value") - 12000.0) < 1e-6,
      s"got ${got.head.getAs[Double]("value")}, want 12000.0")
  }

  test("printer round trip: parse(print(parse(q))) == parse(q) across the " +
      "whole surface — printer and parser check each other") {
    import graft.promql.{PromQLParser, PromQLPrinter}
    val corpus = Seq(
      // selectors: matchers, offsets, bare/regex __name__, colons
      """cpu""",
      """cpu{host="h1"}""",
      """cpu{host!="h1",mode=~"user|sys",env!~""}""",
      """{__name__=~"cpu|mem",host="h1"}""",
      """{"http.server.duration"}""",
      """{"http.server.duration",job="api"}""",
      """rate({"rpc/latency.ms",code=~"5.."}[5m])""",
      """sum by (job) ({"service latency",job!=""})""",
      """job:cpu:sum5m""",
      """cpu offset 1h30m""",
      """cpu{a="quote\"s and \\ and\nnewline"}""",
      // aggregations
      """sum(cpu)""",
      """sum by (host) (cpu)""",
      """avg by (host, mode) (cpu)""",
      """count without (instance) (cpu)""",
      """stddev(cpu)""", """stdvar(cpu)""", """group(cpu)""",
      """topk(3, cpu)""", """bottomk(2, cpu)""",
      """quantile by (host) (0.9, cpu)""",
      """limitk(5, cpu)""", """limit_ratio(0.5, cpu)""",
      """count_values("val", cpu)""",
      """count_values by (host) ("val", cpu)""",
      // range functions, windows, @, subqueries
      """rate(req[5m])""", """increase(req[1h])""", """delta(g[30m])""",
      """irate(req[2m])""", """idelta(g[2m])""",
      """avg_over_time(cpu[10m])""", """sum_over_time(cpu[1d])""",
      """min_over_time(cpu[5m])""", """max_over_time(cpu[5m])""",
      """count_over_time(cpu[5m])""", """last_over_time(cpu[5m])""",
      """present_over_time(cpu[5m])""", """absent_over_time(cpu[5m])""",
      """stddev_over_time(cpu[5m])""", """stdvar_over_time(cpu[5m])""",
      """mad_over_time(cpu[5m])""", """resets(c[1h])""", """changes(g[1h])""",
      """deriv(g[15m])""",
      """quantile_over_time(0.99, lat[5m])""",
      """predict_linear(disk[1h], 3600)""",
      """holt_winters(g[1h], 0.3, 0.1)""",
      """rate(req{code=~"5.."}[5m] @ 120)""",
      """sum_over_time(cpu[1h] @ start())""",
      """max_over_time(cpu[1h] @ end())""",
      """cpu @ 123""",
      """max_over_time(sum by (u) (m)[1d:6h])""",
      // binary operators, matching, set ops, bool, precedence
      """cpu * 100""", """100 / cpu""", """cpu % 7""",
      """a + b - c""", """a + b * c""", """(a + b) * c""",
      """cpu > 0.9""", """cpu >= bool 0.9""",
      """a / on (host) b""",
      """a * ignoring (mode) b""",
      """a / on (host) group_left b""",
      """a / on (host) group_left(extra) b""",
      """a / ignoring (x) group_right(y, z) b""",
      """a and b""", """a unless b""", """a or b""",
      """a atan2 b""",
      """-cpu""", """-2 * cpu""",
      // functions
      """abs(cpu)""", """ceil(cpu)""", """sqrt(cpu)""", """exp(cpu)""",
      """ln(cpu)""", """log2(cpu)""", """log10(cpu)""", """sgn(cpu)""",
      """round(cpu)""", """round(cpu, 10)""", """clamp(cpu, 0, 1)""",
      """clamp_min(cpu, -10)""", """clamp_max(cpu, 100)""",
      """absent(cpu{host="h1"})""", """timestamp(cpu)""",
      """minute(cpu)""", """hour(cpu)""", """day_of_week(cpu)""",
      """days_in_month(cpu)""", """month(cpu)""", """year(cpu)""",
      """sort(cpu)""", """sort_desc(cpu)""",
      """sin(cpu)""", """atan(cpu)""", """deg(cpu)""",
      """scalar(cpu)""", """vector(2)""", """time()""",
      """histogram_quantile(0.9, sum by (le) (lat_bucket))""",
      """label_replace(up, "dst", "$1-x", "src", "(.+)")""",
      """label_join(up, "dst", "-", "a", "b")""",
      """sort_by_label(cpu, "host", "mode")""",
      """sort_by_label_desc(cpu, "host")""",
      // round-trip regression pins (round 14): non-finite literals must
      // print as the lexer's Inf/NaN tokens (Java's "Infinity" lexes as
      // an identifier = a metric selector); histogram_fraction prints its
      // scalar bounds FIRST (the parser's required order); the
      // instant-@ desugar prints back as the instant form (the range
      // spelling loses the +1 ms on reparse); sub-second @ rounds
      """cpu < Inf""", """cpu == -Inf""", """clamp_max(cpu, Inf)""",
      """histogram_fraction(0, 0.2, lat)""",
      """histogram_fraction(-Inf, 0.5, lat)""",
      """cpu @ 1000""", """cpu @ 1000.001""",
      """cpu @ start()""", """cpu @ end()""",
      """cpu offset 5m @ 120""",
      """last_over_time(cpu[10m] @ 120)""",
      // trailing comma in a matcher list (Prometheus-legal)
      """cpu{job="api",}""",
      """{"http.server.duration",}""",
      // composites
      """sum by (uid) (rate(http_requests{job="x",code=~"5.."}[5m]))""",
      """histogram_quantile(0.9, sum by (le) (rate(lat_bucket[5m]))) > 2""",
      """clamp_max(m offset 5m, 100) / on (a, b) group_left m2""")
    corpus.foreach { q =>
      val a = PromQLParser.parse(q)
      val printed = PromQLPrinter.print(a)
      val b =
        try PromQLParser.parse(printed)
        catch { case e: Throwable =>
          fail(s"re-parse failed for <$q> printed as <$printed>: ${e.getMessage}") }
      assert(b == a, s"round trip changed <$q>: printed <$printed>")
    }
  }

  test("property round trip: random ASTs over arbitrary UTF-8 label and " +
      "metric names survive print -> parse exactly (printer quoting is " +
      "total, incl. backticks/quotes/backslashes/whitespace)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // char pool deliberately includes every character the quoting layers
    // special-case: quote, backslash, backtick, dot, space, newline, tab,
    // non-ASCII — plus ordinary letters/digits
    val pool: Seq[Char] = "abzAZ09_.:-/ \u00e9\u65e5`\"\\\n\t".toSeq
    val wildName: Gen[String] = Gen.chooseNum(1, 8).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(pool)).map(_.mkString))
    // classic label names prefixed to dodge keywords and the Inf/NaN
    // case-insensitive number lexing
    val classicLabel: Gen[String] = Gen.listOfN(3,
      Gen.oneOf('a' to 'z')).map("l_" + _.mkString)
    val labelName: Gen[String] = Gen.frequency(
      1 -> classicLabel, 2 -> wildName).suchThat(l =>
      l.nonEmpty && l != "__name__")
    val metricName: Gen[String] = Gen.frequency(
      1 -> Gen.oneOf("cpu", "req", "job:cpu:sum5m"), 2 -> wildName)
      .suchThat(_.nonEmpty)
    val valueGen: Gen[String] = Gen.chooseNum(0, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(pool)).map(_.mkString))
    val matcherGen: Gen[LabelMatcher] = for {
      l <- labelName
      op <- Gen.oneOf(MatchOp.Eq, MatchOp.Ne, MatchOp.Re, MatchOp.Nre)
      v <- valueGen
    } yield LabelMatcher(l, op, v)
    val selectorGen: Gen[Selector] = for {
      m <- metricName
      nm <- Gen.chooseNum(0, 3)
      ms <- Gen.listOfN(nm, matcherGen)
    } yield Selector(m, ms.distinctBy(_.label))
    val aggGen: Gen[Expr] = for {
      sel <- selectorGen
      nb <- Gen.chooseNum(0, 3)
      by <- Gen.listOfN(nb, labelName).map(_.distinct)
      without <- Gen.oneOf(true, false)
      op <- Gen.oneOf(MetricAgg.Sum, MetricAgg.Max, MetricAgg.Count)
    } yield Agg(op, by,
      sel, without = without && by.nonEmpty) // `without ()` does not parse
    val paramAggGen: Gen[Expr] = for {
      sel <- selectorGen
      by <- Gen.listOfN(2, labelName).map(_.distinct)
    } yield ParamAgg(ParamOp.TopK, 3.0, by, sel)
    val binGen: Gen[Expr] = for {
      a <- selectorGen
      b <- selectorGen
      on <- Gen.oneOf(true, false)
      nl <- Gen.chooseNum(0, 2)
      ls <- Gen.listOfN(nl, labelName).map(_.distinct)
      ni <- Gen.chooseNum(0, 2)
      inc <- Gen.listOfN(ni, labelName).map(_.distinct)
      grouped <- Gen.oneOf(true, false)
      op <- Gen.oneOf("/", "^", "%", "+")
    } yield BinOp(op, a, b, bool = false,
      Some(VectorMatch(on, ls,
        group = if (grouped || inc.nonEmpty) Some(GroupSide.Left) else None,
        include = if (grouped || inc.nonEmpty) inc else Nil)))
    val lfGen: Gen[Expr] = for {
      sel <- selectorGen
      dst <- labelName
      src <- labelName
    } yield LabelFn("label_replace", sel, dst, Seq("$1", src, "(.+)"))
    val exprGen: Gen[Expr] = Gen.frequency(
      2 -> selectorGen, 2 -> aggGen, 1 -> paramAggGen, 1 -> binGen,
      1 -> lfGen)
    var checked = 0
    for (i <- 0L until 2000L) {
      exprGen.apply(Gen.Parameters.default, Seed(i * 7919 + 13)).foreach {
        ast =>
          checked += 1
          val printed = PromQLPrinter.print(ast)
          val back =
            try PromQLParser.parse(printed)
            catch { case e: Throwable =>
              fail(s"re-parse failed for $ast printed as <$printed>: " +
                e.getMessage) }
          assert(back == ast, s"round trip changed $ast -> <$printed>")
      }
    }
    assert(checked > 1000, s"generator starved: only $checked samples")
  }

  test("parser fuzz: garbage and mutated queries only ever raise " +
      "PromQLParseException — never hangs, never leaks internal errors") {
    import graft.promql.{PromQLParser, PromQLParseException}
    val seeds = Seq(
      """sum by (uid) (rate(http_requests{job="x",code=~"5.."}[5m]))""",
      """histogram_quantile(0.9, sum by (le) (lat_bucket))""",
      """label_replace(up, "dst", "$1", "src", "(.+)")""",
      """clamp_max(m offset 5m, 100) / on (a, b) group_left m2""",
      """max_over_time(sum by (u) (m{x!~"a|b"})[1d:6h] @ 120)""")
    val rnd = new scala.util.Random(20260814L)
    val alphabet = """(){}[]"',=~!<>+-*/%^ .:@0123456789azAZ_smhd"""
    def parseOnly(q: String): Unit =
      try { PromQLParser.parse(q); () }
      catch {
        case _: PromQLParseException => ()
        case e: Throwable =>
          fail(s"non-parse exception ${e.getClass.getName} for <$q>: ${e.getMessage}")
      }
    // pure random garbage
    (0 until 300).foreach { _ =>
      val n = rnd.nextInt(40)
      parseOnly((0 until n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    }
    // mutations of valid queries: deletions, swaps, char flips
    seeds.foreach { s0 =>
      (0 until 200).foreach { _ =>
        val sb = new StringBuilder(s0)
        (0 until 1 + rnd.nextInt(3)).foreach { _ =>
          if (sb.nonEmpty) rnd.nextInt(3) match {
            case 0 => sb.deleteCharAt(rnd.nextInt(sb.length))
            case 1 => sb.setCharAt(rnd.nextInt(sb.length),
              alphabet(rnd.nextInt(alphabet.length)))
            case 2 => sb.insert(rnd.nextInt(sb.length + 1),
              alphabet(rnd.nextInt(alphabet.length)))
          }
        }
        parseOnly(sb.toString)
      }
    }
  }
}
