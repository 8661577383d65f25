package graft.perfbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession
import graft.metric.MetricEngine
import graft.promql.{LabelMatcher, MatchOp}
import graft.storage.TimeRange

class PerfBenchSpec extends AnyFunSuite {

  test("the same seed gives byte-identical payloads; another seed does not") {
    def payload(seed: Long) = {
      val f = new Gen.Fleet(200, seed, 60000L)
      (Gen.body(f.scrapes(0, 10), 0).toSeq, Gen.body(f.scrapes(10, 20), 1).toSeq)
    }
    assert(payload(7) == payload(7))
    assert(payload(7) != payload(8))
  }

  test("percentiles are refused without ten samples beyond them") {
    val xs = (1 to 99).map(_.toDouble)
    assert(Stats.percentile(xs, 0.9).isEmpty)
    assert(Stats.percentile(xs :+ 100.0, 0.9).contains(90.0))
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 4.0)).contains(2.5))
    assert(Stats.median((1 to 19).map(_.toDouble), minSamples = 20).isEmpty)
  }

  test("closed-form answers match a small in-memory engine") {
    val spark = GraftSession.create(2)
    try {
      import spark.implicits._
      val fleet = new Gen.Fleet(40, 3L, 60000L)
      val engine = new MetricEngine(spark,
        Files.createTempDirectory("perfbench-spec").toString)
      engine.write(fleet.scrapes(0, 12).toDF())

      val got = engine.instantPromQL("sum by (job) (bench_memory_bytes)", fleet.ts(7))
        .collect().map(r => r.getAs[String]("job") -> r.getAs[Double]("value")).toMap
      assert(got == fleet.sumByJob("bench_memory_bytes", 7))

      val rows = engine.readRaw(Seq(
          LabelMatcher("__name__", MatchOp.Eq, "bench_requests_total"),
          LabelMatcher("job", MatchOp.Eq, "job-1")),
        TimeRange(fleet.ts(2), fleet.ts(9) + 1)).collect()
      val series = (0 until fleet.n).filter(i =>
        fleet.metric(i) == "bench_requests_total" && fleet.job(i) == "job-1")
      assert(series.nonEmpty && rows.length == series.size * 8)
      rows.foreach { r =>
        val (_, labels) = MetricEngine.parseSeriesKey(r.getAs[String]("series_key"))
        val i = fleet.byInstance(labels("instance"))
        val k = (r.getAs[Long]("ts_ms") - Gen.T0) / fleet.scrapeMs
        assert(r.getAs[Double]("value") == fleet.value(i, k))
      }
    } finally spark.stop()
  }
}
