package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.CoalesceExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.MergeDedupExec
import graft.storage._

/** Plan-shape assertions — the analog of the reference's golden physical-plan
  * test (read.rs:575-617), kept to stable substrings rather than full plan
  * text (Spark plan rendering changes across versions). */
class PlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = SparkTestSession.spark

  private def scanFrame(nativeMerge: Boolean): DataFrame = {
    val schema = StructType(Seq(
      StructField("pk1", IntegerType), StructField("pk2", IntegerType),
      StructField("value", LongType)))
    val s = new TimeMergeStorage(spark,
      Files.createTempDirectory("graft-plan").toString,
      StorageSchema(schema, 2), segmentMs = 7200000L)
    s.write(spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row(1, 1, 1L), Row(2, 2, 2L)), 1), schema), TimeRange(1, 10))
    s.scan(ScanRequest(predicates = Seq(col("pk1") === 1)), nativeMerge)
  }

  private def scanPlan(nativeMerge: Boolean): (String, Seq[String]) = {
    val df = scanFrame(nativeMerge)
    (df.queryExecution.executedPlan.toString, df.schema.fieldNames.toSeq)
  }

  test("scan plan: predicate pushed to parquet, native merge exec, builtins stripped") {
    // above the single-partition bound (one byte): the exchange arm
    val (plan, outCols) = SparkTestSession.aboveMergeBound(scanPlan(nativeMerge = true))
    // predicate reaches the scan (reference: pruning_predicate on ParquetExec)
    assert(plan.contains("PushedFilters") && plan.contains("pk1"), plan)
    // merge-on-read dedup planned as the native sorted-run operator over a
    // single pk-clustered exchange (the reference MergeExec shape)
    assert(plan.contains("MergeDedup"), plan)
    assert("Exchange".r.findAllIn(plan).size == 1, plan)
    // builtins do not appear in the output schema (checked on the schema
    // itself — under AQE the plan's first line is just AdaptiveSparkPlan)
    assert(outCols == Seq("pk1", "pk2", "value"), outCols)
  }

  test("small scan: no Exchange, Coalesce 1 below MergeDedup") {
    val df = scanFrame(nativeMerge = true)
    val plan = df.queryExecution.executedPlan
    assert(!plan.toString.contains("Exchange"), plan)
    val merges = collect(plan) { case m: MergeDedupExec => m }
    assert(merges.size == 1, plan)
    assert(merges.head.collect { case c: CoalesceExec => c.numPartitions } == Seq(1),
      plan)
    assert(df.collect().map(_.toSeq).toSeq == Seq(Seq(1, 1, 1L)))
  }

  test("serve range shape plans no ShuffleExchangeExec: " +
      "sum by (job) (rate(x{instance=~...}[5m]))") {
    import spark.implicits._
    val engine = new graft.metric.MetricEngine(spark,
      Files.createTempDirectory("graft-plan-range").toString)
    engine.write((for (i <- 0 until 8; t <- 0 until 250) yield
      graft.metric.Sample("x", Map("job" -> s"j${i % 2}", "instance" -> s"host-$i"),
        t * 15000L, (t * (i + 1)).toDouble)).toDF())
    val df = engine.queryPromQL(
      """sum by (job) (rate(x{instance=~"host-[0-3].*"}[5m]))""",
      TimeRange(7000L, 3607001L), Some(300000L))
    val plan = df.queryExecution.executedPlan
    assert(collect(plan) { case e: ShuffleExchangeExec => e }.isEmpty, plan)
    assert(df.count() > 0)
  }

  test("remote-read and federation plans broadcast the matched-series frame " +
      "and push the metric_id filter to the data scan") {
    val engine = new graft.metric.MetricEngine(spark,
      Files.createTempDirectory("graft-plan-rr").toString)
    engine.write(spark.createDataFrame(Seq(
        ("cpu", Map("host" -> "a"), 1000L, 1.0),
        ("cpu", Map("host" -> "b"), 2000L, 2.0)))
      .toDF("name", "labels", "timestamp", "value"))
    import graft.promql.{LabelMatcher, MatchOp}
    val rr = engine.readRaw(
      Seq(LabelMatcher("__name__", MatchOp.Eq, "cpu")), TimeRange(0L, 10000L))
    val rrPlan = rr.queryExecution.executedPlan.toString
    // the (tsid, series_key) frame joins broadcast, never shuffled
    assert(rrPlan.contains("BroadcastHashJoin"), rrPlan.take(2000))
    // the metric_id equality reaches the parquet scan
    assert(rrPlan.contains("PushedFilters") && rrPlan.contains("metric_id"),
      rrPlan.take(2000))
    // no isin literal blowup: the plan must not carry an In(tsid, [...])
    assert(!rrPlan.contains("tsid IN"), rrPlan.take(2000))
    val fed = engine.federate("cpu", nowMs = 10000L, lookbackMs = 9000L)
    val fedPlan = fed.queryExecution.executedPlan.toString
    assert(fedPlan.contains("BroadcastHashJoin"), fedPlan.take(2000))
  }

  test("scan plan fallback: merge planned as hash aggregation on the pks") {
    val (plan, outCols) = scanPlan(nativeMerge = false)
    assert(plan.contains("max_by") || plan.contains("HashAggregate"), plan)
    assert(outCols == Seq("pk1", "pk2", "value"), outCols)
  }

  test("query plans: q3 broadcasts the filtered dimension (no shuffle join on customer)") {
    val df = SparkEntry.queries("q3_revenue")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("s1 reads only the projected columns") {
    val df = SparkEntry.queries("s1_project_filter")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && !readSchema.contains("l_shipdate"), readSchema)
  }

  test("w1 per-group top-k plans a partial WindowGroupLimit before the shuffle") {
    val df = SparkEntry.queries("w1_top_orders")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    // row_number + rk <= 3 must be rewritten by Catalyst into a group-limit
    // operator running map-side BEFORE the window exchange (Partial mode):
    // at 100 TB this prunes each partition to k rows per key pre-shuffle —
    // without it the full fact table shuffles just to be discarded.
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
    assert(plan.contains("Partial"), plan.take(2000))
  }

  test("t14 decontamination broadcasts the benchmark gram set") {
    val df = SparkEntry.queries("t14_decontaminate")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    // test sets are tiny next to the training corpus: the semi-join must be
    // a broadcast, never a shuffle of the shingled training side
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      plan.take(2000))
  }

  test("candidate-pair operators never plan an all-pairs join") {
    // d7/d8 (banded simhash), e6 (LSH cosine) and rj1 (bucketized range
    // join) are equi-joins on band/bucket keys — a cartesian or nested-loop
    // join in the plan would mean the candidate restriction silently
    // degenerated to all-pairs.
    for (q <- Seq("d7_simhash_pairs", "d8_simhash64_pairs", "e6_lsh_neardup",
        "rj1_range_pairs", "c4_semantic_dedup", "e10_knn_graph",
        "d13_repeated_spans", "d12_keepfirst_lines",
        "d16_simhash_combo_pairs", "d17_auto_banding_pairs",
        "e13_lsh_multifamily", "e14_lsh_topk")) {
      val df = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"), s"$q: ${plan.take(2000)}")
    }
  }

  test("schedule/scalar operators avoid single-partition global windows") {
    // t21's global rank must come from the two-phase prefix sum (a
    // range-partitioned exchange), and p33's per-step scalar must join as
    // a broadcast — a `Window [partitionBy ()]`-style global window or a
    // sort-merge join on the steps frame would be the wrong shape.
    val t21 = SparkEntry.queries("t21_mixture_schedule")(
      spark, "/root/testdata/sf0.001")
    val p = t21.queryExecution.executedPlan.toString
    // the only acceptable exchanges: hash (group rank), range (prefix sum)
    assert(!p.contains("SinglePartition"), p.take(2000))
    val p33 = SparkEntry.queries("p33_promql_scalar")(
      spark, "/root/testdata/sf0.001")
    assert(p33.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"), "scalar() should broadcast the steps frame")
  }

  test("rollup-routed plan: metric filter pushed into the rollup scan, " +
      "partials pruned to the agg's needs, tsid set broadcast") {
    import graft.metric._
    val eng = new MetricEngine(spark,
      Files.createTempDirectory("graft-plan-rollup").toString,
      segmentMs = 2 * 86400000L)
    eng.write(spark.createDataFrame(Seq(
      Sample("cpu", Map("host" -> "a"), 1000L, 1.0),
      Sample("cpu", Map("host" -> "b"), 3600001L, 2.0))))
    val r = new Rollup(eng, gridMs = 3600000L)
    r.refresh()
    eng.registerRollup(r)
    val routed = eng.queryPromQL("sum by (host) (cpu)",
      TimeRange(Long.MinValue, Long.MaxValue), Some(3600000L))
    val plan = routed.queryExecution.executedPlan.toString
    // the samples come from the rollup store: rollup files present, no
    // raw data-table files (every store nests SSTs under <root>/data/,
    // so the raw table's are the ones under .../data/data/); the meta
    // tables (series/index) legitimately serve the tsid/tag lookups
    assert(routed.inputFiles.exists(_.contains("_rollup_")),
      routed.inputFiles.toSeq)
    assert(!routed.inputFiles.exists(_.contains("/data/data/")),
      routed.inputFiles.toSeq)
    assert(plan.contains("PushedFilters") && plan.contains("metric_id"), plan)
    // column pruning: sum-only routing must NOT read the counter/moment
    // partials (first, sumsq, inc) or min/max/last from parquet
    val reads = "ReadSchema: [^\\n]+".r.findAllIn(plan).mkString("\n")
    for (c <- Seq("first", "sumsq", "inc", "min", "max", "last"))
      assert(!reads.contains(s"$c:"), s"unpruned column $c in:\n$reads")
    // the TSID set enters as a broadcast join, never a shuffle
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"), plan)
  }

  test("multimodal header decodes stay codegen'd column expressions (no UDF " +
      "in the metadata path)") {
    // mm3/mm4/mm6 metadata scans must be pure expressions over the payload
    // bytes: a (Batch)ScalaUDF in the plan would mean the header parse fell
    // off the codegen path. (The fixture's payload GENERATOR is a udf; it
    // feeds the scan and is allowed — we assert on the projection stage by
    // checking the decode exprs themselves are substring/conv trees.)
    import graft.pipeline.Multimodal
    import org.apache.spark.sql.functions.{col, lit}
    val bin = spark.range(1).select(lit(Array[Byte](1, 2, 3)).as("p"))
    for (c <- Seq(Multimodal.imageWidth(col("p")), Multimodal.wavSampleRate(col("p")),
        Multimodal.aviTotalFrames(col("p")))) {
      val e = bin.select(c.as("out")).queryExecution.analyzed.toString.toLowerCase
      assert(!e.contains("udf"), s"decode expr contains a UDF: $e")
      assert(e.contains("substring") && e.contains("conv"), s"unexpected shape: $e")
    }
    // and end-to-end: a real-payload metadata scan keeps whole-stage codegen
    val media = Multimodal.toMedia(
      Multimodal.withSyntheticImages(
        spark.range(8).toDF("doc_id"), "doc_id", mixed = true),
      "doc_id", "payload", "application/octet-stream")
    val plan = media.select(col("meta.width"), col("meta.height"))
      .queryExecution.executedPlan.toString
    // "*(n)" prefixes mark whole-stage-codegen'd operators in the tree dump
    assert(plan.linesIterator.next().trim.startsWith("*("), plan.take(1500))
  }

  test("query registry: distinct names, and every query has an oracle once " +
      "the IVF and PQ indexes are trained") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size == names.size,
      names.diff(names.distinct).mkString("duplicate query names: ", ", ", ""))
    // building e4 and e9 trains the indexes the generated oracles embed
    for (q <- Seq("e4_ivf_topk", "e9_pq_topk"))
      SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(oracles == queries, s"without an oracle: ${(queries -- oracles).toSeq.sorted}; " +
      s"without a query: ${(oracles -- queries).toSeq.sorted}")
  }
  test("GraftShims lists and drops CacheManager entries (the Bench's " +
      "honest-sample release)") {
    import org.apache.spark.sql.GraftShims
    val before = GraftShims.cachedPlans(spark)
    val df = spark.range(10).selectExpr("id * 7 as v").cache()
    df.count()
    val fresh = GraftShims.cachedPlans(spark).filterNot(p => before.exists(_ eq p))
    assert(fresh.size == 1)
    fresh.foreach(GraftShims.uncachePlan(spark, _))
    assert(GraftShims.cachedPlans(spark).size == before.size)
    assert(df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  test("a driver-local broadcast side runs no job and answers like the same " +
      "rows distributed: seeded frames (empty, one row, more rows than " +
      "defaultParallelism, duplicate and null keys) under inner, left-outer, " +
      "left-semi, left-anti, null-aware NOT IN and nested-loop joins; two " +
      "local frames of one schema in one plan share no exchange") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.{GraftShims, LocalBroadcastSourceExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.functions.broadcast
    val sc = spark.sparkContext
    val sideSchema = StructType(Seq(
      StructField("k", IntegerType), StructField("v", StringType)))
    val probeSchema = StructType(Seq(
      StructField("pk", IntegerType), StructField("x", LongType)))
    def local(rows: Seq[Row]) = spark.createDataFrame(rows.asJava, sideSchema)
    def distributed(rows: Seq[Row]) =
      spark.createDataFrame(sc.parallelize(rows, 2), sideSchema)

    // a broadcast exchange tags the job that collects its child
    val broadcastJobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.contains("broadcast exchange"))) broadcastJobs.incrementAndGet()
    }
    case class Run(answer: Seq[String], broadcastJobs: Int, localSources: Int,
        reused: Int)
    def run(df: DataFrame): Run = {
      val plan = df.queryExecution.executedPlan
      // before execution: AQE may drop a materialized broadcast from the
      // final plan (a NOT IN whose build side holds a null key is empty)
      val sources = collect(plan) { case s: LocalBroadcastSourceExec => s }.size
      GraftShims.drainListeners(spark)
      broadcastJobs.set(0)
      val answer = df.collect().map(_.toString).toSeq.sorted
      GraftShims.drainListeners(spark)
      Run(answer, broadcastJobs.get, sources,
        collect(plan) { case r: ReusedExchangeExec => r }.size)
    }

    sc.addSparkListener(listener)
    try {
      var distributedBroadcastJobs = 0
      for (seed <- Seq(3L, 17L, 29L)) {
        val rnd = new scala.util.Random(seed)
        def key(): Any = if (rnd.nextInt(6) == 0) null else rnd.nextInt(8)
        def rows(n: Int) = Seq.fill(n)(Row(key(), s"v${rnd.nextInt(50)}"))
        val probe = spark.createDataFrame(sc.parallelize(
          Seq.fill(24)(Row(if (rnd.nextInt(8) == 0) null else rnd.nextInt(10) - 1,
            rnd.nextLong())), 2), probeSchema)
        probe.createOrReplaceTempView("bcast_probe")
        val n = sc.defaultParallelism
        val sides = Seq(
          "empty" -> Nil,
          "one row" -> Seq(Row(rnd.nextInt(8), "one")),
          "above defaultParallelism" -> rows(3 * n + 1 + rnd.nextInt(n)),
          "duplicate and null keys" ->
            (rows(n) ++ Seq(Row(null, "n0"), Row(3, "d"), Row(3, "d"), Row(null, "n1"))))
        for ((sideName, sideRows) <- sides) {
          def joins(side: DataFrame): Seq[(String, DataFrame)] = {
            side.createOrReplaceTempView("bcast_side")
            val eq = probe("pk") === side("k")
            Seq(
              "inner" -> probe.join(broadcast(side), eq, "inner"),
              "left outer" -> probe.join(broadcast(side), eq, "left_outer"),
              "left semi" -> probe.join(broadcast(side), eq, "left_semi"),
              "left anti" -> probe.join(broadcast(side), eq, "left_anti"),
              "null-aware NOT IN" -> spark.sql("SELECT * FROM bcast_probe WHERE pk " +
                "NOT IN (SELECT /*+ BROADCAST(bcast_side) */ k FROM bcast_side)"),
              "nested loop" -> probe.join(broadcast(side), probe("pk") < side("k")))
          }
          val expected = joins(distributed(sideRows)).map { case (j, df) => j -> run(df) }
          val got = joins(local(sideRows)).map { case (j, df) => j -> run(df) }
          for (((join, want), (_, r)) <- expected.zip(got)) {
            val ctx = s"seed $seed, $sideName side, $join"
            distributedBroadcastJobs += want.broadcastJobs
            assert(r.answer == want.answer, ctx)
            assert(r.broadcastJobs == 0, ctx)
            // an empty local side is optimized away before planning
            assert(sideRows.isEmpty || r.localSources > 0, ctx)
          }
        }
        // two local frames of one schema in one plan: each broadcast keeps
        // its own rows; equal rows may share one exchange
        def twoSides(mk: Seq[Row] => DataFrame, a: Seq[Row], b: Seq[Row]) = {
          val (fa, fb) = (mk(a), mk(b))
          probe.join(broadcast(fa), probe("pk") === fa("k")).select(probe("pk"), fa("v"))
            .union(probe.join(broadcast(fb), probe("pk") === fb("k")).select(probe("pk"), fb("v")))
        }
        val (a, b) = (rows(2 * n), rows(2 * n))
        assert(a != b)
        val split = run(twoSides(local, a, b))
        assert(split.answer == run(twoSides(distributed, a, b)).answer, s"seed $seed")
        assert(split.broadcastJobs == 0 && split.localSources == 2 && split.reused == 0,
          s"seed $seed: $split")
        val same = run(twoSides(local, a, a))
        assert(same.answer == run(twoSides(distributed, a, a)).answer, s"seed $seed")
        assert(same.broadcastJobs == 0 && same.reused == 1, s"seed $seed: $same")
      }
      // the job detector sees the broadcasts of the distributed frames
      assert(distributedBroadcastJobs > 0)
    } finally sc.removeSparkListener(listener)
  }
}
