package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, PerfbenchShims, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.pipeline.Dedup

/** The `dedup` workload: the batch near-duplicate pipeline, one job at a
  * time, over the committed sf0.1 `documents` (5,000 rows) and
  * `embeddings` (2,000 rows) in a row order permuted by the seed.
  *
  * One pass runs the four jobs of [[DedupBench.Jobs]]; each job's output is
  * consumed through [[DedupBench.checksum]], which does not depend on row
  * order and is compared with the DuckDB oracle's checksum of the same job
  * (computed by `perfbench/run.py` from `SparkEntry.oracleSql`). After one
  * warm-up pass (its jobs run at once), timed passes run for the window (at least
  * [[DedupBench.MinPasses]]). Before each timed pass the session must hold
  * no cached Dataset and no persisted RDD beyond those present before the
  * warm-up; anything a pass leaves behind is reported (on the seed code,
  * `d3`'s band caches after every pass) and released.
  */
final class DedupBench(spark: SparkSession, args: PerfBench.Args, res: Result) {
  import DedupBench._
  import Serve.SetupRepeats

  private val sc = spark.sparkContext
  private var tracer = new Tracer(false)
  private val jobMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val phaseMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  /** Codegen compilations of each timed pass. */
  private val compiles = mutable.ArrayBuffer.empty[Double]

  private lazy val oracle: Map[String, Seq[Long]] = args.oracle match {
    case Some(p) if Files.isRegularFile(p) =>
      val text = new String(Files.readAllBytes(p), "UTF-8")
      Jobs.flatMap { j =>
        ("\"" + j + "\"\\s*:\\s*\\[([-0-9, ]+)\\]").r.findFirstMatchIn(text)
          .map(m => j -> m.group(1).split(",").map(_.trim.toLong).toSeq)
      }.toMap
    case _ => Map.empty
  }

  /** Seed-permuted copy of the fixtures under `dir`. */
  private def prepare(dir: Path): Unit =
    Seq("documents" -> "doc_id", "embeddings" -> "vec_id").foreach { case (t, id) =>
      spark.read.parquet(args.data.resolve(s"$t.parquet").toString)
        .orderBy(xxhash64(lit(args.seed), col(id)))
        .coalesce(1)
        .write.mode("overwrite").parquet(dir.resolve(s"$t.parquet").toString)
    }

  private def persisted: Set[Int] = sc.getPersistentRDDs.keySet.toSet

  /** One job, its output consumed through [[DedupBench.checksum]] and
    * checked against the oracle. */
  private def runJob(dir: Path, job: String, op: Int, timed: Boolean): Unit = {
    val j0 = System.nanoTime()
    sc.setJobGroup(s"dedup:$job#$op", job, interruptOnCancel = false)
    val got =
      try tracer.span(s"pipeline.$job", op) {
        val df = tracer.span("pipeline.build")(SparkEntry.queries(job)(spark, dir.toString))
        val sum = checksum(df)
        tracer.span("spark.plan")(PerfbenchShims.executedPlan(sum))
        val row = tracer.span("spark.exec")(sum.collect().head)
        val ph = PerfbenchShims.planningPhasesMs(sum)
        phaseMs.synchronized {
          Seq("analysis", "optimization", "planning").foreach(k =>
            phaseMs.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += ph.getOrElse(k, 0L).toDouble)
        }
        Seq(row.getLong(0), row.getLong(1), row.getLong(2))
      } finally sc.clearJobGroup()
    if (timed) jobMs.getOrElseUpdate(job, mutable.ArrayBuffer.empty) +=
      (System.nanoTime() - j0) / 1e6
    if (job == "d3_lsh_pairs") d3Pairs = got.head
    res.check(oracle.get(job).contains(got),
      s"$job checksum ${got.mkString(",")} != oracle " +
        oracle.get(job).map(_.mkString(",")).getOrElse("(missing)"))
  }

  /** Release what pass `n` left behind, so the next sample starts cold. */
  private def release(n: Int, baseline: Set[Int]): Unit = {
    val leaked = persisted -- baseline
    val cached = !PerfbenchShims.cacheManagerEmpty(spark)
    if (leaked.nonEmpty || cached) {
      violations += 1
      res.note(s"pass $n left ${leaked.size} persisted RDDs" +
        (if (cached) " and cached Datasets" else "") + "; released before the next pass")
      spark.catalog.clearCache()
      leaked.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = true)))
    }
  }

  /** The untimed warm-up pass: the four jobs at once, one thread each, so
    * every job is compiled and its code has run before the window. */
  private def warmUp(dir: Path, baseline: Set[Int]): Unit = {
    val threads = Jobs.zipWithIndex.map { case (job, i) => new Thread(() =>
      try runJob(dir, job, i, timed = false)
      catch { case scala.util.control.NonFatal(e) => res.fail(s"warm-up $job: $e") }) }
    threads.foreach(_.start())
    threads.foreach(_.join())
    release(0, baseline)
  }

  /** One timed pass, the jobs one at a time; returns its wall seconds. */
  private def pass(dir: Path, n: Int, baseline: Set[Int]): Double = {
    // the pass before released what it left behind; a pass that still
    // finds blocks would reuse them, which fails the run (not an
    // operation, so it is not counted in `attempted`)
    val extra = persisted -- baseline
    if (!PerfbenchShims.cacheManagerEmpty(spark) || extra.nonEmpty)
      res.fail(s"pass $n would reuse cached blocks: cache empty=" +
        s"${PerfbenchShims.cacheManagerEmpty(spark)}, persisted RDDs ${extra.mkString(",")}")
    val t0 = System.nanoTime()
    val k0 = PerfbenchShims.codegenCompiles
    Jobs.zipWithIndex.foreach { case (job, i) => runJob(dir, job, n * 10 + i, timed = true) }
    val secs = (System.nanoTime() - t0) / 1e9
    compiles += (PerfbenchShims.codegenCompiles - k0).toDouble
    release(n, baseline)
    secs
  }

  private var d3Pairs = 0L
  private var violations = 0

  /** Timed passes for the window; returns pass seconds, CPU ns, wall ms. */
  private def phase(dir: Path, first: Int, baseline: Set[Int]): (Seq[Double], Long, Double) = {
    val cpu0 = PerfBench.processCpuNs()
    val t0 = System.nanoTime()
    val passes = mutable.ArrayBuffer.empty[Double]
    while ((System.nanoTime() - t0) < args.seconds * 1e9 || passes.size < MinPasses)
      passes += pass(dir, first + passes.size, baseline)
    (passes.toSeq, PerfBench.processCpuNs() - cpu0, (System.nanoTime() - t0) / 1e6)
  }

  def run(): Unit = {
    val prep = (0 until SetupRepeats).map { i =>
      val dir = args.work.resolve(s"input-$i")
      val t0 = System.nanoTime()
      prepare(dir)
      (dir, (System.nanoTime() - t0) / 1e9)
    }
    val dir = prep.last._1
    val readS = Stats.median(prep.map(_._2)).get
    res.layer("setup.preload_s", readS)
    res.layer("setup.rollup_s", 0.0)
    res.e2e("setup_s", res.layerMetrics("setup.session_s") + readS)
    res.show("setup_s", res.e2eMetrics.get("setup_s"), "s", SetupRepeats)
    if (oracle.size != Jobs.size) res.fail(s"oracle checksums missing: have ${oracle.keySet}")

    val baseline = persisted
    val w0 = System.nanoTime()
    warmUp(dir, baseline)
    res.layer("setup.warmup_s", (System.nanoTime() - w0) / 1e9)

    res.canaryS = Some(PerfBench.canary(spark))
    val (a, cpuA, _) = phase(dir, 1, baseline)
    report("untraced", a, cpuA)
    res.e2e("op_p50_ms", Stats.median(a).get * 1000)
    res.e2e("cpu_ms_per_op", cpuA / 1e6 / a.size)
    res.e2e("heap_live_mb", PerfBench.liveHeapMb(spark))
    if (args.trace) {
      jobMs.clear(); phaseMs.clear(); compiles.clear()
      tracer = new Tracer(true)
      val listener = new LayerListener
      sc.addSparkListener(listener)
      val gc0 = PerfBench.gcMs()
      val (b, cpuB, wallB) = phase(dir, 100, baseline)
      val gcB = PerfBench.gcMs() - gc0
      PerfbenchShims.drainListeners(spark)
      sc.removeSparkListener(listener)
      report("traced", b, cpuB)
      tracer.write(args.work.resolve("spans.jsonl"))
      layers(a, b, listener, wallB, gcB, dir)
    }
    res.note(s"honest-sample violations: $violations passes left blocks behind")
  }

  private def report(label: String, passes: Seq[Double], cpuNs: Long): Unit = {
    res.note(s"phase $label: ${passes.size} passes, s: " + passes.map(PerfBench.fmt).mkString(" ") +
      "; codegen compiles: " + compiles.map(_.toLong).mkString(" "))
    val rowsPerS = passes.map(InputRows / _)
    res.show(s"$label.dedup_rows_per_s", Stats.median(rowsPerS), "rows/s", passes.size)
    res.show(s"$label.op_p50_ms", Stats.median(passes).map(_ * 1000), "ms", passes.size)
    res.show(s"$label.cpu_ms_per_op", Some(cpuNs / 1e6 / passes.size), "ms", passes.size)
    Jobs.foreach(j => res.show(s"$label.$j.ms", Stats.median(jobMs.getOrElse(j, Nil).toSeq), "ms",
      jobMs.getOrElse(j, Nil).size))
  }

  private def layers(a: Seq[Double], b: Seq[Double], listener: LayerListener,
      wallMs: Double, gcMs: Long, dir: Path): Unit = {
    def med(xs: Seq[Double]) = Stats.median(xs).getOrElse(0.0)
    Jobs.foreach(j => res.layer(s"pipeline.${j.take(2)}_s", med(jobMs.getOrElse(j, Nil).toSeq) / 1000))
    res.layer("pipeline.d3_pairs", d3Pairs.toDouble)
    res.layer("metric.build_ms", 0.0)
    res.layer("spark.analyze_ms", med(phaseMs.getOrElse("analysis", Nil).toSeq))
    res.layer("spark.optimize_ms", med(phaseMs.getOrElse("optimization", Nil).toSeq))
    res.layer("spark.plan_ms", med(phaseMs.getOrElse("planning", Nil).toSeq))
    res.layer("spark.exec_ms", med(tracer.ms("spark.exec")))
    res.layer("spark.codegen_compiles", med(compiles.toSeq))
    Metrics.sparkLayers(res, listener, Map("dedup" -> b.size * Jobs.size), wallMs,
      sc.defaultParallelism)
    res.layer("jvm.gc_ms", gcMs.toDouble)
    res.layer("trace.op_p50_delta_ms", (med(b) - med(a)) * 1000)

    // LSH precision at c3's parameters: Jaccard-verified pairs over
    // candidates (outside the timed passes)
    val docs = spark.read.parquet(dir.resolve("documents.parquet").toString)
    val cand = Dedup.lshCandidatePairs(
      Dedup.minhashSignature(docs, "doc_id", "text", 8), "doc_id", 8, 2, maxBucket = 16)
    val nCand = cand.count()
    val nVerified = Dedup.ngramJaccard(docs, cand, "doc_id", "text", n = 3)
      .filter(col("jaccard") >= 0.5).count()
    Dedup.releaseBandCaches()
    res.layer("pipeline.lsh_verified_ratio",
      if (nCand == 0) 0.0 else nVerified.toDouble / nCand)
    Metrics.zeroFill(res)
  }
}

object DedupBench {
  val Jobs = Seq("c3_minhash_dedup", "d3_lsh_pairs", "c2_embedding_dedup",
    "d8_simhash64_pairs")
  /** Input rows one pass consumes: three jobs read the 5,000 documents,
    * one the 2,000 embeddings. */
  val InputRows = 3 * 5000.0 + 2000.0
  val MinPasses = 2

  private val Mod = 1000000007L
  private val Mults = Seq(1000003L, 998244353L, 754974721L, 167772161L)

  /** Order-independent checksum of a job's output: (rows, Σh, Σ(h² mod M))
    * with h = Σ_j (c_j mod M)·K_j mod M over the columns in name order,
    * each cast to BIGINT. `run.py` evaluates the same formula in DuckDB
    * over the oracle SQL; no intermediate exceeds 2^63. */
  def checksum(df: DataFrame): DataFrame = {
    val cols = df.columns.sorted
    require(cols.size <= Mults.size, s"checksum supports ${Mults.size} columns")
    val h = cols.zip(Mults).map { case (c, k) =>
      (col(c).cast("long") % lit(Mod)) * lit(k) }.reduce(_ + _) % lit(Mod)
    df.select(h.as("h")).agg(count(lit(1)).as("n"), coalesce(sum(col("h")), lit(0L)),
      coalesce(sum((col("h") * col("h")) % lit(Mod)), lit(0L)))
  }

  /** `{"job": "sql", ...}` for [[Jobs]], plus each job's output columns. */
  def dumpOracleSql(out: Path): Unit = {
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => ""
      case '\t' => "\\t"; case c => c.toString
    } + "\""
    val body = Jobs.map(j => s"${str(j)}: ${str(SparkEntry.oracleSql(j))}").mkString("{\n", ",\n", "\n}\n")
    Files.write(out, body.getBytes("UTF-8"))
  }
}
