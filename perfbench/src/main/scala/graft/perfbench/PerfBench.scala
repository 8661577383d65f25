package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.Locale
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{PerfbenchShims, SparkSession}
import org.apache.spark.sql.functions._

/** The repository benchmark. One workload per process:
  *
  *  - `serve`: Grafana-style dashboard refreshes over HTTP, each followed
  *    by a remote write, a compaction pass and a rollup refresh ([[Serve]]);
  *  - `dedup`: the batch near-duplicate pipeline ([[DedupBench]]).
  *
  * Every line of output before the last is `[perfbench] ...`; the last is
  * one JSON object (see [[Result.print]]). With `--trace 1` the workload runs
  * twice with the same seed and schedule: untraced first, then traced, with
  * every operation going in-process through the functions the HTTP
  * handlers call, and the per-layer metrics are reported.
  *
  * Run through `perfbench/run.py`, which builds the classpath:
  * `python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0`.
  */
object PerfBench {
  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, data: Path, oracle: Option[Path])

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    kv.get("--dump-oracle-sql") match {
      case Some(out) => DedupBench.dumpOracleSql(Paths.get(out)); return
      case None =>
    }
    val args = Args(
      workload = kv.getOrElse("--workload", sys.error("--workload is required")),
      seed = kv.getOrElse("--seed", "1").toLong,
      seconds = kv.getOrElse("--seconds", "20").toInt,
      trace = kv.getOrElse("--trace", "0") == "1",
      work = Paths.get(kv.getOrElse("--work", sys.error("--work is required"))),
      data = Paths.get(kv.getOrElse("--data", sys.error("--data is required"))),
      oracle = kv.get("--oracle").map(Paths.get(_)))
    require(Set("serve", "dedup")(args.workload),
      s"unknown workload ${args.workload} (serve, dedup)")
    require(args.seconds >= 1, "--seconds must be >= 1")
    Files.createDirectories(args.work)

    // the engine's own session factory, plus the benchmark's directories
    val spark = graft.GraftSession.builder()
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val res = new Result(args.workload, args.trace)
    res.layer("setup.session_s", sessionS)
    try {
      args.workload match {
        case "dedup" => new DedupBench(spark, args, res).run()
        case _ => new Serve(spark, args, res).run()
      }
      stamp(args, res)
    } catch {
      case scala.util.control.NonFatal(e) =>
        res.fail(s"workload aborted: $e")
        e.printStackTrace()
    } finally spark.stop()
    res.print()
    // the session's non-daemon threads must not keep the JVM alive
    sys.exit(0)
  }

  /** Heap in use at the end of the measured window: after the listener
    * bus has delivered every queued event (a backlog holds events on the
    * heap) and after full collections. */
  def liveHeapMb(spark: SparkSession): Double = {
    PerfbenchShims.drainListeners(spark)
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Seconds of `graft.Bench`'s `canary_cpu` workload (hash-sum over 2e9
    * ids): a fixed Spark CPU job, run just before the untraced window so a
    * slow or contended host shows in the run's stamp. */
  def canary(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.sparkContext.setJobGroup("canary:cpu", "canary", interruptOnCancel = false)
    spark.range(2000000000L).select(sum(xxhash64(col("id")).cast("double"))).collect()
    spark.sparkContext.clearJobGroup()
    (System.nanoTime() - t0) / 1e9
  }

  /** Host stamp, so a contended run is identifiable from its output: core
    * count, load average, seed and the canary time. */
  private def stamp(args: Args, res: Result): Unit = {
    val load = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    res.note(f"stamp nproc=${Runtime.getRuntime.availableProcessors()} " +
      f"loadavg=$load%.2f seed=${args.seed} seconds=${args.seconds} " +
      f"trace=${if (args.trace) 1 else 0} canary_cpu_s=" +
      res.canaryS.map(c => f"$c%.3f").getOrElse("n/a"))
  }

  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  def fmt(v: Double): String = String.format(Locale.ROOT, "%.6g", Double.box(v))
}

/** A run's metrics, counts and failures, and its output. */
final class Result(val workload: String, val traced: Boolean) {
  val e2eMetrics = mutable.LinkedHashMap.empty[String, Double]
  val layerMetrics = mutable.LinkedHashMap.empty[String, Double]
  val attempted = new AtomicLong
  val failed = new AtomicLong

  /** Canary seconds, measured before the untraced window. */
  @volatile var canaryS: Option[Double] = None

  def e2e(name: String, v: Double): Unit = synchronized { e2eMetrics(name) = v }
  def layer(name: String, v: Double): Unit = synchronized { layerMetrics(name) = v }

  def fail(msg: String): Unit = {
    failed.incrementAndGet()
    note(s"FAILED: $msg")
  }

  /** An operation or check whose outcome counts toward `attempted`. */
  def check(ok: Boolean, msg: => String): Boolean = {
    attempted.incrementAndGet()
    if (!ok) fail(msg)
    ok
  }

  def note(line: String): Unit = synchronized { println(s"[perfbench] $line") }

  /** A named figure with unit and sample count; printed, and not part of
    * the JSON unless it is one of the declared metrics. */
  def show(name: String, v: Option[Double], unit: String, n: Int): Unit =
    note(s"metric workload=$workload name=$name value=" +
      v.map(PerfBench.fmt).getOrElse("n/a") + s" unit=$unit n=$n")

  def print(): Unit = {
    val declared = if (traced) Metrics.PerLayer else Metrics.EndToEnd
    val values = if (traced) layerMetrics else e2eMetrics
    declared.foreach { case (n, u) =>
      if (!values.contains(n)) fail(s"metric $n was not measured")
    }
    val ok = failed.get() == 0 && attempted.get() >= 1
    note(s"result correct=$ok attempted=${attempted.get()} failed=${failed.get()} " +
      s"error_ratio=${PerfBench.fmt(failed.get().toDouble / math.max(1L, attempted.get()))}")
    val ms = declared.filter(d => values.contains(d._1)).map { case (n, u) =>
      s""""$n":{"value":${jsonNum(values(n))},"unit":"$u"}""" }
    println(s"""{"correct":$ok,"attempted":${math.max(1L, attempted.get())},""" +
      s""""failed":${failed.get()},"metrics":{${ms.mkString(",")}}}""")
    System.out.flush()
  }

  private def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** The declared metric names and units (BENCHMARK.json lists the same). */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "cpu_ms_per_op" -> "ms",
    "heap_live_mb" -> "MB")

  val OpClasses = Seq("write", "range", "long", "instant", "read", "dedup")

  val PerLayer: Seq[(String, String)] = Seq(
    "setup.session_s" -> "s", "setup.preload_s" -> "s", "setup.rollup_s" -> "s",
    "setup.warmup_s" -> "s",
    "server.write_self_ms" -> "ms", "server.query_self_ms" -> "ms") ++
    Seq("range", "long", "instant", "read").map(c => s"server.response_bytes.$c" -> "B") ++
    Seq("streaming.decode_ms" -> "ms", "streaming.read_encode_ms" -> "ms",
      "metric.write_ms" -> "ms", "metric.write_jobs" -> "count",
      "metric.write_tasks" -> "count", "metric.series_registered" -> "count",
      "metric.meta_write_share" -> "ratio", "metric.build_ms" -> "ms",
      "metric.build_jobs" -> "count", "metric.rollup_hit_ratio" -> "ratio",
      "metric.rollup_refresh_ms" -> "ms", "promql.parse_us" -> "us",
      "spark.analyze_ms" -> "ms", "spark.optimize_ms" -> "ms",
      "spark.plan_ms" -> "ms", "spark.exec_ms" -> "ms",
      "spark.codegen_compiles" -> "count") ++
    Seq("jobs", "stages", "tasks").flatMap(k =>
      OpClasses.map(c => s"spark.$k.$c" -> "count")) ++
    Seq("spark.sched_delay_ms" -> "ms", "spark.busy_share" -> "ratio",
      "spark.shuffle_bytes" -> "B", "spark.spill_bytes" -> "B",
      "spark.peak_exec_mem_mb" -> "MB", "jvm.gc_ms" -> "ms",
      "storage.ssts_live_mean" -> "count", "storage.ssts_live_max" -> "count",
      "storage.manifest_deltas_max" -> "count", "storage.compaction_ms" -> "ms",
      "storage.compaction_runs" -> "count",
      "storage.compaction_bytes_rewritten" -> "B", "storage.write_amp" -> "ratio",
      "storage.files_per_query" -> "count",
      "storage.rows_scanned_per_row_returned" -> "ratio",
      "pipeline.c3_s" -> "s", "pipeline.d3_s" -> "s", "pipeline.c2_s" -> "s",
      "pipeline.d8_s" -> "s", "pipeline.d3_pairs" -> "count",
      "pipeline.lsh_verified_ratio" -> "ratio",
      "trace.op_p50_delta_ms" -> "ms")

  /** Per-layer metrics a workload does not exercise read 0: no work. */
  def zeroFill(res: Result): Unit =
    PerLayer.foreach { case (n, _) =>
      if (!res.layerMetrics.contains(n)) res.layer(n, 0.0) }

  /** Spark totals per op class from a traced phase: jobs, stages and tasks
    * per operation, plus the session-wide shares. */
  def sparkLayers(res: Result, listener: LayerListener,
      opsByClass: Map[String, Int], windowMs: Double, cores: Int): Unit = {
    val t = listener.totals
    def byClass(c: String) = t.filter(_._1.takeWhile(_ != ':') == c).values
    OpClasses.foreach { c =>
      val n = math.max(1, opsByClass.getOrElse(c, 0))
      val acc = byClass(c)
      res.layer(s"spark.jobs.$c", acc.map(_.jobs).sum.toDouble / n)
      res.layer(s"spark.stages.$c", acc.map(_.stages).sum.toDouble / n)
      res.layer(s"spark.tasks.$c", acc.map(_.tasks).sum.toDouble / n)
    }
    val all = t.values
    val tasks = math.max(1L, all.map(_.tasks).sum)
    val ops = math.max(1, opsByClass.values.sum)
    res.layer("spark.sched_delay_ms", all.map(_.schedDelayMs).sum.toDouble / tasks)
    res.layer("spark.busy_share", all.map(_.runMs).sum / (windowMs * cores))
    res.layer("spark.shuffle_bytes", all.map(_.shuffleBytes).sum.toDouble / ops)
    res.layer("spark.spill_bytes", all.map(_.spillBytes).sum.toDouble / ops)
    res.layer("spark.peak_exec_mem_mb",
      (0L +: all.map(_.peakExecMem).toSeq).max / 1048576.0)
  }
}
