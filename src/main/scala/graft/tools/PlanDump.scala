package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.execution.{ExplainMode, LocalTableScanExec,
  RDDScanExec}

/** Dump `.explain("formatted")` for named SparkEntry queries to
  * `<outDir>/<query>_<tag>.txt` — a change's before/after plan evidence
  * (e.g. `plans/r17`, one directory per round).
  *
  * Usage: runMain graft.tools.PlanDump <dir> <outDir> <tag> <query>[,<query>...]
  * Runs each query once first (fixture engines build, AQE has something
  * to re-plan) and captures the PRE-EXECUTION formatted plan — the shape
  * evidence (Exchange count, join strategy, PushedFilters) is all in the
  * initial plan. The dump's first line counts the Spark jobs that ran while
  * the query was BUILT — a builder that collects or checkpoints runs its
  * work there, and its plan only reads the result ("built eagerly") — and
  * the jobs one `collect()` of the built frame then runs.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    val tag = args(2)
    val names = args(3).split(',').toSeq
    val spark = graft.GraftSession.create(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    graft.SparkEntry.prewarm(spark, dir)
    java.nio.file.Files.createDirectories(outDir)
    val jobs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    for (q <- names) graft.SparkEntry.queries.get(q) match {
      case None => println(s"[plandump] $q UNKNOWN query name — skipped")
      case Some(fn) =>
        try {
          fn(spark, dir).count() // build fixture caches (engines, indexes)
          GraftShims.drainListeners(spark)
          jobs.set(0L)
          val df = fn(spark, dir)
          GraftShims.drainListeners(spark)
          val eager = jobs.get > 0 && df.queryExecution.sparkPlan
            .collectLeaves().forall(l =>
              l.isInstanceOf[LocalTableScanExec] || l.isInstanceOf[RDDScanExec])
          val built = s"build jobs: ${jobs.get}" +
            (if (eager) " (built eagerly: the plan reads the result)" else "")
          val explained = df.queryExecution.explainString(
            ExplainMode.fromString("formatted"))
          jobs.set(0L)
          df.collect()
          GraftShims.drainListeners(spark)
          val head = s"$built; run jobs: ${jobs.get}"
          val plan = head + "\n" + explained
          java.nio.file.Files.write(outDir.resolve(s"${q}_$tag.txt"),
            plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          println(s"[plandump] wrote ${q}_$tag.txt (${plan.length} chars, $head)")
        } catch { case e: Throwable =>
          println(s"[plandump] $q FAILED: ${e.getMessage}")
        }
    }
    spark.stop()
  }
}
