package graft.tools

/** Dump `.explain("formatted")` for named SparkEntry queries to
  * `<outDir>/<query>_<tag>.txt` — a change's before/after plan evidence
  * (e.g. `plans/r17`, one directory per round).
  *
  * Usage: runMain graft.tools.PlanDump <dir> <outDir> <tag> <query>[,<query>...]
  * Runs each query once first (fixture engines build, AQE has something
  * to re-plan) and captures the PRE-EXECUTION formatted plan — the shape
  * evidence (Exchange count, join strategy, PushedFilters) is all in the
  * initial plan.
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
    for (q <- names) graft.SparkEntry.queries.get(q) match {
      case None => println(s"[plandump] $q UNKNOWN query name — skipped")
      case Some(fn) =>
        try {
          fn(spark, dir).count() // build fixture caches (engines, indexes)
          val df = fn(spark, dir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          java.nio.file.Files.write(outDir.resolve(s"${q}_$tag.txt"),
            plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          println(s"[plandump] wrote ${q}_$tag.txt (${plan.length} chars)")
        } catch { case e: Throwable =>
          println(s"[plandump] $q FAILED: ${e.getMessage}")
        }
    }
    spark.stop()
  }
}
