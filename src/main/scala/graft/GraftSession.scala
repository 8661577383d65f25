package graft

import org.apache.spark.sql.SparkSession

/** One-call session factory with every setting the engine depends on — the
  * entry point a user of the library starts from.
  *
  *  - `spark.sql.shuffle.partitions` sized to the core count (local mode);
  *    on a real cluster leave AQE to coalesce from a higher initial number;
  *  - AQE on: runtime re-planning, skew-join splitting, partition coalescing;
  *  - UTC session timezone (oracle parity and sane epoch arithmetic);
  *  - `nanosAsLong`: parquet TIMESTAMP(NANOS) columns (one generation of
  *    the events table shipped as such) read as epoch-nanos Longs instead
  *    of failing the scan; micros-typed generations read as timestamps and
  *    normalize at the SparkEntry edge;
  *  - `file:` resolves to [[graft.storage.PosixLocalFileSystem]], which sets
  *    file modes without forking `chmod` (effective only if nothing in the
  *    JVM resolved a local path before the session was built).
  */
object GraftSession {

  def builder(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // The engine's query surface spans 170+ distinct plan shapes, many
      // with huge generated methods (md5 chains, shingle HOFs); the
      // default 100-entry codegen class cache thrashes across them and
      // re-janino-compiles hot stages INSIDE timed runs (r7: t14 swung
      // 1.1 s → 6 s across full-sequence runs purely on eviction order).
      // 8000 entries holds the whole surface (JVM-wide, set before first
      // use; metaspace cost is a few hundred MB against a 128 GiB heap).
      .config("spark.sql.codegen.cache.maxEntries", "8000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.storage.PosixLocalFileSystem].getName)

  def create(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = builder(cores).getOrCreate()
    // getOrCreate ignores builder configs/extensions when a session already
    // exists in the JVM — re-apply the runtime-settable confs and register
    // the SQL functions directly so create() keeps its promise either way.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    registerFunctions(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Register the engine's SQL functions and planner strategies on an
    * existing session (the non-extensions path for sessions created
    * elsewhere). */
  def registerFunctions(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "float_dot",
      exprs => graft.functions.FloatDotProduct(exprs(0), exprs(1)),
      "scala_udf")
    org.apache.spark.sql.GraftShims.addStrategy(spark, graft.plans.MergeDedupStrategy)
  }

  /** Register every parquet table under `dir` as a temp view, so the whole
    * surface is reachable from `spark.sql(...)`. */
  def registerTables(spark: SparkSession, dir: String): Seq[String] = {
    val d = new java.io.File(dir)
    val tables = Option(d.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).map(_.getName.stripSuffix(".parquet"))
    tables.foreach { t =>
      spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t)
    }
    tables.toSeq.sorted
  }
}
