package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, Similarity}

/** Connected-components probe: times [[Dedup.duplicateClusters]] on the
  * c2 (LSH embedding pairs) and c3 (MinHash + Jaccard verified pairs)
  * graphs under both of its arms — the default
  * `graft.pipeline.localCcMaxEdges` cap (union-find for graphs under it)
  * and `localCcMaxEdges=0` (bounded 2-hop closure + min-label rounds).
  * Prints warm wall times over three runs, the Spark jobs of one run and
  * the propagation rounds the iterative arm needs, and fails if the two
  * arms' clusters differ.
  *
  * Usage: runMain graft.tools.CcProbe <dir>[,<dir>...]
  * A dir spec `scaled<N>x:<srcDir>` resolves like the bench lane.
  */
object CcProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.create(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val jobs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      })
    for (spec <- args(0).split(',')) {
      val dir = graft.SparkEntry.resolveScaledSpec(spark, spec)
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val graphs = Seq(
        "c2" -> Similarity.lshNearDupPairs(
            spark.read.parquet(s"$dir/embeddings.parquet"),
            "vec_id", "embedding", dim = 64, threshold = 0.3, bits = -1)
          .select(col("id_a"), col("id_b")),
        "c3" -> Dedup.ngramJaccard(docs,
            Dedup.lshCandidatePairs(
              Dedup.minhashSignature(docs, "doc_id", "text", 8), "doc_id",
              numHashes = 8, bandSize = 2, maxBucket = 16),
            "doc_id", "text", n = 3)
          .filter(col("jaccard") >= 0.5)
          .select(col("id_a"), col("id_b")))
      for ((name, graph) <- graphs) {
        // pin the pair graph so the runs time ONLY clustering
        val pairs = graph.localCheckpoint()
        val nPairs = pairs.count()
        val byArm = Seq("default" -> None, "localCcMaxEdges=0" -> Some("0"))
          .map { case (arm, cap) =>
            cap.foreach(spark.conf.set("graft.pipeline.localCcMaxEdges", _))
            try {
              def run() = Dedup.duplicateClusters(pairs).collect()
                .map(r => r.getLong(0) -> r.getLong(1)).toMap
              run() // warm
              val secs = (1 to 3).map { _ =>
                org.apache.spark.sql.GraftShims.drainListeners(spark)
                jobs.set(0L)
                val t0 = System.nanoTime()
                run()
                (System.nanoTime() - t0) / 1e9
              }
              org.apache.spark.sql.GraftShims.drainListeners(spark)
              val nJobs = jobs.get
              val roundsNote =
                if (cap.isEmpty) "" else s" rounds=${rounds(pairs)}"
              println(f"[ccprobe] $spec $name pairs=$nPairs $arm " +
                f"time=${secs.min}%.2f-${secs.max}%.2f s jobs=$nJobs$roundsNote")
              run()
            } finally spark.conf.unset("graft.pipeline.localCcMaxEdges")
          }
        require(byArm.distinct.size == 1,
          s"$spec $name: the two arms produced different clusters")
        println(s"[ccprobe] $spec $name clusters identical " +
          s"(${byArm.head.size} nodes)")
      }
    }
    spark.stop()
  }

  /** The propagation rounds the iterative arm needs on `pairs`: the
    * smallest `maxIter` it converges within. */
  private def rounds(pairs: DataFrame): Int = (1 to 50).find { k =>
    try { Dedup.duplicateClusters(pairs, maxIter = k).count(); true }
    catch { case _: IllegalStateException => false }
  }.getOrElse(-1)
}
