package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.pipeline.Dedup

/** Superlinearity rehearsal: the c3 full-corpus MinHash-dedup DAG at a
  * corpus two-thousand× the sf0.01 oracle fixture (default 10^7 docs),
  * with planted near-duplicates, on local[32]. The sf0.1 bench cannot see
  * a quadratic term hiding behind a small constant; this can — candidate
  * generation is the dangerous stage (an uncapped LSH bucket is O(m²)),
  * and the run prints per-stage wall plus total shuffle read/write so a
  * superlinear blowup shows up as bytes, not just seconds.
  *
  * The corpus is synthesized IN PARALLEL from pure codegen expressions
  * (spark.range → hash-picked words), so generation never bottlenecks the
  * rehearsal: ~12-word docs over a configurable vocabulary; every 10th doc
  * is a near-duplicate of its predecessor (one word swapped), every 20th an
  * exact duplicate — a ~15% planted dup rate, dense enough to exercise the
  * bucket caps.
  *
  * Run: `sbt "runMain graft.tools.ScaleRehearsal [numDocs] [vocab]"`;
  * results recorded in SCALE.md per round.
  */
object ScaleRehearsal {
  def main(args: Array[String]): Unit = {
    val numDocs = args.headOption.map(_.toLong).getOrElse(10_000_000L)
    val vocab = args.lift(1).map(_.toInt).getOrElse(50_000)
    val spark = graft.GraftSession.create(32)
    import spark.implicits._

    // shuffle accounting across the whole DAG
    val shuffleRead = new java.util.concurrent.atomic.AtomicLong
    val shuffleWrite = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        shuffleRead.addAndGet(sc.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
    })

    def timed[T](label: String)(f: => T): T = {
      val r0 = shuffleRead.get(); val w0 = shuffleWrite.get()
      val t0 = System.nanoTime()
      val r = f
      println(f"[rehearsal] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s " +
        f"(shuffle read ${(shuffleRead.get() - r0) / 1e6}%.0f MB, " +
        f"write ${(shuffleWrite.get() - w0) / 1e6}%.0f MB)")
      r
    }

    // 12 hash-picked words per doc; near-dup = word slot 3 swapped
    def word(seed: Column, i: Int) =
      concat(lit("w"), pmod(xxhash64(seed, lit(i)), lit(vocab)))
    def text(seed: Column, swap3: Boolean) =
      concat_ws(" ", (0 until 12).map(i =>
        if (i == 3 && swap3) word(seed, 999) else word(seed, i)): _*)
    val base = col("doc_id") - pmod(col("doc_id"), lit(20L)) // family anchor
    val docs = spark.range(numDocs).select(
      col("id").as("doc_id"),
      when(pmod(col("id"), lit(20L)) === 19L, text(base, swap3 = false))
        .when(pmod(col("id"), lit(10L)) === 9L, text(base, swap3 = true))
        .otherwise(text(col("doc_id"), swap3 = false)).as("text"))
      .repartition(64)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    timed(s"synthesize $numDocs docs (vocab $vocab)")(docs.count())

    // the c3 DAG verbatim (SparkEntry c3_minhash_dedup), corpus-scale knobs
    val disk = org.apache.spark.storage.StorageLevel.DISK_ONLY
    val sigs = Dedup.minhashSignature(docs, "doc_id", "text", 8).persist(disk)
    timed("minhash signatures (8 hashes, one pass)")(sigs.count())
    val cand = Dedup.lshCandidatePairs(sigs, "doc_id", numHashes = 8,
      bandSize = 2, maxBucket = 16).persist(disk)
    val nCand = timed("LSH candidate pairs (4 bands, maxBucket 16)")(cand.count())
    val verified = Dedup.ngramJaccard(docs, cand, "doc_id", "text", n = 3)
      .filter(col("jaccard") >= 0.5)
      .select(col("id_a"), col("id_b"))
      .persist(disk)
    val nVerified = timed("n-gram Jaccard verify (candidate-bounded)")(verified.count())
    val clusters = Dedup.duplicateClusters(verified)
    val (nClustered, nKeepers) = timed("connected components")(
      (clusters.count(), clusters.filter(col("id") === col("cluster_id")).count()))

    println(f"[rehearsal] docs=$numDocs candidates=$nCand verified=$nVerified " +
      s"clustered=$nClustered keepers=$nKeepers")
    println(f"[rehearsal] totals: shuffle read ${shuffleRead.get() / 1e6}%.0f MB, " +
      f"write ${shuffleWrite.get() / 1e6}%.0f MB")
    // structural sanity: candidates per doc must stay O(1) under the
    // bucket cap — a quadratic blowup fails loudly here instead of
    // silently burning the wall clock
    require(nCand < numDocs * 20L,
      s"candidate pairs $nCand not O(docs) — bucket cap not holding")
    println("[rehearsal] OK")
    spark.stop()
  }
}
