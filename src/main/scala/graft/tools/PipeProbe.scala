package graft.tools

import org.apache.spark.sql.functions._

import graft.pipeline.Dedup

/** Dev drive: per-stage wall times of the c3 MinHash-dedup composite at an
  * arbitrary SF dir — `runMain graft.tools.PipeProbe <sfDir>`. Used to keep
  * the composite's stages individually accountable (candidate generation vs
  * Jaccard verification vs connected components). */
object PipeProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.GraftSession.create()
    def timed[T](what: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $what%-22s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val cand = timed("lsh candidates") {
      val c = Dedup.lshCandidatePairs(
        Dedup.minhashSignature(docs, "doc_id", "text", 8), "doc_id",
        numHashes = 8, bandSize = 2, maxBucket = 16).localCheckpoint()
      println(s"[probe]   candidates = ${c.count()}")
      c
    }
    val verified = timed("jaccard verify") {
      val v = Dedup.ngramJaccard(docs, cand, "doc_id", "text", n = 3)
        .filter(col("jaccard") >= 0.5)
        .select(col("id_a"), col("id_b")).localCheckpoint()
      println(s"[probe]   verified = ${v.count()}")
      v
    }
    timed("connected components") {
      println(s"[probe]   rows = ${Dedup.duplicateClusters(verified).count()}")
    }

    // c4 semantic-dedup stages (within-label all-pairs on unit vectors)
    import graft.pipeline.Similarity
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val unit = emb
      .withColumn("__n__", Similarity.norm(col("embedding")))
      .select(col("label"), col("vec_id"),
        when(col("__n__") =!= 0.0,
          transform(col("embedding"), x => x / col("__n__"))).as("__u__"))
    val sPairs = timed("semantic pairs") {
      val a = unit.select(col("label"), col("vec_id").as("id_a"), col("__u__").as("__ua__"))
      val b = unit.select(col("label"), col("vec_id").as("id_b"), col("__u__").as("__ub__"))
      val p = a.join(b, Seq("label")).filter(col("id_a") < col("id_b"))
        .filter(Similarity.dot(col("__ua__"), col("__ub__")) >= 0.3)
        .select(col("id_a"), col("id_b")).localCheckpoint()
      println(s"[probe]   sem pairs = ${p.count()}")
      p
    }
    timed("sem components") {
      println(s"[probe]   rows = ${Dedup.duplicateClusters(sPairs).count()}")
    }
    spark.stop()
  }
}
