package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.storage._

/** Property tests for merge semantics (SURVEY §5: last-write-wins ≡ max-seq;
  * append concat ordered by seq regardless of arrival order). Uses raw
  * ScalaCheck generators with fixed seeds (scalatestplus bridge is not in
  * the offline dependency cache). */
class MergePropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val schema = StructType(Seq(
    StructField("pk", IntegerType), StructField("v", StringType),
    StructField("__seq__", LongType)))

  private val rowsGen: Gen[List[(Int, String, Long)]] = for {
    n <- Gen.choose(1, 30)
    rows <- Gen.listOfN(n, for {
      pk <- Gen.choose(0, 5)
      v <- Gen.alphaStr.map(_.take(3))
    } yield (pk, v))
  } yield rows.zipWithIndex.map { case ((pk, v), i) => (pk, v, i.toLong) }

  private def sample(i: Long): List[(Int, String, Long)] =
    rowsGen.apply(Gen.Parameters.default, Seed(i)).get

  private def df(rows: List[(Int, String, Long)], shuffleSeed: Long) = {
    val shuffled = new scala.util.Random(shuffleSeed).shuffle(rows)
    spark.createDataFrame(
      spark.sparkContext.parallelize(shuffled.map(r => Row(r._1, r._2, r._3)), 3), schema)
  }

  test("Overwrite merge == max-seq row per key, independent of arrival order") {
    for (i <- 0L until 8L) {
      val rows = sample(i)
      val got = MergeOps.dedupMerge(df(rows, i * 31), Seq("pk"), Seq("v"), UpdateMode.Overwrite)
        .collect().map(r => (r.getInt(0), r.getString(1))).toMap
      val want = rows.groupBy(_._1).map { case (pk, g) => pk -> g.maxBy(_._3)._2 }
      assert(got == want, s"case $i: $rows")
    }
  }

  test("Append merge drops null chunks; all-null group merges to null") {
    val rowsGenN: Gen[List[(Int, Option[String], Long)]] = for {
      n <- Gen.choose(1, 30)
      rows <- Gen.listOfN(n, for {
        pk <- Gen.choose(0, 5)
        v <- Gen.option(Gen.alphaStr.map(_.take(3)))
      } yield (pk, v))
    } yield rows.zipWithIndex.map { case ((pk, v), i) => (pk, v, i.toLong) }
    for (i <- 0L until 8L) {
      val rows = rowsGenN.apply(Gen.Parameters.default, Seed(i * 101 + 7)).get
      val shuffled = new scala.util.Random(i).shuffle(rows)
      val in = spark.createDataFrame(
        spark.sparkContext.parallelize(
          shuffled.map(r => Row(r._1, r._2.orNull, r._3)), 3), schema)
      val got = MergeOps.dedupMerge(in, Seq("pk"), Seq("v"), UpdateMode.Append)
        .collect().map(r => (r.getInt(0), Option(r.getString(1)))).toMap
      val want = rows.groupBy(_._1).map { case (pk, g) =>
        val parts = g.sortBy(_._3).flatMap(_._2)
        pk -> (if (parts.isEmpty) None else Some(parts.mkString))
      }
      assert(got == want, s"case $i: $rows")
    }
  }

  test("Append merge == seq-ordered concat per key, independent of arrival order") {
    for (i <- 0L until 8L) {
      val rows = sample(i)
      val got = MergeOps.dedupMerge(df(rows, i * 17), Seq("pk"), Seq("v"), UpdateMode.Append)
        .collect().map(r => (r.getInt(0), r.getString(1))).toMap
      val want = rows.groupBy(_._1).map { case (pk, g) =>
        pk -> g.sortBy(_._3).map(_._2).mkString
      }
      assert(got == want, s"case $i: $rows")
    }
  }

  private val fileSchema = StructType(Seq(
    StructField("k", IntegerType), StructField("ts", LongType),
    StructField("v", StringType)))

  /** 1-4 files of (k, ts, v) rows on a small key space, so pks repeat
    * across files; some files also repeat a pk inside themselves. */
  private val fileSetGen: Gen[List[List[(Int, Long, String)]]] = for {
    nFiles <- Gen.choose(1, 4)
    files <- Gen.listOfN(nFiles, for {
      n <- Gen.choose(1, 12)
      rows <- Gen.listOfN(n, for {
        k <- Gen.choose(0, 2)
        ts <- Gen.choose(0L, 7L)
        v <- Gen.alphaStr.map(_.take(2))
      } yield (k, ts, v))
      dup <- Gen.oneOf(true, false)
    } yield if (dup) rows :+ rows.head.copy(_3 = "dup") else rows)
  } yield files

  test("single-partition scan == exchange scan row for row over random file " +
      "sets (overlapping and disjoint ts, in-file duplicate pks, both modes)") {
    import scala.jdk.CollectionConverters._
    val reqs = Seq(
      ScanRequest(),
      ScanRequest(predicates = Seq(col("k") === 1)),
      ScanRequest(range = TimeRange(2L, 105L), predicates = Seq(col("v") > "M")),
      ScanRequest(predicates = Seq(col("ts") >= 3L, col("v") > "M"),
        projection = Some(Seq("v"))))
    def rows(df: DataFrame): List[String] = df.collect().map(_.toSeq.mkString("|")).toList
    for (i <- 0L until 8L; mode <- Seq(UpdateMode.Overwrite, UpdateMode.Append)) {
      val files = fileSetGen.apply(Gen.Parameters.default, Seed(i * 7919 + 3)).get
      // odd cases give each file its own ts range: pk-disjoint files
      val disjoint = i % 2 == 1
      val st = new TimeMergeStorage(spark,
        Files.createTempDirectory("graft-merge-arms").toString,
        StorageSchema(fileSchema, 2, mode), segmentMs = 1L << 20,
        timestampColumn = Some("ts"))
      files.zipWithIndex.foreach { case (f, n) =>
        val shift = if (disjoint) n * 100L else 0L
        st.write(spark.createDataFrame(
          f.map { case (k, ts, v) => Row(k, ts + shift, v) }.asJava, fileSchema),
          TimeRange(0L, 1000L))
      }
      for (req <- reqs) {
        val single = (rows(st.scan(req)).sorted, rows(st.scanSorted(req)))
        val exchange = SparkTestSession.aboveMergeBound(
          (rows(st.scan(req)).sorted, rows(st.scanSorted(req))))
        assert(single == exchange, s"case $i $mode $req: $files")
      }
      // the two arms really are different plans
      val plan = st.scan().queryExecution.executedPlan.toString
      assert(plan.contains("Coalesce 1") && !plan.contains("Exchange"), plan)
      assert(SparkTestSession.aboveMergeBound(
        st.scan().queryExecution.executedPlan.toString).contains("Exchange"))
    }
  }
}
