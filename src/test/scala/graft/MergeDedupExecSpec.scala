package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.MergeDedupOps
import graft.storage._

/** The native sorted-run merge operator (graft.plans.MergeDedupExec — the
  * reference MergeExec analog, read.rs:95-391) must agree with the
  * aggregation-based MergeOps.dedupMerge on every input, and must plan with
  * exactly one exchange when asked for globally sorted output. */
class MergeDedupExecSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val schema = StructType(Seq(
    StructField("pk", IntegerType), StructField("v", StringType),
    StructField("n", LongType), StructField("__seq__", LongType)))

  /** Unique (pk, seq) per row — the shape real inputs have (seq = file id;
    * a file holds one row per pk after its own write-side sort). */
  private val rowsGen: Gen[List[(Int, String, Long, Long)]] = for {
    n <- Gen.choose(1, 40)
    rows <- Gen.listOfN(n, for {
      pk <- Gen.choose(0, 6)
      v <- Gen.alphaStr.map(_.take(4))
      m <- Gen.choose(-5L, 5L)
    } yield (pk, v, m))
  } yield rows.zipWithIndex.map { case ((pk, v, m), i) => (pk, v, m, i.toLong) }

  private def sample(i: Long) = rowsGen.apply(Gen.Parameters.default, Seed(i)).get

  private def df(rows: List[(Int, String, Long, Long)], shuffleSeed: Long) = {
    val shuffled = new scala.util.Random(shuffleSeed).shuffle(rows)
    spark.createDataFrame(
      spark.sparkContext.parallelize(shuffled.map(r => Row(r._1, r._2, r._3, r._4)), 4), schema)
  }

  private def canon(r: Row) = (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3))

  test("native Overwrite == dedupMerge Overwrite (randomized, any partitioning)") {
    for (i <- 0L until 10L) {
      val rows = sample(i)
      val in = df(rows, i * 13)
      val want = MergeOps.dedupMerge(in, Seq("pk"), Seq("v", "n"), UpdateMode.Overwrite)
        .collect().map(canon).toSet
      for (global <- Seq(true, false)) {
        val got = MergeDedupOps.nativeDedupMerge(in, Seq("pk"), UpdateMode.Overwrite, global)
          .select("pk", "v", "n", "__seq__").collect().map(canon).toSet
        assert(got == want, s"case $i global=$global: $rows")
      }
    }
  }

  test("native Append == dedupMerge Append (string concat + first-row scalars + min seq)") {
    for (i <- 0L until 10L) {
      val rows = sample(i)
      val in = df(rows, i * 7)
      val want = MergeOps.dedupMerge(in, Seq("pk"), Seq("v", "n"), UpdateMode.Append)
        .select("pk", "v", "n", "__seq__").collect().map(canon).toSet
      for (global <- Seq(true, false)) {
        val got = MergeDedupOps.nativeDedupMerge(in, Seq("pk"), UpdateMode.Append, global)
          .select("pk", "v", "n", "__seq__").collect().map(canon).toSet
        assert(got == want, s"case $i global=$global: $rows")
      }
    }
  }

  test("native Append concatenates binary and array columns in seq order") {
    val schema2 = StructType(Seq(
      StructField("pk", IntegerType), StructField("b", BinaryType),
      StructField("arr", ArrayType(LongType)), StructField("__seq__", LongType)))
    val rows = Seq(
      Row(1, Array[Byte](3, 4), Seq(30L), 2L),
      Row(1, Array[Byte](1, 2), Seq(10L, 20L), 1L),
      Row(2, Array[Byte](9), null, 5L),
      Row(2, null, Seq(99L), 6L))
    val in = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema2)
    val got = MergeDedupOps.nativeDedupMerge(in, Seq("pk"), UpdateMode.Append, globalSort = true)
      .collect().map(r => (r.getInt(0),
        Option(r.get(1)).map(_.asInstanceOf[Array[Byte]].toSeq).orNull,
        Option(r.get(2)).map(_.asInstanceOf[scala.collection.Seq[Long]].toSeq).orNull,
        r.getLong(3))).toList.sortBy(_._1)
    assert(got == List(
      (1, Seq[Byte](1, 2, 3, 4), Seq(10L, 20L, 30L), 1L),
      (2, Seq[Byte](9), Seq(99L), 5L)))
  }

  test("native Append == dedupMerge Append with null chunks dropped (all-null -> null)") {
    val schema3 = StructType(Seq(
      StructField("pk", IntegerType), StructField("b", BinaryType),
      StructField("arr", ArrayType(LongType)), StructField("s", StringType),
      StructField("__seq__", LongType)))
    val rows = Seq(
      Row(1, Array[Byte](3), Seq(30L), "x", 2L),
      Row(1, null, null, null, 1L),          // null chunks between real ones
      Row(1, Array[Byte](7), null, "y", 3L),
      Row(2, null, null, null, 5L),          // ALL chunks null -> null value
      Row(2, null, null, null, 6L),
      Row(3, Array[Byte](1, 2), Seq(9L), "z", 8L))
    val in = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema3)
    def canon3(r: Row) = (r.getInt(0),
      Option(r.get(1)).map(_.asInstanceOf[Array[Byte]].toSeq).orNull,
      Option(r.get(2)).map(_.asInstanceOf[scala.collection.Seq[Long]].toSeq).orNull,
      r.getString(3), r.getLong(4))
    val want = MergeOps.dedupMerge(in, Seq("pk"), Seq("b", "arr", "s"), UpdateMode.Append)
      .select("pk", "b", "arr", "s", "__seq__").collect().map(canon3).toSet
    for (global <- Seq(true, false)) {
      val got = MergeDedupOps.nativeDedupMerge(in, Seq("pk"), UpdateMode.Append, global)
        .select("pk", "b", "arr", "s", "__seq__").collect().map(canon3).toSet
      assert(got == want, s"global=$global: got=$got want=$want")
    }
    assert(want == Set(
      (1, Seq[Byte](3, 7), Seq(30L), "xy", 1L),
      (2, null, null, null, 5L),
      (3, Seq[Byte](1, 2), Seq(9L), "z", 8L)), want)
  }

  test("same-seq duplicate pks: both paths concat multiple columns in one shared order") {
    // Two concat columns, duplicates at the SAME __seq__ (single-write-batch
    // edge case): both paths must order the run by (seq, v1, v2) so every
    // column concatenates in the one shared row order.
    val schema2 = StructType(Seq(
      StructField("pk", IntegerType), StructField("v1", StringType),
      StructField("v2", StringType), StructField("__seq__", LongType)))
    val rows = Seq(
      Row(1, "b", "x", 1L), Row(1, "a", "y", 1L), Row(1, "c", "w", 0L),
      Row(2, "q", "q", 4L), Row(2, "p", "r", 4L))
    val in = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema2)
    def canon2(r: Row) = (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))
    val want = MergeOps.dedupMerge(in, Seq("pk"), Seq("v1", "v2"), UpdateMode.Append)
      .select("pk", "v1", "v2", "__seq__").collect().map(canon2).toSet
    for (global <- Seq(true, false)) {
      val got = MergeDedupOps.nativeDedupMerge(in, Seq("pk"), UpdateMode.Append, global)
        .select("pk", "v1", "v2", "__seq__").collect().map(canon2).toSet
      assert(got == want, s"global=$global: got=$got want=$want")
    }
    // order within pk=1: (0,c,w) < (1,a,y) < (1,b,x)  ->  v1=cab, v2=wyx
    assert(want == Set((1, "cab", "wyx", 0L), (2, "pq", "rq", 4L)), want)
  }

  test("float pks: -0.0/0.0 and NaN bit patterns form ONE group on both paths") {
    val schemaF = StructType(Seq(
      StructField("pk", DoubleType), StructField("v", StringType),
      StructField("__seq__", LongType)))
    val nanCanon = java.lang.Double.longBitsToDouble(0x7ff8000000000000L)
    val nanOther = java.lang.Double.longBitsToDouble(0x7ff8000000000001L)
    val rows = Seq(
      Row(0.0, "a", 1L), Row(-0.0, "b", 2L),
      Row(nanCanon, "x", 3L), Row(nanOther, "y", 4L),
      Row(1.5, "z", 5L))
    val in = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schemaF)
    // pk representation may be the RAW winning row (-0.0, native path) or
    // the normalized group key (0.0, hash-agg path) — both mean one group.
    def canonF(r: Row) = {
      val d = r.getDouble(0)
      (if (d.isNaN) "NaN" else if (d == 0.0) "0.0" else d.toString, r.getString(1))
    }
    val want = MergeOps.dedupMerge(in, Seq("pk"), Seq("v"), UpdateMode.Overwrite)
      .select("pk", "v").collect().map(canonF).toSet
    assert(want == Set(("0.0", "b"), ("NaN", "y"), ("1.5", "z")), want)
    for (global <- Seq(true, false)) {
      val got = MergeDedupOps.nativeDedupMerge(in, Seq("pk"), UpdateMode.Overwrite, global)
        .select("pk", "v").collect().map(canonF).toSet
      assert(got == want, s"global=$global: got=$got want=$want")
    }
  }

  test("map-typed value columns merge on both paths (excluded from the tiebreak)") {
    val schemaM = StructType(Seq(
      StructField("pk", IntegerType),
      StructField("m", MapType(StringType, LongType)),
      StructField("s", StringType), StructField("__seq__", LongType)))
    val rows = Seq(
      Row(1, Map("a" -> 1L), "x", 1L), Row(1, Map("b" -> 2L), "y", 2L),
      Row(2, Map.empty[String, Long], "z", 3L))
    val in = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schemaM)
    def canonM(r: Row) = (r.getInt(0), r.getMap[String, Long](1).toString,
      r.getString(2), r.getLong(3))
    for (mode <- Seq(UpdateMode.Overwrite, UpdateMode.Append)) {
      val want = MergeOps.dedupMerge(in, Seq("pk"), Seq("m", "s"), mode)
        .select("pk", "m", "s", "__seq__").collect().map(canonM).toSet
      val got = MergeDedupOps.nativeDedupMerge(in, Seq("pk"), mode)
        .select("pk", "m", "s", "__seq__").collect().map(canonM).toSet
      assert(got == want, s"mode=$mode: got=$got want=$want")
      if (mode == UpdateMode.Overwrite)
        assert(want.map(t => (t._1, t._3, t._4)) == Set((1, "y", 2L), (2, "z", 3L)))
      else // map takes the first (min-seq) row; string concats in seq order
        assert(want.map(t => (t._1, t._3, t._4)) == Set((1, "xy", 1L), (2, "z", 3L)))
    }
  }

  test("null pks form their own run, matching the hash-agg merge") {
    val schemaN = StructType(Seq(
      StructField("pk", IntegerType), StructField("v", StringType),
      StructField("__seq__", LongType)))
    val rows = Seq(Row(null, "a", 1L), Row(null, "b", 2L), Row(1, "c", 3L),
      Row(1, "d", 4L), Row(null, "e", 5L))
    val in = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schemaN)
    val want = MergeOps.dedupMerge(in, Seq("pk"), Seq("v"), UpdateMode.Overwrite)
      .collect().map(r => (Option(r.get(0)), r.getString(1))).toSet
    for (global <- Seq(true, false)) {
      val got = MergeDedupOps.nativeDedupMerge(in, Seq("pk"), UpdateMode.Overwrite, global)
        .select("pk", "v").collect().map(r => (Option(r.get(0)), r.getString(1))).toSet
      assert(got == want && got == Set((None, "e"), (Some(1), "d")), s"global=$global: $got")
    }
  }

  test("globalSort range boundaries never split a pk run (few pks, many versions)") {
    // 2 pks x 1000 versions: ranging over (pk, __seq__, ...) would place
    // partition boundaries inside the runs and emit duplicate "merged"
    // rows; ranging over the pk prefix alone must not. AQE is disabled so
    // the 4-partition range exchange isn't coalesced to one partition
    // (which would mask the boundary placement entirely).
    val rows = for (pk <- List(1, 2); s <- 0L until 1000L)
      yield (pk, s"v$s", s, s)
    val in = df(scala.util.Random.shuffle(rows), 5L)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val out = MergeDedupOps.nativeDedupMerge(in, Seq("pk"), UpdateMode.Overwrite,
        globalSort = true)
      val got = out.collect().map(r => (r.getInt(0), r.getLong(3))).toList
      assert(got == List((1, 999L), (2, 999L)), s"got $got")
      assert(out.rdd.getNumPartitions > 1, "test needs a real multi-partition exchange")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("globally sorted native merge output is pk-ordered with one exchange, no post-sort") {
    val rows = sample(3L)
    val in = df(rows, 99L)
    val out = MergeDedupOps.nativeDedupMerge(in, Seq("pk"), UpdateMode.Overwrite, globalSort = true)
    val pks = out.select("pk").collect().map(_.getInt(0)).toList
    assert(pks == pks.sorted, "output must be globally pk-sorted")
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("MergeDedup"), plan)
    assert("rangepartitioning".r.findAllIn(plan.toLowerCase).size == 1, plan)
    // exactly one exchange in the whole plan — merge and order share it
    assert("Exchange".r.findAllIn(plan).size == 1, plan)
  }

  test("scanSorted(native) over storage == scanSorted(fallback), sorted, fewer exchanges") {
    val dir = java.nio.file.Files.createTempDirectory("mdx").toString
    val st = new TimeMergeStorage(spark, dir,
      StorageSchema(StructType(Seq(
        StructField("k", IntegerType), StructField("ts", LongType),
        StructField("val", DoubleType))), 2, UpdateMode.Overwrite),
      segmentMs = 1000L, timestampColumn = Some("ts"))
    val mk = (rows: Seq[Row]) => spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2),
      StructType(st.schema.userSchema.fields))
    st.write(mk(Seq(Row(1, 10L, 1.0), Row(2, 20L, 2.0), Row(1, 30L, 3.0))), TimeRange(0, 1000))
    st.write(mk(Seq(Row(1, 10L, 9.0), Row(3, 40L, 4.0))), TimeRange(0, 1000))

    // above the single-partition bound (one byte): the exchange arm
    SparkTestSession.aboveMergeBound {
      val native = st.scanSorted()
      val fallback = st.scanSorted(native = false)
      val a = native.collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toList
      val b = fallback.collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toList
      assert(a == b)
      assert(a == a.sortBy(t => (t._1, t._2)), "scanSorted contract: pk-ordered")
      assert(a.contains((1, 10L, 9.0)) && !a.contains((1, 10L, 1.0)), "LWW by seq")
      val nNative = "Exchange".r.findAllIn(native.queryExecution.executedPlan.toString).size
      val nFallback = "Exchange".r.findAllIn(fallback.queryExecution.executedPlan.toString).size
      assert(nNative < nFallback,
        s"native path must shuffle less: native=$nNative fallback=$nFallback")
    }
  }
}
