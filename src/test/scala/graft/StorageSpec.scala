package graft

import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.storage._

/** Local filesystem that refuses append — models the object-store FS shape
  * (s3a) for the footer-stamp fallback test. Must be a top-level class so
  * Hadoop can reflectively instantiate it. */
class NoAppendFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("noappend://x")
  override def append(f: org.apache.hadoop.fs.Path, bufferSize: Int,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream =
    throw new UnsupportedOperationException("append not supported (object store)")
}

object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .withExtensions(new GraftExtensions)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Runs `body` with `spark.sql.adaptive.advisoryPartitionSizeInBytes` at
    * one byte, so every storage scan and compaction takes the exchange arm
    * (`TimeMergeStorage.mergeInput`) instead of reading one partition. */
  def aboveMergeBound[T](body: => T): T = {
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}

/** Mirrors the reference's storage tests (storage.rs:377-537, read.rs:512-573,
  * operator.rs:113-159, types.rs:241-303, picker.rs:191-237). */
class StorageSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def tmpRoot(): String =
    Files.createTempDirectory("graft-storage").toString

  private val abSchema = StructType(Seq(
    StructField("pk1", IntegerType), StructField("pk2", IntegerType),
    StructField("value", LongType)))

  private def mkStorage(root: String, mode: UpdateMode = UpdateMode.Overwrite) =
    new TimeMergeStorage(spark, root,
      StorageSchema(abSchema, numPrimaryKeys = 2, mode), segmentMs = 7200 * 1000L)

  private def writeBatch(s: TimeMergeStorage, range: TimeRange, rows: Seq[(Int, Int, Long)]): Unit = {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2, r._3)), 1), abSchema)
    s.write(df, range)
  }

  test("PosixLocalFileSystem gives files and dirs RawLocalFileSystem's modes") {
    import java.nio.file.attribute.PosixFilePermissions
    import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path => HPath}
    val conf = new org.apache.hadoop.conf.Configuration()
    val root = Files.createTempDirectory("graft-posixfs")
    def modes(fs: FileSystem, name: String): Seq[String] = {
      fs.initialize(java.net.URI.create("file:///"), conf)
      val dir = new HPath(root.toUri.toString, s"$name/sub")
      assert(fs.mkdirs(dir))
      val file = new HPath(dir, "part.parquet")
      fs.create(file, true).close()
      Seq(dir, file, new HPath(dir, ".part.parquet.crc")).map(p =>
        PosixFilePermissions.toString(Files.getPosixFilePermissions(
          java.nio.file.Paths.get(p.toUri))))
    }
    val posix = modes(new graft.storage.PosixLocalFileSystem, "posix")
    // umask 022 (Hadoop's default fs.permissions.umask-mode)
    assert(posix == Seq("rwxr-xr-x", "rw-r--r--", "rw-r--r--"))
    assert(posix == modes(new LocalFileSystem, "raw"))
  }
  test("write + scan round-trip with last-write-wins (storage.rs:391-491)") {
    val s = mkStorage(tmpRoot())
    // batch1 @ [1,10), batch2 @ [10,20) — FIXTURES §A
    writeBatch(s, TimeRange(1, 10),
      Seq((11, 100, 2L), (11, 100, 7L), (9, 1, 4L), (10, 2, 6L), (5, 3, 1L)))
    writeBatch(s, TimeRange(10, 20),
      Seq((11, 100, 22L), (11, 99, 77L), (9, 1, 44L), (10, 2, 66L)))

    val got = s.scanSorted().collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    // Within batch1, (11,100) appears twice with same seq: reference keeps the
    // later row of the sorted run; our max_by over equal seq is tie-broken by
    // struct comparison — assert on the cross-batch winner only, plus keys.
    assert(got.map(t => (t._1, t._2)) == Seq((5, 3), (9, 1), (10, 2), (11, 99), (11, 100)))
    assert(got.find(t => t._1 == 11 && t._2 == 100).get._3 == 22L) // batch2 wins
    assert(got.find(t => t._1 == 9).get._3 == 44L)
    assert(got.find(t => t._1 == 5).get._3 == 1L)
  }

  test("scan with predicate pk1 = 11 (storage.rs:466-488)") {
    val s = mkStorage(tmpRoot())
    writeBatch(s, TimeRange(1, 10),
      Seq((11, 100, 2L), (11, 100, 7L), (9, 1, 4L), (10, 2, 6L), (5, 3, 1L)))
    writeBatch(s, TimeRange(10, 20),
      Seq((11, 100, 22L), (11, 99, 77L), (9, 1, 44L), (10, 2, 66L)))
    import org.apache.spark.sql.functions.col
    val got = s.scanSorted(ScanRequest(predicates = Seq(col("pk1") === 11)))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got == Seq((11, 99, 77L), (11, 100, 22L)))
  }

  test("projection widening (types.rs:202-216,292-301)") {
    val ss = StorageSchema(abSchema, 2)
    assert(ss.widenProjection(None)._1 == Seq("pk1", "pk2", "value", "__seq__"))
    val (w, u) = ss.widenProjection(Some(Seq("value")))
    assert(w == Seq("value", "pk1", "pk2", "__seq__") && u == Seq("value"))
    val s = mkStorage(tmpRoot())
    writeBatch(s, TimeRange(1, 10), Seq((1, 2, 3L)))
    assert(s.scan(ScanRequest(projection = Some(Seq("value"))))
      .schema.fieldNames.toSeq == Seq("value"))
  }

  test("append-mode merge concatenates in seq order (read.rs:526-536, operator.rs:46-111)") {
    val schema = StructType(Seq(
      StructField("pk1", IntegerType), StructField("chunk", StringType)))
    val s = new TimeMergeStorage(spark, tmpRoot(),
      StorageSchema(schema, 1, UpdateMode.Append), segmentMs = 1000L)
    def w(rows: Seq[(Int, String)]): Unit =
      s.write(spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 1), schema),
        TimeRange(0, 1000))
    w(Seq((11, "1"), (11, "2"), (12, "3"), (12, "4"), (13, "5")))
    w(Seq((13, "6"), (13, "7")))
    w(Seq((13, "8"), (14, "9")))
    val got = s.scanSorted().collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    // Within-file order is pk-sorted collect_list (single row per key here per
    // file except 11/12/13 — file-internal order of equal keys is the row
    // order, combined across files by seq).
    assert(got.map(_._1) == Seq(11, 12, 13, 14))
    assert(got.find(_._1 == 13).get._2 == "5678")
    assert(got.find(_._1 == 14).get._2 == "9")
  }

  test("append-mode compaction never splits a segment by bucket: mixed " +
      "write()/writeBucketed() generations keep concat order through " +
      "compaction") {
    val schema = StructType(Seq(
      StructField("pk1", IntegerType), StructField("chunk", StringType)))
    val s = new TimeMergeStorage(spark, tmpRoot(),
      StorageSchema(schema, 1, UpdateMode.Append), segmentMs = 1000L)
    def df(rows: Seq[(Int, String)], parts: Int) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), parts), schema)
    // generation 1: unbucketed; 2: bucketed; 3: unbucketed — pk 7's
    // versions interleave across bucket groups, the shape that corrupts
    // under per-bucket Append grouping (a compacted unbucketed prefix
    // {a, c} would reorder around the bucketed b)
    s.write(df(Seq((7, "a"), (8, "x")), 1), TimeRange(0, 1000))
    s.writeBucketed(df(Seq((7, "b"), (9, "y")), 2), TimeRange(0, 1000), 4)
    s.write(df(Seq((7, "c")), 1), TimeRange(0, 1000))
    val compactor = new Compactor(s, CompactionConfig(inputSstMinNum = 2))
    var n = 0
    while (compactor.runOnce() && n < 10) n += 1
    // the whole segment compacts as ONE group (never bucket-split)
    assert(s.manifest.allSsts().size == 1)
    val got = s.scan().collect().map(r => (r.getInt(0), r.getString(1))).toMap
    assert(got(7) == "abc", s"append order corrupted: ${got(7)}")
    assert(got(8) == "x" && got(9) == "y")
  }

  test("append-mode binary concat (operator.rs:119-158)") {
    val schema = StructType(Seq(
      StructField("pk1", IntegerType), StructField("v", BinaryType)))
    val s = new TimeMergeStorage(spark, tmpRoot(),
      StorageSchema(schema, 1, UpdateMode.Append), segmentMs = 1000L)
    for (b <- Seq("one", "two", "three", "four"))
      s.write(spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(11, b.getBytes("UTF-8"))), 1), schema),
        TimeRange(0, 1000))
    val got = s.scan().collect()
    assert(got.length == 1)
    assert(new String(got(0).getAs[Array[Byte]]("v"), "UTF-8") == "onetwothreefour")
  }

  test("segment truncation (types.rs:246-261)") {
    val cases = Seq((0L, 0L), (10L, 0L), (20L, 20L), (30L, 20L), (40L, 40L), (41L, 40L))
    cases.foreach { case (ts, want) => assert(TimeRange.truncate(ts, 20L) == want) }
    assert(TimeRange.truncate(-1L, 20L) == -20L) // floor semantics
  }

  test("time-range overlap pruning via manifest (manifest/mod.rs:165-172)") {
    val s = mkStorage(tmpRoot())
    writeBatch(s, TimeRange(0, 7200000), Seq((1, 1, 1L)))
    writeBatch(s, TimeRange(7200000, 14400000), Seq((2, 2, 2L)))
    assert(s.manifest.findSsts(TimeRange(0, 1)).size == 1)
    assert(s.manifest.findSsts(TimeRange(0, 14400000)).size == 2)
    assert(s.manifest.findSsts(TimeRange(20000000, 30000000)).isEmpty)
  }

  test("manifest persistence + snapshot merge (manifest/mod.rs:184-334)") {
    val root = tmpRoot()
    val m1 = new Manifest(root, mergeThreshold = 3)
    m1.addFile(SstFile(1, "/a", 10, 100, TimeRange(0, 10)))
    m1.addFile(SstFile(2, "/b", 10, 100, TimeRange(10, 20)))
    m1.update(Seq(SstFile(3, "/c", 20, 200, TimeRange(0, 20))), deleteIds = Seq(1, 2))
    val m2 = new Manifest(root) // reload from disk (snapshot merged at 3 deltas)
    assert(m2.allSsts().map(_.id).sorted == Seq(3L))
  }

  test("parquet snapshot fallback: DataFrame range prune equals the driver " +
      "prune, and jsonl rows parse back to SstFiles with stats/bucket intact") {
    import org.apache.spark.sql.functions.{col, lit}
    val root = tmpRoot()
    val m = new Manifest(root)
    m.update((0 until 20).map { i =>
      SstFile(i + 1L, s"/data/f$i.parquet", 100 + i, 1000 + i,
        TimeRange(i * 100L, i * 100L + 100L), bucket = i % 4,
        stats = Map("pk" -> (i.toLong, i.toLong + 9L),
          "name" -> (s"a$i", s"z$i")))
    })
    val pq = m.writeParquetSnapshot(spark)
    val range = TimeRange(500L, 900L)
    val planned = spark.read.parquet(pq)
      .where(col("start") < lit(range.end) && col("end") > lit(range.start))
      .select("jsonl").collect()
      .map(r => m.parseSnapshotLine(r.getString(0)))
    val direct = m.findSsts(range)
    assert(planned.map(_.id).sorted.toSeq == direct.map(_.id).sorted)
    // lossless: every field of every survivor round-trips
    val byId = direct.map(f => f.id -> f).toMap
    planned.foreach(f => assert(f == byId(f.id), s"mismatch for ${f.id}"))
    // write-once seq naming: a second snapshot after more commits gets a
    // NEW name, never overwrites in place
    m.addFile(SstFile(100L, "/data/late.parquet", 1, 1, TimeRange(0, 1)))
    assert(m.writeParquetSnapshot(spark) != pq)
  }

  test("manifest round-trips paths with quotes/backslashes/field-shadowing text") {
    val root = tmpRoot()
    val m1 = new Manifest(root)
    // Hostile-but-legal POSIX paths: a quote, a backslash, a tab, and a
    // substring that looks like a later numeric field.
    val paths = Seq(
      """/data/qu"ote/1.parquet""",
      """/data/back\slash/2.parquet""",
      "/data/tab\there/3.parquet",
      """/data/evil"numRows":999"/4.parquet""")
    paths.zipWithIndex.foreach { case (p, i) =>
      m1.addFile(SstFile(i + 1L, p, 10 + i, 100 + i, TimeRange(i * 10L, i * 10L + 10)))
    }
    val m2 = new Manifest(root) // reload through parse()
    val got = m2.allSsts().sortBy(_.id)
    assert(got.map(_.path) == paths)
    assert(got.map(_.numRows) == Seq(10L, 11L, 12L, 13L)) // no field shadowing
    m2.mergeSnapshot()
    val m3 = new Manifest(root) // and through the snapshot file too
    assert(m3.allSsts().sortBy(_.id).map(_.path) == paths)
  }

  test("manifest crash recovery: stale deltas/snapshots at or below the " +
      "newest snapshot seq are ignored on load and swept at next merge") {
    val root = tmpRoot()
    val m1 = new Manifest(root, mergeThreshold = Int.MaxValue)
    m1.addFile(SstFile(1, "/a", 1, 1, TimeRange(0, 10)))   // delta-1
    m1.addFile(SstFile(2, "/b", 1, 1, TimeRange(10, 20)))  // delta-2
    m1.update(Nil, deleteIds = Seq(1))                     // delta-3: del 1
    m1.mergeSnapshot()                                     // snapshot-3
    // simulate a crash that failed to delete a merged delta: re-create
    // delta-1 (an "add 1" that snapshot-3 already incorporated and a later
    // delta deleted). A naive loader would resurrect file 1.
    val mdir = java.nio.file.Paths.get(root, "manifest")
    java.nio.file.Files.writeString(
      mdir.resolve(f"delta-${1L}%020d.jsonl"),
      """{"op":"add","id":1,"path":"/a","numRows":1,"sizeBytes":1,"start":0,"end":10}""" + "\n")
    // and a stale older snapshot from an earlier crash
    java.nio.file.Files.writeString(
      mdir.resolve(f"snapshot-${2L}%020d.jsonl"),
      """{"op":"add","id":9,"path":"/ghost","numRows":1,"sizeBytes":1,"start":0,"end":10}""" + "\n")
    val m2 = new Manifest(root)
    assert(m2.allSsts().map(_.id) == Seq(2L), "stale files must not replay")
    // new work + merge sweeps the leftovers
    m2.addFile(SstFile(3, "/c", 1, 1, TimeRange(20, 30)))
    m2.mergeSnapshot()
    import scala.jdk.CollectionConverters._
    val left = java.nio.file.Files.list(mdir).iterator().asScala
      .map(_.getFileName.toString).filterNot(_.startsWith(".")).toList.sorted
    assert(left == List(f"snapshot-${4L}%020d.jsonl"), s"leftovers: $left")
    val m3 = new Manifest(root)
    assert(m3.allSsts().map(_.id).sorted == Seq(2L, 3L))
  }

  test("compaction picker (picker.rs:201-236)") {
    // 5 SSTs, id i, range [10i,10i+10), size 100-i, segment 20ms, expire at 15
    val files = (0 to 4).map(i =>
      SstFile(i, s"/f$i", 10, 100 - i, TimeRange(10L * i, 10L * i + 10)))
    val cfg = CompactionConfig(inputSstMinNum = 2, inputSstMaxNum = 10,
      newSstMaxSize = 9999, ttlMs = Some(0L))
    val picker = new Picker(cfg, segmentMs = 20L)
    val task = picker.pick(files, nowMs = 15L).get
    assert(task.expired.map(_.id) == Seq(0L))
    // newest segment [40,60) has only sst4 (<minNum) → next is [20,40): sst2,sst3
    assert(task.inputs.map(_.id).sorted == Seq(2L, 3L))
    assert(task.inputs.map(_.id) == Seq(3L, 2L)) // size-ascending: 97 < 98
  }

  test("compaction executor merges + commits manifest before deletes (executor.rs:155-253)") {
    val root = tmpRoot()
    val s = mkStorage(root)
    writeBatch(s, TimeRange(1, 10), Seq((1, 1, 1L), (2, 2, 2L)))
    writeBatch(s, TimeRange(1, 10), Seq((1, 1, 10L)))
    writeBatch(s, TimeRange(1, 10), Seq((2, 2, 20L)))
    val compactor = new Compactor(s, CompactionConfig(inputSstMinNum = 2, inputSstMaxNum = 30))
    assert(compactor.runOnce())
    val ssts = s.manifest.allSsts()
    assert(ssts.size == 1 && ssts.head.numRows == 2)
    val got = s.scanSorted().collect().map(r => (r.getInt(0), r.getLong(2))).toSeq
    assert(got == Seq((1, 10L), (2, 20L))) // merged result preserved after compaction
  }

  test("compaction deleteGraceMs defers PHYSICAL deletes past the grace " +
      "window (read-while-compact protection); flushDeferred sweeps early") {
    val root = tmpRoot()
    val s = mkStorage(root)
    writeBatch(s, TimeRange(1, 10), Seq((1, 1, 1L), (2, 2, 2L)))
    writeBatch(s, TimeRange(1, 10), Seq((1, 1, 10L)))
    writeBatch(s, TimeRange(1, 10), Seq((2, 2, 20L)))
    val inputPaths = s.manifest.allSsts().map(_.path)
    val compactor = new Compactor(s,
      CompactionConfig(inputSstMinNum = 2, deleteGraceMs = 3600000L))
    assert(compactor.runOnce())
    // manifest committed immediately...
    assert(s.manifest.allSsts().size == 1)
    // ...but the input files are still on disk (an in-flight reader that
    // planned against the old manifest can finish), parked in the queue
    assert(inputPaths.forall(p => s.storeFs.exists(p)),
      "grace-deferred inputs were deleted early")
    assert(compactor.pendingDeferredDeletes == inputPaths.size)
    // merged result correct while the old files linger
    val got = s.scanSorted().collect().map(r => (r.getInt(0), r.getLong(2))).toSeq
    assert(got == Seq((1, 10L), (2, 20L)))
    // a later pass AFTER the grace sweeps them (fake future clock)
    compactor.runOnce(nowMs = System.currentTimeMillis() + 7200000L)
    assert(inputPaths.forall(p => !s.storeFs.exists(p)),
      "due deferred deletes were not swept")
    assert(compactor.pendingDeferredDeletes == 0)
    // flushDeferred force-sweeps regardless of due time
    writeBatch(s, TimeRange(1, 10), Seq((3, 3, 3L)))
    writeBatch(s, TimeRange(1, 10), Seq((3, 3, 30L)))
    val inputs2 = s.manifest.allSsts().map(_.path)
    assert(compactor.runOnce())
    assert(compactor.pendingDeferredDeletes == inputs2.size)
    compactor.flushDeferred()
    assert(compactor.pendingDeferredDeletes == 0)
    assert(inputs2.forall(p => !s.storeFs.exists(p)))
  }

  test("vacuum deletes unreferenced data files and tmp dirs past the age " +
      "threshold; referenced and fresh paths survive") {
    val root = tmpRoot()
    val s = mkStorage(root)
    writeBatch(s, TimeRange(1, 10), Seq((1, 1, 1L), (2, 2, 2L)))
    writeBatch(s, TimeRange(1, 10), Seq((1, 1, 10L)))
    val live = s.manifest.allSsts().map(_.path)
    // orphans: a seq-named parquet nothing references (a crashed
    // grace-deferred delete) and a tmp staging dir (a crashed write)
    val orphanFile = s.storeFs.path("data", "999999.parquet")
    val orphanDir = s.storeFs.path("data", "tmp-crashed")
    s.storeFs.mkdirs(orphanDir)
    s.storeFs.writeLines(orphanFile, Seq("not parquet"))
    s.storeFs.writeLines(new org.apache.hadoop.fs.Path(orphanDir, "part"),
      Seq("x"))
    // a 1h age threshold keeps everything (all paths are seconds old)
    assert(s.vacuum(olderThanMs = 3600000L) == 0)
    assert(s.storeFs.exists(orphanFile) && s.storeFs.exists(orphanDir))
    // age 0 sweeps exactly the two orphans, never the referenced SSTs
    assert(s.vacuum(olderThanMs = 0L,
      nowMs = System.currentTimeMillis() + 10000L) == 2)
    assert(!s.storeFs.exists(orphanFile) && !s.storeFs.exists(orphanDir))
    assert(live.forall(s.storeFs.exists(_)))
    val got = s.scanSorted().collect().map(r => (r.getInt(0), r.getLong(2))).toSeq
    assert(got == Seq((1, 10L), (2, 2L)))
  }

  test("bucketed write: N sorted SSTs per segment, scan merges across buckets") {
    val s = mkStorage(tmpRoot())
    val rows = (1 to 100).map(i => (i % 10, i, i.toLong))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2, r._3)), 4), abSchema)
    val ssts = s.writeBucketed(df, TimeRange(1, 10), numBuckets = 4)
    assert(ssts.size >= 2 && ssts.size <= 4) // empty buckets produce no file
    assert(ssts.map(_.numRows).sum == 100)
    assert(s.scan().count() == 100)
    // overwrite a key via a second bucketed write: merge still wins globally
    val df2 = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(5, 5, 999L)), 1), abSchema)
    s.writeBucketed(df2, TimeRange(1, 10), numBuckets = 2)
    import org.apache.spark.sql.functions.col
    val v = s.scan(ScanRequest(predicates = Seq(col("pk1") === 5, col("pk2") === 5)))
      .collect()
    assert(v.map(_.getLong(2)).toSeq == Seq(999L))
  }

  test("bucketed compaction merges per (segment, bucket): buckets survive, " +
      "last-write-wins holds per bucket, manifest persists bucket ids") {
    import org.apache.spark.sql.functions.col
    val root = tmpRoot()
    val s = mkStorage(root)
    val mk = (base: Int, v: Long) => spark.createDataFrame(
      spark.sparkContext.parallelize(
        (1 to 100).map(i => Row(i % 10, i, v + base * i)), 4), abSchema)
    // three bucketed generations over the same keys
    s.writeBucketed(mk(0, 1000L), TimeRange(1, 10), numBuckets = 4)
    s.writeBucketed(mk(1, 2000L), TimeRange(1, 10), numBuckets = 4)
    s.writeBucketed(mk(2, 3000L), TimeRange(1, 10), numBuckets = 4)
    val before = s.manifest.allSsts()
    assert(before.forall(_.bucket >= 0))
    val buckets = before.map(_.bucket).toSet
    assert(buckets.size >= 2) // 100 keys over 4 hash buckets
    val compactor = new Compactor(s, CompactionConfig(inputSstMinNum = 2))
    var n = 0
    while (compactor.runOnce() && n < 20) n += 1
    val after = s.manifest.allSsts()
    // one SST per bucket, same bucket set, never a segment-wide merge
    assert(after.size == buckets.size, s"got ${after.map(_.bucket)}")
    assert(after.map(_.bucket).toSet == buckets)
    assert(after.map(_.numRows).sum == 100) // per-bucket dedup complete
    // newest generation won inside every bucket
    val got = s.scanSorted().collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    assert(got.length == 100 && got.forall { case (_, i, v) => v == 3000L + 2L * i })
    // bucket ids round-trip through a manifest reload (optional JSON field)
    val reloaded = new Manifest(root)
    assert(reloaded.allSsts().map(f => f.id -> f.bucket).toMap ==
      after.map(f => f.id -> f.bucket).toMap)
    // legacy/unbucketed lines read back as bucket = -1
    reloaded.addFile(SstFile(7777, "/legacy", 1, 1, TimeRange(1, 10)))
    reloaded.mergeSnapshot()
    val again = new Manifest(root)
    assert(again.allSsts().find(_.id == 7777).get.bucket == -1)
  }

  test("per-column write options land in the parquet footer (config.rs:96-103)") {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val root = tmpRoot()
    val s = new TimeMergeStorage(spark, root,
      StorageSchema(abSchema, numPrimaryKeys = 2), segmentMs = 7200 * 1000L,
      writeOptions = WriteOptions(compression = "zstd",
        enableDictionary = false, dictionaryColumns = Map("value" -> true),
        bloomFilterColumns = Seq("pk1")))
    // low-cardinality values so the dictionary encoder actually engages
    val rows = (1 to 400).map(i => (i, i % 3, (i % 5).toLong))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2, r._3)), 1), abSchema)
    val sst = s.write(df, TimeRange(0, 1000))
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(sst.path), new Configuration()))
    try {
      val meta = reader.getFooter
      val block = meta.getBlocks.get(0)
      import scala.jdk.CollectionConverters._
      val byName = block.getColumns.asScala
        .map(c => c.getPath.toDotString -> c).toMap
      assert(byName("value").getEncodings.asScala.exists(_.usesDictionary),
        s"value should dictionary-encode: ${byName("value").getEncodings}")
      assert(!byName("pk1").getEncodings.asScala.exists(_.usesDictionary),
        "pk1 keeps the global dictionary=off default")
      assert(byName("pk1").getBloomFilterOffset >= 0, "pk1 bloom filter missing")
      assert(byName("pk2").getBloomFilterOffset < 0, "pk2 must have no bloom filter")
      assert(byName("value").getCodec.toString.toLowerCase.contains("zstd"))
    } finally reader.close()
    // the override works in the OTHER direction too: global on, one column off
    val s2 = new TimeMergeStorage(spark, tmpRoot(),
      StorageSchema(abSchema, numPrimaryKeys = 2), segmentMs = 7200 * 1000L,
      writeOptions = WriteOptions(enableDictionary = true,
        dictionaryColumns = Map("value" -> false)))
    val sst2 = s2.write(df, TimeRange(0, 1000))
    val reader2 = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(sst2.path), new Configuration()))
    try {
      import scala.jdk.CollectionConverters._
      val byName2 = reader2.getFooter.getBlocks.get(0).getColumns.asScala
        .map(c => c.getPath.toDotString -> c).toMap
      assert(byName2("pk2").getEncodings.asScala.exists(_.usesDictionary),
        "pk2 should dictionary-encode under the global on")
      assert(!byName2("value").getEncodings.asScala.exists(_.usesDictionary),
        "value dictionary disabled per-column over the global on")
    } finally reader2.close()
  }

  test("TTL expiry drops whole files (sst.rs:109-114, picker TTL path)") {
    val root = tmpRoot()
    val s = mkStorage(root)
    writeBatch(s, TimeRange(0, 10), Seq((1, 1, 1L)))
    writeBatch(s, TimeRange(7200000, 7200010), Seq((2, 2, 2L)))
    val compactor = new Compactor(s,
      CompactionConfig(inputSstMinNum = 99, ttlMs = Some(1000L)))
    assert(compactor.runOnce(nowMs = 7200000))     // file1 end=10 < 7200000-1000
    assert(s.manifest.allSsts().map(_.timeRange.start) == Seq(7200000L))
  }

  test("manifest hard-threshold push-back (manifest/mod.rs:248-256)") {
    // soft merge disabled so the backlog can actually reach the hard limit
    // (in production the soft merge at 50 drains it; this models a stalled
    // merger under sustained ingest — the write path must error, not grow
    // delta files without bound)
    val root = tmpRoot()
    val m = new Manifest(root, mergeThreshold = Int.MaxValue, hardThreshold = 3)
    // A directory squatting on snapshot.tmp makes every merge attempt fail —
    // a genuinely stalled merger (update() first tries a recovery merge and
    // only rejects the write when the backlog is STILL at the limit).
    val squatter = java.nio.file.Paths.get(root, "manifest", "snapshot.tmp")
    java.nio.file.Files.createDirectories(squatter)
    (1 to 3).foreach(i => m.addFile(SstFile(i, s"/f$i", 1, 1, TimeRange(0, 10))))
    val ex = intercept[IllegalStateException] {
      m.addFile(SstFile(4, "/f4", 1, 1, TimeRange(0, 10)))
    }
    assert(ex.getMessage.contains("hard limit"))
    // Once the merger unsticks, the NEXT write self-heals (recovery merge
    // inside update) — no manual drain required.
    java.nio.file.Files.delete(squatter)
    m.addFile(SstFile(4, "/f4", 1, 1, TimeRange(0, 10)))
    assert(m.allSsts().size == 4)
  }

  test("compaction pending-task bound (scheduler.rs:62, config.rs:42)") {
    val s = mkStorage(tmpRoot())
    writeBatch(s, TimeRange(1, 10), Seq((1, 1, 1L)))
    writeBatch(s, TimeRange(1, 10), Seq((1, 1, 2L)))
    // bound 0: a pickable task exists but admission is rejected
    val bounded = new Compactor(s,
      CompactionConfig(inputSstMinNum = 2, maxPendingTasks = 0))
    assert(!bounded.runOnce())
    assert(s.manifest.allSsts().size == 2) // nothing ran
    val ok = new Compactor(s, CompactionConfig(inputSstMinNum = 2))
    assert(ok.runOnce())
    assert(s.manifest.allSsts().size == 1)
  }

  test("concurrent runOnce admission is atomic: one winner, no double-pick") {
    // Two racing callers, ONE pickable task: pick + compacting-claim +
    // memory gate run under the admission lock, so exactly one caller may
    // execute it — a double-pick would merge the same rows twice (data
    // duplication under Append concat) and race physical deletes.
    val s = mkStorage(tmpRoot())
    writeBatch(s, TimeRange(1, 10), Seq((1, 1, 1L)))
    writeBatch(s, TimeRange(1, 10), Seq((1, 1, 2L)))
    val c = new Compactor(s, CompactionConfig(inputSstMinNum = 2))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val start = new java.util.concurrent.CountDownLatch(1)
    val futures = (1 to 2).map(_ =>
      pool.submit(new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean = { start.await(); c.runOnce(nowMs = 100) }
      }))
    start.countDown()
    val results = futures.map(_.get())
    pool.shutdown()
    assert(results.count(identity) == 1, s"expected one winner, got $results")
    assert(s.manifest.allSsts().size == 1)
    assert(s.scan().count() == 1) // overwrite dedup intact, nothing doubled
  }

  test("SST footers carry sorting_columns (storage.rs:258-298, config.rs:125)") {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.format.Util
    import scala.jdk.CollectionConverters._
    val s = mkStorage(tmpRoot())
    writeBatch(s, TimeRange(1, 10), Seq((2, 1, 1L), (1, 2, 2L), (3, 3, 3L)))
    val sst = s.manifest.allSsts().head
    // Read the TRAILING thrift footer exactly as a parquet reader locates it
    // (EOF-8: little-endian length + PAR1) — the appended stamp must be the
    // footer readers see.
    val p = new Path(sst.path)
    val fs = p.getFileSystem(new Configuration())
    val len = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    val tail = new Array[Byte](8)
    try {
      in.seek(len - 8); in.readFully(tail)
      val magic = new String(tail, 4, 4, "US-ASCII")
      assert(magic == "PAR1")
      val fLen = java.nio.ByteBuffer.wrap(tail, 0, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      in.seek(len - 8 - fLen)
      val fmd = Util.readFileMetaData(in)
      val rgs = fmd.getRow_groups.asScala
      assert(rgs.nonEmpty)
      rgs.foreach { rg =>
        val sc = rg.getSorting_columns.asScala
        // pk prefix (pk1, pk2) ascending nulls-first = leaf ordinals 0, 1
        assert(sc.map(c => (c.getColumn_idx, c.isDescending, c.isNulls_first))
          == Seq((0, false, true), (1, false, true)), s"sorting_columns: $sc")
        // offset indexes survived the footer rewrite (page-level stats):
        rg.getColumns.asScala.foreach(cc =>
          assert(cc.isSetOffset_index_offset, "offset index lost in restamp"))
      }
    } finally in.close()
    // the stamped file still reads: parquet-java high-level API AND Spark
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, new Configuration()))
    try assert(reader.getRecordCount == 3) finally reader.close()
    assert(spark.read.parquet(sst.path).count() == 3)
    assert(s.scanSorted().collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3))
  }

  test("sorting_columns stamp degrades gracefully on append-less filesystems " +
      "(the s3a shape): file untouched, still readable") {
    // A filesystem that rejects append — registered under its own scheme so
    // the whole write path runs against it, like an object store would.
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.setClass("fs.noappend.impl", classOf[NoAppendFileSystem],
      classOf[org.apache.hadoop.fs.FileSystem])
    val local = tmpRoot()
    val sfs = StoreFs(s"noappend://x$local", conf)
    // write a parquet through Spark at the LOCAL path, address it via the
    // no-append scheme for the stamp call
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1, 2, 3L)), 1), abSchema)
    df.write.mode("overwrite").parquet(s"$local/p")
    val part = sfs.list(new org.apache.hadoop.fs.Path(s"noappend://x$local/p"))
      .find(p => p.getName.endsWith(".parquet") && !p.getName.startsWith(".")).get
    val sizeBefore = sfs.size(part)
    assert(!sfs.stampSortingColumns(part, Seq((0, false, true))))
    assert(sfs.size(part) == sizeBefore) // untouched
    assert(sfs.parquetRowCount(part) == 1) // still a valid parquet
  }

  test("storage root as an explicit file: URI — manifest + SST round-trip " +
      "through the Hadoop FileSystem API (reference read.rs:78-93 object store)") {
    // The whole write→manifest→reopen→scan cycle against a URI root, not a
    // bare local path: proves no code path shells out to java.io/java.nio
    // path semantics. A real deployment swaps file: for hdfs:/s3a: only.
    val root = "file:" + Files.createTempDirectory("graft-uri-root").toString
    val s = mkStorage(root)
    writeBatch(s, TimeRange(1, 10), Seq((1, 1, 1L), (2, 2, 2L)))
    writeBatch(s, TimeRange(1, 10), Seq((1, 1, 10L)))
    val ssts = s.manifest.allSsts()
    assert(ssts.size == 2 && ssts.forall(_.path.startsWith("file:")))
    assert(ssts.forall(f => s.exists(f.path)))
    assert(ssts.forall(_.numRows > 0)) // footer-read counts, no Spark job
    // reopen from the URI root: manifest reloads, id allocation stays above
    // the persisted max, merge-on-read still wins on the newest seq
    val s2 = mkStorage(root)
    assert(s2.manifest.allSsts().map(_.id).sorted == ssts.map(_.id).sorted)
    assert(s2.allocId() > ssts.map(_.id).max)
    val got = s2.scanSorted().collect().map(r => (r.getInt(0), r.getLong(2))).toSeq
    assert(got == Seq((1, 10L), (2, 2L)))
    // compaction commits + physically deletes through the same FS layer
    val c = new Compactor(s2, CompactionConfig(inputSstMinNum = 2))
    assert(c.runOnce())
    assert(s2.manifest.allSsts().size == 1)
    assert(ssts.forall(f => !s2.exists(f.path)))
  }

  test("zone maps: pk min/max land in the manifest from the footer, prune " +
      "files before I/O, survive reload, and never change results") {
    import org.apache.spark.sql.functions.{col, lit}
    val s = mkStorage(tmpRoot())
    // three SSTs in one segment with disjoint pk1 ranges
    writeBatch(s, TimeRange(1, 10), Seq((1, 1, 10L), (5, 2, 11L)))
    writeBatch(s, TimeRange(1, 10), Seq((10, 1, 20L), (15, 2, 21L)))
    writeBatch(s, TimeRange(1, 10), Seq((20, 1, 30L), (25, 2, 31L)))
    val all = s.manifest.allSsts()
    assert(all.size == 3)
    assert(all.forall(_.stats.get("pk1").nonEmpty), s"missing pk1 stats: $all")
    assert(all.map(_.stats("pk1")).toSet ==
      Set((1L, 5L), (10L, 15L), (20L, 25L)))
    // planning skips files the bounds exclude — before any task runs
    def planned(p: org.apache.spark.sql.Column) =
      s.plannedSsts(ScanRequest(predicates = Seq(p))).map(_.stats("pk1")).toSet
    assert(planned(col("pk1") >= 20) == Set((20L, 25L)))
    assert(planned(col("pk1") < 8) == Set((1L, 5L)))
    assert(planned(col("pk1") === 12) == Set((10L, 15L)))
    assert(planned(col("pk1") === 12 && col("pk2") === 1) == Set((10L, 15L)))
    assert(planned(lit(9) > col("pk1")) == Set((1L, 5L)))       // reversed
    assert(planned(col("pk1") > 100).isEmpty)                    // all skipped
    assert(planned(col("value") % 2 === 0).size == 3)            // abstains
    // pruned scan result == full scan filtered the ordinary way
    val viaPrune = s.scan(ScanRequest(predicates = Seq(col("pk1") >= 20)))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val viaFilter = s.scan().filter(col("pk1") >= 20)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(viaPrune == viaFilter && viaPrune.size == 2)
    // stats round-trip the manifest's JSON-lines encoding on reload
    s.manifest.mergeSnapshot()
    val m2 = new Manifest(s.root)
    assert(m2.allSsts().map(f => f.id -> f.stats).toMap ==
      all.map(f => f.id -> f.stats).toMap)
    // compaction output re-derives stats covering its merged inputs
    val c = new Compactor(s, CompactionConfig(inputSstMinNum = 2))
    assert(c.runOnce())
    val merged = s.manifest.allSsts()
    assert(merged.size == 1 && merged.head.stats("pk1") == ((1L, 25L)))
  }

  test("zone maps: string stats prune and legacy lines without stats abstain") {
    import org.apache.spark.sql.functions.col
    val schema = StructType(Seq(
      StructField("name", StringType), StructField("v", LongType)))
    val s = new TimeMergeStorage(spark, tmpRoot(),
      StorageSchema(schema, numPrimaryKeys = 1), segmentMs = 7200 * 1000L)
    def w(rows: (String, Long)*): Unit = s.write(
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 1),
        schema), TimeRange(1, 10))
    w("apple" -> 1L, "cherry" -> 2L)
    w("peach" -> 3L, "zebra" -> 4L)
    assert(s.plannedSsts(ScanRequest(predicates =
      Seq(col("name") > "m"))).map(_.stats("name")) == Seq(("peach", "zebra")))
    // a legacy manifest entry (no stats) is never pruned
    s.manifest.addFile(SstFile(999, "/legacy", 1, 1, TimeRange(1, 10)))
    assert(s.plannedSsts(ScanRequest(predicates =
      Seq(col("name") > "zz"))).map(_.id) == Seq(999L))
  }

  test("manifest at 50k entries: findSsts stays sub-ms-per-1k and the " +
      "snapshot round-trips (SURVEY §7.5.6 in-RAM ceiling, documented)") {
    // The manifest keeps all SST metadata in one driver-side map (same
    // non-goal as the reference's in-memory manifest). This pins the
    // practical ceiling: 50k entries must load, prune, and snapshot in
    // interactive time. Extrapolation: ~10^6 entries ≈ 20× these numbers —
    // findSsts stays O(n) linear scan (~100 MB driver RAM), acceptable;
    // past that the snapshot converts to a parquet table (documented).
    val root = tmpRoot()
    val m1 = new Manifest(root, mergeThreshold = Int.MaxValue)
    val n = 50000
    val adds = (1 to n).map(i =>
      SstFile(i.toLong, s"/data/$i.parquet", 1000, 1 << 20,
        TimeRange(i * 1000L, i * 1000L + 1000)))
    // batched update: one delta file per 5k adds (a real ingest writes many
    // SSTs per manifest commit via writeBucketed)
    adds.grouped(5000).foreach(g => m1.update(g.toSeq))
    m1.mergeSnapshot()
    val t0 = System.nanoTime()
    val hits = m1.findSsts(TimeRange(10_000_000L, 20_000_000L))
    val pruneMs = (System.nanoTime() - t0) / 1e6
    assert(hits.size == 10000)
    assert(pruneMs < 250, s"findSsts over 50k entries took $pruneMs ms")
    // cold reload from the merged snapshot: full state, bounded time
    val t1 = System.nanoTime()
    val m2 = new Manifest(root)
    val loadMs = (System.nanoTime() - t1) / 1e6
    assert(m2.allSsts().size == n)
    assert(m2.maxSstId == n.toLong)
    assert(loadMs < 5000, s"manifest reload of 50k entries took $loadMs ms")
  }

  test("time travel: scanAsOf pins a write, newer overwrites invisible, " +
      "full history == plain scan, compaction bounds the horizon") {
    val s = mkStorage(tmpRoot())
    writeBatch(s, TimeRange(1, 10), Seq((1, 1, 10L), (2, 2, 20L)))
    val id1 = s.manifest.allSsts().map(_.id).max
    writeBatch(s, TimeRange(1, 10), Seq((1, 1, 11L), (3, 3, 30L)))
    def m(rows: Array[Row]): Map[Int, Long] =
      rows.map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(m(s.scanAsOf(id1).collect()) == Map(1 -> 10L, 2 -> 20L))
    assert(m(s.scan().collect()) == Map(1 -> 11L, 2 -> 20L, 3 -> 30L))
    assert(m(s.scanAsOf(Long.MaxValue).collect()) ==
      m(s.scan().collect()))
    // compaction rewrites under a NEW id and deletes its inputs: the
    // pre-compaction view becomes unreachable (documented VACUUM horizon)
    val compactor = new Compactor(s, CompactionConfig(inputSstMinNum = 2))
    var rounds = 0
    while (compactor.runOnce() && rounds < 10) rounds += 1
    assert(m(s.scan().collect()) == Map(1 -> 11L, 2 -> 20L, 3 -> 30L))
    assert(s.scanAsOf(id1).collect().isEmpty)
  }

  test("schema evolution: widened reopen reads old SSTs with nulls for the " +
      "new column; merge spans generations; illegal evolutions rejected") {
    import org.apache.spark.sql.functions.col
    val root = tmpRoot()
    val v1 = mkStorage(root) // (pk1, pk2, value)
    writeBatch(v1, TimeRange(1, 10), Seq((1, 1, 10L), (2, 2, 20L)))
    val v2Schema = StorageSchema(StructType(abSchema.fields :+
      StructField("tag", StringType)), numPrimaryKeys = 2)
    assert(v1.schema.canEvolveTo(v2Schema))
    // rejected shapes: type change, rename, pk-count change, non-nullable add
    assert(!v1.schema.canEvolveTo(StorageSchema(StructType(Seq(
      StructField("pk1", LongType), StructField("pk2", IntegerType),
      StructField("value", LongType))), 2)))
    assert(!v1.schema.canEvolveTo(StorageSchema(StructType(Seq(
      StructField("pk1", IntegerType), StructField("pkX", IntegerType),
      StructField("value", LongType))), 2)))
    assert(!v1.schema.canEvolveTo(StorageSchema(abSchema, 1)))
    assert(!v1.schema.canEvolveTo(StorageSchema(StructType(abSchema.fields :+
      StructField("tag", StringType, nullable = false)), 2)))
    // reopen widened; write a second generation incl. an overwrite of (1,1)
    val v2 = new TimeMergeStorage(spark, root, v2Schema, segmentMs = 7200 * 1000L)
    val rows = Seq(Row(1, 1, 11L, "new"), Row(3, 3, 30L, "new"))
    v2.write(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), v2Schema.userSchema),
      TimeRange(10, 20))
    val got = v2.scanSorted().collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq == Seq((1, 1, 11L, "new"), (2, 2, 20L, null),
      (3, 3, 30L, "new")))
    // old-generation row (2,2): new column null; overwritten (1,1): v2 wins

    // the manifest persists the schema, so an ILLEGAL reopen (retyped
    // column here) is rejected by the constructor — no silent null/corrupt
    // reads of the existing SSTs
    val bad = StorageSchema(StructType(Seq(
      StructField("pk1", LongType), StructField("pk2", IntegerType),
      StructField("value", LongType))), 2)
    val e = intercept[IllegalArgumentException](
      new TimeMergeStorage(spark, root, bad, segmentMs = 7200 * 1000L))
    assert(e.getMessage.contains("illegal schema evolution"))
    // legal same-schema reopen still works and sees both generations
    val again = new TimeMergeStorage(spark, root, v2Schema,
      segmentMs = 7200 * 1000L)
    assert(again.scan().collect().length == 3)
    // descriptor round-trip is exact
    val json = StorageSchema.toJson(v2Schema)
    assert(StorageSchema.fromJson(json) == v2Schema)
    // hostile identifiers survive the one-line descriptor: quotes,
    // backslashes, braces, the literal field keys themselves
    for (name <- Seq("a\"b", "a\\b", "x{\"userSchema\":1}",
        "timestampColumn", "segmentMs", "列\n名")) {
      val sch = StorageSchema(StructType(Seq(
        StructField("pk", IntegerType), StructField(name, LongType))), 1)
      val d = TimeMergeStorage.descriptorJson(sch, 777L, Some(name))
      assert(TimeMergeStorage.descriptorSegmentMs(d).contains(777L), name)
      assert(TimeMergeStorage.descriptorTimestampColumn(d).contains(name), name)
      assert(StorageSchema.fromJson(d) == sch, name)
    }
  }

  test("tombstone deletes: winner-is-marker keys vanish, re-insert after " +
      "delete resurrects, older late arrivals stay shadowed") {
    import org.apache.spark.sql.functions.col
    val schema = StructType(Seq(
      StructField("pk1", IntegerType), StructField("value", LongType),
      StructField("deleted", BooleanType)))
    val s = new TimeMergeStorage(spark, tmpRoot(),
      StorageSchema(schema, numPrimaryKeys = 1), segmentMs = 7200 * 1000L)
    def w(rows: Seq[(Int, java.lang.Long, Boolean)]): Unit =
      s.write(spark.createDataFrame(spark.sparkContext.parallelize(
        rows.map(r => Row(r._1, r._2, r._3)), 1), schema), TimeRange(1, 10))
    w(Seq((1, 10L, false), (2, 20L, false), (3, 30L, false)))
    w(Seq((2, null, true)))                  // delete pk 2
    assert(s.scanWithoutDeleted("deleted").collect().map(_.getInt(0)).sorted
      .toSeq == Seq(1, 3))
    w(Seq((2, 21L, false)))                  // re-insert pk 2
    val re = s.scanWithoutDeleted("deleted").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(re == Map(1 -> 10L, 2 -> 21L, 3 -> 30L))
    // delete→re-insert→delete: the newest write always decides
    w(Seq((3, null, true)))
    w(Seq((3, 31L, false)))
    w(Seq((4, 40L, false)))
    val fin = s.scanWithoutDeleted("deleted").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(fin == Map(1 -> 10L, 2 -> 21L, 3 -> 31L, 4 -> 40L))
    // plain scan still exposes every merged winner (incl. any markers)
    assert(s.scan().collect().length == 4)
    // misuse guard: the marker must name an existing value column
    intercept[IllegalArgumentException](s.scanWithoutDeleted("nope"))
    // projection without the marker column still filters correctly
    assert(s.scanWithoutDeleted("deleted",
        ScanRequest(projection = Some(Seq("pk1"))))
      .schema.fieldNames.toSeq == Seq("pk1"))
  }

  test("value-column predicates evaluate POST-merge: a filter matching only " +
      "a stale version never resurrects it (and never zone-prunes files)") {
    import org.apache.spark.sql.functions.col
    val s = mkStorage(tmpRoot())
    writeBatch(s, TimeRange(1, 10), Seq((1, 1, 3L), (2, 2, 30L)))
    writeBatch(s, TimeRange(10, 20), Seq((1, 1, 5L)))   // overwrites (1,1)
    // merged table is {(1,1,5), (2,2,30)}: value=3 matches NOTHING
    assert(s.scan(ScanRequest(predicates = Seq(col("value") === 3L)))
      .collect().isEmpty)
    assert(s.scan(ScanRequest(predicates = Seq(col("value") === 5L)))
      .collect().map(r => (r.getInt(0), r.getLong(2))).toSeq == Seq((1, 5L)))
    // pk predicates still pre-merge + zone-prune; value predicates must not
    // drop files (a file of stale versions still shadows under the merge)
    assert(s.plannedSsts(ScanRequest(predicates = Seq(col("pk1") === 99))).isEmpty)
    assert(s.plannedSsts(ScanRequest(predicates = Seq(col("value") === -1L))).size == 2)
    // value predicate on a projection that EXCLUDES the filter column
    assert(s.scan(ScanRequest(predicates = Seq(col("value") === 5L),
        projection = Some(Seq("pk1"))))
      .collect().map(_.getInt(0)).toSeq == Seq(1))
    // tombstone + value filter: the deleted pk stays deleted even when the
    // filter matches only its pre-delete version
    val tschema = StructType(Seq(
      StructField("pk1", IntegerType), StructField("value", LongType),
      StructField("deleted", BooleanType)))
    val t = new TimeMergeStorage(spark, tmpRoot(),
      StorageSchema(tschema, numPrimaryKeys = 1), segmentMs = 7200 * 1000L)
    def w(rows: Seq[(Int, java.lang.Long, Boolean)]): Unit =
      t.write(spark.createDataFrame(spark.sparkContext.parallelize(
        rows.map(r => Row(r._1, r._2, r._3)), 1), tschema), TimeRange(1, 10))
    w(Seq((1, 10L, false)))
    w(Seq((1, null, true)))                  // delete pk 1
    assert(t.scanWithoutDeleted("deleted",
        ScanRequest(predicates = Seq(col("value") === 10L)))
      .collect().isEmpty)
  }

  test("empty-scan short-circuit schema matches the non-empty path for " +
      "every keepBuiltins/projection shape") {
    val empty = mkStorage(tmpRoot())
    val full = mkStorage(tmpRoot())
    writeBatch(full, TimeRange(1, 10), Seq((1, 2, 3L)))
    for (req <- Seq(
        ScanRequest(),
        ScanRequest(projection = Some(Seq("value"))),
        ScanRequest(keepBuiltins = true),
        ScanRequest(projection = Some(Seq("value")), keepBuiltins = true),
        // a caller may project a BUILTIN by name (CDC-style __seq__ read);
        // the non-empty path returns it verbatim, so the short-circuit
        // must too instead of throwing on userSchema.fieldIndex
        ScanRequest(projection = Some(Seq("value", "__seq__"))))) {
      assert(empty.scan(req).schema == full.scan(req).schema,
        s"schema drift for $req")
      assert(empty.scan(req).collect().isEmpty)
    }
  }

  test("write() globally pk-sorts a multi-partition batch: the single SST " +
      "file is sorted, not a concat of per-partition runs") {
    val s = mkStorage(tmpRoot())
    val rows = (0 until 100).map(i => Row((i * 37) % 100, 0, i.toLong))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 8), abSchema)
    val sst = s.write(df, TimeRange(1, 10))
    val pks = spark.read.parquet(sst.path)
      .select("pk1").collect().map(_.getInt(0)).toSeq
    assert(pks == pks.sorted, "single SST is not globally pk-sorted")
  }

  test("vacuum anchors staleness on UNREFERENCE time, not file creation " +
      "time: an old SST unreferenced seconds ago keeps its grace window") {
    val s = mkStorage(tmpRoot())
    writeBatch(s, TimeRange(1, 10), Seq((1, 1, 1L)))
    writeBatch(s, TimeRange(1, 10), Seq((2, 2, 2L)))
    val victim = s.manifest.allSsts().minBy(_.id)
    // make the FILE look a month old, then unreference it NOW
    val old = System.currentTimeMillis() - 30L * 24 * 3600 * 1000
    s.storeFs.fs.setTimes(new org.apache.hadoop.fs.Path(victim.path), old, -1)
    s.manifest.update(Nil, deleteIds = Seq(victim.id))
    // a 1h threshold must NOT sweep it — unreferenced seconds ago
    assert(s.vacuum(olderThanMs = 3600000L) == 0)
    assert(s.storeFs.exists(victim.path))
    // an hour past the unreference, it goes
    assert(s.vacuum(olderThanMs = 3600000L,
      nowMs = System.currentTimeMillis() + 7200000L) == 1)
    assert(!s.storeFs.exists(victim.path))
  }

  test("vacuum's unreference clock survives a snapshot merge + restart: " +
      "'unref' tombstones persist in the snapshot, so a reopened manifest " +
      "still honors the delete-grace window (round 15, advisor)") {
    val root = tmpRoot()
    val s = mkStorage(root)
    writeBatch(s, TimeRange(1, 10), Seq((1, 1, 1L)))
    writeBatch(s, TimeRange(1, 10), Seq((2, 2, 2L)))
    val victim = s.manifest.allSsts().minBy(_.id)
    val old = System.currentTimeMillis() - 30L * 24 * 3600 * 1000
    s.storeFs.fs.setTimes(new org.apache.hadoop.fs.Path(victim.path), old, -1)
    // unreference NOW, then merge the deltas away (the merge drops the
    // 'del' record that used to carry the unreference time)...
    s.manifest.update(Nil, deleteIds = Seq(victim.id))
    s.manifest.mergeSnapshot()
    // ...and RESTART: a fresh manifest replays only the snapshot
    val s2 = mkStorage(root)
    val at = s2.manifest.unreferencedAtMs(victim.path)
    assert(at.exists(_ > old + 1000L),
      s"unreference time lost across merge+restart: $at")
    // the month-old mtime must NOT get it swept inside the grace window
    assert(s2.vacuum(olderThanMs = 3600000L) == 0)
    assert(s2.storeFs.exists(victim.path))
    // past the grace (relative to the true unreference time), it goes
    assert(s2.vacuum(olderThanMs = 3600000L,
      nowMs = System.currentTimeMillis() + 7200000L) == 1)
    assert(!s2.storeFs.exists(victim.path))
  }

  test("zone-map float pruning follows Spark SQL equality: abstains on NaN " +
      "and treats -0.0 = 0.0 (IEEE total order would skip matching files)") {
    import ZoneMaps._
    // all--0.0 file probed with === 0.0 must be KEPT (Spark: -0.0 = 0.0)
    assert(mayMatch(Map("v" -> ((-0.0): Any, (-0.0): Any)),
      Seq(Bound("v", "=", 0.0))))
    assert(mayMatch(Map("v" -> ((0.0): Any, (0.0): Any)),
      Seq(Bound("v", "=", -0.0))))
    // NaN literal: parquet stats exclude NaN → abstain, never prune
    assert(mayMatch(Map("v" -> ((1.0): Any, (1.0): Any)),
      Seq(Bound("v", "=", Double.NaN))))
    assert(mayMatch(Map("v" -> ((1.0): Any, (2.0): Any)),
      Seq(Bound("v", ">", Double.NaN))))
    // plain numeric pruning still prunes
    assert(!mayMatch(Map("v" -> ((1.0): Any, (2.0): Any)),
      Seq(Bound("v", ">", 5.0))))
  }

  test("append picker walks CONTENT-seq order (compaction outputs keep old " +
      "seqs under new ids) and a claimed file is a hole that stops the walk") {
    val cfg = CompactionConfig(inputSstMinNum = 2, inputSstMaxNum = 10,
      newSstMaxSize = 9999)
    val picker = new Picker(cfg, segmentMs = 1000L,
      updateMode = UpdateMode.Append)
    // raw 1,2; a prior compaction output (new id 101 holding seqs 3..5);
    // raw 6,7 written after it — id order [1,2,6,7,101] is NOT content order
    val files = Seq(
      SstFile(1, "/f1", 1, 10, TimeRange(0, 10)),
      SstFile(2, "/f2", 1, 10, TimeRange(0, 10)),
      SstFile(101, "/out", 3, 30, TimeRange(0, 10), seqFloor = 3L),
      SstFile(6, "/f6", 1, 10, TimeRange(0, 10)),
      SstFile(7, "/f7", 1, 10, TimeRange(0, 10)))
    val picked = picker.pick(files, nowMs = 5L).get.inputs.map(_.id)
    assert(picked == Seq(1L, 2L, 101L, 6L, 7L), picked.toString)
    // a concurrent task's claim on file 2 makes [1] the only prefix —
    // below inputSstMinNum, so no task at all (never a pick AROUND the hole)
    val claimed = files.map(f =>
      if (f.id == 2L) f.copy(compacting = true) else f)
    assert(picker.pick(claimed, nowMs = 5L).isEmpty)
  }

  test("append-mode native merge drops child constraints on concat " +
      "columns: a post-merge filter on the concatenated value survives " +
      "optimization") {
    import spark.implicits._
    // two chunks of one pk, each 'a' — concat merges to "aa"; the child
    // carries constraint v = 'a' from the pre-merge filter, which must
    // NOT propagate to the merge output (PruneFilters would then remove
    // the post-merge filter and return the "aa" row)
    val df = Seq((1, "a", 1L), (1, "a", 2L), (2, "b", 3L))
      .toDF("pk", "v", "__seq__")
    val merged = graft.plans.MergeDedupOps.nativeDedupMerge(
      df.filter(org.apache.spark.sql.functions.col("v") === "a"),
      Seq("pk"), UpdateMode.Append, globalSort = false)
    assert(merged.collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
      Set((1, "aa")))
    assert(merged.filter(org.apache.spark.sql.functions.col("v") === "a")
      .collect().isEmpty,
      "post-merge filter on a concat column was optimized away")
    // Overwrite keeps constraints (each output row IS an input row): the
    // same shape prunes nothing and filters correctly
    val ow = graft.plans.MergeDedupOps.nativeDedupMerge(
      df.filter(org.apache.spark.sql.functions.col("v") === "a"),
      Seq("pk"), UpdateMode.Overwrite, globalSort = false)
    assert(ow.filter(org.apache.spark.sql.functions.col("v") === "a")
      .collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("manifest round-trips seqFloor; legacy lines default to id") {
    val root = tmpRoot()
    val m = new Manifest(root)
    m.update(Seq(
      SstFile(10, "/a", 1, 1, TimeRange(0, 10)),
      SstFile(11, "/b", 1, 1, TimeRange(0, 10), seqFloor = 3L)))
    val m2 = new Manifest(root)
    val byId = m2.allSsts().map(f => f.id -> f).toMap
    assert(byId(10L).contentSeqFloor == 10L) // unset → id
    assert(byId(11L).seqFloor == 3L && byId(11L).contentSeqFloor == 3L)
  }

  test("compaction preserves the table's WriteOptions (codec survives the " +
      "rewrite)") {
    import scala.jdk.CollectionConverters._
    val root = tmpRoot()
    val s = new TimeMergeStorage(spark, root,
      StorageSchema(abSchema, 2), segmentMs = 7200 * 1000L,
      writeOptions = WriteOptions(compression = "zstd"))
    (1 to 5).foreach(i => s.write(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(i, i, i.toLong)), 1), abSchema),
      TimeRange(1, 10)))
    val compactor = new Compactor(s, CompactionConfig(inputSstMinNum = 2))
    assert(compactor.runOnce())
    val merged = s.manifest.allSsts()
    assert(merged.size == 1)
    val codecs = s.storeFs.parquetFooter(
        new org.apache.hadoop.fs.Path(merged.head.path))
      .getBlocks.asScala.flatMap(_.getColumns.asScala).map(_.getCodec.name()).toSet
    assert(codecs == Set("ZSTD"), s"compacted SST lost the codec: $codecs")
  }

  test("user schema cannot shadow engine builtin columns") {
    intercept[IllegalArgumentException](StorageSchema(StructType(Seq(
      StructField("pk", IntegerType), StructField("__seq__", LongType))), 1))
    intercept[IllegalArgumentException](StorageSchema(StructType(Seq(
      StructField("__reserved__", IntegerType))), 1))
  }

  test("zone-map string comparison is UTF-8 byte order (supplementary-plane " +
      "keys must not wrongly prune)") {
    // file max = U+10000 (UTF-8 F0 90 80 80); predicate col >= U+E000
    // (UTF-8 EE 80 80). Byte order: F0… > EE… → the file MAY match and must
    // be kept; UTF-16 compareTo says \uD800 <  and would prune it.
    val stats = Map("k" -> (("a": Any), ("\uD800\uDC00": Any))) // U+10000
    assert(ZoneMaps.mayMatch(stats, Seq(ZoneMaps.Bound("k", ">=", "\uE000"))))
    // and the reverse still prunes: max "b" < "c"
    assert(!ZoneMaps.mayMatch(Map("k" -> (("a": Any), ("b": Any))),
      Seq(ZoneMaps.Bound("k", ">=", "c"))))
  }

  test("native merge groups float pks nested in structs: -0.0/0.0 and NaN " +
      "variants collapse to one row (NormalizeFloatingNumbers parity)") {
    import org.apache.spark.sql.functions._
    val df = spark.range(0, 1).toDF("i").select(
      struct(lit(-0.0).as("x")).as("pk"), lit(1L).as("v"), lit(1L).as("__seq__"))
      .union(spark.range(0, 1).toDF("i").select(
        struct(lit(0.0).as("x")).as("pk"), lit(2L).as("v"), lit(2L).as("__seq__")))
    val merged = graft.plans.MergeDedupOps.nativeDedupMerge(
      df, Seq("pk"), UpdateMode.Overwrite)
    val rows = merged.collect()
    assert(rows.length == 1, s"struct float pk split the group: ${rows.toSeq}")
    assert(rows.head.getAs[Long]("v") == 2L) // newest seq wins
  }

  test("property: random add/del/merge/reload sequences track an in-memory " +
      "model — live set, unref clock, and hostile paths/stats survive every " +
      "replay shape (incl. snapshot-persisted unref tombstones)") {
    val rnd = new scala.util.Random(20260816L)
    // Strings that attack the JSONL layer: field-shadowing text, escape
    // characters, the round-15 "unref" tombstone marker, unicode incl. a
    // supplementary-plane pair.
    val evil = Seq("\"op\":\"unref\"", "\"at\":42", "\"start\":999",
      "back\\slash", "qu\"ote", "tab\there", "nl\nline", "π∆",
      "😀", "{}", "a,b", "x")
    def evilStr() = evil(rnd.nextInt(evil.size))
    for (_ <- 1 to 5) {
      val root = tmpRoot()
      // small thresholds so auto soft-merges (and their tombstone writes)
      // fire mid-sequence, not just on the explicit mergeSnapshot ops
      val mergeThr = 2 + rnd.nextInt(7)
      def reopen() = new Manifest(root, mergeThreshold = mergeThr,
        hardThreshold = mergeThr + 40)
      var m = reopen()
      val model = scala.collection.mutable.LinkedHashMap.empty[Long, SstFile]
      // path -> wall-clock lower bound of its last unreference
      val deadAt = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      var nextId = 1L
      def checkState(where: String): Unit = {
        val got = m.allSsts().map(_.copy(compacting = false)).sortBy(_.id)
        val want = model.values.toSeq.sortBy(_.id)
        assert(got == want,
          s"[$where] live set diverged\n got: $got\nwant: $want")
        assert(m.maxSstId == model.keys.maxOption.getOrElse(0L))
        val now = System.currentTimeMillis()
        deadAt.foreach { case (p, t0) =>
          val at = m.unreferencedAtMs(p)
          assert(at.isDefined, s"[$where] unref clock lost for $p")
          // file-mtime replays can only round DOWN a second or two; a
          // snapshot tombstone replays the exact stamp
          assert(at.get >= t0 - 3000 && at.get <= now + 1000,
            s"[$where] unref time for $p drifted: ${at.get} vs committed $t0")
        }
      }
      for (step <- 1 to 40) {
        rnd.nextInt(10) match {
          case r if r <= 5 =>
            val adds = (0 until 1 + rnd.nextInt(2)).map { _ =>
              val id = nextId; nextId += 1
              val s0 = rnd.nextInt(1000).toLong * 10
              val stats: Map[String, (Any, Any)] =
                if (rnd.nextBoolean())
                  Map("v" -> (rnd.nextInt(100).toLong,
                        (100L + rnd.nextInt(100)): Any),
                    "s" -> (evilStr(), (evilStr(): Any)),
                    "b" -> (false, (true: Any)))
                else Map.empty
              SstFile(id, s"data/f$id-${evilStr()}${evilStr()}.parquet",
                numRows = rnd.nextInt(1000).toLong,
                sizeBytes = rnd.nextInt(100000).toLong,
                TimeRange(s0, s0 + 1 + rnd.nextInt(100)), stats = stats,
                bucket = if (rnd.nextBoolean()) rnd.nextInt(8) else -1,
                seqFloor = if (rnd.nextBoolean()) rnd.nextInt(50).toLong
                           else -1L)
            }
            val delIds =
              if (model.nonEmpty && rnd.nextBoolean())
                Seq(model.keys.toSeq(rnd.nextInt(model.size))) else Nil
            val t0 = System.currentTimeMillis()
            m.update(adds, delIds)
            delIds.foreach(id => deadAt(model(id).path) = t0)
            adds.foreach(f => model(f.id) = f)
            delIds.foreach(model.remove)
          case 6 | 7 => m.mergeSnapshot()
          case _ => m = reopen() // restart: full replay from disk
        }
        if (step % 8 == 0) checkState(s"step $step")
      }
      m.mergeSnapshot()
      m = reopen() // the round-15 regression shape: merge THEN restart
      checkState("final reload after merge")
    }
  }

  test("property: picker invariants over random file sets — Append inputs " +
      "are a claimed-free content-order PREFIX of one segment group; " +
      "Overwrite inputs share one (segment, bucket) and respect the budget") {
    val rnd = new scala.util.Random(8160L)
    val segMs = 100L
    for (trial <- 1 to 200) {
      val cfg = CompactionConfig(
        inputSstMinNum = 1 + rnd.nextInt(3),
        inputSstMaxNum = 2 + rnd.nextInt(5),
        newSstMaxSize = 50 + rnd.nextInt(200),
        sizeHeadroom = 1.0 + rnd.nextInt(3) * 0.1)
      val mode =
        if (rnd.nextBoolean()) UpdateMode.Append else UpdateMode.Overwrite
      val files = (1 to 3 + rnd.nextInt(12)).map { i =>
        val seg = rnd.nextInt(3).toLong * segMs
        SstFile(i.toLong, s"data/$i.parquet", 10, 10 + rnd.nextInt(100),
          TimeRange(seg + rnd.nextInt(50), seg + 50 + rnd.nextInt(50)),
          compacting = rnd.nextInt(4) == 0,
          bucket = if (rnd.nextBoolean()) rnd.nextInt(3) else -1,
          seqFloor = if (rnd.nextInt(3) == 0) rnd.nextInt(i).toLong else -1L)
      }
      val picked = new Picker(cfg, segMs, mode).pick(files, nowMs = 0L)
        .map(_.inputs).getOrElse(Nil)
      if (picked.nonEmpty) {
        val budget = (cfg.newSstMaxSize * cfg.sizeHeadroom).toLong
        assert(picked.size >= cfg.inputSstMinNum &&
          picked.size <= cfg.inputSstMaxNum, s"[$trial] count ${picked.size}")
        assert(picked.map(_.sizeBytes).sum <= budget, s"[$trial] over budget")
        assert(picked.forall(!_.compacting), s"[$trial] picked a claimed file")
        val segs = picked
          .map(f => TimeRange.truncate(f.timeRange.start, segMs)).distinct
        assert(segs.size == 1, s"[$trial] inputs span segments $segs")
        mode match {
          case UpdateMode.Overwrite =>
            assert(picked.map(_.bucket).distinct.size == 1,
              s"[$trial] Overwrite inputs mix buckets")
          case UpdateMode.Append =>
            // prefix property: in content order over the WHOLE segment
            // group (claimed files included — they are holes that stop
            // the walk), the picked set is exactly the first |picked|
            val group = files.filter(f =>
              TimeRange.truncate(f.timeRange.start, segMs) == segs.head)
              .sortBy(f => (f.contentSeqFloor, f.id))
            assert(group.take(picked.size).map(_.id) == picked.map(_.id),
              s"[$trial] not a content-order prefix: picked " +
                s"${picked.map(_.id)} of ${group.map(_.id)}")
        }
      }
    }
  }

  test("driver encoder == Spark encoder: a driver-local batch and the same " +
      "rows as a distributed frame write identical SSTs") {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import scala.jdk.CollectionConverters._
    val kvSchema = StructType(Seq(
      StructField("k", StringType), StructField("ts", LongType),
      StructField("v", DoubleType), StructField("tag", StringType),
      StructField("attrs", MapType(StringType, StringType))))
    val opts = WriteOptions(compression = "zstd", enableDictionary = false,
      dictionaryColumns = Map("tag" -> true), bloomFilterColumns = Seq("k"))
    def store() = new TimeMergeStorage(spark, tmpRoot(),
      StorageSchema(kvSchema, numPrimaryKeys = 2), segmentMs = 3600 * 1000L,
      timestampColumn = Some("ts"), writeOptions = opts)
    // unsorted input, a null pk and null values: nulls sort first
    val rows = (0 until 500).map(i => Row(
      if (i == 17) null else s"k${(i * 7) % 50}", 1000L + (i * 13) % 997,
      i * 0.5, if (i % 5 == 0) null else s"t${i % 4}",
      if (i % 3 == 0) Map("a" -> i.toString) else null))
    val local = spark.createDataFrame(rows.asJava, kvSchema)
    val distributed = local.repartition(2)
    assert(local.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(!distributed.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    val range = TimeRange(0, 3600 * 1000L)
    val (sd, sl) = (store(), store())
    val viaSpark = sd.write(distributed, range)
    val viaDriver = sl.write(local, range)

    def footer(path: String) = {
      val r = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(path), new Configuration()))
      try r.getFooter finally r.close()
    }
    val (fs, fl) = (footer(viaSpark.path), footer(viaDriver.path))
    // file schema and Spark's row-metadata key (the schema Spark reads back)
    assert(fl.getFileMetaData.getSchema == fs.getFileMetaData.getSchema)
    val rowMeta = "org.apache.spark.sql.parquet.row.metadata"
    assert(fl.getFileMetaData.getKeyValueMetaData.get(rowMeta) ==
      fs.getFileMetaData.getKeyValueMetaData.get(rowMeta))
    assert(fl.getFileMetaData.getKeyValueMetaData.get(rowMeta) != null)
    // per-column chunk properties reflect the same WriteOptions
    def chunks(f: org.apache.parquet.hadoop.metadata.ParquetMetadata) =
      f.getBlocks.asScala.flatMap(_.getColumns.asScala).map(c =>
        (c.getPath.toDotString, c.getCodec.name(),
          c.getEncodings.asScala.exists(_.usesDictionary),
          c.getBloomFilterOffset >= 0)).toSeq
    assert(chunks(fl) == chunks(fs))
    val byName = chunks(fl).map(c => c._1 -> c).toMap
    assert(byName("k") == (("k", "ZSTD", false, true)))
    assert(byName("tag")._3 && !byName("ts")._3 && !byName("ts")._4)
    // the sorting_columns stamp, read from the trailing footer
    def sorting(path: String) = {
      val p = new Path(path)
      val fsys = p.getFileSystem(new Configuration())
      val len = fsys.getFileStatus(p).getLen
      val in = fsys.open(p)
      try {
        val tail = new Array[Byte](8)
        in.seek(len - 8); in.readFully(tail)
        val fLen = java.nio.ByteBuffer.wrap(tail, 0, 4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
        in.seek(len - 8 - fLen)
        org.apache.parquet.format.Util.readFileMetaData(in).getRow_groups.asScala
          .map(_.getSorting_columns.asScala.map(c =>
            (c.getColumn_idx, c.isDescending, c.isNulls_first)).toSeq).toSeq
      } finally in.close()
    }
    assert(sorting(viaDriver.path) == sorting(viaSpark.path))
    assert(sorting(viaDriver.path).head == Seq((0, false, true), (1, false, true)))
    // manifest entries: row counts and zone-map stats
    assert(viaDriver.numRows == 500 && viaSpark.numRows == 500)
    assert(viaDriver.stats == viaSpark.stats && viaDriver.stats.keySet == Set("k", "ts"))
    // the raw files hold the same rows in the same (pk) order
    val raw = Seq(viaSpark, viaDriver).map(f =>
      spark.read.parquet(f.path).drop("__seq__").collect().toSeq)
    assert(raw(1) == raw(0) && raw(0).head.isNullAt(0))
    // and the merged scans agree
    val merged = Seq(sd, sl).map(_.scanSorted().collect().toSeq)
    assert(merged(1) == merged(0) && merged(0).size == 500)
  }

  test("driver encoder keeps the write guards: cross-segment writes and " +
      "schema mismatches are rejected before anything is written") {
    import scala.jdk.CollectionConverters._
    val root = tmpRoot()
    val s = mkStorage(root)
    val local = spark.createDataFrame(Seq(Row(1, 2, 3L)).asJava, abSchema)
    val crossed = intercept[IllegalArgumentException](
      s.write(local, TimeRange(1, 7200001L)))
    assert(crossed.getMessage.contains("crosses segment boundary"))
    val renamed = spark.createDataFrame(Seq(Row(1, 2, 3L)).asJava,
      StructType(abSchema.fields.updated(2, StructField("val", LongType))))
    assert(intercept[IllegalArgumentException](
      s.write(renamed, TimeRange(0, 10))).getMessage.contains("do not match"))
    val retyped = spark.createDataFrame(Seq(Row(1, 2, "x")).asJava,
      StructType(abSchema.fields.updated(2, StructField("value", StringType))))
    assert(intercept[IllegalArgumentException](
      s.write(retyped, TimeRange(0, 10))).getMessage.contains("declares bigint"))
    assert(s.manifest.allSsts().isEmpty)
    assert(!new java.io.File(s"$root/data").list().exists(_.startsWith("tmp-")))
  }
}
