package graft.storage

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

/** Scan request mirror of the reference's ScanRequest (storage.rs:65-70):
  * time range, conjoined predicates, optional projection (None = all user
  * columns). `keepBuiltins` corresponds to the compaction path's
  * keep_builtin=true (executor.rs:163-167). */
final case class ScanRequest(
    range: TimeRange = TimeRange(Long.MinValue, Long.MaxValue),
    predicates: Seq[Column] = Nil,
    projection: Option[Seq[String]] = None,
    keepBuiltins: Boolean = false)

/** Physical write tuning, mirroring the reference's WriteConfig
  * (columnar_storage/src/config.rs:105-133): compression codec, dictionary
  * encoding (global default + per-column overrides, the reference's
  * ColumnOptions, config.rs:96-103), per-column bloom filters, row-group
  * sizing. Defaults match the reference's shipped values (snappy,
  * dict/bloom off). */
final case class WriteOptions(
    compression: String = "snappy",            // config.rs:129
    enableDictionary: Boolean = false,         // config.rs:126
    // per-column dictionary override in BOTH directions (true enables over a
    // global off, false disables over a global on) — config.rs:96-103
    dictionaryColumns: Map[String, Boolean] = Map.empty,
    bloomFilterColumns: Seq[String] = Nil,     // config.rs:127, 96-103
    rowGroupBytes: Long = 8L << 20) {
  /** The parquet writer options — one map for both SST encoders (the
    * Spark write job and the driver encoder), so their files agree. */
  def asMap: Map[String, String] =
    Map("compression" -> compression,
      "parquet.enable.dictionary" -> enableDictionary.toString,
      "parquet.block.size" -> rowGroupBytes.toString) ++
      dictionaryColumns.map { case (c, on) => s"parquet.enable.dictionary#$c" -> on.toString } ++
      bloomFilterColumns.map(c => s"parquet.bloom.filter.enabled#$c" -> "true")

  def apply[T](w: org.apache.spark.sql.DataFrameWriter[T]): org.apache.spark.sql.DataFrameWriter[T] =
    w.options(asMap)
}

/** Time-partitioned, primary-key-sorted, merge-on-read columnar store —
  * the Spark-native analog of the reference's ObjectBasedStorage
  * (columnar_storage/src/storage.rs:138-374).
  *
  * Layout on disk:
  * {{{
  *   <root>/manifest/            — JSON-lines snapshot + deltas
  *   <root>/data/<fileId>.parquet — one sorted SST per write/compaction
  * }}}
  *
  * Scale notes (designed for a 1000-executor cluster, tested on local[32]):
  *  - every write produces pk-sorted parquet with min/max stats, so scans get
  *    row-group pruning + predicate pushdown for free;
  *  - time pruning happens at the manifest (file list) level before any task
  *    is scheduled, the analog of partition pruning;
  *  - merge-on-read dedup ([[graft.plans.MergeDedup]]) reads a small
  *    planned file set as ONE partition, like the reference's
  *    single-partition MergeExec (read.rs:154-156), so nothing above it
  *    shuffles either ([[mergeInput]]); a scan whose estimated decoded size
  *    exceeds one post-shuffle partition shuffles once on exactly the key
  *    the data is sorted by and merges in parallel across executors;
  *  - `timestampColumn` (when present among pks) lets scan prune segments.
  */
final class TimeMergeStorage(
    val spark: SparkSession,
    val root: String,
    val schema: StorageSchema,
    val segmentMs: Long,
    val timestampColumn: Option[String] = None,
    val writeOptions: WriteOptions = WriteOptions()) {

  import StorageSchema.{SeqCol, ReservedCol}

  /** All file I/O goes through the Hadoop FileSystem resolved from `root`,
    * so the store runs unchanged against `file:`, `hdfs:`, `s3a:`, … —
    * the reference's object-store abstraction (read.rs:78-93,
    * storage.rs:193-213). Spark's own parquet read/write is URI-native
    * already; this covers the manifest + file-commit plumbing. */
  val storeFs: StoreFs = StoreFs(root, spark.sessionState.newHadoopConf())
  val manifest = new Manifest(root, conf = spark.sessionState.newHadoopConf())
  // Schema-on-reopen guard: the manifest persists the table descriptor
  // (schema + segment duration + timestamp column), and a reopen must be
  // the SAME schema or a legal widening (StorageSchema.canEvolveTo) of
  // what was written — otherwise renamed / retyped / re-keyed columns
  // would silently read old SSTs as all-null or corrupt data instead of
  // failing fast. The segment duration must match exactly: it defines the
  // physical time-bucketing every existing SST was committed under.
  // Pre-descriptor roots (nothing on disk) adopt the caller's config as
  // the baseline. The descriptor is also what lets
  // [[TimeMergeStorage.open]] (and the `graft` SQL data source) attach to
  // a root with zero caller-side configuration.
  locally {
    val mine = TimeMergeStorage.descriptorJson(schema, segmentMs, timestampColumn)
    manifest.storedSchemaJson match {
      case Some(json) =>
        val stored = StorageSchema.fromJson(json)
        val storedSeg = TimeMergeStorage.descriptorSegmentMs(json)
        require(storedSeg.forall(_ == segmentMs),
          s"segment duration mismatch on reopen of $root: stored " +
            s"${storedSeg.get} ms, requested $segmentMs ms — the segment " +
            "layout is physical and cannot change without a rewrite")
        // same rigor for the timestamp column: it decides which SSTs get
        // time stats and whether scans time-prune — a silently divergent
        // reopen would mix stat-less SSTs into a table readers still
        // assume is prunable (only checked on descriptor-aware roots;
        // pre-descriptor json upgrades below)
        if (storedSeg.isDefined) {
          val storedTs = TimeMergeStorage.descriptorTimestampColumn(json)
          require(storedTs == timestampColumn,
            s"timestamp column mismatch on reopen of $root: stored " +
              s"$storedTs, requested $timestampColumn")
        }
        if (stored != schema) {
          require(stored.canEvolveTo(schema),
            s"illegal schema evolution on reopen of $root: stored " +
              s"pks=${stored.primaryKeys} ${stored.userSchema.simpleString} " +
              s"(${stored.updateMode}) cannot evolve to " +
              s"pks=${schema.primaryKeys} ${schema.userSchema.simpleString} " +
              s"(${schema.updateMode}); only appending nullable value " +
              "columns is supported without a rewrite")
          manifest.writeSchemaJson(mine)
        } else if (json != mine && storedSeg.isEmpty)
          manifest.writeSchemaJson(mine) // upgrade pre-descriptor json
      case None => manifest.writeSchemaJson(mine)
    }
  }
  private val dataDir: HPath = storeFs.path("data")
  storeFs.mkdirs(dataDir)
  // Epoch-nanos counter seeded above every id already in the manifest: ids
  // double as the write sequence and "mustn't go backwards on restarts,
  // otherwise file id collisions are possible" (reference sst.rs:35-46) —
  // epoch (not boot-relative nanoTime) plus the persisted max keeps
  // last-write-wins correct across reopen.
  private val nextId = new AtomicLong(
    math.max(System.currentTimeMillis() * 1000000L, manifest.maxSstId))

  def allocId(): Long = nextId.incrementAndGet()

  /** Data part files of a Spark parquet output dir (skips _SUCCESS,
    * checksum sidecars, and committer leftovers). */
  private def partFiles(p: HPath): Seq[HPath] =
    storeFs.list(p).filter(f =>
      f.getName.endsWith(".parquet") && !f.getName.startsWith("."))

  /** Batch-vs-table schema check: same column NAME SET (order-free — the
    * scan reads parquet by name) and per-column types matching up to
    * nullability (catalogString comparison — nested nullability flags like
    * `containsNull` differ legitimately between collect_list output and a
    * declared schema). Without this a mistyped frame writes a parquet file
    * the table schema cannot read — corruption detected at QUERY time,
    * possibly much later; the write path must fail instead
    * (the reference's WriteRequest schema check, storage.rs:298-316). */
  private def requireMatchesSchema(df: DataFrame): Unit = {
    val want = schema.userSchema.fields.map(f => f.name -> f.dataType).toMap
    val have = df.schema.fields.map(f => f.name -> f.dataType).toMap
    require(have.keySet == want.keySet,
      s"write batch columns ${have.keySet.toSeq.sorted} do not match table " +
        s"columns ${want.keySet.toSeq.sorted}")
    want.foreach { case (n, dt) =>
      require(have(n).catalogString == dt.catalogString,
        s"write batch column $n is ${have(n).catalogString}, table " +
          s"declares ${dt.catalogString}")
    }
  }

  /** Sorted segment-bounded write: one new SST per call
    * (reference storage.rs:189-225). Rejects batches crossing a segment
    * boundary (storage.rs:307-316).
    *
    * Where the rows live picks the encoder. A driver-local frame (its
    * optimized plan is a batch `LocalRelation`: a decoded remote-write
    * payload, `Seq(...).toDF()`) is sorted and encoded on the driver with
    * zero Spark jobs — the reference's in-process write of one in-memory
    * batch. Any other frame (streaming micro-batches, scans) runs one Spark
    * write job. Both write the same file: same column order and schema,
    * same [[WriteOptions]], same pk order; one commit routine seals it. */
  def write(df: DataFrame, range: TimeRange): SstFile = {
    requireMatchesSchema(df)
    require(TimeRange.truncate(range.start, segmentMs) ==
            TimeRange.truncate(range.end - 1, segmentMs),
      s"write crosses segment boundary: $range at segment=${segmentMs}ms")
    val id = allocId()
    val tmp = new HPath(dataDir, s"tmp-$id")
    df.queryExecution.optimizedPlan match {
      case local: LocalRelation if !local.isStreaming => encodeOnDriver(local, id, tmp)
      case _ => encodeWithSpark(df, id, tmp)
    }
    val part = partFiles(tmp).headOption
      .getOrElse(sys.error(s"no parquet part written under $tmp"))
    val sst = seal(part, id, range)
    storeFs.delete(tmp, recursive = true)
    manifest.addFile(sst)
    sst
  }

  /** The SST's sort order: pk prefix, ascending, nulls first. */
  private def pkOrder: Seq[Column] =
    schema.primaryKeys.map(c => TimeMergeStorage.qcol(c).asc_nulls_first)

  /** Spark encoder: one write job, one part file under `tmp`. */
  private def encodeWithSpark(df: DataFrame, id: Long, tmp: HPath): Unit = {
    val stamped = df
      .withColumn(SeqCol, lit(id))                        // types.rs:219-239
      .withColumn(ReservedCol, lit(null).cast("long"))
    // Sort AFTER coalesce(1) (same hazard note as Compactor.execute): a
    // sort below the coalesce orders each pre-coalesce partition only,
    // and their concatenation is not globally pk-sorted — the single
    // output file must be (the merged read and the footer's
    // sorting-columns stamp both assume per-file pk order).
    writeOptions(stamped.coalesce(1).sortWithinPartitions(pkOrder: _*).write)
      .mode("overwrite").parquet(tmp.toString)
  }

  /** Driver encoder: the `LocalRelation`'s rows, stamped with `__seq__` and
    * the reserved column like [[encodeWithSpark]]'s projection, sorted by
    * Catalyst's own pk ordering (interpreted — nothing to compile) and
    * written through Spark's parquet `OutputWriter` with the same options
    * and schema a write job would use, so the two files agree down to the
    * footer's row metadata. */
  private def encodeOnDriver(local: LocalRelation, id: Long, tmp: HPath): Unit = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.LongType
    val out = local.output
    val ordering = new InterpretedOrdering(schema.primaryKeys.map { pk =>
      val i = out.indexWhere(_.name == pk)
      SortOrder(BoundReference(i, out(i).dataType, out(i).nullable),
        Ascending, NullsFirst, Seq.empty)
    })
    val stamp = Seq(AttributeReference(SeqCol, LongType, nullable = false)(),
      AttributeReference(ReservedCol, LongType)())
    val fileSchema =
      org.apache.spark.sql.catalyst.types.DataTypeUtils.fromAttributes(out ++ stamp)
    val opts = writeOptions.asMap
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      spark.sessionState.newHadoopConfWithOptions(opts))
    val factory = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .prepareWrite(spark, job, opts, fileSchema)
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      job.getConfiguration, new org.apache.hadoop.mapreduce.TaskAttemptID(
        s"graft-$id", 0, org.apache.hadoop.mapreduce.TaskType.MAP, 0, 0))
    val writer = factory.newInstance(
      new HPath(tmp, "part-00000.parquet").toString, fileSchema, ctx)
    val suffix = new GenericInternalRow(Array[Any](id, null))
    val row = new JoinedRow()
    try local.data.sorted(ordering).foreach(r => writer.write(row(r, suffix)))
    finally writer.close()
  }

  /** The commit routine every SST write shares: rename the staged `part`
    * to its seq-named file, then ONE footer parse yields the row count,
    * zone-map stats and the sorting-columns stamp — metadata only, no
    * re-read job, one open instead of three (matters on object stores).
    * The caller commits the returned entry to the manifest. */
  private def seal(part: HPath, id: Long, range: TimeRange,
      bucket: Int = -1): SstFile = {
    val dest = new HPath(dataDir, s"$id.parquet")
    storeFs.rename(part, dest)
    val footer = storeFs.parquetFooter(dest)
    val rows = storeFs.parquetRowCount(footer)
    storeFs.stampSortingColumns(dest, pkSorting, footer)
    SstFile(id, dest.toString, rows, storeFs.size(dest), range,
      stats = storeFs.parquetColumnStats(footer, statsColumns), bucket = bucket)
  }

  /** Columns whose per-file min/max go into the manifest as zone maps
    * ([[ZoneMaps]]): the primary keys (write-sorted, so their stats are
    * tight) plus the timestamp column. Lifted from the footer the write
    * path already opens — no extra I/O. */
  private def statsColumns: Seq[String] =
    (schema.primaryKeys ++ timestampColumn).distinct

  /** The SSTs' `sorting_columns` footer stamp: pk prefix, ascending,
    * nulls-first — mirrors the write-path sort and the reference's
    * footer metadata (storage.rs:258-298). Pks are the leading schema
    * fields, so leaf ordinals are 0..N-1. */
  private def pkSorting: Seq[(Int, Boolean, Boolean)] =
    schema.primaryKeys.indices.map(i => (i, false, true))

  /** Bucketed segment write — the 100 TB shape. One write produces
    * `numBuckets` pk-sorted SSTs, hash-partitioned on the leading primary
    * keys (`pmod(xxhash64(pks), n)`), so a 1000-executor cluster writes all
    * buckets in parallel and later merges/compactions of one bucket never
    * touch another. Each part file registers as its own SST in the manifest
    * (single-file [[write]] stays the reference-faithful small path). */
  def writeBucketed(df: DataFrame, range: TimeRange, numBuckets: Int): Seq[SstFile] = {
    requireMatchesSchema(df)
    require(TimeRange.truncate(range.start, segmentMs) ==
            TimeRange.truncate(range.end - 1, segmentMs),
      s"write crosses segment boundary: $range at segment=${segmentMs}ms")
    val batchId = allocId()
    val tmp = new HPath(dataDir, s"tmp-bucketed-$batchId")
    // hash-partition directly on the pk columns (repartition re-hashes its
    // expressions — deriving a bucket id first would collide buckets)
    writeOptions(
      df.repartition(numBuckets, schema.primaryKeys.map(TimeMergeStorage.qcol): _*)
        .sortWithinPartitions(pkOrder: _*)
        .withColumn(SeqCol, lit(batchId))
        .withColumn(ReservedCol, lit(null).cast("long"))
        .write).mode("overwrite").parquet(tmp.toString)
    // per-file row counts straight from the parquet footers (metadata-only;
    // replaces the old read-back Spark job over every part). The part
    // number IS the hash-partition index = bucket id: repartition on the
    // same pk columns with the same numBuckets is deterministic, so bucket
    // i of every batch holds the same key space — recorded in the manifest
    // so compaction can merge per (segment, bucket).
    val ssts = partFiles(tmp).map { part =>
      val bucket = "part-(\\d+)".r.findFirstMatchIn(part.getName)
        .map(_.group(1).toInt).getOrElse(-1)
      seal(part, allocId(), range, bucket)
    }
    storeFs.delete(tmp, recursive = true)
    manifest.update(ssts)
    ssts
  }

  /** Multi-segment sorted write in ONE Spark job — the backfill shape.
    * Rows route to their segment by `timestampColumn` (required); the
    * write shuffles once on the segment id, sorts (segment, pks) within
    * tasks, and emits one pk-sorted SST per touched segment via dynamic
    * partitioning (`partitionBy` on a derived column, dropped from the
    * files), all registered in a single manifest commit. A caller looping
    * [[write]] over N segments pays N scan+shuffle+write jobs; this pays
    * one — a year-long rollup backfill (~730 segments at 12 h) collapses
    * from ~730 sequential jobs to 1. Every segment's rows hash to one
    * task, so each segment still yields exactly one file; a crash before
    * the manifest commit leaves only an uncommitted tmp dir. */
  def writeSegmented(df: DataFrame): Seq[SstFile] = {
    requireMatchesSchema(df)
    val tsCol = timestampColumn.getOrElse(sys.error(
      "writeSegmented requires a timestamp column to route rows to segments"))
    val segCol = "__graft_seg__"
    val batchId = allocId()
    val tmp = new HPath(dataDir, s"tmp-seg-$batchId")
    writeOptions(
      df.withColumn(segCol,
          TimeMergeStorage.segmentIdColumn(TimeMergeStorage.qcol(tsCol), segmentMs))
        .repartition(col(segCol))
        .sortWithinPartitions(col(segCol).asc +: pkOrder: _*)
        .withColumn(SeqCol, lit(batchId))
        .withColumn(ReservedCol, lit(null).cast("long"))
        .write).mode("overwrite").partitionBy(segCol).parquet(tmp.toString)
    val segDirs = storeFs.list(tmp)
      .filter(_.getName.startsWith(s"$segCol="))
      .sortBy(_.getName)
    // Fail BEFORE any rename: a null-timestamp row lands in Hive's
    // __HIVE_DEFAULT_PARTITION__ dir, which would otherwise throw a raw
    // NumberFormatException AFTER earlier segments' parts were renamed
    // into data/ — unmanifested orphans a change-stream tail has already
    // emitted. (Cheaper than a pre-write null scan over the frame.)
    val badSegs = segDirs.map(_.getName.stripPrefix(s"$segCol="))
      .filter(s => scala.util.Try(s.toLong).isFailure)
    require(badSegs.isEmpty,
      s"writeSegmented: rows with a null/invalid $tsCol landed in " +
        s"partition(s) ${badSegs.mkString(", ")}; timestamps must be non-null")
    val ssts = segDirs
      .flatMap { dir =>
        val seg = dir.getName.stripPrefix(s"$segCol=").toLong
        val range = TimeRange(seg * segmentMs, (seg + 1) * segmentMs)
        partFiles(dir).map(seal(_, allocId(), range))
      }
    storeFs.delete(tmp, recursive = true)
    manifest.update(ssts)
    ssts
  }

  /** Merge-on-read scan, planned as the sorted-run
    * [[graft.plans.MergeDedupExec]] — measured 1.6× the hash-agg merge
    * ([[MergeOps.dedupMerge]]) at 10M rows (one clustered exchange +
    * linear run reduction, no hash table; spills through the external
    * sorter at scale). */
  def scan(req: ScanRequest = ScanRequest()): DataFrame =
    scanWith(req, merge = df => graft.plans.MergeDedupOps.nativeDedupMerge(
      df, schema.primaryKeys, schema.updateMode, globalSort = false))

  /** Output-ordering contract of the reference scan ("sorted by time, old →
    * latest", storage.rs:82-84): [[graft.plans.MergeDedupExec]] with a
    * range-partitioned requirement, so ONE shuffle produces both the merge
    * and the global pk order — vs two for `scan(req).sort(pks)` (merge
    * exchange + sort exchange). */
  def scanSorted(req: ScanRequest = ScanRequest()): DataFrame =
    scanWith(req, merge = df => graft.plans.MergeDedupOps.nativeDedupMerge(
      df, schema.primaryKeys, schema.updateMode, globalSort = true))

  /** Merge-on-read DELETE (beyond-ref; the reference's overwrite mode has
    * no delete marker): rows written with `tombstoneCol = true` are delete
    * markers. Last-write-wins merge picks the newest version per pk as
    * usual, and a pk whose winner is a tombstone disappears from the
    * result — LSM delete semantics with zero extra exchanges (the filter
    * runs after the same merge every scan plans). Older shadowed versions
    * compact away naturally; the marker row itself survives compaction so
    * late-arriving older versions stay deleted. Rows from SSTs written
    * before the tombstone column existed read as null → kept. */
  def scanWithoutDeleted(tombstoneCol: String,
      req: ScanRequest = ScanRequest()): DataFrame = {
    require(schema.updateMode == UpdateMode.Overwrite,
      "tombstone deletes need last-write-wins merge (Overwrite mode)")
    require(schema.valueColumns.contains(tombstoneCol),
      s"tombstone column $tombstoneCol must be a value column")
    // widen the request so the marker is visible to the filter, then
    // project back down to what the caller asked for
    val wideReq = req.projection match {
      case Some(cols) if !cols.contains(tombstoneCol) =>
        req.copy(projection = Some(cols :+ tombstoneCol))
      case _ => req
    }
    val kept = scan(wideReq).filter(!coalesce(col(tombstoneCol), lit(false)))
    req.projection match {
      case Some(cols) => kept.select(cols.map(TimeMergeStorage.qcol): _*)
      case None => kept
    }
  }

  /** TIME-TRAVEL scan (beyond-ref; the Delta/Iceberg snapshot-read shape,
    * for free here because SST id == write sequence): the table as of
    * write `maxSstId` — only SSTs with id <= maxSstId participate, which
    * is exactly the file set a scan planned right after that write (every
    * later write got a strictly larger id). Merge semantics are unchanged:
    * the excluded newer SSTs are the only rows with a higher `__seq__`.
    *
    * Horizon: compaction REWRITES carry new ids and physically delete
    * their inputs, so views older than the newest compaction of a segment
    * are unreachable — the VACUUM trade-off every snapshot store makes;
    * on an uncompacted (or TTL-only) table every write is addressable. */
  def scanAsOf(maxSstId: Long, req: ScanRequest = ScanRequest()): DataFrame =
    scanWith(req, merge = df => graft.plans.MergeDedupOps.nativeDedupMerge(
      df, schema.primaryKeys, schema.updateMode, globalSort = false),
      fileFilter = _.id <= maxSstId)

  /** True when a predicate touches ONLY primary-key columns — the one
    * predicate class that commutes with merge-on-read dedup: every version
    * of a pk shares its key values, so a pk-only filter drops whole version
    * groups atomically. Everything else (value columns, unknown references,
    * non-deterministic expressions) must evaluate AFTER the merge — a
    * pre-merge value filter can drop the newest version of a pk and let an
    * older overwritten (or tombstoned) version win, returning stale rows. */
  private def pkSafe(p: Column): Boolean =
    org.apache.spark.sql.GraftShims.referencedColumns(p)
      .exists(ns => ns.nonEmpty && ns.forall(schema.primaryKeys.contains))

  /** Shared scan pipeline (reference storage.rs:336-369 + read.rs:95-391):
    * manifest prune → parquet read (pk-predicate pushdown) → widen
    * projection → per-pk `merge` → value-predicate filter → strip builtins
    * → project. Pk-only predicates run pre-merge (and zone-map-prune files,
    * [[plannedSsts]]); all other predicates run post-merge so filters see
    * MERGED rows, exactly what SQL semantics over the table demand. */
  private def scanWith(req: ScanRequest, merge: DataFrame => DataFrame,
      fileFilter: SstFile => Boolean = _ => true): DataFrame = {
    val ssts = plannedSsts(req).filter(fileFilter)
    if (ssts.isEmpty) // storage.rs:336-341 empty short-circuit
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        selectSchema(req))

    val (preMerge, postMerge) = req.predicates.partition(pkSafe)
    val (widened, userCols) = schema.widenProjection(req.projection)
    // post-merge predicates may reference user columns outside the caller's
    // projection: carry them through the merge, project them away at the end
    val postRefs = postMerge.flatMap(p =>
        org.apache.spark.sql.GraftShims.referencedColumns(p)
          .getOrElse(schema.userSchema.fieldNames.toSeq))
      .filter(schema.userSchema.fieldNames.contains).distinct
    val mergeCols = widened ++ postRefs.filterNot(widened.contains)
    var df = spark.read.schema(schema.fullSchema).parquet(ssts.map(_.path): _*)
    if (req.range.start != Long.MinValue || req.range.end != Long.MaxValue)
      timestampColumn.foreach { ts =>
        df = df.filter(TimeMergeStorage.qcol(ts) >= lit(req.range.start) &&
          TimeMergeStorage.qcol(ts) < lit(req.range.end))
      }
    preMerge.foreach(p => df = df.filter(p)) // pushed to parquet by Catalyst
    df = merge(mergeInput(df.select(mergeCols.map(TimeMergeStorage.qcol): _*), ssts))
    postMerge.foreach(p => df = df.filter(p))
    if (req.keepBuiltins)
      df.select(widened.map(TimeMergeStorage.qcol): _*)
        .withColumn(ReservedCol, lit(null).cast("long"))
    else df.select(userCols.map(TimeMergeStorage.qcol): _*)
  }

  /** The merge's input `df`, read from `ssts`, as ONE partition
    * (`coalesce(1)`, no shuffle) when its estimated decoded size fits the
    * size AQE targets for one post-shuffle partition
    * (`spark.sql.adaptive.advisoryPartitionSizeInBytes`): the manifest's
    * row counts × 8 B × (columns + 1). `SinglePartition` then satisfies the
    * merge's clustered or ordered distribution and every window, aggregate
    * and union above it, so a small scan and what consumes it plan only
    * local sorts — the reference's single-partition MergeExec
    * (read.rs:154-156). Above the bound the frame is returned unchanged and
    * the merge plans its one exchange. Compaction reads its inputs
    * through the same rule. */
  private[storage] def mergeInput(df: DataFrame, ssts: Seq[SstFile]): DataFrame = {
    val estimate = ssts.map(_.numRows).sum * 8L * (df.columns.length + 1)
    val target = spark.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    if (estimate <= target) df.coalesce(1) else df
  }

  /** The file list a scan will actually read: manifest time pruning, then
    * zone-map pruning on any simple `col <op> literal` conjuncts of the
    * request's PK-ONLY predicates ([[ZoneMaps]]). Value-column conjuncts
    * never prune files: a file holding only stale versions of a pk must
    * still be read so the merge can shadow it (same reason they filter
    * post-merge in [[scanWith]]). Public so tests and operators can assert
    * what gets skipped before any I/O happens. */
  def plannedSsts(req: ScanRequest): Seq[SstFile] = {
    val byTime = manifest.findSsts(req.range)
    val bs = req.predicates.filter(pkSafe).flatMap(ZoneMaps.bounds)
    if (bs.isEmpty) byTime
    else byTime.filter(f => ZoneMaps.mayMatch(f.stats, bs))
  }

  /** Schema of the empty-scan short-circuit — MUST mirror the non-empty
    * [[scanWith]] output exactly (same columns, same order) for both
    * keepBuiltins shapes, or unions over sometimes-empty scans break. */
  private def selectSchema(req: ScanRequest) = {
    import org.apache.spark.sql.types.StructType
    val (widened, userCols) = schema.widenProjection(req.projection)
    if (req.keepBuiltins)
      StructType((widened.map(n => schema.fullSchema(schema.fullSchema.fieldIndex(n))) :+
        schema.fullSchema(schema.fullSchema.fieldIndex(ReservedCol))).toArray)
    else
      // resolve from the FULL schema when a caller projects a builtin
      // (e.g. __seq__, which the non-empty scan path returns verbatim) —
      // the empty-range short-circuit must produce the same columns
      StructType(userCols.map(n =>
        if (schema.userSchema.fieldNames.contains(n))
          schema.userSchema(schema.userSchema.fieldIndex(n))
        else schema.fullSchema(schema.fullSchema.fieldIndex(n))).toArray)
  }

  /** Existence check through the store's FileSystem (tests and callers must
    * not assume a local path — `path` may be any supported URI). */
  def exists(path: String): Boolean = storeFs.exists(path)

  /** Orphan-file GC (the Delta `VACUUM` analog): delete everything under
    * the data directory that the manifest does NOT reference and that is
    * older than `olderThanMs` — crashed writes' `tmp-*` staging dirs,
    * compaction inputs whose grace-deferred delete queue died with its
    * process ([[CompactionConfig.deleteGraceMs]]), any half-finished
    * commit. Returns the number of paths deleted.
    *
    * Safety is the age threshold: a write stages under `tmp-*`, renames to
    * its final seq-name, THEN commits to the manifest, so a just-renamed
    * file can be unreferenced for the commit's duration. `olderThanMs`
    * must exceed any plausible write/commit latency AND the compaction
    * delete grace AND the longest running query (a reader may be scanning
    * a grace-parked file); the 24 h default dwarfs all three, matching
    * Delta's retention-check spirit. Staleness anchors on the LATER of
    * the file's modification time (object stores report upload
    * completion) and the manifest's unreference time — mtime alone is the
    * file's CREATION age, which would sweep a long-lived SST the moment a
    * compaction unreferences it, defeating the grace window. */
  def vacuum(olderThanMs: Long = 24L * 3600 * 1000,
      nowMs: Long = System.currentTimeMillis()): Int = {
    require(olderThanMs >= 0, s"olderThanMs must be >= 0, got $olderThanMs")
    val referenced = manifest.allSsts().map(_.path).toSet
    var deleted = 0
    // one listing carries the modification times (no per-file HEAD on an
    // object store); referenced check first, so live files cost nothing.
    // vacuum runs against a LIVE store — a path deleted between the
    // listing and our delete (grace-sweep race) is simply skipped.
    val statuses =
      if (!storeFs.exists(dataDir)) Array.empty[org.apache.hadoop.fs.FileStatus]
      else storeFs.fs.listStatus(dataDir)
    statuses.foreach { st =>
      val p = st.getPath
      // staleness anchors on the LATER of file mtime and the manifest's
      // unreference time: mtime is the file's CREATION time, so an old
      // SST unreferenced by a compaction seconds ago would otherwise be
      // swept out from under the compactor's delete-grace window (and any
      // in-flight reader still inside it)
      val anchor = math.max(st.getModificationTime,
        manifest.unreferencedAtMs(p.toString).getOrElse(Long.MinValue))
      if (!referenced.contains(p.toString) && anchor <= nowMs - olderThanMs) {
        // tmp-* staging dirs need the recursive form; files don't care
        try {
          if (storeFs.delete(p, recursive = true)) {
            deleted += 1
            manifest.clearUnreferencedAt(p.toString)
          }
        } catch { case scala.util.control.NonFatal(_) => () }
      }
    }
    deleted
  }

  /** CHANGE STREAM over the table (beyond-ref; the Delta/Iceberg streaming-
    * source shape): a Structured Streaming DataFrame of every row COMMITTED
    * to the store from stream start onward, in commit order per micro-batch.
    * Free here because commits are write-once seq-named parquet files under
    * one directory — Spark's file stream source IS the tailing mechanism
    * (durable, checkpointable, no custom Source implementation to maintain):
    * in-progress writes live under `tmp-*` subdirectories and only appear
    * atomically on rename, so the `*.parquet` glob can never see a torn
    * file.
    *
    * Emits raw SST rows including `__seq__` (a CDC stream: every version of
    * every pk, in write order — late data and overwrites appear as new
    * rows). Merge-on-read semantics are per-QUERY state, so downstream
    * last-write-wins is the usual streaming dedup shape:
    * `tail.withWatermark(...)` + max_by per pk in `foreachBatch`, or the
    * [[graft.streaming.StreamDedup]]/[[graft.streaming.StreamAggregates]]
    * operators this library already ships.
    *
    * `maxFilesPerTrigger` bounds a micro-batch (backfill over an existing
    * table arrives in file-sized chunks instead of one giant batch).
    *
    * COMPACTION CAVEAT: a compaction commit is itself a new file, so a
    * tailer sees every row of the merged SST again (with its original
    * `__seq__` values, which downstream last-write-wins dedup absorbs —
    * but event-counting / append-to-log consumers do not). Tail only
    * tables whose compaction is paused or that compact on a boundary the
    * consumer controls — the ingest-layer shape; Delta's change feed
    * solves the same rewrite problem only with per-commit metadata this
    * layout does not carry. Idempotent-by-(pk, __seq__) consumers are
    * safe unconditionally.
    *
    * COMMIT CAVEAT: the stream tails RENAMED files, and the rename
    * precedes the manifest commit — a write whose manifest update then
    * fails (hard-threshold pushback) has already surfaced its rows here
    * even though no scan of the table will ever return them; vacuum later
    * removes the file (set `spark.sql.files.ignoreMissingFiles` on
    * long-lived tailers). Treat the stream as AT-LEAST-ONCE relative to
    * table state, the standard file-source contract. */
  def tailStream(maxFilesPerTrigger: Int = 100): DataFrame =
    spark.readStream
      .schema(schema.fullSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(new HPath(dataDir, "*.parquet").toString)
}

object TimeMergeStorage {

  /** Backtick-quote a raw column name for the Column API: bare col("a.b")
    * re-parses the dot as struct access, so every name-derived column in
    * the scan/merge/write paths must quote or a user column literally
    * named "a.b" breaks (or silently mis-resolves against a struct). */
  def qcol(name: String): Column =
    col("`" + name.replace("`", "``") + "`")

  /** Exact long segment id — floor(ts / segmentMs) as a COLUMN. The
    * float shape `floor(col / lit)` converts to double first and loses
    * exactness past 2^53 (ns-epoch timestamps live there): a boundary
    * row could round into the neighboring segment, where an exact-long
    * commit range filter then silently drops it. Integer `div` truncates
    * toward zero; negatives with a remainder adjust down to floor. */
  def segmentIdColumn(ts: Column, segmentMs: Long): Column = {
    val d = call_function("div", ts, lit(segmentMs))
    when(ts >= 0 || ts % lit(segmentMs) === 0, d).otherwise(d - 1)
  }

  /** Full table descriptor persisted in the manifest: the
    * [[StorageSchema.toJson]] payload plus the table-level physical config
    * (segment duration, timestamp column). Extra fields ride in front of
    * `userSchema` so [[StorageSchema.fromJson]]'s slicing still works; its
    * regex field reads ignore what they don't know, so descriptors are
    * forward/backward compatible. */
  // JSON string escape/unescape for the timestamp-column field — a column
  // name containing a quote or backslash (legal via backticks in Spark)
  // must not corrupt the one-line descriptor (the manifest path field
  // gets the same treatment in Manifest.esc).
  private def escTs(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c => c.toString
  }

  private def unescTs(s: String): String =
    s.replace("\\\"", "\"").replace("\\\\", "\\")

  def descriptorJson(schema: StorageSchema, segmentMs: Long,
      timestampColumn: Option[String]): String = {
    val tsField = timestampColumn
      .map(c => s""""timestampColumn":"${escTs(c)}",""").getOrElse("")
    val base = StorageSchema.toJson(schema)
    s"""{"segmentMs":$segmentMs,$tsField${base.stripPrefix("{")}"""
  }

  // Both reads ANCHOR at the descriptor's fixed prefix ({"segmentMs":N,
  // then optionally "timestampColumn":"..."), never scanning the whole
  // line: a user StructField whose METADATA contains a key named
  // "timestampColumn" (StructType.json embeds metadata verbatim) would
  // otherwise satisfy an unanchored search and brick reopen of a table
  // that has no timestamp column.
  def descriptorSegmentMs(json: String): Option[Long] =
    """^\{"segmentMs":(\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong)

  def descriptorTimestampColumn(json: String): Option[String] =
    """^\{"segmentMs":\d+,"timestampColumn":"((?:[^"\\]|\\.)*)"""".r
      .findFirstMatchIn(json).map(m => unescTs(m.group(1)))

  /** Attach to an existing root with ZERO caller-side configuration —
    * schema, primary keys, update mode, segment duration, and timestamp
    * column all come from the manifest's persisted descriptor (the Delta/
    * Iceberg "the table knows itself" property; the reference's storage
    * takes its schema from the caller every time, storage.rs:143-153).
    * This is what the `graft` SQL data source builds on. Fails on a root
    * with no descriptor (nothing was ever written there by a
    * descriptor-aware build). */
  def open(spark: SparkSession, root: String,
      writeOptions: WriteOptions = WriteOptions()): TimeMergeStorage = {
    // descriptor-only read: the constructor below builds the table's real
    // Manifest — loading a second one here just to read schema-*.json
    // would replay the whole snapshot+delta log twice per attach
    val json = Manifest.readSchemaJson(root,
      spark.sessionState.newHadoopConf()).getOrElse(sys.error(
      s"no table descriptor under $root/manifest — not a graft table " +
        "(or written by a pre-descriptor build; reopen it once with an " +
        "explicit schema to stamp one)"))
    val segMs = descriptorSegmentMs(json).getOrElse(sys.error(
      s"descriptor under $root predates segment persistence; reopen once " +
        "with an explicit schema + segmentMs to upgrade it"))
    new TimeMergeStorage(spark, root, StorageSchema.fromJson(json), segMs,
      timestampColumn = descriptorTimestampColumn(json),
      writeOptions = writeOptions)
  }
}

/** The merge operators (reference operator.rs + read.rs MergeExec), expressed
  * as DataFrame aggregations so Catalyst/Tungsten parallelize them. */
object MergeOps {
  import StorageSchema.SeqCol

  /** Dedup rows sharing a primary key.
    *
    *  - Overwrite: `max_by(struct(values), __seq__)` — last-write-wins
    *    (LastValueOperator, operator.rs:36-44). Seq ties cannot occur: seq is
    *    the unique file id (sst.rs:39-46). Map-side partial agg keeps the
    *    shuffle small.
    *  - Append: binary/array/string value columns concatenated in seq order
    *    via `sort_array(collect_list(struct(seq, v)))` (BytesMergeOperator,
    *    operator.rs:46-111); other columns take the first (min-seq) row.
    */
  def dedupMerge(df: DataFrame, pks: Seq[String], valueCols: Seq[String],
      mode: UpdateMode): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, BinaryType, StringType}
    val seqTyped = df.schema.fieldNames.contains(SeqCol)
    require(seqTyped, s"dedupMerge input must carry $SeqCol")
    mode match {
      case UpdateMode.Overwrite =>
        val packed = struct((valueCols :+ SeqCol).map(TimeMergeStorage.qcol): _*)
        // Order by (seq, orderable values): seq ties cannot occur ACROSS
        // files (ids are unique, sst.rs:39-46) but CAN occur within one
        // write batch — the value tiebreak makes the winner deterministic
        // across runs and partitionings instead of partition-order-
        // dependent. Non-orderable columns (maps) stay in the payload but
        // out of the ordering, matching MergeDedupExec's required ordering.
        val ordering = struct(col(SeqCol) +: valueCols.filter(c =>
          org.apache.spark.sql.catalyst.expressions.RowOrdering
            .isOrderable(df.schema(c).dataType)).map(TimeMergeStorage.qcol): _*)
        df.groupBy(pks.map(TimeMergeStorage.qcol): _*)
          .agg(max_by(packed, ordering).as("__m__"))
          .select(pks.map(TimeMergeStorage.qcol) ++ (valueCols :+ SeqCol)
            .map(c => col("__m__").getField(c).as(c)): _*)
      case UpdateMode.Append =>
        // ONE sorted run per group, ordered by (seq, orderable v1..vK) — the
        // same full ordering MergeDedupExec sorts runs by, so the two paths
        // agree even on same-seq duplicate pks (single-write-batch edge
        // case): every concat column concatenates in the one shared row
        // order, and first-row columns take the first row of that order.
        // The sort runs through an explicit comparator on the ORDERABLE
        // columns only, so non-orderable payload columns (maps) ride along
        // in the run without breaking the sort. Null chunks are dropped
        // before concatenation (the reference's Arrow BytesMergeOperator
        // skips null buffers, operator.rs:69-89); a group whose chunks are
        // ALL null merges to null, not an empty value.
        import org.apache.spark.sql.catalyst.expressions.RowOrdering
        val packed = struct((SeqCol +: valueCols).map(TimeMergeStorage.qcol): _*)
        val sortCols = SeqCol +: valueCols.filter(c =>
          RowOrdering.isOrderable(df.schema(c).dataType))
        def key(x: Column) = struct(sortCols.map(n => x(n)): _*)
        val merged = df.groupBy(pks.map(TimeMergeStorage.qcol): _*)
          .agg(array_sort(collect_list(packed), (l, r) =>
            when(key(l) < key(r), lit(-1)).when(key(l) > key(r), lit(1))
              .otherwise(lit(0))).as("__run__"))
        val first = col("__run__").getItem(0)
        val outCols = pks.map(TimeMergeStorage.qcol) ++ (valueCols.map { c =>
          def chunks = filter(transform(col("__run__"), x => x(c)), _.isNotNull)
          df.schema(c).dataType match {
            case BinaryType =>
              when(size(chunks) === 0, lit(null).cast(BinaryType)).otherwise(
                aggregate(chunks, lit(Array.emptyByteArray),
                  (acc, x) => concat(acc, x))).as(c)
            case StringType =>
              when(size(chunks) === 0, lit(null).cast(StringType)).otherwise(
                concat_ws("", chunks)).as(c)
            case at: ArrayType =>
              when(size(chunks) === 0, lit(null).cast(at)).otherwise(
                flatten(chunks)).as(c)
            case _ => first(c).as(c) // first row wins (operator.rs:95-101)
          }
        } :+ first(SeqCol).as(SeqCol))
        merged.select(outCols: _*)
    }
  }
}
