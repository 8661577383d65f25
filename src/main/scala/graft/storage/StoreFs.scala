package graft.storage

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** Thin Hadoop-`FileSystem` layer under the storage engine: every manifest
  * and SST file operation routes through it, so one `TimeMergeStorage` root
  * can live on any Hadoop-supported store — `file:`, `hdfs:`, `s3a:`, … —
  * the way the reference reads/writes through its object-store abstraction
  * (columnar_storage/src/read.rs:78-93 ParquetObjectReader; writes
  * storage.rs:193-213). Bare local paths resolve to the local filesystem,
  * keeping previous behavior byte-identical.
  *
  * Commit discipline: single-file renames are used only where the target
  * does not exist (fresh SST ids, fresh snapshot seqs), so the engine never
  * depends on atomic-replace — the one rename semantic object stores cannot
  * provide. Multi-writer coordination stays at the driver (single manifest
  * writer), as in the reference's RwLock + single merger task.
  */
final class StoreFs(rootUri: String, conf: Configuration) {
  val root: HPath = {
    val p = new HPath(rootUri)
    p.getFileSystem(conf).makeQualified(p)
  }
  val fs: FileSystem = root.getFileSystem(conf)

  def path(segments: String*): HPath =
    segments.foldLeft(root)((p, s) => new HPath(p, s))

  def mkdirs(p: HPath): Unit = fs.mkdirs(p)

  def exists(p: HPath): Boolean = fs.exists(p)
  def exists(s: String): Boolean = fs.exists(new HPath(s))

  def size(p: HPath): Long = fs.getFileStatus(p).getLen

  def list(dir: HPath): Seq[HPath] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.map(_.getPath)

  /** Rename expecting a non-existent target (fresh id/seq names). Hadoop's
    * rename reports failure as `false` on most filesystems — surface it. */
  def rename(src: HPath, dst: HPath): Unit =
    if (!fs.rename(src, dst))
      sys.error(s"rename failed: $src -> $dst" +
        (if (fs.exists(dst)) " (target exists)" else ""))

  def delete(p: HPath, recursive: Boolean = false): Boolean =
    fs.delete(p, recursive)

  def deleteQuietly(s: String): Unit =
    try { fs.delete(new HPath(s), false); () } catch { case _: Throwable => () }

  def readLines(p: HPath): Seq[String] = {
    val in = new BufferedReader(
      new InputStreamReader(fs.open(p), StandardCharsets.UTF_8))
    try Iterator.continually(in.readLine()).takeWhile(_ != null).toList
    finally in.close()
  }

  /** Write a small text file in one create+close (the object-store PUT
    * analog). Overwrites: callers use fresh names for commit-critical files. */
  def writeLines(p: HPath, lines: Seq[String]): Unit = {
    val out = fs.create(p, true)
    try out.write(lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Parse a parquet footer once — metadata-only, one file open. The SST
    * commit path derives row count, zone-map stats, AND the sorting-columns
    * stamp from this single parse (three separate opens per commit would
    * triple object-store metadata round-trips at bucketed-write scale). */
  def parquetFooter(p: HPath): org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf), footerReadOptions)
    try r.getFooter finally r.close()
  }

  /** Read options derived from `conf` once: deriving them per open scans
    * the whole Hadoop configuration, ~12 ms — a third of a small SST
    * commit. */
  private lazy val footerReadOptions =
    org.apache.parquet.HadoopReadOptions.builder(conf).build()

  /** Row count straight from the parquet footer — metadata-only, no Spark
    * job (the reference likewise records `num_rows` from the writer's
    * metadata, storage.rs:205-213 / sst.rs:154-160). */
  def parquetRowCount(p: HPath): Long = parquetRowCount(parquetFooter(p))

  def parquetRowCount(meta: org.apache.parquet.hadoop.metadata.ParquetMetadata): Long = {
    import scala.jdk.CollectionConverters._
    meta.getBlocks.asScala.map(_.getRowCount).sum
  }

  /** Per-column min/max lifted from the parquet footer's row-group
    * statistics and merged across row groups — the zone-map source
    * ([[ZoneMaps]]). Metadata-only, no data read. Columns whose statistics
    * are absent, empty, or of an unmapped physical type are omitted
    * (callers abstain from pruning on them). Values map to the manifest's
    * stat kinds: integers → Long, floats → Double, UTF8 binary → String,
    * boolean → Boolean. Parquet may truncate long binary stats, but only
    * outward (min' ≤ min, max' ≥ max), so pruning on them stays sound. */
  def parquetColumnStats(p: HPath, cols: Seq[String]): Map[String, (Any, Any)] =
    parquetColumnStats(parquetFooter(p), cols)

  def parquetColumnStats(meta: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      cols: Seq[String]): Map[String, (Any, Any)] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val blocks = meta.getBlocks.asScala.toSeq
    val want = cols.toSet
    val perCol = blocks.flatMap(_.getColumns.asScala)
      .filter(c => c.getPath.size == 1 && want(c.getPath.toDotString))
      .groupBy(_.getPath.toDotString)
    perCol.flatMap { case (name, chunks) =>
      val stats = chunks.map(_.getStatistics)
      if (stats.exists(s => s == null || s.isEmpty || !s.hasNonNullValue)) None
      else {
        val prim = chunks.head.getPrimitiveType
        val isString = prim.getLogicalTypeAnnotation
          .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
        // INT32/INT64 stats are usable ONLY as plain integers: an annotated
        // physical int can be a decimal (stats are UNSCALED — a DECIMAL(9,2)
        // file of 1.00–2.00 reports (100, 200), and pruning against a
        // user-scale literal would skip matching files), a date, a
        // timestamp, or a time. All of those abstain.
        val plainInt = prim.getLogicalTypeAnnotation == null ||
          prim.getLogicalTypeAnnotation
            .isInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation]
        def conv(v: Any): Option[Any] = (prim.getPrimitiveTypeName, v) match {
          case (INT32, x: java.lang.Integer) if plainInt => Some(x.longValue)
          case (INT64, x: java.lang.Long) if plainInt => Some(x.longValue)
          case (FLOAT, x: java.lang.Float) => Some(x.doubleValue)
          case (DOUBLE, x: java.lang.Double) => Some(x.doubleValue)
          case (BOOLEAN, x: java.lang.Boolean) => Some(x.booleanValue)
          case (BINARY, x: org.apache.parquet.io.api.Binary) if isString =>
            Some(x.toStringUsingUTF8)
          case _ => None
        }
        val mins = stats.map(s => conv(s.genericGetMin))
        val maxs = stats.map(s => conv(s.genericGetMax))
        if (mins.exists(_.isEmpty) || maxs.exists(_.isEmpty)) None
        else {
          def reduce(vs: Seq[Any], keepLeft: (Int) => Boolean): Any =
            vs.reduce { (a, b) =>
              val c = (a, b) match {
                case (x: Long, y: Long) => java.lang.Long.compare(x, y)
                case (x: Double, y: Double) => java.lang.Double.compare(x, y)
                // UTF-8 byte order — the order the per-row-group stats were
                // computed in; UTF-16 compareTo here could record a "min"/
                // "max" that is not the byte-order extremum (ZoneMaps
                // compares in byte order)
                case (x: String, y: String) => ZoneMaps.utf8Compare(x, y)
                case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
                case _ => 0
              }
              if (keepLeft(c)) a else b
            }
          Some(name -> (reduce(mins.map(_.get), _ <= 0),
            reduce(maxs.map(_.get), _ >= 0)))
        }
      }
    }
  }

  /** Stamp parquet `sorting_columns` row-group metadata onto an SST — the
    * reference records its pk sort order in every SST footer
    * (storage.rs:258-298, config.rs:125); Spark's writer has no API for it.
    * Mechanism: read the footer, set `sorting_columns` on every row group,
    * and APPEND the re-serialized footer + length + PAR1 to the file.
    * Parquet readers locate the footer from the file tail, so they see the
    * new one; the old footer bytes become dead space (~KB). Data pages are
    * untouched — offsets stay valid, no data copy. `sorting` =
    * (leaf column ordinal, descending, nullsFirst) per sort key.
    * Returns false (file untouched) where the FS cannot append (e.g. s3a) —
    * the stamp is metadata a reader may not rely on anyway. */
  def stampSortingColumns(p: HPath, sorting: Seq[(Int, Boolean, Boolean)]): Boolean =
    stampSortingColumns(p, sorting, parquetFooter(p))

  def stampSortingColumns(p: HPath, sorting: Seq[(Int, Boolean, Boolean)],
      meta: org.apache.parquet.hadoop.metadata.ParquetMetadata): Boolean = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.format.{SortingColumn => TSortingColumn, Util}
    val fmd = new org.apache.parquet.format.converter.ParquetMetadataConverter()
      .toParquetMetadata(1, meta)
    val cols = sorting.map { case (i, desc, nullsFirst) =>
      new TSortingColumn(i, desc, nullsFirst) }.asJava
    fmd.getRow_groups.asScala.foreach(_.setSorting_columns(cols))
    val body = new java.io.ByteArrayOutputStream()
    Util.writeFileMetaData(fmd, body)
    val tail = java.nio.ByteBuffer.allocate(body.size() + 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put(body.toByteArray).putInt(body.size())
      .put("PAR1".getBytes("US-ASCII")).array()
    appendBytes(p, tail)
  }

  /** Append raw bytes. Local FS goes through the raw (non-checksum) layer —
    * ChecksumFileSystem cannot append — and drops the now-stale .crc
    * sidecar so verified reads keep working. A failed partial append is
    * rolled back by truncating to the original length. */
  private def appendBytes(p: HPath, bytes: Array[Byte]): Boolean = {
    val (afs, checksum) = fs match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => (c.getRawFileSystem, Some(c))
      case f => (f, None)
    }
    val origLen = afs.getFileStatus(p).getLen
    try {
      val out = afs.append(p)
      try out.write(bytes) finally out.close()
      checksum.foreach(c => afs.delete(c.getChecksumFile(p), false))
      true
    } catch {
      case _: UnsupportedOperationException => false
      case e: java.io.IOException =>
        try afs.truncate(p, origLen) catch { case _: Throwable => () }
        if (e.getMessage != null && e.getMessage.toLowerCase.contains("not supported"))
          false
        else throw e
    }
  }
}

object StoreFs {
  def apply(rootUri: String, conf: Configuration = new Configuration()): StoreFs =
    new StoreFs(rootUri, conf)
}
