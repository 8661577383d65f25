package graft.metric

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.storage._

/** The refresh core every downsampled rollup shares ([[Rollup]] over the
  * data table, [[HistogramRollup]] over the native-histograms table): a
  * time-merge store next to its `source` table at
  * `<source root>_<kind>_<grid>`, one row per (metric_id, tsid, grid
  * bucket), with the subclass deciding only what a row holds
  * ([[roll]]).
  *
  * REFRESH POLICY. [[refresh]] is INCREMENTAL per segment, driven by the
  * source manifest: a segment is (re)rolled only when it contains an SST
  * id above the last refresh's watermark (SST ids are the write
  * sequence). Re-rolled buckets overwrite their previous rows through the
  * store's last-write-wins pk merge, so late-arriving data repairs its
  * bucket on the next refresh — the same merge-on-read policy as the raw
  * table. The watermark persists as `rollup_watermark` in the store root,
  * so refresh cost after restart stays proportional to NEW data, not
  * history.
  *
  * BACKFILL SHAPE: all dirty segments roll and write in ONE Spark job.
  * Contiguous dirty segments scan as one range (a backfill is one run →
  * at most one merge exchange, not one per segment; merge-on-read dedup
  * keys on (metric_id, tsid, ts), so a multi-segment scan collapses
  * exactly the duplicates per-segment scans would), the runs union into
  * a single roll (no shuffle when the dirty range fits one partition,
  * `TimeMergeStorage.mergeInput`; one shuffle on uniform series keys
  * above it), and [[TimeMergeStorage.writeSegmented]] emits one sorted
  * SST per segment. A cold rollup over a year of 12 h segments is one
  * job, not ~730; steady state (one dirty segment per tick) takes the
  * same path with a one-branch union.
  *
  * FRESHNESS: [[isFresh]] holds while the watermark covers every SST in
  * the source manifest. The engine routes a query to a rollup only then,
  * so a rollup that lags ingest degrades to raw-table scans, never to
  * stale answers.
  *
  * TTL note: expiring source SSTs removes files without minting new ids,
  * so expired segments never re-roll and their rollup rows OUTLIVE the
  * raw data — deliberately the Thanos/M3 downsampled-retention shape. A
  * deployment wanting strict rollup≡raw after expiry configures the same
  * `ttl` on the rollup store's compactor. */
private[metric] abstract class RollupStore(source: TimeMergeStorage,
    kind: String, val gridMs: Long, schema: StructType) {
  import Rollup.RefreshStats

  require(gridMs > 0, s"gridMs must be positive, got $gridMs")
  require(source.segmentMs % gridMs == 0,
    s"gridMs ($gridMs) must divide the source segment size " +
      s"(${source.segmentMs}) so buckets never straddle segments")

  /** The rollup's own time-merge store, next to its source table. */
  val store = new TimeMergeStorage(source.spark,
    s"${source.root}_${kind}_$gridMs",
    StorageSchema(schema, numPrimaryKeys = 3), source.segmentMs,
    timestampColumn = Some("ts"))

  private val watermarkPath =
    new org.apache.hadoop.fs.Path(s"${store.root}/rollup_watermark")
  private def hfs =
    watermarkPath.getFileSystem(store.spark.sparkContext.hadoopConfiguration)

  private def readWatermark(): Long = {
    val fs = hfs
    if (!fs.exists(watermarkPath)) Long.MinValue
    else {
      val in = fs.open(watermarkPath)
      try new String(in.readAllBytes(), "UTF-8").trim.toLong
      finally in.close()
    }
  }

  private def writeWatermark(v: Long): Unit = {
    val fs = hfs
    val tmp = new org.apache.hadoop.fs.Path(s"${store.root}/.rollup_watermark.tmp")
    val out = fs.create(tmp, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    if (fs.exists(watermarkPath)) fs.delete(watermarkPath, false)
    if (!fs.rename(tmp, watermarkPath))
      throw new java.io.IOException(s"failed to commit $watermarkPath")
  }

  /** In-memory mirror of the persisted watermark (read once here, then
    * updated by [[refresh]]) for the engine's per-query freshness gate. */
  @volatile private var cachedWatermark: Long = readWatermark()

  def isFresh: Boolean = source.manifest.maxSstId <= cachedWatermark

  /** The dirty source rows, each carrying its grid bucket start as
    * `__bucket__`, rolled to rows of the store's schema. */
  protected def roll(bucketed: DataFrame): DataFrame

  /** Roll every segment holding source SSTs newer than the persisted
    * watermark (re-read on every call); untouched segments cost nothing.
    * Returns how many segments were (re)rolled and the new watermark. */
  def refresh(): RefreshStats = {
    val watermark = readWatermark()
    val ssts = source.manifest.allSsts()
    if (ssts.isEmpty) return RefreshStats(0, watermark)
    val segMs = source.segmentMs
    // SST ranges may span a whole segment, so bucket by range start
    // (writes never cross segments — the store enforces it)
    val dirty = ssts.filter(_.id > watermark)
      .map(f => TimeRange.truncate(f.timeRange.start, segMs)).distinct.sorted
    if (dirty.nonEmpty) {
      val runs = dirty.foldLeft(List.empty[(Long, Long)]) {
        case ((s, e) :: rest, seg) if seg == e => (s, seg + segMs) :: rest
        case (acc, seg) => (seg, seg + segMs) :: acc
      }.reverse
      val scans = runs.map { case (s, e) =>
        source.scan(ScanRequest(range = TimeRange(s, e)))
      }
      store.writeSegmented(roll(scans.reduce(_.unionByName(_))
        .withColumn("__bucket__",
          floor(col("ts") / lit(gridMs)).cast("long") * gridMs)))
    }
    val newWatermark = ssts.map(_.id).max
    if (dirty.nonEmpty || watermark == Long.MinValue) {
      writeWatermark(newWatermark)
      cachedWatermark = newWatermark
    }
    RefreshStats(dirty.size, newWatermark)
  }
}

private[metric] object RollupStore {
  /** Whether both bounds of `range` are unbounded (±∞) or finite, within
    * |v| ≤ Long.MaxValue/2 (keeping the grid-alignment arithmetic far from
    * overflow; real timestamps are nowhere near) and on the `alignMs` grid
    * — the one bound guard of every rollup route. `alignMs = 1` accepts
    * any finite bound in that span. */
  def boundsOk(range: TimeRange, alignMs: Long): Boolean =
    Seq(range.start, range.end).forall(v =>
      v == Long.MinValue || v == Long.MaxValue ||
        (math.abs(v) <= Long.MaxValue / 2 && math.floorMod(v, alignMs) == 0))
}

/** Driver-side refresher: a periodic tick calling [[RollupStore.refresh]]
  * on each registered rollup — the downsampling analog of
  * [[graft.storage.CompactionScheduler]]. Single timer thread, so
  * refreshes never run concurrently with themselves; between ticks the
  * freshness gate ([[RollupStore]]) routes queries to raw, so a lagging
  * tick costs performance, never correctness (`tools/MetricSoak rollup`
  * exercises the loop live against concurrent ingest).
  *
  * Each tick also runs ONE compaction pass per rollup store: every
  * re-roll writes a fresh SST over its segment's key range, so a
  * long-running refresher accumulates heavily-overlapping small files
  * exactly the shape the Picker targets. Grace-deferred deletes (60 s
  * default, same rationale as the serving frontend's) keep in-flight
  * routed queries safe from the file swap. */
final class RollupScheduler(rollups: Seq[RollupStore], intervalMs: Long = 10000L,
    compaction: CompactionConfig = CompactionConfig(deleteGraceMs = 60000L)) {
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[RollupScheduler])
  private val timer = new java.util.Timer("graft-rollup-scheduler", true)
  private val compactors = rollups.map(r => new Compactor(r.store, compaction))

  // Failure visibility (the RuleEngine health pattern, Rules.scala): a
  // persistently failing refresh pins `isFresh` false and silently
  // degrades every routed query to raw scans — correct but slow, so the
  // operator needs a counter on /metrics and the last error on
  // /api/v1/status/tsdb, not a swallowed exception.
  private val refreshFails = new java.util.concurrent.atomic.LongAdder
  private val compactFails = new java.util.concurrent.atomic.LongAdder
  @volatile private var lastRefreshErr: Option[String] = None
  @volatile private var lastCompactErr: Option[String] = None
  def refreshFailuresTotal: Long = refreshFails.sum()
  def compactionFailuresTotal: Long = compactFails.sum()
  def lastRefreshError: Option[String] = lastRefreshErr
  def lastCompactionError: Option[String] = lastCompactErr

  /** One scheduler pass over every rollup (refresh, then one compaction
    * round). Public so tests and manual callers can tick synchronously;
    * the timer calls exactly this. NonFatal failures are logged + counted,
    * never thrown (a thrown TimerTask cancels the whole Timer); fatal VM
    * errors propagate. A fully healthy pass clears the last-error strings
    * so status reflects current, not historical, health. */
  def runOnce(): Unit = {
    var refreshOk, compactOk = true
    rollups.foreach { r =>
      try { r.refresh(); () } catch {
        case scala.util.control.NonFatal(e) =>
          refreshOk = false
          refreshFails.increment()
          lastRefreshErr = Some(s"${e.getClass.getName}: ${e.getMessage}")
          log.warn(s"rollup refresh failed (${r.store.root})", e)
      }
    }
    compactors.foreach { c =>
      try { c.runOnce(); () } catch {
        case scala.util.control.NonFatal(e) =>
          compactOk = false
          compactFails.increment()
          lastCompactErr = Some(s"${e.getClass.getName}: ${e.getMessage}")
          log.warn("rollup-store compaction failed", e)
      }
    }
    if (refreshOk) lastRefreshErr = None
    if (compactOk) lastCompactErr = None
  }

  def start(): Unit = timer.scheduleAtFixedRate(new java.util.TimerTask {
    def run(): Unit = runOnce()
  }, intervalMs, intervalMs)
  def stop(): Unit = {
    timer.cancel()
    // sweep grace-parked deletes on clean shutdown (nothing references
    // the swapped-out files; a restart would otherwise leak them)
    compactors.foreach(_.flushDeferred())
  }
}
