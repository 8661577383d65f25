package graft.storage

import org.apache.hadoop.fs.{Path => HPath}

/** Compaction tuning knobs, defaults matching the reference
  * (columnar_storage/src/config.rs:38-50). */
final case class CompactionConfig(
    inputSstMinNum: Int = 5,
    inputSstMaxNum: Int = 30,
    newSstMaxSize: Long = 1L << 30,     // 1 GB output cap
    sizeHeadroom: Double = 1.1,         // picker.rs:170-171
    ttlMs: Option[Long] = None,
    memoryLimit: Long = 2L << 30,       // admission gate (executor.rs:93-114)
    maxPendingTasks: Int = 10,          // bounded in-flight (scheduler.rs:62, config.rs:42)
    /** Grace period before compaction's PHYSICAL deletes (manifest removal
      * is always immediate). 0 = delete right after the manifest commit
      * (the reference's behavior, executor.rs:218-221) — correct for batch
      * jobs, but a LIVE reader that planned its file list before the
      * commit then reads a deleted file (FAILED_READ_FILE mid-query, the
      * classic read-while-compact race; surfaced by HttpSoak's read lane).
      * A serving deployment sets this above its query-latency ceiling —
      * the Delta/Iceberg VACUUM-retention idea: queries shorter than the
      * grace never observe a missing file. Deferred paths are swept by
      * later compaction passes once due; restart drops the in-memory
      * queue, leaving already-unreferenced files on disk (bounded by one
      * grace window's churn — sweep with [[Compactor.flushDeferred]] on
      * clean shutdown, or any external orphan GC). */
    deleteGraceMs: Long = 0L)

final case class CompactionTask(inputs: Seq[SstFile], expired: Seq[SstFile]) {
  def estimatedMemory: Long = inputs.map(_.sizeBytes).sum
}

/** Port of the reference's TimeWindowCompactionStrategy picker
  * (columnar_storage/src/picker.rs:62-189): group non-compacting files by
  * segment, newest segment first; candidates sorted size-ascending ("prefer
  * to compact smaller files first", picker.rs:165-167); take at most
  * `inputSstMaxNum` while the running size stays within
  * `sizeHeadroom * newSstMaxSize`; require at least `inputSstMinNum`; also
  * collect TTL-expired files for wholesale deletion (sst.rs:109-114). */
final class Picker(cfg: CompactionConfig, segmentMs: Long,
    updateMode: UpdateMode = UpdateMode.Overwrite) {

  def pick(files: Seq[SstFile], nowMs: Long): Option[CompactionTask] = {
    val (expiredAll, live) = files.partition(_.isExpired(nowMs, cfg.ttlMs))
    // Expired files already claimed by an in-flight task are skipped too —
    // two concurrent tasks must never race on the same physical deletes.
    val expired = expiredAll.filterNot(_.compacting)
    val candidates = live.filterNot(_.compacting)
    // OVERWRITE mode groups by (segment, bucket): a pk always hashes to
    // the same bucket (writeBucketed), max_by(seq) merging is correct on
    // ANY file subset, and one task's input stays bounded by a bucket,
    // not a whole segment — what keeps compaction admissible under the
    // memory gate at 100 TB. Unbucketed files (bucket = -1) form their
    // own per-segment group, the reference's original shape
    // (picker.rs:62-189).
    //
    // APPEND mode must NOT split by bucket: its correctness invariant is
    // "inputs are a seq-contiguous oldest-first prefix of the segment",
    // and a segment mixing write() (bucket -1) and writeBucketed() files
    // interleaves a pk's versions across the two groups — compacting one
    // group's prefix would collapse versions around a skipped
    // middle file and permanently reorder the concatenation. Per-file ids
    // are allocated monotonically by the single writer, so the id-sorted
    // whole-segment prefix preserves every pk's version order even when
    // the prefix boundary splits a bucketed batch (each pk lives in
    // exactly one file per batch).
    // Append groups keep CLAIMED (compacting) files visible: the prefix
    // walk below must stop at one, or a concurrent task's claim becomes an
    // invisible hole the next pick silently skips over.
    val bySegment = (if (updateMode == UpdateMode.Append) live else candidates)
      .groupBy(f =>
        (TimeRange.truncate(f.timeRange.start, segmentMs),
          if (updateMode == UpdateMode.Overwrite) f.bucket else -1))
    val budget = (cfg.newSstMaxSize * cfg.sizeHeadroom).toLong
    val inputs = bySegment.toSeq.sortBy { case ((seg, b), _) => (-seg, b) }
      .iterator.map { case (_, segFiles) =>
      updateMode match {
        case UpdateMode.Overwrite =>
          // size-ascending greedy (reference heuristic, picker.rs:165-180);
          // gaps in the seq range are safe: each merged row keeps its
          // winning row's __seq__, so later merges still order correctly.
          val sorted = segFiles.sortBy(_.sizeBytes)
          val picked = Seq.newBuilder[SstFile]
          var total = 0L
          var n = 0
          sorted.foreach { f =>
            if (n < cfg.inputSstMaxNum && total + f.sizeBytes <= budget) {
              picked += f; total += f.sizeBytes; n += 1
            }
          }
          picked.result()
        case UpdateMode.Append =>
          // Append concat collapses a group to min(__seq__): inputs MUST be a
          // seq-contiguous oldest-first prefix of the segment, else a skipped
          // middle file would later concatenate out of order. Two subtleties
          // make this more than `sortBy(_.id)`:
          //  - CONTENT order, not id order: a compaction output keeps its
          //    inputs' oldest seq (contentSeqFloor) under a NEW larger id.
          //    With [1,2,6,7, out(3..5)] sorted by id, the prefix [1,2,6,7]
          //    would collapse seqs {1,2,6,7} AROUND the 3-5 held in the
          //    output — permanent on-disk reordering. Sorting by
          //    contentSeqFloor keeps the walk in content order.
          //  - CLAIMED files are holes, not invisible: a concurrent task's
          //    marked-compacting file (or a failed task's leftover claim)
          //    must STOP the walk — everything past it is not a prefix.
          val sorted = segFiles.sortBy(f => (f.contentSeqFloor, f.id))
          val picked = Seq.newBuilder[SstFile]
          var total = 0L
          var n = 0
          var stop = false
          sorted.foreach { f =>
            if (!stop && !f.compacting &&
                n < cfg.inputSstMaxNum && total + f.sizeBytes <= budget) {
              picked += f; total += f.sizeBytes; n += 1
            } else stop = true
          }
          picked.result()
      }
    }.find(_.size >= cfg.inputSstMinNum).getOrElse(Nil)

    if (inputs.isEmpty && expired.isEmpty) None
    else Some(CompactionTask(inputs, expired))
  }
}

/** Compaction executor: re-runs the scan plan with keepBuiltins=true over the
  * input SSTs, writes one merged SST, then commits manifest (add new, delete
  * inputs+expired) BEFORE physical deletes — after the manifest update no
  * error may surface (reference executor.rs:155-253, commit-order comment at
  * executor.rs:218-219). */
final class Compactor(val storage: TimeMergeStorage, cfg: CompactionConfig) {
  import org.apache.spark.sql.functions._

  private val picker = new Picker(cfg, storage.segmentMs, storage.schema.updateMode)
  // Admission state (inUse + pick + claim) mutates only under this lock so
  // concurrent runOnce callers can neither over-admit past the memory limit
  // nor pick the same inputs (executor.rs:93-114 holds its runtime lock
  // across admission for the same reason). execute() itself runs unlocked.
  private val admission = new Object
  private var inUse = 0L
  // Bounded in-flight tasks, the analog of the reference's fixed-capacity
  // task channel (scheduler.rs:62, max_pending_compaction_tasks = 10,
  // config.rs:42): concurrent runOnce callers beyond the bound are rejected
  // instead of piling up unbounded concurrent Spark jobs.
  private val pending = new java.util.concurrent.Semaphore(cfg.maxPendingTasks)

  // Physical deletes deferred by deleteGraceMs: (path, dueAtMs), enqueued
  // in due order (monotonic clock), drained from the head by later passes.
  private val deferred =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()

  /** Deferred paths not yet physically deleted (observability/tests). */
  def pendingDeferredDeletes: Int = deferred.size()

  /** Delete every deferred path NOW, due or not — clean-shutdown hook
    * (nothing references these files; only the grace window held them). */
  def flushDeferred(): Unit = {
    var e = deferred.poll()
    while (e != null) { storage.storeFs.deleteQuietly(e._1); e = deferred.poll() }
  }

  private def sweepDeferred(nowMs: Long): Unit = {
    var head = deferred.peek()
    while (head != null && head._2 <= nowMs) {
      // single-consumer-enough: a racing sweep deleting the same path is
      // harmless (deleteQuietly), and poll() never yields one entry twice
      val e = deferred.poll()
      if (e != null) storage.storeFs.deleteQuietly(e._1)
      head = deferred.peek()
    }
  }

  def runOnce(nowMs: Long = System.currentTimeMillis()): Boolean = {
    if (!pending.tryAcquire()) return false
    sweepDeferred(nowMs)
    try {
      val admitted: Option[CompactionTask] = admission.synchronized {
        picker.pick(storage.manifest.allSsts(), nowMs) match {
          case None => None
          case Some(task) =>
            // memory admission gate (executor.rs:93-114)
            if (inUse + task.estimatedMemory > cfg.memoryLimit) None
            else {
              inUse += task.estimatedMemory
              // Claim inputs AND expired before releasing the lock: the
              // compacting flag is what stops a concurrent pick from
              // selecting the same files.
              storage.manifest.markCompacting(
                (task.inputs ++ task.expired).map(_.id), flag = true)
              Some(task)
            }
        }
      }
      admitted match {
        case None => false
        case Some(task) =>
          try execute(task)
          finally admission.synchronized { inUse -= task.estimatedMemory }
          true
      }
    } finally pending.release()
  }

  private def execute(task: CompactionTask): Unit = {
    val m = storage.manifest
    try {
      val newSsts: Seq[SstFile] =
        if (task.inputs.nonEmpty) {
          val range = task.inputs.map(_.timeRange).reduce(_ merge _)
          val id = storage.allocId()
          // Same native MergeDedupExec the scan path plans, over the same
          // single-partition-when-small input (read-path and compaction-path
          // merges share ONE code path — a compacted Append table
          // concatenates identically to a merge-on-read scan).
          val merged = graft.plans.MergeDedupOps.nativeDedupMerge(
            storage.mergeInput(storage.spark.read.schema(storage.schema.fullSchema)
              .parquet(task.inputs.map(_.path): _*), task.inputs),
            storage.schema.primaryKeys,
            storage.schema.updateMode,
            globalSort = false)
            .withColumn(StorageSchema.ReservedCol, lit(null).cast("long"))
            .select(storage.schema.fullSchema.fieldNames.map(col(_)).toIndexedSeq: _*)
          val sfs = storage.storeFs
          val tmp = sfs.path("data", s"tmp-$id")
          // Sort AFTER coalesce(1): sorting below the coalesce would only
          // order each pre-coalesce partition, and their concatenation is
          // not globally pk-sorted — the single output file must be.
          // The table's WriteOptions (codec, dictionary, bloom filters,
          // row-group size) apply here exactly as on the ingest path —
          // compaction eventually rewrites most data, so skipping them
          // would silently strip the configured physical layout.
          storage.writeOptions(merged.coalesce(1)
            .sortWithinPartitions(storage.schema.primaryKeys.map(col(_).asc_nulls_first): _*)
            .write).mode("overwrite").parquet(tmp.toString)
          val part = sfs.list(tmp).find(p =>
            p.getName.endsWith(".parquet") && !p.getName.startsWith(".")).get
          val dest = sfs.path("data", s"$id.parquet")
          sfs.rename(part, dest)
          // one footer parse: rows + stats + sorting stamp
          val footer = sfs.parquetFooter(dest)
          val rows = sfs.parquetRowCount(footer)
          sfs.stampSortingColumns(dest,
            storage.schema.primaryKeys.indices.map(i => (i, false, true)), footer)
          sfs.delete(tmp, recursive = true)
          // all inputs share one bucket by construction (the picker groups
          // by it); the merged SST stays in that bucket
          val bucket = task.inputs.map(_.bucket).distinct match {
            case Seq(b) => b
            case _ => -1
          }
          Seq(SstFile(id, dest.toString, rows, sfs.size(dest), range,
            stats = sfs.parquetColumnStats(footer,
              (storage.schema.primaryKeys ++ storage.timestampColumn).distinct),
            bucket = bucket,
            // the output's rows keep the inputs' seqs — record the oldest
            // so the Append picker's content-order walk stays correct
            // (ids alone would place this file AFTER newer raw writes)
            seqFloor = task.inputs.map(_.contentSeqFloor).min))
        } else Nil

      val deletes = task.inputs ++ task.expired
      m.update(newSsts, deletes.map(_.id)) // commit FIRST (executor.rs:204-217)
      // From here on, best-effort physical deletes (executor.rs:218-221) —
      // immediate, or parked for the grace window so in-flight readers
      // that planned against the pre-commit manifest finish cleanly.
      if (cfg.deleteGraceMs <= 0L)
        deletes.foreach(f => storage.storeFs.deleteQuietly(f.path))
      else {
        val due = System.currentTimeMillis() + cfg.deleteGraceMs
        deletes.foreach(f => deferred.add((f.path, due)))
      }
    } finally m.markCompacting((task.inputs ++ task.expired).map(_.id), flag = false)
  }
}

/** Driver-side scheduler: periodic tick kicking the compactor, the analog of
  * the reference's picker loop (scheduler.rs:40-160; 10 s default tick,
  * config.rs:41). */
final class CompactionScheduler(compactor: Compactor, intervalMs: Long = 10000L) {
  private val log =
    org.slf4j.LoggerFactory.getLogger(classOf[CompactionScheduler])
  private val timer = new java.util.Timer("graft-compaction", true)
  private val fails = new java.util.concurrent.atomic.LongAdder
  @volatile private var lastErr: Option[String] = None
  def failuresTotal: Long = fails.sum()
  def lastError: Option[String] = lastErr

  /** One compaction tick; exactly what the timer runs. NonFatal failures
    * are logged + counted (a throwing TimerTask would cancel the Timer and
    * silently stop ALL future compaction); a healthy tick clears the
    * last-error string. Fatal VM errors propagate. */
  def runOnce(): Unit =
    try { compactor.runOnce(); lastErr = None } catch {
      case scala.util.control.NonFatal(e) =>
        fails.increment()
        lastErr = Some(s"${e.getClass.getName}: ${e.getMessage}")
        log.warn("compaction tick failed", e)
    }

  def start(): Unit = timer.scheduleAtFixedRate(new java.util.TimerTask {
    def run(): Unit = runOnce()
  }, intervalMs, intervalMs)
  def stop(): Unit = timer.cancel()
}
