package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, Expression, GenericInternalRow, NullsFirst, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, OrderedDistribution, Partitioning}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.{ArrayType, BinaryType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.storage.UpdateMode

/** Logical merge-on-read dedup over pk-sorted runs — the Spark re-expression
  * of the reference's one custom physical operator, MergeExec
  * (reference columnar_storage/src/read.rs:95-391): consume a stream sorted
  * by `(pk_1..pk_N, __seq__)`, split it into runs of equal pk, and reduce
  * each run with the table's merge operator (LastValue / BytesMerge,
  * operator.rs:36-111).
  *
  * Where the reference demands `Distribution::SinglePartition`
  * (read.rs:154-156) — correct single-node, a bottleneck at 100 TB — this
  * node declares what it actually needs and lets `EnsureRequirements` plan
  * the cluster shape. A storage scan small enough for one partition hands
  * it a `coalesce(1)` input (`TimeMergeStorage.mergeInput`); its
  * `SinglePartition` satisfies both requirements below, so the merge plans
  * only a local sort — the reference's shape. A larger input gets:
  *
  *  - `globalSort=false`: `ClusteredDistribution(pks)` + per-partition
  *    ordering. One hash exchange; every partition merges its own key space.
  *  - `globalSort=true`: `OrderedDistribution(pks, __seq__)`. One *range*
  *    exchange; the output is globally pk-sorted, so a downstream
  *    `sort(pks)` (the reference's "sorted by time, old → latest" scan
  *    contract, storage.rs:82-84) is satisfied with zero extra work. This
  *    halves the shuffle count of `sortedScan` vs hash-agg-then-sort
  *    (agg exchange + range exchange → one range exchange). Caveat: for
  *    FLOAT/DOUBLE pks the advertised ordering is over the NORMALIZED
  *    expressions (-0.0/NaN canonicalization), which a downstream
  *    `sort(rawPk)` does not semantically match — EnsureRequirements then
  *    re-adds a range exchange. Integer/string/binary pks (every schema
  *    the reference exercises) keep the single-exchange plan; a
  *    float-pk table pays one extra exchange, never a wrong answer.
  *
  * Output rows stay sorted by pk; `outputOrdering` advertises it so Catalyst
  * removes downstream sorts.
  */
final case class MergeDedup(
    pkNames: Seq[String],
    seqName: String,
    mode: UpdateMode,
    globalSort: Boolean,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  // Keys/values live here as names, not Expressions, so the default
  // (expression-derived) references is empty — which invites ColumnPruning
  // to strip columns the merge actually consumes (every column participates:
  // pks group, __seq__ orders, values merge). Declare them all.
  override def references: AttributeSet = AttributeSet(child.output)
  // Append-mode merge REWRITES concat-typed value columns (a pk's chunks
  // concatenate), so a child constraint like v = 'a' is false on the
  // output (v may now be 'aa') — inheriting it would let PruneFilters
  // drop a post-merge filter or InferFiltersFromConstraints plant a wrong
  // join filter. Keep only constraints that never reference a rewritten
  // column. Overwrite is safe: every output row IS one input row.
  override protected lazy val validConstraints:
      org.apache.spark.sql.catalyst.expressions.ExpressionSet = {
    if (mode != UpdateMode.Append) child.constraints
    else {
      val rewritten = AttributeSet(child.output.filter(a =>
        !pkNames.contains(a.name) && a.name != seqName &&
          (a.dataType match {
            case _: org.apache.spark.sql.types.StringType => true
            case org.apache.spark.sql.types.BinaryType => true
            case _: org.apache.spark.sql.types.ArrayType => true
            case _ => false
          })))
      child.constraints.filter(_.references.intersect(rewritten).isEmpty)
    }
  }
  override protected def withNewChildInternal(newChild: LogicalPlan): MergeDedup =
    copy(child = newChild)
}

/** Plans [[MergeDedup]] → [[MergeDedupExec]]; injected via
  * `SparkSessionExtensions.injectPlannerStrategy` (GraftExtensions). */
object MergeDedupStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case MergeDedup(pks, seqName, mode, globalSort, child) =>
      MergeDedupExec(pks, seqName, mode, globalSort, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Physical sorted-run dedup. Requires child rows clustered (or range-
  * partitioned) and sorted by `(pks, __seq__, values)`; a single-partition
  * child satisfies the distribution as it is, so only the sort is planned.
  * Does one linear pass per partition: O(rows), no hash table, no
  * per-group state beyond the run accumulator. The `values` tail of the
  * required ordering makes the Overwrite winner deterministic when a
  * single write batch carries duplicate pks (same `__seq__`) — identical
  * to `MergeOps.dedupMerge`'s `max_by(packed, struct(seq, values))`
  * tiebreak.
  */
final case class MergeDedupExec(
    pkNames: Seq[String],
    seqName: String,
    mode: UpdateMode,
    globalSort: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  private def attr(name: String): Attribute =
    child.output.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"MergeDedup: column $name not in ${child.output.map(_.name)}"))

  private def pkAttrs: Seq[Attribute] = pkNames.map(attr)
  private def seqAttr: Attribute = attr(seqName)
  private def valueAttrs: Seq[Attribute] =
    child.output.filterNot(a => pkNames.contains(a.name) || a.name == seqName)

  /** Float/double pks normalize -0.0 → 0.0 and non-canonical NaN bit
    * patterns (legal in parquet data) to the canonical NaN BEFORE grouping:
    * run boundaries are detected by UnsafeRow byte equality, and the range/
    * hash partitioning must agree with that equality, or a float pk of -0.0
    * vs 0.0 would split one logical group across runs (or partitions) and
    * emit duplicate "merged" rows. Delegates to Catalyst's
    * NormalizeFloatingNumbers.normalize — the SAME transform its optimizer
    * rule applies to the hash-agg fallback — which also recurses into
    * struct/array pks (a float field nested in a struct pk needs the
    * identical treatment; matching only top-level Float/DoubleType would
    * let struct(-0.0) and struct(0.0) split one logical group). */
  private def normalized(a: Attribute): Expression =
    org.apache.spark.sql.GraftShims.normalizeFloats(a)

  private def normalizedPks: Seq[Expression] = pkAttrs.map(normalized)

  /** (pks, seq, orderable values) ascending nulls-first — run grouping +
    * in-run order. Pks enter normalized so the sort co-locates
    * -0.0/0.0/NaN-variant keys exactly as the run-splitting byte compare
    * will group them. Non-orderable value columns (maps) are excluded from
    * the tiebreak — Spark cannot sort them; same-seq winners then tie-break
    * on the orderable columns only, identically to MergeOps.dedupMerge. */
  private def fullOrdering: Seq[SortOrder] =
    (normalizedPks ++ (seqAttr +: valueAttrs.filter(a =>
      org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(a.dataType))))
      .map(e => SortOrder(e, Ascending, NullsFirst, Seq.empty))

  /** The DISTRIBUTION must range-partition on the pk prefix ONLY: ranging
    * over (pks, __seq__, ...) would let a partition boundary fall between
    * two versions of the same pk, and each side would emit its own "merged"
    * row — duplicate/stale output. Equal pk tuples always land in one range
    * partition; the full in-run order is enforced separately by
    * [[requiredChildOrdering]]. */
  override def requiredChildDistribution: Seq[Distribution] =
    if (globalSort) OrderedDistribution(fullOrdering.take(pkNames.length)) :: Nil
    else ClusteredDistribution(normalizedPks) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(fullOrdering)

  override def outputPartitioning: Partitioning = child.outputPartitioning

  /** Runs collapse to their last/first row, so pk order survives. */
  override def outputOrdering: Seq[SortOrder] =
    pkAttrs.map(a => SortOrder(a, Ascending, NullsFirst, Seq.empty))

  override protected def withNewChildInternal(newChild: SparkPlan): MergeDedupExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val out = child.output
    val schema = out.map(_.dataType)
    val isOverwrite = mode == UpdateMode.Overwrite
    // Indices of concat-merged value columns, precomputed once per partition
    // (not per row): only Binary/String/Array participate in Append concat.
    val concatIdx = out.zipWithIndex.collect {
      case (a, i) if !pkNames.contains(a.name) && a.name != seqName &&
        (a.dataType.isInstanceOf[ArrayType] || a.dataType == BinaryType || a.dataType == StringType) => i
    }.toArray
    val concatSet = concatIdx.toSet
    val keyExprs = normalizedPks
    child.execute().mapPartitions ({ iter =>
      val keyProj = UnsafeProjection.create(keyExprs, out)
      val toUnsafe = UnsafeProjection.create(out, out)
      new Iterator[InternalRow] {
        private var prevKey: InternalRow = _
        // Overwrite: the held (copied) last row of the current run.
        private var held: InternalRow = _
        // Append: per-column accumulators for the current run.
        private var acc: Array[Any] = _
        // First row of the not-yet-consumed run. Valid only until the next
        // iter.next() call, so startRun copies everything it keeps.
        private var lookahead: InternalRow = if (iter.hasNext) iter.next() else null

        private def startRun(row: InternalRow): Unit = {
          prevKey = keyProj(row).copy()
          if (isOverwrite) held = row.copy()
          else {
            acc = new Array[Any](out.length)
            var i = 0
            while (i < out.length) {
              // only concat-merged columns accumulate past the first row —
              // a string/binary PK (or __seq__) takes the plain copy path,
              // not a per-run ArrayBuffer + re-concat of itself
              acc(i) = if (!concatSet(i)) {
                if (row.isNullAt(i)) null
                else InternalRow.copyValue(row.get(i, schema(i)))
              } else schema(i) match {
                case BinaryType => scala.collection.mutable.ArrayBuffer(
                  if (row.isNullAt(i)) null else row.getBinary(i))
                case StringType => scala.collection.mutable.ArrayBuffer(
                  if (row.isNullAt(i)) null else row.getUTF8String(i).clone())
                case ArrayType(_, _) => scala.collection.mutable.ArrayBuffer(
                  if (row.isNullAt(i)) null else row.getArray(i).copy())
                case dt =>
                  if (row.isNullAt(i)) null
                  else InternalRow.copyValue(row.get(i, dt))
              }
              i += 1
            }
          }
        }

        private def extend(row: InternalRow): Unit =
          if (isOverwrite) held = row.copy()
          else {
            // non-concat values: first row wins (operator.rs:95-101) — only
            // the concat-typed columns accumulate past the first row.
            concatIdx.foreach { i =>
              schema(i) match {
                case BinaryType => acc(i).asInstanceOf[scala.collection.mutable.ArrayBuffer[Array[Byte]]] +=
                  (if (row.isNullAt(i)) null else row.getBinary(i))
                case StringType => acc(i).asInstanceOf[scala.collection.mutable.ArrayBuffer[UTF8String]] +=
                  (if (row.isNullAt(i)) null else row.getUTF8String(i).clone())
                case ArrayType(_, _) => acc(i).asInstanceOf[scala.collection.mutable.ArrayBuffer[ArrayData]] +=
                  (if (row.isNullAt(i)) null else row.getArray(i).copy())
                case _ => ()
              }
            }
          }

        private def emit(): InternalRow =
          if (isOverwrite) toUnsafe(held)
          else {
            val g = new GenericInternalRow(out.length)
            var i = 0
            while (i < out.length) {
              val v = if (!concatSet(i)) acc(i) else schema(i) match {
                case BinaryType =>
                  val parts = acc(i).asInstanceOf[scala.collection.mutable.ArrayBuffer[Array[Byte]]]
                    .filter(_ != null)
                  if (parts.isEmpty) null
                  else {
                    val outBytes = new Array[Byte](parts.map(_.length).sum)
                    var o = 0
                    parts.foreach { p => System.arraycopy(p, 0, outBytes, o, p.length); o += p.length }
                    outBytes
                  }
                case StringType =>
                  val parts = acc(i).asInstanceOf[scala.collection.mutable.ArrayBuffer[UTF8String]]
                    .filter(_ != null)
                  if (parts.isEmpty) null else UTF8String.concat(parts.toSeq: _*)
                case ArrayType(et, _) =>
                  val parts = acc(i).asInstanceOf[scala.collection.mutable.ArrayBuffer[ArrayData]]
                    .filter(_ != null)
                  if (parts.isEmpty) null
                  else new GenericArrayData(parts.flatMap(_.toObjectArray(et)).toArray)
                case _ => acc(i)
              }
              g.update(i, v)
              i += 1
            }
            toUnsafe(g)
          }

        override def hasNext: Boolean = lookahead != null

        /** Consume one full run (input is sorted, so runs are contiguous)
          * and reduce it. The returned row is valid until the next call —
          * the standard SparkPlan iterator contract. */
        override def next(): InternalRow = {
          startRun(lookahead)
          lookahead = null
          var runOpen = true
          while (runOpen && iter.hasNext) {
            val row = iter.next()
            if (keyProj(row) == prevKey) extend(row)
            else { lookahead = row; runOpen = false }
          }
          emit()
        }
      }
    }, preservesPartitioning = true)
  }
}

/** Column-API entry points. */
object MergeDedupOps {
  import org.apache.spark.sql.GraftShims

  /** Dedup `df` (which must carry `__seq__`) by `pks` with the table's merge
    * mode, as the native sorted-run operator. `globalSort=true` additionally
    * leaves the result globally pk-sorted (one range exchange total). */
  def nativeDedupMerge(df: DataFrame, pks: Seq[String], mode: UpdateMode,
      globalSort: Boolean = false,
      seqCol: String = graft.storage.StorageSchema.SeqCol): DataFrame = {
    // Self-register (idempotent): sessions built outside GraftSession /
    // GraftExtensions must still be able to plan the node they're handed.
    // The ACTIVE session is registered too — Structured Streaming plans
    // foreachBatch bodies under a session cloned at stream start, and the
    // clone snapshots extraStrategies from before this call: planning a
    // storage scan inside a micro-batch would otherwise die with
    // "No plan for MergeDedup" on sessions registered only lazily.
    GraftShims.addStrategy(df.sparkSession, MergeDedupStrategy)
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(GraftShims.addStrategy(_, MergeDedupStrategy))
    GraftShims.ofRows(df.sparkSession,
      MergeDedup(pks, seqCol, mode, globalSort, GraftShims.logicalPlan(df)))
  }
}
