package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, UnsafeProjection}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{LeafExecNode, LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec

/** Query-stage prep rule (after `EnsureRequirements`, so every
  * `BroadcastExchangeExec` is already placed): a driver-local frame on the
  * build side of a broadcast join is handed to the exchange as it is,
  * instead of through a Spark job. `BroadcastExchangeExec` collects its
  * child with `executeCollectIterator`, which `LocalTableScanExec` does not
  * override, so without this rule a local frame — the engine's
  * series-catalog TSID and label frames — costs one job per broadcast.
  * The join and the exchange are unchanged; only the exchange's child is
  * swapped. */
object DriverLocalBroadcast extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case b @ BroadcastExchangeExec(_, scan: LocalTableScanExec) =>
      val local = LocalBroadcastSourceExec(scan.output, scan.rows)
      // AQE takes a new stage's logical link from the exchange's subtree
      local.copyTagsFrom(scan)
      b.withNewChildren(Seq(local))
  }
}

/** A `LocalTableScanExec` as a broadcast's child: the same output and rows,
  * canonicalized the same way (expression ids normalized, rows compared),
  * so exchange reuse joins two broadcasts only when their rows are equal. */
case class LocalBroadcastSourceExec(output: Seq[Attribute],
    @transient rows: Seq[InternalRow]) extends LeafExecNode {

  // HashedRelation reads its input as UnsafeRows
  @transient private lazy val unsafeRows: Array[InternalRow] = {
    val toUnsafe = UnsafeProjection.create(output, output)
    rows.iterator.map(toUnsafe(_).copy()).toArray
  }

  override private[spark] def executeCollectIterator(): (Long, Iterator[InternalRow]) =
    (unsafeRows.length.toLong, unsafeRows.iterator)

  override protected def doExecute(): RDD[InternalRow] =
    LocalTableScanExec(output, rows, None).execute()

  // as LocalTableScanExec: plan strings (explain, every SQL execution
  // event) name the columns, never the rows
  override protected def stringArgs: Iterator[Any] =
    if (rows.isEmpty) Iterator("<empty>", output) else Iterator(output)
}
