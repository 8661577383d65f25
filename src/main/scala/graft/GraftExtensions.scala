package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.FloatDotProduct

/** Engine extensions registered through the standard
  * `SparkSessionExtensions` mechanism, so SQL users get the native
  * functions too:
  * {{{
  *   SparkSession.builder().withExtensions(new GraftExtensions)...
  *   spark.sql("SELECT float_dot(a.embedding, b.embedding) FROM ...")
  * }}}
  * (GraftSession wires this in automatically.) */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("float_dot"),
      new ExpressionInfo(classOf[FloatDotProduct].getName, "float_dot"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2, "float_dot takes exactly 2 arguments")
        FloatDotProduct(children(0), children(1))
      }))
    // Physical planning for the native sorted-run merge operator (the
    // reference MergeExec analog, graft.plans.MergeDedup).
    e.injectPlannerStrategy(_ => graft.plans.MergeDedupStrategy)
    // A driver-local broadcast side is built on the driver, with no job.
    e.injectQueryStagePrepRule(_ => org.apache.spark.sql.DriverLocalBroadcast)
  }
}
