package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge between the public Column API and Catalyst expressions. Spark 4
  * made `Column.expr` / `Column(expr)` sql-private (Connect split); custom
  * native expressions still need both, so this shim re-exports the two
  * conversions from inside the sql package — the standard pattern for
  * third-party Catalyst extensions. */
object GraftShims {
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Wrap a custom LogicalPlan node as a DataFrame (`Dataset.ofRows` is
    * sql-private in Spark 4) — needed to offer library methods that produce
    * plans containing our own Catalyst nodes. */
  def ofRows(spark: SparkSession, plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Block until every posted listener event has been delivered, so a
    * listener's counts are complete when read. */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The logical plans the session's CacheManager holds entries for. Its
    * entry list has no public accessor, so it is read reflectively. */
  def cachedPlans(spark: SparkSession): Seq[catalyst.plans.logical.LogicalPlan] = {
    val cm = spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
    val entries = classOf[execution.CacheManager].getDeclaredMethod("cachedData")
    entries.setAccessible(true)
    entries.invoke(cm).asInstanceOf[Seq[execution.CachedData]].map(_.plan)
  }

  /** Drop the CacheManager entry of `plan` and free its blocks. */
  def uncachePlan(spark: SparkSession, plan: catalyst.plans.logical.LogicalPlan): Unit =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.uncacheQuery(
      spark.asInstanceOf[classic.SparkSession], plan, cascade = false, blocking = true)

  /** Free the blocks under a `localCheckpoint()`ed frame no reader needs,
    * without `RDD.unpersist`'s warning that they cannot be recomputed. */
  def releaseCheckpoint(df: DataFrame): Unit =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.logical.collect {
      case r: execution.LogicalRDD =>
        r.rdd.sparkContext.unpersistRDD(r.rdd.id, blocking = false)
    }

  /** The analyzed logical plan of a DataFrame (attribute-resolved, so custom
    * parent nodes can bind to its output by name). */
  def logicalPlan(df: DataFrame): catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** Walk a predicate Column's node tree and extract the simple
    * `column <op> literal` conjuncts — the zone-map-prunable shape
    * ([[graft.storage.ZoneMaps]]). Returns (column, op, literal) with the
    * column normalized to the left (`5 < a` → `a > 5`); ops are one of
    * `< <= > >= =`. Anything else (disjunctions, expressions over columns,
    * functions) yields nothing — callers must treat absence as
    * "cannot prune". Lives here because the ColumnNode ADT is sql-private
    * in Spark 4. */
  def comparisonBounds(c: Column): Seq[(String, String, Any)] = {
    import org.apache.spark.sql.internal.{ColumnNode, Literal => NLit,
      UnresolvedAttribute => NAttr, UnresolvedFunction => NFn}
    def flip(op: String): String = op match {
      case "<" => ">" case "<=" => ">=" case ">" => "<" case ">=" => "<="
      case o => o
    }
    def lit(n: ColumnNode): Option[Any] = n match {
      case NLit(v: java.lang.Integer, _, _) => Some(v.longValue)
      case NLit(v: java.lang.Long, _, _) => Some(v.longValue)
      case NLit(v: java.lang.Short, _, _) => Some(v.longValue)
      case NLit(v: java.lang.Byte, _, _) => Some(v.longValue)
      case NLit(v: java.lang.Float, _, _) => Some(v.doubleValue)
      case NLit(v: java.lang.Double, _, _) => Some(v.doubleValue)
      case NLit(v: String, _, _) => Some(v)
      case NLit(v: java.lang.Boolean, _, _) => Some(v.booleanValue)
      case _ => None
    }
    def attr(n: ColumnNode): Option[String] = n match {
      case a: NAttr if a.nameParts.size == 1 => Some(a.nameParts.head)
      case _ => None
    }
    def walk(n: ColumnNode): Seq[(String, String, Any)] = n match {
      case NFn("and", Seq(l, r), _, _, _, _) => walk(l) ++ walk(r)
      case NFn(op, Seq(l, r), _, _, _, _)
          if Set("<", "<=", ">", ">=", "=", "==").contains(op) =>
        val norm = if (op == "==") "=" else op
        (attr(l), lit(r), attr(r), lit(l)) match {
          case (Some(cn), Some(v), _, _) => Seq((cn, norm, v))
          case (_, _, Some(cn), Some(v)) => Seq((cn, flip(norm), v))
          case _ => Nil
        }
      case _ => Nil
    }
    walk(c.node)
  }

  /** Re-materialize a streaming micro-batch DataFrame as a plain batch one
    * over the SAME physical rows (no recomputation): a DSv1 `Sink.addBatch`
    * input is backed by an IncrementalExecution and rejects batch writes;
    * re-wrapping its InternalRow RDD drops the streaming flag — the
    * standard pattern DSv1 table sinks use. `internalCreateDataFrame` is
    * sql-private, hence the shim. */
  def materializeBatch(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd, df.schema, isStreaming = false)
  }

  /** Catalyst's float normalization (-0.0 → 0.0, canonical NaN), recursing
    * into struct/array types — `private[sql]`, re-exported for the native
    * merge operator so its byte-equality grouping agrees with SQL equality
    * on float-bearing keys (including ones nested in structs/arrays). */
  def normalizeFloats(e: Expression): Expression =
    catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** Column names a predicate Column references, or None when the tree
    * contains a shape whose references cannot be enumerated safely (stars,
    * subqueries, multi-part names). Callers use None as "touches unknown
    * columns" and fall back to their most conservative handling —
    * [[graft.storage.TimeMergeStorage]] classifies predicates with this to
    * decide pre- vs post-merge evaluation (a value-column filter evaluated
    * BEFORE last-write-wins dedup can drop the newest version of a pk and
    * resurrect stale or deleted data). */
  /** Function names whose results vary per evaluation: a predicate built
    * on them does NOT commute with dedup/merge even when it references
    * only key columns (each version row would roll its own dice), so
    * [[referencedColumns]] reports such trees as unknowable. */
  private val nonDeterministicFns = Set(
    "rand", "randn", "random", "uuid", "shuffle",
    "monotonically_increasing_id", "input_file_name",
    "input_file_block_start", "input_file_block_length",
    "spark_partition_id", "current_timestamp", "now", "current_date",
    "localtimestamp", "rand_str", "randstr", "uniform")

  def referencedColumns(c: Column): Option[Seq[String]] = {
    import org.apache.spark.sql.internal.{InvokeInlineUserDefinedFunction, SqlExpression, SubqueryExpression => NSubquery, UnresolvedAttribute => NAttr, UnresolvedFunction => NFn, UnresolvedRegex => NRegex, UnresolvedStar => NStar}
    var unknown = false
    val names = scala.collection.mutable.ListBuffer.empty[String]
    def walkExpr(e: Expression): Unit = {
      // a classic Column can wrap an already-built catalyst tree; its node
      // children are empty, so the references live on the catalyst side
      e.foreach {
        case a: catalyst.analysis.UnresolvedAttribute =>
          if (a.nameParts.size == 1) names += a.nameParts.head else unknown = true
        case a: catalyst.expressions.AttributeReference => names += a.name
        case _: catalyst.analysis.UnresolvedStar => unknown = true
        case s: catalyst.expressions.SubqueryExpression => unknown = true
        case f: catalyst.analysis.UnresolvedFunction
            if nonDeterministicFns(f.nameParts.last.toLowerCase) => unknown = true
        case e if e.resolved && !e.deterministic => unknown = true
        case _ => ()
      }
    }
    c.node.foreach {
      case a: NAttr =>
        if (a.nameParts.size == 1) names += a.nameParts.head else unknown = true
      case _: NStar => unknown = true
      case _: NRegex => unknown = true
      case _: NSubquery => unknown = true
      case _: SqlExpression => unknown = true // raw SQL text: refs unknowable
      case f: NFn if nonDeterministicFns(f.functionName.toLowerCase) =>
        unknown = true // per-evaluation results: not a stable predicate
      case _: InvokeInlineUserDefinedFunction =>
        unknown = true // UDFs may be non-deterministic; stay conservative
      case classic.ExpressionColumnNode(e, _) => walkExpr(e)
      case _ => ()
    }
    if (unknown) None else Some(names.distinct.toSeq)
  }

  /** Idempotently add a planner strategy to an already-built session —
    * the path for sessions that weren't constructed `withExtensions`
    * (extensions are ignored by `getOrCreate` on an existing session). */
  def addStrategy(spark: SparkSession, s: execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    // extraStrategies is a plain var: an unsynchronized check-then-append
    // from concurrent micro-batches (exactly nativeDedupMerge's use case)
    // could lose a registration and fail planning nondeterministically
    exp.synchronized {
      if (!exp.extraStrategies.contains(s))
        exp.extraStrategies = exp.extraStrategies :+ s
    }
  }
}
