package graft.promql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.metric.MetricAgg
import graft.storage.TimeRange

/** Evaluates a parsed PromQL [[Expr]] over a flat samples DataFrame — the
  * binding from PromQL's (metric, labels, ts, value) data model onto any
  * wide table. Per-metric storage isn't required: the reference RFC's data
  * model maps metrics onto shared tables the same way (20240827-metric-
  * engine.md:218-226), and the engine path (MetricEngine.queryPromQL) runs
  * the identical AST through the two-step index lookup instead.
  *
  * Windowing semantics — documented deviation from Prometheus: range
  * windows and steps are epoch-aligned tumbling buckets
  * (`floor(ts/w)*w`), not per-step lookback windows; `rate`/`increase`
  * are reset-aware over the series' full sorted stream, then bucketed.
  * With step == window the two models agree on dense counters; tumbling
  * buckets keep every operator a single hash aggregation at 100 TB
  * (a per-step lookback self-joins each sample into window/step buckets).
  *
  * All shuffles key on (series labels[, bucket]) — the natural cluster
  * partitioning; the per-series sort inside `rate` is window-function
  * local work after one exchange on the series key.
  *
  * @param samples    flat frame of samples
  * @param metricCol  column holding the metric name
  * @param tsMs       epoch-millis expression (bucketing + output)
  * @param valueCol   sample value column (double)
  * @param labels     PromQL label name → source column name
  * @param ordering   per-series window order for rate/increase/delta —
  *                   defaults to `tsMs`; pass the full-precision timestamp
  *                   plus a unique tiebreak for deterministic same-ms merges
  * @param seriesCols extra series-identity columns (e.g. the engine's tsid):
  *                   rate/increase/delta partition per (seriesCols, labels)
  *                   so distinct series sharing the projected label values
  *                   don't fuse; they ride through range-fn output (and feed
  *                   ranked-agg tiebreaks) but never act as grouping labels
  * @param instantSelectors instant-vector mode ([[sqlInstant]] /
  *                   `MetricEngine.instantPromQL`): every INSTANT selector
  *                   evaluation keeps only each series' newest sample
  *                   inside its own (offset-shifted) evaluation range —
  *                   Prometheus's lookback-delta restriction, applied PER
  *                   SELECTOR so `offset` and `@`-pinned windows see their
  *                   own timelines (a global newest-sample pre-filter
  *                   would starve both). Range-function and pinned-window
  *                   reads are never restricted.
  * @param slidingStep EXACT sliding range windows (round 12, opt-in):
  *                   `(stepMs, outputRange)` switches every range
  *                   function from tumbling `floor(ts/w)*w` buckets to
  *                   Prometheus's per-step `(T-w, T]` windows on the
  *                   epoch-aligned step grid `T = k·step` within
  *                   `outputRange` — each sample joins its ≤ ⌈w/step⌉
  *                   covering windows (the documented self-join cost the
  *                   tumbling default avoids at scale), and
  *                   rate/increase/resets/changes chain within the window
  *                   (first in-window sample is the baseline, Prometheus's
  *                   non-extrapolated arithmetic) instead of across
  *                   buckets. Output `bucket_ms` is the window END T —
  *                   the Prometheus evaluation timestamp. Subqueries
  *                   participate (round 13): the inner expression runs in
  *                   a NESTED sliding context on its own epoch-aligned
  *                   step grid with per-step pinned windows, then the
  *                   outer range function slides over those inner points —
  *                   Prometheus's exact two-level timeline. `@`-pinned
  *                   contexts never inherit it (their window is pinned by
  *                   construction).
  */
final class PromQLContext(
    samples: DataFrame,
    metricCol: String,
    tsMs: Column,
    valueCol: String,
    labels: Map[String, String],
    ordering: Seq[Column] = Nil,
    seriesCols: Seq[String] = Nil,
    instantSelectors: Boolean = false,
    slidingStep: Option[(Long, TimeRange)] = None) {

  import PromQLContext._

  /** Quote-safe shadow of `functions.col` for THIS class (round 15):
    * PromQL label names are arbitrary UTF-8 (Prometheus 3 — OTLP ships
    * dotted resource attributes like `service.name` as label names), and
    * `functions.col` PARSES its argument, so a bare dotted column name
    * resolves as a struct-field access and fails deep in the plan.
    * Backtick-quoting makes the parser read ONE literal name part;
    * classic names resolve identically, so every dynamic column
    * reference in the evaluator routes through here. (Aliases,
    * withColumn/drop/withColumnRenamed and using-join column lists take
    * literal names and never parse — they stay bare.) Delegates to the
    * engine-wide [[graft.storage.TimeMergeStorage.qcol]]. */
  private def col(name: String): Column =
    graft.storage.TimeMergeStorage.qcol(name)

  /** Label source columns normalized to STRING at the binding edge: PromQL
    * labels ARE strings (regex matchers, label_replace/label_join, and
    * Prometheus's data model all operate on text), and a numeric source
    * column would make set-op joins and downstream sorts type-dependent —
    * e.g. uid "2" vs 100 order differently as text and as numbers. The cast
    * is bijective for any id column, so grouping is unchanged. */
  private val src: DataFrame = labels.values.toSeq.distinct.foldLeft(samples) {
    (df, c) =>
      if (df.schema(c).dataType == org.apache.spark.sql.types.StringType) df
      else df.withColumn(c, col(c).cast("string"))
  }

  /** Evaluate `expr`, optionally restricted to `range` (on epoch-ms) and
    * bucketed by `stepMs`.
    *
    * Output schema:
    *  - selector: every mapped label (PromQL names) + `ts_ms` + `value`
    *  - range fn: series labels + `bucket_ms` + `value`
    *  - agg: `by` labels + `bucket_ms` (when stepped) + `value`
    */
  def eval(expr: Expr, stepMs: Option[Long] = None,
      range: Option[TimeRange] = None): DataFrame = expr match {

    case Selector(metric, matchers, offsetMs) =>
      // select() already applied the range filter on the selector's own
      // offset-shifted timeline, so in instant mode "newest per series
      // within the lookback" is simply newest-after-filter — one window
      // exchange on the series key.
      val base = latestPerSeries(select(metric, matchers, offsetMs, range))
      base.select(labels.keys.toSeq.sorted.map(l => col(labels(l)).as(l)) ++
        seriesCols.map(col) ++
        Seq(shifted(offsetMs).as("ts_ms"), col(valueCol).as("value")): _*)

    case RangeFn(RangeF.AbsentOverTime, sel, windowMs) =>
      // present's complement over the step grid: 1.0 for every w-bucket of
      // the bounded range containing NO samples of the selection — the same
      // grid anti-join as stepped absent(), with the window AS the step
      // (tumbling rule; an outer step must agree). Value-only rows.
      // Sliding mode: the grid is every step T, a T is present when ANY
      // sample lies in its (T-w, T] window.
      if (slidingStep.isEmpty) stepMs.filter(_ != windowMs).foreach(st =>
        throw new IllegalArgumentException(
          s"absent_over_time window ${windowMs}ms must equal the " +
            s"step ${st}ms (tumbling windows)"))
      val r0 = range.filter(r =>
        r.start != Long.MinValue && r.end != Long.MaxValue).getOrElse(
        throw new IllegalArgumentException(
          "absent_over_time needs an explicit bounded range — its grid IS " +
            "the query range, so it is also not supported inside " +
            "subqueries or @-pinned windows (which evaluate on nested, " +
            "unbounded contexts)"))
      val aRows = select(sel.metric, sel.matchers, sel.offsetMs, range)
      val aTs = shifted(sel.offsetMs)
      // matcher-derived labels reconstruct exactly like absent() —
      // appended after the grid anti-join below
      def aRecon(df: DataFrame): DataFrame =
        PromQLContext.absentReconLabels(sel).foldLeft(df) {
          case (d, (l, v)) => d.withColumn(l, lit(v)) }
      slidingStep match {
        case Some((s, outR)) =>
          val firstT = -Math.floorDiv(-outR.start, s) * s
          val lastT = Math.floorDiv(outR.end - 1, s) * s
          val aGrid = samples.sparkSession.range(firstT, lastT + 1, s)
            .toDF("bucket_ms")
          val tLo = greatest(
            (-floor((-aTs) / lit(s)) * s).cast("long"), lit(firstT))
          val tHi = least(
            (floor((aTs + lit(windowMs) - 1) / lit(s)) * s).cast("long"),
            lit(lastT))
          val aPresent = aRows.select(
            explode(when(tLo <= tHi, sequence(tLo, tHi, lit(s)))
              .otherwise(array().cast("array<bigint>")))
              .as("bucket_ms")).distinct()
          aRecon(aGrid.join(aPresent, Seq("bucket_ms"), "left_anti")
            .withColumn("value", lit(1.0)))
        case None =>
          val aLo = math.floorDiv(r0.start, windowMs) * windowMs
          val aHi = math.floorDiv(r0.end - 1, windowMs) * windowMs
          val aGrid = samples.sparkSession.range(aLo, aHi + 1, windowMs)
            .toDF("bucket_ms")
          val aPresent = aRows
            .select((floor(aTs / lit(windowMs)).cast("long") * windowMs)
              .as("bucket_ms")).distinct()
          aRecon(aGrid.join(aPresent, Seq("bucket_ms"), "left_anti")
            .withColumn("value", lit(1.0)))
      }

    case RangeFn(fn, sel, windowMs) =>
      // Range functions OWN their buckets: a stepMs reaching this node is
      // deliberately ignored (tumbling rule — the window IS the grain;
      // spec: "step is ignored when the child already carries window
      // buckets"). MetricEngine.queryPromQL validates window-vs-step
      // agreement up front for callers who pass both; the flat-context
      // contract is documented at [[sql]].
      val labelOut = labels.keys.toSeq.sorted
      val rows0 = select(sel.metric, sel.matchers, sel.offsetMs, range)
      val ts = shifted(sel.offsetMs)
      val ord = if (ordering.nonEmpty) ordering else Seq(tsMs)
      // Window grain: tumbling floor(ts/w)·w buckets (the scale default —
      // one bucket per sample), or the opt-in exact sliding grid: every
      // step-grid T = k·step within the output range whose (T-w, T]
      // window contains the sample — ≤ ⌈w/step⌉ copies per sample.
      val (rows, bucketRaw): (DataFrame, Column) = slidingStep match {
        case Some((s, outR)) =>
          val firstT = -Math.floorDiv(-outR.start, s) * s // ceil to grid
          val lastT = Math.floorDiv(outR.end - 1, s) * s // floor to grid
          val tLo = greatest( // smallest grid T ≥ ts (T must cover ts: T ≥ ts)
            (-floor((-ts) / lit(s)) * s).cast("long"), lit(firstT))
          val tHi = least( // largest grid T with T - w < ts, i.e. T ≤ ts+w-1
            (floor((ts + lit(windowMs) - 1) / lit(s)) * s).cast("long"),
            lit(lastT))
          val exploded = rows0.withColumn("__T__",
            explode(when(tLo <= tHi, sequence(tLo, tHi, lit(s)))
              .otherwise(array().cast("array<bigint>"))))
          (exploded, col("__T__"))
        case None =>
          (rows0, floor(ts / lit(windowMs)).cast("long") * windowMs)
      }
      val bucket = bucketRaw.as("bucket_ms")
      // series identity = metric + extra identity cols + every label column.
      // metricCol matters for bare {...} multi-metric selectors with no
      // seriesCols: without it, distinct metrics sharing label values would
      // fuse into one pseudo-series (garbage deltas). It groups but is not
      // projected (Prometheus drops __name__ from range-fn output); for
      // named selectors it is constant, so the groups are unchanged.
      val metricKey = // skip when a bound label already carries the metric col
        if (labels.values.toSeq.contains(metricCol)) Nil else Seq(col(metricCol))
      val seriesPart = metricKey ++ seriesCols.map(col) ++ labels.values.toSeq.map(col)
      // Counter/transition chaining scope: tumbling chains across the
      // series' full stream (boundary deltas land in the later bucket);
      // sliding chains WITHIN each (T-w, T] window — the first in-window
      // sample is the baseline, exactly Prometheus's non-extrapolated
      // increase/resets/changes arithmetic (a sample rides in several
      // windows, so a cross-stream chain would double-count).
      val chainPart =
        if (slidingStep.isDefined) seriesPart :+ bucketRaw else seriesPart
      val groupKeys = labelOut.map(l => col(labels(l)).as(l)) ++
        seriesCols.map(col) ++ metricKey :+ bucket
      val outCols = labelOut.map(col) ++ seriesCols.map(col) :+ col("bucket_ms")
      fn match {
        case RangeF.Rate | RangeF.Increase =>
          // reset-aware delta across the chaining scope, then one
          // aggregation per (series, bucket); first sample contributes 0
          val d = graft.functions.Rate.resetAwareDelta(col(valueCol), chainPart, ord)
          val inc = rows.withColumn("__d__", d)
            .groupBy(groupKeys: _*)
            .agg(sum("__d__").as("__inc__"))
          val v = if (fn == RangeF.Rate) col("__inc__") / (windowMs / 1000.0)
                  else col("__inc__")
          inc.select(outCols :+ v.as("value"): _*)
        case RangeF.Delta =>
          // gauge delta: last minus first within the bucket (ordered by the
          // series ordering; struct key makes the pick deterministic)
          val key = struct(ord: _*)
          rows.groupBy(groupKeys: _*)
            .agg((max_by(col(valueCol), key) - min_by(col(valueCol), key)).as("value"))
            .select(outCols :+ col("value"): _*)
        case RangeF.Resets | RangeF.Changes =>
          // transition counts over the series' full sorted stream, bucketed
          // by the LATER sample (same attribution as rate's reset deltas:
          // a boundary-crossing transition lands in the later bucket); same
          // two-stage shape as rate — series-key window, then bucket agg.
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(chainPart: _*).orderBy(ord: _*)
          val prev = lag(col(valueCol), 1).over(w)
          val ind = fn match {
            case RangeF.Resets =>
              when(prev.isNotNull && col(valueCol) < prev, 1.0).otherwise(0.0)
            case _ =>
              when(prev.isNotNull && col(valueCol) =!= prev, 1.0).otherwise(0.0)
          }
          rows.withColumn("__i__", ind)
            .groupBy(groupKeys: _*).agg(sum("__i__").as("value"))
            .select(outCols :+ col("value"): _*)
        case RangeF.Irate | RangeF.Idelta =>
          // instant functions: the two newest samples per (series, bucket).
          // Rank newest-first with a window (bounded memory — never a
          // per-bucket collect), keep ranks 1-2, then pivot them into one
          // row; the groupBy reuses the window's exchange. Prometheus
          // requires >= 2 samples (and distinct timestamps for irate) —
          // buckets failing that emit nothing.
          val wN = org.apache.spark.sql.expressions.Window
            .partitionBy(seriesPart :+ bucketRaw: _*).orderBy(ord.map(_.desc): _*)
          val picked = rows
            .withColumn("__rn__", row_number().over(wN))
            .filter(col("__rn__") <= 2)
            // NOT "__t__": Spark resolves column names case-INsensitively by
            // default, so "__t__" would silently REPLACE the sliding grid
            // column "__T__" — groups then collapse to the sample timestamp
            // and the zero-interval guard empties the result (sliding-mode
            // irate/idelta returned nothing; caught by the differential
            // fuzzer).
            .withColumn("__ts_i__", ts)
          val g = picked.groupBy(groupKeys: _*).agg(
            count(lit(1)).as("__n__"),
            max(when(col("__rn__") === 1, col(valueCol))).as("__v1__"),
            max(when(col("__rn__") === 2, col(valueCol))).as("__v2__"),
            max(when(col("__rn__") === 1, col("__ts_i__"))).as("__t1__"),
            max(when(col("__rn__") === 2, col("__ts_i__"))).as("__t2__"))
            .filter(col("__n__") >= 2)
          val v =
            if (fn == RangeF.Idelta) col("__v1__") - col("__v2__")
            else // reset-aware instant rate over the last sample interval
              when(col("__v1__") >= col("__v2__"), col("__v1__") - col("__v2__"))
                .otherwise(col("__v1__")) / ((col("__t1__") - col("__t2__")) / 1000.0)
          // Prometheus instantValue drops the point when the sampled interval
          // is 0 — for BOTH irate and idelta (the division guard is only part
          // of the reason; the semantics are "no instant over zero time").
          val g2 = g.filter(col("__t1__") > col("__t2__"))
          g2.select(outCols :+ v.as("value"): _*)
        case RangeF.Deriv =>
          // per-second least-squares slope; null (< 2 distinct points) drops
          rows.groupBy(groupKeys: _*)
            .agg(regr_slope(col(valueCol), ts / 1000.0).as("value"))
            .filter(col("value").isNotNull)
            .select(outCols :+ col("value"): _*)
        case RangeF.PredictLinear(tSec) =>
          // regression on absolute seconds; predict tSec past the WINDOW END
          // (the tumbling-bucket analog of Prometheus's evaluation
          // timestamp; in sliding mode bucket_ms IS the evaluation time T)
          val horizon =
            if (slidingStep.isDefined) col("bucket_ms")
            else col("bucket_ms") + lit(windowMs)
          rows.groupBy(groupKeys: _*)
            .agg(regr_slope(col(valueCol), ts / 1000.0).as("__sl__"),
              regr_intercept(col(valueCol), ts / 1000.0).as("__ic__"))
            .filter(col("__sl__").isNotNull)
            .select(outCols :+ (col("__ic__") + col("__sl__") *
              (horizon.cast("double") / 1000.0 + tSec))
              .as("value"): _*)
        case RangeF.HoltWinters(sf, tf) =>
          // double exponential smoothing (Prometheus funcHoltWinters): an
          // ordered recurrence over each (series, bucket)'s samples. The
          // sequential fold runs as a higher-order `aggregate` over the
          // bucket's COLLECTED sample array — bounded by samples-per-window
          // (a per-series-window quantity, never a whole-partition collect),
          // after the same single exchange every *_over_time agg uses.
          //   init (from v0, v1):  sp = v0; b = v1 - v0; s = sf·v1 + (1-sf)(v0 + b)
          //   step (v2..):         b' = tf·(s - sp) + (1-tf)·b
          //                        s' = sf·x + (1-sf)(s + b');  sp' = s
          //   result: final s.  Buckets with < 2 samples emit nothing.
          val sortKey = struct(ord.zipWithIndex.map { case (c, i) =>
            c.as(s"__o$i") } :+ col(valueCol).as("__v"): _*)
          val vals = transform(array_sort(col("__arr__")), x => x.getField("__v"))
          val v0 = element_at(col("__vals__"), 1)
          val v1 = element_at(col("__vals__"), 2)
          val initB = v1 - v0
          val init = struct(v0.as("sp"),
            (lit(sf) * v1 + lit(1 - sf) * (v0 + initB)).as("s"), initB.as("b"))
          val smoothed = aggregate(
            slice(col("__vals__"), lit(3),
              greatest(size(col("__vals__")) - 2, lit(0))),
            init,
            (acc, x) => {
              val bNew = lit(tf) * (acc.getField("s") - acc.getField("sp")) +
                lit(1 - tf) * acc.getField("b")
              struct(acc.getField("s").as("sp"),
                (lit(sf) * x + lit(1 - sf) * (acc.getField("s") + bNew)).as("s"),
                bNew.as("b"))
            },
            acc => acc.getField("s"))
          rows.groupBy(groupKeys: _*)
            .agg(collect_list(sortKey).as("__arr__"))
            .filter(size(col("__arr__")) >= 2)
            .withColumn("__vals__", vals)
            .select(outCols :+ smoothed.as("value"): _*)
        case RangeF.MadOverTime =>
          // median absolute deviation: median(|x - median(x)|), both medians
          // linearly interpolated (Prometheus quantile(0.5)). The inner
          // median comes from `percentile` in the same aggregation that
          // collects the window's values; the outer median is interpolated
          // over the sorted deviation array — bounded by samples-per-window
          // (the holt_winters shape), one exchange total.
          val devs = array_sort(transform(col("__arr__"),
            x => abs(x - col("__med__"))))
          val n = size(devs)
          val h = (n - lit(1)).cast("double") * lit(0.5)
          val loIdx = floor(h).cast("int")
          val frac = h - loIdx.cast("double")
          val lo = element_at(devs, loIdx + lit(1))
          val hi = element_at(devs, least(loIdx + lit(2), n))
          val mad = lo * (lit(1.0) - frac) + hi * frac
          rows.groupBy(groupKeys: _*)
            .agg(percentile(col(valueCol), lit(0.5)).as("__med__"),
              collect_list(col(valueCol)).as("__arr__"))
            .select(outCols :+ mad.as("value"): _*)
        case _ =>
          // *_over_time: one plain aggregate per (series, window bucket)
          val agg = (fn match {
            case RangeF.AvgOverTime => avg(col(valueCol))
            case RangeF.MinOverTime => min(col(valueCol))
            case RangeF.MaxOverTime => max(col(valueCol))
            case RangeF.SumOverTime => sum(col(valueCol))
            case RangeF.CountOverTime => count(lit(1)).cast("double")
            case RangeF.StddevOverTime => stddev_pop(col(valueCol))
            case RangeF.StdvarOverTime => var_pop(col(valueCol))
            case RangeF.LastOverTime => max_by(col(valueCol), struct(ord: _*))
            case RangeF.PresentOverTime => max(lit(1.0))
            case RangeF.QuantileOverTime(q) => percentile(col(valueCol), lit(q))
            case RangeF.AbsentOverTime => throw new IllegalArgumentException(
              "absent_over_time is not supported inside subqueries or @ " +
                "(it has no per-series rows to re-evaluate)")
            case other => throw new IllegalStateException(s"unhandled range fn $other")
          }).as("value")
          rows.groupBy(groupKeys: _*).agg(agg)
            .select(outCols :+ col("value"): _*)
      }

    case AtRange(fn0, sel, windowMs, atMs) =>
      // `fn(sel[w] @ t)`: the range function over the single pinned window
      // [t-w, t). Timestamps are shifted down by t mod w so the pinned
      // window IS one epoch-aligned tumbling bucket, then the whole range-fn
      // machinery runs unchanged on a nested context; the constant shift
      // preserves ordering and every time DELTA (rate/irate/deriv).
      // predict_linear needs NO horizon re-anchor: the regression is fit in
      // shifted coordinates, so its intercept already absorbs slope·shift —
      // evaluating at the shifted window end + tSec targets real time
      // t + tSec exactly (adding shift again would overshoot by
      // slope·shift). Output drops the bucket column — a time-pinned
      // vector that joins stepped operands as a per-range constant. The
      // outer query range deliberately does NOT clip the pinned read
      // (Prometheus @ may look outside [start, end]).
      if (sel.metric.isEmpty && !labels.values.toSeq.contains(metricCol))
        throw new IllegalArgumentException(
          "@ on a bare {...} multi-metric selector needs __name__ bound " +
            "as a label (metric identity would be lost in the pinned window)")
      if (PromQLParser.isAtSentinel(atMs))
        throw new IllegalArgumentException(
          "unresolved @ start()/end() — evaluate through sql()/sqlInstant()/" +
            "queryPromQL(), which resolve them against the query range")
      val shift = math.floorMod(atMs, windowMs)
      val fn = fn0
      val pinned = TimeRange(atMs - windowMs, atMs)
      val rows = select(sel.metric, sel.matchers, sel.offsetMs, Some(pinned))
      val inner = rows
        .withColumn("__at_ts__", shifted(sel.offsetMs) - lit(shift))
        .withColumn("__at_m__", lit(""))
      val sub = new PromQLContext(inner, "__at_m__", col("__at_ts__"),
        valueCol, labels, ordering, seriesCols)
      sub.eval(RangeFn(fn, Selector("", Nil), windowMs)).drop("bucket_ms")

    case RangeSubquery(fn, child, windowMs, subStepMs0) =>
      // Prometheus subquery `fn(expr[w:s])`: evaluate the inner expression
      // on the s-step timeline, then run the range function over those
      // per-step points exactly as over raw samples — via a nested context
      // whose "samples" are the inner result, so every range function
      // (incl. rate/holt_winters) works unchanged. Plan shape: the inner
      // eval's aggregation exchange, then ONE more aggregation keyed on
      // (inner labels, outer bucket) — no extra scan, no driver-side state.
      // `[w:]` (parse sentinel 0) defaults the resolution to the
      // evaluation step, Prometheus's default-to-evaluation-interval.
      val subStepMs = if (subStepMs0 > 0) subStepMs0 else stepMs.getOrElse(
        throw new IllegalArgumentException(
          "subquery with default step ([w:]) needs a stepped evaluation — " +
            "the default resolution IS the evaluation interval"))
      if (subStepMs > windowMs) throw new IllegalArgumentException(
        s"subquery step (${subStepMs}ms) exceeds its range (${windowMs}ms)")
      // Tumbling default: the inner timeline is bucketized by the subquery
      // step, so inner windows must equal it. Sliding mode decouples the
      // two — the inner expression evaluates on its own epoch-aligned
      // s-grid with per-step pinned (t-w_in, t] windows, so ANY inner
      // window works against ANY subquery step.
      if (slidingStep.isEmpty)
        innerWindows(child).find(_ != subStepMs).foreach(w =>
          throw new IllegalArgumentException(
            s"inner range-function window ($w ms) must equal the subquery " +
              s"step ($subStepMs ms): windowed functions own their buckets " +
              "on the subquery timeline"))
      val inner = slidingStep match {
        case Some((outStep, outR)) =>
          // Prometheus's subquery timeline: inner steps are EPOCH-aligned
          // multiples of s inside (firstT - w, lastT] — SHARED across all
          // outer steps, so one stepped inner evaluation serves every
          // outer window (no per-T re-evaluation). The nested sliding
          // context widens its own sample read by the child's total
          // lookback — the same widening MetricEngine.queryPromQLAst
          // applies at the top level — and its grid clamps inner output
          // to the subquery timeline. A windowless child (bare selector)
          // keeps raw samples, the documented tumbling-mode deviation.
          val firstT = -Math.floorDiv(-outR.start, outStep) * outStep
          val lastT = Math.floorDiv(outR.end - 1, outStep) * outStep
          val innerR =
            graft.storage.TimeRange(firstT - windowMs + 1, lastT + 1)
          val lb = PromQLContext.slidingLookback(child)
          val innerEvalR = graft.storage.TimeRange(
            if (lb > 0) innerR.start - lb + 1 else innerR.start, innerR.end)
          new PromQLContext(samples, metricCol, tsMs, valueCol, labels,
            ordering, seriesCols, instantSelectors,
            slidingStep = Some((subStepMs, innerR)))
            .eval(child, Some(subStepMs), Some(innerEvalR))
        case None => eval(child, Some(subStepMs), range)
      }
      val tsName =
        if (inner.columns.contains("ts_ms")) "ts_ms"
        else if (inner.columns.contains("bucket_ms")) "bucket_ms"
        else throw new IllegalArgumentException(
          "subquery inner expression has no timeline (fully aggregated / " +
            s"shape output: ${inner.columns.mkString(", ")})")
      val innerSeries = seriesCols.filter(inner.columns.contains)
      // a stepped inner (e.g. topk under a stepped eval) carries BOTH
      // ts_ms and bucket_ms; the non-chosen time column is a timeline,
      // not a label — treating it as one duplicates the outer grouping's
      // bucket_ms (AMBIGUOUS_REFERENCE at select). Drop it.
      val inner1 =
        if (tsName == "ts_ms" && inner.columns.contains("bucket_ms"))
          inner.drop("bucket_ms")
        else inner
      val lblCols = inner1.columns.toSeq.filterNot(c =>
        c == tsName || c == "value" || innerSeries.contains(c))
      // per-step points are unique per (series, step bucket) after an
      // aggregated inner, so ts-only ordering is deterministic; a bare
      // selector child keeps raw samples (documented tumbling deviation)
      // the outer range function inherits THIS context's sliding grid: in
      // sliding mode every output step T windows the inner points over
      // Prometheus's exact (T-w, T]
      val sub = new PromQLContext(
        inner1.withColumn("__sq__", lit("")), "__sq__", col(tsName), "value",
        lblCols.map(l => l -> l).toMap,
        ordering = Seq(col(tsName)), seriesCols = innerSeries,
        slidingStep = slidingStep)
      sub.eval(RangeFn(fn, Selector("", Nil), windowMs))

    case NumLit(_) => throw new IllegalArgumentException(
      "scalar-only expression: combine the number with a vector (e.g. cpu * 2)")

    case BinOp(op, lhs, rhs, bool, matching) =>
      // `bool` turns a comparison into a 1.0/0.0 indicator instead of a
      // row filter (Prometheus `>` vs `> bool`).
      def cmpOrMap(in: DataFrame, cond: Column, mapped: Column): DataFrame =
        if (isCmp(op) && bool)
          in.withColumn("value", when(cond, lit(1.0)).otherwise(lit(0.0)))
        else if (isCmp(op)) in.filter(cond)
        else in.withColumn("value", mapped)
      // on()/ignoring() with a scalar literal operand is a user error
      // (Prometheus rejects it at parse time) — never silently ignored
      def rejectMatchingOnScalar(): Unit = matching.foreach(_ =>
        throw new IllegalArgumentException(
          "vector matching (on/ignoring/group_*) requires vector operands on both sides"))
      (lhs, rhs) match {
        case (NumLit(_), NumLit(_)) => throw new IllegalArgumentException(
          s"scalar-only expression: $lhs $op $rhs has no vector side")
        // vector ∘ scalar: arithmetic maps the value column; comparison
        // FILTERS rows (or maps to 0/1 under `bool`)
        case (v, NumLit(b)) =>
          rejectMatchingOnScalar()
          val in = eval(v, stepMs, range)
          cmpOrMap(in, applyOp(op, col("value"), lit(b)),
            applyOp(op, col("value"), lit(b)))
        case (NumLit(a), v) =>
          rejectMatchingOnScalar()
          val in = eval(v, stepMs, range)
          cmpOrMap(in, applyOp(op, lit(a), col("value")),
            applyOp(op, lit(a), col("value")))
        // scalar(expr) operand: the per-step scalar combines against the
        // vector side's FULL identity — no label matching (Prometheus
        // scalar-vector semantics), unlike the generic path which would
        // collapse output to the match keys. Steps where the scalar child
        // is empty or multi-element evaluate to NaN: arithmetic emits NaN,
        // comparisons drop the row — both as Prometheus.
        case (FnCall("scalar", a, _), FnCall("scalar", b, _))
            if !isSetOp(op) =>
          rejectMatchingOnScalar()
          // scalar-scalar comparison: Prometheus REQUIRES `bool` (there is
          // no row to filter) and the result is a 1.0/0.0 scalar — never a
          // boolean-typed column leaking into downstream arithmetic
          if (isCmp(op) && !bool) throw new IllegalArgumentException(
            s"comparisons between scalars must use the bool modifier: " +
              s"scalar(...) $op bool scalar(...)")
          val sa = scalarFrame(a, stepMs, range)
          val sb = scalarFrame(b, stepMs, range)
            .withColumnRenamed("__sv__", "__sv2__")
          val t = Seq("bucket_ms").filter(c =>
            sa.columns.contains(c) && sb.columns.contains(c))
          val joined = if (t.isEmpty) sa.crossJoin(sb) else sa.join(sb, t)
          val out =
            if (isCmp(op))
              when(applyOp(op, col("__sv__"), col("__sv2__")), lit(1.0))
                .otherwise(lit(0.0))
            else applyOp(op, col("__sv__"), col("__sv2__"))
          joined.select(t.map(col) :+ out.as("value"): _*)
        case (v, FnCall("scalar", sc, _)) if !isSetOp(op) =>
          rejectMatchingOnScalar()
          scalarCombine(eval(v, stepMs, range), sc, op, bool,
            stepMs, range, leftIsVector = true)
        case (FnCall("scalar", sc, _), v) if !isSetOp(op) =>
          rejectMatchingOnScalar()
          scalarCombine(eval(v, stepMs, range), sc, op, bool,
            stepMs, range, leftIsVector = false)
        // vector ∘ vector: match on the intersection of the sides' label /
        // bucket columns — a skew-free equi-join on group keys at scale —
        // unless on()/ignoring() overrides the key set. Keys compare
        // null-safely (an absent/null label value is still a matchable
        // group). Two fully-aggregated scalars (value-only on both sides)
        // combine directly; anything else without shared columns is a shape
        // error, not a silent cartesian product.
        // set operators: `and` keeps lhs rows whose label set appears on
        // the rhs (semi-join), `unless` those absent (anti-join), `or`
        // unions the lhs with rhs rows whose label sets the lhs lacks.
        // LHS rows and VALUES pass through untouched (Prometheus). Keys
        // follow the same intersection / on() / ignoring() rules as
        // arithmetic matching; group_left/right make no sense here.
        case (l, r) if op == "and" || op == "or" || op == "unless" =>
          def isScalarShaped(e: Expr) = e match {
            case NumLit(_) => true
            case FnCall("scalar", _, _) => true
            case _ => false
          }
          if (isScalarShaped(l) || isScalarShaped(r))
            throw new IllegalArgumentException(
              s"set operator '$op' requires vector operands on both sides")
          matching.flatMap(_.group).foreach(_ =>
            throw new IllegalArgumentException(
              s"group_left/group_right cannot be used with set operator '$op'"))
          val lf = eval(l, stepMs, range)
          val rf = eval(r, stepMs, range)
          val keys = vectorMatchKeys(lf, rf, matching, op)
          if (keys.isEmpty) throw new IllegalArgumentException(
            s"set operator '$op' has no matching columns " +
              s"(${lf.columns.mkString(",")} vs ${rf.columns.mkString(",")})")
          val cond = keys.map(k => col(k) <=> col(s"__rk_$k")).reduce(_ && _)
          op match {
            case "and" | "unless" =>
              val rk = rf.select(keys.map(k => col(k).as(s"__rk_$k")): _*)
                .distinct()
              lf.join(rk, cond, if (op == "and") "left_semi" else "left_anti")
            case _ => // or: schemas must line up for the union to be sound
              if (lf.columns.sorted.toSeq != rf.columns.sorted.toSeq)
                throw new IllegalArgumentException(
                  s"'or' requires both operands to carry the same columns " +
                    s"(${lf.columns.mkString(",")} vs ${rf.columns.mkString(",")})")
              val lk = lf.select(keys.map(k => col(k).as(s"__rk_$k")): _*)
                .distinct()
              lf.unionByName(rf.join(lk, cond, "left_anti"))
          }

        case (l, r) =>
          val lf = eval(l, stepMs, range)
          val rf = eval(r, stepMs, range)
          val keys = vectorMatchKeys(lf, rf, matching, op)
          // group_left/group_right: the flagged side is the MANY side; its
          // full column set survives, and `include` copies extra labels from
          // the one side. Without a group modifier the result keeps only the
          // matching keys (1:1 matching).
          val (many, one, oneSideName) = matching.flatMap(_.group) match {
            case Some(GroupSide.Left) => (lf, rf, "right")
            case Some(GroupSide.Right) => (rf, lf, "left")
            case None => (lf, rf, "right")
          }
          val grouped = matching.exists(_.group.isDefined)
          // An empty key set means a cross join — only sound when the sides
          // it multiplies are single-row scalar shapes. Explicit on()/
          // ignoring() that EMPTIES the key set gets the same guard: a
          // silent labeled cartesian is never the user's intent.
          if (keys.isEmpty) {
            if (!grouped && (lf.columns.length > 1 || rf.columns.length > 1))
              throw new IllegalArgumentException(
                s"operands of '$op' share no matching columns " +
                  s"(${lf.columns.mkString(",")} vs ${rf.columns.mkString(",")}): " +
                  "aggregate both sides to the same grouping first, or use " +
                  "on()/ignoring() with group_left/group_right")
            if (grouped && one.columns.length > 1)
              throw new IllegalArgumentException(
                s"group_* with no matching keys requires a fully-aggregated " +
                  s"(scalar) $oneSideName operand, got (${one.columns.mkString(",")})")
          }
          val include = matching.map(_.include).getOrElse(Nil)
          include.foreach { lbl =>
            if (!one.columns.contains(lbl))
              throw new IllegalArgumentException(
                s"group_*($lbl): include label not present on the $oneSideName operand " +
                  s"(${one.columns.mkString(",")})")
          }
          // Cardinality contract (Prometheus vectorElemBinop): the ONE side
          // must be unique per match key — and with NO group modifier both
          // sides must be (1:1). Violations raise at EXECUTION through the
          // value expression itself (a window count feeding raise_error —
          // zero extra jobs; the window's partitioning matches the join
          // keys the data already shuffles on), instead of silently
          // duplicating rows.
          def uniquePerKey(df: DataFrame, keyCols: Seq[String], valueC: String,
              side: String): DataFrame =
            if (keys.isEmpty) df
            else {
              val w = org.apache.spark.sql.expressions.Window
                .partitionBy(keyCols.map(col): _*)
              df.withColumn(valueC,
                when(count(lit(1)).over(w) === 1, col(valueC))
                  .otherwise(raise_error(lit(
                    s"'$op': found duplicate series for the match keys " +
                      s"(${keys.mkString(", ")}) on the $side side — " +
                      "many-to-one matching must be explicit " +
                      "(group_left/group_right)")).cast("double")))
            }
          val oneSel = uniquePerKey(one.select(
            keys.map(k => col(k).as(s"__rk_$k")) ++
              include.filterNot(keys.contains).map(k => col(k).as(s"__ri_$k")) :+
              col("value").as("__rv__"): _*),
            keys.map(k => s"__rk_$k"), "__rv__",
            if (grouped) oneSideName else "right")
          val manyChecked =
            if (grouped) many // the many side is explicitly allowed N:1
            else uniquePerKey(many, keys, "value", "left")
          val joined =
            if (keys.isEmpty) manyChecked.crossJoin(oneSel) // scalar / 1×1
            else manyChecked.join(oneSel,
              keys.map(k => col(k) <=> col(s"__rk_$k")).reduce(_ && _))
          // value expression respects operand order even when group_right
          // swapped the join sides
          val (a, b) = if (matching.flatMap(_.group).contains(GroupSide.Right))
            (col("__rv__"), col("value")) else (col("value"), col("__rv__"))
          // include labels REPLACE any same-named label on the many side
          // (Prometheus: the one side's label wins on conflict)
          val incl = include.filterNot(keys.contains)
          val outCols: Seq[Column] =
            if (grouped)
              many.columns.filterNot(c => c == "value" || incl.contains(c))
                .toSeq.map(col) ++ incl.map(k => col(s"__ri_$k").as(k))
            else keys.map(col)
          if (isCmp(op) && bool)
            joined.select(outCols :+
              when(applyOp(op, a, b), lit(1.0)).otherwise(lit(0.0)).as("value"): _*)
          else if (isCmp(op)) {
            // comparison filter: surviving rows take the MANY side's
            // identity (plus include labels) with the LEFT operand's value
            // — Prometheus keeps the left value on the grouping side's
            // labels (engine vectorElemBinop returns the lhs value)
            val filtered = joined.filter(applyOp(op, a, b))
            if (grouped) filtered.select(outCols :+ a.as("value"): _*)
            else filtered.select(many.columns.map(col): _*)
          } else
            joined.select(outCols :+ applyOp(op, a, b).as("value"): _*)
      }

    case ParamAgg(op, param, by, child) =>
      val in = eval(child, stepMs, range)
      by.find(l => !in.columns.contains(l)).foreach(l =>
        throw new IllegalArgumentException(
          s"unknown grouping label '$l' (available: ${in.columns.mkString(", ")})"))
      val bucketed = withStepBucket(in, stepMs)
      val groupCols = by.sorted ++
        (if (bucketed.columns.contains("bucket_ms")) Seq("bucket_ms") else Nil)
      op match {
        case ParamOp.TopK | ParamOp.BottomK =>
          // rank ROWS within the (by, bucket) group; ties broken by every
          // remaining output column so the pick is deterministic (identical
          // rows are interchangeable)
          val dir = if (op == ParamOp.TopK) col("value").desc else col("value").asc
          val tiebreak = bucketed.columns
            .filterNot(c => c == "value" || groupCols.contains(c)).sorted.map(col)
          if (groupCols.isEmpty)
            // global top-k: TakeOrdered (per-partition heads + driver merge
            // of k rows), never a one-partition window
            bucketed.orderBy(dir +: tiebreak: _*).limit(param.toInt)
          else {
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(groupCols.map(col): _*).orderBy(dir +: tiebreak: _*)
            bucketed.withColumn("__rk__", row_number().over(w))
              .filter(col("__rk__") <= param.toLong).drop("__rk__")
          }
        case ParamOp.LimitK =>
          // k rows per (by, bucket) group — Prometheus leaves WHICH k
          // unspecified; ordering by the remaining output columns is the
          // reproducible choice (documented deviation: deterministic).
          // `value` closes the ordering so rows equal on every identity
          // column still rank identically in any engine.
          val tiebreak = (bucketed.columns
            .filterNot(c => c == "value" || groupCols.contains(c)).sorted
            :+ "value").map(col)
          if (groupCols.isEmpty)
            bucketed.orderBy(tiebreak: _*).limit(param.toInt)
          else {
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(groupCols.map(col): _*).orderBy(tiebreak: _*)
            bucketed.withColumn("__rk__", row_number().over(w))
              .filter(col("__rk__") <= param.toLong).drop("__rk__")
          }
        case ParamOp.LimitRatio =>
          // deterministic hash sample over the SERIES identity (labels, not
          // samples — a series is in or out at every step): keep rows whose
          // md5(labels) lands in the bottom r of hash space; negative r
          // keeps the exact complement, so limit_ratio(r, v) ∪
          // limit_ratio(r-1, v) == v (the Prometheus contract). md5 rather
          // than an engine-private hash: portable, oracle-replayable.
          val lblCols = bucketed.columns
            .filterNot(c => c == "value" || c == "ts_ms" || c == "bucket_ms")
            .sorted
          val h = conv(substring(md5(concat_ws("\u0001",
            lblCols.map(col): _*)), 1, 4), 16, 10).cast("double") / 65536.0
          bucketed.filter(
            if (param >= 0) h < lit(param) else h >= lit(1.0 + param))
        case ParamOp.Quantile =>
          // exact interpolated quantile across the group (percentile ==
          // DuckDB quantile_cont — the engine-portable pairing)
          val agg = percentile(col("value"), lit(param)).as("value")
          if (groupCols.isEmpty) bucketed.agg(agg)
          else bucketed.groupBy(groupCols.map(col): _*).agg(agg)
      }

    case FnCall("absent", child, _) =>
      // the alerting primitive: 1.0 where the selection is EMPTY. Unstepped:
      // a global count aggregate (one row either way), filtered. Stepped:
      // one row per step bucket of the (bounded) range with no samples —
      // an anti-join of the step grid against the observed buckets.
      // Matcher-derived labels reconstruct like Prometheus's
      // createLabelsForAbsentFunction (round 12): `=` matchers with a
      // non-empty value become literal label columns, a label touched by
      // any OTHER matcher shape (regex/negative/duplicate) is dropped.
      val in = eval(child, stepMs, range)
      val base = stepMs match {
        case Some(st) =>
          val grid = stepGrid(st, range, "absent()")
          val present = withStepBucket(in, stepMs).select("bucket_ms").distinct()
          grid.join(present, Seq("bucket_ms"), "left_anti")
            .withColumn("value", lit(1.0))
        case None =>
          in.agg(count(lit(1)).as("__n__"))
            .filter(col("__n__") === 0)
            .select(lit(1.0).as("value"))
      }
      val recon = child match {
        case s: Selector => PromQLContext.absentReconLabels(s)
        case _ => Nil
      }
      recon.foldLeft(base) { case (df, (l, v)) => df.withColumn(l, lit(v)) }

    case FnCall("scalar", child, _) =>
      // standalone scalar(): per-step single value, NaN where the child is
      // empty or multi-element (Prometheus contract)
      scalarFrame(child, stepMs, range).withColumnRenamed("__sv__", "value")

    case FnCall("vector", child, _) =>
      // vector(s): one label-less sample per step (stepped) or one row
      // (unstepped) carrying the scalar — the constant-series primitive
      val v: Either[Double, DataFrame] = child match {
        case NumLit(n) => Left(n)
        case FnCall("scalar", sc, _) =>
          Right(scalarFrame(sc, stepMs, range))
        case other => throw new IllegalArgumentException(
          s"vector() takes a scalar (number or scalar(...)), got $other")
      }
      (stepMs, v) match {
        case (_, Right(sf)) => sf.withColumnRenamed("__sv__", "value")
        case (Some(st), Left(n)) =>
          stepGrid(st, range, "vector()").withColumn("value", lit(n))
        case (None, Left(n)) =>
          samples.sparkSession.range(1).select(lit(n).as("value"))
      }

    case FnCall("time", _, _) =>
      // evaluation time in seconds — our steps make it the bucket start;
      // unstepped there is no evaluation timestamp to report (documented
      // deviation: Prometheus uses the instant query's wall time)
      val st = stepMs.getOrElse(throw new IllegalArgumentException(
        "time() needs a step (stepped evaluation defines the timestamps)"))
      stepGrid(st, range, "time()")
        .withColumn("value", col("bucket_ms").cast("double") / 1000.0)

    case FnCall("timestamp", child, _) =>
      // value := the sample's own timestamp in seconds
      val in = eval(child, stepMs, range)
      val tcol = Seq("ts_ms", "bucket_ms").find(in.columns.contains).getOrElse(
        throw new IllegalArgumentException(
          "timestamp() needs a per-sample or per-bucket time column " +
            s"(got: ${in.columns.mkString(", ")})"))
      in.withColumn("value", col(tcol).cast("double") / 1000.0)

    case FnCall(name @ ("sort" | "sort_desc"), child, _) =>
      // presentation ordering by value (Prometheus sorts instant vectors for
      // display). A DataFrame's order is only observable through collect /
      // write, so this is a final global sort — ties broken by the remaining
      // columns for a deterministic layout.
      val in = eval(child, stepMs, range)
      val dir = if (name == "sort") col("value").asc else col("value").desc
      val tiebreak = in.columns.filterNot(_ == "value").sorted.map(col)
      in.orderBy(dir +: tiebreak.toSeq: _*)

    case FnCall(name, _, _) if name.startsWith("histogram_") =>
      // histogram_count/sum/avg/fraction read NATIVE histogram columns;
      // the flat evaluator's frames carry scalar samples only. The engine
      // entry points route these to the histograms table before eval —
      // reaching here means the shape (or the backing data) isn't native.
      throw new IllegalArgumentException(
        s"$name evaluates over native histograms only — query through " +
          "the engine's instant/range paths over a native-histogram " +
          "metric (a plain selector or rate/increase of one)")

    case FnCall(name, child, args) =>
      val in = eval(child, stepMs, range)
      val v = col("value")
      // Calendar functions read the sample VALUE as epoch seconds in UTC
      // (Prometheus semantics: hour(process_start_time_seconds)); compose
      // with timestamp() to read the sample's own time instead.
      val vTime = timestamp_seconds(floor(v).cast("long"))
      val mapped = name match {
        case "minute" => minute(vTime).cast("double")
        case "hour" => hour(vTime).cast("double")
        // Prometheus day_of_week: 0 = Sunday; Spark dayofweek: 1 = Sunday
        case "day_of_week" => (dayofweek(vTime) - 1).cast("double")
        case "day_of_month" => dayofmonth(vTime).cast("double")
        case "day_of_year" => dayofyear(vTime).cast("double")
        case "days_in_month" =>
          dayofmonth(last_day(vTime.cast("date"))).cast("double")
        case "month" => month(vTime).cast("double")
        case "year" => year(vTime).cast("double")
        case "abs" => abs(v)
        case "sgn" => signum(v)
        // Spark's ceil/floor(double) return LONG, so ±Inf collapses to
        // ±Long.MaxValue (9.22e18) and NaN to 0 — Go keeps them: non-finite
        // values pass through untouched (they are their own ceil/floor)
        case "ceil" =>
          when(isnan(v) || abs(v) === Double.PositiveInfinity, v)
            .otherwise(ceil(v).cast("double"))
        case "floor" =>
          when(isnan(v) || abs(v) === Double.PositiveInfinity, v)
            .otherwise(floor(v).cast("double"))
        case "sqrt" => sqrt(v)
        case "exp" => exp(v)
        // Go math.Log semantics: log(0) = -Inf, log(negative) = NaN,
        // log(NaN) = NaN. Spark's log family returns NULL for any
        // non-positive input, which would DROP the series from the result
        // (the serving edge filters null-value rows) instead of answering.
        case "ln" => goLog(v, log(v))
        case "log2" => goLog(v, log2(v))
        case "log10" => goLog(v, log10(v))
        case "round" =>
          // Prometheus rounds half UP to the nearest multiple:
          // floor(v/n + 0.5) * n — spelled out (not engine round()) so the
          // half-way rule is identical across engines/oracles
          val n = args.headOption.getOrElse(1.0)
          floor(v / lit(n) + lit(0.5)) * lit(n)
        // Go Min/Max PROPAGATE NaN, Spark's least/greatest rank NaN largest
        // (least(NaN, max) would answer max); and Prometheus funcClamp
        // answers NaN outright when min > max
        case "clamp" =>
          if (args(0) > args(1)) lit(Double.NaN)
          else when(isnan(v), lit(Double.NaN))
            .otherwise(least(greatest(v, lit(args(0))), lit(args(1))))
        case "clamp_min" => greatest(v, lit(args(0))) // NaN already wins
        case "clamp_max" =>
          when(isnan(v), lit(Double.NaN)).otherwise(least(v, lit(args(0))))
        case "sin" => sin(v)
        case "cos" => cos(v)
        case "tan" => tan(v)
        case "asin" => asin(v)
        case "acos" => acos(v)
        case "atan" => atan(v)
        case "sinh" => sinh(v)
        case "cosh" => cosh(v)
        case "tanh" => tanh(v)
        case "asinh" => asinh(v)
        case "acosh" => acosh(v)
        case "atanh" => atanh(v)
        case "deg" => degrees(v)
        case "rad" => radians(v)
        case other => throw new IllegalArgumentException(s"unknown function '$other'")
      }
      in.withColumn("value", mapped)

    case HistogramQuantile(q, child) =>
      // classic le-bucketed histogram quantile (Prometheus bucketQuantile):
      // buckets are CUMULATIVE counts per upper bound `le`; find the first
      // bucket whose count reaches rank = q * total and interpolate linearly
      // inside it. Group identity = every label except `le` (+ the window
      // bucket); series-identity cols are dropped — each le-bucket IS its
      // own series, and the quantile fuses them.
      val in = eval(child, stepMs, range)
      if (!in.columns.contains("le"))
        throw new IllegalArgumentException(
          "histogram_quantile requires an 'le' label on its input " +
            s"(got: ${in.columns.mkString(", ")})")
      val groupCols = in.columns
        .filterNot(c => c == "value" || c == "le" || seriesCols.contains(c)).toSeq
      // Prometheus's coalesceBuckets: input elements identical up to `le`
      // (two hidden series whose projected labels collide) SUM per bucket
      // before the walk — without this, the window below interleaves two
      // series' cumulative counts at the same le and interpolates garbage
      // try_cast, not cast: an UNPARSABLE le value (a mislabeled series)
      // throws CAST_INVALID_INPUT under ANSI mode and fails the whole
      // query — Prometheus instead SKIPS that bucket series (with a warn
      // annotation), which the null-filter below reproduces
      val leNum = when(col("le") === "+Inf", lit(Double.PositiveInfinity))
        .otherwise(org.apache.spark.sql.functions.expr("try_cast(le AS DOUBLE)"))
      val merged = in.groupBy((groupCols :+ "le").map(col): _*)
        .agg(sum(col("value")).as("value"))
        .filter(leNum.isNotNull)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(groupCols.map(col): _*).orderBy(leNum)
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy(groupCols.map(col): _*)
      val staged = merged
        .withColumn("__le__", leNum)
        .withColumn("__prev_le__", lag(leNum, 1).over(w))
        .withColumn("__prev_v__", lag(col("value"), 1, 0.0).over(w))
        .withColumn("__total__", max(col("value")).over(wAll))
        .withColumn("__max_fin_le__",
          max(when(col("__le__") =!= Double.PositiveInfinity, col("__le__"))).over(wAll))
        .withColumn("__rank__", lit(q) * col("__total__"))
      // first bucket (ascending le) whose cumulative count reaches the rank
      val candidates = staged.filter(col("value") >= col("__rank__"))
      val pick = org.apache.spark.sql.expressions.Window
        .partitionBy(groupCols.map(col): _*).orderBy(col("__le__"))
      val chosen = candidates
        .withColumn("__rn__", row_number().over(pick)).filter(col("__rn__") === 1)
      val loLe = coalesce(col("__prev_le__"), lit(0.0))
      // In-bucket count can be ZERO exactly when the chosen bucket is the
      // first one with rank = count = 0 (q = 0 into an empty first bucket,
      // or an all-zero histogram): Go's 0/0 makes Prometheus answer NaN,
      // but Spark 4's default ANSI division THROWS — guard it explicitly,
      // the same hazard applyOp's `/` already guards (PROMQL.md #2).
      // Any other chosen bucket has count > prev cumulative by the
      // first-reaching-rank walk, so the denominator is positive there.
      val inBucket = col("value") - col("__prev_v__")
      val quantile =
        when(col("__le__") === Double.PositiveInfinity, col("__max_fin_le__"))
          .when(col("__prev_le__").isNull && col("__le__") <= 0, col("__le__"))
          .when(inBucket === 0.0, lit(Double.NaN))
          .otherwise(loLe + (col("__le__") - loLe) *
            (col("__rank__") - col("__prev_v__")) / inBucket)
      chosen.select(groupCols.map(col) :+ quantile.as("value"): _*)

    case LabelFn(name @ ("sort_by_label" | "sort_by_label_desc"),
        child, dst, args) =>
      // presentation ordering by LABEL VALUES (Prometheus 2.49's
      // experimental sort_by_label*): the given labels in argument order,
      // then every remaining label ascending for a deterministic layout —
      // values never participate (unlike sort/sort_desc). Absent labels
      // read as "" and sort first, matching the matcher semantics.
      val in = eval(child, stepMs, range)
      val labels = dst +: args
      def sLbl(c: String): Column =
        if (in.columns.contains(c)) coalesce(col(c).cast("string"), lit(""))
        else lit("")
      val keys = labels.map(l =>
        if (name == "sort_by_label") sLbl(l).asc else sLbl(l).desc)
      val tiebreak = in.columns
        .filterNot(c => labels.contains(c) || c == "value").sorted
        .map(c => col(c).asc)
      in.orderBy(keys ++ tiebreak: _*)

    case LabelFn(name, child, dst, args) =>
      // label manipulation over the child frame's label columns. Absent /
      // null labels read as "" (Prometheus); the synthesized dst column
      // behaves as a label for downstream grouping/matching. dst may
      // overwrite an existing label but never a structural column.
      val in = eval(child, stepMs, range)
      // Prometheus 3 UTF-8 label names: any non-empty destination that
      // does not collide with a structural output column (round 15 —
      // the quoting shadow makes dotted dst columns safe downstream)
      if (dst.isEmpty || dst == "value" ||
          dst == "bucket_ms" || dst == "ts_ms" ||
          dst == metricCol || seriesCols.contains(dst))
        throw new IllegalArgumentException(
          s"$name destination '$dst' is not a usable label name")
      def lbl(c: String): Column =
        if (in.columns.contains(c)) coalesce(col(c).cast("string"), lit(""))
        else lit("")
      name match {
        case "label_join" => // args = sep +: srcLabels
          in.withColumn(dst, concat_ws(args.head, args.tail.map(lbl): _*))
        case "label_replace" => // args = Seq(replacement, src, regex)
          val Seq(repl, src, regex) = args: @unchecked
          val pat =
            try java.util.regex.Pattern.compile(regex)
            catch { case e: java.util.regex.PatternSyntaxException =>
              throw new IllegalArgumentException(
                s"label_replace regex does not compile: ${e.getMessage}") }
          val anchored = "\\A(?:" + pat.pattern + ")\\z"
          val srcS = lbl(src)
          val existing = if (in.columns.contains(dst)) lbl(dst) else lit("")
          in.withColumn(dst,
            when(srcS.rlike(anchored),
              regexp_replace(srcS, lit(anchored), lit(goTemplate(repl, pat))))
              .otherwise(existing))
        case other =>
          throw new IllegalArgumentException(s"unknown label function '$other'")
      }

    case CountValues(lbl, by, child) =>
      val in = withStepBucket(eval(child, stepMs, range), stepMs)
      // grouping labels validate against the CHILD FRAME's columns (a child
      // may synthesize labels, e.g. nested count_values)
      by.find(l => !in.columns.contains(l)).foreach(l =>
        throw new IllegalArgumentException(
          s"unknown grouping label '$l' (available: ${in.columns.mkString(", ")})"))
      // the synthesized label must be a non-empty, non-colliding label
      // name (any UTF-8 — Prometheus 3; the quoting shadow keeps dotted
      // columns safe downstream)
      if (lbl.isEmpty || lbl == "value" ||
          lbl == "bucket_ms" || lbl == "ts_ms" ||
          lbl == metricCol || seriesCols.contains(lbl))
        throw new IllegalArgumentException(
          s"count_values label '$lbl' is not a usable label name")
      if (in.columns.contains(lbl))
        throw new IllegalArgumentException(
          s"count_values label '$lbl' collides with an existing column " +
            s"(${in.columns.mkString(", ")})")
      val keys = by.sorted.map(col) ++
        (if (in.columns.contains("bucket_ms")) Seq(col("bucket_ms")) else Nil)
      // the stringified sample value becomes a NEW label column — grouped
      // on the RAW double (bijective with its shortest decimal), then
      // rendered post-aggregation over the few distinct values with Go's
      // strconv.FormatFloat(v, 'f', -1, 64) — exactly Prometheus's
      // count_values label text ("2" not "2.0", plain decimal at any
      // magnitude, never scientific notation)
      in.groupBy(keys :+ col("value").as("__cv_raw__"): _*)
        .agg(count(lit(1)).cast("double").as("value"))
        .withColumn(lbl, org.apache.spark.sql.functions.expr(
          PromQLContext.goFloatTextExpr("__cv_raw__")))
        .select(by.sorted.map(col) ++
          (if (in.columns.contains("bucket_ms")) Seq(col("bucket_ms"))
           else Nil) ++ Seq(col(lbl), col("value")): _*)

    case Agg(op, by, child, without) =>
      // a stepped agg over a raw selector buckets ts_ms; over a range fn the
      // child's window bucket stands (re-bucketing would mix window sums)
      val in = withStepBucket(eval(child, stepMs, range), stepMs)
      // `by` labels validate against the CHILD FRAME's columns — a child can
      // synthesize labels the static map doesn't know (count_values), and a
      // selector child emits every bound label as a column. `without` skips
      // the check: excluding an unknown label is a no-op (Prometheus).
      if (!without) by.find(l => !in.columns.contains(l)).foreach(l =>
        throw new IllegalArgumentException(
          if (l == "__name__")
            "group by (__name__) needs \"__name__\" bound to the metric " +
              "column in the labels map (the engine tier binds it automatically)"
          else s"unknown grouping label '$l' (available: ${in.columns.mkString(", ")})"))
      // `without (l...)` inverts: group by every known label except these.
      // __name__ is ALWAYS dropped under without (Prometheus aggregations
      // strip the metric name), even when it is bound as a label; only
      // labels actually present on the child frame survive as keys.
      // `without` keeps EVERY label the child actually carries except the
      // listed ones — derived from the frame's columns, not the static
      // binding map, so labels the child SYNTHESIZED (count_values' value
      // label, label_replace/label_join dst) survive the aggregation as
      // Prometheus keeps them. Structural columns (value/time/series
      // tiebreaks/internals) are never grouping keys.
      val structuralCols =
        Set("value", "bucket_ms", "ts_ms", "__name__") ++ seriesCols
      val effBy = if (without)
        in.columns.toSeq
          .filterNot(structuralCols.contains)
          .filterNot(_.startsWith("__"))
          .filterNot(by.contains)
      else by
      val keys = effBy.sorted.map(col) ++
        (if (in.columns.contains("bucket_ms")) Seq(col("bucket_ms")) else Nil)
      val agg = (op match {
        case MetricAgg.Sum => sum(col("value"))
        case MetricAgg.Min => min(col("value"))
        case MetricAgg.Max => max(col("value"))
        case MetricAgg.Avg => avg(col("value"))
        // empty-input guard: COUNT is the one aggregate whose zero value is
        // non-null, so the ungrouped `.agg()` path would answer
        // `count(no_such_metric)` with 0 where Prometheus returns an empty
        // vector — null instead, matching every other aggregate's
        // empty-input convention (the serving edge filters null-value rows
        // into an empty result). Grouped paths never see an empty group,
        // so there the guard is a no-op.
        case MetricAgg.Count =>
          when(count(lit(1)) === 0, lit(null).cast("double"))
            .otherwise(count(lit(1)).cast("double"))
        case MetricAgg.Stddev => stddev_pop(col("value"))
        case MetricAgg.Stdvar => var_pop(col("value"))
        case MetricAgg.Group => max(lit(1.0))
      }).as("value")
      if (keys.isEmpty) in.agg(agg) else in.groupBy(keys: _*).agg(agg)
  }

  /** Epoch-aligned step bucket over `ts_ms`, unless the frame already
    * carries window buckets (range functions own their buckets) or has no
    * time column at all (fully-aggregated / shape-fn outputs pass through). */
  private def withStepBucket(in: DataFrame, stepMs: Option[Long]): DataFrame =
    if (in.columns.contains("bucket_ms") || stepMs.isEmpty ||
        !in.columns.contains("ts_ms")) in
    else in.withColumn("bucket_ms",
      floor(col("ts_ms") / lit(stepMs.get)).cast("long") * stepMs.get)

  private def isSetOp(op: String): Boolean =
    op == "and" || op == "or" || op == "unless"

  /** The bounded step grid (one row per bucket) that time()/vector() and
    * stepped absent() emit over — requires an explicit range. */
  private def stepGrid(st: Long, range: Option[TimeRange],
      what: String): DataFrame = {
    val r = range.filter(r =>
      r.start != Long.MinValue && r.end != Long.MaxValue).getOrElse(
      throw new IllegalArgumentException(
        s"$what with a step needs an explicit bounded range"))
    val lo = math.floorDiv(r.start, st) * st
    val hi = math.floorDiv(r.end - 1, st) * st
    samples.sparkSession.range(lo, hi + 1, st).toDF("bucket_ms")
  }

  /** scalar(expr): per step-bucket (global when the child carries no
    * bucket), the child's single value — NaN when empty or multi-element
    * (Prometheus's scalar() contract). Output: [bucket_ms,] __sv__. */
  private def scalarFrame(e: Expr, stepMs: Option[Long],
      range: Option[TimeRange]): DataFrame = {
    val in = withStepBucket(eval(e, stepMs, range), stepMs)
    val hasBucket = in.columns.contains("bucket_ms")
    val g =
      if (hasBucket) in.groupBy("bucket_ms")
        .agg(count(lit(1)).as("__n__"), max(col("value")).as("__mx__"))
      else in.agg(count(lit(1)).as("__n__"), max(col("value")).as("__mx__"))
    g.select((if (hasBucket) Seq(col("bucket_ms")) else Nil) :+
      when(col("__n__") === 1, col("__mx__"))
        .otherwise(lit(Double.NaN)).as("__sv__"): _*)
  }

  /** vector ∘ scalar(expr): the scalar joins on the step bucket alone
    * (broadcast — it is steps-sized) and the vector side keeps its FULL
    * identity; buckets the scalar child never produced coalesce to NaN. */
  private def scalarCombine(vf: DataFrame, sc: Expr, op: String,
      bool: Boolean, stepMs: Option[Long], range: Option[TimeRange],
      leftIsVector: Boolean): DataFrame = {
    val sf = scalarFrame(sc, stepMs, range)
    val joined =
      if (sf.columns.contains("bucket_ms")) {
        val vb = withStepBucket(vf, stepMs)
        if (!vb.columns.contains("bucket_ms"))
          throw new IllegalArgumentException(
            s"operands of '$op' carry different time grains: the scalar() " +
              "side is stepped but the vector side has no step bucket")
        vb.join(broadcast(sf), Seq("bucket_ms"), "left")
      } else vf.crossJoin(broadcast(sf))
    val s = coalesce(col("__sv__"), lit(Double.NaN))
    val (a, b) = if (leftIsVector) (col("value"), s) else (s, col("value"))
    val out =
      if (isCmp(op) && bool) joined.withColumn("value",
        when(applyOp(op, a, b), lit(1.0)).otherwise(lit(0.0)))
      else if (isCmp(op)) joined.filter(applyOp(op, a, b))
      else joined.withColumn("value", applyOp(op, a, b))
    out.drop("__sv__")
  }

  /** Matching key set for a vector∘vector operation: the intersection of
    * the sides' non-value columns (labels + time), overridden by
    * on()/ignoring(). Operands at DIFFERENT time grains (raw ts_ms vs
    * window bucket_ms) would join only on labels and pair rows across
    * arbitrary timestamps — rejected instead of silently multiplying. One
    * side carrying NO time column (fully time-aggregated) is fine: joining
    * a per-timestamp side against a per-range constant is the intended
    * many-to-one shape. */
  private def vectorMatchKeys(lf: DataFrame, rf: DataFrame,
      matching: Option[VectorMatch], op: String): Seq[String] = {
    val lTime = Seq("bucket_ms", "ts_ms").filter(lf.columns.contains)
    val rTime = Seq("bucket_ms", "ts_ms").filter(rf.columns.contains)
    // match on the SHARED grain: a stepped topk keeps raw ts_ms alongside
    // its bucket_ms, and `topk(3, m) / sum(m)` must join per bucket — an
    // exact lTime == rTime test wrongly rejected that shape. Only a truly
    // disjoint pair (raw-only vs bucket-only) has no common timeline.
    if (lTime.nonEmpty && rTime.nonEmpty && lTime.intersect(rTime).isEmpty)
      throw new IllegalArgumentException(
        s"operands of '$op' carry different time grains " +
          s"(${lTime.mkString(",")} vs ${rTime.mkString(",")}): " +
          "bucket both sides to the same step/window first")
    val auto = lf.columns.filterNot(_ == "value")
      .intersect(rf.columns.filterNot(_ == "value")).toSeq
    matching match {
      case Some(vm) if vm.on =>
        // on(...): the listed labels, plus the time column both sides
        // already share (Prometheus matches per evaluation timestamp
        // implicitly; our buckets make that explicit)
        val timeCols = Seq("bucket_ms", "ts_ms").filter(auto.contains)
        vm.labels.foreach { lbl =>
          if (!lf.columns.contains(lbl) || !rf.columns.contains(lbl))
            throw new IllegalArgumentException(
              s"on($lbl): label not present on both operands " +
                s"(${lf.columns.mkString(",")} vs ${rf.columns.mkString(",")})")
        }
        (vm.labels ++ timeCols).distinct
      case Some(vm) => auto.filterNot(vm.labels.contains)
      case None => auto
    }
  }

  private def isCmp(op: String): Boolean =
    op == "==" || op == "!=" || op == ">" || op == ">=" || op == "<" || op == "<="

  /** Wrap a Spark log-family column (which nulls on non-positive input)
    * with Go's edges: log(0) = -Inf, log(negative) = NaN, NaN rides. */
  private def goLog(v: Column, sparkLog: Column): Column =
    when(v > 0.0, sparkLog)
      .when(v === 0.0, lit(Double.NegativeInfinity))
      .otherwise(lit(Double.NaN)) // negative or NaN input

  private def applyOp(op: String, a: Column, b: Column): Column = op match {
    case "+" => a + b
    case "-" => a - b
    case "*" => a * b
    case "/" =>
      // Prometheus/IEEE exactly: x/0 = ±Inf, 0/0 = NaN. Also load-bearing
      // under Spark 4's default ANSI mode, where a bare `a / b` THROWS on
      // a zero divisor at runtime (CaseWhen short-circuits, so the
      // division never executes when b == 0).
      when(b === 0.0,
        when(a > 0.0, lit(Double.PositiveInfinity))
          .when(a < 0.0, lit(Double.NegativeInfinity))
          .otherwise(lit(Double.NaN)))
        .otherwise(a / b)
    case "%" =>
      // Go math.Mod: x % 0 = NaN (ANSI would throw)
      when(b === 0.0, lit(Double.NaN)).otherwise(a % b)
    case "^" =>
      // Go math.Pow (IEEE 754-2008): Pow(1, y) = 1 for ANY y and
      // Pow(-1, ±Inf) = 1, where Java's Math.pow (Spark's `pow`) answers
      // NaN — guard those two; everything else agrees (PromQLParser.goPow
      // is the literal-folding twin of this column form)
      when(a === 1.0 ||
        (a === -1.0 && abs(b) === Double.PositiveInfinity), lit(1.0))
        .otherwise(pow(a, b))
    case "atan2" => atan2(a, b)
    case "and" | "or" | "unless" => throw new IllegalArgumentException(
      s"set operator '$op' requires vector operands on both sides")
    // Comparisons follow IEEE 754 like Prometheus (Go float compare): ANY
    // comparison involving NaN is false, and NaN != x is true. Spark's
    // native ordering instead ranks NaN above every value and equal to
    // itself (`cpu < NaN` would keep every finite row) — guard explicitly.
    case "==" => !isnan(a) && !isnan(b) && (a === b)
    case "!=" => isnan(a) || isnan(b) || (a =!= b)
    case ">" => !isnan(a) && !isnan(b) && (a > b)
    case ">=" => !isnan(a) && !isnan(b) && (a >= b)
    case "<" => !isnan(a) && !isnan(b) && (a < b)
    case "<=" => !isnan(a) && !isnan(b) && (a <= b)
  }

  /** Parse and evaluate in one call.
    *
    * `stepMs` buckets NON-windowed frames (instant selectors,
    * aggregations over them); range functions OWN their buckets — their
    * window is the output grain and a disagreeing stepMs is ignored on
    * windowed subtrees (tumbling rule). Callers who need window-vs-step
    * agreement enforced should go through `MetricEngine.queryPromQL`,
    * which validates it up front. */
  def sql(promql: String, stepMs: Option[Long] = None,
      range: Option[TimeRange] = None): DataFrame = {
    val ast0 = PromQLParser.parse(promql)
    // `@ start()` / `@ end()` resolve against the query's inclusive bounds
    val ast =
      if (!PromQLParser.hasAtSentinel(ast0)) ast0
      else {
        val r = range.filter(r =>
          r.start != Long.MinValue && r.end != Long.MaxValue).getOrElse(
          throw new IllegalArgumentException(
            "@ start()/end() need an explicit bounded query range"))
        PromQLParser.resolveAtTimes(ast0, r.start, r.end - 1)
      }
    eval(ast, stepMs, range)
  }

  /** Instant-vector evaluation at one timestamp — the flat-context twin of
    * `MetricEngine.instantPromQL` (same semantics, documented there and in
    * PROMQL.md deviation #6): windowless expressions evaluate over each
    * series' NEWEST sample within `(timeMs - lookbackMs, timeMs]` — exact
    * Prometheus instant semantics, stale series dropping out; windowed
    * expressions (round 11) pin every range selector to the evaluation
    * time, so `rate(m[5m])` reads the exact `(T-w, T]` sliding window at
    * any unaligned T (subqueries keep the tumbling newest-bucket
    * fallback). The lookback restriction is applied PER
    * SELECTOR on its own offset-shifted timeline (`m offset 1h` sees the
    * newest sample in `(T-1h-lookback, T-1h]`), and `@`-pinned windows
    * read their full pinned ranges unrestricted — both exactly as
    * Prometheus evaluates them. */
  def sqlInstant(promql: String, timeMs: Long,
      lookbackMs: Long = 300000L): DataFrame = {
    require(lookbackMs > 0, s"lookbackMs must be positive, got $lookbackMs")
    // instant queries define start() = end() = the evaluation time
    val ast = PromQLParser.resolveAtTimes(
      PromQLParser.parse(promql), timeMs, timeMs)
    val ws = PromQLContext.innerWindows(ast)
    val range = TimeRange(timeMs - lookbackMs + 1, timeMs + 1)
    def instantCtx = new PromQLContext(samples, metricCol, tsMs, valueCol,
      labels, ordering, seriesCols, instantSelectors = true)
    if (ws.isEmpty) instantCtx.eval(ast, None, Some(range))
    else PromQLParser.pinRangeSelectors(ast, timeMs + 1) match {
      case Some(pinned) =>
        // exact sliding lookback: pinned windows read (T-w, T] themselves
        instantCtx.eval(pinned, None, Some(range))
      case None =>
        val w = ws.max
        val step = if (ws.distinct.length == 1) Some(ws.head) else None
        val df = eval(ast, step, Some(TimeRange(timeMs - 2 * w + 1, timeMs + 1)))
        if (!df.columns.contains("bucket_ms")) df
        else {
          val idCols = df.columns.filter(c => c != "value" && c != "bucket_ms")
          val part =
            if (idCols.isEmpty) Seq(lit(0)) else idCols.toSeq.map(col)
          val win = org.apache.spark.sql.expressions.Window
            .partitionBy(part: _*).orderBy(col("bucket_ms").desc)
          df.withColumn("__rn__", row_number().over(win))
            .filter(col("__rn__") === 1).drop("__rn__", "bucket_ms")
        }
    }
  }

  /** Instant-mode restriction: each series' newest row of `df` (identity =
    * metric + bound label columns + extra identity columns, newest by
    * `ordering`). Identity outside instant mode. */
  private def latestPerSeries(df: DataFrame): DataFrame =
    if (!instantSelectors) df
    else {
      val idCols = (metricCol +: (labels.values.toSeq ++ seriesCols)).distinct
      val ord = if (ordering.nonEmpty) ordering else Seq(tsMs)
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(idCols.map(col): _*).orderBy(ord.map(_.desc): _*)
      df.withColumn("__rn__", row_number().over(win))
        .filter(col("__rn__") === 1).drop("__rn__")
    }

  /** Offset-shifted timestamp: a selector `offset 5m` reads data 5m back and
    * re-stamps it onto the query timeline, so buckets/joins line up with
    * unshifted operands. */
  private def shifted(offsetMs: Long): Column =
    if (offsetMs == 0L) tsMs else tsMs + lit(offsetMs)

  private def select(metric: String, matchers: Seq[LabelMatcher],
      offsetMs: Long, range: Option[TimeRange]): DataFrame = {
    // metric == "": multi-metric selection via __name__ matchers (bare
    // `{...}` selector form); per-series ops stay safe when seriesCols (or
    // a bound __name__ label) carry the metric identity.
    var df = if (metric.isEmpty) src
      else src.filter(col(metricCol) === metric)
    // the range applies on the QUERY timeline; the scan window shifts back.
    // Unbounded sentinels stay put — Long.MinValue - offset would wrap.
    range.foreach { r =>
      val lo = if (r.start == Long.MinValue) r.start else r.start - offsetMs
      val hi = if (r.end == Long.MaxValue) r.end else r.end - offsetMs
      df = df.filter(tsMs >= lo && tsMs < hi)
    }
    matchers.foreach { m =>
      // __name__ always addresses the metric column, bound or not
      val c = if (m.label == "__name__") col(metricCol)
        else col(labels.getOrElse(m.label,
          throw new IllegalArgumentException(s"unknown label '${m.label}'")))
      df = df.filter(matcherPredicate(c, m))
    }
    df
  }
}

object PromQLContext {

  /** Labels `absent()`/`absent_over_time()` reconstruct from their
    * selector — Prometheus's `createLabelsForAbsentFunction`: each `=`
    * matcher with a non-empty value contributes `label=value`; a label
    * also touched by any other matcher (regex, negative, a second `=`)
    * is dropped entirely. `__name__` and names colliding with the
    * evaluator's structural columns never reconstruct. */
  def absentReconLabels(sel: Selector): Seq[(String, String)] = {
    val ms = sel.matchers.filterNot(_.label == "__name__")
    val multi = ms.groupBy(_.label).collect { case (l, g)
      if g.size > 1 || g.exists(m => m.op != MatchOp.Eq || m.value.isEmpty)
      => l }.toSet
    ms.collect {
      case LabelMatcher(l, MatchOp.Eq, v)
        if v.nonEmpty && !multi(l) &&
          !Set("value", "bucket_ms", "ts_ms")(l) => l -> v
    }.sortBy(_._1)
  }

  /** SQL expression rendering a DOUBLE column `c` exactly as Go's
    * `strconv.FormatFloat(v, 'f', -1, 64)` — Prometheus's `count_values`
    * label text: shortest round-trip digits in PLAIN decimal ("2" not
    * "2.0", "0.0000001" not "1.0E-7", zero-padded integers at any
    * magnitude, never scientific notation; NaN/±Inf as Go spells them).
    * Java's `Double.toString` already produces the shortest round-trip
    * digits, so this is pure string surgery: expand the exponent and drop
    * the mandatory ".0" on integral values. The `transform(array(x), …)`
    * wrappers are let-bindings (each subexpression computes once). */
  def goFloatTextExpr(c: String): String =
    s"""CASE
       |  WHEN isnan($c) THEN 'NaN'
       |  WHEN $c = CAST('Infinity' AS DOUBLE) THEN '+Inf'
       |  WHEN $c = CAST('-Infinity' AS DOUBLE) THEN '-Inf'
       |  ELSE concat(
       |    IF(startswith(CAST($c AS STRING), '-'), '-', ''),
       |    element_at(transform(
       |      array(regexp_replace(CAST($c AS STRING), '^-', '')), u ->
       |      IF(instr(u, 'E') = 0, regexp_replace(u, '\\\\.0$$', ''),
       |        element_at(transform(array(named_struct(
       |            'd', IF(regexp_replace(regexp_replace(
       |                   substring_index(u, 'E', 1), '\\\\.', ''),
       |                   '0+$$', '') = '', '0',
       |                 regexp_replace(regexp_replace(
       |                   substring_index(u, 'E', 1), '\\\\.', ''),
       |                   '0+$$', '')),
       |            'e', CAST(substring_index(u, 'E', -1) AS INT))), x ->
       |          CASE
       |            WHEN x.e < 0 THEN
       |              concat('0.', repeat('0', -x.e - 1), x.d)
       |            WHEN length(x.d) <= x.e + 1 THEN rpad(x.d, x.e + 1, '0')
       |            ELSE concat(substring(x.d, 1, x.e + 1), '.',
       |              substring(x.d, x.e + 2))
       |          END), 1))), 1))
       |END""".stripMargin
  /** Range-function windows reachable in `e` WITHOUT crossing a nested
    * subquery boundary (a nested subquery owns its own timeline). Used to
    * reject inner windows that disagree with the enclosing step. */
  private[graft] def innerWindows(e: Expr): Seq[Long] = e match {
    case RangeFn(_, _, w) => Seq(w)
    case RangeSubquery(_, _, w, _) => Seq(w)
    case _ => e.children.flatMap(innerWindows)
  }

  /** Total sliding-mode lookback of `e` in ms: how far BEFORE an output
    * step T a sample can still influence T's value. Unlike [[innerWindows]]
    * this CROSSES subquery boundaries — a subquery's earliest inner step
    * sits up to its window before T, and that step itself needs the
    * child's lookback before it, so lookbacks ADD through nesting. Drives
    * the widened sample read in sliding mode (the top-level widening in
    * MetricEngine.queryPromQLAst and the nested subquery context above).
    * `@`-pinned windows contribute nothing: they read their own pinned
    * range regardless of the query range. */
  private[graft] def slidingLookback(e: Expr): Long = e match {
    case RangeFn(_, _, w) => w
    case RangeSubquery(_, c, w, _) => w + slidingLookback(c)
    case _ => e.children.map(slidingLookback).foldLeft(0L)(math.max)
  }

  /** Driver-side mirror of [[matcherPredicate]] for already-decoded label
    * values (series-meta walks: series discovery, exemplar queries):
    * anchored regexes, absent label = "". */
  def matcherMatches(m: LabelMatcher, v: String): Boolean = m.op match {
    case MatchOp.Eq => v == m.value
    case MatchOp.Ne => v != m.value
    case MatchOp.Re => v.matches(anchor(m.value))
    case MatchOp.Nre => !v.matches(anchor(m.value))
  }

  /** Prometheus regex matchers are fully anchored, and an absent label is
    * the empty string: `{a!="x"}` and `{a!~"x.*"}` MATCH rows without the
    * label, `{a=""}` matches absence, `{a=~""}` matches when the regex
    * accepts empty. Null label values are folded to "" before comparing
    * (null-propagating `=!=` would silently DROP label-less rows).
    * Positive `=` on a non-empty value keeps the native-typed comparison —
    * nulls can't match it anyway, and the untouched column predicate
    * reaches the parquet scan. Shared by the flat-frame and streaming
    * evaluators. */
  def matcherPredicate(c: Column, m: LabelMatcher): Column = {
    val s = coalesce(c.cast("string"), lit(""))
    m.op match {
      case MatchOp.Eq => if (m.value.isEmpty) s === "" else c === m.value
      case MatchOp.Ne => s =!= m.value
      case MatchOp.Re => s.rlike(anchor(m.value))
      case MatchOp.Nre => !s.rlike(anchor(m.value))
    }
  }
  private def anchor(re: String): String = "\\A(?:" + re + ")\\z"

  /** Translate a Go `Regexp.Expand` replacement template into a Java
    * `regexp_replace` replacement. Go semantics (what Prometheus's
    * label_replace uses): `$name`/`${name}` reference a capture group by
    * number or name, a reference to a group the pattern doesn't have
    * expands to the EMPTY STRING (Java throws), `$$` is a literal `$`,
    * and a `$` that starts no valid name is literal. Literal `\` and `$`
    * in the output are escaped for Java's replacement-string parser. */
  private[promql] def goTemplate(template: String,
      pat: java.util.regex.Pattern): String = {
    val namedGroups =
      "\\(\\?<([A-Za-z][A-Za-z0-9]*)>".r.findAllMatchIn(pat.pattern())
        .map(_.group(1)).toSet
    val groupCount = pat.matcher("").groupCount()
    val sb = new StringBuilder
    def emitLit(c: Char): Unit = c match {
      case '$' => sb.append("\\$")
      case '\\' => sb.append("\\\\")
      case other => sb.append(other)
    }
    var i = 0
    while (i < template.length) {
      val c = template.charAt(i)
      if (c == '$' && i + 1 < template.length) {
        if (template.charAt(i + 1) == '$') { sb.append("\\$"); i += 2 }
        else {
          val braced = template.charAt(i + 1) == '{'
          var j = i + (if (braced) 2 else 1)
          val start = j
          while (j < template.length &&
              (template.charAt(j).isLetterOrDigit || template.charAt(j) == '_'))
            j += 1
          val name = template.substring(start, j)
          if (braced && (j >= template.length || template.charAt(j) != '}')) {
            // malformed ${... with no closing brace: Go emits nothing for
            // the rest of the reference; treat the bare `$` as literal and
            // continue after it, which matches Expand's recovery closely
            // enough for label values
            emitLit(c); i += 1
          } else if (name.isEmpty) { emitLit(c); i += 1 }
          else {
            val numeric = name.forall(_.isDigit)
            val valid = // $0 is the whole match; absurd numbers can't overflow
              if (numeric) name.length <= 4 && name.toInt <= groupCount
              else namedGroups.contains(name)
            if (valid) sb.append(if (numeric) "$" + name.toInt else "$" + "{" + name + "}")
            // invalid reference → empty string (Go), instead of Java's throw
            i = j + (if (braced) 1 else 0)
          }
        }
      } else { emitLit(c); i += 1 }
    }
    sb.toString
  }
}
