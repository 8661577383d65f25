package graft.promql

import graft.metric.MetricAgg

/** PromQL expression surface — the text form of the query language the
  * reference specifies for its Prometheus integration (reference RFC
  * docs/rfcs/20220702-prometheus-read-extension.md:78-99 "HoraeDB supports
  * sum and rate"; label-matcher selection semantics per the same RFC's
  * filter examples). The reference ships no parser (SURVEY §2.12) — the RFC
  * is spec-only — so this is the spec made executable: a hand-rolled
  * tokenizer + recursive-descent parser with zero dependencies.
  *
  * Supported grammar (a deliberate superset of the RFC's sum+rate):
  * {{{
  *   expr     := binary over: agg | paramagg | fncall | histq | vector | num
  *   binary   := expr op ('bool')? (matching)? expr     (Prometheus precedence:
  *               * / % atan2 > + - > comparisons > and/unless > or;
  *               and = label-set semi-join, unless = anti, or = union+fill)
  *   matching := ('on'|'ignoring') '(' labels? ')'
  *               (('group_left'|'group_right') ('(' labels? ')')?)?
  *   agg      := aggop grouping? '(' expr ')' grouping?
  *   aggop    := sum | min | max | avg | count
  *   grouping := ('by'|'without') '(' label (',' label)* ')'
  *   paramagg := (topk|bottomk|quantile|limitk|limit_ratio) grouping? '(' '-'? num ',' expr ')' grouping?
  *   fncall   := scalarfn '(' expr (',' num)* ')'
  *   scalarfn := abs|ceil|floor|sqrt|exp|ln|log2|log10|round|clamp|clamp_min|clamp_max
  *             | minute|hour|day_of_week|day_of_month|day_of_year
  *             | days_in_month|month|year | sort|sort_desc
  *             | sin|cos|tan|asin|acos|atan|sinh|cosh|tanh
  *             | asinh|acosh|atanh|deg|rad   (and the scalar pi())
  *   histq    := 'histogram_quantile' '(' num ',' expr ')'
  *   vector   := rangefn '(' selector '[' duration ']' offset? ')' | selector offset?
  *             | 'quantile_over_time' '(' num ',' selector '[' duration ']' offset? ')'
  *             | 'predict_linear' '(' selector '[' duration ']' offset? ',' num ')'
  *             | 'holt_winters' '(' selector '[' duration ']' offset? ',' num ',' num ')'
  *             | ('label_replace'|'label_join'
  *                |'sort_by_label'|'sort_by_label_desc') '(' expr (',' string)+ ')'
  *   rangefn  := rate | increase | delta | irate | idelta | deriv
  *             | resets | changes
  *             | (avg|min|max|sum|count|last|present)_over_time
  *   subquery := rangefn '(' expr '[' duration ':' duration ']' ')'
  *               (inner expr re-evaluated per step; binary 'atan2' at the
  *               '*' precedence level)
  *   offset   := 'offset' duration
  *   at       := '@' number      (epoch seconds; range vectors only — pins
  *               the window to [t-w, t), output has no time column)
  *   selector := metric ('{' matcher (',' matcher)* '}')? | '{' ... '}'
  *   matcher  := label ('=' | '!=' | '=~' | '!~') string
  *   duration := (int ('ms'|'s'|'m'|'h'|'d'|'w'))+      e.g. 1h30m
  * }}}
  */
sealed trait Expr {

  /** The sub-expressions this node evaluates, left to right. `RangeFn`
    * and `AtRange` are leaves: their selector is a typed field, never a
    * child, so [[mapChildren]] cannot put another node kind there. */
  def children: Seq[Expr] = this match {
    case RangeSubquery(_, c, _, _) => Seq(c)
    case Agg(_, _, c, _) => Seq(c)
    case ParamAgg(_, _, _, c) => Seq(c)
    case CountValues(_, _, c) => Seq(c)
    case BinOp(_, a, b, _, _) => Seq(a, b)
    case FnCall(_, c, _) => Seq(c)
    case HistogramQuantile(_, c) => Seq(c)
    case LabelFn(_, c, _, _) => Seq(c)
    case _: Selector | _: RangeFn | _: AtRange | _: NumLit => Nil
  }

  /** This node with `f` applied to each of its [[children]]. */
  def mapChildren(f: Expr => Expr): Expr = this match {
    case q: RangeSubquery => q.copy(child = f(q.child))
    case a: Agg => a.copy(child = f(a.child))
    case p: ParamAgg => p.copy(child = f(p.child))
    case c: CountValues => c.copy(child = f(c.child))
    case b: BinOp => b.copy(lhs = f(b.lhs), rhs = f(b.rhs))
    case c: FnCall => c.copy(child = f(c.child))
    case h: HistogramQuantile => h.copy(child = f(h.child))
    case l: LabelFn => l.copy(child = f(l.child))
    case _: Selector | _: RangeFn | _: AtRange | _: NumLit => this
  }
}

/** `=` / `!=` / `=~` / `!~`. Regex matchers are fully anchored, as in
  * Prometheus (`env=~"prod|stag"` matches exactly, not substrings). */
sealed trait MatchOp
object MatchOp {
  case object Eq extends MatchOp
  case object Ne extends MatchOp
  case object Re extends MatchOp
  case object Nre extends MatchOp
}

final case class LabelMatcher(label: String, op: MatchOp, value: String)

/** `metric{label=~"v", ...} offset 5m` — instant-vector selection.
  * `offsetMs` shifts the evaluation window back in time: the value at query
  * time t is the underlying value at t - offset, re-stamped to t. */
final case class Selector(metric: String, matchers: Seq[LabelMatcher],
    offsetMs: Long = 0L) extends Expr {

  /** Every matcher, the metric name first as a `__name__ =` matcher. */
  def allMatchers: Seq[LabelMatcher] =
    (if (metric.nonEmpty) Seq(LabelMatcher("__name__", MatchOp.Eq, metric))
    else Nil) ++ matchers
}

/** Range-vector functions over a window. */
sealed trait RangeF
object RangeF {
  /** Per-second reset-aware increase. */
  case object Rate extends RangeF
  /** Reset-aware counter increase over the window. */
  case object Increase extends RangeF
  /** Last-minus-first gauge delta over the window. */
  case object Delta extends RangeF
  /** `avg_over_time` etc. — plain aggregates over the window's samples. */
  case object AvgOverTime extends RangeF
  case object MinOverTime extends RangeF
  case object MaxOverTime extends RangeF
  case object SumOverTime extends RangeF
  case object CountOverTime extends RangeF
  /** Newest sample in the window (by the context's series ordering). */
  case object LastOverTime extends RangeF
  /** 1.0 for every window that contains at least one sample. */
  case object PresentOverTime extends RangeF
  /** 1.0 for every window of the bounded range with NO samples at all —
    * present's complement, over the step grid (value-only rows like
    * `absent`; labels are not reconstructed from matchers). */
  case object AbsentOverTime extends RangeF
  /** Population standard deviation of the window's samples. */
  case object StddevOverTime extends RangeF
  /** Population variance of the window's samples. */
  case object StdvarOverTime extends RangeF
  /** Median absolute deviation: median(|x - median(x)|), both medians
    * linearly interpolated (Prometheus quantile(0.5) convention). */
  case object MadOverTime extends RangeF
  /** Count of counter resets (value drops between consecutive samples). */
  case object Resets extends RangeF
  /** Count of value changes between consecutive samples. */
  case object Changes extends RangeF
  /** Newest minus second-newest sample (gauge instant delta). */
  case object Idelta extends RangeF
  /** Reset-aware per-second rate from the last two samples. */
  case object Irate extends RangeF
  /** Per-second least-squares slope over the window's samples. */
  case object Deriv extends RangeF
  /** Exact interpolated quantile of the window's samples,
    * `quantile_over_time(q, sel[w])`. */
  final case class QuantileOverTime(q: Double) extends RangeF
  /** Least-squares prediction `tSec` seconds past the window end,
    * `predict_linear(sel[w], tSec)`. */
  final case class PredictLinear(tSec: Double) extends RangeF
  /** Holt-Winters double exponential smoothing of the window's samples,
    * `holt_winters(sel[w], sf, tf)`: sf smooths the level, tf the trend;
    * the result is the final smoothed level. Requires ≥ 2 samples. */
  final case class HoltWinters(sf: Double, tf: Double) extends RangeF
}

final case class RangeFn(fn: RangeF, sel: Selector, windowMs: Long) extends Expr

/** `fn(sel[w] @ t)` — the range function evaluated over the single pinned
  * window `[t - w, t)` (Prometheus `@` modifier, t in epoch seconds at
  * parse time, stored in ms). The output is TIME-PINNED: labels + value,
  * no bucket column — it joins against stepped operands as a per-range
  * constant (the evaluator's many-to-one convention), exactly the
  * "ratio to a fixed baseline" use `@` exists for. */
final case class AtRange(fn: RangeF, sel: Selector, windowMs: Long,
    atMs: Long) extends Expr

/** Subquery range vector: `fn(expr[windowMs:stepMs])` — the inner expression
  * is evaluated on the `stepMs` timeline (tumbling sub-buckets), then the
  * range function runs over those per-step points exactly as it would over
  * raw samples (Prometheus subqueries, e.g.
  * `max_over_time(sum(job:rate)[1d:1h])` = daily max of hourly sums).
  * `offset` on the subquery itself is not supported — offset the inner
  * selector(s); inner range-function windows must equal `stepMs` (windowed
  * functions own their buckets on the subquery's timeline). */
final case class RangeSubquery(fn: RangeF, child: Expr, windowMs: Long,
    stepMs: Long) extends Expr

/** `sum by (dc) (...)`. Empty `by` aggregates everything to one series;
  * `without = true` inverts the listed labels (group by every label EXCEPT
  * these, Prometheus `sum without (instance) (...)`). */
final case class Agg(op: MetricAgg, by: Seq[String], child: Expr,
    without: Boolean = false) extends Expr

/** Parameterized aggregations: `topk(3, ...)`, `bottomk(3, ...)`,
  * `quantile(0.9, ...)`. `by` scopes the ranking / quantile group. */
sealed trait ParamOp
object ParamOp {
  case object TopK extends ParamOp
  case object BottomK extends ParamOp
  case object Quantile extends ParamOp
  case object LimitK extends ParamOp
  case object LimitRatio extends ParamOp
}

final case class ParamAgg(op: ParamOp, param: Double, by: Seq[String],
    child: Expr) extends Expr

/** `count_values("label", expr)` — samples counted per distinct value,
  * the stringified value emitted as a NEW label named `label`. */
final case class CountValues(label: String, by: Seq[String], child: Expr)
  extends Expr

/** Scalar literal in a binary expression (`cpu * 100`, `2 * cpu`). */
final case class NumLit(value: Double) extends Expr

/** Many-to-one side of a vector match (`group_left` / `group_right`). */
sealed trait GroupSide
object GroupSide {
  case object Left extends GroupSide
  case object Right extends GroupSide
}

/** `on(l1, l2)` / `ignoring(l1)` vector-matching modifier, with an optional
  * `group_left(include...)` / `group_right(include...)` many-to-one side.
  * `on = true` restricts matching to exactly `labels`; `on = false`
  * (ignoring) matches on everything BUT `labels`. `include` copies the
  * listed labels from the "one" side into the result. */
final case class VectorMatch(on: Boolean, labels: Seq[String],
    group: Option[GroupSide] = None, include: Seq[String] = Nil)

/** Binary operation. Arithmetic (`+ - * / %`) combines values; comparisons
  * (`> >= < <= == !=`) FILTER the left side unless `bool` is set, in which
  * case they return 1.0/0.0. Vector∘vector matches on the intersection of
  * the two sides' label/bucket columns unless `matching` overrides it. */
final case class BinOp(op: String, lhs: Expr, rhs: Expr,
    bool: Boolean = false, matching: Option[VectorMatch] = None) extends Expr

/** Scalar math mapped over an instant vector's values: `abs(v)`,
  * `round(v, to_nearest)`, `clamp(v, min, max)`, ... Extra scalar arguments
  * ride in `args` (Prometheus argument order, vector first). */
final case class FnCall(name: String, child: Expr, args: Seq[Double] = Nil)
  extends Expr

/** `histogram_quantile(q, expr)` over classic `le`-bucketed counters. */
final case class HistogramQuantile(q: Double, child: Expr) extends Expr

/** Label-manipulation functions:
  *  - `label_replace(v, dst, replacement, src, regex)` —
  *    `args = Seq(replacement, src, regex)`; where the anchored regex
  *    matches the src label value, dst := replacement with `$n` capture
  *    references expanded; elsewhere the row is unchanged;
  *  - `label_join(v, dst, sep, src...)` — `args = sep +: srcLabels`;
  *    dst := the src label values joined with sep (absent labels = "");
  *  - `sort_by_label(_desc)(v, l1, ...)` — presentation ordering by label
  *    VALUES (`dst` holds the first label, `args` the rest). */
final case class LabelFn(name: String, child: Expr, dst: String,
    args: Seq[String]) extends Expr

final case class PromQLParseException(msg: String, pos: Int)
  extends IllegalArgumentException(s"PromQL parse error at $pos: $msg")

object PromQLParser {

  /** Prometheus's default lookback delta (5 m) — the window an instant
    * selector `m @ t` desugars over. */
  val LookbackMs: Long = 300000L

  /** Parse-time sentinels for `@ start()` / `@ end()`: resolved against
    * the actual query range by [[resolveAtTimes]] at the evaluation entry
    * points (the parser cannot know the range). The `Incl` variants are
    * emitted by the INSTANT-selector desugar (`m @ end()`), whose pinned
    * lookback must INCLUDE the boundary sample — they resolve one ms past
    * the bound so the half-open pinned window `[at-w, at)` becomes
    * Prometheus's `(t-w, t]`. Values are outside any realistic epoch-ms
    * timestamp. */
  val AtStart: Long = Long.MinValue + 1
  val AtEnd: Long = Long.MaxValue - 1
  val AtStartIncl: Long = Long.MinValue + 2
  val AtEndIncl: Long = Long.MaxValue - 2
  private val Sentinels = Set(AtStart, AtEnd, AtStartIncl, AtEndIncl)

  /** Whether an `AtRange.atMs` is an unresolved sentinel. */
  def isAtSentinel(at: Long): Boolean = Sentinels.contains(at)

  /** Go's `math.Pow` where it disagrees with `java.lang.Math.pow` — the
    * IEEE 754-2008 special cases Prometheus inherits: `Pow(1, y) = 1` for
    * ANY y (Java answers NaN for y = NaN or ±Inf) and `Pow(-1, ±Inf) = 1`
    * (Java: NaN). Everything else matches Java exactly. */
  def goPow(a: Double, b: Double): Double =
    if (a == 1.0 || (a == -1.0 && b.isInfinity)) 1.0 else math.pow(a, b)

  /** Whether `e` still carries an unresolved `@ start()`/`@ end()`. */
  def hasAtSentinel(e: Expr): Boolean = e match {
    case AtRange(_, _, _, at) => Sentinels.contains(at)
    case _ => e.children.exists(hasAtSentinel)
  }

  /** Substitute `@ start()` / `@ end()` with the query's actual bounds
    * (epoch ms). Entry points call this once, with `startMs`/`endMs` the
    * INCLUSIVE Prometheus-timeline bounds (instant queries pass the
    * evaluation time for both, as Prometheus defines). */
  def resolveAtTimes(e: Expr, startMs: Long, endMs: Long): Expr = e match {
    case a @ AtRange(_, _, _, at) =>
      if (at == AtStart) a.copy(atMs = startMs)
      else if (at == AtEnd) a.copy(atMs = endMs)
      else if (at == AtStartIncl) a.copy(atMs = startMs + 1)
      else if (at == AtEndIncl) a.copy(atMs = endMs + 1)
      else a
    case _ => e.mapChildren(resolveAtTimes(_, startMs, endMs))
  }

  /** Pin every UN-PINNED range selector to `pinMs` — the exact
    * sliding-lookback instant rewrite (PROMQL.md deviation #1, lifted for
    * instant queries): with `pinMs = T + 1`, `rate(m[5m])` evaluated at
    * time T reads Prometheus's exact boundary-inclusive `(T-w, T]` window
    * (the pinned window is half-open `[pin-w, pin)`), at ANY unaligned T —
    * no tumbling-bucket approximation. Explicit `@` pins are left alone.
    * Returns None when the tree contains a subquery — its inner step
    * timeline stays on the documented tumbling semantics, so callers fall
    * back to the tumbling instant path for the whole expression. */
  def pinRangeSelectors(e: Expr, pinMs: Long): Option[Expr] = {
    def pin(x: Expr): Expr = x match {
      case RangeFn(fn, sel, w) => AtRange(fn, sel, w, pinMs)
      case _ => x.mapChildren(pin)
    }
    if (hasSubquery(e)) None else Some(pin(e))
  }

  /** Whether the tree contains a subquery — the one shape whose inner
    * step timeline stays on tumbling semantics under every evaluation
    * mode (sliding range windows and instant pinning both fall back). */
  def hasSubquery(e: Expr): Boolean =
    e.isInstanceOf[RangeSubquery] || e.children.exists(hasSubquery)

  private sealed trait Tok { def pos: Int }
  private final case class TIdent(s: String, pos: Int) extends Tok
  private final case class TStr(s: String, pos: Int) extends Tok
  private final case class TDur(ms: Long, pos: Int) extends Tok
  private final case class TNum(d: Double, pos: Int) extends Tok
  private final case class TPunct(s: String, pos: Int) extends Tok
  private final case class TEnd(pos: Int) extends Tok

  private val AggOps = Map(
    "sum" -> MetricAgg.Sum, "min" -> MetricAgg.Min, "max" -> MetricAgg.Max,
    "avg" -> MetricAgg.Avg, "count" -> MetricAgg.Count,
    "stddev" -> MetricAgg.Stddev, "stdvar" -> MetricAgg.Stdvar,
    "group" -> MetricAgg.Group)
  private val ParamOps = Map(
    "topk" -> ParamOp.TopK, "bottomk" -> ParamOp.BottomK,
    "quantile" -> ParamOp.Quantile,
    "limitk" -> ParamOp.LimitK, "limit_ratio" -> ParamOp.LimitRatio)
  private val RangeFns = Map(
    "rate" -> RangeF.Rate, "increase" -> RangeF.Increase, "delta" -> RangeF.Delta,
    "avg_over_time" -> RangeF.AvgOverTime, "min_over_time" -> RangeF.MinOverTime,
    "max_over_time" -> RangeF.MaxOverTime, "sum_over_time" -> RangeF.SumOverTime,
    "count_over_time" -> RangeF.CountOverTime,
    "last_over_time" -> RangeF.LastOverTime,
    "present_over_time" -> RangeF.PresentOverTime,
    "absent_over_time" -> RangeF.AbsentOverTime,
    "stddev_over_time" -> RangeF.StddevOverTime,
    "stdvar_over_time" -> RangeF.StdvarOverTime,
    "mad_over_time" -> RangeF.MadOverTime,
    "resets" -> RangeF.Resets, "changes" -> RangeF.Changes,
    "idelta" -> RangeF.Idelta, "irate" -> RangeF.Irate,
    "deriv" -> RangeF.Deriv)
  /** Scalar vector functions: name → (min extra args, max extra args).
    * `absent` and `timestamp` are shape functions evaluated specially.
    * Calendar functions interpret the sample VALUE as epoch seconds (UTC),
    * as Prometheus does; `sort`/`sort_desc` order the output vector. */
  private val ScalarFns = Map(
    "abs" -> (0, 0), "ceil" -> (0, 0), "floor" -> (0, 0), "sqrt" -> (0, 0),
    "exp" -> (0, 0), "ln" -> (0, 0), "log2" -> (0, 0), "log10" -> (0, 0),
    "sgn" -> (0, 0), "round" -> (0, 1), "clamp" -> (2, 2),
    "clamp_min" -> (1, 1), "clamp_max" -> (1, 1), "absent" -> (0, 0),
    "timestamp" -> (0, 0),
    "minute" -> (0, 0), "hour" -> (0, 0), "day_of_week" -> (0, 0),
    "day_of_month" -> (0, 0), "day_of_year" -> (0, 0),
    "days_in_month" -> (0, 0), "month" -> (0, 0), "year" -> (0, 0),
    "sort" -> (0, 0), "sort_desc" -> (0, 0),
    "scalar" -> (0, 0), "vector" -> (0, 0),
    "sin" -> (0, 0), "cos" -> (0, 0), "tan" -> (0, 0),
    "asin" -> (0, 0), "acos" -> (0, 0), "atan" -> (0, 0),
    "sinh" -> (0, 0), "cosh" -> (0, 0), "tanh" -> (0, 0),
    "asinh" -> (0, 0), "acosh" -> (0, 0), "atanh" -> (0, 0),
    "deg" -> (0, 0), "rad" -> (0, 0))
  private val DurUnits = List( // longest-match first
    "ms" -> 1L, "w" -> 604800000L, "d" -> 86400000L, "h" -> 3600000L,
    "m" -> 60000L, "s" -> 1000L)

  def parse(input: String): Expr = new P(tokenize(input)).parseAll()

  // -------------------------------------------------------------- tokenizer

  private def tokenize(s: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    // ':' continues an identifier (recording-rule names, job:rate5m) but
    // never starts one — a leading ':' is the subquery step separator
    // ([1d:1h]) and lexes as punctuation
    def isIdentStart(c: Char) = c.isLetter || c == '_'
    def isIdent(c: Char) = c.isLetterOrDigit || c == '_' || c == ':'
    while (i < s.length) {
      val c = s(i)
      if (c.isWhitespace) i += 1
      else if (isIdentStart(c)) {
        val start = i
        while (i < s.length && isIdent(s(i))) i += 1
        val word = s.substring(start, i)
        // Inf/NaN are NUMBER literals in PromQL (case-insensitive), not
        // metric names — `x < Inf` must compare, not select a metric "Inf"
        if (word.equalsIgnoreCase("inf"))
          out += TNum(Double.PositiveInfinity, start)
        else if (word.equalsIgnoreCase("nan"))
          out += TNum(Double.NaN, start)
        else out += TIdent(word, start)
      } else if (c.isDigit) {
        // number or duration: digits followed by a unit start a compound
        // duration (1h30m); a fraction or bare digits are a plain number
        // (topk's k, quantile's q)
        val start = i
        var n = 0L
        while (i < s.length && s(i).isDigit) { n = n * 10 + (s(i) - '0'); i += 1 }
        // exponent suffix (1e5, 2.5E-3): part of the number literal
        def eatExponent(): Boolean =
          if (i < s.length && (s(i) == 'e' || s(i) == 'E')) {
            val save = i
            i += 1
            if (i < s.length && (s(i) == '+' || s(i) == '-')) i += 1
            if (i < s.length && s(i).isDigit) {
              while (i < s.length && s(i).isDigit) i += 1
              true
            } else { i = save; false } // not an exponent (e.g. metric "1e"? no — rewind)
          } else false
        if (i < s.length && s(i) == '.') {
          i += 1
          if (i >= s.length || !s(i).isDigit)
            throw PromQLParseException("expected digits after '.'", i)
          while (i < s.length && s(i).isDigit) i += 1
          eatExponent()
          // Parse the sliced literal with Double.parseDouble so decimals like
          // 0.3 round-trip exactly (digit-by-digit accumulation drifts by ULPs;
          // Prometheus itself uses strconv.ParseFloat on the slice).
          out += TNum(java.lang.Double.parseDouble(s.substring(start, i)), start)
        } else if (eatExponent()) {
          out += TNum(java.lang.Double.parseDouble(s.substring(start, i)), start)
        } else DurUnits.find { case (u, _) => s.startsWith(u, i) } match {
          case Some((u, mult)) =>
            var ms = n * mult
            i += u.length
            while (i < s.length && s(i).isDigit) { // compound: 1h30m
              var m = 0L
              while (i < s.length && s(i).isDigit) { m = m * 10 + (s(i) - '0'); i += 1 }
              DurUnits.find { case (u2, _) => s.startsWith(u2, i) } match {
                case Some((u2, mult2)) => ms += m * mult2; i += u2.length
                case None =>
                  throw PromQLParseException("expected duration unit (ms|s|m|h|d|w)", i)
              }
            }
            out += TDur(ms, start)
          case None =>
            // parse the SLICE, not the Long accumulator: a 20+-digit
            // literal wraps the Long silently; Prometheus parses large
            // integer literals as floats
            out += TNum(java.lang.Double.parseDouble(s.substring(start, i)), start)
        }
      } else if (c == '"' || c == '\'') {
        val start = i
        val sb = new StringBuilder
        i += 1
        while (i < s.length && s(i) != c) {
          if (s(i) == '\\' && i + 1 < s.length) {
            // Go-string escape set, like Prometheus: an unknown escape is a
            // loud parse error, not a silently stripped backslash (\d would
            // otherwise become the literal regex "d").
            sb += (s(i + 1) match {
              case '\\' => '\\'
              case '"' => '"'
              case '\'' => '\''
              case 'n' => '\n'
              case 't' => '\t'
              case 'r' => '\r'
              case bad => throw PromQLParseException(
                s"invalid escape sequence '\\$bad' (escape the backslash: \\\\$bad)", i)
            })
            i += 2
          }
          else { sb += s(i); i += 1 }
        }
        if (i >= s.length) throw PromQLParseException("unterminated string", start)
        i += 1
        out += TStr(sb.toString, start)
      } else if (s.startsWith("=~", i) || s.startsWith("!~", i) || s.startsWith("!=", i)
          || s.startsWith("==", i) || s.startsWith(">=", i) || s.startsWith("<=", i)) {
        out += TPunct(s.substring(i, i + 2), i); i += 2
      } else if ("{}()[],=+-*/%<>:@^".indexOf(c) >= 0) {
        out += TPunct(c.toString, i); i += 1
      } else throw PromQLParseException(s"unexpected character '$c'", i)
    }
    out += TEnd(s.length)
    out.result()
  }

  // ----------------------------------------------------------------- parser

  private final class P(toks: Vector[Tok]) {
    private var k = 0
    private def peek: Tok = toks(k)
    private def next(): Tok = { val t = toks(k); k += 1; t }
    private def fail(msg: String): Nothing = throw PromQLParseException(msg, peek.pos)
    private def expect(p: String): Unit = next() match {
      case TPunct(`p`, _) => ()
      case t => throw PromQLParseException(s"expected '$p'", t.pos)
    }

    def parseAll(): Expr = {
      val e = parseExpr()
      peek match {
        case TEnd(_) => e
        case t => throw PromQLParseException("trailing input", t.pos)
      }
    }

    // Precedence climbing, Prometheus order:
    //   * / % atan2  >  + -  >  comparisons  >  and/unless  >  or
    private def parseExpr(): Expr = parseBinary(0)

    private val CmpOps = Set("==", "!=", "<", "<=", ">", ">=")
    private val Precedence = List(
      Set("or"), Set("and", "unless"), CmpOps,
      Set("+", "-"), Set("*", "/", "%"))

    /** `^` — Prometheus's power operator: binds TIGHTER than every other
      * binary operator AND than unary minus (`-2^2` is `-(2^2)`), and is
      * RIGHT-associative (`2^3^2` is `2^(3^2)`) — both via the recursive
      * rhs. Literal^literal folds in place with Go's math.Pow edge rules
      * (the evaluator rejects scalar-only expressions, but a folded
      * constant participates as a scalar operand like any number). */
    private def parsePower(): Expr = {
      val l = parseAtom()
      peek match {
        case TPunct("^", _) =>
          next()
          val matching = parseMatchingOpt()
          (l, parsePower()) match {
            case (NumLit(a), NumLit(b)) if matching.isEmpty =>
              NumLit(PromQLParser.goPow(a, b))
            case (lh, rh) => BinOp("^", lh, rh, bool = false, matching)
          }
        case _ => l
      }
    }

    private def parseBinary(level: Int): Expr =
      if (level == Precedence.length) parsePower()
      else {
        var l = parseBinary(level + 1)
        var more = true
        while (more) peek match {
          case TPunct(op, _) if Precedence(level).contains(op) =>
            next()
            val isCmp = CmpOps.contains(op)
            val bool = peek match {
              case TIdent("bool", p) =>
                if (!isCmp) throw PromQLParseException(
                  s"'bool' modifier only applies to comparison operators, not '$op'", p)
                next(); true
              case _ => false
            }
            val matching = parseMatchingOpt()
            l = BinOp(op, l, parseBinary(level + 1), bool, matching)
          // word operators (set ops and atan2) — in operator position an
          // ident can only be the operator, so these never shadow a metric
          // of the same name
          case TIdent(op @ ("or" | "and" | "unless"), _)
              if Precedence(level).contains(op) =>
            next()
            val matching = parseMatchingOpt()
            l = BinOp(op, l, parseBinary(level + 1), bool = false, matching)
          // infix atan2 sits at the * / % precedence level (Prometheus)
          case TIdent("atan2", _) if Precedence(level).contains("*") =>
            next()
            val matching = parseMatchingOpt()
            l = BinOp("atan2", l, parseBinary(level + 1), bool = false, matching)
          case _ => more = false
        }
        l
      }

    /** `on(...)` / `ignoring(...)` with optional `group_left`/`group_right`
      * and its optional include-label list. After `group_left`/`group_right`
      * a '(' always starts the include list (Prometheus's own ambiguity
      * resolution) — parenthesize the RHS as `group_left () (expr)` never,
      * just write the RHS unparenthesized. */
    private def parseMatchingOpt(): Option[VectorMatch] = peek match {
      case TIdent(kw @ ("on" | "ignoring"), _) =>
        next()
        val labels = parseParenLabels(allowEmpty = true)
        val group = peek match {
          case TIdent(g @ ("group_left" | "group_right"), _) =>
            next()
            val include = peek match {
              case TPunct("(", _) => parseParenLabels(allowEmpty = true)
              case _ => Nil
            }
            Some((if (g == "group_left") GroupSide.Left else GroupSide.Right,
              include))
          case _ => None
        }
        Some(VectorMatch(kw == "on", labels, group.map(_._1),
          group.map(_._2).getOrElse(Nil)))
      case TIdent(g @ ("group_left" | "group_right"), p) =>
        throw PromQLParseException(
          s"'$g' requires an 'on(...)' or 'ignoring(...)' clause before it", p)
      case _ => None
    }

    /** '(' label (',' label)* ')' — empty list allowed when `allowEmpty`. */
    private def parseParenLabels(allowEmpty: Boolean): Seq[String] = {
      expect("(")
      val labels = Seq.newBuilder[String]
      peek match {
        case TPunct(")", p) =>
          if (!allowEmpty) throw PromQLParseException("expected label name", p)
          next()
        case _ =>
          var done = false
          def sep(): Unit = next() match {
            case TPunct(",", _) => ()
            case TPunct(")", _) => done = true
            case t => throw PromQLParseException("expected ',' or ')'", t.pos)
          }
          while (!done) next() match {
            // Prometheus 3 UTF-8 grouping syntax: label names in
            // by/without/on/ignoring/group_* lists may be quoted
            // (sum by ("service.name") (...)) — the spelling OTLP's
            // dotted resource attributes need.
            case TIdent(l, _) => labels += l; sep()
            case TStr(l, p) =>
              if (l.isEmpty)
                throw PromQLParseException("empty label name in list", p)
              labels += l; sep()
            case t => throw PromQLParseException("expected label name", t.pos)
          }
      }
      labels.result()
    }

    private def parseAtom(): Expr = peek match {
      // contextual keyword: an aggop is only an aggregation when followed
      // by '(' or 'by'/'without' — `sum{...}` stays a metric named "sum"
      case TIdent(name, _) if AggOps.contains(name) && startsAgg => parseAgg()
      case TIdent(name, _) if ParamOps.contains(name) && startsAgg => parseParamAgg()
      case TIdent("count_values", _) if startsAgg => parseCountValues()
      case TIdent("histogram_quantile", _) if nextIsParen => parseHistQ()
      // native-histogram scalar functions (Prometheus functions over
      // native histograms only; the flat evaluator rejects them — the
      // engine's instant/range paths route them to the histograms table)
      case TIdent(name @ ("histogram_count" | "histogram_sum" |
          "histogram_avg" | "histogram_stddev" | "histogram_stdvar"), _)
          if nextIsParen =>
        next(); expect("(")
        val child = parseExpr()
        expect(")")
        FnCall(name, child)
      case TIdent("histogram_fraction", _) if nextIsParen =>
        parseHistFraction()
      case TIdent("quantile_over_time", _) if nextIsParen => parseQuantileOT()
      case TIdent("predict_linear", _) if nextIsParen => parsePredictLinear()
      // double_exponential_smoothing is Prometheus 3's name for the same
      // function (holt_winters kept as the compatibility alias there too)
      case TIdent("holt_winters" | "double_exponential_smoothing", _)
          if nextIsParen => parseHoltWinters()
      case TIdent(name @ ("label_replace" | "label_join" |
          "sort_by_label" | "sort_by_label_desc"), _) if nextIsParen =>
        parseLabelFn(name)
      // time() is the one zero-argument function; child is a placeholder
      case TIdent("time", _) if nextIsParen =>
        next(); expect("("); expect(")"); FnCall("time", NumLit(0))
      // pi() is a plain scalar (Prometheus functions.go Pi) — fold at parse
      case TIdent("pi", _) if nextIsParen =>
        next(); expect("("); expect(")"); NumLit(math.Pi)
      case TIdent(name, _) if ScalarFns.contains(name) && nextIsParen =>
        parseFnCall()
      case TNum(d, _) => next(); NumLit(d)
      case TPunct("(", _) => next(); val e = parseExpr(); expect(")"); e
      // unary +/- binds tighter than any binary operator EXCEPT '^'
      // (Prometheus: `-2^2` is `-(2^2)`, so the operand is one POWER
      // expression): `-a * b` is `(-a) * b`, `-a ^ b` is `-(a ^ b)`.
      // Numeric literals fold in place; vectors desugar to `0 - e` —
      // bit-identical to Prometheus, whose unary minus shares
      // scalar-arithmetic semantics (name-dropping included).
      case TPunct(op @ ("-" | "+"), _) =>
        next()
        parsePower() match {
          case NumLit(d) => NumLit(if (op == "-") -d else d)
          case e if op == "+" => e
          case e => BinOp("-", NumLit(0), e)
        }
      case TPunct(op, _) if Precedence.exists(_.contains(op)) =>
        fail(s"unexpected operator '$op'")
      case _ => parseVector()
    }

    private def startsAgg: Boolean = toks(k + 1) match {
      case TPunct("(", _) => true
      case TIdent("by", _) => true
      case TIdent("without", _) => true
      case _ => false
    }

    private def nextIsParen: Boolean = toks(k + 1) match {
      case TPunct("(", _) => true
      case _ => false
    }

    private def parseHistQ(): Expr = {
      next(); expect("(")
      val q = next() match {
        case TNum(d, _) => d
        case t => throw PromQLParseException(
          "histogram_quantile requires a leading quantile, e.g. histogram_quantile(0.9, ...)", t.pos)
      }
      if (q < 0 || q > 1) fail(s"histogram_quantile parameter must be in [0, 1], got $q")
      expect(",")
      val child = parseExpr()
      expect(")")
      HistogramQuantile(q, child)
    }

    /** `histogram_fraction(lower, upper, v)` — two scalar bounds FIRST
      * (Prometheus argument order), then the vector. Bounds may be
      * negative (native histograms hold negative observations). */
    private def parseHistFraction(): Expr = {
      next(); expect("(")
      def signedNum(): Double = {
        val neg = peek match {
          case TPunct("-", _) => next(); true
          case _ => false
        }
        next() match {
          case TNum(d, _) => if (neg) -d else d
          case t => throw PromQLParseException(
            "histogram_fraction requires two leading scalar bounds, e.g. " +
              "histogram_fraction(0, 0.2, ...)", t.pos)
        }
      }
      val lo = signedNum()
      expect(",")
      val hi = signedNum()
      expect(",")
      val child = parseExpr()
      expect(")")
      FnCall("histogram_fraction", child, Seq(lo, hi))
    }

    /** `quantile_over_time(q, sel[w] offset?)` — scalar parameter FIRST
      * (Prometheus argument order), then a range vector. */
    private def parseQuantileOT(): Expr = {
      next(); expect("(")
      val q = next() match {
        case TNum(d, _) => d
        case t => throw PromQLParseException(
          "quantile_over_time requires a leading quantile, e.g. quantile_over_time(0.9, x[5m])", t.pos)
      }
      if (q < 0 || q > 1) fail(s"quantile_over_time parameter must be in [0, 1], got $q")
      expect(",")
      val arg = parseRangeVector()
      expect(")")
      mkRange(RangeF.QuantileOverTime(q), arg)
    }

    /** `predict_linear(sel[w] offset?, tSec)` — range vector first, then the
      * prediction horizon in seconds. */
    private def parsePredictLinear(): Expr = {
      next(); expect("(")
      val arg = parseRangeVector()
      expect(",")
      // a leading '-' allows backward prediction (valid PromQL)
      val negT = peek match {
        case TPunct("-", _) => next(); true
        case _ => false
      }
      val t0 = next() match {
        case TNum(d, _) => d
        case TDur(ms, _) => ms / 1000.0 // allow predict_linear(x[1h], 4h)
        case tk => throw PromQLParseException(
          "predict_linear requires a scalar horizon in seconds after the range vector", tk.pos)
      }
      val t = if (negT) -t0 else t0
      expect(")")
      mkRange(RangeF.PredictLinear(t), arg)
    }

    /** `holt_winters(sel[w] offset?, sf, tf)` — range vector first, then the
      * level and trend smoothing factors, both strictly inside (0, 1)
      * (Prometheus rejects the boundaries too). */
    private def parseHoltWinters(): Expr = {
      next(); expect("(")
      val arg = parseRangeVector()
      def factor(what: String): Double = {
        expect(",")
        next() match {
          case TNum(d, _) if d > 0 && d < 1 => d
          case TNum(d, p) => throw PromQLParseException(
            s"holt_winters $what factor must be in (0, 1) exclusive, got $d", p)
          case tk => throw PromQLParseException(
            s"holt_winters requires a scalar $what factor", tk.pos)
        }
      }
      val sf = factor("smoothing")
      val tf = factor("trend")
      expect(")")
      mkRange(RangeF.HoltWinters(sf, tf), arg)
    }

    /** Range-vector argument shared by all range-fn forms: a plain
      * `selector '[' dur ']' offset?`, or a subquery
      * `expr '[' dur ':' dur ']'` (any vector expression re-evaluated on the
      * step timeline). */
    private sealed trait RangeArg
    private final case class SelRange(sel: Selector, win: Long,
      at: Option[Long]) extends RangeArg
    private final case class SubRange(child: Expr, win: Long, step: Long)
      extends RangeArg

    private def mkRange(fn: RangeF, arg: RangeArg): Expr = arg match {
      case SelRange(sel, win, None) => RangeFn(fn, sel, win)
      case SelRange(sel, win, Some(at)) => AtRange(fn, sel, win, at)
      case SubRange(c, w, s) => RangeSubquery(fn, c, w, s)
    }

    private def parseRangeVector(): RangeArg = {
      val e = parseExpr()
      expect("[")
      val win = next() match {
        case TDur(ms, p) =>
          // a zero window would floor-divide timestamps by 0 at eval —
          // null buckets fusing every row, silently (Prometheus: parse error)
          if (ms <= 0) throw PromQLParseException(
            "range window must be positive", p)
          ms
        case t => throw PromQLParseException("expected duration", t.pos)
      }
      peek match {
        case TPunct(":", _) =>
          next()
          // `[w:]` omits the resolution — Prometheus defaults it to the
          // evaluation interval; 0 is the sentinel the evaluator resolves
          // against the outer step
          val step = peek match {
            case TPunct("]", _) => 0L
            case _ => next() match {
              case TDur(ms, p) =>
                if (ms <= 0) throw PromQLParseException(
                  "subquery step must be positive", p)
                ms
              case t => throw PromQLParseException(
                "expected step duration or ']' after ':'", t.pos)
            }
          }
          expect("]")
          peek match {
            case TIdent("offset", p) => throw PromQLParseException(
              "offset on a subquery is not supported — offset the inner selector(s)", p)
            case _ => ()
          }
          if (step > win)
            fail(s"subquery step (${step}ms) exceeds its range (${win}ms)")
          SubRange(e, win, step) // step 0 = default to the evaluation step
        case _ =>
          expect("]")
          // zero-or-one `offset <dur>` and zero-or-one `@ <epoch seconds>`,
          // in either order (Prometheus accepts both orderings)
          var off = 0L
          var offSeen = false
          var at: Option[Long] = None
          var going = true
          while (going) peek match {
            case TIdent("offset", _) if !offSeen =>
              next(); offSeen = true
              off = next() match {
                case TDur(ms, _) => ms
                case t => throw PromQLParseException(
                  "expected duration after 'offset'", t.pos)
              }
            case TPunct("@", _) if at.isEmpty =>
              next()
              at = Some(parseAtArg())
            case _ => going = false
          }
          e match {
            case sel: Selector =>
              SelRange(sel.copy(offsetMs = sel.offsetMs + off), win, at)
            case _ => throw PromQLParseException(
              "a plain range needs a selector — use a [range:step] subquery " +
                "over computed expressions", peek.pos)
          }
      }
    }

    /** `label_replace(v, "dst", "repl", "src", "regex")` /
      * `label_join(v, "dst", "sep", "src", ...)`. */
    private def parseLabelFn(name: String): Expr = {
      next(); expect("(")
      val child = parseExpr()
      val strs = Seq.newBuilder[String]
      var n = 0
      var done = false
      while (!done) next() match {
        case TPunct(")", _) => done = true
        case TPunct(",", _) => next() match {
          case TStr(s, _) => strs += s; n += 1
          case t => throw PromQLParseException(
            s"$name takes quoted string arguments after the vector", t.pos)
        }
        case t => throw PromQLParseException("expected ',' or ')'", t.pos)
      }
      val args = strs.result()
      if (name == "label_replace" && n != 4) fail(
        s"label_replace takes exactly 4 string arguments (dst, replacement, src, regex), got $n")
      if (name == "label_join" && n < 3) fail(
        s"label_join takes at least 3 string arguments (dst, sep, src...), got $n")
      if (name.startsWith("sort_by_label") && n < 1) fail(
        s"$name takes at least 1 label name argument, got $n")
      LabelFn(name, child, args.head, args.tail)
    }

    private def parseFnCall(): Expr = {
      val TIdent(name, _) = next(): @unchecked
      val (minA, maxA) = ScalarFns(name)
      expect("(")
      val child = parseExpr()
      val args = Seq.newBuilder[Double]
      var n = 0
      var done = false
      while (!done) next() match {
        case TPunct(")", _) => done = true
        case TPunct(",", _) =>
          // scalar arguments may be negative (clamp_min(x, -10) is valid
          // PromQL) — fold an optional leading '-' like parseParamAgg does
          val neg = peek match {
            case TPunct("-", _) => next(); true
            case _ => false
          }
          next() match {
            case TNum(d, _) => args += (if (neg) -d else d); n += 1
            case t => throw PromQLParseException(
              s"$name takes scalar arguments after the vector", t.pos)
          }
        case t => throw PromQLParseException("expected ',' or ')'", t.pos)
      }
      if (n < minA || n > maxA) fail(
        s"$name takes ${if (minA == maxA) s"$minA" else s"$minA to $maxA"} " +
          s"scalar argument(s) after the vector, got $n")
      FnCall(name, child, args.result())
    }

    private def parseAgg(): Expr = {
      val TIdent(name, _) = next(): @unchecked
      val byBefore = parseByOpt()
      expect("(")
      val child = parseExpr()
      expect(")")
      val byAfter = parseByOpt()
      if (byBefore.isDefined && byAfter.isDefined)
        fail("duplicate grouping clause")
      val (labels, without) = byBefore.orElse(byAfter).getOrElse((Nil, false))
      if (without && labels.isEmpty)
        fail("'without' requires at least one label")
      Agg(AggOps(name), labels, child, without)
    }

    private def parseParamAgg(): Expr = {
      val TIdent(name, _) = next(): @unchecked
      val byBefore = parseByOpt()
      expect("(")
      // limit_ratio's parameter may be negative (the complement selection);
      // a leading '-' lexes as punctuation, so fold it into the number here
      val neg = peek match {
        case TPunct("-", _) => next(); true
        case _ => false
      }
      val param = next() match {
        case TNum(d, _) => if (neg) -d else d
        case t => throw PromQLParseException(
          s"$name requires a leading scalar parameter, e.g. $name(3, ...)", t.pos)
      }
      expect(",")
      val child = parseExpr()
      expect(")")
      val byAfter = parseByOpt()
      if (byBefore.isDefined && byAfter.isDefined) fail("duplicate grouping clause")
      val (labels, without) = byBefore.orElse(byAfter).getOrElse((Nil, false))
      if (without) fail(s"'without' grouping is not supported for $name — list the ranking labels with 'by'")
      val op = ParamOps(name)
      if (op == ParamOp.Quantile && (param < 0 || param > 1))
        fail(s"quantile parameter must be in [0, 1], got $param")
      if (op == ParamOp.LimitRatio && (param < -1 || param > 1 || param == 0))
        fail(s"limit_ratio parameter must be in [-1, 1] and non-zero, got $param")
      if ((op == ParamOp.TopK || op == ParamOp.BottomK || op == ParamOp.LimitK)
          && (param < 1 || param != math.floor(param)))
        fail(s"$name parameter must be a positive integer, got $param")
      ParamAgg(op, param, labels, child)
    }

    private def parseCountValues(): Expr = {
      next()
      val byBefore = parseByOpt()
      expect("(")
      val lbl = next() match {
        case TStr(s, _) => s
        case t => throw PromQLParseException(
          "count_values requires a quoted label name, e.g. count_values(\"v\", ...)", t.pos)
      }
      expect(",")
      val child = parseExpr()
      expect(")")
      val byAfter = parseByOpt()
      if (byBefore.isDefined && byAfter.isDefined) fail("duplicate grouping clause")
      val (labels, without) = byBefore.orElse(byAfter).getOrElse((Nil, false))
      if (without) fail("'without' grouping is not supported for count_values — list the labels with 'by'")
      CountValues(lbl, labels, child)
    }

    /** `by (l, ...)` → (labels, false); `without (l, ...)` → (labels, true). */
    private def parseByOpt(): Option[(Seq[String], Boolean)] = peek match {
      case TIdent(kw @ ("by" | "without"), _) =>
        next()
        Some((parseParenLabels(allowEmpty = kw == "by"), kw == "without"))
      case _ => None
    }

    private def parseVector(): Expr = peek match {
      case TIdent(fn, _) if RangeFns.contains(fn) && nextIsParen =>
        next(); expect("(")
        val arg = parseRangeVector()
        expect(")")
        mkRange(RangeFns(fn), arg)
      case _ =>
        val sel = parseSelector()
        // zero-or-one `offset`, zero-or-one `@`, either order (Prometheus)
        var off = 0L
        var offSeen = false
        var at: Option[Long] = None
        var going = true
        while (going) peek match {
          case TIdent("offset", _) if !offSeen =>
            offSeen = true; off = parseOffsetOpt()
          case TPunct("@", _) if at.isEmpty =>
            next(); at = Some(parseAtArg())
          case _ => going = false
        }
        val shifted = sel.copy(offsetMs = sel.offsetMs + off)
        // `m @ t` desugars to `last_over_time(m[<lookback>] @ (t+1ms))` —
        // exactly Prometheus's instant-selector-at-t semantics: the newest
        // sample within the lookback delta `(t - 5m, t]`, the +1 turning
        // the engine's half-open pinned window into the boundary-inclusive
        // interval (a sample exactly at t must count). start()/end() use
        // the Incl sentinel variants, which resolve with the same +1.
        at match {
          case Some(t) =>
            val at1 =
              if (t == PromQLParser.AtStart) PromQLParser.AtStartIncl
              else if (t == PromQLParser.AtEnd) PromQLParser.AtEndIncl
              else t + 1
            AtRange(RangeF.LastOverTime, shifted, PromQLParser.LookbackMs, at1)
          case None => shifted
        }
    }

    /** The argument of `@`: a unix-seconds scalar, or the `start()` /
      * `end()` forms (resolved against the query range at the evaluation
      * entry points — sentinels [[PromQLParser.AtStart]] /
      * [[PromQLParser.AtEnd]] until then). */
    private def parseAtArg(): Long = peek match {
      case TIdent(kw @ ("start" | "end"), _) =>
        next(); expect("("); expect(")")
        if (kw == "start") PromQLParser.AtStart else PromQLParser.AtEnd
      case _ => next() match {
        // round, never truncate: 1000.001 s is 1000000.999... as a
        // double, and toLong would land the pin 1 ms early — breaking
        // the printer's decimal-seconds round trip
        case TNum(d, _) => math.round(d * 1000)
        case t => throw PromQLParseException(
          "expected a unix timestamp in seconds, start(), or end() after '@'",
          t.pos)
      }
    }

    /** `offset 5m` after a selector or range. Negative offsets (Prometheus
      * `offset -5m`) are not supported — the tokenizer has no unary minus. */
    private def parseOffsetOpt(): Long = peek match {
      case TIdent("offset", _) =>
        next()
        next() match {
          case TDur(ms, _) => ms
          case t => throw PromQLParseException("expected duration after 'offset'", t.pos)
        }
      case _ => 0L
    }

    private def parseSelector(): Selector = {
      // bare `{...}` selector: metric comes from a __name__ matcher (or
      // stays "" for multi-metric regex selection)
      val metric = peek match {
        case TPunct("{", _) => ""
        case _ => next() match {
          case TIdent(m, _) => m
          case t => throw PromQLParseException("expected metric name", t.pos)
        }
      }
      val matchers = peek match {
        case TPunct("{", _) =>
          next()
          val ms = Seq.newBuilder[LabelMatcher]
          var done = peek match { case TPunct("}", _) => next(); true; case _ => false }
          while (!done) {
            // Prometheus accepts a trailing comma ({a="b",}): a '}' right
            // after ',' ends the list instead of erroring on a missing
            // label name
            peek match {
              case TPunct("}", _) => next(); done = true
              case _ => ()
            }
            // Prometheus 3 UTF-8 selector syntax: label names may be
            // quoted ({"label"="v"}), and a BARE quoted string element is
            // the metric name ({"http.server.duration", job="api"}) —
            // desugared to a __name__ Eq matcher, which the
            // canonicalization below turns into the metric.
            val label = if (done) null else next() match {
              case TIdent(l, _) => l
              case t0 @ TStr(l, _) =>
                peek match {
                  case TPunct(",", _) | TPunct("}", _) =>
                    // {""} must not canonicalize into a match-all
                    // selector (Prometheus rejects the empty matcher)
                    if (l.isEmpty) throw PromQLParseException(
                      "empty metric name in selector", t0.pos)
                    ms += LabelMatcher("__name__", MatchOp.Eq, l)
                    next() match {
                      case TPunct("}", _) => done = true
                      case _ => ()
                    }
                    null // element consumed — no operator follows
                  case _ =>
                    if (l.isEmpty) throw PromQLParseException(
                      "empty label name in matcher", t0.pos)
                    l
                }
              case t => throw PromQLParseException("expected label name", t.pos)
            }
            if (label != null) {
              val op = next() match {
                case TPunct("=", _) => MatchOp.Eq
                case TPunct("!=", _) => MatchOp.Ne
                case TPunct("=~", _) => MatchOp.Re
                case TPunct("!~", _) => MatchOp.Nre
                case t => throw PromQLParseException("expected matcher operator", t.pos)
              }
              val value = next() match {
                case TStr(v, _) => v
                case t => throw PromQLParseException("expected quoted value", t.pos)
              }
              ms += LabelMatcher(label, op, value)
              next() match {
                case TPunct(",", _) => ()
                case TPunct("}", _) => done = true
                case t => throw PromQLParseException("expected ',' or '}'", t.pos)
              }
            }
          }
          ms.result()
        case _ => Nil
      }
      // canonicalize: a NON-EMPTY Eq __name__ matcher IS the metric name;
      // other __name__ matcher ops stay as matchers (multi-metric
      // selection). __name__="" stays a matcher too — lifting it made
      // {__name__=""} a silent match-ALL selector, where as a matcher it
      // correctly matches nothing (no series has an empty name).
      val (nameEqs, rest) = matchers.partition(m =>
        m.label == "__name__" && m.op == MatchOp.Eq && m.value.nonEmpty)
      (metric, nameEqs) match {
        case ("", Seq(one)) => Selector(one.value, rest)
        case ("", Nil) =>
          if (rest.isEmpty) throw PromQLParseException(
            "a selector needs a metric name or a __name__ matcher", peek.pos)
          Selector("", rest)
        case (m, Nil) => Selector(m, rest)
        case _ => throw PromQLParseException(
          "duplicate metric name (__name__ matcher plus a metric name, or " +
            "two __name__= matchers)", peek.pos)
      }
    }
  }
}
