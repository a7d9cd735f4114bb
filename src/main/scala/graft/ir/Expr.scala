package graft.ir

import java.time.{Instant, LocalDate}

/** Calendar-aware time interval (unit + count), mirroring the reference's
  * `timeinterval` (/root/reference/src/utils/timeinterval.py:4-24).
  * Units: year, quarter, month, week, day, hour, minute, second.
  */
final case class TimeInterval(num: Long, unit: String) {
  require(TimeInterval.Units.contains(unit), s"bad interval unit: $unit")
  /** Spark-safe interval literal: Spark's ANSI interval units lack
    * WEEK/QUARTER, so normalize to DAY/MONTH. */
  def sqlLiteral: String = unit match {
    case "week"    => s"INTERVAL '${num * 7}' DAY"
    case "quarter" => s"INTERVAL '${num * 3}' MONTH"
    case u         => s"INTERVAL '$num' ${u.toUpperCase}"
  }
}
object TimeInterval {
  val Units: Set[String] =
    Set("year", "quarter", "month", "week", "day", "hour", "minute", "second")
}

/** Expression IR — the analogue of the reference's `ColumnExpression` AST
  * (/root/reference/src/model/column_expression/column_expression.py:17,
  * registry :698-701). Lowered to `org.apache.spark.sql.Column` by
  * [[graft.compile.Compiler]]; everything maps to Catalyst built-ins, no
  * custom Expression needed for the reference surface (SURVEY.md §2.5).
  */
sealed trait Expr {
  import Expr._

  /** Attach an output alias (reference `.named`, column_expression.py:29-46).
    * Dunder-form names (`__x__`) are reserved for private columns — the
    * reference's `.named` rejects them too (private_column.py:5-18); use
    * [[graft.funcs.privateColumn]] for an intentionally-stripped column. */
  def named(n: String): Expr = {
    require(!Expr.isPrivateName(n),
      s"'$n' is a private (__dunder__) name; use funcs.privateColumn")
    Named(this, n)
  }

  /** Qualify this expression to a join namespace (reference
    * `.disambiguated`, column_expression.py:81-99). */
  def disambiguated(ns: String): Expr = Disambiguated(this, ns)

  // ---- operator DSL (mirrors reference operator overloads,
  //      column_expression.py:643-692) ----
  def ===(o: Expr): Expr  = Bin(Op.Eq, this, o)
  def =!=(o: Expr): Expr  = Bin(Op.Neq, this, o)
  def <(o: Expr): Expr    = Bin(Op.Lt, this, o)
  def <=(o: Expr): Expr   = Bin(Op.Lte, this, o)
  def >(o: Expr): Expr    = Bin(Op.Gt, this, o)
  def >=(o: Expr): Expr   = Bin(Op.Gte, this, o)
  def +(o: Expr): Expr    = Bin(Op.Add, this, o)
  def -(o: Expr): Expr    = Bin(Op.Sub, this, o)
  def *(o: Expr): Expr    = Bin(Op.Mul, this, o)
  def /(o: Expr): Expr    = Bin(Op.Div, this, o)
  /** Integer division. Declared-but-unimplemented in the reference
    * (binary_op.py:139-141 falls back to `/`); we implement it properly as
    * floor(a/b) — divergence documented in SURVEY.md §2.4. */
  def floorDiv(o: Expr): Expr = Bin(Op.FloorDiv, this, o)
  def &&(o: Expr): Expr   = Bin(Op.And, this, o)
  def ||(o: Expr): Expr   = Bin(Op.Or, this, o)
  def unary_! : Expr      = Not(this)

  /** NULL-aware membership in literal values
    * (reference column_expression.py:550-568). */
  def in(values: Seq[Any]): Expr = InValues(this, values)
  /** Substring containment (reference column_expression.py:575-600):
    * LIKE %v% / ILIKE for caseSensitive=false. */
  def contains(v: String, caseSensitive: Boolean = true): Expr =
    ContainsStr(this, v, caseSensitive)
  /** OR / AND of substring containment (reference
    * column_expression.py:602-622). */
  def containsAny(vs: Seq[String], caseSensitive: Boolean = true): Expr = {
    require(vs.nonEmpty, "containsAny requires at least one value")
    vs.map(v => ContainsStr(this, v, caseSensitive): Expr).reduce(_ || _)
  }
  def containsAll(vs: Seq[String], caseSensitive: Boolean = true): Expr = {
    require(vs.nonEmpty, "containsAll requires at least one value")
    vs.map(v => ContainsStr(this, v, caseSensitive): Expr).reduce(_ && _)
  }
  def like(pattern: String): Expr  = LikeE(this, pattern, ci = false)
  def ilike(pattern: String): Expr = LikeE(this, pattern, ci = true)

  // ---- temporal sugar (reference column_expression.py:146-206) ----
  def bySecond: Expr  = Granularity(this, "second")
  def byMinute: Expr  = Granularity(this, "minute")
  def byHour: Expr    = Granularity(this, "hour")
  def byDay: Expr     = Granularity(this, "day")
  def byWeek: Expr    = Granularity(this, "week")
  def byMonth: Expr   = Granularity(this, "month")
  def byQuarter: Expr = Granularity(this, "quarter")
  def byYear: Expr    = Granularity(this, "year")

  /** Output identifier (reference `identifier`, column_expression.py:49-66).
    * Aliases win; bare column refs use their name; other nodes need `.named`.
    */
  def identifier: String = this match {
    case Named(_, n)          => n
    case ColRef(n, _)         => n
    case Disambiguated(e, _)  => e.identifier
    case Granularity(b, _)    => b.identifier
    case FormatTs(b, _)       => b.identifier
    case Call("count", Seq(), _) => "count"
    // distinct(x) in a pick context takes x's name (reference
    // _sql_functions.py:33-38 DISTINCT-in-select)
    case Call("distinct", Seq(inner), _) => inner.identifier
    case _ =>
      throw new IllegalArgumentException(
        s"$this has no identifier; call .named(...)")
  }
}

object Expr {
  /** Private-column name form: `__name__` with an optional dup-rename digit
    * suffix (reference utils/identifier.py:9-10). Only these — plus the
    * engine's own `__ns_…` join columns — are stripped from results; a
    * user column like `__raw` passes through untouched. */
  private val PrivateNameRe = raw"__.+__\d*".r
  def isPrivateName(n: String): Boolean = PrivateNameRe.matches(n)

  /** Escaped column reference, optionally namespace-qualified
    * (reference column_name.py:9-30). */
  final case class ColRef(name: String, ns: Option[String] = None) extends Expr
  /** Literal value: null, String, Long/Int, Double, Boolean, LocalDate,
    * Instant, TimeInterval, Seq[_] (reference py_value.py:7-27). */
  final case class Lit(value: Any) extends Expr
  final case class Named(e: Expr, name: String) extends Expr
  final case class Disambiguated(e: Expr, ns: String) extends Expr

  sealed trait Op
  object Op {
    case object Eq extends Op;  case object Neq extends Op
    case object Lt extends Op;  case object Lte extends Op
    case object Gt extends Op;  case object Gte extends Op
    case object Add extends Op; case object Sub extends Op
    case object Mul extends Op; case object Div extends Op
    case object FloorDiv extends Op
    case object And extends Op; case object Or extends Op
  }
  /** Binary operation (reference binary_op.py:8-55). `x == Lit(null)`
    * compiles to IS NULL per binary_op.py:57-78. */
  final case class Bin(op: Op, l: Expr, r: Expr) extends Expr
  final case class Not(e: Expr) extends Expr

  /** CASE WHEN chain (reference cases.py:8-45). */
  final case class Cases(branches: Seq[(Expr, Expr)], otherwise: Option[Expr])
      extends Expr

  /** Whitelisted function call (reference sql_function.py:8-50; dispatch
    * compilers/sql_function.py:40-74). Functions: count, sum, min, max, avg,
    * floor, ceiling, distinct, diffSeconds, cast:<type>. */
  final case class Call(fn: String, args: Seq[Expr], distinct: Boolean = false)
      extends Expr

  /** date_trunc to unit; week honors first-day-of-week = Sunday like the
    * reference default (settings.py:5-10; Databricks recipe
    * granularity.py:231-240). */
  final case class Granularity(base: Expr, unit: String) extends Expr

  /** strftime-style formatting with Python tokens incl. nonstandard %Q
    * (reference format_timestamp.py:8-30, token map :81-111). */
  final case class FormatTs(base: Expr, pyFormat: String) extends Expr

  /** Raw SQL fragment → Spark `expr(...)` (reference sql_text.py:38-158).
    * `{{ name }}` references to model attrs/measures (or `{{ ns.attr }}`
    * through a join namespace) are resolved into `bindings` when the
    * expression is attached to a model operation (Model.bindSqlRefs,
    * mirroring bind_references_to_model) and spliced as compiled SQL at
    * lowering time. */
  final case class RawSql(sql: String, bindings: Map[String, Expr] = Map.empty)
      extends Expr

  object RawSql {
    /** `{{ some_name }}` / `{{ ns.attr }}` reference pattern (reference
      * sql_text.py SQL_REFERENCE_SUBSTITUTION_REGEX). */
    val RefPattern: scala.util.matching.Regex = raw"\{\{\s*([\w\.]+)\s*\}\}".r
  }

  /** NULL-aware IN over literal values (column_expression.py:550-568). */
  final case class InValues(target: Expr, values: Seq[Any]) extends Expr

  /** Membership in a model's column: IN (SELECT DISTINCT col FROM sub) with
    * explicit NULL handling (column_expression.py:513-544). `sub` is a
    * compiled-on-demand sub-source. */
  final case class InModel(target: Expr, sub: graft.model.Model, column: Expr)
      extends Expr

  /** Array containment: value IN array_column (utils/array.py:8-53). */
  final case class ArrContains(arr: Expr, value: Expr) extends Expr

  final case class LikeE(target: Expr, pattern: String, ci: Boolean)
      extends Expr
  final case class ContainsStr(target: Expr, v: String, cs: Boolean)
      extends Expr

  /** Scalar subquery: the model's first attribute, first row
    * (subquery_expression.py:10-37). */
  final case class ScalarSubquery(sub: graft.model.Model) extends Expr

  /** EXISTS(model) (reference _sql_functions.py:99-104). */
  final case class ExistsE(sub: graft.model.Model) extends Expr

  /** datetime ± interval (folded by Catalyst ConstantFolding when both
    * sides literal — reference lifts in Python, binary_op.py:241-272). */
  final case class AddInterval(ts: Expr, iv: TimeInterval, negate: Boolean)
      extends Expr

  /** Collect every namespace this expression references — drives lazy join
    * attachment (reference join_one.py:58-66 emits joins only when the
    * namespace was actually referenced). */
  def referencedNamespaces(e: Expr): Set[String] = e match {
    case ColRef(_, Some(n))   => Set(n)
    case ColRef(_, None)      => Set.empty
    case Lit(_)               => Set.empty
    case RawSql(_, bindings)  => bindings.values.flatMap(referencedNamespaces).toSet
    case Named(b, _)          => referencedNamespaces(b)
    case Disambiguated(b, n)  => Set(n) ++ referencedNamespaces(b)
    case Bin(_, l, r)         => referencedNamespaces(l) ++ referencedNamespaces(r)
    case Not(b)               => referencedNamespaces(b)
    case Cases(bs, o) =>
      bs.flatMap { case (c, v) => referencedNamespaces(c) ++ referencedNamespaces(v) }.toSet ++
        o.map(referencedNamespaces).getOrElse(Set.empty)
    case Call(_, args, _)     => args.flatMap(referencedNamespaces).toSet
    case Granularity(b, _)    => referencedNamespaces(b)
    case FormatTs(b, _)       => referencedNamespaces(b)
    case InValues(t, _)       => referencedNamespaces(t)
    case InModel(t, _, _)     => referencedNamespaces(t)
    case ArrContains(a, v)    => referencedNamespaces(a) ++ referencedNamespaces(v)
    case LikeE(t, _, _)       => referencedNamespaces(t)
    case ContainsStr(t, _, _) => referencedNamespaces(t)
    case AddInterval(t, _, _) => referencedNamespaces(t)
    case ScalarSubquery(_) | ExistsE(_) => Set.empty
  }
}

/** One ORDER BY key (reference sort.py:7-59): dir asc/desc, nulls
  * first/last/auto (auto = first when asc, last when desc). */
final case class SortKey(e: Expr, asc: Boolean = true, nulls: String = "auto") {
  /** The resolved null placement — the one home of the auto rule, read by
    * the DataFrame lowering and the `model.sql()` renderer alike. */
  def nullsFirst: Boolean = nulls match {
    case "auto"  => asc
    case "first" => true
    case "last"  => false
    case other   => throw new IllegalArgumentException(s"bad nulls: $other")
  }

  /** The ORDER BY direction with explicit null placement, e.g.
    * "DESC NULLS LAST". */
  def sqlOrder: String =
    s"${if (asc) "ASC" else "DESC"} NULLS ${if (nullsFirst) "FIRST" else "LAST"}"
}
