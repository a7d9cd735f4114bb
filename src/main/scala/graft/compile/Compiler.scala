package graft.compile

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ir._
import graft.ir.Expr._
import graft.model.Model
import graft.sources.ParquetIO

/** Lowers the graft IR to DataFrame transformations. Catalyst does the real
  * optimization (predicate pushdown, column pruning, join selection, AQE) —
  * this layer only reproduces the reference's *semantic* rewrites: lazy join
  * emission (reference join_one.py:58-66), now()/constant materialization,
  * private-column stripping (post_process.py:8-17).
  */
/** Compile-time settings (reference src/run/compile/settings.py:5-10 makes
  * the first day of the week a compile knob, default SUNDAY). Passed to
  * [[Compiler.run]]; scoped to that compilation. */
final case class CompileSettings(weekStartDay: String = "sunday") {
  require(CompileSettings.WeekShift.contains(weekStartDay.toLowerCase),
    s"unknown weekStartDay '$weekStartDay'; " +
      s"one of: ${CompileSettings.WeekShift.keys.mkString(", ")}")
  /** Days to add before a Monday-based date_trunc('week') (and subtract
    * after) so the truncation lands on `weekStartDay`:
    * shift ≡ Monday − startDay (mod 7). Spark and DuckDB both truncate
    * weeks to Monday, so the same shift renders on both engines. */
  def weekShift: Int = CompileSettings.WeekShift(weekStartDay.toLowerCase)
}

object CompileSettings {
  // declared BEFORE `default`: the constructor's require reads this map
  private val WeekShift = Map(
    "monday" -> 0, "tuesday" -> 6, "wednesday" -> 5, "thursday" -> 4,
    "friday" -> 3, "saturday" -> 2, "sunday" -> 1)
  val default: CompileSettings = CompileSettings()
}

object Compiler {

  /** Active settings for the compilation in flight — bound by [[run]].
    * A DynamicVariable (thread-local) rather than a parameter because the
    * expression/source lowering is a static recursive walk; the setting is
    * ambient compile state exactly like the reference's settings object. */
  private val activeSettings =
    new scala.util.DynamicVariable[CompileSettings](CompileSettings.default)
  def settings: CompileSettings = activeSettings.value

  /** Internal namespaced column name for join/relation columns. Starts with
    * `__` so it is stripped from results like reference private columns
    * (utils/private_column.py:5-20). */
  def nsCol(ns: String, c: String): String = s"__ns_${ns}__$c"

  /** True for a namespaced internal column ([[nsCol]] or a chain of them). */
  private def isNsCol(c: String): Boolean = c.startsWith("__ns_")

  /** A joined model's column renamed into join namespace `ns`: plain
    * columns become [[nsCol]]s, and already-namespaced ones chain as
    * "<ns>:<inner>" so nested Disambiguated lookups (prefix "ns:inner")
    * find them. */
  private def joinedName(ns: String, c: String): String =
    if (isNsCol(c)) s"__ns_$ns:" + c.stripPrefix("__ns_") else nsCol(ns, c)

  /** A backticked Spark SQL identifier. */
  private def bt(n: String): String = "`" + n.replace("`", "``") + "`"

  /** `distinct(x)`, possibly named, → (x, true); anything else →
    * (itself, false). In pick context the flag makes the layer SELECT
    * DISTINCT (reference _sql_functions.py:33-38); as a group it is the
    * segment idiom (docs/pattern_guides/segments.md), which grouping
    * already deduplicates. */
  private def stripDistinct(e: Expr): (Expr, Boolean) = e match {
    case Call("distinct", Seq(inner), _) => (inner, true)
    case Named(b, n) =>
      val (inner, d) = stripDistinct(b); (Named(inner, n), d)
    case other => (other, false)
  }

  /** The numeric literal `e` — Int, Long (the wire reads every integer
    * literal as Long) or, unless `integral`, Double. */
  private def numLit(e: Option[Expr], integral: Boolean = false): Option[Number] =
    e.collect {
      case Lit(n: java.lang.Integer)             => n: Number
      case Lit(n: java.lang.Long)                => n: Number
      case Lit(n: java.lang.Double) if !integral => n: Number
    }

  /** [[numLit]] of `args(i)`, failing with "`what` must be a numeric
    * literal" (or "an integer literal"). */
  private def numArg(args: Seq[Expr], i: Int, what: String,
      integral: Boolean = false): Number =
    numLit(args.lift(i), integral).getOrElse(throw new IllegalArgumentException(
      s"$what must be ${if (integral) "an integer" else "a numeric"} literal, " +
        s"got ${args.lift(i)}"))

  /** A lazily-emitted join (reference deferred join handlers,
    * query_layer.py:102-110). `build` produces the right side with all
    * columns renamed through [[nsCol]]; `cond` is evaluated at attach time. */
  final case class PendingJoin(
      ns: String,
      build: () => DataFrame,
      cond: Frame => Column,
      joinType: String)

  /** Mutable compilation state for one query layer: the running DataFrame
    * plus this layer's pending (unattached) joins. */
  final class Frame(
      var df: DataFrame,
      val pending: mutable.Map[String, PendingJoin] = mutable.Map.empty,
      val attached: mutable.Set[String] = mutable.Set.empty) {

    def hasCol(name: String): Boolean = df.columns.contains(name)

    /** Attach the named pending join if not yet attached. Re-entrancy guard:
      * mark attached before compiling the condition, since the condition's
      * namespace refs resolve to not-yet-joined (name-based) columns. */
    def attach(ns: String): Unit = {
      if (attached.contains(ns)) return
      pending.get(ns) match {
        case None => // not a join namespace (e.g. matchsteps-materialized)
        case Some(pj) =>
          attached += ns
          val right = pj.build()
          df = df.join(right, pj.cond(this), pj.joinType)
      }
    }
  }

  // =================== expression lowering ===================

  /** Literal → Column (reference py_value compiler py_value.py:19-37). */
  def litCol(v: Any): Column = v match {
    case null                   => lit(null)
    case i: TimeInterval        => expr(i.sqlLiteral)
    case t: java.time.Instant   => lit(java.sql.Timestamp.from(t))
    case d: java.time.LocalDate => lit(java.sql.Date.valueOf(d))
    case s: Seq[_]              => array(s.map(litCol): _*)
    case other                  => lit(other)
  }

  private def isNullLit(e: Expr): Boolean = e match {
    case Lit(null) => true
    case _         => false
  }

  /** Expr → Column against `f`, attaching referenced lazy joins on demand.
    * `prefix` qualifies bare column refs to a namespace (used when compiling
    * a joined model's expressions — reference `.disambiguated`). */
  def compileExpr(e: Expr, f: Frame, prefix: Option[String] = None): Column = {
    def go(e: Expr): Column = compileExpr(e, f, prefix)
    e match {
      case ColRef(n, nsOpt) =>
        (nsOpt orElse prefix) match {
          case None => col(n)
          case Some(ns) =>
            val full = nsCol(ns, n)
            // attach the ROOT namespace of a nested chain ("cust:nation"
            // attaches the pending join "cust"; the nested rename inside
            // its build() provides the chained column)
            if (!f.hasCol(full)) f.attach(ns.split(':').head)
            col(full)
        }
      case Lit(v)          => litCol(v)
      case Named(b, n)     => go(b).as(n)
      case Disambiguated(b, ns) =>
        // nested relation traversal composes outer-to-inner into a ':'
        // chain: rel("cust").rel("nation").attr(x) → prefix "cust:nation"
        compileExpr(b, f, Some(prefix.fold(ns)(p => s"$p:$ns")))

      case Bin(op, l, r) =>
        import Op._
        (op, isNullLit(l), isNullLit(r)) match {
          // x == NULL → IS NULL; NULL == NULL → TRUE (binary_op.py:57-78)
          case (Eq, true, true)   => lit(true)
          case (Eq, _, true)      => go(l).isNull
          case (Eq, true, _)      => go(r).isNull
          case (Neq, true, true)  => lit(false)
          case (Neq, _, true)     => go(l).isNotNull
          case (Neq, true, _)     => go(r).isNotNull
          case _ =>
            val (lc, rc) = (go(l), go(r))
            op match {
              case Eq => lc === rc;  case Neq => lc =!= rc
              case Lt => lc < rc;    case Lte => lc <= rc
              case Gt => lc > rc;    case Gte => lc >= rc
              case Add => lc + rc;   case Sub => lc - rc
              case Mul => lc * rc;   case Div => lc / rc
              case FloorDiv => floor(lc / rc)
              case And => lc && rc;  case Or => lc || rc
            }
        }
      case Not(b) => !go(b)

      case Cases(branches, other) =>
        // zero branches degrade to the otherwise expression (or NULL) with a
        // clear path instead of a NoSuchElementException deep in compilation
        if (branches.isEmpty) other.map(go).getOrElse(lit(null))
        else {
          val first = when(go(branches.head._1), go(branches.head._2))
          val chained = branches.tail.foldLeft(first) { case (acc, (c, v)) =>
            acc.when(go(c), go(v))
          }
          other.fold(chained)(o => chained.otherwise(go(o)))
        }

      case Call(fn, args, dist) =>
        fn match {
          case "count" if args.isEmpty => count(lit(1))
          case "count" =>
            args.head match {
              // count(distinct(x)) (reference _sql_functions.py:33-38)
              case Call("distinct", Seq(inner), _) => countDistinct(go(inner))
              case a if dist                       => countDistinct(go(a))
              case a                               => count(go(a))
            }
          case "sum"      => sum(go(args.head))
          case "min"      => min(go(args.head))
          case "max"      => max(go(args.head))
          case "avg"      => avg(go(args.head))
          // exact interpolated percentile — Spark's sort-based `percentile`
          // aggregate (deterministic; same linear interpolation as DuckDB's
          // quantile_cont, so oracles replay 1:1)
          case "percentile" =>
            call_function("percentile", go(args.head),
              lit(numArg(args, 1, "percentile fraction").doubleValue))
          // approximate percentile — the extreme-scale swap point the
          // `percentile` scaladoc documents: a bounded-memory quantile
          // sketch (Spark's QuantileSummaries) instead of the exact
          // aggregate's per-group value buffer. Same call shape as
          // `percentile` plus an accuracy knob, so the swap is one word.
          // Values are rank-approximate (error ≤ n/accuracy), so this is
          // spec-gated on plan shape, not oracle-hashed.
          case "approx_percentile" =>
            // Accuracy is optional (Spark itself accepts the 2-arg form, and
            // 2-arg calls arrive via the wire format): default to 10000,
            // Spark's own ApproximatePercentile default.
            val accuracy: Int =
              if (args.lift(2).isEmpty) 10000
              else numArg(args, 2, "approx_percentile accuracy").doubleValue.toInt
            call_function("approx_percentile", go(args.head),
              lit(numArg(args, 1, "approx_percentile fraction").doubleValue),
              lit(accuracy))
          // HyperLogLog++ cardinality sketch — countDistinct's
          // extreme-scale swap (O(1/rsd²) state per group, one shuffle).
          // Spec-gated like approx_percentile: values are approximate.
          case "approx_count_distinct" =>
            val rsd: Double = args.lift(1) match {
              case None                 => 0.05
              case Some(Lit(d: Double)) => d
              case other => throw new IllegalArgumentException(
                s"approx_count_distinct rsd must be a double literal, got $other")
            }
            call_function("approx_count_distinct", go(args.head), lit(rsd))
          case "floor"    => floor(go(args.head))
          case "ceiling"  => ceil(go(args.head))
          // scalar string helpers (beyond-reference; used by the LLM text
          // operators — all codegen'd built-ins)
          case "lower"    => lower(go(args.head))
          case "upper"    => upper(go(args.head))
          case "trim"     => trim(go(args.head))
          case "length"   => length(go(args.head))
          case "md5"      => md5(go(args.head).cast("binary"))
          case "json_get" =>
            args(1) match {
              case Lit(p: String) => get_json_object(go(args.head), p)
              case other => throw new IllegalArgumentException(
                s"json_get path must be a string literal, got $other")
            }
          // general scalar helpers (beyond-reference convenience; names
          // render identically on DuckDB so oracles stay generic)
          case "coalesce" => coalesce(args.map(go): _*)
          case "abs"      => abs(go(args.head))
          case "round" =>
            val digits =
              if (args.lift(1).isEmpty) 0
              else numArg(args, 1, "round digits", integral = true).intValue
            round(go(args.head), digits)
          case "concat"   => concat(args.map(go): _*)
          case "substring" =>
            def intLit(i: Int): Option[Int] =
              numLit(args.lift(i), integral = true).map(_.intValue)
            (intLit(1), intLit(2)) match {
              case (Some(p), Some(l)) => substring(go(args.head), p, l)
              case _ => throw new IllegalArgumentException(
                s"substring(pos, len) must be integer literals, got ${args.drop(1)}")
            }
          case "replace"  =>
            call_function("replace", go(args.head), go(args(1)), go(args(2)))
          // reference Databricks recipe (compilers/sql_function.py:90-91)
          case "diffSeconds" =>
            unix_timestamp(go(args.head)) - unix_timestamp(go(args(1)))
          case c if c.startsWith("cast:") =>
            go(args.head).cast(c.stripPrefix("cast:"))
          case "distinct" =>
            throw new IllegalArgumentException(
              "distinct(x) is only valid inside count(...) or pick context")
          case other =>
            throw new IllegalArgumentException(s"unknown function: $other")
        }

      case Granularity(b, unit) =>
        val c = go(b).cast("timestamp")
        unit match {
          // week start is a compile setting, reference-default Sunday
          // (settings.py:5-10; Databricks recipe granularity.py:231-240);
          // Spark date_trunc('week') is Monday-based, so shift ±k days.
          case "week" if settings.weekShift != 0 =>
            val k = settings.weekShift
            date_trunc("week", c + expr(s"INTERVAL $k DAY")) -
              expr(s"INTERVAL $k DAY")
          case u => date_trunc(u, c)
        }

      case FormatTs(b, fmt) => compileFormatTs(go(b), fmt)

      case RawSql(s, bindings) =>
        // splice each bound {{ name }} as the referenced expression's
        // rendered SQL (reference utils/sql.py inlines compiled fragments);
        // unbound references mean the fragment never passed through a model
        // transform that could resolve them. Referenced lazy joins attach
        // first so namespaced columns exist.
        val substituted = RawSql.RefPattern.replaceAllIn(s, m => {
          val id = m.group(1)
          val bound = bindings.getOrElse(id,
            throw new IllegalArgumentException(
              s"unresolved {{ $id }} in sql fragment '$s' — the fragment " +
                "must be used via a model transform (filter/pick/aggregate)"))
          Expr.referencedNamespaces(bound)
            .foreach(ns => f.attach(ns.split(':').head))
          scala.util.matching.Regex.quoteReplacement(
            s"(${renderSql(bound, prefix)})")
        })
        expr(substituted)

      case InValues(t, values) =>
        // NULL-aware IN (reference column_expression.py:550-568)
        val tc = go(t)
        val nonNull = values.filter(_ != null)
        val hasNull = values.exists(_ == null)
        (nonNull.nonEmpty, hasNull) match {
          case (false, false) => lit(false)
          case (false, true)  => tc.isNull
          case (true, false)  => tc.isin(nonNull: _*) && tc.isNotNull
          case (true, true)   => tc.isin(nonNull: _*) || tc.isNull
        }

      case InModel(t, sub, column) =>
        // IN (SELECT DISTINCT col FROM sub) + NULL-membership existence
        // (reference column_expression.py:513-544). No broadcast hint: a
        // high-cardinality subquery at 100× would OOM the driver — let AQE
        // pick broadcast vs shuffle join from the actual distinct-side size.
        val tc = go(t)
        val subFrame = compileSource(sub.source, f.df.sparkSession)
        val subCol = compileExpr(column, subFrame)
        val ns = freshNs("inmodel")
        val flagName = nsCol(ns, "flag")
        val valName = nsCol(ns, "v")
        val vals = subFrame.df.select(subCol.as(valName)).where(col(valName).isNotNull)
          .distinct().withColumn(flagName, lit(true))
        f.df = f.df.join(vals, tc === col(valName), "left_outer")
        val nullName = nsCol(ns, "hasnull")
        val nullFlag = subFrame.df.agg(
          max(when(subCol.isNull, lit(true)).otherwise(lit(false))).as(nullName))
        f.df = f.df.crossJoin(broadcast(nullFlag))
        coalesce(col(flagName), lit(false)) ||
          (tc.isNull && coalesce(col(nullName), lit(false)))

      case ArrContains(a, v) => array_contains(go(a), go(v))

      case LikeE(t, p, ci) => if (ci) go(t).ilike(p) else go(t).like(p)
      case ContainsStr(t, v, cs) =>
        if (cs) go(t).contains(v) else lower(go(t)).contains(v.toLowerCase)

      case ScalarSubquery(sub) =>
        // LEFT join on TRUE (not a cross join): SQL scalar-subquery semantics
        // yield NULL when the subquery is empty instead of dropping every
        // outer row (reference SubqueryColumnExpression behavior).
        val subDf = run(sub, f.df.sparkSession)
        val ns = freshNs("scalar")
        val c0 = subDf.columns.head
        val renamed = subDf.limit(1).select(col(c0).as(nsCol(ns, c0)))
        f.df = f.df.join(broadcast(renamed), lit(true), "left_outer")
        col(nsCol(ns, c0))

      case ExistsE(sub) =>
        val subDf = run(sub, f.df.sparkSession)
        val ns = freshNs("exists")
        val flagName = nsCol(ns, "exists")
        val flag = subDf.agg((count(lit(1)) > 0).as(flagName))
        f.df = f.df.crossJoin(broadcast(flag))
        col(flagName)

      case AddInterval(t, iv, negate) =>
        val ivc = expr(iv.sqlLiteral)
        if (negate) go(t).cast("timestamp") - ivc else go(t).cast("timestamp") + ivc
    }
  }

  private val nsCounter = new java.util.concurrent.atomic.AtomicInteger(0)
  private def freshNs(kind: String): String = s"${kind}_${nsCounter.incrementAndGet()}"

  /** Ceiling on how many buckets one rangeJoin interval may explode into
    * under a CALLER-supplied bucket width (auto width guarantees ≤ 2).
    * Beyond this the row amplification is a scale defect, not a tuning
    * choice — the plan raises instead of silently exploding. */
  private[graft] val MaxBucketsPerInterval: Int = 4096

  /** Render an Expr as Spark-SQL text for `{{ name }}` fragment splicing
    * (reference utils/sql.py inlines the compiled SQL of referenced
    * expressions). Covers the scalar expression subset meaningful inside a
    * SQL fragment; set-valued nodes (subqueries, model membership) throw. */
  def renderSql(e: Expr, prefix: Option[String] = None): String = {
    def go(e: Expr): String = e match {
      case ColRef(n, nsOpt) =>
        (nsOpt orElse prefix) match {
          case None     => bt(n)
          case Some(ns) => bt(nsCol(ns, n))
        }
      case Lit(null) => "NULL"
      case Lit(s: String) => "'" + s.replace("'", "''") + "'"
      case Lit(b: Boolean) => b.toString.toUpperCase
      case Lit(i: TimeInterval) => i.sqlLiteral
      case Lit(t: java.time.Instant) =>
        "TIMESTAMP '" + java.sql.Timestamp.from(t).toString + "'"
      case Lit(d: java.time.LocalDate) => s"DATE '$d'"
      case Lit(v: Seq[_]) =>
        v.map(x => go(Lit(x))).mkString("array(", ", ", ")")
      case Lit(v) => v.toString
      case Named(b, _) => go(b)
      case Disambiguated(b, ns) =>
        renderSql(b, Some(prefix.fold(ns)(p => s"$p:$ns")))
      case Bin(op, l, r) =>
        import Op._
        op match {
          case FloorDiv => s"FLOOR((${go(l)}) / (${go(r)}))"
          case other =>
            val sym = other match {
              case Eq => "="; case Neq => "!="; case Lt => "<"; case Lte => "<="
              case Gt => ">"; case Gte => ">="; case Add => "+"; case Sub => "-"
              case Mul => "*"; case Div => "/"; case And => "AND"; case Or => "OR"
              case FloorDiv => "/" // unreachable
            }
            s"((${go(l)}) $sym (${go(r)}))"
        }
      case Not(b) => s"(NOT (${go(b)}))"
      case Cases(branches, other) =>
        val whens = branches.map { case (c, v) => s"WHEN ${go(c)} THEN ${go(v)}" }
        val els = other.map(o => s" ELSE ${go(o)}").getOrElse("")
        s"(CASE ${whens.mkString(" ")}$els END)"
      case Call(fn, args, dist) =>
        fn match {
          case "count" if args.isEmpty => "count(1)"
          case "count" if dist => s"count(DISTINCT ${go(args.head)})"
          case "diffSeconds" =>
            s"(unix_timestamp(${go(args.head)}) - unix_timestamp(${go(args(1))}))"
          case c if c.startsWith("cast:") =>
            s"CAST(${go(args.head)} AS ${c.stripPrefix("cast:")})"
          case "ceiling" => s"ceil(${go(args.head)})"
          case "json_get" =>
            s"get_json_object(${go(args.head)}, ${go(args(1))})"
          case simple => s"$simple(${args.map(go).mkString(", ")})"
        }
      case Granularity(b, unit) =>
        val c = s"CAST(${go(b)} AS TIMESTAMP)"
        unit match {
          case "week" if settings.weekShift != 0 =>
            val k = settings.weekShift
            s"(date_trunc('week', $c + INTERVAL $k DAY) - INTERVAL $k DAY)"
          case u => s"date_trunc('$u', $c)"
        }
      case AddInterval(t, iv, neg) =>
        val sign = if (neg) "-" else "+"
        s"(CAST(${go(t)} AS TIMESTAMP) $sign ${iv.sqlLiteral})"
      case RawSql(s, bindings) =>
        val substituted = RawSql.RefPattern.replaceAllIn(s, m => {
          val id = m.group(1)
          val bound = bindings.getOrElse(id,
            throw new IllegalArgumentException(s"unresolved {{ $id }} in '$s'"))
          scala.util.matching.Regex.quoteReplacement(s"(${go(bound)})")
        })
        s"($substituted)"
      case LikeE(t, p, ci) =>
        val op = if (ci) "ILIKE" else "LIKE"
        s"(${go(t)} $op ${go(Lit(p))})"
      case ContainsStr(t, v, cs) =>
        if (cs) s"(${go(t)} LIKE ${go(Lit("%" + v + "%"))})"
        else s"(lower(${go(t)}) LIKE ${go(Lit("%" + v.toLowerCase + "%"))})"
      case InValues(t, values) =>
        val nonNull = values.filter(_ != null)
        val hasNull = values.exists(_ == null)
        val tc = go(t)
        (nonNull.nonEmpty, hasNull) match {
          case (false, false) => "FALSE"
          case (false, true)  => s"($tc IS NULL)"
          case (true, false) =>
            s"($tc IN (${nonNull.map(v => go(Lit(v))).mkString(", ")}) AND $tc IS NOT NULL)"
          case (true, true) =>
            s"($tc IN (${nonNull.map(v => go(Lit(v))).mkString(", ")}) OR $tc IS NULL)"
        }
      case other =>
        throw new IllegalArgumentException(
          s"expression $other cannot be spliced into a sql fragment")
    }
    go(e)
  }

  /** Compile-only parity with reference `model.sql()` (model.py:1036-1059
    * returns the compiled query text without executing): render a model's
    * RELATIONAL subset — table/file scans, raw SQL, filter, pick,
    * aggregate (plain GROUP BY), sort, limit/offset, union, join-one
    * chains — as ONE executable Spark-SQL string built from nested
    * SELECTs and [[renderSql]] expression fragments. Join-one renders its
    * joined model's columns under the same `__ns_…` names the DataFrame
    * lowering uses, so namespaced references resolve identically; joins
    * are emitted eagerly (the lowering's lazy emission is a pure
    * optimization for many-to-one LEFT joins — values agree whenever the
    * join is referenced, the normal case). The run()-side output
    * post-process (dunder strip, dup rename) applies after the rendered
    * layer — terminate the model with an explicit pick/aggregate for
    * exact column parity, which ModelSqlSpec pins by executing the
    * rendering via `spark.sql` against `run()`. The SQL-expressible
    * composites render too: fold (UNPIVOT INCLUDE NULLS), topK
    * (row_number OVER + filter), withWindow (one layer per column,
    * explicit ROWS frames). Nodes outside the subset (native llm ops,
    * funnels/match_steps…) throw: their semantics live in DataFrame
    * lowerings no SQL string reproduces, and a wrong rendering would be
    * worse than an honest refusal. */
  def renderQuery(m: Model, spark: SparkSession): String = {
    def render(s: Source): String = s match {
      case Source.Table(name) =>
        val ref =
          if (name.endsWith(".csv"))
            throw new UnsupportedOperationException(
              "model.sql(): csv scans need header/inference options SQL " +
                "text cannot carry — register the csv as a view first")
          else if (name.endsWith(".json")) s"json.${bt(name)}"
          else if (name.endsWith(".orc")) s"orc.${bt(name)}"
          else if (name.contains("/") || name.endsWith(".parquet"))
            s"parquet.${bt(name)}"
          // bare names: backtick each dot-separated PART — run() resolves
          // `db.table` as a qualified name via spark.table, so rendering
          // it as one backticked identifier would break the
          // spark.sql(model.sql()) == model.run() contract
          else name.split('.').map(bt).mkString(".")
        s"SELECT * FROM $ref"
      case Source.SqlQuery(q)  => q
      case Source.JsonFile(p)  => s"SELECT * FROM json.${bt(p)}"
      case Source.OrcFile(p)   => s"SELECT * FROM orc.${bt(p)}"
      case Source.Filter(b, cond) =>
        s"SELECT * FROM (${render(b)}) WHERE ${renderSql(cond)}"
      case Source.Pick(b, cols, star) =>
        if (star) s"SELECT * FROM (${render(b)})"
        else {
          val st = cols.map(stripDistinct)
          val distinct = if (st.exists(_._2)) "DISTINCT " else ""
          val items = st.map { case (c, _) =>
            s"${renderSql(c)} AS ${bt(c.identifier)}" }
          s"SELECT $distinct${items.mkString(", ")} FROM (${render(b)})"
        }
      case Source.Aggregate(b, groups, measures, "group") =>
        val g = groups.map { x =>
          s"${renderSql(stripDistinct(x)._1)} AS ${bt(x.identifier)}" }
        val ms = measures.map(x => s"${renderSql(x)} AS ${bt(x.identifier)}")
        if (measures.isEmpty)
          s"SELECT DISTINCT ${g.mkString(", ")} FROM (${render(b)})"
        else if (groups.isEmpty)
          s"SELECT ${ms.mkString(", ")} FROM (${render(b)})"
        else
          s"SELECT ${(g ++ ms).mkString(", ")} FROM (${render(b)}) " +
            s"GROUP BY ${groups.indices.map(i => (i + 1).toString).mkString(", ")}"
      case Source.Sort(b, keys) =>
        s"SELECT * FROM (${render(b)}) ORDER BY ${keys.map(renderSortKey).mkString(", ")}"
      case Source.Limit(b0, n0, off0) =>
        // Fold stacked Limit nodes first (model.limit(5).limit(3) nests
        // two nodes and run() applies offset-then-limit per node, so the
        // composition is offset o_inner + o_outer, count
        // max(0, min(n_inner − o_outer, n_outer))) — a naive append would
        // render the unparseable "LIMIT 5 LIMIT 3".
        var base = b0; var n = n0; var off = off0
        var folding = true
        while (folding) base match {
          case Source.Limit(b1, n1, o1) =>
            n = math.max(0L, math.min(n1 - off, n)); off += o1; base = b1
          case _ => folding = false
        }
        val rendered = render(base)
        // a RAW SqlQuery already ending in its own LIMIT clause gets a
        // subselect wrap (appending would not parse); any ORDER BY inside
        // the raw text stays attached to ITS limit — the outer limit's
        // row choice among survivors is as unspecified as run()'s
        val needsWrap = base match {
          case Source.SqlQuery(_) =>
            "(?is).*\\blimit\\s+\\d+(\\s+offset\\s+\\d+)?\\s*;?\\s*$"
              .r.matches(rendered)
          case _ => false
        }
        val body = if (needsWrap) s"SELECT * FROM ($rendered)" else rendered
        // otherwise appended to the base's own SELECT so a preceding
        // ORDER BY stays attached to its LIMIT (a subquery wrap would not
        // guarantee it)
        if (off > 0) s"$body LIMIT $n OFFSET $off"
        else s"$body LIMIT $n"
      case Source.Union(a, b2) =>
        s"(${render(a)}) UNION ALL (${render(b2)})"
      case j: Source.JoinOne =>
        val jm = j.joined
        // the joined side's column NAMES come from compiling its source —
        // schema-only, nothing executes — renamed through the namespace
        // exactly like the lowering's build()
        val cols = compileSource(jm.source, spark).df.columns.toSeq
        val renamed = cols.map(c => s"${bt(c)} AS ${bt(joinedName(j.name, c))}")
        val pkName = nsCol(j.name, "__pk__")
        val pk = jm.primaryKey
          .map(p => s", ${renderSql(p)} AS ${bt(pkName)}").getOrElse("")
        val right =
          s"SELECT ${renamed.mkString(", ")}$pk FROM (${render(jm.source)})"
        val fkCond = j.foreignKey.map { fk =>
          require(jm.primaryKey.isDefined,
            s"relation '${j.name}': foreignKey requires a primary key")
          s"(${renderSql(fk)}) = ${bt(pkName)}"
        }
        val exCond = j.condition.map(renderSql(_))
        val cond = (fkCond, exCond) match {
          case (Some(a), Some(b2)) => s"($a) AND ($b2)"
          case (Some(a), None)     => a
          case (None, Some(b2))    => b2
          case (None, None) =>
            throw new IllegalArgumentException("join without predicate")
        }
        val jt = if (j.dropUnmatched) "JOIN" else "LEFT JOIN"
        s"SELECT * FROM (${render(j.base)}) $jt ($right) ON $cond"
      case Source.Fold(b, ids, values, keyName, valueName) =>
        // same logical node as the lowering's Dataset.unpivot: the id/value
        // projection first (UNPIVOT treats every remaining column as an
        // id), INCLUDE NULLS because the API form retains null values
        val idsS = ids.map(c => s"${renderSql(c)} AS ${bt(c.identifier)}")
        val valsS = values.map(c => s"${renderSql(c)} AS ${bt(c.identifier)}")
        val prep =
          s"SELECT ${(idsS ++ valsS).mkString(", ")} FROM (${render(b)})"
        val inList = values.map(c => bt(c.identifier)).mkString(", ")
        s"SELECT * FROM ($prep) UNPIVOT INCLUDE NULLS " +
          s"(${bt(valueName)} FOR ${bt(keyName)} IN ($inList))"
      case Source.RankLimit(b, partitionBy, orderKeys, k, rankName) =>
        val p =
          if (partitionBy.isEmpty) ""
          else s"PARTITION BY ${partitionBy.map(renderSql(_)).mkString(", ")} "
        val o = orderKeys.map(renderSortKey).mkString(", ")
        s"SELECT * FROM (SELECT *, row_number() OVER (${p}ORDER BY $o) " +
          s"AS ${bt(rankName)} FROM (${render(b)})) " +
          s"WHERE ${bt(rankName)} <= $k"
      case Source.WindowCalc(b, partitionBy, orderKeys, wcols) =>
        // one SELECT layer per window column so a later column may
        // reference an earlier one, exactly like the lowering's chained
        // withColumn; Catalyst's CollapseProject/CollapseWindow fuse the
        // layers back into the lowering's single-exchange shape. Frames
        // are spelled out (ROWS, not the ORDER BY default RANGE — RANGE
        // reads peer rows on ties, the lowering's rowsBetween does not).
        val p =
          if (partitionBy.isEmpty) ""
          else s"PARTITION BY ${partitionBy.map(renderSql(_)).mkString(", ")} "
        val o = s"ORDER BY ${orderKeys.map(renderSortKey).mkString(", ")}"
        wcols.foldLeft(render(b)) { (acc, wc) =>
          val kind = Source.WinKind.of(wc)
          val fn = kind.sql(renderSql(wc.target.get), wc)
          s"SELECT *, $fn OVER ($p$o${kind.frame.sql(wc)}) " +
            s"AS ${bt(wc.name)} FROM ($acc)"
        }
      case other =>
        throw new UnsupportedOperationException(
          s"model.sql() renders the relational subset; " +
            s"${other.getClass.getSimpleName} requires run()")
    }
    render(m.source)
  }

  /** ORDER BY item with the lowering's explicit null placement
    * ([[graft.ir.SortKey.nullsFirst]]). */
  private def renderSortKey(k: SortKey): String = s"${renderSql(k.e)} ${k.sqlOrder}"

  /** Python-strftime → Spark date_format pattern pieces, covering the
    * reference's FULL token whitelist (format_timestamp.py:81-111) with the
    * Databricks/Joda translations (:540-583) adapted to Spark's own pattern
    * dialect. Tokens Spark's `date_format` cannot express (week-based `%U`/
    * `%W` — Spark 3+ rejects week-based pattern letters — plus `%w` and the
    * nonstandard `%Q`) are spliced as computed sub-expressions, like the
    * reference splices `%Q`. */
  private val pyTokenMap: Map[String, String] = Map(
    "a" -> "EEE", "A" -> "EEEE", "b" -> "MMM", "B" -> "MMMM",
    "d" -> "dd", "-d" -> "d", "m" -> "MM", "-m" -> "M",
    "y" -> "yy", "Y" -> "yyyy",
    "H" -> "HH", "-H" -> "H", "I" -> "hh", "-I" -> "h", "p" -> "a",
    "M" -> "mm", "-M" -> "m", "S" -> "ss", "-S" -> "s",
    "f" -> "SSSSSS", "z" -> "xx", "Z" -> "zzz",
    "j" -> "DDD", "-j" -> "D",
  )

  /** Computed splices for tokens with no Spark pattern letter:
    * `%w` weekday (0=Sunday), `%U`/`%W` week-of-year (Sunday-/Monday-first,
    * days before the first week are week 0 — the C strftime formula
    * U=(yday+6-wday)/7), `%Q` quarter. */
  private def spliceToken(tok: String, c: Column): Option[Column] = {
    // dayofweek: 1=Sunday..7=Saturday; weekday: 0=Monday..6=Sunday
    def weekNum(firstDaySundayBased: Boolean): Column = {
      val w = if (firstDaySundayBased) dayofweek(c) - 1 else weekday(c)
      floor((dayofyear(c) + lit(6) - w) / 7).cast("int")
    }
    tok match {
      case "Q"  => Some(quarter(c).cast("string"))
      case "w"  => Some((dayofweek(c) - 1).cast("string"))
      case "U"  => Some(lpad(weekNum(true).cast("string"), 2, "0"))
      case "-U" => Some(weekNum(true).cast("string"))
      case "W"  => Some(lpad(weekNum(false).cast("string"), 2, "0"))
      case "-W" => Some(weekNum(false).cast("string"))
      case _    => None
    }
  }

  def compileFormatTs(c: Column, fmt: String): Column = {
    // split into (pattern-chunk | splice) pieces, then concat. Literal text
    // accumulates separately and is emitted as ONE quoted run — per-char
    // quoting would produce '1''0''0', which Java patterns read as escaped
    // quote characters.
    val pieces = mutable.Buffer.empty[Either[String, Column]]
    val chunk = new StringBuilder
    val litBuf = new StringBuilder
    def flushLit(): Unit =
      if (litBuf.nonEmpty) {
        chunk.append("'").append(litBuf.toString.replace("'", "''")).append("'")
        litBuf.clear()
      }
    def flush(): Unit = {
      flushLit()
      if (chunk.nonEmpty) { pieces += Left(chunk.toString); chunk.clear() }
    }
    var i = 0
    while (i < fmt.length) {
      val ch = fmt.charAt(i)
      if (ch == '%' && i + 1 < fmt.length) {
        // token is one char, or two for the no-pad '-X' variants
        val tok =
          if (fmt.charAt(i + 1) == '-' && i + 2 < fmt.length) fmt.substring(i + 1, i + 3)
          else fmt.charAt(i + 1).toString
        tok match {
          case "%" => litBuf.append("%")
          case t if pyTokenMap.contains(t) => flushLit(); chunk.append(pyTokenMap(t))
          case t =>
            spliceToken(t, c) match {
              case Some(spliced) => flush(); pieces += Right(spliced)
              case None =>
                // closed whitelist like the reference (sql_function.py:73-74
                // pattern): silent literal passthrough is a wrong-answer
                // generator
                throw new IllegalArgumentException(
                  s"unsupported strftime token %$t in format '$fmt'")
            }
        }
        i += 1 + tok.length
      } else {
        litBuf.append(ch)
        i += 1
      }
    }
    flush()
    val cols = pieces.map {
      case Left(pattern) => date_format(c, pattern)
      case Right(spliced) => spliced
    }
    if (cols.size == 1) cols.head else concat(cols.toSeq: _*)
  }

  // =================== source lowering ===================

  /** `c` in `k`'s direction and null placement (the reference's
    * nulls-auto rule, sort.py:13-45, resolved by SortKey.nullsFirst). */
  private def ordered(c: Column, k: SortKey): Column =
    if (k.asc) { if (k.nullsFirst) c.asc_nulls_first else c.asc_nulls_last }
    else if (k.nullsFirst) c.desc_nulls_first
    else c.desc_nulls_last

  /** SortKey list → ordered Columns compiled against `f`. */
  private def sortKeyCols(keys: Seq[SortKey], f: Frame): Seq[Column] =
    keys.map(k => ordered(compileExpr(k.e, f), k))

  /** Compile a sub-model and attach all its pending joins, so every
    * relation-qualified column of it is present on its frame. */
  private def compileClosed(m: Model, spark: SparkSession): Frame = {
    val f = compileSource(m.source, spark)
    f.pending.keys.toSeq.foreach(f.attach)
    f
  }

  /** A sub-model's column contract: fail unless `f` has every one of
    * `cols`. */
  private def requireExposed(f: Frame, what: String, cols: String*): Unit =
    require(cols.forall(f.hasCol), s"$what model must expose " +
      (if (cols.size == 1) s"a column named '${cols.head}'"
       else cols.mkString("columns (", ", ", ")")) +
      s"; got (${f.df.columns.mkString(", ")})")

  /** `f`'s frame with each (name, expression) compiled against `f` and
    * added in order by withColumn — a corpus operator's input
    * projection. */
  private def withInputs(f: Frame, cols: (String, Expr)*): DataFrame =
    cols.foldLeft(f.df) { case (df, (n, e)) => df.withColumn(n, compileExpr(e, f)) }

  def compileSource(s: Source, spark: SparkSession): Frame = s match {
    case Source.Table(name) =>
      // file connectors by extension (reference duckdb_connection.py:96-117
      // registers csv/json/parquet paths as tables); bare names are
      // registered tables/temp views
      if (name.endsWith(".csv")) compileSource(Source.CsvFile(name), spark)
      else if (name.endsWith(".json")) compileSource(Source.JsonFile(name), spark)
      else if (name.endsWith(".orc")) compileSource(Source.OrcFile(name), spark)
      else if (name.contains("/") || name.endsWith(".parquet"))
        new Frame(ParquetIO.read(spark, name))
      else new Frame(spark.table(name))

    case Source.SqlQuery(q) => new Frame(spark.sql(q))
    case Source.FromDF(df)  => new Frame(df)
    // file sources resolve their schema once per file version (ParquetIO)
    case Source.CsvFile(p) =>
      new Frame(ParquetIO.load(spark, "csv", p,
        Map("header" -> "true", "inferSchema" -> "true")))
    case Source.JsonFile(p) => new Frame(ParquetIO.load(spark, "json", p))
    case Source.OrcFile(p)  => new Frame(ParquetIO.load(spark, "orc", p))
    case Source.XlsxFile(p, sheet) =>
      // pure-JDK codec (ZIP + SAX): header row + pandas-style type
      // inference; yields a LocalRelation that downstream joins broadcast
      new Frame(graft.sources.Xlsx.read(spark, p, sheet))
    case Source.WarcFile(p) =>
      // crawl-container scan: one task per shard, record walk in the task
      new Frame(graft.sources.Warc.read(spark, p))
    case Source.WetFile(p) =>
      // extracted-text view of the same container walk: conversion
      // records only, payload decoded to (url, text)
      new Frame(graft.sources.Warc.readWet(spark, p))
    case Source.WatFile(p) =>
      // link-metadata view: metadata records' JSON Links arrays exploded
      // to (src_url, dst_url) anchor rows — no HTML fetch or parse
      new Frame(graft.sources.Warc.readWat(spark, p))

    case Source.Filter(base, cond) =>
      val f = compileSource(base, spark)
      val c = compileExpr(cond, f)
      f.df = f.df.filter(c)
      f

    case Source.Pick(base, cols, star) =>
      val f = compileSource(base, spark)
      if (!star) {
        val stripped = cols.map(stripDistinct)
        val compiled = stripped.map { case (c, _) => compileExpr(c, f).as(c.identifier) }
        f.df = f.df.select(compiled: _*)
        if (stripped.exists(_._2)) f.df = f.df.distinct()
      }
      // projection closes the layer: relations are dropped (model.py:881-887)
      new Frame(f.df)

    case Source.Aggregate(base, groups, measures, mode) =>
      val f = compileSource(base, spark)
      val groupCols = groups.map(g => compileExpr(stripDistinct(g)._1, f).as(g.identifier))
      val measureCols = measures.map(m => compileExpr(m, f).as(m.identifier))
      val out = mode match {
        case "group" =>
          if (measures.isEmpty) f.df.select(groupCols: _*).distinct()
          else if (groups.isEmpty) f.df.agg(measureCols.head, measureCols.tail: _*)
          else f.df.groupBy(groupCols: _*).agg(measureCols.head, measureCols.tail: _*)
        // grouping sets lower to Spark's native Expand-based rollup/cube:
        // ONE shuffle computes every level (partial aggregation applies
        // per grouping set) — not a union of per-level aggregates
        case "rollup" =>
          require(groups.nonEmpty && measures.nonEmpty,
            "rollup requires groups and measures")
          f.df.rollup(groupCols: _*).agg(measureCols.head, measureCols.tail: _*)
        case "cube" =>
          require(groups.nonEmpty && measures.nonEmpty,
            "cube requires groups and measures")
          f.df.cube(groupCols: _*).agg(measureCols.head, measureCols.tail: _*)
        // arbitrary GROUPING SETS, encoded as "sets:0,1|1|" — pipe-separated
        // index lists into `groups` (empty list = grand total). The set
        // entries must be the SAME resolved expressions as the group-by
        // list (alias nodes carry fresh exprIds and don't match), so the
        // group expressions are materialized as named columns first and
        // both lists reference them by name.
        case s if s.startsWith("sets:") =>
          require(groups.nonEmpty && measures.nonEmpty,
            "grouping sets require groups and measures")
          val sets = s.stripPrefix("sets:").split("\\|", -1).toSeq
            .map(part => if (part.isEmpty) Seq.empty[Int]
                         else part.split(",").toSeq.map(_.toInt))
          val names = groups.map(_.identifier)
          val withGroups = groups.zip(names).foldLeft(f.df) {
            case (df, (g, n)) => df.withColumn(n, compileExpr(stripDistinct(g)._1, f))
          }
          withGroups
            .groupingSets(sets.map(_.map(i => col(names(i)))),
              names.map(col): _*)
            .agg(measureCols.head, measureCols.tail: _*)
        case other =>
          throw new IllegalArgumentException(s"unknown aggregate mode '$other'")
      }
      new Frame(out)

    case Source.Sort(base, keys) =>
      val f = compileSource(base, spark)
      f.df = f.df.orderBy(sortKeyCols(keys, f): _*)
      f

    case Source.Limit(base, n, off) =>
      val f = compileSource(base, spark)
      f.df = if (off > 0) f.df.offset(off.toInt).limit(n.toInt) else f.df.limit(n.toInt)
      f

    case Source.Union(base, other) =>
      // positional UNION ALL; a new layer — joins flattened (union.py:6-35)
      val lf = compileSource(base, spark)
      val rf = compileSource(other, spark)
      new Frame(lf.df.unionAll(rf.df))

    case Source.Fold(base, ids, values, keyName, valueName) =>
      // single-scan unpivot (vs the reference's one-aggregate-scan-per-value
      // -column UNION ALL chain, model.py:939-995); NULL values retained,
      // matching the reference composition's semantics
      val f = compileSource(base, spark)
      val idCols = ids.map(c => compileExpr(c, f).as(c.identifier))
      val valCols = values.map(c => compileExpr(c, f).as(c.identifier))
      val prepared = f.df.select(idCols ++ valCols: _*)
      new Frame(prepared.unpivot(
        ids.map(c => col(c.identifier)).toArray,
        values.map(c => col(c.identifier)).toArray,
        keyName, valueName))

    case Source.JoinOne(base, name, joined, fkOpt, condOpt, dropUnmatched) =>
      val f = compileSource(base, spark)
      val pkName = nsCol(name, "__pk__")
      val build = () => {
        // the joined model's OWN pending joins attach so its
        // relation-qualified attributes (nested namespaces) resolve — the
        // reference compiles the joined model's full query layer
        val jf = compileClosed(joined, spark)
        val pkCol = joined.primaryKey.map(pk => compileExpr(pk, jf))
        val renamed = jf.df.columns.map(c => jf.df(c).as(joinedName(name, c))).toSeq
        val extra = pkCol.map(_.as(pkName)).toSeq
        jf.df.select(renamed ++ extra: _*)
      }
      val cond = (fr: Frame) => {
        val fkCond = fkOpt.map { fk =>
          require(joined.primaryKey.isDefined,
            s"relation '$name': foreignKey requires the joined model to have a primary key")
          compileExpr(fk, fr) === col(pkName)
        }
        val exCond = condOpt.map(c => compileExpr(c, fr))
        (fkCond, exCond) match {
          case (Some(a), Some(b)) => a && b
          case (Some(a), None)    => a
          case (None, Some(b))    => b
          case (None, None) => throw new IllegalArgumentException("join without predicate")
        }
      }
      val jt = if (dropUnmatched) "inner" else "left_outer"
      f.pending(name) = PendingJoin(name, build, cond, jt)
      f

    case Source.NativeOp(base, op) =>
      // native DataFrame transformation — a fresh layer (schema may change)
      val f = compileSource(base, spark)
      new Frame(op(f.df))

    case Source.RankLimit(base, partitionBy, orderKeys, k, rankName) =>
      val f = compileSource(base, spark)
      require(!f.df.columns.contains(rankName),
        s"topK rank column '$rankName' already exists on the input; " +
          "pass a different rankName")
      val parts = partitionBy.map(p => compileExpr(p, f))
      val w = Window.partitionBy(parts: _*).orderBy(sortKeyCols(orderKeys, f): _*)
      new Frame(f.df
        .withColumn(rankName, row_number().over(w))
        .where(col(rankName) <= k))

    case Source.WindowCalc(base, partitionBy, orderKeys, wcols) =>
      // every column shares ONE (partition, order) spec: a single
      // hash(partition) exchange + one sort; Catalyst's CollapseWindow
      // fuses the same-spec functions into one Window operator and the
      // moving-frame variants chain on the already-sorted child. Window
      // state is O(1) (running) or O(frame) rows — nothing accumulates
      // unbounded per key, so hot entities spill-safely at 100 TB.
      val f = compileSource(base, spark)
      // Materialize partition/order expressions ONCE as shared internal
      // columns: building the spec from per-withColumn expression copies
      // gives every window function a fresh projected sort attribute
      // (_w0#n), which defeats CollapseWindow — the plan then pays one
      // Sort per window column instead of one per frame shape (observed
      // on q_window_rank: 7 sorts → 2). The engine-internal __gw*__
      // names are dropped below, before the frame leaves this node.
      // Bare column refs keep their own (stable) attribute — materializing
      // them under a fresh name would hide the hash-partitioning from a
      // chained same-key WindowCalc and force a second exchange.
      def bareCol(e: Expr): Option[String] = e match {
        case ColRef(n, None) if f.df.columns.contains(n) => Some(n)
        case _                                     => None
      }
      val tmpNames = scala.collection.mutable.ArrayBuffer.empty[String]
      def shared(e: Expr, tag: String): String = bareCol(e).getOrElse {
        val n = s"__gw$tag${tmpNames.size}__"
        f.df = f.df.withColumn(n, compileExpr(e, f))
        tmpNames += n
        n
      }
      val pNames = partitionBy.map(shared(_, "p"))
      val oNames = orderKeys.map(k => shared(k.e, "o"))
      val parts = pNames.map(col(_))
      val ordCols = orderKeys.zip(oNames).map { case (k, n) => ordered(col(n), k) }
      val w = Window.partitionBy(parts: _*).orderBy(ordCols: _*)
      wcols.foreach { wc =>
        require(!f.df.columns.contains(wc.name),
          s"window column '${wc.name}' already exists on the input")
        val kind = Source.WinKind.of(wc)
        val t = if (kind.needsTarget) compileExpr(wc.target.get, f) else null
        f.df = f.df.withColumn(wc.name, kind.col(t, wc).over(kind.frame.over(w, wc)))
      }
      f.df = f.df.drop(tmpNames.toSeq: _*)
      f

    case Source.AsofJoin(base, right, leftOn, rightOn, leftTs, rightTs,
        rightSeq, pick, strict, pruneRight) =>
      // Tag-union + one last-non-null running window: both sides shuffle
      // ONCE on the key, the right payload rides as a single struct, and
      // each left row reads the latest preceding right struct — the
      // scale-correct as-of shape (a range join explodes |left| ×
      // |right-per-key| candidate pairs; a correlated subquery doesn't
      // distribute). Equal-timestamp eligibility is encoded purely in the
      // tag sort: inclusive (≤) sorts right rows BEFORE left ones at the
      // same timestamp, strict (<) after; right-timestamp ties resolve to
      // the highest seq because the window reads the LAST preceding row
      // under (ts, tag, seq) ascending order.
      val lf = compileSource(base, spark)
      val lk = compileExpr(leftOn, lf)
      val lt = compileExpr(leftTs, lf)
      val keepCols = lf.df.columns.toSeq
      pick.foreach(p => require(!keepCols.contains(p.identifier),
        s"asofJoin pick '${p.identifier}' collides with an existing column"))
      val leftTag = if (strict) 0 else 1
      val leftSide = lf.df
        .withColumn("__k__", lk)
        .withColumn("__ts__", lt.cast("timestamp"))
        .withColumn("__tag__", lit(leftTag))
      val rf = compileClosed(right, spark)
      val rv = struct(pick.map(p => compileExpr(p, rf).as(p.identifier)): _*)
      val rightAll = rf.df.select(
        compileExpr(rightOn, rf).as("__k__"),
        compileExpr(rightTs, rf).cast("timestamp").as("__ts__"),
        rightSeq.map(sq => compileExpr(sq, rf)).getOrElse(lit(0L))
          .cast("long").as("__seq__"),
        rv.as("__rv__"))
        // null keys/timestamps can never match — drop before the shuffle
        .where(col("__k__").isNotNull && col("__ts__").isNotNull)
      // opt-in right-side pruning for a SELECTIVE left (a small entity
      // subset against a big right history): a left-semi join on the
      // left's distinct keys drops unmatched right rows before the union
      // shuffle — results are identical (those rows can never be a match),
      // and the extra small exchange pays for itself whenever it
      // eliminates most of the right side
      val rightSide = (if (pruneRight)
        rightAll.join(
          leftSide.select(col("__k__")).where(col("__k__").isNotNull).distinct(),
          Seq("__k__"), "left_semi")
      else rightAll)
        .withColumn("__tag__", lit(1 - leftTag))
      val unioned = leftSide.unionByName(rightSide, allowMissingColumns = true)
      val w = Window.partitionBy(col("__k__"))
        .orderBy(col("__ts__").asc, col("__tag__").asc, col("__seq__").asc_nulls_first)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val matched = unioned.withColumn("__rvlast__",
        last(col("__rv__"), ignoreNulls = true).over(w))
      new Frame(matched.where(col("__tag__") === leftTag)
        .select(keepCols.map(col) ++
          pick.map(p => col("__rvlast__").getField(p.identifier).as(p.identifier)): _*))

    case Source.RangeJoin(base, right, leftOn, rightOn, point, lo, hi,
        pick, bucketMicros) =>
      // Bucketed interval join: both sides map to fixed-width epoch-micro
      // buckets and meet in ONE shuffle equi-join on (key, bucket); the
      // exact [lo, hi) predicate then filters candidates. Bucket width
      // defaults to the widest right interval (a bounded one-row agg — a
      // model parameter, not a data collect), so each right interval
      // explodes into ≤ 2 buckets and each left point into exactly 1:
      // right-side amplification is capped at 2× regardless of data
      // volume. Bucket arithmetic is exact integer math — (x - pmod(x, w))
      // is divisible by w, so the double division is exact and
      // floor-correct for negative epochs too.
      val lf = compileSource(base, spark)
      val keepCols = lf.df.columns.toSeq
      pick.foreach(p => require(!keepCols.contains(p.identifier),
        s"rangeJoin pick '${p.identifier}' collides with an existing column"))
      val rf = compileClosed(right, spark)
      val rv = struct(pick.map(p => compileExpr(p, rf).as(p.identifier)): _*)
      val rightBase = rf.df.select(
        rightOn.map(k => compileExpr(k, rf)).getOrElse(lit(0L)).as("__k__"),
        unix_micros(compileExpr(lo, rf).cast("timestamp")).as("__lo__"),
        unix_micros(compileExpr(hi, rf).cast("timestamp")).as("__hi__"),
        rv.as("__rv__"))
        // null keys/bounds and empty intervals can never match — drop
        // before the shuffle
        .where(col("__k__").isNotNull && col("__lo__").isNotNull &&
          col("__hi__").isNotNull && col("__lo__") < col("__hi__"))
      // Auto width is a LAZY 1-row aggregate cross-joined into both sides
      // (a provably-1-row broadcast — the HLL `tot` pattern), never a
      // driver-side head(): pure plan construction/inspection (Explain,
      // wire round-trips) triggers no Spark job. Cost: the widest-interval
      // agg branch re-scans the (column-pruned) right side once per join
      // side — the price of keeping the plan fully declarative.
      val autoWidth = bucketMicros <= 0
      val widthCol = if (autoWidth) col("__w__") else lit(bucketMicros)
      val wFrame = rightBase.agg(
        greatest(coalesce(max(col("__hi__") - col("__lo__")), lit(1L)),
          lit(1L)).as("__w__"))
      def bucketOf(c: Column): Column =
        ((c - pmod(c, widthCol)) / widthCol).cast("long")
      // Amplification guard: with auto width every interval explodes into
      // ≤ 2 buckets, but a CALLER-supplied bucketMicros far below the
      // widest right interval would explode sequence() unboundedly (the
      // quadratic-in-disguise shape). Cap buckets per interval and fail
      // LOUDLY in the plan itself (raise_error costs nothing when healthy).
      val bLo = bucketOf(col("__lo__"))
      val bHiRaw = bucketOf(col("__hi__") - lit(1L))
      val bHi =
        if (autoWidth) bHiRaw
        // bucket count is span+1, so the ceiling is span >= cap (a span
        // of cap-1 is exactly cap buckets — the documented maximum)
        else when(bHiRaw - bLo >= lit(MaxBucketsPerInterval.toLong),
          raise_error(concat(
            lit(s"rangeJoin bucketMicros=$bucketMicros explodes an interval of "),
            (col("__hi__") - col("__lo__")).cast("string"),
            lit(s" micros into > $MaxBucketsPerInterval buckets; raise " +
              "bucketMicros (>= widest_interval / " +
              s"$MaxBucketsPerInterval) or use the auto width"))))
          .otherwise(bHiRaw)
      val rightExp = (if (autoWidth) rightBase.crossJoin(wFrame) else rightBase)
        .withColumn("__b__", explode(sequence(bLo, bHi)))
      val leftBase = lf.df
        .withColumn("__k__",
          leftOn.map(k => compileExpr(k, lf)).getOrElse(lit(0L)))
        .withColumn("__pt__",
          unix_micros(compileExpr(point, lf).cast("timestamp")))
        .where(col("__k__").isNotNull && col("__pt__").isNotNull)
      val leftSide = (if (autoWidth) leftBase.crossJoin(wFrame) else leftBase)
        .withColumn("__b__", bucketOf(col("__pt__")))
      val joined = leftSide.join(rightExp, Seq("__k__", "__b__"), "inner")
        .where(col("__pt__") >= col("__lo__") && col("__pt__") < col("__hi__"))
      new Frame(joined.select(keepCols.map(col) ++
        pick.map(p => col("__rv__").getField(p.identifier).as(p.identifier)): _*))

    case Source.SetJoin(base, right, on, anti) =>
      // left_semi / left_anti: Spark's native existence joins — the right
      // side reduces to its key columns (scan prunes to them) and AQE
      // picks broadcast vs shuffled from the actual key-side size
      val lf = compileSource(base, spark)
      val rf = compileClosed(right, spark)
      val ns = freshNs("setjoin")
      val rightKeys = rf.df.select(on.zipWithIndex.map { case ((_, re), i) =>
        compileExpr(re, rf).as(nsCol(ns, s"k$i"))
      }: _*)
      val cond = on.zipWithIndex.map { case ((le, _), i) =>
        compileExpr(le, lf) === col(nsCol(ns, s"k$i"))
      }.reduce(_ && _)
      lf.df = lf.df.join(rightKeys, cond, if (anti) "left_anti" else "left_semi")
      lf

    case ms: Source.MatchSteps => compileMatchSteps(ms, spark)

    case Source.UpsampleMix(base, group, key, weights) =>
      // Lowers to graft.llm.TextOps.upsampleMix: broadcast the (tiny by
      // nature) weights side, replicate via a map-side sequence-explode —
      // the operator itself shuffles nothing. The weights subtree compiles
      // like any model, so the whole node is wire-complete; its contract
      // is a column named like the group identifier plus `weight`.
      val bf = compileSource(base, spark)
      val wf = compileClosed(weights, spark)
      val gName = group.identifier
      requireExposed(wf, "upsampleMix weights", gName, "weight")
      val keyName = "__upmix_key__" // dunder: stripped by sink post-process
      val df = withInputs(bf, gName -> group, keyName -> key)
      new Frame(graft.llm.TextOps
        .upsampleMix(df, gName, keyName, wf.df.select(col(gName), col("weight")))
        .drop(keyName))

    case Source.SubstringClean(base, id, text, minSpanWords, minCopies) =>
      // Lowers to graft.llm.Dedup.substringClean (token-linear position
      // explode via the word_kgram_md5s native, one map-side-combined gram
      // aggregate, corpus-shrunk dictionary equi-join, per-doc windows).
      val bf = compileSource(base, spark)
      val idName = id.identifier
      val txName = "__sc_text__"
      val df = withInputs(bf, idName -> id, txName -> text)
      new Frame(graft.llm.Dedup
        .substringClean(df, idName, txName, minSpanWords, minCopies))

    case Source.CdcChunks(base, id, text, k, modulus) =>
      // Lowers to graft.llm.Search.cdcChunks: codegen'd gram-hash +
      // boundary natives + ONE posexplode carrying the token array —
      // zero joins, zero shuffles, a pure narrow map over the scan.
      val bf = compileSource(base, spark)
      val idName = id.identifier
      val txName = "__cdc_text__"
      val df = withInputs(bf, idName -> id, txName -> text)
      new Frame(graft.llm.Search.cdcChunks(df, idName, txName, k, modulus))

    case Source.BoilerplateStrip(base, id, text, stops, mw, pct, llc) =>
      // Lowers to TextOps.boilerplateLines: per-row HOF line
      // classification with the INTEGER density compare — zero joins,
      // zero shuffles, a pure narrow map over the scan.
      val bf = compileSource(base, spark)
      graft.GraftExtensions.install(spark) // the boilerplate_strip native
      val idName = id.identifier
      val txName = "__bp_text__"
      val df = withInputs(bf, idName -> id, txName -> text)
        .withColumn("__bp__",
          graft.llm.TextOps.boilerplateLines(txName, stops, mw, pct, llc))
        .select(
          org.apache.spark.sql.functions.col(idName),
          org.apache.spark.sql.functions.col("__bp__.n_lines").as("n_lines"),
          org.apache.spark.sql.functions.col("__bp__.n_content").as("n_content"),
          org.apache.spark.sql.functions.col("__bp__.boilerplate_frac")
            .as("boilerplate_frac"),
          org.apache.spark.sql.functions.col("__bp__.clean").as("clean"))
      new Frame(df)

    case Source.WeightedSample(base, key, weight, k) =>
      // Lowers to graft.llm.TextOps.weightedSample: ES priorities with
      // the md5-derandomized draw; a TakeOrdered cut, no global sort.
      // The dunder key/weight columns strip at the sink post-process.
      val bf = compileSource(base, spark)
      val kName = "__ws_key__"
      val wName = "__ws_w__"
      val df = withInputs(bf, kName -> key, wName -> weight)
      new Frame(graft.llm.TextOps.weightedSample(df, kName, wName, k)
        .drop(wName))

    case Source.CorpusDrift(base, other, text, otherText, alpha) =>
      // Lowers to TextOps.unigramKl over the two compiled frames with a
      // shared text-column name; the other slice is a sub-model (the
      // SemanticDecontam/DsirSelect seam), compiled — not collected —
      // because drift needs its full word distribution, not a bounded
      // parameter set.
      val bf = compileSource(base, spark)
      val of = compileClosed(other, spark)
      val tName = "__drift_text__"
      val dfA = withInputs(bf, tName -> text)
      val dfB = withInputs(of, tName -> otherText)
      new Frame(graft.llm.TextOps.unigramKl(dfA, dfB, tName, alpha))

    case Source.CorpusDiff(base, other, id, text, otherId, otherText) =>
      // Lowers to Dedup.corpusDiff over the two compiled frames with a
      // shared id/text column naming; the new snapshot is a sub-model
      // (the CorpusDrift seam), compiled — not collected.
      val bf = compileSource(base, spark)
      val of = compileClosed(other, spark)
      val idName = id.identifier
      val tName = "__cd_text__"
      val dfO = withInputs(bf, idName -> id, tName -> text)
      val dfN = withInputs(of, idName -> otherId, tName -> otherText)
      new Frame(graft.llm.Dedup.corpusDiff(dfO, dfN, idName, tName))

    case Source.CorpusReport(base, text, groups) =>
      // Lowers to TextOps.corpusReport: one aggregate, slice columns
      // named by their expressions' identifiers.
      val bf = compileSource(base, spark)
      val tName = "__cr_text__"
      val gNames = groups.map(_.identifier)
      val df = withInputs(bf, (tName -> text) +: gNames.zip(groups): _*)
      new Frame(graft.llm.TextOps.corpusReport(df, tName, gNames))

    case Source.SemanticDecontam(base, id, vec, eval, evalVec, threshold) =>
      // The eval sub-model compiles and COLLECTS at plan-build time — a
      // bounded model parameter (benchmark suites are small; the
      // DsirSelect target-slice precedent). Serving is |eval| codegen'd
      // float_vec_dot folds per row — against frozen literals for small
      // suites, or a 1-row broadcast of the suite above the operator's
      // maxEvalVecs plan-size bound (still zero shuffles either way).
      val bf = compileSource(base, spark)
      val ef = compileClosed(eval, spark)
      val vName = evalVec.identifier
      requireExposed(ef, "semanticDecontam eval", vName)
      val evalVecs = ef.df
        .where(col(vName).isNotNull)
        .select(col(vName))
        .collect().map(_.getSeq[Float](0).toSeq).toSeq
      val idName = id.identifier
      val cName = "__sd_vec__"
      val df = withInputs(bf, idName -> id, cName -> vec)
      new Frame(graft.llm.Embeddings.semanticDecontaminate(
        df, idName, cName, evalVecs, threshold))

    case Source.DomainCap(base, domain, id, cap) =>
      // Lowers to graft.llm.TextOps.domainCap: ONE row_number window in
      // deterministic (md5(id), id) order, rewritten by Spark to a
      // partial WindowGroupLimit. The computed `domain` stays as an
      // output column (downstream groupings use it); the dunder id
      // helper strips at the sink post-process.
      val bf = compileSource(base, spark)
      val iName = "__dc_id__"
      val df = withInputs(bf, "domain" -> domain, iName -> id)
      new Frame(graft.llm.TextOps.domainCap(df, "domain", iName, cap)
        .drop(iName))

    case Source.DsirSelect(base, id, text, target, dims, k) =>
      // Lowers to graft.llm.Dsir: FIT materializes the two ≤dims-row
      // bucket models at compile time (bounded model parameters — the
      // k-means-centroid-collect precedent); SERVING probes the ratio
      // table frozen into the plan as an array literal (zero joins); the
      // cut is sort+limit (TakeOrdered) with a k-row rank window.
      val bf = compileSource(base, spark)
      val tf = compileClosed(target, spark)
      val idName = id.identifier
      val txName = text.identifier
      requireExposed(tf, "dsirSelect target", txName)
      // materialize-FEATURES-once (the semdedup doctrine): the hashed
      // gram-bucket arrays — the dominant md5 cost — are computed in ONE
      // pass and cached; the fit's raw-count pass and the serving fold
      // both read the cache instead of re-hashing the corpus. Scope is
      // released per query by the harness.
      graft.GraftExtensions.install(spark)
      val feats = graft.llm.CacheScope.global.cache(
        withInputs(bf, idName -> id, txName -> text)
        .where(col(txName).isNotNull)
        .select(col(idName),
          graft.llm.Dsir.gramBuckets(col(txName), dims).as("__bk__")))
      val targetBuckets = tf.df
        .where(col(txName).isNotNull)
        .select(graft.llm.Dsir.gramBuckets(col(txName), dims).as("__bk__"))
      val llr = graft.llm.Dsir.fitLlrMicroOf(
        targetBuckets, feats.select(col("__bk__")), "__bk__", dims)
      new Frame(graft.llm.Dsir.selectTopKOf(feats, idName, "__bk__", llr, k))

    case Source.TokenBudgetFill(base, id, group, text, weights, budget) =>
      // Lowers to graft.llm.TextOps.tokenBudgetFill: broadcast weights,
      // map-side token counts, ONE hash-partitioned running-sum window on
      // the group key. Same weights-sub-model contract as UpsampleMix.
      val bf = compileSource(base, spark)
      val wf = compileClosed(weights, spark)
      val gName = group.identifier
      requireExposed(wf, "tokenBudgetFill weights", gName, "weight")
      val idName = id.identifier
      val txName = "__tbf_text__"
      val df = withInputs(bf, idName -> id, gName -> group, txName -> text)
      new Frame(graft.llm.TextOps.tokenBudgetFill(df, idName, gName, txName,
        wf.df.select(col(gName), col("weight")), budget))

    case Source.Sessionize(base, schema, gapSeconds) =>
      // Gap-based sessionization, tie-safe by construction: a boundary
      // flag from lag() is order-ambiguous for equal timestamps, but the
      // session START is a running max over a RANGE frame (ties included
      // on both engines' default frame), so tied rows always land in the
      // same session regardless of intra-tie order — the output grain is
      // deterministic where raw row_number-style session ids would not be.
      // ONE exchange: both windows share hash(group), and the final
      // (group, session_start) aggregate's clustering is satisfied by the
      // same partitioning (subset rule), so Catalyst reuses it.
      val bf = compileSource(base, spark)
      val gIdent = schema.group.identifier
      val gCol = compileExpr(schema.group, bf)
      val tCol = compileExpr(schema.timestamp, bf)
      val ev = bf.df.select(gCol.as("__g__"), tCol.cast("timestamp").as("__t__"))
        // a null timestamp cannot belong to any session — dropping it here
        // beats emitting a bogus null-start session per group
        .where(col("__t__").isNotNull)
      val w = Window.partitionBy(col("__g__")).orderBy(col("__t__"))
      val prev = lag(col("__t__"), 1).over(w)
      val flagged = ev.withColumn("__bnd__",
        // interval comparison, not epoch math: exact at any timestamp
        // precision (unix_timestamp would truncate sub-second events)
        when(prev.isNull ||
          col("__t__") > prev + expr(s"INTERVAL $gapSeconds SECOND"),
          col("__t__")))
      val sess = flagged.withColumn("__ss__", max(col("__bnd__")).over(w))
      new Frame(sess
        .groupBy(col("__g__"), col("__ss__"))
        .agg(count(lit(1)).as("n_events"), max(col("__t__")).as("session_end"))
        .select(col("__g__").as(gIdent), col("__ss__").as("session_start"),
          col("n_events"), col("session_end")))
  }

  // =================== match_steps (Spark-first redesign) ===================

  /** Greedy first-after sequential matching, re-expressed Spark-first.
    *
    * The reference builds per-group "journey hash" strings via
    * filter+UNION-per-step, row_number, STRING_AGG, then one CTE per step
    * doing regex index math, then N+1 LEFT JOINs back
    * (compilers/match_steps.py:83-330); its Redshift LISTAGG 64KB failure
    * (:682-693) shows the journey-string's unbounded per-group state is a
    * real scale wall. Round-1 used `collect_list(struct)` per group — same
    * wall (one bot group with 50M events = one non-spillable aggregation
    * buffer).
    *
    * v3 removes the journey entirely: ONE custom aggregate —
    * [[graft.expr.GreedyChain]] `greedy_chain(t, mask, K)`, a
    * TypedImperativeAggregate whose state is the pruned per-step candidate
    * frontier (O(steps) when groups match early; see its scaladoc for the
    * monotone-cap pruning argument) — computes every step's matched time
    * per group in a single hash aggregate with map-side combine, so the
    * shuffle moves frontier-sized state instead of events. v2's chain of K
    * dependent windowed min-struct aggregates was semantically identical
    * but buffered every group's full event list K+1 times through
    * WindowExec's spill array (a 50M-event bot group = K+1 full spill
    * passes); the aggregate does zero per-group buffering.
    *
    * A second narrow pass (join the per-key chain back, count events
    * before each matched time) recovers `step_k_event_index` — the matched
    * event's 1-based position in the group's time-ordered event sequence —
    * deterministically, replacing v2's tie-arbitrary row_number. Per the
    * reference (match_steps.py:366-378) indices beyond the time limit are
    * now nulled like their timestamps. Equal-timestamp semantics match the
    * reference's journey tie-break (ts asc, step-char DESC: a later step
    * sharing the previous step's timestamp sorts BEFORE it in the journey
    * and is therefore not matched — exactly what strict `t >` produces).
    *
    * With partition_start_events the grain is (group × partition of first
    * step-0 event) (match_steps.py:387-447): anchors = first step-0 event
    * time per (group, partition), inner-joined back on group (entities
    * that never entered a journey are dropped, :271-283); step 0's mask
    * bit becomes `t == anchor_t`, pinning each replica's chain start to
    * its partition's anchor.
    *
    * time_limit is evaluated after greedy assembly, matching the
    * reference's documented pessimism (match_steps.py:177-178), and is
    * CALENDAR-aware: the cutoff is `step0_ts + INTERVAL`, like the
    * reference's timedelta comparison (match_steps.py:611-660) — not an
    * approximate seconds count.
    */
  private def compileMatchSteps(ms: Source.MatchSteps, spark: SparkSession): Frame = {
    import ms._
    require(steps.size <= 62, "Too many unique step types to match against.")
    graft.GraftExtensions.install(spark)
    val bf = compileSource(base, spark)

    val gIdent = schema.group.identifier
    val tsIdent = schema.timestamp.identifier
    val gCol = compileExpr(schema.group, bf)
    val tCol = compileExpr(schema.timestamp, bf)
    val condCols = steps.map(s => compileExpr(s.condition, bf))
    val partIdents = partitionStartEvents.map(_.identifier)
    val partCols = partitionStartEvents.map(p => compileExpr(p, bf))
    val pNames = partIdents.map(id => nsCol("part", id))

    // event stream: group, activity timestamp (normalized to TIMESTAMP),
    // per-step match flags, partition values
    var ev = bf.df.withColumn("__g__", gCol)
      .withColumn("__t__", tCol.cast("timestamp"))
    pNames.zip(partCols).foreach { case (n, c) => ev = ev.withColumn(n, c) }
    condCols.zipWithIndex.foreach { case (c, k) => ev = ev.withColumn(s"__c${k}__", c) }

    // (work, key): rows the chain aggregate runs over and its grouping.
    // All key joins below are NULL-SAFE (<=>): a null group (or null
    // partition value) is a legitimate key the aggregates keep, and a
    // null-unsafe equi-join would silently drop its output row.
    val (work, keyNames) =
      if (partitionStartEvents.isEmpty) (ev, Seq("__g__"))
      else {
        // anchor = first step-0 event time per (group, partition); inner
        // join replicates each group's events once per entered partition
        val anchors = ev.where(col("__c0__"))
          .groupBy((col("__g__") +: pNames.map(col)): _*)
          .agg(min(col("__t__")).as("__a0t__"))
          .withColumnRenamed("__g__", "__ag__")
        (ev.drop(pNames: _*)
          .join(anchors, col("__g__") <=> col("__ag__")).drop("__ag__"),
          "__g__" +: pNames)
      }

    // step-membership bitmask; with partitions, step 0 pins to the anchor
    val bit0: Column =
      if (partitionStartEvents.isEmpty) col("__c0__")
      else col("__t__") === col("__a0t__")
    val maskCol = steps.indices.map { k =>
      val flag = if (k == 0) bit0 else col(s"__c${k}__")
      when(flag, lit(1L << k)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))

    // pass 1: the whole greedy chain in one bounded-state hash aggregate
    val chain = work.groupBy(keyNames.map(col): _*)
      .agg(call_function("greedy_chain", col("__t__"), maskCol, lit(steps.size))
        .as("__mt__"))

    // pass 2: matched-event positions — count of the group's events
    // strictly before each matched time (1-based; ties at the matched
    // instant take the first slot). Null-timestamp events are unmatchable
    // and occupy no position.
    val ltAggs = steps.indices.map(k =>
      count(when(col("__t__") < element_at(col("__mt__"), k + 1), 1))
        .as(s"__lt${k}__"))
    val chainR = chain.toDF(keyNames.map(n => s"__ck_$n").toIndexedSeq :+ "__mt__": _*)
    var out = work
      .join(chainR, keyNames.map(n => col(n) <=> col(s"__ck_$n")).reduce(_ && _))
      .drop(keyNames.map(n => s"__ck_$n"): _*)
      .groupBy(keyNames.map(col): _*)
      .agg(first(col("__mt__")).as("__mt__"), ltAggs: _*)

    // per-step matched timestamp + event index, with calendar-aware
    // time_limit (cutoff = step0_ts + INTERVAL) applied after greedy
    // assembly; indices beyond the limit are nulled like their timestamps
    // (reference match_steps.py:366-378)
    val base0t = element_at(col("__mt__"), 1)
    steps.zipWithIndex.foreach { case (st, k) =>
      val rawTs = element_at(col("__mt__"), k + 1)
      val ts =
        if (k == 0) rawTs
        else timeLimit match {
          case None        => rawTs
          case Some(limit) => when(rawTs < base0t + expr(limit.sqlLiteral), rawTs)
        }
      out = out
        .withColumn(nsCol(st.name, tsIdent), ts)
        .withColumn(s"step_${k}_event_index",
          when(ts.isNotNull, col(s"__lt${k}__") + 1).cast("long"))
    }
    out = out.withColumn(gIdent, col("__g__"))
    partIdents.zip(pNames).foreach { case (id, n) => out = out.withColumn(id, col(n)) }
    val frame = new Frame(out.drop("__mt__" +: steps.indices.map(k => s"__lt${k}__"): _*))

    // lazy per-step joins for full event rows (reference final-layer joins,
    // match_steps.py:288-320), keyed by (group, matched timestamp) with a
    // deterministic representative among same-instant step matches (the
    // lexicographically smallest event row over its orderable columns) —
    // v2 keyed on a tie-arbitrary row_number here. Step 0's anchor is
    // partition-scoped, so with partitionStartEvents its representative
    // additionally keys on the partition values (two partitions of one
    // group can anchor at the same instant on DIFFERENT events); null-safe
    // equality throughout — null groups/partitions are legitimate keys.
    val baseCols = bf.df.columns.toSeq
    steps.zipWithIndex.foreach { case (st, k) =>
      val ns = st.name
      val partScoped = k == 0 && partitionStartEvents.nonEmpty
      val build = () => {
        val keep = baseCols.filterNot(c => nsCol(ns, c) == nsCol(ns, tsIdent))
        val matching = ev.where(col(s"__c${k}__"))
        val ordKeys = keep.filter(c => isOrderable(matching.schema(c).dataType))
        val ordCol = if (ordKeys.isEmpty) lit(1) else struct(ordKeys.map(col): _*)
        val grpKeys =
          if (partScoped) Seq(col("__g__"), col("__t__")) ++ pNames.map(col)
          else Seq(col("__g__"), col("__t__"))
        val keyOut =
          col("__g__").as(nsCol(ns, "__g__")) +:
            col("__t__").as(nsCol(ns, "__t__")) +:
            (if (partScoped) pNames.map(p => col(p).as(nsCol(ns, p))) else Nil)
        matching
          .groupBy(grpKeys: _*)
          .agg(min_by(struct(keep.map(col): _*), ordCol).as("__rep__"))
          .select(keyOut ++ keep.map(c => col(s"__rep__.$c").as(nsCol(ns, c))): _*)
      }
      val cond = (fr: Frame) => {
        val base =
          col(gIdent) <=> col(nsCol(ns, "__g__")) &&
            col(nsCol(ns, tsIdent)) === col(nsCol(ns, "__t__"))
        if (!partScoped) base
        else partIdents.zip(pNames).map { case (id, p) =>
          col(id) <=> col(nsCol(ns, p))
        }.foldLeft(base)(_ && _)
      }
      frame.pending(ns) = PendingJoin(ns, build, cond, "left_outer")
    }
    frame
  }

  /** Orderability for the match_steps join tie-break — the engine's own
    * predicate (the one min_by's analysis uses), so the filter can never
    * drift from what the planner accepts. */
  private def isOrderable(dt: org.apache.spark.sql.types.DataType): Boolean =
    org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(dt)

  // =================== runner ===================

  /** Compile a model and post-process the output like the reference
    * (post_process.py:8-48): duplicate-column rename + `__private__`
    * column stripping. `settings` scopes compile knobs (week start) to
    * this compilation. */
  def run(m: Model, spark: SparkSession,
      settings: CompileSettings = CompileSettings.default): DataFrame =
    activeSettings.withValue(settings) { runCompiled(m, spark) }

  private def runCompiled(m: Model, spark: SparkSession): DataFrame = {
    val f = compileSource(m.source, spark)
    val names = f.df.columns
    val seen = mutable.Map.empty[String, Int]
    val deduped = names.map { n =>
      val k = seen.getOrElse(n, 0)
      seen(n) = k + 1
      if (k == 0) n else s"${n}_${k + 1}"
    }
    val renamed = if (deduped.sameElements(names)) f.df else f.df.toDF(deduped.toIndexedSeq: _*)
    // strip exactly what the reference strips (identifier.py:9-10): dunder
    // `__x__` private columns, plus the engine's own `__ns_…`/`__…__`
    // internals (all dunder- or ns-prefixed by construction). A merely
    // `__`-prefixed user column like `__raw` stays visible.
    val visible = deduped.filterNot(n =>
      isNsCol(n) || graft.ir.Expr.isPrivateName(n))
    renamed.select(visible.map(col).toIndexedSeq: _*)
  }
}
