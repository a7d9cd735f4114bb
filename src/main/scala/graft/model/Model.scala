package graft.model

import scala.collection.immutable.VectorMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ir._
import graft.ir.Expr._
import graft.compile.Compiler

/** A named lazy many-to-one join relation
  * (reference src/model/namespace.py:10 + model.py:282-350). */
final case class Relation(
    name: String,
    model: Model,
    foreignKey: Option[Expr],
    condition: Option[Expr],
    dropUnmatched: Boolean,
)

/** Accessor for a relation's attributes: returns them `.disambiguated(rel)`
  * (reference namespace.py:26-37). `wrap` threads outer namespace
  * qualification for nested relation traversal (`rel.a.b.attr` keypaths in
  * the reference). */
final class RelAccessor(val relation: Relation, wrap: Expr => Expr = identity) {
  def attr(name: String): Expr =
    wrap(relation.model.attr(name).disambiguated(relation.name))
  def apply(name: String): Expr = attr(name)
  /** Traverse into a relation OF the joined model (nested namespace). */
  def rel(name: String): RelAccessor = {
    val inner = relation.model.relations.getOrElse(name,
      throw new NoSuchElementException(
        s"relation '${relation.name}' has no nested relation '$name'; " +
          s"known: ${relation.model.relations.keys.mkString(", ")}"))
    new RelAccessor(inner, e => wrap(e.disambiguated(relation.name)))
  }
}

/** Step spec for match_steps / funnel: a bare event-key string, a
  * (key, outputName) pair, or an arbitrary named boolean expression
  * (reference src/utils/activity_schema.py:9-38). */
sealed trait StepSpec
object StepSpec {
  final case class Key(key: String) extends StepSpec
  final case class KeyNamed(key: String, name: String) extends StepSpec
  final case class Pred(name: String, cond: Expr) extends StepSpec
  import scala.language.implicitConversions
  implicit def fromString(s: String): StepSpec = Key(s)
  implicit def fromPair(p: (String, String)): StepSpec = KeyNamed(p._1, p._2)
}

/** The central immutable unit — a source + named attributes + named measure
  * definitions + named join relations (+ primary key + activity schema),
  * mirroring the reference `Model` (/root/reference/src/model/model.py:45,
  * fields :77-87). Builder methods return copies; measures are definitions
  * only — no aggregation happens until `.aggregate()` references them
  * (model.py:271-275).
  */
final case class Model(
    source: Source,
    attributes: VectorMap[String, Expr] = VectorMap.empty,
    measures: VectorMap[String, Expr] = VectorMap.empty,
    relations: VectorMap[String, Relation] = VectorMap.empty,
    primaryKey: Option[Expr] = None,
    activitySchema: Option[ActivitySchema] = None,
    customMeta: Map[String, String] = Map.empty,
) {

  // --- accessors (reference accessors.py:36-38; KeyPath sugar not needed
  //     in Scala — plain methods) ---
  /** Declared attribute lookup. When the model has declared attributes an
    * unknown name throws (like the reference accessors) instead of silently
    * falling back to a bare column ref that masks typos; models without
    * declarations (plain table scans) resolve to the named column. */
  def attr(name: String): Expr =
    if (attributes.isEmpty) ColRef(name)
    else attributes.getOrElse(name, unknown("attribute", name, attributes.keys))
  def msr(name: String): Expr =
    measures.getOrElse(name, unknown("measure", name, measures.keys))
  def rel(name: String): RelAccessor =
    new RelAccessor(relations.getOrElse(name, unknown("relation", name, relations.keys)))

  /** Rich unknown-identifier error (reference model.py:101-180 behavior):
    * an exact hit in ANOTHER map is called out with the accessor to use
    * (the reference's "a measure was found instead — did you mean
    * msr(...)?"), otherwise close names in the SAME map rank by edit
    * distance; the full known list always follows, so no information the
    * plain error carried is lost. */
  private def unknown(kind: String, name: String, known: Iterable[String]): Nothing = {
    val accessorOf = Map("attribute" -> "attr", "measure" -> "msr", "relation" -> "rel")
    val cross = Seq(
      "attribute" -> attributes.keySet, "measure" -> measures.keySet,
      "relation" -> relations.keySet)
      .collect { case (k, names) if k != kind && names(name) =>
        s"""a $k with this name exists — did you mean ${accessorOf(k)}("$name")?""" }
    val near = known
      .map(k => (k, Model.editDistance(name.toLowerCase, k.toLowerCase)))
      .filter { case (k, d) => d <= math.max(1, math.min(name.length, k.length) / 3) }
      .toSeq.sortBy { case (k, d) => (d, k) }.take(3).map(n => s"'${n._1}'")
    val hints = cross ++
      (if (cross.isEmpty && near.nonEmpty)
         Seq(s"did you mean ${near.mkString(" or ")}?") else Nil)
    throw new NoSuchElementException(
      s"unknown $kind '$name'" +
        (if (hints.nonEmpty) s" — ${hints.mkString(" ")}" else "") +
        s"; known ${kind}s: " +
        (if (known.isEmpty) "<none>" else known.mkString(", ")))
  }

  // --- definition builders (model.py:235-279, :282-350, :354-384) ---
  def withAttributes(attrs: Expr*): Model =
    copy(attributes = attrs.foldLeft(attributes)((m, e) => m.updated(e.identifier, e)))
  def withMeasures(ms: Expr*): Model =
    copy(measures = ms.foldLeft(measures)((m, e) => m.updated(e.identifier, e)))
  def withPrimaryKey(pk: Expr): Model = copy(primaryKey = Some(pk))
  /** Attach user metadata (reference model.py:77-87 `custom_meta`: an
    * opaque dict carried through every transform — case-class copy does
    * that for free here — and the wire format, for BI-tool integrations). */
  def withCustomMeta(kv: (String, String)*): Model =
    copy(customMeta = customMeta ++ kv)
  def withActivitySchema(group: Expr, timestamp: Expr, eventKey: Expr): Model =
    copy(activitySchema = Some(ActivitySchema(group, timestamp, eventKey)))

  /** Named lazy LEFT (INNER when dropUnmatched) many-to-one join
    * (model.py:282-350). Predicate = foreignKey == joined.primaryKey and/or
    * arbitrary `condition`. Join is emitted at compile time only if the
    * namespace is referenced (join_one.py:58-66). */
  def withJoinOne(
      joined: Model,
      named: String,
      foreignKey: Expr = null,
      condition: Expr = null,
      dropUnmatched: Boolean = false,
  ): Model = {
    require(foreignKey != null || condition != null,
      "withJoinOne requires foreignKey and/or condition")
    val r = Relation(named, joined, Option(foreignKey), Option(condition), dropUnmatched)
    copy(
      source = Source.JoinOne(source, named, joined, Option(foreignKey),
        Option(condition), dropUnmatched),
      relations = relations.updated(named, r),
    )
  }

  /** Resolve `{{ name }}` / `{{ ns.attr }}` references inside RawSql nodes
    * against this model's attributes, measures, and relations (reference
    * sql_text.py bind_references_to_model + utils/sql.py cycle-safe
    * resolution). Applied to every expression entering a transform. */
  private[model] def bindSqlRefs(e: Expr, visiting: Set[String] = Set.empty): Expr = {
    def resolve(id: String): Expr = {
      if (visiting.contains(id))
        throw new IllegalArgumentException(
          s"cyclic {{ $id }} reference in sql fragment")
      val target = id.split('.') match {
        // `self.x` = a column/attribute of THIS model (reference
        // sql_text.py:124-155 re-points `self` qualifiers at the current
        // CTE; here the attribute expression is spliced directly)
        case Array("self", a) => attr(a)
        case Array(ns, a) =>
          rel(ns).attr(a)
        case Array(name) =>
          attributes.getOrElse(name, measures.getOrElse(name,
            throw new NoSuchElementException(
              s"{{ $name }} matches no attribute or measure; known: " +
                s"${(attributes.keys ++ measures.keys).mkString(", ")}")))
        case _ =>
          throw new IllegalArgumentException(s"invalid reference {{ $id }}")
      }
      bindSqlRefs(target, visiting + id)
    }
    def walk(e: Expr): Expr = e match {
      case RawSql(sql, b) if b.isEmpty =>
        // normalize bare `self.x` qualifiers (the reference fragment
        // convention) into `{{ self.x }}` references, then bind everything
        val normalized = Model.rewriteSelfRefs(sql)
        val ids = RawSql.RefPattern.findAllMatchIn(normalized).map(_.group(1)).toSet
        if (ids.isEmpty) e
        else RawSql(normalized, ids.map(id => id -> resolve(id)).toMap)
      case Named(b, n)         => Named(walk(b), n)
      case Disambiguated(b, n) => Disambiguated(walk(b), n)
      case Bin(op, l, r)       => Bin(op, walk(l), walk(r))
      case Not(b)              => Not(walk(b))
      case Cases(bs, o)        => Cases(bs.map { case (c, v) => (walk(c), walk(v)) }, o.map(walk))
      case Call(fn, args, d)   => Call(fn, args.map(walk), d)
      case Granularity(b, u)   => Granularity(walk(b), u)
      case FormatTs(b, f)      => FormatTs(walk(b), f)
      case InValues(t, vs)     => InValues(walk(t), vs)
      case ArrContains(a, v)   => ArrContains(walk(a), walk(v))
      case LikeE(t, p, ci)     => LikeE(walk(t), p, ci)
      case ContainsStr(t, v, cs) => ContainsStr(walk(t), v, cs)
      case AddInterval(t, iv, n) => AddInterval(walk(t), iv, n)
      case other               => other
    }
    walk(e)
  }

  // --- relational transforms (model.py:876-936, :390-407) ---
  def filter(condition: Expr): Model =
    copy(source = Source.Filter(source, bindSqlRefs(condition)))

  /** SELECT only the listed expressions; resets attributes to the picked
    * names, drops measures and relations (model.py:876-887). */
  def pick(columns: Expr*): Model = copy(
    source = Source.Pick(source, columns.map(bindSqlRefs(_))),
    attributes = VectorMap.from(columns.map(c => c.identifier -> (ColRef(c.identifier): Expr))),
    measures = VectorMap.empty,
    relations = VectorMap.empty,
  )

  /** SELECT * — a fresh layer in the reference so ORDER BY can use output
    * names (model.py:711-721); a no-op projection for Spark. */
  def pickStar(): Model = copy(
    source = Source.Pick(source, Seq.empty, star = true),
    measures = VectorMap.empty,
    relations = VectorMap.empty,
  )

  /** GROUP BY groups, compute measures; afterwards groups+measures all
    * become plain attributes, measures/relations cleared (model.py:390-407). */
  def aggregate(measures: Seq[Expr] = Seq.empty, groups: Seq[Expr] = Seq.empty): Model =
    aggregateMode(measures, groups, "group")

  /** Hierarchical subtotals (beyond-reference): GROUP BY ROLLUP — one row
    * per grouping prefix level, subtotal rows carrying NULL in the
    * aggregated-out columns (standard SQL). Lowered to Spark's native
    * Expand-based rollup: ONE shuffle computes every level. */
  def rollup(groups: Seq[Expr], measures: Seq[Expr]): Model = {
    require(groups.nonEmpty && measures.nonEmpty,
      "rollup requires groups and measures")
    aggregateMode(measures, groups, "rollup")
  }

  /** All grouping combinations (beyond-reference): GROUP BY CUBE. Same
    * single-shuffle Expand lowering as [[rollup]]. */
  def cube(groups: Seq[Expr], measures: Seq[Expr]): Model = {
    require(groups.nonEmpty && measures.nonEmpty,
      "cube requires groups and measures")
    aggregateMode(measures, groups, "cube")
  }

  /** Arbitrary GROUPING SETS (beyond-reference): each entry of `sets`
    * lists the INDICES into `groups` that stay grouped for that set (the
    * empty list is the grand total). Generalizes [[rollup]]/[[cube]] with
    * the same single-shuffle Expand lowering; subtotal rows carry NULL in
    * the aggregated-out columns. The set structure is encoded into the
    * aggregate mode string (`sets:0,1|1|`), so it rides the wire format
    * unchanged. */
  def groupingSets(
      groups: Seq[Expr], sets: Seq[Seq[Int]], measures: Seq[Expr]): Model = {
    require(groups.nonEmpty && measures.nonEmpty,
      "groupingSets requires groups and measures")
    require(sets.nonEmpty, "groupingSets requires at least one set")
    sets.foreach(_.foreach(i => require(i >= 0 && i < groups.size,
      s"grouping-set index $i out of range for ${groups.size} groups")))
    aggregateMode(measures, groups,
      "sets:" + sets.map(_.mkString(",")).mkString("|"))
  }

  private def aggregateMode(
      measures: Seq[Expr], groups: Seq[Expr], mode: String): Model =
    copy(
      source = Source.Aggregate(source, groups.map(bindSqlRefs(_)),
        measures.map(bindSqlRefs(_)), mode),
      attributes = VectorMap.from(
        (groups ++ measures).map(e => e.identifier -> (ColRef(e.identifier): Expr))),
      measures = VectorMap.empty,
      relations = VectorMap.empty,
    )

  /** Per-group top-k (beyond-reference): keep each partition's first `k`
    * rows under `orderBy` (give a tie-breaking trailing key for a
    * deterministic cut), exposing the 1-based position as `rankName`.
    * Row grain only shrinks, so declared attributes/measures/relations
    * stay valid. Spark plans this as a WindowGroupLimit: partial per-map
    * limits run before the shuffle. */
  def topK(
      partitionBy: Seq[Expr],
      orderBy: Seq[SortKey],
      k: Long,
      rankName: String = "rank",
  ): Model = {
    require(k > 0, "k must be positive")
    require(orderBy.nonEmpty, "topK requires at least one order key")
    // an empty partition list would funnel every row through ONE window
    // task; global top-k is sort().limit(), which scales via range
    // partitioning instead
    require(partitionBy.nonEmpty,
      "topK requires partition keys; for a global top-k use sort().limit()")
    copy(source = Source.RankLimit(source,
      partitionBy.map(bindSqlRefs(_)),
      orderBy.map(sk => sk.copy(e = bindSqlRefs(sk.e))), k, rankName))
  }

  /** Keep only rows WITH an equi-match in `other` (left-semi join;
    * EXISTS semantics — the reference reaches this through the
    * `in_(model)` / segment idiom, this is the first-class form). Row
    * grain only shrinks, so attributes/measures/relations stay valid. */
  def semiJoin(other: Model, on: Seq[(Expr, Expr)]): Model =
    setJoin(other, on, anti = false)

  /** Keep only rows WITHOUT an equi-match in `other` (left-anti join;
    * NOT EXISTS semantics — null keys never match, so they are KEPT,
    * unlike NOT IN). The reference expresses this as
    * `filter(rel.x.col == None)` (segments.md); this is the direct form. */
  def antiJoin(other: Model, on: Seq[(Expr, Expr)]): Model =
    setJoin(other, on, anti = true)

  private def setJoin(other: Model, on: Seq[(Expr, Expr)], anti: Boolean): Model = {
    require(on.nonEmpty, "semi/anti join requires at least one key pair")
    copy(source = Source.SetJoin(source,
      other,
      on.map { case (l, r) => (bindSqlRefs(l), other.bindSqlRefs(r)) },
      anti))
  }

  /** Windowed analytics (beyond-reference): lag/lead/running/moving
    * aggregates and row_number over ONE shared (partitionBy, orderBy)
    * window spec — however many columns are added, the node costs a single
    * hash(partition) exchange and one sort (Catalyst's CollapseWindow
    * fuses same-spec window functions; the moving-frame variants chain on
    * the same child ordering without re-sorting). Partition keys are
    * required: a global window funnels every row through one task, which
    * no cluster survives — at scale, analytics windows are always
    * per-entity. Give a TOTAL order (add a tie-breaking trailing key):
    * running aggregates over an ambiguous order are nondeterministic.
    * Row grain is unchanged, so existing attributes/measures/relations
    * stay valid; the new columns register as attributes. */
  def withWindow(
      partitionBy: Seq[Expr],
      orderBy: Seq[SortKey],
      cols: Seq[Source.WinCol],
  ): Model = {
    require(partitionBy.nonEmpty,
      "withWindow requires partition keys; a global window cannot scale")
    require(orderBy.nonEmpty, "withWindow requires at least one order key")
    require(cols.nonEmpty, "withWindow requires at least one window column")
    require(cols.map(_.name).distinct.size == cols.size,
      s"duplicate window column names in ${cols.map(_.name).mkString(", ")}")
    cols.foreach(Source.WinKind.of)
    copy(
      source = Source.WindowCalc(source,
        partitionBy.map(bindSqlRefs(_)),
        orderBy.map(sk => sk.copy(e = bindSqlRefs(sk.e))),
        cols.map(wc => wc.copy(target = wc.target.map(bindSqlRefs(_))))),
      attributes = attributes ++
        cols.map(wc => wc.name -> (ColRef(wc.name): Expr)),
    )
  }

  /** As-of join (beyond-reference temporal join): append, to every row,
    * `pick` columns from the `right` model's most recent row with the same
    * key (`on`) and right timestamp ≤ this row's timestamp (strictly <
    * when `strict`); right-timestamp ties break to the highest `seq`
    * (pass a unique numeric right column for a deterministic match).
    * Unmatched rows keep NULLs — as-of is left-outer by nature.
    *
    * Scale shape: both sides shuffle ONCE on the key into a tag-union,
    * right payloads ride as one struct, and a single last-non-null
    * running window resolves every match — never the range-join row
    * explosion (|left| × |right-per-key| candidates) and never a per-row
    * subquery. Row grain is unchanged; picked columns register as
    * attributes. `pruneRight` semi-join-filters the right side by the
    * left's distinct keys before the union — identical results, worth it
    * exactly when the left is a selective entity subset against a big
    * right history (most right rows can never match). */
  def asofJoin(
      right: Model,
      on: (Expr, Expr),
      ts: (Expr, Expr),
      pick: Seq[Expr],
      seq: Expr = null,
      strict: Boolean = false,
      pruneRight: Boolean = false,
  ): Model = {
    require(pick.nonEmpty, "asofJoin requires at least one picked right column")
    require(pick.map(_.identifier).distinct.size == pick.size,
      s"duplicate asofJoin pick names in ${pick.map(_.identifier).mkString(", ")}")
    copy(
      source = Source.AsofJoin(source, right,
        bindSqlRefs(on._1), right.bindSqlRefs(on._2),
        bindSqlRefs(ts._1), right.bindSqlRefs(ts._2),
        Option(seq).map(right.bindSqlRefs(_)),
        pick.map(right.bindSqlRefs(_)), strict, pruneRight),
      attributes = attributes ++
        pick.map(p => p.identifier -> (ColRef(p.identifier): Expr)),
    )
  }

  /** Interval/range join (beyond-reference): one output row per (base
    * row, right row) pair where `point` ∈ [between._1, between._2) on the
    * right and the optional equi keys match; `pick` names the appended
    * right columns. See [[graft.ir.Source.RangeJoin]] for the bucketed
    * lowering that keeps this a shuffle equi-join at scale. */
  def rangeJoin(
      right: Model,
      point: Expr,
      between: (Expr, Expr),
      pick: Seq[Expr],
      on: (Expr, Expr) = null,
      bucketMicros: Long = 0L,
  ): Model = {
    require(pick.nonEmpty, "rangeJoin requires at least one picked right column")
    require(pick.map(_.identifier).distinct.size == pick.size,
      s"duplicate rangeJoin pick names in ${pick.map(_.identifier).mkString(", ")}")
    copy(
      source = Source.RangeJoin(source, right,
        Option(on).map(o => bindSqlRefs(o._1)),
        Option(on).map(o => right.bindSqlRefs(o._2)),
        bindSqlRefs(point),
        right.bindSqlRefs(between._1), right.bindSqlRefs(between._2),
        pick.map(right.bindSqlRefs(_)), bucketMicros),
      attributes = attributes ++
        pick.map(p => p.identifier -> (ColRef(p.identifier): Expr)),
    )
  }

  /** Pivot — the inverse of `fold`/unpivot (beyond-reference sugar): one
    * output column per pivot `key` holding `agg` of `valueCol` where
    * `keyCol` equals the key, grouped by `groups`. Composed entirely from
    * the existing aggregate algebra (agg-over-CASE measures), so it
    * inherits the aggregate's single-shuffle map-side-combine plan and
    * needs no new compiler surface. Keys are explicit (like every SQL
    * dialect's PIVOT IN-list) — an inferred key set would require an extra
    * pass over the data. NOTE on `sum`/`avg` over double values: plain
    * double summation is order-dependent in the last ulps; when an
    * engine-exact result matters (oracle comparisons), sum integer-valued
    * or decimal-cast columns (see the money cents in ops.Shared.moneySum). */
  def pivot(
      groups: Seq[Expr],
      keyCol: Expr,
      valueCol: Expr,
      keys: Seq[String],
      agg: String = "sum",
  ): Model = {
    require(Seq("sum", "min", "max", "avg", "count").contains(agg),
      s"pivot agg must be one of sum/min/max/avg/count, got '$agg'")
    require(keys.nonEmpty, "pivot requires at least one key")
    require(keys.distinct.size == keys.size,
      s"pivot keys must be unique, got duplicates in ${keys.mkString(", ")}")
    val ms = keys.map { k =>
      Call(agg, Seq(Cases(Seq((Bin(Op.Eq, keyCol, Lit(k)), valueCol)), None)))
        .named(k)
    }
    aggregate(measures = ms, groups = groups)
  }

  /** ORDER BY; chained `.sort` calls accumulate keys on the same layer like
    * the reference (sort.py:40; SURVEY.md §7.4 sort-stability note) —
    * merging through adjacent Filter/Sort nodes so `.sort(a).sort(b)` emits
    * ORDER BY a, b in one Spark orderBy. */
  def sort(e: Expr, dir: String = "asc", nulls: String = "auto"): Model = {
    val key = SortKey(e, dir == "asc", nulls)
    def merge(s: Source): Option[Source] = s match {
      case Source.Sort(b, keys) => Some(Source.Sort(b, keys :+ key))
      case Source.Filter(b, c)  => merge(b).map(Source.Filter(_, c))
      case _ => None
    }
    copy(source = merge(source).getOrElse(Source.Sort(source, Seq(key))))
  }

  def limit(n: Long, offset: Long = 0L): Model =
    copy(source = Source.Limit(source, n, offset))

  /** UNION ALL (positional); relations are lost (model.py:923-936). */
  def unionAll(other: Model): Model = copy(
    source = Source.Union(source, other.source),
    relations = VectorMap.empty,
  )

  /** Apply a native whole-DataFrame operator (beyond-reference surface:
    * the [[graft.llm]] pipeline ops). A fresh layer — attributes, measures
    * and relations reset since the schema may change arbitrarily. */
  def native(op: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Model =
    copy(
      source = Source.NativeOp(source, op),
      attributes = VectorMap.empty,
      measures = VectorMap.empty,
      relations = VectorMap.empty,
    )

  /** Unpivot/melt: N value columns → (key, value) long format (reference
    * model.py:939-995). The reference composes one pick per value column +
    * UNION ALL — N redundant scans; we lower to Spark's native single-scan
    * unpivot with identical row multiplication and NULL retention. Resets
    * attributes like pick does (model.py:881-887). */
  def fold(
      ids: Seq[Expr],
      values: Seq[Expr],
      keyName: String = "key",
      valueName: String = "value",
  ): Model = {
    require(values.nonEmpty, "fold requires at least one value column")
    copy(
      source = Source.Fold(source, ids, values, keyName, valueName),
      attributes = VectorMap.from(
        (ids.map(_.identifier) ++ Seq(keyName, valueName))
          .map(n => n -> (ColRef(n): Expr))),
      measures = VectorMap.empty,
      relations = VectorMap.empty,
    )
  }

  // --- event analytics (model.py:411-870) ---

  private def normalizedSchema(
      group: Expr, timestamp: Expr, eventKey: Expr): ActivitySchema = {
    val base = activitySchema
    val g = Option(group).orElse(base.map(_.group)).getOrElse(
      throw new IllegalArgumentException("no `group`: pass one or withActivitySchema"))
    val t = Option(timestamp).orElse(base.map(_.timestamp)).getOrElse(
      throw new IllegalArgumentException("no `timestamp`"))
    val k = Option(eventKey).orElse(base.map(_.eventKey)).orNull
    ActivitySchema(g, t, k)
  }

  private def normalizeSteps(steps: Seq[StepSpec], schema: ActivitySchema): Seq[Step] = {
    val normalized = steps.map {
      case StepSpec.Key(k)          => Step(Model.pyIdentifier(k), schema.eventKey === Lit(k))
      case StepSpec.KeyNamed(k, n)  => Step(n, schema.eventKey === Lit(k))
      case StepSpec.Pred(n, c)      => Step(n, c)
    }
    val dupes = normalized.groupBy(_.name).filter(_._2.size > 1).keys
    require(dupes.isEmpty, s"Found non-unique steps: ${dupes.mkString(", ")}")
    normalized
  }

  /** Gap-based sessionization (beyond-reference activity analytics): one
    * row per (group, session_start) with `n_events` and `session_end`; a
    * new session starts after more than `gapSeconds` without an event.
    * Grain is deterministic under equal timestamps (see Compiler). */
  def sessionize(
      gapSeconds: Long,
      group: Expr = null,
      timestamp: Expr = null,
  ): Model = {
    require(gapSeconds > 0, "gapSeconds must be positive")
    val schema = normalizedSchema(group, timestamp, eventKey = null)
    Model(Source.Sessionize(source, schema, gapSeconds))
  }

  /** Deterministic fractional upsampling by group weight (the wire-
    * serializable form of `graft.llm.TextOps.upsampleMix`): replicate
    * each row by its group's weight from the `weights` model (columns:
    * the `group` identifier + `weight`; typically the output of a
    * temperature-mixture computation), fractional parts resolved by a
    * portable hash cutoff on `key`. Adds a 0-based `replica` column. */
  def upsampleMix(weights: Model, group: Expr, key: Expr): Model =
    Model(Source.UpsampleMix(source, group, key, weights))

  /** Corpus-level duplicated-substring removal (the wire-serializable
    * form of `graft.llm.Dedup.substringClean`): per document with
    * non-null `text`, strip words covered by >= `minSpanWords`-word spans
    * duplicated across >= `minCopies` documents. Output: `id`, n_words,
    * n_removed, clean_md5. */
  def substringClean(
      id: Expr,
      text: Expr,
      minSpanWords: Int = 8,
      minCopies: Int = 2,
  ): Model = {
    require(minSpanWords >= 1 && minCopies >= 2,
      "substringClean needs minSpanWords >= 1 and minCopies >= 2")
    Model(Source.SubstringClean(source, id, text, minSpanWords, minCopies))
  }

  /** Content-defined chunking (the wire-serializable form of
    * `graft.llm.Search.cdcChunks`): word-level Rabin/LBFS hash
    * boundaries, one row per chunk — `id`, chunk_ix, start_word,
    * n_words, chunk_md5. Edit-local chunk identities: an insertion
    * perturbs chunks only up to the next content boundary. */
  def cdcChunks(id: Expr, text: Expr, k: Int = 4, modulus: Int = 16): Model = {
    require(k >= 1 && modulus >= 1, "cdcChunks needs k >= 1 and modulus >= 1")
    Model(Source.CdcChunks(source, id, text, k, modulus))
  }

  /** Boilerplate line stripping (the wire-serializable form of
    * `graft.llm.TextOps.boilerplateLines`): jusText's context-free
    * length + stopword-density rules with an integer density compare.
    * One row per input row: `id`, n_lines, n_content, boilerplate_frac,
    * clean. */
  def boilerplateStrip(
      id: Expr, text: Expr, stopwords: Seq[String],
      minWords: Int = 6, minStopPct: Int = 20,
      longLineChars: Int = 80): Model = {
    require(stopwords.nonEmpty && minWords >= 1 && minStopPct >= 0 &&
      longLineChars >= 1, "boilerplateStrip needs sane knobs")
    Model(Source.BoilerplateStrip(source, id, text, stopwords,
      minWords, minStopPct, longLineChars))
  }

  /** Weighted sampling without replacement (the wire-serializable form
    * of `graft.llm.TextOps.weightedSample`): Efraimidis–Spirakis
    * priorities with the draw md5-derandomized on `key` — top-`k`
    * priorities are a weight-proportional sample, deterministic across
    * runs/engines/topology. Adds `priority`; non-positive/NULL weights
    * are excluded. */
  def weightedSample(key: Expr, weight: Expr, k: Int): Model = {
    require(k >= 1, "weightedSample needs k >= 1")
    Model(Source.WeightedSample(source, key, weight, k))
  }

  /** Corpus drift (the wire-serializable form of
    * `graft.llm.TextOps.unigramKl`): smoothed unigram KL divergence
    * D(this ‖ other) — the distribution-shift monitor between crawl
    * snapshots or filter stages, with the comparison slice riding the
    * wire as a sub-model. One row: kl_nats, n_vocab, n_tokens_a,
    * n_tokens_b. */
  def corpusDrift(
      other: Model,
      text: Expr,
      otherText: Expr,
      alpha: Double = 0.5): Model = {
    require(alpha > 0, "corpusDrift needs alpha > 0")
    Model(Source.CorpusDrift(source, other, text, otherText, alpha))
  }

  /** Corpus snapshot diff (the wire-serializable form of
    * `graft.llm.Dedup.corpusDiff`): per-id added / removed / changed /
    * unchanged between THIS (old) snapshot and `other` (new) by exact
    * content hash — the lineage report an incremental pipeline
    * publishes per corpus version, with the new snapshot riding the
    * wire as a sub-model. Output: id, status, old_md5, new_md5. */
  def corpusDiff(
      other: Model,
      id: Expr,
      text: Expr,
      otherId: Expr,
      otherText: Expr): Model =
    Model(Source.CorpusDiff(source, other, id, text, otherId, otherText))

  /** Corpus datasheet report (the wire-serializable form of
    * `graft.llm.TextOps.corpusReport`): per-slice docs, whitespace
    * tokens, chars, distinct texts by exact hash, and duplicate rate,
    * grouped by the named `groups` expressions. */
  def corpusReport(text: Expr, groups: Expr*): Model = {
    require(groups.nonEmpty, "corpusReport needs at least one slice column")
    Model(Source.CorpusReport(source, text, groups))
  }

  /** Semantic benchmark decontamination (the wire-serializable form of
    * `graft.llm.Embeddings.semanticDecontaminate`): flag rows whose max
    * cosine against `eval`'s vectors (column named like `evalVec`)
    * reaches `threshold` — the paraphrased-leakage screen next to the
    * n-gram detector. The eval suite is a sub-model riding the wire;
    * its vectors freeze into the plan as literals at compile time.
    * Output: id, max_eval_cos (6-dp), contaminated. */
  def semanticDecontam(
      eval: Model,
      id: Expr,
      vec: Expr,
      evalVec: Expr,
      threshold: Double): Model =
    Model(Source.SemanticDecontam(source, id, vec, eval, evalVec, threshold))

  /** Per-domain document cap (the wire-serializable form of
    * `graft.llm.TextOps.domainCap`, the Common Crawl anti-template-site
    * curation step): keep at most `cap` rows per `domain` value, chosen
    * in deterministic (md5(id), id) order — membership is stable across
    * runs, engines, and partitionings. Adds the computed `domain`
    * column; lowers to one partial-WindowGroupLimit window. */
  def domainCap(domain: Expr, id: Expr, cap: Int): Model = {
    require(cap >= 1, "domainCap needs cap >= 1")
    Model(Source.DomainCap(source, domain, id, cap))
  }

  /** DSIR importance selection (the wire-serializable form of
    * `graft.llm.Dsir`, Xie et al. 2023): keep the `k` documents whose
    * `text` scores highest under the hashed-gram target/raw importance
    * ratio. `target` is a sub-model exposing a column named like `text`
    * (typically a filter of this same model). Output: `id`,
    * weight_micro, rank. */
  def dsirSelect(
      target: Model,
      id: Expr,
      text: Expr,
      k: Int,
      dims: Int = 256,
  ): Model = {
    require(dims > 0 && k > 0, "dsirSelect needs dims > 0 and k > 0")
    Model(Source.DsirSelect(source, id, text, target, dims, k))
  }

  /** Token-budget corpus assembly (the wire-serializable form of
    * `graft.llm.TextOps.tokenBudgetFill`): keep each group's
    * deterministic md5(id)-ordered document prefix whose running token
    * count fits floor(budget · weight + 0.5), weights from the
    * sub-model (columns: the `group` identifier + `weight`). Output:
    * `id`, `group`, n_tokens, cum_tokens. */
  def tokenBudgetFill(
      weights: Model,
      id: Expr,
      group: Expr,
      text: Expr,
      budget: Long,
  ): Model = {
    require(budget > 0, "tokenBudgetFill needs budget > 0")
    Model(Source.TokenBudgetFill(source, id, group, text, weights, budget))
  }

  /** Per `group`, greedily match an ordered list of step predicates over
    * time-ordered events (reference model.py:411-537 + the 696-LoC
    * compilers/match_steps.py). Output grain: one row per group (× start
    * partition); per-step event columns reachable via the step's relation
    * namespace; adds attrs last_matched_step_name/index and measures
    * entities / <step>_count. */
  def matchSteps(
      steps: Seq[StepSpec],
      group: Expr = null,
      timestamp: Expr = null,
      eventKey: Expr = null,
      partitionStartEvents: Seq[Expr] = Seq.empty,
      timeLimit: TimeInterval = null,
  ): Model = {
    require(steps.nonEmpty, "`matchSteps` requires at least one step to match.")
    val schema = normalizedSchema(group, timestamp, eventKey)
    val normalized = normalizeSteps(steps, schema)
    val eventsModel = this // pre-transformation snapshot = the events table
    val src = Source.MatchSteps(source, schema, normalized, partitionStartEvents,
      Option(timeLimit))

    val ts = schema.timestamp
    def stepTs(s: Step): Expr = ts.disambiguated(s.name)
    val lastName = Cases(
      normalized.reverse.map(s => (stepTs(s) =!= Lit(null)) -> (Lit(s.name): Expr)), None)
      .named("last_matched_step_name")
    val lastIndex = Cases(
      normalized.reverse.zipWithIndex.map { case (s, i) =>
        (stepTs(s) =!= Lit(null)) -> (Lit((normalized.size - 1 - i).toLong): Expr)
      }, None).named("last_matched_step_index")

    val newAttrs =
      Seq[Expr](ColRef(schema.group.identifier), lastName, lastIndex) ++
        partitionStartEvents.map(p => ColRef(p.identifier): Expr)
    val newMeasures =
      Seq[Expr](graft.funcs.count().named(Model.FunnelCountColumn)) ++
        normalized.map(s => graft.funcs.countIf(stepTs(s) =!= Lit(null)).named(s"${s.name}_count"))

    copy(
      source = src,
      attributes = VectorMap.from(newAttrs.map(e => e.identifier -> e)),
      measures = VectorMap.from(newMeasures.map(e => e.identifier -> e)),
      relations = VectorMap.from(normalized.map(s =>
        s.name -> Relation(s.name, eventsModel, None, None, dropUnmatched = false))),
      primaryKey = Some(schema.group),
      activitySchema = None,
    )
  }

  /** Funnel analysis — match_steps → aggregate → fold → sort, exactly the
    * reference composition (model.py:539-733). Worked example encoded in
    * FunnelSpec (model.py:578-628: 7 users → 7/5/4/2). */
  def funnel(
      steps: Seq[StepSpec],
      group: Expr = null,
      timestamp: Expr = null,
      eventKey: Expr = null,
      timeLimit: TimeInterval = null,
      partitionStartEvents: Seq[Expr] = Seq.empty,
      partitionMatches: Seq[Expr] = Seq.empty,
      topOfFunnel: Any = 0,
  ): Model = {
    val schema = normalizedSchema(group, timestamp, eventKey)
    val (startIndex, topName) = topOfFunnel match {
      case i: Int => (Some(i), "entities")
      case s: String => (None, s)
      case x => throw new IllegalArgumentException(s"bad topOfFunnel: $x")
    }
    startIndex.foreach { i =>
      require(i >= 0 && (steps.isEmpty || i < steps.size), "Invalid `topOfFunnel` index.")
    }
    require(startIndex.isDefined || partitionStartEvents.isEmpty,
      "`topOfFunnel` cannot be a string when partitioning with `partitionStartEvents`.")

    if (steps.isEmpty) {
      // top of the funnel only = a simple aggregate (model.py:664-675)
      return aggregate(measures = Seq(
        Lit(topName).named("step"),
        graft.funcs.countDistinct(schema.group).named(Model.FunnelCountColumn)))
    }

    val stepNames = normalizeSteps(steps, schema).map(_.name)
    val matched = matchSteps(steps, group, timestamp, eventKey,
      partitionStartEvents, timeLimit)
    val partitionOut = partitionStartEvents.map(p => ColRef(p.identifier): Expr)
    val allPartitions = partitionOut ++ partitionMatches
    val aggregated = matched.aggregate(
      groups = allPartitions, measures = matched.measures.values.toSeq)
    val allValueCols =
      (ColRef(Model.FunnelCountColumn).named(topName) +:
        stepNames.map(s => ColRef(s"${s}_count").named(s))): Seq[Expr]
    val valueCols = startIndex match {
      case Some(i) => allValueCols.drop(i + 1)
      case None    => allValueCols
    }
    val folded = aggregated.fold(
      ids = allPartitions.map(p => ColRef(p.identifier): Expr),
      values = valueCols, keyName = "step", valueName = Model.FunnelCountColumn)
    var sorted = folded.pickStar()
    allPartitions.foreach(p => sorted = sorted.sort(ColRef(p.identifier)))
    sorted.sort(Cases(
      (topName +: stepNames).zipWithIndex.map { case (n, i) =>
        (ColRef("step") === Lit(n)) -> (Lit(i.toLong): Expr)
      },
      Some(Lit((stepNames.size + 1).toLong))).named("step_index"))
  }

  /** Funnel conversion rate (reference model.py:735-870): rate, started /
    * converted counts, avg seconds to convert; grouped by partitions. */
  def funnelConversionRate(
      steps: Seq[StepSpec],
      group: Expr = null,
      timestamp: Expr = null,
      eventKey: Expr = null,
      timeLimit: TimeInterval = null,
      partitionStartEvents: Seq[Expr] = Seq.empty,
      partitionMatches: Seq[Expr] = Seq.empty,
  ): Model = {
    val schema = normalizedSchema(group, timestamp, eventKey)
    import graft.funcs._
    if (steps.isEmpty) {
      val cdg = countDistinct(schema.group)
      var res = aggregate(
        groups = partitionStartEvents,
        measures = Seq(
          cdg.named("startedCount"), cdg.named("convertedCount"),
          Lit(0L).named("avgSecondsToConvert"), Lit(1L).named("rate")))
      partitionStartEvents.foreach(p => res = res.sort(ColRef(p.identifier)))
      return res
    }
    val normalized = normalizeSteps(steps, schema)
    val matched = matchSteps(steps, group, timestamp, eventKey,
      partitionStartEvents, timeLimit)
    val firstTs = schema.timestamp.disambiguated(normalized.head.name)
    val lastTs = schema.timestamp.disambiguated(normalized.last.name)
    val rate = (countIf(lastTs =!= Lit(null)) / countIf(firstTs =!= Lit(null))).named("rate")
    val started = countIf(firstTs =!= Lit(null)).named("startedCount")
    val converted = countIf(lastTs =!= Lit(null)).named("convertedCount")
    val avgSecs = avg(diffSeconds(lastTs, firstTs)).named("avgSecondsToConvert")
    val partitionOut = partitionStartEvents.map(p => ColRef(p.identifier): Expr)
    val allPartitions = partitionOut ++ partitionMatches
    // only entities that entered the funnel count toward the rate
    var res = matched.filter(firstTs =!= Lit(null)).aggregate(
      groups = allPartitions, measures = Seq(rate, started, converted, avgSecs))
    allPartitions.foreach(p => res = res.sort(ColRef(p.identifier)))
    res
  }

  // --- execution (model.py:999-1016; post_process.py:8-48) ---

  /** Lower to a DataFrame. Catalyst handles analysis/optimization; private
    * `__…` columns are stripped and duplicate names deduped like the
    * reference post-process (post_process.py:8-17). */
  def run(spark: SparkSession): DataFrame = Compiler.run(this, spark)

  /** Lower with explicit compile settings (reference settings.py:5-10 —
    * e.g. a Monday-start week deployment). */
  def run(spark: SparkSession, settings: graft.compile.CompileSettings): DataFrame =
    Compiler.run(this, spark, settings)

  /** Compile-only parity with `model.sql()` (model.py:1036-1056):
    * the optimized logical plan rendered as text. */
  def explain(spark: SparkSession): String =
    run(spark).queryExecution.optimizedPlan.toString

  /** The compiled query as EXECUTABLE Spark-SQL text — the reference's
    * `model.sql()` (model.py:1036-1059 returns the warehouse SQL without
    * running it). Covers the relational subset; see
    * [[graft.compile.Compiler.renderQuery]] for scope and the spec-pinned
    * `spark.sql(model.sql(spark))` ≡ `model.run(spark)` contract. */
  def sql(spark: SparkSession): String = Compiler.renderQuery(this, spark)
}

object Model {
  /** FUNNEL_COUNT_COLUMN_NAME (reference model.py:42). */
  val FunnelCountColumn = "entities"

  /** Levenshtein distance, for "did you mean" identifier suggestions.
    * Identifier-sized inputs only (two-row DP, O(|a|·|b|)). */
  private[model] def editDistance(a: String, b: String): Int = {
    val prev = Array.tabulate(b.length + 1)(identity)
    val cur = new Array[Int](b.length + 1)
    for (i <- 1 to a.length) {
      cur(0) = i
      for (j <- 1 to b.length) {
        val sub = prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)
        cur(j) = math.min(math.min(prev(j) + 1, cur(j - 1) + 1), sub)
      }
      Array.copy(cur, 0, prev, 0, cur.length)
    }
    prev(b.length)
  }

  /** Rewrite bare `self.<ident>` qualifiers in a SQL fragment to
    * `{{ self.<ident> }}` references. Quote-aware hand scanner (no SQL
    * parser dependency): occurrences inside single-quoted string literals,
    * double-quoted identifiers, or EXISTING `{{ … }}` template references
    * (a user may spell the same thing `{{ self.x }}` directly) are left
    * untouched, as is `self` used as a path segment of a longer
    * identifier (`x.self.y`, `myself.z`). */
  private[model] def rewriteSelfRefs(sql: String): String = {
    val out = new StringBuilder(sql.length + 16)
    var i = 0
    var inSingle = false
    var inDouble = false
    def isIdentChar(c: Char): Boolean = c.isLetterOrDigit || c == '_'
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (inSingle) { out += c; if (c == '\'') inSingle = false; i += 1 }
      else if (inDouble) { out += c; if (c == '"') inDouble = false; i += 1 }
      else if (c == '\'') { inSingle = true; out += c; i += 1 }
      else if (c == '"') { inDouble = true; out += c; i += 1 }
      else if (sql.startsWith("{{", i)) {
        // copy an existing template reference verbatim (no double-wrap)
        val end = sql.indexOf("}}", i + 2)
        val stop = if (end < 0) sql.length else end + 2
        out ++= sql.substring(i, stop)
        i = stop
      }
      else if (sql.startsWith("self.", i) &&
          (i == 0 || (!isIdentChar(sql.charAt(i - 1)) && sql.charAt(i - 1) != '.'))) {
        var k = i + 5
        while (k < sql.length && isIdentChar(sql.charAt(k))) k += 1
        if (k > i + 5) { out ++= s"{{ self.${sql.substring(i + 5, k)} }}"; i = k }
        else { out += c; i += 1 }
      } else { out += c; i += 1 }
    }
    out.toString
  }

  def table(name: String): Model = Model(Source.Table(name))
  def sqlQuery(q: String): Model = Model(Source.SqlQuery(q))
  def fromDF(df: DataFrame): Model = Model(Source.FromDF(df))
  /** CSV path (file or directory of part files), header + inferred schema. */
  def csv(path: String): Model = Model(Source.CsvFile(path))
  /** JSON-lines path (file or directory of part files). */
  def json(path: String): Model = Model(Source.JsonFile(path))
  /** ORC path (file or directory of part files). */
  def orc(path: String): Model = Model(Source.OrcFile(path))
  /** Excel sheet (reference parity: duckdb_connection.py:96-117). Wire-
    * and composition-complete; compiling requires a spreadsheet codec —
    * see [[graft.ir.Source.XlsxFile]]. */
  def xlsx(path: String, sheet: Option[String] = None): Model =
    Model(Source.XlsxFile(path, sheet))
  /** WARC crawl shard(s) — one row per record (warc_type, url,
    * content_type, content_length, payload). */
  def warc(path: String): Model = Model(Source.WarcFile(path))
  /** WET extracted-text crawl shard(s) — one row per page (url, text). */
  def wet(path: String): Model = Model(Source.WetFile(path))
  /** WAT link-metadata crawl shard(s) — one row per anchor link
    * (src_url, dst_url). */
  def wat(path: String): Model = Model(Source.WatFile(path))
  /** Convenience: parquet table inside an sf dir. */
  def parquet(dir: String, name: String): Model =
    Model(Source.Table(s"$dir/$name.parquet"))

  /** to_python_identifier (reference src/utils/identifier.py). */
  def pyIdentifier(s: String): String = {
    val cleaned = s.map(c => if (c.isLetterOrDigit || c == '_') c else '_')
    if (cleaned.isEmpty || cleaned.head.isDigit) "_" + cleaned else cleaned
  }
}
