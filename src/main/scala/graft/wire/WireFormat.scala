package graft.wire

import scala.collection.immutable.VectorMap

import graft.ir._
import graft.ir.Expr._
import graft.model.{Model, Relation}

/** Versioned JSON wire format for models — parity with the reference's
  * `_to_wire_format`/`_from_wire_format` round-trip (model.py:1103-1152,
  * serializable.py:10-15), which exists so a model can be shipped to a
  * server and rebuilt. Sources wrapping live runtime objects (FromDF,
  * NativeOp) are not serializable — same boundary as the reference, whose
  * DuckDB-registered pandas frames cannot ship either.
  */
object WireFormat {

  val Version = 1L

  def toJson(m: Model): String =
    Json.write(Map("graftWireVersion" -> Version, "model" -> modelW(m)))

  def fromJson(s: String): Model = {
    val root = obj(Json.parse(s))
    require(root("graftWireVersion") == Version,
      s"unsupported wire version ${root("graftWireVersion")}")
    modelR(obj(root("model")))
  }

  // ---------------- writers ----------------

  private def modelW(m: Model): Map[String, Any] = Map(
    "source" -> sourceW(m.source),
    "attributes" -> m.attributes.map { case (k, v) => Map("name" -> k, "expr" -> exprW(v)) }.toList,
    "measures" -> m.measures.map { case (k, v) => Map("name" -> k, "expr" -> exprW(v)) }.toList,
    "relations" -> m.relations.values.map(relW).toList,
    "primaryKey" -> m.primaryKey.map(exprW).orNull,
    "activitySchema" -> m.activitySchema.map(schemaW).orNull,
    "customMeta" -> m.customMeta,
  )

  /** An activity schema's fields — the model's `activitySchema` object,
    * and inlined into the matchSteps and sessionize nodes. */
  private def schemaW(a: ActivitySchema): Map[String, Any] = Map(
    "group" -> exprW(a.group), "timestamp" -> exprW(a.timestamp),
    "eventKey" -> Option(a.eventKey).map(exprW).orNull)

  private def sortKeysW(keys: Seq[SortKey]): List[Map[String, Any]] =
    keys.map(k => Map("expr" -> exprW(k.e), "asc" -> k.asc, "nulls" -> k.nulls)).toList

  private def relW(r: Relation): Map[String, Any] = Map(
    "name" -> r.name,
    "model" -> modelW(r.model),
    "foreignKey" -> r.foreignKey.map(exprW).orNull,
    "condition" -> r.condition.map(exprW).orNull,
    "dropUnmatched" -> r.dropUnmatched,
  )

  private def sourceW(s: Source): Map[String, Any] = s match {
    case Source.Table(n)    => Map("t" -> "table", "name" -> n)
    case Source.SqlQuery(q) => Map("t" -> "sql", "query" -> q)
    case Source.CsvFile(p)  => Map("t" -> "csv", "path" -> p)
    case Source.JsonFile(p) => Map("t" -> "json", "path" -> p)
    case Source.OrcFile(p)  => Map("t" -> "orc", "path" -> p)
    case Source.XlsxFile(p, sheet) =>
      Map("t" -> "xlsx", "path" -> p, "sheet" -> sheet.orNull)
    case Source.WarcFile(p) => Map("t" -> "warc", "path" -> p)
    case Source.WetFile(p) => Map("t" -> "wet", "path" -> p)
    case Source.WatFile(p) => Map("t" -> "wat", "path" -> p)
    case Source.Filter(b, c) => Map("t" -> "filter", "base" -> sourceW(b), "cond" -> exprW(c))
    case Source.Pick(b, cols, star) =>
      Map("t" -> "pick", "base" -> sourceW(b), "cols" -> cols.map(exprW).toList, "star" -> star)
    case Source.Aggregate(b, g, ms, mode) =>
      Map("t" -> "aggregate", "base" -> sourceW(b),
        "groups" -> g.map(exprW).toList, "measures" -> ms.map(exprW).toList,
        "mode" -> mode)
    case Source.Sort(b, keys) =>
      Map("t" -> "sort", "base" -> sourceW(b), "keys" -> sortKeysW(keys))
    case Source.Limit(b, n, off) =>
      Map("t" -> "limit", "base" -> sourceW(b), "n" -> n, "offset" -> off)
    case Source.RankLimit(b, parts, keys, k, rankName) =>
      Map("t" -> "rankLimit", "base" -> sourceW(b),
        "partitionBy" -> parts.map(exprW).toList,
        "keys" -> sortKeysW(keys),
        "k" -> k, "rankName" -> rankName)
    case Source.Union(b, o) =>
      Map("t" -> "union", "base" -> sourceW(b), "other" -> sourceW(o))
    case Source.Fold(b, ids, values, kn, vn) =>
      Map("t" -> "fold", "base" -> sourceW(b), "ids" -> ids.map(exprW).toList,
        "values" -> values.map(exprW).toList, "keyName" -> kn, "valueName" -> vn)
    case Source.JoinOne(b, name, joined, fk, cond, drop) =>
      Map("t" -> "joinOne", "base" -> sourceW(b), "name" -> name,
        "joined" -> modelW(joined), "foreignKey" -> fk.map(exprW).orNull,
        "condition" -> cond.map(exprW).orNull, "dropUnmatched" -> drop)
    case Source.MatchSteps(b, schema, steps, parts, limit) =>
      Map("t" -> "matchSteps", "base" -> sourceW(b)) ++ schemaW(schema) ++ Map(
        "steps" -> steps.map(st => Map("name" -> st.name, "cond" -> exprW(st.condition))).toList,
        "partitionStartEvents" -> parts.map(exprW).toList,
        "timeLimit" -> limit.map(i => Map("num" -> i.num, "unit" -> i.unit)).orNull)
    case Source.Sessionize(b, schema, gap) =>
      Map("t" -> "sessionize", "base" -> sourceW(b)) ++ schemaW(schema) +
        ("gapSeconds" -> gap)
    case Source.SetJoin(b, right, on, anti) =>
      Map("t" -> "setJoin", "base" -> sourceW(b), "right" -> modelW(right),
        "on" -> on.map { case (l, r) =>
          Map("l" -> exprW(l), "r" -> exprW(r)) }.toList,
        "anti" -> anti)
    case Source.WindowCalc(b, parts, keys, cols) =>
      Map("t" -> "windowCalc", "base" -> sourceW(b),
        "partitionBy" -> parts.map(exprW).toList,
        "keys" -> sortKeysW(keys),
        "cols" -> cols.map(wc => Map(
          "name" -> wc.name, "kind" -> wc.kind,
          "target" -> wc.target.map(exprW).orNull,
          "offset" -> wc.offset, "frame" -> wc.frame)).toList)
    case Source.AsofJoin(b, right, lOn, rOn, lTs, rTs, seq, pick, strict, prune) =>
      Map("t" -> "asofJoin", "base" -> sourceW(b), "right" -> modelW(right),
        "leftOn" -> exprW(lOn), "rightOn" -> exprW(rOn),
        "leftTs" -> exprW(lTs), "rightTs" -> exprW(rTs),
        "seq" -> seq.map(exprW).orNull, "pick" -> pick.map(exprW).toList,
        "strict" -> strict, "pruneRight" -> prune)
    case Source.RangeJoin(b, right, lOn, rOn, pt, lo, hi, pick, w) =>
      Map("t" -> "rangeJoin", "base" -> sourceW(b), "right" -> modelW(right),
        "leftOn" -> lOn.map(exprW).orNull, "rightOn" -> rOn.map(exprW).orNull,
        "point" -> exprW(pt), "lo" -> exprW(lo), "hi" -> exprW(hi),
        "pick" -> pick.map(exprW).toList, "bucketMicros" -> w)
    case Source.UpsampleMix(b, g, k, w) =>
      Map("t" -> "upsampleMix", "base" -> sourceW(b), "group" -> exprW(g),
        "key" -> exprW(k), "weights" -> modelW(w))
    case Source.SubstringClean(b, id, tx, msw, mc) =>
      Map("t" -> "substringClean", "base" -> sourceW(b), "id" -> exprW(id),
        "text" -> exprW(tx), "minSpanWords" -> msw, "minCopies" -> mc)
    case Source.DsirSelect(b, id, tx, tgt, dims, k) =>
      Map("t" -> "dsirSelect", "base" -> sourceW(b), "id" -> exprW(id),
        "text" -> exprW(tx), "target" -> modelW(tgt), "dims" -> dims, "k" -> k)
    case Source.CdcChunks(b, id, tx, k, modulus) =>
      Map("t" -> "cdcChunks", "base" -> sourceW(b), "id" -> exprW(id),
        "text" -> exprW(tx), "k" -> k, "modulus" -> modulus)
    case Source.WeightedSample(b, key, w, k) =>
      Map("t" -> "weightedSample", "base" -> sourceW(b), "key" -> exprW(key),
        "weight" -> exprW(w), "k" -> k)
    case Source.DomainCap(b, d, id, cap) =>
      Map("t" -> "domainCap", "base" -> sourceW(b), "domain" -> exprW(d),
        "id" -> exprW(id), "cap" -> cap)
    case Source.BoilerplateStrip(b, id, tx, stops, mw, pct, llc) =>
      Map("t" -> "boilerplateStrip", "base" -> sourceW(b),
        "id" -> exprW(id), "text" -> exprW(tx),
        "stopwords" -> stops.toList, "minWords" -> mw,
        "minStopPct" -> pct, "longLineChars" -> llc)
    case Source.CorpusDrift(b, other, tx, otx, alpha) =>
      Map("t" -> "corpusDrift", "base" -> sourceW(b), "other" -> modelW(other),
        "text" -> exprW(tx), "otherText" -> exprW(otx), "alpha" -> alpha)
    case Source.CorpusDiff(b, other, id, tx, oid, otx) =>
      Map("t" -> "corpusDiff", "base" -> sourceW(b), "other" -> modelW(other),
        "id" -> exprW(id), "text" -> exprW(tx), "otherId" -> exprW(oid),
        "otherText" -> exprW(otx))
    case Source.CorpusReport(b, tx, groups) =>
      Map("t" -> "corpusReport", "base" -> sourceW(b), "text" -> exprW(tx),
        "groups" -> groups.map(exprW).toList)
    case Source.SemanticDecontam(b, id, v, eval, ev, th) =>
      Map("t" -> "semanticDecontam", "base" -> sourceW(b), "id" -> exprW(id),
        "vec" -> exprW(v), "eval" -> modelW(eval), "evalVec" -> exprW(ev),
        "threshold" -> th)
    case Source.TokenBudgetFill(b, id, g, tx, w, budget) =>
      Map("t" -> "tokenBudgetFill", "base" -> sourceW(b), "id" -> exprW(id),
        "group" -> exprW(g), "text" -> exprW(tx), "weights" -> modelW(w),
        "budget" -> budget)
    case Source.FromDF(_) | Source.NativeOp(_, _) =>
      throw new IllegalArgumentException(
        s"${s.getClass.getSimpleName} wraps a live runtime object and has no wire form")
  }

  private def exprW(e: Expr): Map[String, Any] = e match {
    case ColRef(n, ns) => Map("t" -> "col", "name" -> n, "ns" -> ns.orNull)
    case Lit(v)        => Map("t" -> "lit", "v" -> litW(v))
    case Named(b, n)   => Map("t" -> "named", "base" -> exprW(b), "name" -> n)
    case Disambiguated(b, ns) => Map("t" -> "disamb", "base" -> exprW(b), "ns" -> ns)
    case Bin(op, l, r) => Map("t" -> "bin", "op" -> opName(op), "l" -> exprW(l), "r" -> exprW(r))
    case Not(b)        => Map("t" -> "not", "base" -> exprW(b))
    case Cases(bs, o) =>
      Map("t" -> "cases",
        "branches" -> bs.map { case (c, v) => Map("when" -> exprW(c), "then" -> exprW(v)) }.toList,
        "otherwise" -> o.map(exprW).orNull)
    case Call(fn, args, d) =>
      Map("t" -> "call", "fn" -> fn, "args" -> args.map(exprW).toList, "distinct" -> d)
    case Granularity(b, u) => Map("t" -> "granularity", "base" -> exprW(b), "unit" -> u)
    case FormatTs(b, fmt)  => Map("t" -> "formatTs", "base" -> exprW(b), "format" -> fmt)
    case RawSql(sql, bindings) =>
      Map("t" -> "rawSql", "sql" -> sql,
        "bindings" -> bindings.map { case (k, v) => Map("name" -> k, "expr" -> exprW(v)) }.toList)
    case InValues(t, vs) =>
      Map("t" -> "inValues", "target" -> exprW(t), "values" -> vs.map(litW).toList)
    case InModel(t, sub, c) =>
      Map("t" -> "inModel", "target" -> exprW(t), "model" -> modelW(sub), "column" -> exprW(c))
    case ArrContains(a, v) => Map("t" -> "arrContains", "arr" -> exprW(a), "value" -> exprW(v))
    case LikeE(t, p, ci)   => Map("t" -> "like", "target" -> exprW(t), "pattern" -> p, "ci" -> ci)
    case ContainsStr(t, v, cs) =>
      Map("t" -> "contains", "target" -> exprW(t), "value" -> v, "cs" -> cs)
    case ScalarSubquery(sub) => Map("t" -> "scalarSubquery", "model" -> modelW(sub))
    case ExistsE(sub)        => Map("t" -> "exists", "model" -> modelW(sub))
    case AddInterval(t, iv, neg) =>
      Map("t" -> "addInterval", "target" -> exprW(t),
        "num" -> iv.num, "unit" -> iv.unit, "negate" -> neg)
  }

  private def litW(v: Any): Any = v match {
    case null => null
    case s: String  => Map("t" -> "str", "v" -> s)
    case b: Boolean => Map("t" -> "bool", "v" -> b)
    case i: Int     => Map("t" -> "long", "v" -> i.toLong)
    case l: Long    => Map("t" -> "long", "v" -> l)
    case d: Double  => Map("t" -> "double", "v" -> d)
    case t: java.time.Instant   => Map("t" -> "ts", "v" -> t.toString)
    case d: java.time.LocalDate => Map("t" -> "date", "v" -> d.toString)
    case i: TimeInterval => Map("t" -> "interval", "num" -> i.num, "unit" -> i.unit)
    case xs: Seq[_] => Map("t" -> "list", "v" -> xs.map(litW).toList)
    case other => throw new IllegalArgumentException(s"literal $other has no wire form")
  }

  private def opName(op: Op): String = op match {
    case Op.Eq => "eq"; case Op.Neq => "neq"; case Op.Lt => "lt"; case Op.Lte => "lte"
    case Op.Gt => "gt"; case Op.Gte => "gte"; case Op.Add => "add"; case Op.Sub => "sub"
    case Op.Mul => "mul"; case Op.Div => "div"; case Op.FloorDiv => "floorDiv"
    case Op.And => "and"; case Op.Or => "or"
  }

  // ---------------- readers ----------------

  private def obj(v: Any): Map[String, Any] = v.asInstanceOf[Map[String, Any]]
  private def arr(v: Any): List[Any] = v.asInstanceOf[List[Any]]
  private def str(v: Any): String = v.asInstanceOf[String]
  private def bool(v: Any): Boolean = v.asInstanceOf[Boolean]
  private def long(v: Any): Long = v.asInstanceOf[Long]
  /** A JSON number as a Double: the reader returns integral numbers as
    * Long. */
  private def double(v: Any, what: String): Double = v match {
    case d: Double => d
    case l: Long   => l.toDouble
    case other => throw new IllegalArgumentException(s"$what must be numeric, got $other")
  }

  private def schemaR(a: Map[String, Any]): ActivitySchema =
    ActivitySchema(exprR(obj(a("group"))), exprR(obj(a("timestamp"))),
      Option(a("eventKey")).map(x => exprR(obj(x))).orNull)

  private def sortKeysR(keys: Any): List[SortKey] = arr(keys).map(obj).map(k =>
    SortKey(exprR(obj(k("expr"))), bool(k("asc")), str(k("nulls"))))

  private def modelR(m: Map[String, Any]): Model = Model(
    source = sourceR(obj(m("source"))),
    attributes = VectorMap.from(arr(m("attributes")).map(obj).map(e =>
      str(e("name")) -> exprR(obj(e("expr"))))),
    measures = VectorMap.from(arr(m("measures")).map(obj).map(e =>
      str(e("name")) -> exprR(obj(e("expr"))))),
    relations = VectorMap.from(arr(m("relations")).map(obj).map { r =>
      val rel = Relation(str(r("name")), modelR(obj(r("model"))),
        Option(r("foreignKey")).map(v => exprR(obj(v))),
        Option(r("condition")).map(v => exprR(obj(v))),
        bool(r("dropUnmatched")))
      rel.name -> rel
    }),
    primaryKey = Option(m("primaryKey")).map(v => exprR(obj(v))),
    activitySchema = Option(m("activitySchema")).map(v => schemaR(obj(v))),
    // absent in pre-customMeta wires — tolerate additively
    customMeta = m.get("customMeta")
      .map(v => obj(v).map { case (k, x) => k -> str(x) })
      .getOrElse(Map.empty),
  )

  private def sourceR(s: Map[String, Any]): Source = str(s("t")) match {
    case "table" => Source.Table(str(s("name")))
    case "sql"   => Source.SqlQuery(str(s("query")))
    case "csv"   => Source.CsvFile(str(s("path")))
    case "json"  => Source.JsonFile(str(s("path")))
    case "orc"   => Source.OrcFile(str(s("path")))
    case "xlsx"  => Source.XlsxFile(str(s("path")),
      Option(s.getOrElse("sheet", null)).map(str))
    case "warc"  => Source.WarcFile(str(s("path")))
    case "wet"   => Source.WetFile(str(s("path")))
    case "wat"   => Source.WatFile(str(s("path")))
    case "filter" => Source.Filter(sourceR(obj(s("base"))), exprR(obj(s("cond"))))
    case "pick" =>
      Source.Pick(sourceR(obj(s("base"))),
        arr(s("cols")).map(c => exprR(obj(c))), bool(s("star")))
    case "aggregate" =>
      Source.Aggregate(sourceR(obj(s("base"))),
        arr(s("groups")).map(g => exprR(obj(g))),
        arr(s("measures")).map(m => exprR(obj(m))),
        // absent in pre-mode wires — tolerate additively
        s.get("mode").map(str).getOrElse("group"))
    case "sort" =>
      Source.Sort(sourceR(obj(s("base"))), sortKeysR(s("keys")))
    case "limit" =>
      Source.Limit(sourceR(obj(s("base"))), long(s("n")), long(s("offset")))
    case "rankLimit" =>
      Source.RankLimit(sourceR(obj(s("base"))),
        arr(s("partitionBy")).map(p => exprR(obj(p))),
        sortKeysR(s("keys")),
        long(s("k")), str(s("rankName")))
    case "union" =>
      Source.Union(sourceR(obj(s("base"))), sourceR(obj(s("other"))))
    case "fold" =>
      Source.Fold(sourceR(obj(s("base"))),
        arr(s("ids")).map(e => exprR(obj(e))),
        arr(s("values")).map(e => exprR(obj(e))),
        str(s("keyName")), str(s("valueName")))
    case "joinOne" =>
      Source.JoinOne(sourceR(obj(s("base"))), str(s("name")),
        modelR(obj(s("joined"))),
        Option(s("foreignKey")).map(v => exprR(obj(v))),
        Option(s("condition")).map(v => exprR(obj(v))),
        bool(s("dropUnmatched")))
    case "matchSteps" =>
      Source.MatchSteps(sourceR(obj(s("base"))), schemaR(s),
        arr(s("steps")).map(obj).map(st => Step(str(st("name")), exprR(obj(st("cond"))))),
        arr(s("partitionStartEvents")).map(e => exprR(obj(e))),
        Option(s("timeLimit")).map(v => {
          val i = obj(v); TimeInterval(long(i("num")), str(i("unit")))
        }))
    case "setJoin" =>
      Source.SetJoin(sourceR(obj(s("base"))), modelR(obj(s("right"))),
        arr(s("on")).map(obj).map(p =>
          (exprR(obj(p("l"))), exprR(obj(p("r"))))),
        bool(s("anti")))
    case "windowCalc" =>
      Source.WindowCalc(sourceR(obj(s("base"))),
        arr(s("partitionBy")).map(p => exprR(obj(p))),
        sortKeysR(s("keys")),
        arr(s("cols")).map(obj).map(wc => Source.WinCol(
          str(wc("name")), str(wc("kind")),
          Option(wc("target")).map(t => exprR(obj(t))),
          long(wc("offset")), long(wc("frame")))))
    case "asofJoin" =>
      Source.AsofJoin(sourceR(obj(s("base"))), modelR(obj(s("right"))),
        exprR(obj(s("leftOn"))), exprR(obj(s("rightOn"))),
        exprR(obj(s("leftTs"))), exprR(obj(s("rightTs"))),
        Option(s("seq")).map(v => exprR(obj(v))),
        arr(s("pick")).map(p => exprR(obj(p))), bool(s("strict")),
        // absent in pre-pruneRight wires — tolerate additively
        s.get("pruneRight").exists(v => bool(v)))
    case "sessionize" =>
      Source.Sessionize(sourceR(obj(s("base"))), schemaR(s), long(s("gapSeconds")))
    case "rangeJoin" =>
      Source.RangeJoin(sourceR(obj(s("base"))), modelR(obj(s("right"))),
        Option(s("leftOn")).map(v => exprR(obj(v))),
        Option(s("rightOn")).map(v => exprR(obj(v))),
        exprR(obj(s("point"))), exprR(obj(s("lo"))), exprR(obj(s("hi"))),
        arr(s("pick")).map(p => exprR(obj(p))), long(s("bucketMicros")))
    case "upsampleMix" =>
      Source.UpsampleMix(sourceR(obj(s("base"))), exprR(obj(s("group"))),
        exprR(obj(s("key"))), modelR(obj(s("weights"))))
    case "substringClean" =>
      Source.SubstringClean(sourceR(obj(s("base"))), exprR(obj(s("id"))),
        exprR(obj(s("text"))), long(s("minSpanWords")).toInt,
        long(s("minCopies")).toInt)
    case "dsirSelect" =>
      Source.DsirSelect(sourceR(obj(s("base"))), exprR(obj(s("id"))),
        exprR(obj(s("text"))), modelR(obj(s("target"))),
        long(s("dims")).toInt, long(s("k")).toInt)
    case "cdcChunks" =>
      Source.CdcChunks(sourceR(obj(s("base"))), exprR(obj(s("id"))),
        exprR(obj(s("text"))), long(s("k")).toInt, long(s("modulus")).toInt)
    case "weightedSample" =>
      Source.WeightedSample(sourceR(obj(s("base"))), exprR(obj(s("key"))),
        exprR(obj(s("weight"))), long(s("k")).toInt)
    case "boilerplateStrip" =>
      Source.BoilerplateStrip(sourceR(obj(s("base"))), exprR(obj(s("id"))),
        exprR(obj(s("text"))),
        s("stopwords").asInstanceOf[List[Any]].map(str),
        long(s("minWords")).toInt, long(s("minStopPct")).toInt,
        long(s("longLineChars")).toInt)
    case "domainCap" =>
      Source.DomainCap(sourceR(obj(s("base"))), exprR(obj(s("domain"))),
        exprR(obj(s("id"))), long(s("cap")).toInt)
    case "corpusDrift" =>
      Source.CorpusDrift(sourceR(obj(s("base"))), modelR(obj(s("other"))),
        exprR(obj(s("text"))), exprR(obj(s("otherText"))),
        double(s("alpha"), "corpusDrift alpha"))
    case "corpusDiff" =>
      Source.CorpusDiff(sourceR(obj(s("base"))), modelR(obj(s("other"))),
        exprR(obj(s("id"))), exprR(obj(s("text"))),
        exprR(obj(s("otherId"))), exprR(obj(s("otherText"))))
    case "corpusReport" =>
      Source.CorpusReport(sourceR(obj(s("base"))), exprR(obj(s("text"))),
        s("groups").asInstanceOf[List[Any]].map(g => exprR(obj(g))))
    case "semanticDecontam" =>
      Source.SemanticDecontam(sourceR(obj(s("base"))), exprR(obj(s("id"))),
        exprR(obj(s("vec"))), modelR(obj(s("eval"))),
        exprR(obj(s("evalVec"))), double(s("threshold"), "semanticDecontam threshold"))
    case "tokenBudgetFill" =>
      Source.TokenBudgetFill(sourceR(obj(s("base"))), exprR(obj(s("id"))),
        exprR(obj(s("group"))), exprR(obj(s("text"))),
        modelR(obj(s("weights"))), long(s("budget")))
    case other => throw new IllegalArgumentException(s"unknown source type '$other'")
  }

  private def exprR(e: Map[String, Any]): Expr = str(e("t")) match {
    case "col"   => ColRef(str(e("name")), Option(e("ns")).map(str))
    case "lit"   => Lit(litR(e("v")))
    case "named" => Named(exprR(obj(e("base"))), str(e("name")))
    case "disamb" => Disambiguated(exprR(obj(e("base"))), str(e("ns")))
    case "bin" => Bin(opR(str(e("op"))), exprR(obj(e("l"))), exprR(obj(e("r"))))
    case "not" => Not(exprR(obj(e("base"))))
    case "cases" =>
      Cases(arr(e("branches")).map(obj).map(b =>
        (exprR(obj(b("when"))), exprR(obj(b("then"))))),
        Option(e("otherwise")).map(o => exprR(obj(o))))
    case "call" =>
      Call(str(e("fn")), arr(e("args")).map(a => exprR(obj(a))), bool(e("distinct")))
    case "granularity" => Granularity(exprR(obj(e("base"))), str(e("unit")))
    case "formatTs"    => FormatTs(exprR(obj(e("base"))), str(e("format")))
    case "rawSql" =>
      RawSql(str(e("sql")), arr(e("bindings")).map(obj).map(b =>
        str(b("name")) -> exprR(obj(b("expr")))).toMap)
    case "inValues" =>
      InValues(exprR(obj(e("target"))), arr(e("values")).map(litR))
    case "inModel" =>
      InModel(exprR(obj(e("target"))), modelR(obj(e("model"))), exprR(obj(e("column"))))
    case "arrContains" => ArrContains(exprR(obj(e("arr"))), exprR(obj(e("value"))))
    case "like" => LikeE(exprR(obj(e("target"))), str(e("pattern")), bool(e("ci")))
    case "contains" =>
      ContainsStr(exprR(obj(e("target"))), str(e("value")), bool(e("cs")))
    case "scalarSubquery" => ScalarSubquery(modelR(obj(e("model"))))
    case "exists"         => ExistsE(modelR(obj(e("model"))))
    case "addInterval" =>
      AddInterval(exprR(obj(e("target"))),
        TimeInterval(long(e("num")), str(e("unit"))), bool(e("negate")))
    case other => throw new IllegalArgumentException(s"unknown expr type '$other'")
  }

  private def litR(v: Any): Any = v match {
    case null => null
    case m: Map[_, _] =>
      val o = obj(m)
      str(o("t")) match {
        case "str"    => str(o("v"))
        case "bool"   => bool(o("v"))
        case "long"   => long(o("v"))
        case "double" => double(o("v"), "a double literal")
        case "ts"     => java.time.Instant.parse(str(o("v")))
        case "date"   => java.time.LocalDate.parse(str(o("v")))
        case "interval" => TimeInterval(long(o("num")), str(o("unit")))
        case "list"   => arr(o("v")).map(litR)
        case other    => throw new IllegalArgumentException(s"unknown literal type '$other'")
      }
    case other => throw new IllegalArgumentException(s"bad literal wire value: $other")
  }

  private def opR(name: String): Op = name match {
    case "eq" => Op.Eq; case "neq" => Op.Neq; case "lt" => Op.Lt; case "lte" => Op.Lte
    case "gt" => Op.Gt; case "gte" => Op.Gte; case "add" => Op.Add; case "sub" => Op.Sub
    case "mul" => Op.Mul; case "div" => Op.Div; case "floorDiv" => Op.FloorDiv
    case "and" => Op.And; case "or" => Op.Or
    case other => throw new IllegalArgumentException(s"unknown op '$other'")
  }
}
