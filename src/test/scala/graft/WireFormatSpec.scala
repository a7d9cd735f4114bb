package graft

import graft.funcs._
import graft.ir.Expr._
import graft.model.{Model, StepSpec}
import graft.wire.WireFormat

/** Wire-format round-trip: a serialized model rebuilds to an equal tree and
  * produces identical results (reference model.py:1103-1152 ships models to
  * a server as versioned JSON). */
class WireFormatSpec extends GraftSuite {

  private val dir = "/root/testdata/sf0.001"

  /** Models that together reach every serializable Source node, each
    * with the exact `WireFormat.toJson` it wrote when recorded in
    * `src/test/resources/wire_golden.txt` (one `name<TAB>json` line per
    * model). Nothing here runs: toJson is pure. */
  private def goldenModels: Seq[(String, Model)] = {
    import graft.ir.{SortKey, Source}
    val events = Model.table("events")
      .withActivitySchema(col("user_id"), col("ts"), col("event_type"))
    val docs = Model.table("docs")
    val weights = Model.sqlQuery("SELECT 'en' AS lang, 1.5 AS weight")
    val snapshot = Model.table("docs_v2").filter(col("lang") === lit("en"))
    val orders = Model.table("orders")
      .withCustomMeta("owner" -> "analytics")
      .withJoinOne(Model.table("customer").withPrimaryKey(col("c_custkey")),
        named = "customer", foreignKey = col("o_custkey"))
    Seq(
      "relational" -> orders
        .filter(col("o_totalprice") > lit(1000.0) &&
          col("o_orderstatus").in(Seq("F", "O", null)))
        .aggregate(
          groups = Seq(col("o_orderpriority"),
            orders.rel("customer").attr("c_name").named("name")),
          measures = Seq(count().named("n"), sum(col("o_totalprice")).named("total")))
        .sort(col("o_orderpriority"), "desc", "first").sort(col("n"), nulls = "last")
        .limit(25L, 5L),
      "scans" -> Model.sqlQuery("SELECT 1 AS id, 2 AS a, 3 AS b")
        .unionAll(Model.csv("in/t.csv")).unionAll(Model.json("in/t.json"))
        .unionAll(Model.orc("in/t.orc")).unionAll(Model.xlsx("in/t.xlsx", Some("s1")))
        .unionAll(Model.warc("in/c.warc.gz")).unionAll(Model.wet("in/c.wet.gz"))
        .unionAll(Model.wat("in/c.wat.gz"))
        .fold(ids = Seq(col("id")), values = Seq(col("a"), col("b")))
        .pick(col("id"), col("key"), col("value"))
        .rollup(groups = Seq(col("key")), measures = Seq(sum(col("value")).named("s")))
        .pickStar(),
      "windows" -> Model.table("events")
        .topK(Seq(col("user_id")),
          Seq(SortKey(col("ts"), asc = false, nulls = "first"), SortKey(col("event_id"))),
          k = 3L, rankName = "rk")
        .withWindow(Seq(col("user_id")),
          Seq(SortKey(col("ts"), nulls = "last"), SortKey(col("event_id"), asc = false)),
          Seq(Source.WinCol("rn", "row_number", None),
            Source.WinCol("prev_ts", "lag", Some(col("ts")), offset = 2L),
            Source.WinCol("q", "ntile", None, frame = 4L),
            Source.WinCol("mv", "moving_avg", Some(col("amount")), frame = 3L)))
        .semiJoin(Model.table("users"), Seq(col("user_id") -> col("id")))
        .antiJoin(Model.table("bots"), Seq(col("user_id") -> col("id")))
        .asofJoin(Model.table("orders"),
          on = (col("user_id"), col("o_custkey")),
          ts = (col("ts"), col("o_orderdate")),
          pick = Seq(col("o_orderkey").named("last_order")), seq = col("o_orderkey"))
        .rangeJoin(Model.table("promos"), point = col("ts"),
          between = (col("starts"), col("ends")), pick = Seq(col("promo_id")),
          on = (col("user_id"), col("user_id")), bucketMicros = 3600000000L),
      "activity" -> events.filter(col("event_type") =!= lit("bot")),
      "journeys" -> events.matchSteps(Seq[StepSpec]("view", "purchase"),
        partitionStartEvents = Seq(col("session_id")), timeLimit = interval(7, "day")),
      "sessions" -> events.sessionize(1800L),
      "corpus" -> docs
        .upsampleMix(weights, group = col("lang"), key = col("id"))
        .substringClean(col("id"), col("text"), minSpanWords = 6, minCopies = 3)
        .dsirSelect(snapshot, id = col("id"), text = col("text"), k = 10, dims = 64)
        .tokenBudgetFill(weights, id = col("id"), group = col("lang"),
          text = col("text"), budget = 2000L)
        .cdcChunks(col("id"), col("text"), k = 5, modulus = 32)
        .weightedSample(col("id"), col("w"), k = 7)
        .corpusDrift(snapshot, col("text"), col("text"), alpha = 0.25)
        .semanticDecontam(snapshot, col("id"), col("vec"), col("vec"), threshold = 1.0)
        .corpusDiff(snapshot, col("id"), col("text"), col("id"), col("text"))
        .corpusReport(col("text"), col("lang"))
        .domainCap(col("domain"), col("id"), cap = 3)
        .boilerplateStrip(col("id"), col("text"), Seq("the", "a"), minWords = 4),
    )
  }

  test("toJson writes the recorded bytes for every serializable source node") {
    val golden = scala.io.Source.fromResource("wire_golden.txt").getLines()
      .filter(_.nonEmpty).map { line =>
        val Array(name, json) = line.split("\t", 2); name -> json
      }.toMap
    assert(golden.keySet === goldenModels.map(_._1).toSet)
    for ((name, m) <- goldenModels) {
      val json = WireFormat.toJson(m)
      assert(json === golden(name), s"$name wire bytes changed")
      assert(WireFormat.fromJson(json) === m, s"$name does not round-trip")
    }
    // the set reaches every Source node that has a wire form
    def nodes(x: Any): Seq[String] = x match {
      case s: graft.ir.Source with Product =>
        s.getClass.getSimpleName +: s.productIterator.toSeq.flatMap(nodes(_))
      case p: Product     => p.productIterator.toSeq.flatMap(nodes(_))
      case i: Iterable[_] => i.toSeq.flatMap(nodes(_))
      case _              => Nil
    }
    import scala.reflect.runtime.universe._
    val serializable = typeOf[graft.ir.Source].typeSymbol.asClass
      .knownDirectSubclasses.map(_.name.toString) -- Set("FromDF", "NativeOp")
    assert(serializable.size === 36)
    assert(goldenModels.flatMap(m => nodes(m._2)).toSet === serializable)
  }

  test("complex relational model round-trips and runs identically") {
    val customer = Model.parquet(dir, "customer").withPrimaryKey(col("c_custkey"))
    val m = Model.parquet(dir, "orders")
      .withCustomMeta("owner" -> "analytics", "tier" -> "gold")
      .withJoinOne(customer, named = "customer", foreignKey = col("o_custkey"))
      .withAttributes((col("o_totalprice") * lit(2.0)).named("dbl"))
      .filter(col("o_totalprice") > lit(1000.0) &&
        col("o_orderstatus").in(Seq("F", "O")))
      .aggregate(
        groups = Seq(
          col("o_orderpriority"),
          cases(Seq((col("o_totalprice") > lit(200000.0)) -> lit("big")), lit("small"))
            .named("size_bucket"),
          FormatTs(col("o_orderdate"), "%Y-%m").named("ym"),
          col("o_orderdate").byQuarter.named("q")),
        measures = Seq(count().named("n"),
          cast(sum(cast(col("o_totalprice"), "decimal(18,2)")), "double").named("total")))
      .sort(col("o_orderpriority")).sort(col("ym"))
      .limit(25)
    val json = WireFormat.toJson(m)
    val rebuilt = WireFormat.fromJson(json)
    assert(rebuilt === m) // case-class equality over the whole tree
    val a = m.run(spark).collect().map(_.toSeq)
    val b = rebuilt.run(spark).collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq)
  }

  test("scalar-helper expressions survive the wire (Long literal args)") {
    val m = Model.parquet(dir, "customer")
      .pick(col("c_custkey"),
        concat(substring(col("c_name"), 1, 8), lit("!")).named("tag"),
        round(col("c_acctbal") / lit(3.0), 6).named("third"))
      .sort(col("c_custkey")).limit(5)
    val rebuilt = WireFormat.fromJson(WireFormat.toJson(m))
    // wire JSON turns the Int literals into Longs — must still compile
    assert(rebuilt.run(spark).collect().map(_.toSeq).toSeq ===
      m.run(spark).collect().map(_.toSeq).toSeq)
  }

  test("a payload with a bad sort-key null placement fails to decode") {
    val json = WireFormat.toJson(Model.table("orders").sort(col("o_orderkey")))
    assert(json.contains("\"nulls\":\"auto\""))
    val e = intercept[IllegalArgumentException] {
      WireFormat.fromJson(json.replace("\"nulls\":\"auto\"", "\"nulls\":\"middle\""))
    }
    assert(e.getMessage === "bad nulls: middle")
  }

  test("topK model round-trips and runs identically") {
    import graft.ir.SortKey
    val m = Model.parquet(dir, "orders")
      .topK(Seq(col("o_orderpriority")),
        Seq(SortKey(col("o_totalprice"), asc = false), SortKey(col("o_orderkey"))),
        k = 3)
      .pick(col("o_orderpriority"), col("o_orderkey"), col("rank"))
      .sort(col("o_orderpriority")).sort(col("rank"))
    val rebuilt = WireFormat.fromJson(WireFormat.toJson(m))
    assert(rebuilt === m)
    assert(rebuilt.run(spark).collect().map(_.toSeq).toSeq ===
      m.run(spark).collect().map(_.toSeq).toSeq)
  }

  test("windowCalc and asofJoin models round-trip and run identically") {
    import graft.ir.{SortKey, Source}
    val m = Model.parquet(dir, "events")
      .withWindow(
        partitionBy = Seq(col("user_id")),
        orderBy = Seq(SortKey(col("ts")), SortKey(col("event_id"))),
        cols = Seq(
          Source.WinCol("rn", "row_number", None),
          Source.WinCol("prev_ts", "lag", Some(col("ts"))),
          Source.WinCol("run_n", "running_sum", Some(lit(1L)))))
      .asofJoin(Model.parquet(dir, "orders"),
        on = (col("user_id"), col("o_custkey")),
        ts = (col("ts"), col("o_orderdate")),
        pick = Seq(col("o_orderkey").named("last_order_key")),
        seq = col("o_orderkey"))
      .pick(col("event_id"), col("rn"), col("run_n"), col("last_order_key"))
      .sort(col("event_id")).limit(20)
    val rebuilt = WireFormat.fromJson(WireFormat.toJson(m))
    assert(rebuilt === m)
    assert(rebuilt.run(spark).collect().map(_.toSeq).toSeq ===
      m.run(spark).collect().map(_.toSeq).toSeq)
  }

  test("rangeJoin model round-trips and runs identically") {
    val m = Model.parquet(dir, "events")
      .filter(col("event_type") === lit("click"))
      .pick(col("event_id"), col("user_id"), col("ts"))
      .rangeJoin(
        Model.parquet(dir, "events")
          .filter(col("event_type") === lit("purchase")),
        point = col("ts"),
        between = (AddInterval(col("ts"), interval(2, "hour"), negate = true),
          col("ts")),
        pick = Seq(col("event_id").named("purchase_event")),
        on = (col("user_id"), col("user_id")))
      .sort(col("event_id")).sort(col("purchase_event")).limit(20)
    val rebuilt = WireFormat.fromJson(WireFormat.toJson(m))
    assert(rebuilt === m)
    assert(rebuilt.run(spark).collect().map(_.toSeq).toSeq ===
      m.run(spark).collect().map(_.toSeq).toSeq)
  }

  test("match_steps model with activity schema and time limit round-trips") {
    val m = Model.parquet(dir, "events")
      .withActivitySchema(col("user_id"), col("ts"), col("event_type"))
      .funnel(Seq[StepSpec]("view", "click", "purchase"),
        timeLimit = interval(7, "day"), topOfFunnel = "users")
    val rebuilt = WireFormat.fromJson(WireFormat.toJson(m))
    val a = m.run(spark).collect().map(_.toSeq)
    val b = rebuilt.run(spark).collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq)
  }

  test("raw sql bindings and literals of every type survive the trip") {
    val m = Model.parquet(dir, "orders")
      .withAttributes((col("o_totalprice") * lit(0.5)).named("half"))
      .filter(sql("{{ half }} > 1000"))
      .filter(col("o_orderdate") >= lit(java.time.LocalDate.parse("1993-01-01")))
      .filter(col("o_orderdate") < AddInterval(
        lit(java.time.Instant.parse("1998-01-01T00:00:00Z")),
        interval(1, "month"), negate = false))
    val rebuilt = WireFormat.fromJson(WireFormat.toJson(m))
    assert(rebuilt === m)
    assert(m.run(spark).count() === rebuilt.run(spark).count())
  }

  test("xlsx source round-trips on the wire and compiles to a physical read") {
    // the seam is wire- and composition-complete (reference parity:
    // duckdb_connection.py:96-117 registers .xlsx paths), and since
    // round 8 the physical read is real (pure-JDK ZIP+SAX codec)
    val m = Model.xlsx("/data/budget.xlsx", Some("Q3"))
      .filter(col("amount") > lit(100.0))
      .pick(col("dept"), col("amount"))
    val rebuilt = WireFormat.fromJson(WireFormat.toJson(m))
    assert(rebuilt === m)
    val noSheet = WireFormat.fromJson(WireFormat.toJson(Model.xlsx("/data/a.xlsx")))
    assert(noSheet === Model.xlsx("/data/a.xlsx"))

    // end-to-end through a real workbook: write → wire round-trip → run
    val path = java.nio.file.Files.createTempDirectory("graft_xlsx")
      .resolve("budget.xlsx").toString
    graft.sources.Xlsx.write(path, Seq("dept", "amount"),
      Seq(Seq("eng", 250.5), Seq("ops", 99.0), Seq("eng", 101.0)), sheetName = "Q3")
    val live = WireFormat.fromJson(WireFormat.toJson(
      Model.xlsx(path, Some("Q3"))
        .filter(col("amount") > lit(100.0))
        .pick(col("dept"), col("amount"))))
    val rows = live.run(spark).collect().map(r => (r.getString(0), r.getDouble(1))).sortBy(_._2)
    assert(rows.toSeq === Seq(("eng", 101.0), ("eng", 250.5)))
  }

  test("orc source round-trips on the wire and compiles to a physical read") {
    val m = Model.orc("/data/facts.orc")
      .filter(col("v") > lit(1.0))
      .pick(col("k"), col("v"))
    assert(WireFormat.fromJson(WireFormat.toJson(m)) === m)

    // end-to-end through a real ORC file: write → wire round-trip → run
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_orc")
      .resolve("facts").toString
    Seq(("eng", 250.5), ("ops", 99.0), ("eng", 101.0)).toDF("k", "v")
      .write.mode("overwrite").orc(dir)
    val live = WireFormat.fromJson(WireFormat.toJson(
      Model.orc(dir).filter(col("v") > lit(100.0)).pick(col("k"), col("v"))))
    val rows = live.run(s).collect().map(r => (r.getString(0), r.getDouble(1))).sortBy(_._2)
    assert(rows.toSeq === Seq(("eng", 101.0), ("eng", 250.5)))
  }

  test("upsampleMix and substringClean round-trip and run identically") {
    val s = spark
    import s.implicits._
    // upsampleMix: the weights SUB-MODEL (VALUES-backed SqlQuery) rides
    // along inside the node — structural equality must hold through json
    val wts = Model.sqlQuery(
      """SELECT * FROM VALUES ('a', CAST(1.5 AS DOUBLE)), ('b', 2.0)
           AS t(grp, weight)""")
    val up = Model.sqlQuery(
      """SELECT * FROM VALUES ('a', 'x'), ('a', 'y'), ('b', 'z')
           AS t(grp, k)""")
      .upsampleMix(wts, group = col("grp"), key = col("k"))
      .sort(col("grp")).sort(col("replica"))
    assert(WireFormat.fromJson(WireFormat.toJson(up)) === up)
    // codec-rebuilt model runs identically to the direct one
    val direct = up.run(s).collect().map(_.toSeq)
    val rebuilt = WireFormat.fromJson(WireFormat.toJson(up)).run(s)
      .collect().map(_.toSeq)
    assert(rebuilt.toSeq === direct.toSeq)
    // 'b' (weight 2.0) gets exactly replicas 0 and 1; 'a' rows get 1 or 2
    val byGrp = direct.groupBy(_.head)
    assert(byGrp("b").map(r => r(2)).toSet === Set(0L, 1L))

    // substringClean: knobs are plain ints — survive the json number trip
    val sc0 = Model.parquet("/root/testdata/sf0.001", "documents")
      .substringClean(col("doc_id"), col("text"), minSpanWords = 8,
        minCopies = 2)
      .sort(col("doc_id"))
    assert(WireFormat.fromJson(WireFormat.toJson(sc0)) === sc0)
    val d2 = sc0.run(s).collect().map(_.toSeq)
    val r2 = WireFormat.fromJson(WireFormat.toJson(sc0)).run(s)
      .collect().map(_.toSeq)
    assert(r2.toSeq === d2.toSeq && d2.nonEmpty)
  }

  test("dsirSelect rides the wire with its target sub-model and runs identically") {
    val s = spark
    val base = Model.parquet("/root/testdata/sf0.001", "documents")
    val ds = base
      .dsirSelect(
        target = base.filter(col("lang") === lit("en")),
        id = col("doc_id"), text = col("text"), k = 10, dims = 64)
      .sort(col("rank"))
    // structural equality through json (target sub-model included)
    assert(WireFormat.fromJson(WireFormat.toJson(ds)) === ds)
    val direct = ds.run(s).collect().map(_.toSeq)
    val rebuilt = WireFormat.fromJson(WireFormat.toJson(ds)).run(s)
      .collect().map(_.toSeq)
    assert(rebuilt.toSeq === direct.toSeq)
    assert(direct.length === 10)
    // ranks are 1..10 and weights non-increasing
    assert(direct.map(_(2)) === (1L to 10L).toSeq)
    val w = direct.map(_(1).asInstanceOf[Long])
    assert(w.sorted.reverse.toSeq === w.toSeq)
  }

  test("tokenBudgetFill rides the wire and honors per-group quotas") {
    val s = spark
    val wts = Model.sqlQuery(
      """SELECT * FROM VALUES ('en', CAST(0.5 AS DOUBLE)), ('de', 0.5)
           AS t(lang, weight)""")
    val tb = Model.parquet("/root/testdata/sf0.001", "documents")
      .tokenBudgetFill(wts, id = col("doc_id"), group = col("lang"),
        text = col("text"), budget = 2000L)
      .sort(col("doc_id"))
    assert(WireFormat.fromJson(WireFormat.toJson(tb)) === tb)
    val direct = tb.run(s).collect().map(_.toSeq)
    val rebuilt = WireFormat.fromJson(WireFormat.toJson(tb)).run(s)
      .collect().map(_.toSeq)
    assert(rebuilt.toSeq === direct.toSeq && direct.nonEmpty)
    // every kept row's cum fits its group quota (floor(0.5·2000+0.5)=1000)
    assert(direct.forall(r => r(3).asInstanceOf[Long] <= 1000L))
    // per group, the max cum is within one doc of the quota boundary:
    // adding the next doc in md5 order would overflow (prefix maximality
    // is implied by cum <= quota AND the group's total exceeding it)
    val byLang = direct.groupBy(_(1))
    assert(byLang.keySet === Set("en", "de")) // only weighted groups emit
  }

  test("cdcChunks and weightedSample round-trip and run identically") {
    val s = spark
    val base = Model.parquet("/root/testdata/sf0.001", "documents")

    val chunks = base
      .cdcChunks(col("doc_id"), col("text"), k = 4, modulus = 8)
      .sort(col("doc_id")).sort(col("chunk_ix"))
    assert(WireFormat.fromJson(WireFormat.toJson(chunks)) === chunks)
    val cDirect = chunks.run(s).collect().map(_.toSeq)
    val cRebuilt = WireFormat.fromJson(WireFormat.toJson(chunks)).run(s)
      .collect().map(_.toSeq)
    assert(cRebuilt.toSeq === cDirect.toSeq && cDirect.nonEmpty)

    val sample = base
      .weightedSample(col("doc_id"), col("n_chars"), k = 7)
      .pick(col("doc_id"), col("priority"))
      .sort(col("doc_id"))
    assert(WireFormat.fromJson(WireFormat.toJson(sample)) === sample)
    val sDirect = sample.run(s).collect().map(_.toSeq)
    val sRebuilt = WireFormat.fromJson(WireFormat.toJson(sample)).run(s)
      .collect().map(_.toSeq)
    assert(sRebuilt.toSeq === sDirect.toSeq && sDirect.length === 7)
    // the dunder sampling key never leaks into the sink schema
    assert(!sample.run(s).columns.exists(_.startsWith("__")))
  }

  test("boilerplateStrip rides the wire, stopword list included") {
    val s = spark
    val base = Model.parquet("/root/testdata/sf0.001", "documents")
    val stripped = base
      .boilerplateStrip(col("doc_id"),
        sql("concat_ws('\\n', 'Nav | Bar', text, 'Copyright footer line')"),
        stopwords = Seq("the", "a", "of", "and", "is", "to", "in"))
      .pick(col("doc_id"), col("n_lines"), col("n_content"),
        col("boilerplate_frac"))
      .sort(col("doc_id"))
    assert(WireFormat.fromJson(WireFormat.toJson(stripped)) === stripped)
    val direct = stripped.run(s).collect().map(_.toSeq)
    val rebuilt = WireFormat.fromJson(WireFormat.toJson(stripped)).run(s)
      .collect().map(_.toSeq)
    assert(rebuilt.toSeq === direct.toSeq && direct.nonEmpty)
    // every synthesized doc has 3 lines; nav/footer never classify as
    // content, so the fraction is strictly positive
    assert(direct.forall(r => r(1) == 3L))
    assert(direct.forall(r => r(3).asInstanceOf[Double] >= 0.666666))
  }

  test("domainCap rides the wire and keeps at most cap per domain") {
    val s = spark
    val base = Model.parquet("/root/testdata/sf0.001", "documents")
    val capped = base
      .domainCap(col("source"), col("doc_id"), cap = 3)
      .pick(col("doc_id"), col("domain"))
      .sort(col("doc_id"))
    assert(WireFormat.fromJson(WireFormat.toJson(capped)) === capped)
    val direct = capped.run(s).collect().map(_.toSeq)
    val rebuilt = WireFormat.fromJson(WireFormat.toJson(capped)).run(s)
      .collect().map(_.toSeq)
    assert(rebuilt.toSeq === direct.toSeq && direct.nonEmpty)
    // cap respected per domain, and the dunder id helper never leaks
    val perDom = capped.run(s).collect().groupBy(_.getString(1))
    assert(perDom.values.forall(_.length <= 3) && perDom.nonEmpty)
    assert(!capped.run(s).schema.fieldNames.exists(_.startsWith("__")))
  }

  test("semanticDecontam rides the wire with its eval sub-model") {
    val s = spark
    val base = Model.parquet("/root/testdata/sf0.001", "embeddings")
    val eval = base.filter(col("vec_id") < lit(4L))
    val m = base.filter(col("vec_id") >= lit(4L))
      .semanticDecontam(eval, col("vec_id"), col("embedding"),
        col("embedding"), threshold = 0.3)
      .sort(col("vec_id"))
    assert(WireFormat.fromJson(WireFormat.toJson(m)) === m)
    val direct = m.run(s).collect().map(_.toSeq)
    val rebuilt = WireFormat.fromJson(WireFormat.toJson(m)).run(s)
      .collect().map(_.toSeq)
    assert(rebuilt.toSeq === direct.toSeq && direct.nonEmpty)
    assert(m.run(s).columns.toSeq ===
      Seq("vec_id", "max_eval_cos", "contaminated"))
  }

  test("corpusDrift rides the wire with its comparison sub-model") {
    val s = spark
    val base = Model.parquet("/root/testdata/sf0.001", "documents")
    val m = base.filter(col("lang") === lit("en"))
      .corpusDrift(base.filter(col("lang") === lit("de")),
        col("text"), col("text"))
    assert(WireFormat.fromJson(WireFormat.toJson(m)) === m)
    val direct = m.run(s).collect().map(_.toSeq)
    val rebuilt = WireFormat.fromJson(WireFormat.toJson(m)).run(s)
      .collect().map(_.toSeq)
    assert(rebuilt.toSeq === direct.toSeq && direct.length === 1)
    // KL(P||P) = 0 through the wire too
    val self = base.corpusDrift(base, col("text"), col("text"))
    assert(WireFormat.fromJson(WireFormat.toJson(self)).run(s)
      .collect()(0).getDouble(0) === 0.0)
  }

  test("runtime-object sources refuse serialization with a clear error") {
    val s = spark
    import s.implicits._
    val m = Model.fromDF(Seq(1L).toDF("id"))
    val e = intercept[IllegalArgumentException] { WireFormat.toJson(m) }
    assert(e.getMessage.contains("wire form"))
  }
}
