package graft

import java.sql.Timestamp

import graft.funcs._
import graft.ir.Expr._
import graft.model.Model

/** Core relational/expression semantics from the reference's documented
  * behavior: fold (model.py:958-981), NULL-aware membership
  * (column_expression.py:529-568), join NULL-fill vs drop_unmatched
  * (docs/pattern_guides/joins.md), scalar subqueries, strftime tokens.
  */
class CoreOpsSpec extends GraftSuite {

  test("self.-qualified raw-SQL references resolve against the model") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, 10.0, "self.x"), (2L, 50.0, "other")).toDF("id", "amt", "tag")
    // undeclared model: self.amt falls back to the named column; the
    // 'self.x' STRING LITERAL and the "self.x"-quoted identifier must
    // survive untouched (quote-aware scanner, not a blind regex)
    val out = Model.fromDF(df)
      .filter(sql("self.amt > 20 AND self.tag <> 'self.x'"))
      .run(s).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(2L))
    // declared model: self.net splices the derived attribute expression
    val m2 = Model.fromDF(df)
      .withAttributes((col("amt") * lit(3.0)).named("net"))
      .filter(sql("self.net > 100"))
      .run(s).collect()
    assert(m2.map(_.getLong(0)).toSeq === Seq(2L))
    // the explicit {{ self.x }} template spelling must not double-wrap
    val m3 = Model.fromDF(df)
      .filter(sql("{{ self.amt }} > 20"))
      .run(s).collect()
    assert(m3.map(_.getLong(0)).toSeq === Seq(2L))
    // unknown self-attribute on a declared model throws like attr()
    intercept[NoSuchElementException] {
      Model.fromDF(df).withAttributes(col("amt").named("net"))
        .filter(sql("self.nope > 1"))
    }
  }

  test("unknown identifiers get did-you-mean suggestions (reference model.py:101-180)") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, 10.0)).toDF("id", "amt")
    val m = Model.fromDF(df)
      .withAttributes(col("amt").named("net_amount"), col("id").named("order_id"))
      .withMeasures(count().named("n_orders"))
    // typo → edit-distance suggestion from the same map
    val typo = intercept[NoSuchElementException](m.attr("net_amuont"))
    assert(typo.getMessage.contains("did you mean 'net_amount'?"))
    assert(typo.getMessage.contains("known attributes:"))
    // name that exists in ANOTHER map → cross-kind accessor hint
    val cross = intercept[NoSuchElementException](m.attr("n_orders"))
    assert(cross.getMessage.contains("""did you mean msr("n_orders")?"""))
    // far-from-everything name → no suggestion, just the known list
    val far = intercept[NoSuchElementException](m.msr("zzz_completely_else"))
    assert(!far.getMessage.contains("did you mean"))
    assert(far.getMessage.contains("known measures: n_orders"))
  }

  test("week granularity honors the first-day-of-week compile setting") {
    val s = spark
    import s.implicits._
    import graft.compile.CompileSettings
    // 2024-01-10 is a Wednesday
    val df = Seq(java.sql.Date.valueOf("2024-01-10")).toDF("d")
    def weekOf(day: String): String =
      Model.fromDF(df).pick(col("d").byWeek.named("w"))
        .run(s, CompileSettings(weekStartDay = day))
        .collect().head.getTimestamp(0).toString.take(10)
    assert(weekOf("sunday") === "2024-01-07")
    assert(weekOf("monday") === "2024-01-08")
    assert(weekOf("saturday") === "2024-01-06")
    assert(weekOf("wednesday") === "2024-01-10")
    assert(weekOf("thursday") === "2024-01-04")
    intercept[IllegalArgumentException] { CompileSettings(weekStartDay = "someday") }
  }

  test("private-column stripping matches the reference dunder rule") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, 2.0)).toDF("id", "amt")
    // __raw is NOT dunder-form: it must survive post-processing
    val out = Model.fromDF(df)
      .pick(col("id"), col("amt").named("__raw"),
        privateColumn("__hidden__", col("amt") * lit(2.0)))
      .run(s)
    assert(out.columns.toSeq === Seq("id", "__raw"))
    // .named refuses dunder names, like the reference guard
    intercept[IllegalArgumentException] { col("amt").named("__x__") }
    intercept[IllegalArgumentException] { privateColumn("not_dunder", col("amt")) }
  }

  test("pivot widens key/value rows; absent keys yield NULL") {
    val s = spark
    import s.implicits._
    val df = Seq(("x", "a", 1.0), ("x", "b", 2.0), ("x", "a", 4.0), ("y", "a", 3.0))
      .toDF("g", "k", "v")
    val out = Model.fromDF(df)
      .pivot(Seq(col("g")), col("k"), col("v"), Seq("a", "b"))
      .sort(col("g")).run(s).collect()
    assert(out.map(r => (r.getString(0),
      Option(r.get(1)), Option(r.get(2)))).toSeq === Seq(
      ("x", Some(5.0), Some(2.0)),
      ("y", Some(3.0), None))) // y has no 'b' rows → NULL, like SQL PIVOT
    intercept[IllegalArgumentException] {
      Model.fromDF(df).pivot(Seq(col("g")), col("k"), col("v"), Seq("a"), "median")
    }
  }

  test("fold unpivots wide to long, reference docstring example") {
    val s = spark
    import s.implicits._
    val sales = Seq((2023, "$150K", "$30K"), (2024, "$500K", "$130K"))
      .toDF("year", "income", "expenses")
    val out = Model.fromDF(sales)
      .fold(ids = Seq(col("year")), values = Seq(col("income"), col("expenses")),
        keyName = "type", valueName = "value")
      .sort(col("year")).sort(col("type"))
      .run(spark).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    assert(out.toSet === Set(
      (2023, "income", "$150K"), (2023, "expenses", "$30K"),
      (2024, "income", "$500K"), (2024, "expenses", "$130K")))
  }

  test("fold retains NULL values (like the reference's pick+union)") {
    val s = spark
    import s.implicits._
    val df = Seq((1, Some("x"), None: Option[String])).toDF("id", "a", "b")
    val out = Model.fromDF(df)
      .fold(ids = Seq(col("id")), values = Seq(col("a"), col("b")))
      .run(spark).collect()
    assert(out.length === 2)
    assert(out.count(_.isNullAt(2)) === 1)
  }

  private def nullableVals = {
    val s = spark
    import s.implicits._
    Seq(Some(1L), Some(2L), None).toDF("v")
  }

  test("in_(values) NULL-aware truth table") {
    // with a NULL in the list: v IN (...) OR v IS NULL
    val withNull = Model.fromDF(nullableVals)
      .filter(col("v").in(Seq(1L, null))).run(spark).collect()
    assert(withNull.length === 2)
    // without NULL: v IN (...) AND v IS NOT NULL — the NULL row never matches
    val noNull = Model.fromDF(nullableVals)
      .filter(col("v").in(Seq(1L))).run(spark).collect()
    assert(noNull.map(_.getLong(0)).toSeq === Seq(1L))
    // empty list is constant FALSE
    val empty = Model.fromDF(nullableVals)
      .filter(col("v").in(Seq.empty)).run(spark).collect()
    assert(empty.isEmpty)
  }

  test("in_(model) includes NULL membership when the subquery has NULLs") {
    val s = spark
    import s.implicits._
    val subWithNull = Model.fromDF(Seq(Some(1L), None).toDF("x"))
    val subNoNull = Model.fromDF(Seq(Some(1L)).toDF("x"))
    val a = Model.fromDF(nullableVals)
      .filter(InModel(col("v"), subWithNull, col("x")))
      .run(spark).collect()
    assert(a.length === 2) // 1 matches, NULL matches via NULL-membership
    val b = Model.fromDF(nullableVals)
      .filter(InModel(col("v"), subNoNull, col("x")))
      .run(spark).collect()
    assert(b.map(_.getLong(0)).toSeq === Seq(1L))
  }

  private def salesAndProducts = {
    val s = spark
    import s.implicits._
    val products = Seq(("p1", 10.0), ("p2", 20.0)).toDF("id", "price")
    val sales = Seq(("s1", "p1"), ("s2", "p2"), ("s3", "zz")).toDF("sale", "product_id")
    (Model.fromDF(sales), Model.fromDF(products).withPrimaryKey(col("id")))
  }

  test("with_join_one LEFT join NULL-fills unmatched rows") {
    val (sales, products) = salesAndProducts
    val joined = sales.withJoinOne(products, named = "product",
      foreignKey = col("product_id"))
    val out = joined.pick(col("sale"),
      joined.rel("product").attr("price").named("price"))
      .sort(col("sale")).run(spark).collect()
    assert(out.length === 3)
    assert(out(2).isNullAt(1)) // s3 -> no product -> NULL price
  }

  test("with_join_one drop_unmatched=INNER drops unmatched rows") {
    val (sales, products) = salesAndProducts
    val joined = sales.withJoinOne(products, named = "product",
      foreignKey = col("product_id"), dropUnmatched = true)
    val out = joined
      .filter(joined.rel("product").attr("price") > lit(0.0))
      .aggregate(measures = Seq(count().named("n")))
      .run(spark).collect()
    assert(out.head.getLong(0) === 2L)
  }

  test("join is lazy: unreferenced relation emits no join") {
    val (sales, products) = salesAndProducts
    val joined = sales.withJoinOne(products, named = "product",
      foreignKey = col("product_id"))
    val plan = joined.pick(col("sale")).run(spark)
      .queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("join"))
  }

  test("scalar subquery over an empty model yields NULL, keeps rows") {
    val s = spark
    import s.implicits._
    val base = Model.fromDF(Seq(1L, 2L).toDF("id"))
    val emptySub = Model.fromDF(Seq.empty[Long].toDF("x"))
      .aggregate(groups = Seq(col("x")), measures = Seq.empty) // still empty
    val out = base.pick(col("id"), scalar(emptySub).named("m"))
      .sort(col("id")).run(spark).collect()
    assert(out.length === 2)
    assert(out.forall(_.isNullAt(1)))
  }

  test("cases with zero branches degrades to otherwise") {
    val s = spark
    import s.implicits._
    val base = Model.fromDF(Seq(1L).toDF("id"))
    val out = base.pick(col("id"),
      cases(Seq.empty, lit("fallback")).named("c")).run(spark).collect()
    assert(out.head.getString(1) === "fallback")
  }

  test("strftime token map matches Python strftime") {
    val s = spark
    import s.implicits._
    val df = Seq(Timestamp.valueOf("2024-03-15 13:05:09")).toDF("ts")
    def fmt(pattern: String): String =
      Model.fromDF(df).pick(FormatTs(col("ts"), pattern).named("f"))
        .run(spark).collect().head.getString(0)
    assert(fmt("%Y-%m-%d %H:%M:%S") === "2024-03-15 13:05:09")
    assert(fmt("%A %a %b %B") === "Friday Fri Mar March")
    assert(fmt("%p %I") === "PM 01")
    assert(fmt("%j|%-j") === "075|75")
    assert(fmt("%w") === "5")   // Friday, Sunday=0
    assert(fmt("%U") === "10")  // Sunday-first week of year
    assert(fmt("%W") === "11")  // Monday-first week of year
    assert(fmt("Q%Q %y") === "Q1 24")
    assert(fmt("100%%") === "100%")
  }

  test("strftime week-zero boundary (days before the first week)") {
    val s = spark
    import s.implicits._
    val df = Seq(Timestamp.valueOf("2024-01-06 00:00:00")).toDF("ts") // Saturday
    val out = Model.fromDF(df)
      .pick(FormatTs(col("ts"), "%U %W %w").named("f"))
      .run(spark).collect().head.getString(0)
    assert(out === "00 01 6")
  }

  test("unknown strftime token throws instead of silent passthrough") {
    val s = spark
    import s.implicits._
    val df = Seq(Timestamp.valueOf("2024-03-15 13:05:09")).toDF("ts")
    intercept[IllegalArgumentException] {
      Model.fromDF(df).pick(FormatTs(col("ts"), "%e").named("f")).run(spark)
    }
  }

  test("{{ name }} substitution resolves attrs, measures, nested fragments") {
    val s = spark
    import s.implicits._
    val base = Model.fromDF(Seq((1L, 10.0), (2L, 100.0)).toDF("id", "price"))
      .withAttributes(
        (col("price") * lit(2.0)).named("double_price"),
        sql("{{ double_price }} + 1").named("plus_one"))
    val out = base.filter(sql("{{ plus_one }} > 100"))
      .run(spark).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(2L)) // 100*2+1 > 100
  }

  test("{{ name }} cycles throw a clear error") {
    val s = spark
    import s.implicits._
    val m = Model.fromDF(Seq(1L).toDF("id"))
      .withAttributes(
        sql("{{ b }} + 1").named("a_"),
        sql("{{ a_ }} + 1").named("b"))
    val e = intercept[IllegalArgumentException] { m.filter(sql("{{ a_ }} > 0")) }
    assert(e.getMessage.contains("cyclic"))
  }

  test("{{ ns.attr }} resolves through a join namespace") {
    val (sales, products) = salesAndProducts
    val joined = sales.withJoinOne(products, named = "product",
      foreignKey = col("product_id"))
    val out = joined.filter(sql("{{ product.price }} > 15"))
      .pick(col("sale")).run(spark).collect()
    assert(out.map(_.getString(0)).toSeq === Seq("s2"))
  }

  test("containsAny / containsAll compose substring predicates") {
    val s = spark
    import s.implicits._
    val m = Model.fromDF(Seq("red green", "deep blue sea", "plain").toDF("t"))
    assert(m.filter(col("t").containsAny(Seq("green", "blue")))
      .run(spark).count() === 2)
    assert(m.filter(col("t").containsAll(Seq("blue", "sea")))
      .run(spark).count() === 1)
  }

  test("distinct(x) in pick context deduplicates") {
    val s = spark
    import s.implicits._
    val m = Model.fromDF(Seq("a", "b", "a").toDF("v"))
    val out = m.pick(distinct(col("v"))).sort(col("v")).run(spark).collect()
    assert(out.map(_.getString(0)).toSeq === Seq("a", "b"))
  }

  test("csv and json sources round-trip a frame") {
    val s = spark
    import s.implicits._
    val df = Seq((1, "x"), (2, "y")).toDF("k", "v")
    val base = java.nio.file.Files.createTempDirectory("spec_roundtrip")
    try {
      df.coalesce(1).write.option("header", "true").csv(s"$base/csvdir")
      df.coalesce(1).write.json(s"$base/jsondir")
      val fromCsv = Model.csv(s"$base/csvdir").sort(col("k")).run(spark).collect()
      assert(fromCsv.map(r => (r.getInt(0), r.getString(1))).toSeq ===
        Seq((1, "x"), (2, "y")))
      val fromJson = Model.json(s"$base/jsondir")
        .pick(col("k"), col("v")).sort(col("k")).run(spark).collect()
      assert(fromJson.map(r => (r.getLong(0), r.getString(1))).toSeq ===
        Seq((1L, "x"), (2L, "y")))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
  }

  test("nested join namespaces resolve without pre-materialization") {
    val s = spark
    import s.implicits._
    val regions = Model.fromDF(Seq(("r1", "west"), ("r2", "east")).toDF("rid", "rname"))
      .withPrimaryKey(col("rid"))
    val stores = Model.fromDF(Seq(("st1", "r1"), ("st2", "r2")).toDF("sid", "region_id"))
      .withPrimaryKey(col("sid"))
      .withJoinOne(regions, named = "region", foreignKey = col("region_id"))
    val sales = Model.fromDF(Seq(("x", "st1"), ("y", "st2"), ("z", "st1")).toDF("sale", "store_id"))
      .withJoinOne(stores, named = "store", foreignKey = col("store_id"))
    val out = sales.aggregate(
      groups = Seq(sales.rel("store").rel("region").attr("rname").named("region_name")),
      measures = Seq(count().named("n")))
      .sort(col("region_name"))
      .run(spark).collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("east", 1L), ("west", 2L)))
  }

  test("rollup and cube emit subtotal rows with NULL group columns") {
    val s = spark
    import s.implicits._
    val df = Seq(("a", "x", 1L), ("a", "y", 2L), ("b", "x", 4L)).toDF("g1", "g2", "v")
    val out = Model.fromDF(df)
      .rollup(groups = Seq(col("g1"), col("g2")),
        measures = Seq(sum(col("v")).named("s")))
      .run(s).collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)), r.getLong(2)))
      .toSet
    assert(out === Set(
      (Some("a"), Some("x"), 1L), (Some("a"), Some("y"), 2L),
      (Some("b"), Some("x"), 4L),
      (Some("a"), None, 3L), (Some("b"), None, 4L), // per-g1 subtotals
      (None, None, 7L))) // grand total
    // cube adds the per-g2 slice: 3 leaves + 2 g1 + 2 g2 + 1 total
    val cubeRows = Model.fromDF(df)
      .cube(groups = Seq(col("g1"), col("g2")),
        measures = Seq(sum(col("v")).named("s")))
      .run(s).collect()
    assert(cubeRows.length === 8)
  }

  test("groupingSets computes exactly the requested sets") {
    val s = spark
    import s.implicits._
    val df = Seq(("a", "x", 1L), ("a", "y", 2L), ("b", "x", 4L)).toDF("g1", "g2", "v")
    val out = Model.fromDF(df)
      .groupingSets(groups = Seq(col("g1"), col("g2")),
        sets = Seq(Seq(0, 1), Seq(1), Seq.empty),
        measures = Seq(sum(col("v")).named("s")))
      .run(s).collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)), r.getLong(2)))
      .toSet
    assert(out === Set(
      (Some("a"), Some("x"), 1L), (Some("a"), Some("y"), 2L),
      (Some("b"), Some("x"), 4L),             // (g1, g2) leaves
      (None, Some("x"), 5L), (None, Some("y"), 2L), // per-g2 slice (no g1 level!)
      (None, None, 7L)))                      // grand total
  }

  test("withWindow rank family: ties, buckets, first/last over running frame") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, 10.0, "v"), (2L, 10.0, "p"), (3L, 5.0, "v"), (4L, 1.0, "p"))
      .toDF("id", "score", "t")
    val out = Model.fromDF(df)
      .withWindow(
        partitionBy = Seq(lit(1)),
        orderBy = Seq(graft.ir.SortKey(col("score"), asc = false),
          graft.ir.SortKey(col("id"))),
        cols = Seq(
          graft.ir.Source.WinCol("rnk", "rank", None),
          graft.ir.Source.WinCol("drnk", "dense_rank", None),
          graft.ir.Source.WinCol("prnk", "percent_rank", None),
          graft.ir.Source.WinCol("cd", "cume_dist", None),
          graft.ir.Source.WinCol("pair", "ntile", None, frame = 2),
          graft.ir.Source.WinCol("best", "first_value", Some(col("score"))),
          graft.ir.Source.WinCol("last_p", "last_value",
            Some(cases(Seq((col("t") === lit("p"), col("id"))), lit(null))))))
      .sort(col("id"))
      .run(s).collect()
      .map(r => (r.getLong(0), r.getAs[Int]("rnk"), r.getAs[Int]("drnk"),
        r.getAs[Double]("prnk"), r.getAs[Double]("cd"), r.getAs[Int]("pair"),
        r.getAs[Double]("best"), Option(r.getAs[Any]("last_p"))))
    // order (score desc, id): ids 1,2,3,4. The (score,id) order is total,
    // so rank == row_number here; dense_rank/percent_rank/cume_dist reflect
    // the same unique ordering; ntile(2) splits 2/2; first_value is the
    // running best (10.0 everywhere); last_p carries the latest 'p' id.
    assert(out.toSeq === Seq(
      (1L, 1, 1, 0.0, 0.25, 1, 10.0, None),
      (2L, 2, 2, 1.0 / 3, 0.5, 1, 10.0, Some(2L)),
      (3L, 3, 3, 2.0 / 3, 0.75, 2, 10.0, Some(2L)),
      (4L, 4, 4, 1.0, 1.0, 2, 10.0, Some(4L))))
  }

  test("semi/anti joins have EXISTS semantics: null keys never match") {
    val s = spark
    import s.implicits._
    val left = Seq((Some(1L), "m"), (Some(2L), "n"), (None: Option[Long], "z"))
      .toDF("k", "tag")
    val right = Seq(Tuple1(1L)).toDF("rk")
    def names(m: Model) = m.sort(col("tag")).run(s).collect().map(_.getString(1)).toSeq
    assert(names(Model.fromDF(left)
      .semiJoin(Model.fromDF(right), Seq((col("k"), col("rk"))))) === Seq("m"))
    // NOT EXISTS keeps the null-key row (a NULL key matches nothing) —
    // the deliberate divergence from NOT IN semantics
    assert(names(Model.fromDF(left)
      .antiJoin(Model.fromDF(right), Seq((col("k"), col("rk"))))) === Seq("n", "z"))
  }

  test("withWindow: lag/running/moving columns share one window spec") {
    val s = spark
    import s.implicits._
    import graft.ir.{SortKey, Source}
    val df = Seq(
      (1L, 1, 10L), (1L, 2, 20L), (1L, 3, 30L), (2L, 1, 5L),
    ).toDF("k", "seq", "v")
    val out = Model.fromDF(df)
      .withWindow(
        partitionBy = Seq(col("k")),
        orderBy = Seq(SortKey(col("seq"))),
        cols = Seq(
          Source.WinCol("rn", "row_number", None),
          Source.WinCol("prev_v", "lag", Some(col("v"))),
          Source.WinCol("next_v", "lead", Some(col("v"))),
          Source.WinCol("run_v", "running_sum", Some(col("v"))),
          Source.WinCol("avg2", "moving_avg", Some(col("v")), frame = 2)))
      .sort(col("k")).sort(col("seq"))
      .run(s).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Int]("seq"), r.getAs[Int]("rn"),
        Option(r.getAs[Any]("prev_v")).map(_.asInstanceOf[Long]),
        Option(r.getAs[Any]("next_v")).map(_.asInstanceOf[Long]),
        r.getAs[Long]("run_v"), r.getAs[Double]("avg2")))
    assert(out.toSeq === Seq(
      (1L, 1, 1, None, Some(20L), 10L, 10.0),
      (1L, 2, 2, Some(10L), Some(30L), 30L, 15.0),
      (1L, 3, 3, Some(20L), None, 60L, 25.0),
      (2L, 1, 1, None, None, 5L, 5.0)))
  }

  test("asofJoin: latest right row wins, seq breaks ties, strict excludes equal ts") {
    val s = spark
    import s.implicits._
    def t(x: String) = Timestamp.valueOf(s"2024-01-01 $x")
    val left = Seq(
      (1L, "a", t("10:00:00")), (2L, "a", t("11:00:00")), (3L, "b", t("09:00:00")),
    ).toDF("id", "k", "ts")
    val right = Seq(
      ("a", t("10:00:00"), 1L, "r1"),
      ("a", t("10:00:00"), 2L, "r2"), // same ts: higher seq must win
      ("a", t("10:30:00"), 3L, "r3"),
    ).toDF("k", "ts", "seq", "v")
    def run(strict: Boolean) = Model.fromDF(left)
      .asofJoin(Model.fromDF(right),
        on = (col("k"), col("k")), ts = (col("ts"), col("ts")),
        pick = Seq(col("v").named("rv")), seq = col("seq"), strict = strict)
      .sort(col("id"))
      .run(s).collect()
      .map(r => (r.getLong(0), Option(r.getAs[String]("rv"))))
    // inclusive: the equal-ts right rows are eligible, r2 (seq 2) wins
    assert(run(strict = false).toSeq ===
      Seq((1L, Some("r2")), (2L, Some("r3")), (3L, None)))
    // strict: equal-ts rows excluded → event 1 has no prior order
    assert(run(strict = true).toSeq ===
      Seq((1L, None), (2L, Some("r3")), (3L, None)))
    // the right-side key prune never changes results — it only drops
    // right rows that could not match any left key
    val pruned = Model.fromDF(left)
      .asofJoin(Model.fromDF(right),
        on = (col("k"), col("k")), ts = (col("ts"), col("ts")),
        pick = Seq(col("v").named("rv")), seq = col("seq"), pruneRight = true)
      .sort(col("id"))
      .run(s).collect()
      .map(r => (r.getLong(0), Option(r.getAs[String]("rv"))))
    assert(pruned.toSeq === run(strict = false).toSeq)
  }

  test("rangeJoin: [lo, hi) boundary semantics, keys, and explicit buckets") {
    val s = spark
    import s.implicits._
    def t(x: String) = Timestamp.valueOf(s"2024-01-01 $x")
    val left = Seq(
      (1L, "a", t("10:00:00")), // == lo → included
      (2L, "a", t("11:59:59")), // inside
      (3L, "a", t("12:00:00")), // == hi → excluded
      (4L, "b", t("10:30:00")), // key mismatch vs window w1
      (5L, "a", null.asInstanceOf[Timestamp]), // null point drops
    ).toDF("id", "k", "ts")
    val right = Seq(
      ("a", t("10:00:00"), t("12:00:00"), "w1"),
      ("b", t("09:00:00"), t("10:00:00"), "w2"), // 4's ts after this window
      ("a", null.asInstanceOf[Timestamp], t("12:00:00"), "w3"), // null lo drops
      ("a", t("13:00:00"), t("13:00:00"), "w4"), // empty interval drops
    ).toDF("k", "lo", "hi", "w")
    def run(bucketMicros: Long) = Model.fromDF(left)
      .rangeJoin(Model.fromDF(right),
        point = col("ts"), between = (col("lo"), col("hi")),
        pick = Seq(col("w").named("win")),
        on = (col("k"), col("k")), bucketMicros = bucketMicros)
      .sort(col("id"))
      .run(s).collect().map(r => (r.getLong(0), r.getAs[String]("win"))).toSeq
    val expect = Seq((1L, "w1"), (2L, "w1"))
    assert(run(0L) === expect) // auto width (widest interval)
    // explicit width far below the interval span: many buckets per
    // interval, identical results (bucketing is an impl detail)
    assert(run(60L * 1000000L) === expect)
    // width far above: one bucket holds everything, still identical
    assert(run(365L * 86400L * 1000000L) === expect)
    // keyless form: window w2 (key-free) now matches id=4 by time alone
    val keyless = Model.fromDF(left.where("ts IS NOT NULL"))
      .rangeJoin(Model.fromDF(right.where("w = 'w2'")),
        point = col("ts"), between = (col("lo"), col("hi")),
        pick = Seq(col("w").named("win")))
      .run(s).collect().map(r => (r.getLong(0), r.getAs[String]("win"))).toSeq
    assert(keyless === Seq.empty) // 09:00–10:00 holds no left point ≥ lo, < hi
    val keyless2 = Model.fromDF(left.where("ts IS NOT NULL"))
      .rangeJoin(Model.fromDF(right.where("w = 'w1'")),
        point = col("ts"), between = (col("lo"), col("hi")),
        pick = Seq(col("w").named("win")))
      .sort(col("id"))
      .run(s).collect().map(r => (r.getLong(0), r.getAs[String]("win"))).toSeq
    assert(keyless2 === Seq((1L, "w1"), (2L, "w1"), (4L, "w1"))) // no key gate
    // amplification guard: a caller width exploding one interval into
    // > 4096 buckets fails LOUDLY at execution (1 µs over a 2 h window
    // would be 7.2e9 rows per interval — a scale defect, not a tuning)
    val boom = intercept[Exception] { run(1L) }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(boom).exists(_.contains("buckets")), s"wrong error: $boom")
    // auto width builds a fully-lazy plan: constructing and explaining it
    // runs ZERO Spark jobs (the width probe is a cross-joined 1-row agg,
    // not a driver head())
    val sc2 = s.sparkContext
    val before = sc2.statusTracker.getJobIdsForGroup(null).length
    val planned = Model.fromDF(left)
      .rangeJoin(Model.fromDF(right),
        point = col("ts"), between = (col("lo"), col("hi")),
        pick = Seq(col("w").named("win")), on = (col("k"), col("k")))
      .run(s) // builds the DataFrame — no action yet
    planned.queryExecution.executedPlan // force full planning
    val after = sc2.statusTracker.getJobIdsForGroup(null).length
    assert(after === before, "rangeJoin planning triggered a Spark job")
  }

  test("percentile measure interpolates like quantile_cont") {
    val s = spark
    import s.implicits._
    val df = Seq(1.0, 2.0, 3.0, 4.0).toDF("x")
    val out = Model.fromDF(df)
      .aggregate(measures = Seq(
        median(col("x")).named("med"),
        percentile(col("x"), 0.25).named("q1")))
      .run(s).collect().head
    assert(out.getDouble(0) === 2.5) // (2+3)/2
    assert(out.getDouble(1) === 1.75) // 1 + 0.75 * (2-1)
  }

  test("approx_percentile lowers to the bounded-memory sketch aggregate") {
    val s = spark
    import s.implicits._
    val df = (1 to 1000).map(_.toDouble).toDF("x")
    val m = Model.fromDF(df)
      .aggregate(measures = Seq(
        approxPercentile(col("x"), 0.5, 1000).named("p50")))
    // plan-shape gate (values are rank-approximate, so no oracle hash):
    // the physical aggregate must be the QuantileSummaries sketch, not
    // the exact sort-based percentile with its per-group value buffer
    val plan = m.run(s).queryExecution.executedPlan.toString
    assert(plan.contains("approx_percentile"))
    // no EXACT percentile aggregate anywhere ("percentile(" alone would
    // also match inside "approx_percentile(")
    assert(!"(?<!approx_)percentile\\(".r.findFirstIn(plan).isDefined, plan)
    // sketch with eps*n = 1 on a dense 1..1000 sequence: rank error < 1,
    // so the returned element is within one neighbor of the true median
    val v = m.run(s).collect().head.getDouble(0)
    assert(v >= 499.0 && v <= 501.0, s"p50=$v")
  }

  test("approx_count_distinct lowers to the HLL++ sketch, not exact distinct") {
    val s = spark
    import s.implicits._
    // 10000 rows over 1000 distinct keys, grouped into 2 groups
    val df = (0 until 10000).map(i => (i % 2, i % 1000)).toDF("g", "k")
    val m = Model.fromDF(df)
      .withAttributes(col("g").named("g"))
      .aggregate(
        measures = Seq(approxCountDistinct(col("k"), 0.02).named("nk")),
        groups = Seq(col("g").named("g")))
    val run = m.run(s)
    val plan = run.queryExecution.executedPlan.toString
    // plan-shape gate: the HLL sketch aggregate, and NOT the exact
    // distinct's expanded two-phase count(distinct …)
    assert(plan.contains("approx_count_distinct"))
    assert(!plan.contains("count(distinct"), plan)
    // rsd=0.02 on 500 true distincts per group: allow 5 sigma
    for (r <- run.collect()) {
      val v = r.getLong(1).toDouble
      assert(math.abs(v - 500.0) <= 50.0, s"group ${r.get(0)}: $v")
    }
  }

  test("strict attribute lookup throws on typos when attrs are declared") {
    val s = spark
    import s.implicits._
    val m = Model.fromDF(Seq(1L).toDF("id"))
      .withAttributes(col("id").named("ident"))
    intercept[NoSuchElementException] { m.attr("identt") }
    assert(m.attr("ident") !== null)
  }

  test("bucketed tables join and aggregate with ZERO shuffle exchanges") {
    // The co-located-join layout (ParquetIO.writeBucketed): both sides
    // bucketed on the join key with equal bucket counts — the scan's
    // hash layout satisfies the join distribution and the per-bucket
    // sort satisfies the merge ordering, so the plan carries no
    // ShuffleExchange at all. The 100 TB payoff: the fact table's
    // shuffle is paid once at ingest, not on every query.
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def flatten(p: SparkPlan): Seq[SparkPlan] =
      p +: (p.children ++ (p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case w: WholeStageCodegenExec => Seq(w.child)
        case _ => Seq.empty
      })).flatMap(flatten)
    def shuffles(df: org.apache.spark.sql.DataFrame): Int =
      flatten(df.queryExecution.executedPlan)
        .count(_.isInstanceOf[ShuffleExchangeExec])

    val s = spark
    val dir = "/root/testdata/sf0.001"
    val orders = s.read.parquet(s"$dir/orders.parquet")
    val lineitem = s.read.parquet(s"$dir/lineitem.parquet")
    graft.sources.ParquetIO.writeBucketed(
      orders, "orders_b", "/tmp/graft_buckets/orders", "o_orderkey", 4)
    graft.sources.ParquetIO.writeBucketed(
      lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
      "lineitem_b", "/tmp/graft_buckets/lineitem", "o_orderkey", 4)
    val prevThresh = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = s.table("orders_b")
        .join(s.table("lineitem_b"), "o_orderkey")
        .groupBy("o_orderkey")
        .agg(org.apache.spark.sql.functions.sum("l_quantity").as("qty"))
      assert(shuffles(joined) === 0,
        s"bucketed join+agg should plan zero exchanges:\n${joined.queryExecution.executedPlan}")
      // and the layout changes only the plan, never the values
      val viaBuckets = joined.collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toMap
      val direct = orders
        .join(lineitem.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey")
        .groupBy("o_orderkey")
        .agg(org.apache.spark.sql.functions.sum("l_quantity").as("qty"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
      assert(viaBuckets === direct && direct.nonEmpty)
      // the unbucketed formulation of the same query pays exchanges —
      // the layout is what removed them
      assert(shuffles(orders
        .join(lineitem.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey")
        .groupBy("o_orderkey")
        .agg(org.apache.spark.sql.functions.sum("l_quantity"))) > 0)
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      s.sql("DROP TABLE IF EXISTS orders_b")
      s.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("model.sql() renders an executable join-chain query that matches run()") {
    val s = spark
    import s.implicits._
    Seq(("p1", 10.0), ("p2", 20.0)).toDF("id", "price")
      .createOrReplaceTempView("msql_products")
    Seq(("s1", "p1", 2L), ("s2", "p2", 1L), ("s3", "zz", 5L), ("s4", "p1", 3L))
      .toDF("sale", "product_id", "qty")
      .createOrReplaceTempView("msql_sales")
    val products = Model.table("msql_products").withPrimaryKey(col("id"))
    val base = Model.table("msql_sales")
      .withJoinOne(products, named = "product", foreignKey = col("product_id"))
    val model = base
      .filter(col("qty") > lit(0L))
      .aggregate(
        groups = Seq(base.rel("product").attr("price").named("price")),
        measures = Seq(sum(col("qty")).named("total_qty")))
      .sort(col("price"), nulls = "last")
      .limit(2)
    // stable: rendering is a pure function of the IR
    val text = model.sql(s)
    assert(text === model.sql(s))
    // executable, and value-identical to the DataFrame lowering
    val viaSql = s.sql(text)
    val viaRun = model.run(s)
    assert(viaSql.columns.toSeq === viaRun.columns.toSeq)
    assert(viaSql.collect().map(r => (r.get(0), r.get(1))).toSeq ===
      viaRun.collect().map(r => (r.get(0), r.get(1))).toSeq)
    // nodes outside the relational subset refuse honestly instead of
    // rendering something wrong
    intercept[UnsupportedOperationException] {
      Model.table("msql_sales").native(df => df).sql(s)
    }
  }

  test("model.sql() handles qualified names, stacked limits and raw-SQL limits") {
    val s = spark
    import s.implicits._
    // qualified table name: run() resolves `global_temp.v` via
    // spark.table; the rendering must backtick each PART, not the whole
    // dotted name as one identifier
    Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e"))
      .toDF("id", "tag").createOrReplaceGlobalTempView("msql_q")
    def eval(m: Model): (Seq[org.apache.spark.sql.Row], Seq[org.apache.spark.sql.Row]) = {
      val text = m.sql(s)
      (s.sql(text).collect().toSeq, m.run(s).collect().toSeq)
    }
    val qualified = Model.table("global_temp.msql_q").sort(col("id"))
    val (viaSql, viaRun) = eval(qualified)
    assert(viaSql === viaRun && viaRun.size === 5)
    // stacked limits fold: sort.limit(4, offset 1).limit(2, offset 1) =
    // rows with id 3, 4 under both engines (offsets sum, counts clamp)
    val stacked = qualified.limit(4, 1).limit(2, 1)
    val (sq, sr) = eval(stacked)
    assert(sq === sr && sr.map(_.getLong(0)) === Seq(3L, 4L))
    // limit OVER a raw SQL query already ending in LIMIT: subselect wrap
    // (a bare append would render the unparseable "LIMIT 3 LIMIT 2")
    val raw = Model.sqlQuery(
      "SELECT * FROM global_temp.msql_q ORDER BY id LIMIT 3").limit(2)
    val (rq, rr) = eval(raw)
    assert(rq.size === 2 && rr.size === 2)
    // ...while a raw query WITHOUT a limit still gets the plain append
    // (ORDER BY stays attached to the new LIMIT)
    val rawSorted = Model.sqlQuery(
      "SELECT * FROM global_temp.msql_q ORDER BY id DESC").limit(2)
    val (oq, or0) = eval(rawSorted)
    assert(oq === or0 && oq.map(_.getLong(0)) === Seq(5L, 4L))
  }

  test("model.sql() renders fold, topK and withWindow byte-identically to run()") {
    val s = spark
    import s.implicits._
    Seq((1L, "x", 10.0, 1.0), (2L, "x", 30.0, 2.0),
        (3L, "y", 20.0, 3.0), (4L, "y", 40.0, 4.0),
        (5L, "x", 25.0, 5.0))
      .toDF("id", "grp", "amt", "seq").createOrReplaceTempView("msql_w")
    def check(m: Model): Unit = {
      val text = m.sql(s)
      val viaSql = s.sql(text)
      val viaRun = m.run(s)
      assert(viaSql.columns.toSeq === viaRun.columns.toSeq, text)
      assert(viaSql.collect().toSeq === viaRun.collect().toSeq, text)
    }
    val base = Model.table("msql_w")
    // fold: unpivot two value columns, NULLs retained, then sort for a
    // deterministic compare
    check(base
      .fold(ids = Seq(col("id")), values = Seq(col("amt"), col("seq")))
      .sort(col("id")).sort(col("key")))
    // topK: per-group top-2 by amt desc with the rank exposed
    check(base
      .topK(partitionBy = Seq(col("grp")),
        orderBy = Seq(graft.ir.SortKey(col("amt"), asc = false),
          graft.ir.SortKey(col("id"))),
        k = 2, rankName = "rk")
      .sort(col("grp")).sort(col("rk")))
    // withWindow: one of each frame family — rank, lag, running sum,
    // moving avg, last_value — over a shared (grp, seq) spec
    check(base
      .withWindow(
        partitionBy = Seq(col("grp")),
        orderBy = Seq(graft.ir.SortKey(col("seq"))),
        cols = Seq(
          graft.ir.Source.WinCol("rn", "row_number", None),
          graft.ir.Source.WinCol("prev_amt", "lag", Some(col("amt"))),
          graft.ir.Source.WinCol("run_sum", "running_sum", Some(col("amt"))),
          graft.ir.Source.WinCol("mov2", "moving_avg", Some(col("amt")),
            frame = 2L),
          graft.ir.Source.WinCol("latest", "last_value", Some(col("amt")))))
      .sort(col("id")))
    // every window kind, over a nullable order key placed DESC NULLS
    // FIRST and a nullable target (lag/lead/last_value see the NULLs)
    Seq[(Long, String, Option[Double], Option[Double])](
        (1L, "x", Some(10.0), Some(1.0)), (2L, "x", None, Some(2.0)),
        (3L, "y", Some(20.0), None), (4L, "y", Some(40.0), Some(4.0)),
        (5L, "x", Some(25.0), None), (6L, "y", None, Some(6.0)),
        (7L, "x", Some(5.0), Some(2.0)))
      .toDF("id", "grp", "amt", "seq").createOrReplaceTempView("msql_n")
    val nullable = Model.table("msql_n")
    val kinds = Seq("row_number", "rank", "dense_rank", "percent_rank",
      "cume_dist", "ntile", "lag", "lead", "first_value", "last_value",
      "running_sum", "running_min", "running_max", "moving_sum", "moving_avg")
    assert(graft.ir.Source.WinKind.all.map(_.name).sorted === kinds.sorted)
    check(nullable
      .withWindow(
        partitionBy = Seq(col("grp")),
        orderBy = Seq(graft.ir.SortKey(col("seq"), asc = false, nulls = "first"),
          graft.ir.SortKey(col("id"))),
        cols = kinds.map { k =>
          val targetless = Set("row_number", "rank", "dense_rank",
            "percent_rank", "cume_dist", "ntile")
          graft.ir.Source.WinCol(s"w_$k", k,
            if (targetless(k)) None else Some(col("amt")), frame = 2L)
        })
      .sort(col("id")))
    // every (direction × nulls) ORDER BY, then a topK ranked NULLS LAST
    for (dir <- Seq("asc", "desc"); nulls <- Seq("auto", "first", "last"))
      check(nullable.sort(col("seq"), dir, nulls).sort(col("id")))
    check(nullable
      .topK(partitionBy = Seq(col("grp")),
        orderBy = Seq(graft.ir.SortKey(col("seq"), nulls = "last"),
          graft.ir.SortKey(col("id"))),
        k = 2, rankName = "rk")
      .sort(col("grp")).sort(col("rk")))
    // the kind table and the null-placement rule refuse with one message
    val unknown = intercept[IllegalArgumentException] {
      nullable.withWindow(Seq(col("grp")), Seq(graft.ir.SortKey(col("id"))),
        Seq(graft.ir.Source.WinCol("m", "median", Some(col("amt")))))
    }
    assert(unknown.getMessage === "unknown window kind 'median'; one of: " +
      kinds.sorted.mkString(", "))
    val badNulls = intercept[IllegalArgumentException] {
      nullable.sort(col("seq"), nulls = "middle").sql(s)
    }
    assert(badNulls.getMessage === "bad nulls: middle")
    // match_steps-backed composites still refuse honestly
    intercept[UnsupportedOperationException] {
      Model.table("msql_w").native(df => df).sql(s)
    }
  }
}
