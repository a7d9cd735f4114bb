package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.types.StructType

/** Driver-contract smoke: entry() answers on sf0.001 (the t1 gate). */
class EntrySpec extends GraftSuite {
  /** Every query's output schema and physical plan on `dir`, planned
    * ONCE and shared by the whole-suite lints below; each query's cached
    * frames are released as soon as it has planned. */
  private val plannedOn =
    scala.collection.mutable.Map[String, Seq[(String, StructType, SparkPlan)]]()
  private def planned(dir: String): Seq[(String, StructType, SparkPlan)] =
    plannedOn.getOrElseUpdate(dir,
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, q) =>
        try {
          val df = q(spark, dir)
          (name, df.schema, df.queryExecution.executedPlan)
        }
        catch { case e: Throwable => fail(s"$name failed to plan: ${e.getMessage}") }
        finally llm.CacheScope.global.release()
      })

  test("entry returns rows on sf0.001") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
  }

  test("every query has an oracle and every oracle has a query") {
    assert(SparkEntry.oracleSql.keySet === SparkEntry.queries.keySet)
  }

  test("the op registry rejects a repeated op name") {
    val q: (SparkSession, String) => DataFrame = (s, _) => s.range(1).toDF()
    val e = intercept[IllegalArgumentException](ops.Op.index(Seq(
      ops.Op("q_a", q, "SELECT 1"), ops.Op("q_b", q, "SELECT 1"),
      ops.Op("q_a", q, "SELECT 2"))))
    assert(e.getMessage.contains("q_a"))
  }

  test("an op builds its oracle only when asked, and only once") {
    var built = 0
    val op = ops.Op("q_a", (s, _) => s.range(1).toDF(),
      { built += 1; "SELECT 1" })
    ops.Op.index(Seq(op))
    assert(built === 0)
    assert(op.oracle === "SELECT 1" && op.oracle === "SELECT 1")
    assert(built === 1)
  }

  /** Every file under `root` with its text, sorted by path. Tests fork
    * with the checkout as cwd. */
  private def sources(root: String): List[(String, String)] = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try files.iterator.asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(p => (p.toString,
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8")))
      .toList.sortBy(_._1)
    finally files.close()
  }

  /** The files under `root` whose text satisfies `bad`, sorted. */
  private def sourcesWhere(root: String)(bad: String => Boolean): List[String] =
    sources(root).collect { case (path, text) if bad(text) => path }

  test("source lint: no file under src/ names the checkout's own path in a literal") {
    // A literal path into the checkout (a fixture root, say) makes every
    // copy of the repo read and write the original's files; derive such
    // paths from the code location instead (Fixtures.root).
    val checkout = new java.io.File(".").getCanonicalPath
    val offenders = sourcesWhere("src")(_.contains("\"" + checkout))
    assert(offenders.isEmpty,
      s"files with a \"$checkout... literal: ${offenders.mkString(", ")}")
  }

  test("source lint: no file under src/main reads a centroid table with a bare read.parquet") {
    // A schemaless read runs a schema-inference job on every call; the
    // IVF serves read `centroids` through ParquetIO.read
    // (Embeddings.storedCentroids), and the refits, hot-cell splits and
    // ScaleCheck read `postings` back the same way, as do the KN model's
    // `level<k>`, `ctx<k>` and `tot1` tables, the PageRank artifact's
    // `edges` and `ranks`, the BPE model's `rules` and the substring
    // index's `hot` grams, each resolved once per version.
    val bare = ("read\\.parquet\\(s\"\\$[^\"]*/" +
      "(centroids|postings|level[^\"/]*|ctx[^\"/]*|tot1|edges|ranks|rules|hot)\"\\)").r
    val offenders = sourcesWhere("src/main")(bare.findFirstIn(_).isDefined)
    assert(offenders.isEmpty,
      s"bare read.parquet of a stored model table: ${offenders.mkString(", ")}")
  }

  /** Fails when any of `formulations` occurs more than once, summed
    * over the files under `roots`. */
  private def assertWrittenOnce(roots: Seq[String], formulations: Seq[String]): Unit =
    assertMatchedOnce(roots, formulations.map(f => java.util.regex.Pattern.quote(f).r))

  /** [[assertWrittenOnce]] for formulations given as regexes. */
  private def assertMatchedOnce(roots: Seq[String],
      patterns: Seq[scala.util.matching.Regex]): Unit = {
    val texts = roots.flatMap(sources)
    for (pattern <- patterns) {
      val hits = texts.map { case (path, text) =>
        (path, pattern.findAllMatchIn(text).size)
      }.filter(_._2 > 0)
      assert(hits.map(_._2).sum <= 1,
        s"$pattern written ${hits.map(_._2).sum} times: ${hits.mkString(", ")}")
    }
  }

  test("source lint: each near-dup band formulation is written once under graft.llm and graft.streaming") {
    // MinHash banding (Dedup.bandRows), the perceptual band explode
    // (Multimodal.hashBands) and the popcount verify (Multimodal.hamming)
    // each have one builder that the batch joins and the streaming gates
    // share; a second copy is a fork that can drift from the oracles the
    // first one replays.
    assertWrittenOnce(
      Seq("src/main/scala/graft/llm", "src/main/scala/graft/streaming"),
      Seq("bit_count(x ^ y)", "minhash_sig_words(", "posexplode(col(\"dhash\"))"))
  }

  test("source lint: the media decoders write their GIF block walk, LZW decoder and spectral DFT once") {
    // Every GIF consumer reads its frames through Multimodal.walkGif and
    // gifRaster, and both spectral hashes run Multimodal.spectralBits; a
    // second walk or decoder is a fork whose bounds checks can drift.
    // The payload ops map rows one at a time, so batching by a size
    // that no codec consumes is refused outright.
    assertWrittenOnce(Seq("src/main/scala/graft/llm"),
      Seq("case 0x2c =>", "val clear = 1 << minCode", "SpectralCos(b)"))
    val batched = sourcesWhere("src/main")(_.contains("grouped(batchSize)"))
    assert(batched.isEmpty, s"grouped(batchSize) in ${batched.mkString(", ")}")
  }

  test("source lint: the PQ serves write their codebook fold, ADC lookup, driver pin and SQ8 cosine once") {
    // Every PQ encode and serve reads one pinned codebook frame
    // (Embeddings.pinCodebooks, through the one Embeddings.pin), folds
    // it once (codebookRow) and scores with one adcScore; the SQ8 serves
    // share sq8Cosine. A second copy is an inline/persisted fork whose
    // scores can drift apart.
    assertWrittenOnce(Seq("src/main/scala/graft/llm"),
      Seq("map_from_entries(collect_list(struct(col(\"__s__\")",
        "element_at(element_at(__tabs__", "vec_sq8_norm2(__code__"))
    assertMatchedOnce(Seq("src/main/scala/graft/llm"),
      Seq("createDataFrame\\([^\\n]*\\.collect\\(\\)".r))
  }

  test("source lint: the LM scorers write their level step, order check and gram explode once") {
    // Every KN and Stupid Backoff score runs through LangModel's one
    // order-N chain: lowerLevel derives each level (the fit, the delta
    // maintenance and both scorers), knGramsOf explodes the grams and
    // requireOrder checks the order. A second copy is a per-order fork
    // whose scores can drift from the generated oracles.
    assertWrittenOnce(Seq("src/main/scala/graft/llm"),
      Seq("substring_index(col(\"g\"), \" \", -k)",
        "require(order >= 2 && order <= 8",
        "explode(TextOps.wordShingles("))
  }

  test("source lint: the semantic layer writes its null placement, window kinds, sub-model closure and join-one rename once") {
    // SortKey.nullsFirst resolves every ORDER BY key, Source.WinKind is
    // the one window-kind table, Compiler.compileClosed attaches a
    // sub-model's pending joins and Compiler.isNsCol recognizes a
    // namespaced column; the lowering, the model.sql() renderer, Model's
    // checks and the wire codec all read them. A second copy is a fork
    // whose rule can drift between run() and model.sql().
    assertWrittenOnce(
      Seq("compile", "model", "wire", "ir").map(d => s"src/main/scala/graft/$d"),
      Seq("\"bad nulls", "\"running_sum\"", "pending.keys.toSeq.foreach",
        "startsWith(\"__ns_\")"))
  }

  test("source lint: the codegen cache size key is written once under src/main") {
    // GraftExtensions.codegenCache is the one pair that the extension and
    // SessionTuning.session both set; a second literal is a second size
    // that can drift from the first.
    val key = "spark.sql.codegen.cache.maxEntries"
    val hits = sources("src/main").flatMap { case (path, text) =>
      java.util.regex.Pattern.quote(key).r.findAllMatchIn(text).map(_ => path)
    }
    assert(hits.size === 1, s"$key written ${hits.size} times: ${hits.mkString(", ")}")
  }

  test("a graft session prints graft's own INFO lines and only Spark's errors") {
    // SessionTuning sets Spark to ERROR; clusterPairs' decision line
    // (INFO) and its non-convergence warning must still reach the log
    SessionTuning.session("4")
    val log = org.slf4j.LoggerFactory.getLogger(_: String)
    assert(log("graft.llm.Dedup$").isInfoEnabled)
    assert(!log("org.apache.spark.scheduler.DAGScheduler").isWarnEnabled)
  }

  test("plan lint: no cartesian product in any query's physical plan") {
    // Whole-suite guard: a CartesianProductExec anywhere means a join lost
    // its equi-condition (or a non-broadcastable nested loop slipped in) —
    // the single worst 100TB failure mode. BroadcastNestedLoopJoin is
    // allowed: every intentional crossJoin here broadcasts a 1-row/k-row
    // frame. Runs at sf0.001 (plan shape is SF-independent).
    val dir = "/root/testdata/sf0.001"
    val offenders = planned(dir).collect {
      case (name, _, plan) if plan.toString.contains("CartesianProduct") => name
    }
    assert(offenders.isEmpty,
      s"queries with cartesian products: ${offenders.mkString(", ")}")
  }

  test("plan lint: row filters reach the parquet scan as PushedFilters") {
    // Pushdown gate on a representative per-family sample: each of these
    // queries filters rows of a parquet table, so its formatted plan must
    // carry a NON-EMPTY PushedFilters on some scan — a refactor that
    // hides the predicate behind a non-pushable expression (cast, udf
    // wrapper, pre-projection) silently turns a pruned scan into a full
    // one at 100 TB. (Formatted mode prints the scan detail section;
    // toString does not.)
    val dir = "/root/testdata/sf0.001"
    val sample = Seq("q_filter", "q_arith", "q_semantic_decontam",
      "q_corpus_drift", "q_dedup_lines", "q_join_one")
    val offenders = sample.filter { name =>
      val plan = SparkEntry.queries(name)(spark, dir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      !"PushedFilters: \\[[^\\]]".r.findFirstIn(plan).isDefined
    }
    llm.CacheScope.global.release()
    assert(offenders.isEmpty,
      s"queries whose filters never reached a scan: ${offenders.mkString(", ")}")
  }

  test("schema lint: every query output uses only oracle-stable column types") {
    // The driver hashes values TYPE-SENSITIVELY against a DuckDB replay of
    // the oracle SQL (pandas dtypes: int64 / float64 / object / bool /
    // datetime). A Spark output column of FloatType (parquet float32 reads
    // back as float32, oracle computes float64), DecimalType (object vs
    // float64), or Byte/Short (driver-side width drift) can hash-mismatch
    // even when every value is numerically equal — exactly the q_bpe_pairs
    // r8 failure class, from the Spark side. Ints, longs, doubles,
    // strings, bools, dates and timestamps are the proven-stable surface.
    import org.apache.spark.sql.types._
    def stable(dt: DataType): Boolean = dt match {
      case IntegerType | LongType | DoubleType | StringType | BooleanType |
           DateType | TimestampType | TimestampNTZType | BinaryType => true
      case ArrayType(et, _) => stable(et)
      case st: StructType => st.fields.forall(f => stable(f.dataType))
      case _ => false // Float, Decimal, Byte, Short, Map, CalendarInterval…
    }
    val dir = "/root/testdata/sf0.001"
    val offenders = planned(dir).flatMap { case (name, schema, _) =>
      schema.fields
        .filterNot(f => stable(f.dataType))
        .map(f => s"$name.${f.name}: ${f.dataType.simpleString}")
    }
    assert(offenders.isEmpty,
      s"oracle-unstable output columns: ${offenders.mkString(", ")}")
  }

  test("plan lint: every BroadcastNestedLoopJoin builds a 1-row or literal side") {
    // The no-cartesian lint deliberately allows BNLJ because every
    // intentional crossJoin in the suite broadcasts a 1-row parameter (or
    // a driver-pinned LocalRelation of model parameters). Nothing stopped
    // a future non-tiny BNLJ build side from slipping in — at 100 TB that
    // is a corpus × corpus nested loop. This walks each plan and proves
    // the BUILD side of every BNLJ is statically tiny: a zero-grouping
    // (global) aggregate = exactly 1 row, LIMIT 1, a LocalTableScan
    // (driver-literal rows), or a key-literal point filter (`id = 0` —
    // the ANN query-vector attach; bounded by one key's multiplicity).
    // Pass-through is a whitelist — row-expanding nodes like
    // Generate/Expand deliberately fail the check. The residual gap is a
    // non-selective equality filter (e.g. `lang = 'en'`) on a build side,
    // accepted here because a point filter is statically
    // indistinguishable from it; the lint's target — a whole-corpus
    // build side with no selective predicate at all — still fails.
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft

    def flatten(p: SparkPlan): Seq[SparkPlan] =
      p +: (p.children ++ (p match {
        case a: AdaptiveSparkPlanExec => Seq(a.inputPlan)
        case w: WholeStageCodegenExec => Seq(w.child)
        case _ => Seq.empty
      })).flatMap(flatten)

    import org.apache.spark.sql.catalyst.expressions.{EqualNullSafe, EqualTo, Literal => CatLit}
    def pointEq(c: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
      c.collectFirst {
        case EqualTo(_, _: CatLit) => (); case EqualTo(_: CatLit, _) => ()
        case EqualNullSafe(_, _: CatLit) => (); case EqualNullSafe(_: CatLit, _) => ()
      }.isDefined

    def oneRowish(p: SparkPlan): Boolean = p match {
      case a: BaseAggregateExec => a.groupingExpressions.isEmpty
      case g: GlobalLimitExec => g.limit <= 1
      case _: LocalTableScanExec => true // driver-literal (pinned params)
      case e: BroadcastExchangeExec => oneRowish(e.child)
      case r: ReusedExchangeExec => oneRowish(r.child)
      case w: WholeStageCodegenExec => oneRowish(w.child)
      case i: InputAdapter => oneRowish(i.child)
      case pr: ProjectExec => oneRowish(pr.child)
      case f: FilterExec => pointEq(f.condition) || oneRowish(f.child)
      case s: SortExec => oneRowish(s.child)
      case c: ColumnarToRowExec => oneRowish(c.child)
      // a parameter-attach of two tiny sides is itself tiny (the ADC
      // plans nest 1-row × 1-row attaches before broadcasting the result)
      case j: BroadcastNestedLoopJoinExec => oneRowish(j.left) && oneRowish(j.right)
      case _ => false
    }

    val dir = "/root/testdata/sf0.001"
    val offenders = planned(dir).flatMap { case (name, _, plan) =>
      flatten(plan).collect {
        case j: BroadcastNestedLoopJoinExec
            if !oneRowish(if (j.buildSide == BuildLeft) j.left else j.right) =>
          s"$name: ${j.nodeName} build side is not provably 1-row/literal"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("plan ratchet: no query's shuffle count exceeds its recorded budget") {
    // Shuffles are THE scale-determining plan property: a regression that
    // adds an exchange to a hot operator multiplies 100 TB of network.
    // This is a RATCHET against src/test/resources/shuffle_budget.json
    // (checked in; regenerate by deleting the file and re-running): a
    // query shuffling MORE than its recorded budget fails; one shuffling
    // less prints a reminder to tighten the budget. Counts come from the
    // pre-AQE physical plan (deterministic — AQE only coalesces/converts
    // at runtime) and stop at InMemoryTableScan leaves, so the metric is
    // stable run-to-run. New queries without a budget row fail until
    // recorded — adding an operator means consciously recording its cost.
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

    // NOTE: AdaptiveSparkPlanExec.inputPlan is pre-EnsureRequirements (no
    // exchanges yet); executedPlan before materialization is the INITIAL
    // plan, exchanges inserted but nothing runtime-re-planned — the
    // deterministic thing to budget.
    def flatten(p: SparkPlan): Seq[SparkPlan] =
      p +: (p.children ++ (p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case w: WholeStageCodegenExec => Seq(w.child)
        case _ => Seq.empty
      })).flatMap(flatten)

    val dir = "/root/testdata/sf0.001"
    val counts = planned(dir).map { case (name, _, plan) =>
      name -> flatten(plan).count(_.isInstanceOf[ShuffleExchangeExec])
    }
    val budgetFile = new java.io.File("src/test/resources/shuffle_budget.json")
    if (!budgetFile.exists()) {
      budgetFile.getParentFile.mkdirs()
      val json = counts.map { case (n, c) => s"""  "$n": $c""" }
        .mkString("{\n", ",\n", "\n}\n")
      java.nio.file.Files.write(budgetFile.toPath, json.getBytes("UTF-8"))
      info(s"recorded initial shuffle budgets to $budgetFile — commit it")
    } else {
      val txt = new String(java.nio.file.Files.readAllBytes(budgetFile.toPath), "UTF-8")
      val recorded = "\"([^\"]+)\":\\s*(\\d+)".r.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toInt).toMap
      val over = counts.collect {
        case (n, c) if recorded.get(n).exists(c > _) =>
          s"$n shuffles $c > budget ${recorded(n)}"
        case (n, _) if !recorded.contains(n) =>
          s"$n has no recorded shuffle budget (delete $budgetFile to regenerate)"
      }
      assert(over.isEmpty, over.mkString("\n"))
      counts.foreach { case (n, c) =>
        recorded.get(n).filter(c < _).foreach(b =>
          info(s"$n now shuffles $c < budget $b — tighten the budget"))
      }
    }
  }

  test("plan lint: semDedup's cell cap never windows over the skewed cell key") {
    // The cap exists to neutralize a HOT cell; a `count(*) OVER
    // (PARTITION BY __cell__)` funnels that exact cell through one task
    // before dropping it — a single-task straggler at 100×. The cap must
    // stay an aggregate count + broadcast semi-join (map-side combine,
    // √n-cell tiny build side), so no WindowExec in q_semdedup's plan may
    // partition by __cell__.
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def flatten(p: SparkPlan): Seq[SparkPlan] =
      p +: (p.children ++ (p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case w: WholeStageCodegenExec => Seq(w.child)
        case _ => Seq.empty
      })).flatMap(flatten)
    val dir = "/root/testdata/sf0.001"
    val plan = SparkEntry.queries("q_semdedup")(spark, dir)
      .queryExecution.executedPlan
    llm.CacheScope.global.release()
    val offenders = flatten(plan).collect {
      case w: WindowExec
          if w.partitionSpec.exists(_.references.exists(
            _.name.contains("__cell__"))) =>
        w.simpleStringWithNodeId()
    }
    assert(offenders.isEmpty,
      s"q_semdedup windows over __cell__: ${offenders.mkString("; ")}")
  }

  test("plan lint: ADC scoring never shuffle-joins the candidate set") {
    // The single-pass ADC design (Embeddings.adcTopK) scores candidates in
    // one projection against a 1-row broadcast — the old formulation's
    // m−1 SortMergeJoins of per-segment partials must never come back
    // (a production m=8..16 would shuffle the candidate set 7-15 times).
    val dir = "/root/testdata/sf0.001"
    Seq("q_ann_pq", "q_ann_ivfpq").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("SortMergeJoin"),
        s"$name plans a SortMergeJoin; ADC must stay broadcast-only")
    }
    llm.CacheScope.global.release()
  }

  test("plan lint: no row filter evaluates a tokenizer or a MinHash signature") {
    // A filter on a column that a projection below it aliases is pushed
    // through that projection, and Catalyst substitutes the aliased
    // expression at every reference: a `where(size(toks) >= n)` over a
    // tokenizing projection tokenizes each row once in the filter and
    // again in the projection (q_lm_kn planned 8 regexp_replace where 2
    // do the work). Per-row work of this weight runs once per row, so no
    // FilterExec anywhere in a query's plan, cached plans included, may
    // evaluate the NFC tokenizer or the MinHash signature.
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def flatten(p: SparkPlan): Seq[SparkPlan] =
      p +: (p.children ++ (p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
        case _ => Seq.empty
      })).flatMap(flatten)
    val heavy = Set("nfc_normalize", "minhash_sig_words")
    val dir = "/root/testdata/sf0.001"
    val offenders = planned(dir).flatMap { case (name, _, plan) =>
      flatten(plan).collect {
        case f: FilterExec
            if f.condition.exists(e => heavy.contains(e.prettyName)) =>
          s"$name: ${f.condition.sql}"
      }.distinct
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("an op that publishes a table serves a second call in the same session") {
    // q_dedup_takedown writes its takedown table on every call; a second
    // call that rewrote the first call's table under the same name served
    // a stale file listing (FILE_NOT_EXIST). Each call publishes a fresh
    // version, so both calls return the same rows.
    val dir = "/root/testdata/sf0.001"
    def run(): Seq[org.apache.spark.sql.Row] =
      SparkEntry.queries("q_dedup_takedown")(spark, dir).collect().toSeq
    val first = run()
    val second = run()
    llm.CacheScope.global.release()
    assert(first.nonEmpty && second === first)
  }
}
