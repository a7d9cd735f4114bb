package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.funcs._
import graft.ir.Expr._
import graft.model.Model

/** Driver contract — see SURVEY.md §7.
  * Each `queries` entry exercises one operator from SURVEY.md §2 through the
  * graft Model API; `oracleSql` holds the DuckDB-equivalent ANSI SQL the
  * driver checks against at sf0.01. Every persisted artifact a query
  * serves from is memoized through [[Fixtures]].
  */
object SparkEntry {

  /** Per-JVM version counter for q_dedup_promote's maintenance loop:
    * each call must publish NEW version names (re-using one would
    * overwrite files a cached relation still references). */
  private val promoteSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  private def m(dir: String, table: String): Model = Model.parquet(dir, table)

  /** MULTI-SHARD gzipped-WARC fixture of linked HTML pages, shared by
    * q_pagerank_links / q_hits_links: each doc links to
    * srcs[(doc_id·7 + j·13) mod nSrc] for j ≤ doc_id mod 4 (alternating
    * quote styles) plus relative/javascript noise anchors the extractor
    * must ignore. Written as 8 shards (docs round-robin by id) read back
    * through the glob path — the reader's one-task-per-shard parallelism
    * is exercised, not just its record walk (a single-shard fixture
    * serializes extraction behind one task). */
  private def linksWarcGlob(s: SparkSession, dir: String): String =
    Fixtures.files("links", dir, "*.warc.gz") { tmp =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "source")
      // fixture-only driver collects: 20 sources, |docs| rows
      val srcs = docs.select("source").distinct()
        .collect().map(_.getString(0)).sorted
      val nSrc = srcs.length
      val rows = docs.collect().sortBy(_.getLong(0)).map { r =>
        val id = r.getLong(0); val src = r.getString(1)
        val anchors = (1L to (id % 4)).map { j =>
          val dst = srcs(((id * 7 + j * 13) % nSrc).toInt)
          if (j % 2 == 1)
            s"""<a class="l" href="https://$dst.example/p/$j">x</a>"""
          else s"<a href='https://$dst.example/p/$j'>x</a>"
        }.mkString
        val html = "<html><body>" + anchors +
          "<a href=\"/rel/p\">skip</a><a href='javascript:void(0)'>s</a>" +
          "</body></html>"
        (id, ("response", s"https://$src.example/d/$id", "text/html",
          html.getBytes("UTF-8")))
      }
      (0 until 8).foreach { k =>
        graft.sources.Warc.write(s"$tmp/shard$k.warc.gz",
          rows.filter(_._1 % 8 == k).map(_._2).toSeq)
      }
    }

  /** Persisted two-part IVF artifact (`centroids/` plain parquet +
    * `postings/` bucketed on `__cell__`) the `q_ann_ivf*` serve queries
    * time their read path against: the fit and the bucketed write are
    * ingest-time work. Returns (index dir, postings table name). */
  private def ivfIndex(
      s: SparkSession, dir: String, attrs: Seq[String] = Seq.empty)
      : (String, String) =
    Fixtures.bucketed(s, "ivf" + attrs.map("_" + _).mkString, dir,
        "__cell__", sub = "postings") { (tbl, path) =>
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val cents = graft.llm.Embeddings.kmeansFitSqrtK(
        emb, "vec_id", "embedding", iters = 2)
      graft.llm.Embeddings.ivfIndexSave(
        emb, "vec_id", "embedding", cents, tbl, path, attrs = attrs)
    }

  /** [[ivfIndex]] for the PQ-CODED persisted artifact
    * ([[graft.llm.Embeddings.ivfPqIndexSave]]): coarse sqrt(n) k-means
    * + m=2 segment codebooks fit once at ingest, postings store only
    * (cell, id, codes) — the serve queries time the coded-scan + ADC +
    * rerank read path, never the fit. */
  private def ivfPqIndex(s: SparkSession, dir: String): (String, String) =
    Fixtures.bucketed(s, "ivfpq", dir, "__cell__", sub = "postings") {
      (tbl, path) =>
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val coarse = graft.llm.Embeddings.kmeansFitSqrtK(
          emb, "vec_id", "embedding", iters = 2)
        val cb = graft.llm.Embeddings.pqCodebooks(
          emb, "vec_id", "embedding", dim = 64, m = 2,
          initPred = org.apache.spark.sql.functions.col("vec_id") < 4,
          iters = 2)
        graft.llm.Embeddings.ivfPqIndexSave(
          emb, "vec_id", "embedding", coarse, cb, dim = 64, m = 2,
          tbl, path)
    }

  /** Persisted SQ8 artifact over the full embeddings table
    * ([[graft.llm.Embeddings.sq8IndexSave]]): params sidecar + bucketed
    * coded postings (4× smaller than raw vectors). q_ann_sq8_indexed
    * times the coded-scan serve path only. */
  private def sq8Index(s: SparkSession, dir: String): (String, String) =
    Fixtures.bucketed(s, "sq8", dir, "vec_id", sub = "postings") {
      (tbl, path) =>
        graft.llm.Embeddings.sq8IndexSave(
          s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
          dim = 64, tbl, path)
    }

  /** Persisted IVF-SQ8 artifact (coarse sqrt(n) cells + GLOBAL per-dim
    * SQ8 params — [[graft.llm.Embeddings.ivfSq8IndexSave]]): cell-gated
    * quantized serving at 4× fewer posting bytes with near-exact
    * within-cell ranking. */
  private def ivfSq8Index(s: SparkSession, dir: String): (String, String) =
    Fixtures.bucketed(s, "ivfsq8", dir, "__cell__", sub = "postings") {
      (tbl, path) =>
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val coarse = graft.llm.Embeddings.kmeansFitSqrtK(
          emb, "vec_id", "embedding", iters = 2)
        graft.llm.Embeddings.ivfSq8IndexSave(
          emb, "vec_id", "embedding", coarse, dim = 64, tbl, path)
    }

  /** [[ivfPqIndex]]'s RESIDUAL-coded twin
    * ([[graft.llm.Embeddings.ivfPqIndexSave]] with `residual = true`,
    * codebooks fit on x − c(cell) — FAISS's by-residual IndexIVFPQ):
    * postings store (cell, id, m codes, ‖ĉ+r̂‖) and the serve query
    * times the coded-scan + residual-ADC read path. */
  private def ivfPqResidualIndex(
      s: SparkSession, dir: String): (String, String) =
    // "ivfpqr2": the residual builder's output changed when the
    // quantizer metric moved cosine → L2 (fit + encode) — a fresh
    // name invalidates any cosine-coded artifact on disk without
    // forcing a rebuild of every OTHER memoized fixture
    Fixtures.bucketed(s, "ivfpqr2", dir, "__cell__", sub = "postings") {
      (tbl, path) =>
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val coarse = graft.llm.Embeddings.kmeansFitSqrtK(
          emb, "vec_id", "embedding", iters = 2)
        val cb = graft.llm.Embeddings.pqResidualCodebooks(
          emb, "vec_id", "embedding", coarse, dim = 64, m = 2,
          initPred = org.apache.spark.sql.functions.col("vec_id") < 4,
          iters = 2)
        graft.llm.Embeddings.ivfPqIndexSave(
          emb, "vec_id", "embedding", coarse, cb, dim = 64, m = 2,
          tbl, path, residual = true)
    }

  /** MULTI-SHARD WET fixture (the extracted-text sibling of
    * [[linksWarcGlob]]): 8 `.warc.wet.gz` shards (docs round-robin by
    * id), each led by the per-shard `warcinfo` record real WET files
    * carry (the reader must skip it) followed by one `conversion`
    * record per page whose payload is the document text. Multi-shard on
    * purpose: a single-shard fixture serializes the scan behind one
    * gzip task and ScaleCheck would measure the fixture, not the
    * operator. */
  private def wetGlob(s: SparkSession, dir: String): String =
    Fixtures.files("wet", dir, "*.warc.wet.gz") { tmp =>
      val rows = s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "source", "text")
        .collect().sortBy(_.getLong(0)) // fixture-only driver collect
      (0 until 8).foreach { k =>
        val recs = ("warcinfo", s"urn:graft:wet-shard-$k",
          "application/warc-fields",
          "software: graft-fixture\r\n".getBytes("UTF-8")) +:
          rows.filter(_.getLong(0) % 8 == k).map { r =>
            ("conversion",
              s"https://${r.getString(1)}.example/d/${r.getLong(0)}",
              "text/plain", r.getString(2).getBytes("UTF-8"))
          }.toSeq
        graft.sources.Warc.write(s"$tmp/shard$k.warc.wet.gz", recs)
      }
    }

  /** MULTI-SHARD WAT fixture — the link-METADATA member of the crawl
    * trio: 8 `.warc.wat.gz` shards, one `metadata` record per doc whose
    * JSON envelope lists the SAME anchor targets [[linksWarcGlob]]
    * encodes as HTML (`srcs[(id·7+j·13) mod n]` for j ≤ id mod 4), PLUS
    * the relative/javascript noise anchors (present in the Links array —
    * the GRAPH layer must drop them) and an `IMG@/src` entry with an
    * absolute URL (the READER must drop it: only `A@/href` rows are
    * links). Edge set therefore ≡ the HTML extraction's, so
    * q_pagerank_wat shares q_pagerank_links' oracle. */
  private def watGlob(s: SparkSession, dir: String): String =
    Fixtures.files("wat", dir, "*.warc.wat.gz") { tmp =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "source")
      // fixture-only driver collects: 20 sources, |docs| rows
      val srcs = docs.select("source").distinct()
        .collect().map(_.getString(0)).sorted
      val nSrc = srcs.length
      val rows = docs.collect().sortBy(_.getLong(0)).map { r =>
        val id = r.getLong(0); val src = r.getString(1)
        val anchors = (1L to (id % 4)).map { j =>
          val dst = srcs(((id * 7 + j * 13) % nSrc).toInt)
          s"""{"path":"A@/href","url":"https://$dst.example/p/$j"}"""
        } ++ Seq(
          """{"path":"A@/href","url":"/rel/p"}""",
          """{"path":"A@/href","url":"javascript:void(0)"}""",
          s"""{"path":"IMG@/src","url":"https://img-$src.example/i.png"}""")
        val json =
          s"""{"Envelope":{"Payload-Metadata":{"HTTP-Response-Metadata":{"HTML-Metadata":{"Links":[${anchors.mkString(",")}]}}}}}"""
        (id, ("metadata", s"https://$src.example/d/$id", "application/json",
          json.getBytes("UTF-8")))
      }
      (0 until 8).foreach { k =>
        val recs = ("warcinfo", s"urn:graft:wat-shard-$k",
          "application/warc-fields",
          "software: graft-fixture\r\n".getBytes("UTF-8")) +:
          rows.filter(_._1 % 8 == k).map(_._2).toSeq
        graft.sources.Warc.write(s"$tmp/shard$k.warc.wat.gz", recs)
      }
    }

  /** Persisted substring gram-posting index over the documents table
    * (minMatchWords = 8): the admission queries' stream-static corpus
    * side, bucketed on __gh__. */
  private def substrIndex(s: SparkSession, dir: String): (String, String) =
    Fixtures.bucketed(s, "substr", dir, "__gh__", sub = "postings") {
      (tbl, path) =>
        graft.llm.Dedup.substringIndexSave(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
          minMatchWords = 8, tbl, path)
    }

  /** APPEND-MAINTAINED substring index: the corpus' even-id half saved,
    * the odd half appended via [[graft.llm.Dedup.substringIndexAppend]]
    * — so the final artifact covers the full documents table and
    * q_substr_admit_incr's served matches are value-identical to
    * q_substr_admit's rebuilt-index ones (the parity the
    * oracle-by-reference rides). The timed body is the SERVE only. */
  private def substrIncrIndex(
      s: SparkSession, dir: String): (String, String) =
    Fixtures.bucketed(s, "substri", dir, "__gh__", sub = "postings") {
      (tbl, path) =>
        import org.apache.spark.sql.{functions => F}
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val half = F.pmod(F.col("doc_id"), F.lit(2L))
        graft.llm.Dedup.substringIndexSave(docs.where(half === 0L),
          "doc_id", "text", minMatchWords = 8, tbl, path)
        graft.llm.Dedup.substringIndexAppend(docs.where(half === 1L),
          "doc_id", "text", tbl, path)
    }

  /** Persisted MinHash band index of the odd-id documents (the
    * "already indexed" crawl), bucketed on `__bkey__`: the
    * q_dedup_incremental family joins its even-id slice against it. */
  private def oddMinhashIndex(
      s: SparkSession, docs: DataFrame, dir: String): String =
    Fixtures.index(s, "minhash8x2_odd", dir, "__bkey__") {
      graft.llm.Dedup.minhashIndex(
        docs.where(org.apache.spark.sql.functions.col("doc_id") % 2 === 1),
        "doc_id", "text")
    }

  /** Persisted order-5 Kneser-Ney model fit on the doc_id % 4 == 0
    * quarter: the train-once model the KN serve queries score and
    * profile through. */
  private def knModelQ4(docs: DataFrame, dir: String): String =
    Fixtures.dir("kn5v2_q4", dir) { p =>
      graft.llm.LangModel.knNgramFit(
        docs.where(org.apache.spark.sql.functions.col("doc_id") % 4 === 0),
        "text", p, order = 5)
    }

  /** Persisted PageRank artifact over the BASE synthetic edge family
    * (j ∈ 1..2 of q_pagerank's j ≤ doc_id%5 fixture), ranks converged 5
    * rounds — so q_pagerank_incr's timed body is the incremental read
    * path only: append-shaped delta + 2 warm rounds. */
  private def pageRankIndex(s: SparkSession, dir: String): String =
    Fixtures.dir("pridx", dir) { tmp =>
      import org.apache.spark.sql.{functions => F}
      val df = s.read.parquet(s"$dir/documents.parquet")
      val n = df.count()
      val base = df.select(F.col("doc_id"))
        .withColumn("j", F.explode(F.sequence(F.lit(1L), F.lit(2L))))
        .where(F.col("j") <= F.pmod(F.col("doc_id"), F.lit(5L)))
        .select(F.col("doc_id").as("src"),
          F.pmod(F.col("doc_id") * F.lit(31L) + F.col("j") * F.lit(17L),
            F.lit(n)).as("dst"))
      graft.llm.Graph.pageRankIndexSave(base, "src", "dst",
        iterations = 5, tmp)
    }

  /** Z-ordered rewrite of the events table on (user_id, value)
    * ([[graft.sources.Layout.writeZOrdered]], 16 files): q_zorder_skip's
    * timed body is the pruned 2-D box scan only — the layout job runs
    * once per data dir, the `OPTIMIZE ZORDER` amortization shape. */
  private def zorderedEvents(s: SparkSession, dir: String): String =
    Fixtures.dir("zord", dir) { tmp =>
      graft.sources.Layout.writeZOrdered(
        s.read.parquet(s"$dir/events.parquet"), "user_id", "value", tmp, 16)
    }

  /** 3-column twin: events z-ordered on (user_id, value, epoch micros)
    * — the triple-predicate layout q_zorder3_skip serves from. */
  private def zorderedEvents3(s: SparkSession, dir: String): String =
    Fixtures.dir("zord3", dir) { tmp =>
      import org.apache.spark.sql.{functions => F}
      graft.sources.Layout.writeZOrdered3(
        s.read.parquet(s"$dir/events.parquet")
          .withColumn("ts_us", F.unix_micros(F.col("ts").cast("timestamp"))),
        "user_id", "value", "ts_us", tmp, 16)
    }

  /** Metric rollup cache over events at (user, type, day) grain —
    * base slice SAVED, post-cutoff slice APPENDED, so every serve off
    * this artifact exercises the delta-maintenance merge path. */
  private def eventsMetricCache(s: SparkSession, dir: String): String =
    Fixtures.dir("mcache", dir) { tmp =>
      import org.apache.spark.sql.{functions => F}
      val mc = graft.sources.MetricCache
      val ev = s.read.parquet(s"$dir/events.parquet")
      val cut = F.lit("2024-01-20").cast("timestamp")
      val dims = Seq("user_id", "event_type")
      mc.save(ev.where(F.col("ts") < cut), dims, "ts",
        mc.standardPartials("value"), tmp)
      mc.append(ev.where(F.col("ts") >= cut), dims, "ts",
        mc.standardPartials("value"), tmp)
    }

  /** File-stats manifest over [[zorderedEvents]]'s 16 z-ordered files,
    * indexed on (user_id, value) — q_manifest_skip plans its box from
    * this instead of parquet footers. */
  private def zorderManifest(s: SparkSession, dir: String): String =
    Fixtures.dir("zmanifest", dir) { tmp =>
      graft.sources.StatsManifest.save(
        s, zorderedEvents(s, dir), Seq("user_id", "value"), tmp)
    }

  /** Per-file Bloom index over [[zorderedEvents]]'s files on event_id
    * (bits=8192, k=2) — the point-lookup planner q_manifest_point uses. */
  private def zorderBloom(s: SparkSession, dir: String): String =
    Fixtures.dir("zbloom", dir) { tmp =>
      graft.sources.StatsManifest.bloomSave(
        s, zorderedEvents(s, dir), "event_id", 8192, 2, tmp)
    }

  /** Occupied-bucket distinct sketch (linear counting) over events at
    * (event_type, day) grain, user_id keys, m=4096 — base saved,
    * post-cutoff slice appended, like [[eventsMetricCache]]. */
  private def eventsDistinctSketch(s: SparkSession, dir: String): String =
    Fixtures.dir("mcsketch", dir) { tmp =>
      import org.apache.spark.sql.{functions => F}
      val mc = graft.sources.MetricCache
      val ev = s.read.parquet(s"$dir/events.parquet")
      val cut = F.lit("2024-01-20").cast("timestamp")
      mc.distinctSketchSave(ev.where(F.col("ts") < cut),
        Seq("event_type"), "ts", "user_id", 4096, tmp)
      mc.distinctSketchAppend(ev.where(F.col("ts") >= cut),
        Seq("event_type"), "ts", "user_id", 4096, tmp)
    }

  /** [[eventsMetricCache]] with user 7 taken down (fresh versioned
    * rewrite — the right-to-be-forgotten path q_metric_cache_takedown
    * serves from). */
  private def metricCacheTakedown(s: SparkSession, dir: String): String =
    Fixtures.dir("mcachetd", dir) { tmp =>
      import org.apache.spark.sql.{functions => F}
      graft.sources.MetricCache.takedown(
        s, eventsMetricCache(s, dir), F.col("user_id") === 7L, tmp)
    }

  /** [[eventsMetricCache]]'s STREAMING-INGEST twin: the same events fed
    * through a real MemoryStream in three micro-batches, the cache
    * maintained by [[graft.sources.MetricCache.streamAppend]]'s
    * per-batch partial appends. Serving it must be value-identical to
    * the raw-fact aggregate — q_stream_metric_cache shares
    * q_metric_cache's oracle by reference on exactly that claim.
    * (MemoryStream is driver-fed by definition; this is fixture
    * plumbing, untimed, same as the RecallCheck streaming ladders.) */
  private def streamMetricCache(s: SparkSession, dir: String): String =
    Fixtures.dir("mcache_stream", dir) { tmp =>
      import org.apache.spark.sql.{functions => F}
      val mc = graft.sources.MetricCache
      // ts rides as epoch micros (timestamp Row accessors differ with
      // spark.sql.datetime.java8API between sessions; longs don't)
      val rows = s.read.parquet(s"$dir/events.parquet")
        .select(F.col("event_id"),
          F.unix_micros(F.col("ts").cast("timestamp")).as("ts_us"),
          F.col("user_id"), F.col("event_type"), F.col("value"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3), r.getDouble(4))).toSeq
      import s.implicits._
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, Long, String, Double)](s)
      val ckpt = java.nio.file.Files.createTempDirectory("mcache_ckpt").toString
      val q = mc.streamAppend(
        ms.toDF.toDF("event_id", "ts_us", "user_id", "event_type", "value")
          .withColumn("ts", F.timestamp_micros(F.col("ts_us"))),
        Seq("user_id", "event_type"), "ts",
        mc.standardPartials("value"), tmp, ckpt)
      try {
        rows.grouped(math.max(1, rows.size / 3 + 1)).foreach { b =>
          ms.addData(b: _*)
          q.processAllAvailable()
        }
      } finally q.stop()
    }

  /** Unicode fixture corpus for the tokenizer-path queries: decompose
    * every 'e' into e + U+0301 (NFC must re-compose it) and swap 'a' for
    * 'ä' (the `\p{L}` split must keep it). Built with Scala literals —
    * Spark's chr() is ASCII-only; the DuckDB twin is [[UniDocsCte]]. */
  private def uniDocs(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.{functions => F}
    df.withColumn("text",
      F.replace(F.replace(F.col("text"), F.lit("e"), F.lit("e\u0301")),
        F.lit("a"), F.lit("\u00e4")))
  }

  /** Money-sum de-flaker: sum EXACT INTEGER CENTS, then one division back
    * to double. Plain sum(double) is summation-order dependent (Spark
    * partial aggregates vs the DuckDB oracle diverge in the last few ulps —
    * the round-1 `q_join_one` hash failure); integer summation is
    * associative so both sides agree bit-for-bit, and a bigint sum
    * aggregates ~2× cheaper than the round-2 DECIMAL(18,2) formulation.
    * floor(x*100 + 0.5) is the engine-portable half-up cents conversion
    * (sign-safe: a true 2-dp amount lands within ~1e-10 of an integer, so
    * the +0.5 offset can't cross a boundary either way). Long overflow
    * headroom: 9.2e18 cents ≈ $9.2e16 — far past any 100 TB corpus sum.
    * Oracles mirror with
    * CAST(sum(CAST(floor(x*100 + 0.5) AS BIGINT)) AS DOUBLE)/100.0. */
  private def moneySum(e: graft.ir.Expr): graft.ir.Expr =
    cast(sum(cast(floor(e * lit(100.0) + lit(0.5)), "bigint")), "double") / lit(100.0)

  /** Order-independent mean: exact decimal sum divided by count, identical
    * on the oracle side as CAST(sum(CAST(x AS DECIMAL(18,9))) AS DOUBLE)/count(*). */
  private def exactAvg(e: graft.ir.Expr): graft.ir.Expr =
    cast(sum(cast(e, "decimal(18,9)")), "double") / count()

  /** Flagship query on sf=0.001; driver smoke-checks rows>0.
    * Sales-by-year-equivalent from the reference README (README.md:47-66):
    * events aggregated by year with a count measure. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    m(dir, "events")
      .aggregate(
        groups = Seq(col("ts").byYear.named("ts_year")),
        measures = Seq(count().named("count")))
      .sort(col("ts_year"))
      .run(spark)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- TableNameSource scan + PickSource (SURVEY §2.1) ---
    "q_scan_pick" -> ((s, dir) =>
      m(dir, "region").pick(col("r_regionkey"), col("r_name"))
        .sort(col("r_regionkey")).run(s)),

    // --- FilterSource (σ) ---
    "q_filter" -> ((s, dir) =>
      m(dir, "lineitem")
        .filter(col("l_quantity") > lit(45.0) && col("l_returnflag") === lit("R"))
        .pick(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .sort(col("l_orderkey")).sort(col("l_linenumber"))
        .run(s)),

    // --- AggregateSource (γ): the TPC-H Q1 shape ---
    "q1_agg" -> ((s, dir) =>
      m(dir, "lineitem")
        .aggregate(
          groups = Seq(col("l_returnflag"), col("l_linestatus")),
          measures = Seq(
            moneySum(col("l_quantity")).named("sum_qty"),
            moneySum(col("l_extendedprice")).named("sum_base_price"),
            exactAvg(col("l_discount")).named("avg_disc"),
            count().named("count_order")))
        .sort(col("l_returnflag")).sort(col("l_linestatus"))
        .run(s)),

    // --- global aggregate (zero groups) ---
    "q_agg_global" -> ((s, dir) =>
      m(dir, "orders")
        .aggregate(measures = Seq(
          count().named("n"),
          moneySum(col("o_totalprice")).named("total"),
          max(col("o_orderdate")).named("last_order")))
        .run(s)),

    // --- SortSource + LimitSource (offset) ---
    "q_sort_limit" -> ((s, dir) =>
      m(dir, "customer")
        .sort(col("c_acctbal"), dir = "desc")
        .sort(col("c_custkey"))
        .limit(50, offset = 10)
        .pick(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .run(s)),

    // --- UnionSource ---
    "q_union_all" -> ((s, dir) => {
      val hi = m(dir, "part").filter(col("p_size") >= lit(48))
        .pick(col("p_partkey"), col("p_name"))
      val lo = m(dir, "part").filter(col("p_size") <= lit(2))
        .pick(col("p_partkey"), col("p_name"))
      hi.unionAll(lo).sort(col("p_partkey")).run(s)
    }),

    // --- GranularityColumnExpression (by_month; Sunday-based week too) ---
    "q_granularity" -> ((s, dir) =>
      m(dir, "orders")
        .aggregate(
          groups = Seq(
            col("o_orderdate").byMonth.named("month"),
            col("o_orderdate").byWeek.named("week")),
          measures = Seq(count().named("n")))
        .sort(col("month")).sort(col("week"))
        .run(s)),

    // --- week start as a compile setting (reference settings.py:5-10):
    // same query, Monday-start deployment (DuckDB weeks are natively
    // Monday-based, so the oracle is the plain date_trunc) ---
    "q_week_monday" -> ((s, dir) =>
      m(dir, "orders")
        .aggregate(
          groups = Seq(col("o_orderdate").byWeek.named("week")),
          measures = Seq(count().named("n")))
        .sort(col("week"))
        .run(s, graft.compile.CompileSettings(weekStartDay = "monday"))),

    // --- fine-grained granularities (hour/minute/second truncation) ---
    "q_granularity_fine" -> ((s, dir) =>
      m(dir, "events")
        .filter(col("event_id") < lit(500L))
        .aggregate(
          groups = Seq(
            col("ts").byHour.named("hour"),
            col("ts").byMinute.named("minute"),
            col("ts").bySecond.named("second")),
          measures = Seq(count().named("n")))
        .sort(col("hour")).sort(col("minute")).sort(col("second"))
        .run(s)),

    // --- explicit NULLS FIRST / NULLS LAST sort directions ---
    "q_sort_nulls" -> ((s, dir) =>
      m(dir, "orders")
        .filter(col("o_orderkey") <= lit(200L))
        .pick(
          col("o_orderkey"),
          cases(Seq((col("o_orderstatus") === lit("P")) -> lit(null)),
            col("o_orderstatus")).named("status_or_null"))
        .sort(col("status_or_null"), dir = "desc", nulls = "first")
        .sort(col("o_orderkey"))
        .run(s)),

    // --- JoinOneSource: lazy LEFT join through a named relation ---
    "q_join_one" -> ((s, dir) => {
      val customer = m(dir, "customer").withPrimaryKey(col("c_custkey"))
      val orders = m(dir, "orders")
        .withJoinOne(customer, named = "customer", foreignKey = col("o_custkey"))
      orders
        .aggregate(
          groups = Seq(orders.rel("customer").attr("c_mktsegment").named("segment")),
          measures = Seq(
            count().named("n_orders"),
            moneySum(col("o_totalprice")).named("revenue")))
        .sort(col("segment"))
        .run(s)
    }),

    // --- multi-hop join chain with dropUnmatched (INNER) + theta condition ---
    "q_join_chain" -> ((s, dir) => {
      val nation = m(dir, "nation").withPrimaryKey(col("n_nationkey"))
      val customer = m(dir, "customer").withPrimaryKey(col("c_custkey"))
        .withJoinOne(nation, named = "nation", foreignKey = col("c_nationkey"))
      val cWithNation = customer.pick(
        col("c_custkey"), col("c_acctbal"),
        customer.rel("nation").attr("n_name").named("nation_name"))
        .withPrimaryKey(col("c_custkey"))
      val orders = m(dir, "orders")
        .withJoinOne(cWithNation, named = "cust", foreignKey = col("o_custkey"),
          dropUnmatched = true)
      orders
        .filter(orders.rel("cust").attr("c_acctbal") > lit(9990.0))
        .aggregate(
          groups = Seq(orders.rel("cust").attr("nation_name").named("nation_name")),
          measures = Seq(count().named("n")))
        .sort(col("nation_name"))
        .run(s)
    }),

    // --- wire-format DRIVER gating: the same nested join-chain model
    //     (joins + measures + filter + aggregate + sort) serialized to
    //     versioned JSON and REBUILT via WireFormat.toJson/fromJson, then
    //     run; the oracle is identical to q_join_chain's, so a lossy codec
    //     (a dropped join condition, a reordered attribute map) fails the
    //     driver hash — not just a unit spec ---
    "q_wire_roundtrip" -> ((s, dir) => {
      val nation = m(dir, "nation").withPrimaryKey(col("n_nationkey"))
      val customer = m(dir, "customer").withPrimaryKey(col("c_custkey"))
        .withJoinOne(nation, named = "nation", foreignKey = col("c_nationkey"))
      val cWithNation = customer.pick(
        col("c_custkey"), col("c_acctbal"),
        customer.rel("nation").attr("n_name").named("nation_name"))
        .withPrimaryKey(col("c_custkey"))
      val orders = m(dir, "orders")
        .withJoinOne(cWithNation, named = "cust", foreignKey = col("o_custkey"),
          dropUnmatched = true)
      val model = orders
        .filter(orders.rel("cust").attr("c_acctbal") > lit(9990.0))
        .aggregate(
          groups = Seq(orders.rel("cust").attr("nation_name").named("nation_name")),
          measures = Seq(count().named("n")))
        .sort(col("nation_name"))
      graft.wire.WireFormat.fromJson(graft.wire.WireFormat.toJson(model)).run(s)
    }),

    // --- SqlTextSource (raw-SQL scan) ---
    "q_sql_text" -> ((s, dir) => {
      s.read.parquet(s"$dir/supplier.parquet").createOrReplaceTempView("supplier_v")
      Model.sqlQuery(
        "SELECT s_nationkey, s_acctbal FROM supplier_v WHERE s_acctbal > 5000")
        .aggregate(
          groups = Seq(col("s_nationkey")),
          measures = Seq(count().named("n"), moneySum(col("s_acctbal")).named("bal")))
        .sort(col("s_nationkey"))
        .run(s)
    }),

    // --- CasesColumnExpression ---
    "q_cases" -> ((s, dir) =>
      m(dir, "customer")
        .aggregate(
          groups = Seq(cases(
            Seq(
              (col("c_acctbal") < lit(0.0)) -> lit("negative"),
              (col("c_acctbal") < lit(5000.0)) -> lit("low")),
            lit("high")).named("bal_bucket")),
          measures = Seq(count().named("n")))
        .sort(col("bal_bucket"))
        .run(s)),

    // --- named measure definitions referenced via msr() (model.py:265-279:
    //     measures are definitions only until an aggregate references them) ---
    // --- hierarchical subtotals: GROUP BY ROLLUP (single-shuffle Expand
    //     lowering; subtotal rows carry NULL in rolled-up columns) ---
    "q_rollup" -> ((s, dir) =>
      m(dir, "lineitem")
        .rollup(
          groups = Seq(col("l_returnflag"), col("l_linestatus")),
          measures = Seq(moneySum(col("l_quantity")).named("sum_qty"),
            count().named("n")))
        .sort(col("l_returnflag"), nulls = "last")
        .sort(col("l_linestatus"), nulls = "last")
        .run(s)),

    // --- all grouping combinations: GROUP BY CUBE ---
    "q_cube" -> ((s, dir) =>
      m(dir, "orders")
        .cube(
          groups = Seq(col("o_orderstatus"), col("o_orderpriority")),
          measures = Seq(count().named("n"),
            moneySum(col("o_totalprice")).named("total")))
        .sort(col("o_orderstatus"), nulls = "last")
        .sort(col("o_orderpriority"), nulls = "last")
        .run(s)),

    // --- arbitrary GROUPING SETS: a non-hierarchical set list a rollup
    //     can't express — (flag, status), (status), grand total ---
    "q_grouping_sets" -> ((s, dir) =>
      m(dir, "lineitem")
        .groupingSets(
          groups = Seq(col("l_returnflag"), col("l_linestatus")),
          sets = Seq(Seq(0, 1), Seq(1), Seq.empty),
          measures = Seq(moneySum(col("l_quantity")).named("sum_qty"),
            count().named("n")))
        .sort(col("l_returnflag"), nulls = "last")
        .sort(col("l_linestatus"), nulls = "last")
        .run(s)),

    // --- first-class semi/anti joins (EXISTS / NOT EXISTS semantics) ---
    "q_semi_join" -> ((s, dir) =>
      m(dir, "customer")
        .semiJoin(m(dir, "orders"), on = Seq((col("c_custkey"), col("o_custkey"))))
        .aggregate(groups = Seq(col("c_mktsegment")),
          measures = Seq(count().named("n")))
        .sort(col("c_mktsegment"))
        .run(s)),

    "q_anti_join" -> ((s, dir) =>
      // customers with NO urgent order (the right side is a filtered
      // model, so the anti set is non-empty at every scale factor)
      m(dir, "customer")
        .antiJoin(
          m(dir, "orders").filter(col("o_orderpriority") === lit("1-URGENT")),
          on = Seq((col("c_custkey"), col("o_custkey"))))
        .aggregate(groups = Seq(col("c_mktsegment")),
          measures = Seq(count().named("n")))
        .sort(col("c_mktsegment"))
        .run(s)),

    // --- exact interpolated percentile / median measures (sort-based,
    //     deterministic; DuckDB quantile_cont replays the interpolation,
    //     6-dp rounding on both sides absorbs ulps) ---
    "q_percentile" -> ((s, dir) =>
      m(dir, "lineitem")
        .aggregate(
          groups = Seq(col("l_returnflag")),
          measures = Seq(
            round(median(col("l_quantity")), 6).named("med_qty"),
            round(percentile(col("l_quantity"), 0.9), 6).named("p90_qty"),
            round(percentile(col("l_extendedprice"), 0.99), 6).named("p99_price"),
            count().named("n")))
        .sort(col("l_returnflag"))
        .run(s)),

    "q_measures" -> ((s, dir) => {
      val orders = m(dir, "orders").withMeasures(
        moneySum(col("o_totalprice")).named("revenue"),
        countIf(col("o_orderstatus") === lit("F")).named("n_fulfilled"))
      orders.aggregate(
        groups = Seq(col("o_orderpriority")),
        measures = Seq(orders.msr("revenue"), orders.msr("n_fulfilled")))
        .sort(col("o_orderpriority"))
        .run(s)
    }),

    // --- count_if / distinct / count(x) ---
    "q_count_if" -> ((s, dir) =>
      m(dir, "orders")
        .aggregate(
          groups = Seq(col("o_orderpriority")),
          measures = Seq(
            countIf(col("o_orderstatus") === lit("F")).named("n_f"),
            countIf(col("o_totalprice") > lit(100000.0)).named("n_big"),
            countDistinct(col("o_custkey")).named("n_cust"),
            count(col("o_orderkey")).named("n")))
        .sort(col("o_orderpriority"))
        .run(s)),

    // --- binary-op arithmetic incl. floorDiv (fixed reference gap) ---
    "q_arith" -> ((s, dir) =>
      m(dir, "lineitem")
        .filter(col("l_orderkey") <= lit(100L))
        .pick(
          col("l_orderkey"),
          col("l_linenumber"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).named("net"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
            (lit(1.0) + col("l_tax"))).named("gross"),
          (col("l_quantity") + lit(1.0)).named("qplus"),
          (col("l_partkey") floorDiv lit(100L)).named("bucket"),
          ceiling(col("l_quantity") / lit(7.0)).named("qceil"))
        .sort(col("l_orderkey")).sort(col("l_linenumber"))
        .run(s)),

    // --- NULL-aware IN over literal values ---
    "q_in_values" -> ((s, dir) =>
      m(dir, "orders")
        // nullif-style derived column so NULL handling is actually exercised
        .pick(
          col("o_orderkey"),
          cases(Seq((col("o_orderstatus") === lit("P")) -> lit(null)),
            col("o_orderstatus")).named("status_or_null"))
        .filter(ColRef("status_or_null").in(Seq("F", null)))
        .sort(col("o_orderkey"))
        .run(s)),

    // --- IN (model subquery): top-3 brands by part count ---
    "q_in_model" -> ((s, dir) => {
      val top = m(dir, "part")
        .aggregate(groups = Seq(col("p_brand")), measures = Seq(count().named("n")))
        .sort(col("n"), dir = "desc").sort(col("p_brand"))
        .limit(3)
      m(dir, "part")
        .filter(InModel(col("p_brand"), top, col("p_brand")))
        .aggregate(groups = Seq(col("p_brand")), measures = Seq(count().named("n")))
        .sort(col("p_brand"))
        .run(s)
    }),

    // --- bucket_other (top-N breakout, literal list) ---
    "q_bucket_other" -> ((s, dir) =>
      m(dir, "part")
        .aggregate(
          groups = Seq(
            bucketOther(col("p_brand"), Seq("Brand#11", "Brand#22", "Brand#33"))
              .named("brand_group")),
          measures = Seq(count().named("n"),
            moneySum(col("p_retailprice")).named("price_sum")))
        .sort(col("brand_group"))
        .run(s)),

    // --- scalar subquery: orders above average price ---
    "q_scalar_subquery" -> ((s, dir) => {
      val avgPrice = m(dir, "orders")
        .aggregate(measures = Seq(avg(col("o_totalprice")).named("a")))
      m(dir, "orders")
        .filter(col("o_totalprice") > scalar(avgPrice))
        .aggregate(measures = Seq(count().named("n"),
          min(col("o_totalprice")).named("min_price")))
        .run(s)
    }),

    // --- EXISTS(model) ---
    "q_exists" -> ((s, dir) => {
      val bigOrders = m(dir, "orders").filter(col("o_totalprice") > lit(400000.0))
      m(dir, "region")
        .filter(exists(bigOrders))
        .pick(col("r_regionkey"), col("r_name"))
        .sort(col("r_regionkey"))
        .run(s)
    }),

    // --- LIKE / ILIKE / contains ---
    "q_like" -> ((s, dir) =>
      m(dir, "part")
        .filter(col("p_type").like("%BRASS%") ||
          col("p_name").contains("green") ||
          col("p_brand").ilike("brand#4%"))
        .aggregate(measures = Seq(count().named("n")))
        .run(s)),

    // --- diff_seconds (Databricks recipe: unix_timestamp difference) ---
    "q_diff_seconds" -> ((s, dir) =>
      m(dir, "events")
        .aggregate(
          groups = Seq(col("event_type")),
          measures = Seq(
            avg(diffSeconds(col("ts"), col("ts").byDay)).named("avg_secs_in_day"),
            count().named("n")))
        .sort(col("event_type"))
        .run(s)),

    // --- format_timestamp: python tokens incl. %Q quarter splice ---
    "q_format_ts" -> ((s, dir) =>
      m(dir, "orders")
        .aggregate(
          groups = Seq(
            FormatTs(col("o_orderdate"), "%Y-%m").named("ym"),
            FormatTs(col("o_orderdate"), "Q%Q/%Y").named("quarter_label")),
          measures = Seq(count().named("n")))
        .sort(col("ym"))
        .run(s)),

    // --- temporal predicates (is_this_week etc.) with pinned now() ---
    "q_temporal_preds" -> ((s, dir) => {
      val at = java.time.Instant.parse("2024-01-15T12:00:00Z")
      m(dir, "events")
        .aggregate(measures = Seq(
          countIf(isToday(col("ts"), at)).named("n_today"),
          countIf(isYesterday(col("ts"), at)).named("n_yesterday"),
          countIf(isThisWeek(col("ts"), at)).named("n_this_week"),
          countIf(isLastWeek(col("ts"), at)).named("n_last_week"),
          countIf(isThisMonth(col("ts"), at)).named("n_this_month"),
          countIf(isLastMonth(col("ts"), at)).named("n_last_month"),
          countIf(isThisQuarter(col("ts"), at)).named("n_this_quarter"),
          countIf(isLastQuarter(col("ts"), at)).named("n_last_quarter"),
          countIf(isThisYear(col("ts"), at)).named("n_this_year"),
          countIf(isLastYear(col("ts"), at)).named("n_last_year")))
        .run(s)
    }),

    // --- array contains on a computed array column ---
    "q_array_contains" -> ((s, dir) =>
      m(dir, "documents")
        .filter(ArrContains(sql("split(text, ' ')"), lit("spark")))
        .aggregate(
          groups = Seq(col("lang")),
          measures = Seq(count().named("n")))
        .sort(col("lang"))
        .run(s)),

    // --- interval arithmetic: shipdate within 90 days after order date ---
    "q_interval" -> ((s, dir) => {
      val orders = m(dir, "orders").withPrimaryKey(col("o_orderkey"))
      val li = m(dir, "lineitem")
        .withJoinOne(orders, named = "ord", foreignKey = col("l_orderkey"))
      li.filter(col("l_shipdate") <=
          AddInterval(li.rel("ord").attr("o_orderdate"), interval(90, "day"), negate = false))
        .aggregate(measures = Seq(count().named("n")))
        .run(s)
    }),

    // --- cast ---
    "q_cast" -> ((s, dir) =>
      m(dir, "lineitem")
        .filter(col("l_orderkey") <= lit(500L))
        .pick(
          col("l_orderkey"),
          col("l_linenumber"),
          cast(col("l_quantity"), "bigint").named("qty_int"),
          cast(col("l_linenumber"), "double").named("ln_dbl"))
        .sort(col("l_orderkey")).sort(col("l_linenumber"))
        .run(s)),

    // --- per-group top-k via Source.RankLimit (WindowGroupLimit plan) ---
    "q_topk_group" -> ((s, dir) =>
      m(dir, "orders")
        .topK(
          partitionBy = Seq(col("o_orderpriority")),
          orderBy = Seq(graft.ir.SortKey(col("o_totalprice"), asc = false),
            graft.ir.SortKey(col("o_orderkey"))),
          k = 2)
        .pick(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
          col("rank"))
        .sort(col("o_orderpriority")).sort(col("rank"))
        .run(s)),

    // --- windowed analytics: row_number + lag + running sum + moving avg
    //     over ONE shared window spec (single exchange + single sort;
    //     integer-cents running sum so both engines agree bit-for-bit) ---
    "q_window_calc" -> ((s, dir) => {
      val cents = cast(floor(col("o_totalprice") * lit(100.0) + lit(0.5)), "bigint")
      m(dir, "orders")
        .filter(col("o_custkey") < lit(150L))
        .withWindow(
          partitionBy = Seq(col("o_custkey")),
          orderBy = Seq(graft.ir.SortKey(col("o_orderdate")),
            graft.ir.SortKey(col("o_orderkey"))),
          cols = Seq(
            graft.ir.Source.WinCol("order_seq", "row_number", None),
            graft.ir.Source.WinCol("prev_date", "lag", Some(col("o_orderdate"))),
            graft.ir.Source.WinCol("run_cents", "running_sum", Some(cents)),
            graft.ir.Source.WinCol("avg3_cents", "moving_avg", Some(cents),
              frame = 3)))
        .pick(col("o_orderkey"), col("o_custkey"), col("order_seq"),
          col("prev_date"), col("run_cents"),
          round(col("avg3_cents"), 6).named("avg3_cents"))
        .sort(col("o_orderkey"))
        .run(s)
    }),

    // --- rank-family window kinds. Two chained WindowCalc nodes on the
    //     SAME partition key: the first orders by a tie-HEAVY key (floor of
    //     value) so rank/dense_rank/percent_rank/cume_dist exercise real
    //     tie semantics; the second adds the unique tie-break so ntile is
    //     deterministic. Catalyst reuses the single hash(user_id) exchange
    //     across both sorts. ---
    "q_window_rank" -> ((s, dir) => {
      import graft.ir.{SortKey, Source => S}
      m(dir, "events")
        .filter(col("user_id") < lit(40L))
        .withWindow(
          partitionBy = Seq(col("user_id")),
          orderBy = Seq(SortKey(floor(col("value")), asc = false)),
          cols = Seq(
            S.WinCol("rnk", "rank", None),
            S.WinCol("drnk", "dense_rank", None),
            S.WinCol("prnk_raw", "percent_rank", None),
            S.WinCol("cd_raw", "cume_dist", None)))
        .withWindow(
          partitionBy = Seq(col("user_id")),
          orderBy = Seq(SortKey(floor(col("value")), asc = false),
            SortKey(col("event_id"))),
          cols = Seq(
            S.WinCol("quartile", "ntile", None, frame = 4),
            S.WinCol("top_val", "first_value", Some(col("value"))),
            // last_value ignores NULLs: latest purchase-typed event so far
            S.WinCol("latest_purchase", "last_value",
              Some(cases(Seq((col("event_type") === lit("purchase"),
                col("event_type"))), lit(null))))))
        .pick(col("event_id"), col("user_id"), col("rnk"), col("drnk"),
          round(col("prnk_raw"), 6).named("prnk"),
          round(col("cd_raw"), 6).named("cd"),
          col("quartile"),
          round(col("top_val"), 6).named("top_val"),
          col("latest_purchase"))
        .sort(col("event_id"))
        .run(s)
    }),

    // --- as-of join: each purchase event picks up the customer's most
    //     recent order at that moment (tag-union + last-non-null window;
    //     one exchange on the key, no range-join explosion) ---
    "q_asof_join" -> ((s, dir) =>
      m(dir, "events")
        .filter(col("event_type") === lit("purchase") && col("user_id") < lit(50L))
        .pick(col("event_id"), col("user_id"), col("ts"))
        .asofJoin(m(dir, "orders"),
          on = (col("user_id"), col("o_custkey")),
          ts = (col("ts"), col("o_orderdate")),
          pick = Seq(col("o_orderkey").named("last_order_key"),
            col("o_totalprice").named("last_order_price")),
          seq = col("o_orderkey"),
          // the left keys (user_id < 50) cover ~3% of the order history:
          // exactly the selective case the right-side prune exists for
          pruneRight = true)
        .sort(col("event_id"))
        .run(s)),

    // --- bucketed interval/range join: every (click, purchase) pair
    //     where the click falls in the 2-hour window BEFORE the same
    //     user's purchase — attribution, the DISTRIBUTED form of a
    //     BETWEEN theta join (equi-join on (user, time-bucket) + exact
    //     filter, never a BNLJ/cartesian; see Source.RangeJoin). One
    //     output row PER PAIR (unlike asof's latest-only), so the
    //     oracle is the plain inequality join. ---
    "q_range_join" -> ((s, dir) =>
      m(dir, "events")
        .filter(col("event_type") === lit("click"))
        .pick(col("event_id"), col("user_id"), col("ts"))
        .rangeJoin(
          m(dir, "events")
            .filter(col("event_type") === lit("purchase")),
          point = col("ts"),
          between = (
            AddInterval(col("ts"), interval(2, "hour"), negate = true),
            col("ts")),
          pick = Seq(col("event_id").named("purchase_event")),
          on = (col("user_id"), col("user_id")))
        .sort(col("event_id")).sort(col("purchase_event"))
        .run(s)),

    // --- general scalar helpers (coalesce/abs/round/concat/substring/
    //     replace — beyond-reference convenience funcs) ---
    "q_scalar_funcs" -> ((s, dir) =>
      m(dir, "customer")
        .pick(
          col("c_custkey"),
          coalesce(cases((col("c_acctbal") < lit(0.0)) -> col("c_mktsegment")),
            lit("none")).named("neg_seg"),
          abs(col("c_acctbal")).named("abs_bal"),
          round(col("c_acctbal") / lit(3.0), 6).named("bal_third"),
          concat(col("c_mktsegment"), lit("-"), substring(col("c_name"), 1, 8))
            .named("tag"),
          replace(col("c_mktsegment"), lit("MACHINERY"), lit("MACH")).named("seg"))
        .filter(col("c_custkey") <= lit(100))
        .sort(col("c_custkey"))
        .run(s)),

    // --- fold (unpivot wide→long) + pivot (its inverse) ---
    // --- pivot: the inverse of fold, composed from the aggregate algebra.
    // l_quantity is integer-valued, so double sums are exact and
    // order-independent without the cents dance. ---
    "q_pivot" -> ((s, dir) =>
      m(dir, "lineitem")
        .pivot(
          groups = Seq(col("l_linestatus")),
          keyCol = col("l_returnflag"),
          valueCol = col("l_quantity"),
          keys = Seq("A", "N", "R"))
        .sort(col("l_linestatus"))
        .run(s)),

    "q_fold" -> ((s, dir) =>
      m(dir, "orders")
        .aggregate(
          groups = Seq(col("o_orderpriority")),
          measures = Seq(
            countIf(col("o_orderstatus") === lit("O")).named("n_open"),
            countIf(col("o_orderstatus") === lit("F")).named("n_fulfilled"),
            countIf(col("o_orderstatus") === lit("P")).named("n_pending")))
        .fold(
          ids = Seq(col("o_orderpriority")),
          values = Seq(col("n_open"), col("n_fulfilled"), col("n_pending")),
          keyName = "status", valueName = "n")
        .sort(col("o_orderpriority")).sort(col("status"))
        .run(s)),

    // --- raw SQL fragment escape hatch (column(sql=...)) ---
    "q_raw_sql" -> ((s, dir) =>
      m(dir, "customer")
        .aggregate(
          groups = Seq(sql("substring(c_name, 1, 9)").named("name_prefix")),
          measures = Seq(count().named("n")))
        .sort(col("name_prefix"))
        .limit(20)
        .run(s)),

    // --- contains_any / contains_all (reference column_expression.py:602-622) ---
    "q_contains_any" -> ((s, dir) =>
      m(dir, "part")
        .filter(col("p_name").containsAny(Seq("green", "blue")) &&
          col("p_type").containsAll(Seq("PLATED", "BRASS")))
        .aggregate(measures = Seq(count().named("n")))
        .run(s)),

    // --- distinct(x) in pick context → SELECT DISTINCT ---
    "q_distinct_pick" -> ((s, dir) =>
      m(dir, "orders")
        .pick(distinct(col("o_orderpriority")))
        .sort(col("o_orderpriority"))
        .run(s)),

    // --- {{ name }} substitution in raw SQL fragments (sql_text.py:38-158),
    //     incl. a nested fragment-in-fragment reference ---
    "q_sql_template" -> ((s, dir) =>
      m(dir, "orders")
        .withAttributes(
          (col("o_totalprice") * (lit(1.0) - lit(0.1))).named("net"),
          sql("{{ net }} * 2").named("double_net"))
        .filter(sql("{{ double_net }} > 500000"))
        .aggregate(measures = Seq(count().named("n"),
          moneySum(col("o_totalprice")).named("total")))
        .run(s)),

    // --- `self.`-qualified references in raw fragments (sql_text.py:
    //     124-155 re-points `self` at the current query layer) ---
    "q_sql_self" -> ((s, dir) =>
      m(dir, "orders")
        .filter(sql(
          "self.o_totalprice * 2 > 500000 AND self.o_orderpriority = '1-URGENT'"))
        .aggregate(measures = Seq(count().named("n"),
          moneySum(col("o_totalprice")).named("total")))
        .run(s)),

    // --- CSV file connector (round-trips region through CSV) ---
    "q_csv_source" -> ((s, dir) => {
      val path = Fixtures.dir("region_csv", dir) { p =>
        s.read.parquet(s"$dir/region.parquet").coalesce(1)
          .write.option("header", "true").csv(p)
      }
      Model.csv(path)
        .pick(col("r_regionkey"), col("r_name"))
        .sort(col("r_regionkey"))
        .run(s)
    }),

    // --- JSON file connector (round-trips region through JSON lines) ---
    "q_json_source" -> ((s, dir) => {
      val path = Fixtures.dir("region_json", dir) { p =>
        s.read.parquet(s"$dir/region.parquet").coalesce(1).write.json(p)
      }
      Model.json(path)
        .pick(cast(col("r_regionkey"), "int").named("r_regionkey"), col("r_name"))
        .sort(col("r_regionkey"))
        .run(s)
    }),

    // --- xlsx file connector (pure-JDK codec; region written as a real
    //     workbook by the fixture encoder, read back through the Source
    //     seam — reference duckdb_connection.py:96-117 via pandas
    //     read_excel). The 5-row collect is the fixture ENCODER, not the
    //     query: spreadsheets are driver-sized by construction. ---
    "q_xlsx_source" -> ((s, dir) => {
      val path = Fixtures.files("region_xlsx", dir, "region.xlsx") { p =>
        val rows = s.read.parquet(s"$dir/region.parquet")
          .select("r_regionkey", "r_name").na.drop()
          .collect().sortBy(_.getInt(0))
          .map(r => Seq[Any](r.getInt(0).toLong, r.getString(1))).toSeq
        graft.sources.Xlsx.write(
          s"$p/region.xlsx", Seq("r_regionkey", "r_name"), rows)
      }
      Model.xlsx(path)
        .pick(cast(col("r_regionkey"), "int").named("r_regionkey"), col("r_name"))
        .sort(col("r_regionkey"))
        .run(s)
    }),

    // --- WARC crawl-container connector (Common Crawl's shard format;
    //     one task per shard, gzip members decompress in the task): the
    //     documents table round-trips through a REAL gzipped WARC file
    //     and reads back through the Model API. Oracle replays on the
    //     parquet original: content-identical by construction. ---
    "q_warc_source" -> ((s, dir) => {
      // fixture is deterministic per data dir — memoized so the bench
      // times the READER, not driver-side fixture (re)construction
      val path = Fixtures.files("docs_warc", dir, "docs.warc.gz") { p =>
        val rows = s.read.parquet(s"$dir/documents.parquet")
          .select("doc_id", "source", "text")
          .collect().sortBy(_.getLong(0)) // fixture-only driver collect
          .map(r => ("response",
            s"https://${r.getString(1)}.example/d/${r.getLong(0)}",
            "text/plain", r.getString(2).getBytes("UTF-8"))).toSeq
        graft.sources.Warc.write(s"$p/docs.warc.gz", rows)
      }
      Model.warc(path)
        .pick(col("url"), col("content_length"))
        .sort(col("url"))
        .run(s)
    }),

    // --- the CONTAINER-TO-CORPUS pipeline: gzipped WARC of real HTML
    //     payloads → payload decode → stripHtml → token-count gate →
    //     registrable-domain rollup — crawl ingestion end to end through
    //     the Model API, no pre-flattened table anywhere ---
    "q_warc_pipeline" -> ((s, dir) => {
      val path = Fixtures.files("pipe_warc", dir, "pipe.warc.gz") { p =>
        val rows = s.read.parquet(s"$dir/documents.parquet")
          .select("doc_id", "source", "text")
          .collect().sortBy(_.getLong(0)) // fixture-only driver collect
          .map { r =>
            val id = r.getLong(0)
            val html = "<html><head><title>Doc " + id +
              "</title><style type=\"text/css\">body { color: red; }</style></head>" +
              "<body><!-- id " + id + " --><h1>Doc&nbsp;" + id +
              "</h1><p class=\"main\">" + r.getString(2) +
              " &amp;lt; tail &lt;escaped&gt; &#39;q&#39;</p>" +
              "<script>if (1 < 2) { alert(\">\"); }</script></body></html>"
            ("response", s"https://${r.getString(1)}.example/d/$id",
              "text/html", html.getBytes("UTF-8"))
          }.toSeq
        graft.sources.Warc.write(s"$p/pipe.warc.gz", rows)
      }
      Model.warc(path)
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          df.withColumn("__clean__",
              graft.llm.TextOps.stripHtml(F.col("payload").cast("string")))
            .where(F.size(graft.llm.TextOps.tokens(F.col("__clean__"))) >= 12)
            .withColumn("__dom__",
              graft.llm.TextOps.urlParts(F.col("url")).getField("domain"))
            .groupBy(F.col("__dom__").as("domain"))
            .agg(F.count(F.lit(1)).as("n_kept"),
              F.sum(F.length(F.col("__clean__"))).as("n_chars"))
        }
        .sort(col("domain"))
        .run(s)
    }),

    // --- WET (extracted-text) crawl connector — the container-to-corpus
    //     pipeline without the HTML strip (WET payloads are already
    //     extracted text): 8-shard glob fixture (one task per shard,
    //     warcinfo headers skipped by the typed view), token-count
    //     quality gate, registrable-domain rollup. Oracle replays the
    //     gate + rollup on the parquet original (payloads are the
    //     documents' text verbatim). ---
    "q_wet_source" -> ((s, dir) =>
      Model.wet(wetGlob(s, dir))
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          df.where(F.size(graft.llm.TextOps.tokens(F.col("text"))) >= 12)
            .withColumn("__dom__",
              graft.llm.TextOps.urlParts(F.col("url")).getField("domain"))
            .groupBy(F.col("__dom__").as("domain"))
            .agg(F.count(F.lit(1)).as("n_kept"),
              F.sum(F.length(F.col("text"))).as("n_chars"))
        }
        .sort(col("domain"))
        .run(s)),

    // --- WAT (link-metadata) source — the crawl trio's third member:
    //     anchor links parsed straight from the JSON metadata records
    //     (codegen'd from_json, no HTML fetch/parse), per-target-host
    //     in-link stats over the absolute targets ---
    "q_wat_source" -> ((s, dir) =>
      Model.wat(watGlob(s, dir))
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          df.where(F.col("dst_url").rlike("^https?://"))
            .groupBy(F.regexp_extract(F.col("dst_url"), "^https://([^/]+)/", 1)
              .as("dst_host"))
            .agg(F.count(F.lit(1)).as("n_in"),
              F.countDistinct(F.col("src_url")).as("n_src_pages"))
        }
        .sort(col("dst_host"))
        .run(s)),

    // --- PageRank over the WAT link metadata: the extraction-free link
    //     graph real crawl-curation pipelines run (links come as data,
    //     never via HTML regex) — same edge set as q_pagerank_links by
    //     fixture construction, so the oracle is shared by reference ---
    "q_pagerank_wat" -> ((s, dir) =>
      Model.wat(watGlob(s, dir))
        .native { df =>
          val edges = graft.llm.Graph.linkEdges(df, "src_url", "dst_url")
          graft.llm.Graph.pageRankDomains(
            edges, "src_domain", "dst_domain", iterations = 3)
        }
        .sort(col("domain"))
        .run(s)),

    // --- ORC file connector (Spark-native columnar reader — pushdown and
    //     pruning like parquet; the fixture write is a distributed Spark
    //     write, not a driver-side encode). Oracle replays on the parquet
    //     original: content-identical by construction. ---
    "q_orc_source" -> ((s, dir) => {
      val path = Fixtures.dir("supplier_orc", dir) { p =>
        s.read.parquet(s"$dir/supplier.parquet")
          .select("s_suppkey", "s_name", "s_acctbal", "s_nationkey")
          .write.orc(p)
      }
      Model.orc(path)
        .filter(col("s_acctbal") > lit(5000))
        .aggregate(
          groups = Seq(col("s_nationkey")),
          measures = Seq(count().named("n"), moneySum(col("s_acctbal")).named("bal")))
        .sort(col("s_nationkey"))
        .run(s)
    }),

    // --- nested join namespace: orders → customer → nation without
    //     pre-materializing the inner join ---
    "q_join_nested" -> ((s, dir) => {
      val nation = m(dir, "nation").withPrimaryKey(col("n_nationkey"))
      val customer = m(dir, "customer").withPrimaryKey(col("c_custkey"))
        .withJoinOne(nation, named = "nation", foreignKey = col("c_nationkey"))
      val orders = m(dir, "orders")
        .withJoinOne(customer, named = "cust", foreignKey = col("o_custkey"))
      orders
        .aggregate(
          groups = Seq(orders.rel("cust").rel("nation").attr("n_name").named("nation_name")),
          measures = Seq(count().named("n")))
        .sort(col("nation_name"))
        .run(s)
    }),

    // --- segments pattern: distinct-group segment + semi-join filter +
    //     double aggregate (docs/pattern_guides/segments.md LTV) ---
    "q_segment_ltv" -> ((s, dir) => {
      val loyal = m(dir, "orders")
        .filter(col("o_orderpriority") === lit("1-URGENT"))
        .aggregate(groups = Seq(distinct(col("o_custkey")).named("loyal_key")))
      val orders = m(dir, "orders")
        .withJoinOne(loyal, named = "loyal",
          condition = col("o_custkey") === ColRef("loyal_key", Some("loyal")))
      orders
        .filter(ColRef("loyal_key", Some("loyal")) =!= Lit(null))
        .aggregate(
          groups = Seq(col("o_custkey")),
          measures = Seq(moneySum(col("o_totalprice")).named("total")))
        .aggregate(measures = Seq(
          (cast(sum(cast(col("total"), "decimal(18,6)")), "double") / count())
            .named("ltv"),
          count().named("n_customers")))
        .run(s)
    }),

    // --- timeframes pattern: weekly aggregate self-joined on prev_week for
    //     week-over-week comparison (docs/pattern_guides/timeframes.md) ---
    "q_timeframe_compare" -> ((s, dir) => {
      val weekly = m(dir, "orders")
        .aggregate(
          groups = Seq(
            col("o_orderdate").byWeek.named("week"),
            AddInterval(col("o_orderdate").byWeek, interval(7, "day"),
              negate = true).named("prev_week")),
          measures = Seq(moneySum(col("o_totalprice")).named("revenue")))
        .withPrimaryKey(col("week"))
      val joined = weekly.withJoinOne(weekly, named = "prev",
        foreignKey = col("prev_week"))
      joined
        .pick(
          col("week"),
          col("revenue").named("this_week"),
          joined.rel("prev").attr("revenue").named("last_week"),
          (col("revenue") - joined.rel("prev").attr("revenue")).named("wow_change"))
        .sort(col("week"))
        .run(s)
    }),

    // =============== event analytics (match_steps family) ===============

    // --- match_steps: per-user greedy step timestamps + last matched step ---
    // --- weekly retention cohorts, composed ENTIRELY through the public
    //     Model API (joinOne onto an aggregated cohort model + granularity
    //     + count-distinct): the classic product-analytics matrix ---
    "q_retention" -> ((s, dir) => {
      val cohorts = m(dir, "events")
        .aggregate(
          groups = Seq(col("user_id")),
          measures = Seq(min(col("ts").byWeek).named("cohort_week")))
        .withPrimaryKey(col("user_id"))
      val ev = m(dir, "events")
        .withJoinOne(cohorts, named = "cohort", foreignKey = col("user_id"),
          dropUnmatched = true)
      ev.aggregate(
          groups = Seq(
            ev.rel("cohort").attr("cohort_week").named("cohort_week"),
            floor(diffSeconds(col("ts").byWeek,
              ev.rel("cohort").attr("cohort_week")) / lit(604800))
              .named("week_offset")),
          measures = Seq(countDistinct(col("user_id")).named("active_users")))
        .sort(col("cohort_week")).sort(col("week_offset"))
        .run(s)
    }),

    // --- gap-based sessionization over the activity schema ---
    "q_sessionize" -> ((s, dir) =>
      m(dir, "events")
        .withActivitySchema(group = col("user_id"), timestamp = col("ts"),
          eventKey = col("event_type"))
        .sessionize(gapSeconds = 1800)
        .sort(col("user_id")).sort(col("session_start"))
        .run(s)),

    // --- sessionize composes with the relational layers (weekly rollup) ---
    "q_sessions_weekly" -> ((s, dir) =>
      m(dir, "events")
        .withActivitySchema(group = col("user_id"), timestamp = col("ts"),
          eventKey = col("event_type"))
        .sessionize(gapSeconds = 1800)
        .aggregate(
          groups = Seq(col("session_start").byWeek.named("week")),
          measures = Seq(count().named("n_sessions"),
            // integer sum / count: exact and order-independent
            (cast(sum(col("n_events")), "double") / count())
              .named("avg_events")))
        .sort(col("week"))
        .run(s)),

    "q_match_steps" -> ((s, dir) => {
      val matched = m(dir, "events")
        .withActivitySchema(group = col("user_id"), timestamp = col("ts"),
          eventKey = col("event_type"))
        .matchSteps(Seq[graft.model.StepSpec]("view", "click", "purchase"))
      matched.pick(
        col("user_id"),
        matched.rel("view").attr("ts").named("view_ts"),
        matched.rel("click").attr("ts").named("click_ts"),
        matched.rel("purchase").attr("ts").named("purchase_ts"),
        matched.attr("last_matched_step_name"),
        matched.attr("last_matched_step_index"))
        .sort(col("user_id"))
        .run(s)
    }),

    // --- the user-visible per-step event indices (reference
    //     match_steps.py:120-133): each matched event's 1-based position
    //     in its group's time-ordered event sequence. v3 pins the
    //     deterministic refinement of the reference's tie-arbitrary
    //     row_number: count of strictly-earlier events + 1, so
    //     same-instant ties collapse to the first slot (FunnelSpec) and
    //     the oracle can replay the exact values ---
    "q_match_steps_index" -> ((s, dir) => {
      val matched = m(dir, "events")
        .withActivitySchema(group = col("user_id"), timestamp = col("ts"),
          eventKey = col("event_type"))
        .matchSteps(Seq[graft.model.StepSpec]("view", "click", "purchase"))
      matched.pick(
        col("user_id"),
        col("step_0_event_index").named("view_index"),
        col("step_1_event_index").named("click_index"),
        col("step_2_event_index").named("purchase_index"))
        .sort(col("user_id"))
        .run(s)
    }),

    // --- the bloom-filter decontamination path in batch/backfill mode,
    //     gated on the property the filter GUARANTEES: no false
    //     negatives. Output = docs dropped by the bloom path that the
    //     exact path also drops; that equals the exact contaminated set
    //     iff nothing leaked through the bloom predicate (a single leak
    //     shrinks the intersection and fails the row/hash compare).
    //     False POSITIVES — bounded by fpp (default 1e-3 here; inflated
    //     on tiny filters by Spark's Murmur3 double-hashing — a separate
    //     experiment measured 4 over-drops even at nominal 1e-6) —
    //     cannot affect the output, which is what makes the oracle
    //     exact. The docs frame is cached: both paths' gram pipelines and
    //     both sides of each anti-join read it. ---
    // --- the round-10 streaming line dedup in batch/backfill mode: one
    //     state-function call per line hash over full history = the batch
    //     first-occurrence keep set, winner min(doc_id, line_ix). The
    //     oracle replays it as a row_number window over exploded lines ---
    "q_stream_line_dedup" -> ((s, dir) =>
      m(dir, "documents")
        .native(df => graft.streaming.Streams.streamingLineDedup(
          df, "doc_id", "text"))
        .sort(col("doc_id")).sort(col("line_ix"))
        .run(s)),

    "q_stream_decontam" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val docs = graft.llm.CacheScope.global.cache(
            df.where(F.col("doc_id").isNotNull))
          val eval = docs.where(F.col("doc_id") < 5)
            .select(F.col("doc_id").as("eval_id"), F.col("text"))
          val ids = docs.select(F.col("doc_id"))
          def dropped(kept: org.apache.spark.sql.DataFrame) =
            ids.join(kept.select(F.col("doc_id")), Seq("doc_id"), "left_anti")
          val bloomDropped = dropped(graft.streaming.Streams.streamingDecontaminate(
            docs, "text", eval, "text", n = 3, maxExactGrams = 0L))
          val exactDropped = dropped(graft.streaming.Streams.streamingDecontaminate(
            docs, "text", eval, "text", n = 3))
          bloomDropped.intersect(exactDropped)
        }
        .sort(col("doc_id"))
        .run(s)),

    // --- the STREAMING chain matcher in batch/backfill mode: update-mode
    //     emission over full history = one row per group whose chain
    //     matched step 0 — oracle-checkable because the frontier state
    //     machine is deterministic for any processing order ---
    "q_stream_chain" -> ((s, dir) =>
      m(dir, "events")
        .native(df => graft.streaming.Streams.streamingMatchSteps(
          df, "user_id", "ts", "event_type", Seq("view", "click", "purchase")))
        .sort(col("group"))
        .run(s)),

    // --- funnel (top_of_funnel as named total row) ---
    "q_funnel" -> ((s, dir) =>
      m(dir, "events")
        .withActivitySchema(col("user_id"), col("ts"), col("event_type"))
        .funnel(Seq[graft.model.StepSpec]("view", "click", "purchase"),
          topOfFunnel = "users")
        .run(s)),

    // --- funnel with time limit ---
    "q_funnel_time_limit" -> ((s, dir) =>
      m(dir, "events")
        .withActivitySchema(col("user_id"), col("ts"), col("event_type"))
        .funnel(Seq[graft.model.StepSpec]("view", "click", "purchase"),
          timeLimit = interval(7, "day"), topOfFunnel = "users")
        .run(s)),

    // --- funnel partitioned by start-event month ---
    "q_funnel_partition" -> ((s, dir) =>
      m(dir, "events")
        .withActivitySchema(col("user_id"), col("ts"), col("event_type"))
        .funnel(Seq[graft.model.StepSpec]("view", "click", "purchase"),
          partitionStartEvents = Seq(col("ts").byMonth.named("month")))
        .run(s)),

    // --- partitions AND time limit together: per-partition anchors pin
    //     each replica's chain start, the calendar cutoff then nulls late
    //     steps per (group, partition) — the combined codepath of the
    //     round-8 greedy_chain lowering ---
    "q_funnel_partition_limit" -> ((s, dir) =>
      m(dir, "events")
        .withActivitySchema(col("user_id"), col("ts"), col("event_type"))
        .funnel(Seq[graft.model.StepSpec]("view", "click", "purchase"),
          partitionStartEvents = Seq(col("ts").byMonth.named("month")),
          timeLimit = interval(7, "day"))
        .run(s)),

    // --- funnel grouped by partition_matches (cohort attribute of the
    //     matched model — reference model.py:548,689-692) ---
    "q_funnel_cohort" -> ((s, dir) =>
      m(dir, "events")
        .withActivitySchema(col("user_id"), col("ts"), col("event_type"))
        .funnel(Seq[graft.model.StepSpec]("view", "click", "purchase"),
          partitionMatches = Seq((col("user_id") floorDiv lit(50L)).named("cohort")))
        .run(s)),

    // --- funnel_conversion_rate ---
    "q_funnel_rate" -> ((s, dir) =>
      m(dir, "events")
        .withActivitySchema(col("user_id"), col("ts"), col("event_type"))
        .funnelConversionRate(Seq[graft.model.StepSpec]("view", "click", "purchase"))
        .run(s)),

    // --- conversion rate per cohort (partition_matches) ---
    "q_funnel_rate_cohort" -> ((s, dir) =>
      m(dir, "events")
        .withActivitySchema(col("user_id"), col("ts"), col("event_type"))
        .funnelConversionRate(Seq[graft.model.StepSpec]("view", "click", "purchase"),
          partitionMatches = Seq((col("user_id") floorDiv lit(50L)).named("cohort")))
        .run(s)),

    // --- funnel with calendar-unit time limit (cutoff = step0 + INTERVAL
    //     1 MONTH, calendar-aware — not 30-day seconds) ---
    "q_funnel_time_limit_month" -> ((s, dir) =>
      m(dir, "events")
        .withActivitySchema(col("user_id"), col("ts"), col("event_type"))
        .funnel(Seq[graft.model.StepSpec]("view", "click", "purchase"),
          timeLimit = interval(1, "month"), topOfFunnel = "users")
        .run(s)),

    // =============== LLM-data-pipeline operators (graft.llm) ===============

    // --- exact dedup stats: docs vs distinct normalized-text hashes ---
    "q_dedup_exact" -> ((s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.Dedup.exactStats(df, "source", "text"))
        .sort(col("source"))
        .run(s)),

    // --- block-level boilerplate removal: corpus-repeated 8-token blocks
    //     stripped from every doc, survivors reassembled in order ---
    "q_block_dedup" -> ((s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.Dedup.blockDedup(
          df, "doc_id", "text", blockSize = 8, maxCopies = 2))
        .sort(col("doc_id"))
        .run(s)),

    // --- feature-hashing doc vectors (hashing trick / HashingTF analog):
    //     md5-portable bucket assignment, fixed 64 dims, non-zero buckets
    //     verified per doc ---
    "q_hashed_tf" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          graft.llm.Search.hashedTfVectors(
            df.where(F.col("doc_id") < 300), "doc_id", "text", dims = 64)
            .select(F.col("doc_id"),
              F.posexplode(F.col("tf")).as(Seq("bucket", "tf")))
            .where(F.col("tf") > 0)
            .select(F.col("doc_id"),
              F.col("bucket").cast("long").as("bucket"), F.col("tf"))
        }
        .sort(col("doc_id")).sort(col("bucket"))
        .run(s)),

    // --- DSIR importance weights (Xie et al. 2023): hashed word
    //     unigram+bigram bag scored by the target/raw log-probability
    //     ratio in EXACT integer micro-bits (order-independent under any
    //     shuffle); target = the English slice, raw = the whole corpus.
    //     Fit is two ≤256-row count aggregates; serving probes the ratio
    //     table as a plan literal — zero serve-time joins. ---
    "q_dsir_weights" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          // hash the gram buckets ONCE into a cached feature frame; the
          // target counts, raw counts, serving fold, and n_grams all
          // read it (n_grams = the bucket array's size — free)
          graft.GraftExtensions.install(df.sparkSession)
          val feats = graft.llm.CacheScope.global.cache(
            df.where(F.col("text").isNotNull)
              .select(F.col("doc_id"), F.col("lang"),
                graft.llm.Dsir.gramBuckets(F.col("text"), 256).as("__bk__")))
          val llr = graft.llm.Dsir.fitLlrMicroOf(
            feats.where(F.col("lang") === "en"), feats, "__bk__", 256)
          feats.select(F.col("doc_id"),
            F.size(F.col("__bk__")).cast("long").as("n_grams"),
            graft.llm.Dsir.weightMicroOf(F.col("__bk__"), llr).as("weight_micro"))
        }
        .sort(col("doc_id"))
        .run(s)),

    // --- DSIR selection as a first-class wire-serializable Source: the
    //     TARGET slice rides as a sub-model (the upsampleMix weights
    //     pattern), the whole pipeline round-trips through toJson/fromJson
    //     before running. Keeps the k highest-importance documents,
    //     deterministically ranked (weight desc, id) — TakeOrdered cut,
    //     rank window only over the k-row result. ---
    "q_dsir_select" -> ((s, dir) => {
      val base = m(dir, "documents")
      val model = base
        .dsirSelect(
          target = base.filter(col("lang") === lit("en")),
          id = col("doc_id"), text = col("text"), k = 100)
        .sort(col("rank"))
      graft.wire.WireFormat.fromJson(graft.wire.WireFormat.toJson(model)).run(s)
    }),

    // --- token-budget corpus assembly, wire-first: each language gets
    //     floor(budget·weight+0.5) tokens and keeps its md5(doc_id)-ordered
    //     document prefix under the quota (the step that turns mixture
    //     weights into an actual ~budget-token corpus); weights ride as a
    //     sub-model and the whole pipeline round-trips the wire ---
    "q_token_budget" -> ((s, dir) => {
      val wts = Model.sqlQuery(
        """SELECT * FROM VALUES ('en', CAST(0.45 AS DOUBLE)), ('zh', 0.15),
             ('es', 0.15), ('de', 0.15), ('fr', 0.10) AS t(lang, weight)""")
      val model = m(dir, "documents")
        .tokenBudgetFill(wts, id = col("doc_id"), group = col("lang"),
          text = col("text"), budget = 12000L)
        .sort(col("doc_id"))
      graft.wire.WireFormat.fromJson(graft.wire.WireFormat.toJson(model)).run(s)
    }),

    // --- STREAMING token-budget admission backfill: the keyed-state
    //     twin of q_token_budget run over the whole corpus as one batch
    //     (per-group running token sums in state; within-batch ranking
    //     by the batch operator's (md5(id), id) order) — rows must be
    //     bit-identical to tokenBudgetFill's, so the oracle is shared
    //     by reference ---
    "q_stream_token_budget" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          graft.streaming.Streams.streamingTokenBudget(
            df, "doc_id", "lang", "text",
            Map("en" -> 0.45, "zh" -> 0.15, "es" -> 0.15, "de" -> 0.15,
              "fr" -> 0.10),
            budget = 12000L)
        }
        .sort(col("doc_id"))
        .run(s)),

    // --- corpus-LEVEL line dedup (CCNet shard dedup): identical banner /
    //     footer lines injected into every doc survive only at their
    //     first corpus occurrence; content lines repeat only where the
    //     corpus itself has duplicate docs ---
    "q_line_dedup_corpus" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val built = df.where(F.col("doc_id") < 200)
            .withColumn("__doc__", F.concat_ws("\n",
              F.lit("SITE NAV | Home | About"),
              F.expr("substring(text, 1, 60)"),
              F.lit("(c) example.org - all rights reserved"),
              F.expr("substring(text, 61, 60)")))
          graft.llm.Dedup.corpusLineDedup(built, "doc_id", "__doc__")
        }
        .sort(col("doc_id"))
        .run(s)),

    // --- duplicated-substring spans (Lee et al. 2022 shape): any >=8-word
    //     span occurring >=2 times anywhere in the corpus, at ANY
    //     alignment, merged to maximal per-doc spans ---
    "q_substr_spans" -> ((s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.Dedup.substringSpans(
          df, "doc_id", "text", minSpanWords = 8, minCopies = 2))
        .sort(col("doc_id"))
        .run(s)),

    // --- INCREMENTAL substring admission (batch): re-submitted docs
    //     (doc_id%9==3, ids +10000) match the persisted gram-posting
    //     index; every pairwise maximal match >= 8 words emits, hot
    //     grams cut by the pushed __gf__ cap at the postings scan ---
    "q_substr_admit" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val (_, tbl) = substrIndex(s, dir)
          val news = df
            .where(F.pmod(F.col("doc_id"), F.lit(9L)) === 3L)
            .select((F.col("doc_id") + 10000L).as("doc_id"), F.col("text"))
          graft.llm.Dedup.substringMatchesIndexed(news, "doc_id", "text",
            df.sparkSession.table(tbl), minMatchWords = 8,
            maxGramCopies = 64)
        }
        // match_words as the 4th key: two maximal matches on different
        // diagonals can share (left, right, start) with different lengths
        // — the 4-key sort is unique, so Spark and DuckDB row order agree
        .sort(col("left_id")).sort(col("right_id")).sort(col("match_start"))
        .sort(col("match_words"))
        .run(s)),

    // --- INCREMENTAL substring admission against an APPEND-MAINTAINED
    //     index (even half saved, odd half appended — delta postings +
    //     cumulative __gf__ + crossed-gram hot set, no rebuild): the
    //     appended artifact serves value-identically to q_substr_admit's
    //     rebuilt one, so the oracle is shared by reference ---
    "q_substr_admit_incr" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val (idxDir, tbl) = substrIncrIndex(s, dir)
          val news = df
            .where(F.pmod(F.col("doc_id"), F.lit(9L)) === 3L)
            .select((F.col("doc_id") + 10000L).as("doc_id"), F.col("text"))
          graft.llm.Dedup.substringMatchesIndexed(news, "doc_id", "text",
            graft.llm.Dedup.substringIndexPostings(s, tbl, idxDir,
              maxGramCopies = 64),
            minMatchWords = 8, maxGramCopies = 64)
        }
        .sort(col("left_id")).sort(col("right_id")).sort(col("match_start"))
        .sort(col("match_words"))
        .run(s)),

    // --- STREAMING substring admission, single-batch backfill: the
    //     HOF diagonal-run fold over per-pair position sets — value-
    //     identical to the batch window formulation (spec-pinned),
    //     shared oracle by reference ---
    "q_stream_substr_admit" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val (_, tbl) = substrIndex(s, dir)
          val news = df
            .where(F.pmod(F.col("doc_id"), F.lit(9L)) === 3L)
            .select((F.col("doc_id") + 10000L).as("doc_id"), F.col("text"))
          graft.streaming.Streams.streamingSubstringAdmission(news,
            "doc_id", "text", df.sparkSession.table(tbl),
            minMatchWords = 8, maxGramCopies = 64)
        }
        .sort(col("left_id")).sort(col("right_id")).sort(col("match_start"))
        .sort(col("match_words"))
        .run(s)),

    // --- MAXIMAL duplicated substrings (the suffix-array semantics
    //     substringSpans approximates): true pairwise maximal matches
    //     ≥ 8 words via the diagonal-run identity, hot grams capped at
    //     64 copies; per-doc merged coverage + the honest longest
    //     single match ---
    "q_substr_maximal" -> ((s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.Dedup.substringMaximalSpans(
          df, "doc_id", "text", minMatchWords = 8, maxGramCopies = 64))
        .sort(col("doc_id"))
        .run(s)),

    // --- apply substring dedup: strip every covered word, hash the
    //     reassembled survivors ---
    // Through the model-level Source.SubstringClean (wire-serializable
    // since round 10); WireFormatSpec round-trips the node, this row
    // gates the compiled lowering's values.
    "q_substr_clean" -> ((s, dir) =>
      m(dir, "documents")
        .substringClean(col("doc_id"), col("text"),
          minSpanWords = 8, minCopies = 2)
        .sort(col("doc_id"))
        .run(s)),

    // --- benchmark decontamination: word-3-gram overlap between "train"
    //     (doc_id >= 20) and a small "eval suite" (doc_id < 20) ---
    "q_contamination" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          graft.llm.Dedup.contamination(
            df.where(F.col("doc_id") >= 20), "doc_id", "text",
            df.where(F.col("doc_id") < 20), "doc_id", "text")
        }
        .sort(col("doc_id"))
        .run(s)),

    // --- PII scrubbing: deterministic injected PII, regex redaction,
    //     content-hash verification ---
    "q_pii_scrub" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          df.where(F.col("doc_id") < 100)
            .withColumn("__pii__", F.expr(
              """concat(text, ' contact user', cast(doc_id AS string),
                   '@mail.example.com from 10.0.',
                   cast(doc_id % 200 AS string), '.7 call +1555 ',
                   cast(1000000 + doc_id AS string))"""))
            .withColumn("__scrubbed__",
              graft.llm.TextOps.scrubPii(F.col("__pii__")))
            .select(F.col("doc_id"),
              F.md5(F.col("__scrubbed__").cast("binary")).as("scrub_md5"),
              F.length(F.col("__scrubbed__")).as("n_chars_scrubbed"))
        }
        .sort(col("doc_id"))
        .run(s)),

    // --- HTML → text extraction: deterministic HTML shell injected
    //     around each doc (script with a raw '<', comment, style, core
    //     entities incl. the &amp;lt; decode-order trap), stripped by the
    //     regex chain, content-hash verified ---
    "q_html_strip" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          df.where(F.col("doc_id") < 100)
            .withColumn("__html__", F.expr(
              """concat('<html><head><title>Doc ', cast(doc_id AS string),
                   '</title><style type="text/css">body { color: red; }</style></head>',
                   '<body><!-- id ', cast(doc_id AS string), ' --><h1>Doc&nbsp;',
                   cast(doc_id AS string), '</h1><p class="main">', text,
                   ' &amp;lt; tail &lt;escaped&gt; &#39;q&#39;</p>',
                   '<script>if (1 < 2) { alert(">"); }</script></body></html>')"""))
            .withColumn("__clean__",
              graft.llm.TextOps.stripHtml(F.col("__html__")))
            .select(F.col("doc_id"),
              F.md5(F.col("__clean__").cast("binary")).as("clean_md5"),
              F.length(F.col("__clean__")).as("n_chars"))
        }
        .sort(col("doc_id"))
        .run(s)),

    // --- Aho–Corasick keyword/blocklist scan: 6-phrase dictionary
    //     (incl. multi-word and self-overlapping phrases) matched in ONE
    //     text pass per row; per-lang total matches + matched-doc counts.
    //     The oracle replays the identical overlapping-count value per
    //     phrase via positional substring equality. ---
    "q_keyword_hits" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          graft.GraftExtensions.install(df.sparkSession)
          df.withColumn("__hits__", graft.llm.TextOps.keywordHits("text",
              Seq("table", "value fast", "part value", "spark", "a a", "row")))
            .groupBy(F.col("lang"))
            .agg(
              F.sum(F.col("__hits__")).as("n_matches"),
              F.sum(F.when(F.col("__hits__") > 0, 1L).otherwise(0L))
                .as("n_docs_matched"))
        }
        .sort(col("lang"))
        .run(s)),

    // --- Unicode NFC normalization (codegen'd native ≡ DuckDB
    //     nfc_normalize): crawl noise simulated by decomposing every 'a'
    //     into a + U+0301; per-lang changed-doc counts and the codepoint
    //     contraction NFC recovers ---
    "q_text_nfc" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          graft.GraftExtensions.install(df.sparkSession)
          // NOTE: built with a Scala literal, not Spark chr(769) — Spark's
          // chr() is ASCII-only (wraps mod 256), DuckDB's is full Unicode
          df.withColumn("__dec__",
              F.replace(F.col("text"), F.lit("a"), F.lit("a\u0301")))
            .withColumn("__nfc__", F.expr("nfc_normalize(__dec__)"))
            .groupBy(F.col("lang"))
            .agg(
              F.count(F.lit(1)).as("n_docs"),
              F.sum(F.when(F.col("__nfc__") =!= F.col("__dec__"), 1L)
                .otherwise(0L)).as("n_changed"),
              (F.sum(F.length(F.col("__dec__")))
                - F.sum(F.length(F.col("__nfc__")))).as("cp_delta"))
        }
        .sort(col("lang"))
        .run(s)),

    // --- MinHash + LSH near-dup pairs (banded bucket join, never all-pairs) ---
    "q_dedup_minhash" -> ((s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.Dedup.minhashPairs(df, "doc_id", "text"))
        .sort(col("doc_a")).sort(col("doc_b"))
        .run(s)),

    // --- EXACT Jaccard-threshold join (AllPairs/PPJoin prefix filter):
    //     zero false negatives — its oracle is the DEFINITION (all-pairs
    //     in DuckDB), so a hash match proves candidate completeness, a
    //     claim no minhash oracle can make ---
    "q_dedup_jaccard_exact" -> ((s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.Dedup.jaccardJoinExact(df, "doc_id", "text"))
        .sort(col("left_id")).sort(col("right_id"))
        .run(s)),

    // --- EXACT containment join (asymmetric prefix filter): truncated
    //     scrapes planted as substr(text, 1, 200) twins — Jaccard-blind
    //     pairs (short ⊂ long) that containment must catch; definition-
    //     level all-pairs oracle certifies completeness ---
    "q_dedup_containment" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val base = df.where(F.col("doc_id") < 150)
          val corpus = base
            .select((F.col("doc_id") * 2).as("doc_id"), F.col("text"))
            .unionAll(base.select((F.col("doc_id") * 2 + 1).as("doc_id"),
              F.substring(F.col("text"), 1, 200).as("text")))
          graft.llm.Dedup.containmentJoinExact(corpus, "doc_id", "text")
        }
        .sort(col("contained_id")).sort(col("container_id"))
        .run(s)),

    // --- MinHash with the hot-bucket cap engaged (the LSH skew guard):
    //     band buckets above the cap are dropped before the self-join —
    //     cap=2 provably bites at sf0.01, where the largest bucket holds 3
    //     docs, so this exercises the capped code path, not a no-op ---
    "q_dedup_minhash_skew" -> ((s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.Dedup.minhashPairs(df, "doc_id", "text",
          maxBucketSize = 2))
        .sort(col("doc_a")).sort(col("doc_b"))
        .run(s)),

    // --- boilerplate hot-bucket skew: 10% of docs share ONE text, so one
    //     LSH bucket per band holds n/10 docs and an uncapped self-join
    //     would emit C(n/10, 2) candidate pairs (124,750 at sf0.1). The
    //     bucket cap drops the degenerate bucket entirely — boilerplate is
    //     noise, not near-dups of interest — keeping candidates linear;
    //     the oracle replays the same injected corpus and cap. ---
    "q_dedup_boilerplate_skew" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val corpus = df.withColumn("text",
            F.when(F.col("doc_id") % 10 === 0, F.lit(BoilerplateText))
              .otherwise(F.col("text")))
          graft.llm.Dedup.minhashPairs(corpus, "doc_id", "text",
            maxBucketSize = 8)
        }
        .sort(col("doc_a")).sort(col("doc_b"))
        .run(s)),

    // --- cross-corpus near-dup JOIN: dedupe one corpus half against the
    //     other (the "new crawl vs existing cleaned corpus" shape) — band
    //     equi-join BETWEEN corpora, never all-pairs ---
    "q_dedup_cross" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          graft.llm.Dedup.minhashJoin(
            df.where(F.col("doc_id") % 2 === 0), "doc_id", "text",
            df.where(F.col("doc_id") % 2 === 1), "doc_id", "text")
        }
        .sort(col("left_id")).sort(col("right_id"))
        .run(s)),

    // --- INCREMENTAL dedup against a PERSISTED MinHash index: the odd
    //     half is indexed once (bucketed on the band hash — that shuffle
    //     is paid at ingest, and the saved layout satisfies the band
    //     join's clustering, so the index side plans zero exchanges),
    //     then the even "new crawl" slice hashes only itself and joins
    //     the saved table. Values = q_dedup_cross exactly (LlmSpec pins
    //     it), so the oracle is shared by reference. ---
    "q_dedup_incremental" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          // memoized index fixture: production pays the index build at
          // ingest, so the timed body here is the serve join only
          val tbl = oddMinhashIndex(s, df, dir)
          graft.llm.Dedup.minhashJoinIndexed(
            df.where(F.col("doc_id") % 2 === 0), "doc_id", "text",
            df.sparkSession.table(tbl))
        }
        .sort(col("left_id")).sort(col("right_id"))
        .run(s)),

    // --- STREAMING text MinHash near-dup admission backfill: the
    //     stream-static band join + per-doc dedupe state, run over the
    //     even "new crawl" slice as one batch against the same persisted
    //     MinHash index shape q_dedup_incremental builds — values must
    //     equal the batch indexed join (shared oracle by reference) ---
    "q_stream_minhash_neardup" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val tbl = oddMinhashIndex(s, df, dir)
          graft.streaming.Streams.streamingMinhashNearDup(
            df.where(F.col("doc_id") % 2 === 0), "doc_id", "text",
            df.sparkSession.table(tbl))
        }
        .sort(col("left_id")).sort(col("right_id"))
        .run(s)),

    // --- INDEX TAKEDOWN (opt-out / right-to-be-forgotten): remove the
    //     odd %3==0 docs from the persisted MinHash index (broadcast
    //     anti-join riding the zero-shuffle bucketed-compaction path,
    //     versioned dst), then serve the even slice — values must equal
    //     a join against an index that never held those docs (the
    //     oracle's right side simply excludes them) ---
    "q_dedup_takedown" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val tbl = oddMinhashIndex(s, df, dir)
          val dst = "minhash_takedown_" +
            Fixtures.dirKey(dir) + "_" + Fixtures.runTag
          graft.sources.ParquetIO.removeFromBucketed(
            s, tbl, "__id__",
            df.where(F.col("doc_id") % 2 === 1 && F.col("doc_id") % 3 === 0)
              .select(F.col("doc_id")),
            dst, s"/tmp/graft_takedown/$dst", "__bkey__", 8)
          graft.llm.Dedup.minhashJoinIndexed(
            df.where(F.col("doc_id") % 2 === 0), "doc_id", "text",
            df.sparkSession.table(dst))
        }
        .sort(col("left_id")).sort(col("right_id"))
        .run(s)),

    // --- the full maintenance loop ENDING IN THE ATOMIC SWAP: takedown
    //     → zero-shuffle compaction → promoteVersion re-points the
    //     serving name at the final version (one catalog op; in-flight
    //     readers keep their version) → the superseded intermediate
    //     retires → the admission join serves THROUGH the view. Values
    //     identical to serving the takedown table directly (compaction
    //     and the view alias are value-neutral) — oracle shared by
    //     reference with q_dedup_takedown ---
    "q_dedup_promote" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val tbl = oddMinhashIndex(s, df, dir)
          // every maintenance pass writes GENUINELY NEW versions (the
          // per-call counter): re-using a version name would overwrite
          // files a cached relation may still reference — exactly the
          // stale-read the versioned-artifact contract exists to prevent
          val tag = Fixtures.dirKey(dir) + "_" + Fixtures.runTag +
            "_v" + promoteSeq.incrementAndGet()
          val td = s"minhash_promo_td_$tag"
          graft.sources.ParquetIO.removeFromBucketed(
            s, tbl, "__id__",
            df.where(F.col("doc_id") % 2 === 1 && F.col("doc_id") % 3 === 0)
              .select(F.col("doc_id")),
            td, s"/tmp/graft_promote/$td", "__bkey__", 8)
          val cp = s"minhash_promo_cp_$tag"
          graft.sources.ParquetIO.compactBucketed(
            s, td, cp, s"/tmp/graft_promote/$cp", "__bkey__", 8)
          val serve = "minhash_promo_serve_" +
            Fixtures.dirKey(dir) + "_" + Fixtures.runTag
          val prev = graft.sources.ParquetIO.promoteVersion(s, serve, cp)
          graft.sources.ParquetIO.retireVersion(s, td)
          // GC the version this swap superseded (no in-flight readers
          // here — the serve query below plans against the NEW version)
          prev.filter(p => p != cp && s.catalog.tableExists(p))
            .foreach(p => graft.sources.ParquetIO.retireVersion(s, p))
          graft.llm.Dedup.minhashJoinIndexed(
            df.where(F.col("doc_id") % 2 === 0), "doc_id", "text",
            df.sparkSession.table(serve))
        }
        .sort(col("left_id")).sort(col("right_id"))
        .run(s)),

    // --- corpus SNAPSHOT DIFF (the lineage report an incremental
    //     pipeline publishes per version): old = %7!=0 slice, new =
    //     %5!=0 slice with %3==0 texts revised — statuses + content
    //     hashes per id through one full outer join. First-class IR
    //     with the new snapshot as a sub-model — the query runs
    //     THROUGH toJson/fromJson. ---
    "q_corpus_diff" -> ((s, dir) => {
      val nw = m(dir, "documents").filter(graft.funcs.sql("doc_id % 5 <> 0"))
      val model = m(dir, "documents")
        .filter(graft.funcs.sql("doc_id % 7 <> 0"))
        .corpusDiff(nw,
          col("doc_id"), col("text"),
          col("doc_id"),
          graft.funcs.sql("CASE WHEN doc_id % 3 = 0 " +
            "THEN concat(text, ' v2') ELSE text END"))
        .sort(col("doc_id"))
      graft.wire.WireFormat.fromJson(graft.wire.WireFormat.toJson(model)).run(s)
    }),

    // --- STREAMING corpus snapshot diff (q_corpus_diff's continuous
    //     twin, run as single-batch backfill): each arriving new-
    //     snapshot id verdicts against the old snapshot via one
    //     stream-static left join — added/changed/unchanged per id;
    //     'removed' stays with the batch pass (absence needs snapshot
    //     close). Oracle = the batch diff restricted to the new side ---
    "q_stream_corpus_diff" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          graft.streaming.Streams.streamingCorpusDiff(
            df.where(F.col("doc_id") % 5 =!= 0)
              .select(F.col("doc_id"),
                F.when(F.col("doc_id") % 3 === 0,
                  F.concat(F.col("text"), F.lit(" v2")))
                  .otherwise(F.col("text")).as("text")),
            "doc_id", "text",
            df.where(F.col("doc_id") % 7 =!= 0)
              .select(F.col("doc_id"), F.col("text")))
        }
        .sort(col("doc_id"))
        .run(s)),

    // --- corpus DATASHEET report (the per-slice summary a dataset
    //     release publishes): docs / tokens / chars / distinct texts /
    //     dup rate by (lang, source); duplicates planted on %10<3 docs
    //     (per-source banner) so the rate is non-trivial. First-class
    //     IR — the query runs THROUGH toJson/fromJson. ---
    "q_corpus_report" -> ((s, dir) => {
      val model = m(dir, "documents")
        .corpusReport(
          graft.funcs.sql("CASE WHEN doc_id % 10 < 3 THEN " +
            "concat('Standard banner for ', source) ELSE text END"),
          col("lang"), col("source"))
        .sort(col("lang")).sort(col("source"))
      graft.wire.WireFormat.fromJson(graft.wire.WireFormat.toJson(model)).run(s)
    }),

    // --- PARAGRAPH-level near-dup dedup (the Dolma/CCNet stage below
    //     document granularity): both engines synthesize 3 paragraphs
    //     per doc — a per-source shared banner (exact dups the detector
    //     must find) plus two content slices — then the UNCHANGED
    //     MinHash pipeline runs on the paragraph frame; the oracle
    //     reuses the minhash replay with a paragraph corpusSql ---
    "q_dedup_paragraph" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val base = df.where(F.col("doc_id") < 100)
          val paras = base.select((F.col("doc_id") * 4).as("para_id"),
              F.concat(F.lit("Shared banner text for source "),
                F.col("source"),
                F.lit(" repeated on every page")).as("ptext"))
            .unionByName(base.select(
              (F.col("doc_id") * 4 + 1).as("para_id"),
              F.expr("substring(text, 1, 150)").as("ptext")))
            .unionByName(base.select(
              (F.col("doc_id") * 4 + 2).as("para_id"),
              F.expr("substring(text, 121, 150)").as("ptext")))
          graft.llm.Dedup.minhashPairs(paras, "para_id", "ptext")
        }
        .sort(col("doc_a")).sort(col("doc_b"))
        .run(s)),

    // --- SimHash near-dup pairs (byte-band blocking, exact for hamming<=3) ---
    "q_dedup_simhash" -> ((s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.Dedup.simhashPairs(df, "doc_id", "text"))
        .sort(col("doc_a")).sort(col("doc_b"))
        .run(s)),

    // --- char n-gram Jaccard near-dups with winnowing-fingerprint blocking ---
    "q_dedup_ngram" -> ((s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.Dedup.charNgramPairs(df, "doc_id", "text"))
        .sort(col("doc_a")).sort(col("doc_b"))
        .run(s)),

    // --- winnowing recall knob: bottom-2 fingerprints per doc (candidate
    //     pairs share ANY of the 2 smallest window hashes — a strict
    //     superset of the single-fingerprint candidates) ---
    "q_dedup_ngram_k" -> ((s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.Dedup.charNgramPairs(df, "doc_id", "text",
          numFingerprints = 2))
        .sort(col("doc_a")).sort(col("doc_b"))
        .run(s)),

    // --- transitive near-dup clustering (connected components over the
    //     verified MinHash pairs; keep-one-per-cluster labeling) ---
    "q_dedup_clusters" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          val pairs = graft.llm.Dedup.minhashPairs(df, "doc_id", "text")
          graft.llm.Dedup.clusterPairs(pairs, "doc_a", "doc_b")
        }
        .sort(col("doc_id"))
        .run(s)),

    // --- link-graph PageRank (crawl authority prior): deterministic
    //     integer fixed-point power iteration over a wrapping synthetic
    //     link fixture (0..4 out-links per doc by doc_id%5 — %5==0 docs
    //     exercise the dangling path; dst wraps mod n so in-degree varies
    //     per node). All-integer shares make every iteration exactly
    //     replayable — the oracle unrolls the 5 rounds as chained CTEs. ---
    "q_pagerank" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val n = df.count() // bounded model parameter (node-space modulus)
          val edges = df.select(F.col("doc_id"))
            .withColumn("j", F.explode(F.sequence(F.lit(1L), F.lit(4L))))
            .where(F.col("j") <= F.pmod(F.col("doc_id"), F.lit(5L)))
            .select(F.col("doc_id").as("src"),
              F.pmod(F.col("doc_id") * F.lit(31L) + F.col("j") * F.lit(17L),
                F.lit(n)).as("dst"))
          graft.llm.Graph.pageRank(edges, "src", "dst", iterations = 5)
        }
        .sort(col("node"))
        .run(s)),

    // --- INCREMENTAL link-graph maintenance: the persisted artifact
    //     (base edges j∈1..2, ranks converged 5 rounds — memoized
    //     fixture) takes an edge DELTA (j∈3..4) and WARM-STARTS 2
    //     integer rounds from the stored ranks; new nodes seed cold.
    //     The timed body is the incremental path only — no cold refit,
    //     flat vs the full fit as the graph grows ---
    "q_pagerank_incr" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val idxDir = pageRankIndex(s, dir)
          val n = df.count() // bounded model parameter (node-space modulus)
          val delta = df.select(F.col("doc_id"))
            .withColumn("j", F.explode(F.sequence(F.lit(3L), F.lit(4L))))
            .where(F.col("j") <= F.pmod(F.col("doc_id"), F.lit(5L)))
            .select(F.col("doc_id").as("src"),
              F.pmod(F.col("doc_id") * F.lit(31L) + F.col("j") * F.lit(17L),
                F.lit(n)).as("dst"))
          graft.llm.Graph.pageRankWarmRanks(s, idxDir, iterations = 2,
            extraEdges = Some(delta))
        }
        .sort(col("node"))
        .run(s)),

    // --- HITS hub/authority over the same link fixture: the 2-D link
    //     signal next to PageRank (hubs = link-list/nav pages,
    //     authorities = linked-to content). Integer max-normalized fixed
    //     point — merge-order independent, every round exactly replayable
    //     (the oracle unrolls 3 rounds with max subqueries). ---
    "q_hits" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val n = df.count() // bounded model parameter (node-space modulus)
          val edges = df.select(F.col("doc_id"))
            .withColumn("j", F.explode(F.sequence(F.lit(1L), F.lit(4L))))
            .where(F.col("j") <= F.pmod(F.col("doc_id"), F.lit(5L)))
            .select(F.col("doc_id").as("src"),
              F.pmod(F.col("doc_id") * F.lit(31L) + F.col("j") * F.lit(17L),
                F.lit(n)).as("dst"))
          graft.llm.Graph.hits(edges, "src", "dst", iterations = 3)
        }
        .sort(col("node"))
        .run(s)),

    // --- the crawl-to-authority pipeline END TO END: gzipped WARC of
    //     HTML pages with real <a href> anchors (both quote styles,
    //     plus relative/javascript noise links) → extractLinks regex
    //     pass → registrable-domain edges → 3 PageRank rounds over the
    //     domain graph. Closes the "synthetic edges inside the query"
    //     gap: the graph ops consume the corpus they're motivated by.
    //     Oracle replays the deterministic link construction on the
    //     parquet original (content-identical by construction, the
    //     q_warc_pipeline pattern) + 3 unrolled integer rounds. ---
    "q_pagerank_links" -> ((s, dir) => {
      val path = linksWarcGlob(s, dir)
      Model.warc(path)
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val pages = df.where(F.col("warc_type") === F.lit("response"))
            .withColumn("__html__", F.col("payload").cast("string"))
          val edges = graft.llm.Graph.extractLinks(pages, "url", "__html__")
          graft.llm.Graph.pageRankDomains(
            edges, "src_domain", "dst_domain", iterations = 3)
        }
        .sort(col("domain"))
        .run(s)
    }),

    // --- HITS over the same REAL extracted link graph (shares the
    //     memoized WARC fixture): hub/authority per registrable domain,
    //     the 2-D twin of q_pagerank_links ---
    "q_hits_links" -> ((s, dir) => {
      val path = linksWarcGlob(s, dir)
      Model.warc(path)
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val pages = df.where(F.col("warc_type") === F.lit("response"))
            .withColumn("__html__", F.col("payload").cast("string"))
          val edges = graft.llm.Graph.extractLinks(pages, "url", "__html__")
          graft.llm.Graph.hitsDomains(
            edges, "src_domain", "dst_domain", iterations = 3)
        }
        .sort(col("domain"))
        .run(s)
    }),

    // --- HyperLogLog distinct sketch (engine-portable registers): the
    //     100 TB answer to count(distinct) — at most 2^p rows per group
    //     cross the wire. All register math is integer (md5 buckets,
    //     bit-length ranks, power-of-two sums), so the DuckDB oracle
    //     replays the registers bit-for-bit and the estimator is ONE
    //     shared SQL string on both engines; n_exact sits alongside as
    //     the accuracy baseline. ---
    "q_hll_distinct" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val sk = graft.llm.Sketch.hllDistinct(df, Seq("lang"), F.col("text"))
          df.groupBy(F.col("lang"))
            .agg(F.countDistinct(F.col("text")).as("n_exact"))
            .join(sk, Seq("lang"))
        }
        .sort(col("lang"))
        .run(s)),

    // --- HLL corpus-overlap (train/holdout contamination at cardinality
    //     scale): |A∩B| by inclusion–exclusion over bucket-wise-MAX-merged
    //     registers — one pass per corpus, 3·2^p register rows total,
    //     never a distinct shuffle. Exact counts sit alongside; the
    //     intersect arithmetic is ONE shared SQL string over already-
    //     rounded estimates, so the doubles are bit-identical. ---
    "q_hll_overlap" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val a = df.where(F.col("doc_id") % 3 =!= 0)
          val b = df.where(F.col("doc_id") % 2 === 0)
          val est = graft.llm.Sketch.hllOverlap(a, b, F.col("text"))
          val ex = a.select(F.col("text")).intersect(b.select(F.col("text")))
            .agg(F.count(F.lit(1)).as("n_inter_exact"))
            .crossJoin(a.agg(F.countDistinct(F.col("text")).as("n_a_exact")))
            .crossJoin(b.agg(F.countDistinct(F.col("text")).as("n_b_exact")))
          ex.crossJoin(est)
            .select(F.col("n_a_exact"), F.col("n_b_exact"),
              F.col("n_inter_exact"), F.col("est_a"), F.col("est_b"),
              F.col("est_union"), F.col("est_intersect"))
        }
        .run(s)),

    // --- count-min frequency sketch (mergeable d×w counter matrix): term
    //     frequencies asked against a dictionary too large to count
    //     exactly — d·w rows cross the wire regardless of corpus size,
    //     probes join the broadcast matrix. Estimates are one-sided
    //     (never under the true count); the exact top-20 recount anchors
    //     the accuracy. All integer → bit-exact DuckDB replay. ---
    "q_cms_freq" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          // cached: the token frame feeds BOTH the sketch build and the
          // exact top-20 anchor (Spark does not share uncached subplans)
          val toks = graft.llm.CacheScope.global.cache(df
            .select(F.explode(graft.llm.TextOps.tokens(F.col("text")))
              .as("token"))
            .where(F.col("token") =!= ""))
          val counters = graft.llm.Sketch.cmsCounters(toks, F.col("token"))
          val top = toks.groupBy(F.col("token"))
            .agg(F.count(F.lit(1)).as("n_exact"))
            .orderBy(F.col("n_exact").desc, F.col("token"))
            .limit(20)
          graft.llm.Sketch.cmsEstimate(counters, top, "token")
            .join(top, Seq("token"))
            .select(F.col("token"), F.col("n_exact"), F.col("cms_estimate"))
        }
        .sort(col("token"))
        .run(s)),

    // --- HLL register rollup (the pre-aggregated sketch-cube pattern):
    //     registers built per (lang, slice) answer the per-lang distinct
    //     by bucket-wise max — register-EXACT, so the rollup estimate
    //     equals the direct sketch bit-for-bit (both columns returned;
    //     the oracle replays both paths and DuckDB must agree) ---
    "q_hll_rollup" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val fine = df.withColumn("slice", F.pmod(F.col("doc_id"), F.lit(4L)))
          val regs = graft.llm.Sketch.hllRegisters(
            fine, Seq("lang", "slice"), F.col("text"), 8)
          val rolled = graft.llm.Sketch.hllRollup(regs, Seq("lang"), 8)
            .select(F.col("lang"), F.col("hll_estimate").as("est_rollup"))
          val direct = graft.llm.Sketch.hllDistinct(df, Seq("lang"), F.col("text"))
            .select(F.col("lang"), F.col("hll_estimate").as("est_direct"))
          val exact = df.groupBy(F.col("lang"))
            .agg(F.countDistinct(F.col("text")).as("n_exact"))
          rolled.join(direct, Seq("lang")).join(exact, Seq("lang"))
        }
        .sort(col("lang"))
        .run(s)),

    // --- sampled quantiles (deterministic hash-cutoff sample + exact
    //     interpolated percentile over the survivors): the 100 TB
    //     percentile — a count aggregate sizes the per-group cutoff, the
    //     kept SET is a pure md5 filter both engines replay bit-for-bit,
    //     and the sort happens on ~2000 rows per group. Exact percentiles
    //     alongside anchor the sampling error. ---
    "q_quantile_sample" -> ((s, dir) =>
      m(dir, "lineitem")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val sampled = graft.llm.Sketch.sampledQuantiles(
            df, Seq("l_returnflag"),
            F.col("l_orderkey") * F.lit(8L) + F.col("l_linenumber"),
            F.col("l_extendedprice"),
            Seq("p50_s" -> 0.5, "p90_s" -> 0.9, "p99_s" -> 0.99), 2000L)
          val exact = df.groupBy(F.col("l_returnflag")).agg(
            F.round(F.percentile(F.col("l_extendedprice").cast("double"),
              F.lit(0.5)) + F.lit(0.0), 6).as("p50_x"),
            F.round(F.percentile(F.col("l_extendedprice").cast("double"),
              F.lit(0.9)) + F.lit(0.0), 6).as("p90_x"),
            F.round(F.percentile(F.col("l_extendedprice").cast("double"),
              F.lit(0.99)) + F.lit(0.0), 6).as("p99_x"))
          sampled.join(exact, Seq("l_returnflag"))
        }
        .sort(col("l_returnflag"))
        .run(s)),

    // --- deterministic hash sampling (repeatable corpus subsetting) ---
    // --- per-group corpus rebalancing: deterministic stratified sample ---
    "q_stratified_sample" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          df.where(graft.llm.TextOps.stratifiedSample(F.col("text"), F.col("lang"),
              Map("en" -> 10.0, "de" -> 50.0, "zh" -> 100.0),
              defaultPercent = 25.0))
            .groupBy(F.col("lang"))
            .agg(F.count(F.lit(1)).as("n"))
        }
        .sort(col("lang"))
        .run(s)),

    // --- Gopher-style quality gates (the published web-corpus rule
    //     family): per-rule booleans + conjunction, replayed rule-for-rule
    //     by the oracle ---
    "q_quality_gates" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          df.withColumn("__toks__", graft.llm.TextOps.tokens(F.col("text")))
            .withColumn("__g__", graft.llm.TextOps.gopherGates("__toks__"))
            .select(F.col("doc_id"), F.col("__g__.word_count_ok"),
              F.col("__g__.mean_word_len_ok"), F.col("__g__.symbol_ok"),
              F.col("__g__.alpha_ok"), F.col("__g__.stopword_ok"),
              F.col("__g__.pass"))
        }
        .sort(col("doc_id"))
        .run(s)),

    // --- fastText-style linear classifier (bag-of-words logistic
    //     regression, 3 full-batch GD steps): indicator features make
    //     the logit exact, sigmoids round to 6dp, gradients accumulate
    //     as exact integer micro-units (order-independent), weights
    //     re-round 6dp per step — the whole TRAINING loop replays in
    //     DuckDB bit-for-bit. One aggregate per iteration. ---
    "q_text_classifier" -> ((s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.Classifier.fitLogistic(
          df, "text", labelWord = "spark",
          featureWords = Seq("sql", "query", "join", "hash", "table",
            "vector", "stream"),
          iters = 3))
        .sort(col("feature"))
        .run(s)),

    // --- classifier SERVING: learned weights frozen into the plan as
    //     literals, scoring is a pure per-row projection (zero joins) ---
    "q_classifier_score" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val words = Seq("sql", "query", "join", "hash", "table",
            "vector", "stream")
          val w = graft.llm.Classifier.fitWeights(
            df, "text", "spark", words, iters = 3)
          df.select(F.col("doc_id"),
            graft.llm.Classifier.scoreLogistic(F.col("text"), words, w).as("p"))
            .withColumn("pred", F.col("p") >= 0.5)
        }
        .sort(col("doc_id"))
        .run(s)),

    // --- language-ID confidence margins (the ABSTAIN signal): per true
    //     lang, how many docs identify confidently (top-2 stopword-score
    //     gap >= 2) vs tie at 0 — pure integer arithmetic ---
    "q_langid_margin" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          df.withColumn("__toks__", graft.llm.TextOps.tokens(F.col("text")))
            .withColumn("__m__", graft.llm.TextOps.langIdMargin("__toks__"))
            .groupBy(F.col("lang"))
            .agg(F.count(F.lit(1)).as("n_docs"),
              F.sum(F.when(F.col("__m__") >= 2, 1L).otherwise(0L))
                .as("n_confident"),
              F.sum(F.when(F.col("__m__") === 0, 1L).otherwise(0L))
                .as("n_abstain"))
        }
        .sort(col("lang"))
        .run(s)),

    // --- per-doc n-gram NOVELTY (memorization-risk dual of the dedup
    //     detectors): fraction of positional 8-grams occurring exactly
    //     once corpus-wide; one cached hashing pass, corpus-shrunk
    //     duplicated-gram dictionary join ---
    "q_ngram_novelty" -> ((s, dir) =>
      m(dir, "documents")
        .native(df =>
          graft.llm.Dedup.ngramNovelty(df, "doc_id", "text", k = 8))
        .sort(col("doc_id"))
        .run(s)),

    // --- CANONICAL exact dedup: among exact duplicates keep the copy
    //     maximizing the 6dp quality score (ties → lowest id) — the
    //     keep-the-BEST-copy policy, one struct-min aggregate ---
    "q_dedup_canonical" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          // dedup on a 5-word prefix so hash groups actually collide at
          // sf0.01 (full texts are all distinct there) while the quality
          // priority still ranks the FULL documents
          val withQ = df
            .withColumn("__toks__", graft.llm.TextOps.tokens(F.col("text")))
            .withColumn("quality", graft.llm.TextOps.qualityScore("__toks__"))
            .withColumn("__key__",
              F.concat_ws(" ", F.slice(F.col("__toks__"), 1, 5)))
          graft.llm.Dedup.exactCanonical(withQ, "doc_id", "__key__", "quality")
        }
        .sort(col("doc_id"))
        .run(s)),

    // --- corpus drift: add-α-smoothed unigram KL divergence between two
    //     corpus slices (crawl-snapshot / filter-stage distribution-shift
    //     monitor); per-term integer nano-nats, one 6dp division ---
    //     ... expressed through the Model API with the comparison slice
    //     riding the wire as a sub-model, run THROUGH toJson/fromJson
    "q_corpus_drift" -> ((s, dir) => {
      val model = m(dir, "documents")
        .filter(col("lang") === lit("en"))
        .corpusDrift(
          m(dir, "documents").filter(col("lang") === lit("de")),
          col("text"), col("text"))
      graft.wire.WireFormat.fromJson(graft.wire.WireFormat.toJson(model)).run(s)
    }),

    // --- per-term drift attribution: the 15 words contributing most to
    //     the en↔de divergence, signed nano-nat terms (sum = kl_nats) ---
    "q_drift_terms" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          graft.llm.TextOps.driftTerms(
            df.where(F.col("lang") === "en"),
            df.where(F.col("lang") === "de"), "text", k = 15)
        }
        .sort(col("word"))
        .run(s)),

    // --- SEMANTIC decontamination: max cosine of every corpus vector
    //     against the 8-vector eval suite frozen into the plan as float
    //     literals (zero joins) — flags the paraphrased leakage n-gram
    //     overlap misses; each cosine rounds 6dp before the max ---
    //     ... expressed through the public Model API with the eval suite
    //     riding the wire AS A SUB-MODEL, run THROUGH toJson/fromJson
    "q_semantic_decontam" -> ((s, dir) => {
      val evalModel = m(dir, "embeddings").filter(col("vec_id") < lit(8L))
      val model = m(dir, "embeddings")
        .filter(col("vec_id") >= lit(8L))
        .semanticDecontam(evalModel, col("vec_id"), col("embedding"),
          col("embedding"), threshold = 0.35)
        .sort(col("vec_id"))
      graft.wire.WireFormat.fromJson(graft.wire.WireFormat.toJson(model)).run(s)
    }),

    // --- markdown → text extraction over deterministically synthesized
    //     markdown (headings, bold, links, images, fenced code, quotes,
    //     inline code); the oracle builds the SAME documents and replays
    //     the regex chain ---
    "q_markdown_strip" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val nl = F.lit("\n")
          val md = F.concat(
            F.lit("# "), F.expr("substring(text, 1, 20)"), nl,
            F.lit("**"), F.expr("substring(text, 21, 15)"), F.lit("** and ["),
            F.expr("substring(text, 40, 10)"), F.lit("](http://ex.com/"),
            F.col("doc_id").cast("string"), F.lit(")"), nl,
            F.lit("```"), nl, F.expr("substring(text, 5, 12)"), nl,
            F.lit("```"), nl,
            F.lit("> "), F.expr("substring(text, 60, 20)"), F.lit(" `"),
            F.expr("substring(text, 30, 6)"), F.lit("`"))
          val clean = graft.llm.TextOps.stripMarkdown(md)
          df.select(F.col("doc_id"), F.length(md).as("n_in"),
            F.length(clean).as("n_out"),
            F.md5(clean.cast("binary")).as("clean_md5"))
        }
        .sort(col("doc_id"))
        .run(s)),

    // --- corpus profile (the "dataset card" rollup): per-source doc /
    //     lang / token counts, exact-decimal mean quality, Gopher pass
    //     rate — many signals, ONE corpus scan, one aggregate ---
    "q_corpus_profile" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          df.withColumn("__toks__", graft.llm.TextOps.tokens(F.col("text")))
            .withColumn("__q__", graft.llm.TextOps.qualityScore("__toks__"))
            .withColumn("__p__",
              graft.llm.TextOps.gopherGates("__toks__").getField("pass"))
            .groupBy(F.col("source"))
            .agg(
              F.count(F.lit(1)).as("n_docs"),
              F.countDistinct(F.col("lang")).as("n_langs"),
              F.sum(F.size(F.col("__toks__")).cast("long")).as("total_tokens"),
              F.round(F.sum(F.col("__q__").cast("decimal(27,8)")).cast("double")
                / F.count(F.lit(1)), 6).as("mean_quality"),
              F.round(F.sum(F.when(F.col("__p__"), 1L).otherwise(0L))
                .cast("double") / F.count(F.lit(1)), 6).as("gopher_pass_rate"))
        }
        .sort(col("source"))
        .run(s)),

    // --- exact ROC AUC (Mann–Whitney with tie handling) of the quality
    //     score against a keyword label — the calibration metric a
    //     quality-classifier gate is tuned by; integer numerator over the
    //     bounded distinct-score frame, one 6dp division ---
    "q_classifier_auc" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val scored = df
            .withColumn("__toks__", graft.llm.TextOps.tokens(F.col("text")))
            .select(
              graft.llm.TextOps.qualityScore("__toks__").as("score"),
              F.array_contains(F.col("__toks__"), "spark").as("label"))
          graft.llm.Classifier.auc(scored, "score", "label")
        }
        .run(s)),

    // --- jusText-style boilerplate LINE stripping (Pomikálek 2011's
    //     context-free length + stopword-density rules, INTEGER density
    //     compare): multi-line docs built from the corpus on both
    //     engines; the cleaned text gates through its md5 ---
    // ... expressed through the public Model API (Source.BoilerplateStrip)
    //     and run THROUGH the wire codec — line stripping is a
    //     first-class, shippable pipeline op.
    "q_boilerplate" -> ((s, dir) => {
      val doc = sql("concat_ws('\\n', 'Home | About | Contact Us', " +
        "substring(text, 1, 180), 'Buy now', substring(text, 181, 60), " +
        "'Copyright 2024 All rights reserved')")
      val stops = graft.llm.TextOps.LangProfiles.flatMap(_._2).distinct
      val model = m(dir, "documents")
        .boilerplateStrip(col("doc_id"), doc, stops)
        .pick(col("doc_id"), col("n_lines"), col("n_content"),
          col("boilerplate_frac"),
          sql("md5(cast(clean AS binary))").named("clean_md5"))
        .sort(col("doc_id"))
      graft.wire.WireFormat.fromJson(graft.wire.WireFormat.toJson(model)).run(s)
    }),

    // --- interpolated Kneser–Ney WORD-bigram LM perplexity (Kneser &
    //     Ney 1995; Chen & Goodman 1998; the KenLM smoothing CCNet
    //     scores with): trained on the doc_id%4=0 trusted slice, scoring
    //     every doc; the P formula is ONE shared SQL string on both
    //     engines (bit-identical IEEE order), per-bigram integer
    //     micro-bits, 30-bit OOV penalty ---
    "q_lm_kn" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          graft.llm.LangModel.knBigramScore(
            df, df.where(F.col("doc_id") % 4 === 0), "doc_id", "text")
        }
        .sort(col("doc_id"))
        .run(s)),

    // --- interpolated KN TRIGRAM perplexity (KenLM shape: order-3 with
    //     full recursive continuation-count backoff, D = 0.75; all
    //     lower-order tables derive from the one trigram-count table) —
    //     layered shared-formula strings keep both engines IEEE-identical
    //     per level, integer micro-bit terms keep sums order-free ---
    "q_lm_kn3" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          graft.llm.LangModel.knTrigramScore(
            df, df.where(F.col("doc_id") % 4 === 0), "doc_id", "text")
        }
        .sort(col("doc_id"))
        .run(s)),

    // --- interpolated KN 5-GRAM perplexity (KenLM's DEFAULT order): the
    //     generated per-level formula chain — one raw 5-gram pass, every
    //     lower level's continuation counts derived recursively, 9
    //     vocabulary-bounded model joins; oracle CTEs GENERATED from the
    //     same order parameter (knNgramOracle(5)) so the two engines
    //     cannot desynchronize ---
    "q_lm_kn5" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          graft.llm.LangModel.knNgramScore(
            df, df.where(F.col("doc_id") % 4 === 0), "doc_id", "text",
            order = 5)
        }
        .sort(col("doc_id"))
        .run(s)),

    // --- KN model-size PROFILE: rows + mass per level — the artifact
    //     report a pruning decision reads (the singleton tail it
    //     exposes is what prune= removes) ---
    "q_lm_kn_profile" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          // the profile is a property of the STORED model: read it from
          // the persisted level tables (vocabulary-bounded scans), never
          // by re-deriving the tables from the corpus
          val modelDir = knModelQ4(df, dir)
          graft.llm.LangModel.knModelProfileFromDir(
            df.sparkSession, modelDir, order = 5)
        }
        .sort(col("level"))
        .run(s)),

    // --- CCNet-style LM quality gate: score every doc with the order-5
    //     KN model, keep docs under the bits threshold (scored docs
    //     only), report the kept mix by language ---
    "q_lm_kn_gate" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          // gate through the PERSISTED model (production scores a crawl
          // with a pre-fit LM; values ≡ the inline trainer, spec-pinned)
          val modelDir = knModelQ4(df, dir)
          val scored = graft.llm.LangModel.knNgramScoreWithModel(
            df, "doc_id", "text", modelDir, order = 5)
          scored
            .where(F.col("n_ngrams") > 0 &&
              F.col("bits_per_ngram") <= 5.5)
            .join(df.select(F.col("doc_id"), F.col("lang")), Seq("doc_id"))
            .groupBy(F.col("lang"))
            .agg(F.count(F.lit(1)).as("n_kept"))
        }
        .sort(col("lang"))
        .run(s)),

    // --- STUPID BACKOFF order-5 scoring (Brants et al. 2007, the
    //     MapReduce web-scale LM: every model table a plain count, no
    //     discounting, fixed alpha = 0.4) — same one-raw-pass shape as
    //     KN with suffix-SUM level derivation ---
    "q_lm_sb5" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          graft.llm.LangModel.sbNgramScore(
            df, df.where(F.col("doc_id") % 4 === 0), "doc_id", "text",
            order = 5)
        }
        .sort(col("doc_id"))
        .run(s)),

    // --- COUNT-PRUNED order-5 KN (KenLM --prune 0 1 1 1 1): singleton
    //     grams at orders 2..5 drop from the STORED model after the full
    //     adjusted-count derivation; a pruned gram scores through
    //     backoff exactly like an unseen one. The production shape: at
    //     web scale the singleton tail IS most of the model's rows ---
    "q_lm_kn5_pruned" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          // pruned-model serving: the stored tables already dropped the
          // singleton tail; scoring reads them as-is
          val modelDir = Fixtures.dir("kn5p01111v2_q4", dir) { p =>
            graft.llm.LangModel.knNgramFit(
              df.where(F.col("doc_id") % 4 === 0), "text", p, order = 5,
              prune = Seq(0L, 1L, 1L, 1L, 1L))
          }
          graft.llm.LangModel.knNgramScoreWithModel(
            df, "doc_id", "text", modelDir, order = 5)
        }
        .sort(col("doc_id"))
        .run(s)),

    // --- PERSISTED KN model serving (train once, score many): fit the
    //     order-5 model to parquet level tables, score through the saved
    //     artifact with zero retraining — values must equal the inline
    //     trainer (shared oracle by reference) ---
    "q_lm_kn5_persisted" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          // memoized model fixture: the fit is ingest-time work; the
          // timed body is the score-many half of train-once/score-many
          val modelDir = knModelQ4(df, dir)
          graft.llm.LangModel.knNgramScoreWithModel(
            df, "doc_id", "text", modelDir, order = 5)
        }
        .sort(col("doc_id"))
        .run(s)),

    // --- INCREMENTAL KN count maintenance (the 100 TB shape: adding a
    //     crawl shard must not refit over yesterday's petabytes): base
    //     model fit on the doc_id%8==0 eighth (ingest-time fixture),
    //     the %8==4 shard delta-merges in — one corpus pass over the
    //     DELTA only, lower levels re-derive from the merged gram table
    //     — and the updated model is TABLE-IDENTICAL to q_lm_kn5's full
    //     refit on the combined %4==0 slice (LlmSpec pins level-table
    //     and score parity); the gate here is the updated model's
    //     per-level profile, which must equal the full-refit profile
    //     exactly (shared oracle by reference), so the timed body is
    //     the maintenance itself, not a corpus re-score ---
    "q_lm_kn5_delta" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val baseDir = Fixtures.dir("kn5v2_e8", dir) { p =>
            graft.llm.LangModel.knNgramFit(
              df.where(F.col("doc_id") % 8 === 0), "text", p, order = 5)
          }
          val dstDir = s"/tmp/graft_kn_delta_${Fixtures.runTag}"
          graft.llm.LangModel.knNgramFitDelta(
            df.where(F.col("doc_id") % 8 === 4), "text", baseDir, dstDir,
            order = 5)
          graft.llm.LangModel.knModelProfileFromDir(
            df.sparkSession, dstDir, order = 5)
        }
        .sort(col("level"))
        .run(s)),

    // --- character-entropy quality signal (model-free perplexity proxy:
    //     repetitive spam and padding sit far below natural text's ~4.1
    //     bits/char). Terms folded in sorted distinct-char order on both
    //     engines → bit-identical sums. ---
    "q_text_entropy" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          graft.GraftExtensions.install(df.sparkSession)
          df.where(F.col("doc_id") < 100)
            .select(F.col("doc_id"),
              graft.llm.TextOps.charEntropy("text").as("entropy"))
        }
        .sort(col("doc_id"))
        .run(s)),

    // --- within-document repeated-line removal (RefinedWeb/CCNet line
    //     dedup): multi-line docs are synthesized deterministically from
    //     text substrings (the corpus has no newlines) with lines 1 and 3,
    //     2 and 5 repeating; the oracle rebuilds the same doc and replays
    //     keep-first-occurrence via list_position. Per-row closed form. ---
    "q_dedup_lines" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val built = df.where(F.col("doc_id") < 200)
            .withColumn("__doc__", F.concat_ws("\n",
              F.expr("substring(text, 1, 60)"), F.expr("substring(text, 30, 50)"),
              F.expr("substring(text, 1, 60)"), F.expr("substring(text, 80, 40)"),
              F.expr("substring(text, 30, 50)")))
          val dd = graft.llm.TextOps.dedupLines(F.col("__doc__"))
          built.select(F.col("doc_id"),
            F.size(F.split(F.col("__doc__"), "\n", -1)).as("n_in"),
            F.size(F.split(dd, "\n", -1)).as("n_out"),
            F.md5(dd.cast("binary")).as("out_md5"))
        }
        .sort(col("doc_id"))
        .run(s)),

    // --- within-doc repetition ratio (boilerplate signal) ---
    "q_repetition" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          df.where(F.col("doc_id") < 100)
            .withColumn("__toks__", graft.llm.TextOps.tokens(F.col("text")))
            .select(F.col("doc_id"),
              graft.llm.TextOps.repetitionRatio("__toks__", 2).as("rep_ratio"))
        }
        .sort(col("doc_id"))
        .run(s)),

    // --- Gopher repetition-signal family (Rae et al. 2021 Table A1):
    //     top-n-gram and duplicated-n-gram character fractions. Integer
    //     numerators (count × gram length), one 6dp-rounded division;
    //     ties on the top gram break lexicographically on both engines ---
    "q_gopher_repetition" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          graft.llm.TextOps.repetitionSignals(df, "doc_id", "text",
            topNs = Seq(2, 3), dupNs = Seq(5))
        }
        .sort(col("doc_id"))
        .run(s)),

    // --- URL decomposition (scheme/host/path/registrable domain) over
    //     deterministically synthesized URLs with userinfo, ports, multi-
    //     label ccTLD suffixes, and query strings; the oracle builds the
    //     SAME urls and replays the identical regexp/split chain ---
    "q_url_parse" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          // doc_id % 13 == 11 rows get a bare host that IS a 3-label public
          // suffix (s3.amazonaws.com) — the host-is-suffix rule's fixture
          val url0 = F.concat(
            F.lit("https://"),
            F.when(F.col("doc_id") % 7 === 0, F.lit("user@")).otherwise(F.lit("")),
            F.lit("www."), F.col("source"), F.lit("."),
            F.element_at(
              F.array(F.lit("com"), F.lit("co.uk"), F.lit("org"), F.lit("io"),
                F.lit("gov.uk"), F.lit("co.jp"), F.lit("github.io"),
                F.lit("ck")),
              (F.col("doc_id") % 8 + 1).cast("int")),
            F.when(F.col("doc_id") % 5 === 0, F.lit(":8443")).otherwise(F.lit("")),
            F.lit("/d/"), F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 3 === 0,
              F.concat(F.lit("?lang="), F.col("lang"))).otherwise(F.lit("")))
          val url = F.when(F.col("doc_id") % 13 === 11,
            F.concat(F.lit("https://s3.amazonaws.com/bucket/"),
              F.col("doc_id").cast("string"))).otherwise(url0)
          val p = graft.llm.TextOps.urlParts(url)
          df.select(F.col("doc_id"), url.as("url"),
              p.getField("scheme").as("scheme"), p.getField("host").as("host"),
              p.getField("path").as("path"), p.getField("domain").as("domain"))
        }
        .sort(col("doc_id"))
        .run(s)),

    // --- URL canonicalization + exact URL dedup: messy fixture urls
    //     (case, ports, userinfo-free, scrambled param order, tracking
    //     params, fragments) collapse to canonical keys; per-key counts
    //     are the dedup report ---
    "q_url_canonical" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val url = F.concat(
            F.lit("https://WWW."), F.col("source"), F.lit(".com"),
            F.when(F.col("doc_id") % 2 === 0, F.lit(":443"))
              .otherwise(F.lit("")),
            F.lit("/p/"), (F.col("doc_id") % 7).cast("string"),
            F.when(F.col("doc_id") % 3 === 0,
              F.concat(F.lit("?utm_source=feed&b=2&a="),
                (F.col("doc_id") % 5).cast("string")))
              .when(F.col("doc_id") % 3 === 1,
                F.concat(F.lit("?a="), (F.col("doc_id") % 5).cast("string"),
                  F.lit("&b=2&fbclid=xyz")))
              .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 4 === 0, F.lit("#sec"))
              .otherwise(F.lit("")))
          df.select(graft.llm.TextOps.urlCanonical(url).as("canon"))
            .groupBy(F.col("canon"))
            .agg(F.count(F.lit(1)).as("n"))
        }
        .sort(col("canon"))
        .run(s)),

    // --- domain BLOCKLIST gate: the q_url_parse fixture urls, blocklist
    //     frame = the registrable domains of the doc_id % 10 = 0 slice
    //     (a DataFrame, not a literal — the anti-join IS the scale
    //     path), keep unblocked rows ---
    "q_domain_blocklist" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val url0 = F.concat(
            F.lit("https://"),
            F.when(F.col("doc_id") % 7 === 0, F.lit("user@")).otherwise(F.lit("")),
            F.lit("www."), F.col("source"), F.lit("."),
            F.element_at(
              F.array(F.lit("com"), F.lit("co.uk"), F.lit("org"), F.lit("io"),
                F.lit("gov.uk"), F.lit("co.jp"), F.lit("github.io"),
                F.lit("ck")),
              (F.col("doc_id") % 8 + 1).cast("int")),
            F.when(F.col("doc_id") % 5 === 0, F.lit(":8443")).otherwise(F.lit("")),
            F.lit("/d/"), F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 3 === 0,
              F.concat(F.lit("?lang="), F.col("lang"))).otherwise(F.lit("")))
          val url = F.when(F.col("doc_id") % 13 === 11,
            F.concat(F.lit("https://s3.amazonaws.com/bucket/"),
              F.col("doc_id").cast("string"))).otherwise(url0)
          val urls = df.select(F.col("doc_id"), url.as("url"))
          val blocklist = urls.where(F.col("doc_id") % 10 === 0)
            .select(graft.llm.TextOps.urlParts(F.col("url"))
              .getField("domain").as("domain"))
          graft.llm.TextOps.domainBlocklistFilter(urls, "url", blocklist)
            .select(F.col("doc_id"),
              graft.llm.TextOps.urlParts(F.col("url"))
                .getField("domain").as("domain"))
        }
        .sort(col("doc_id"))
        .run(s)),

    // --- per-domain document cap: ≤ cap docs per registrable domain in
    //     deterministic (md5(id), id) order — kept SET replays exactly ---
    // ... expressed through the public Model API (Source.DomainCap) and
    // run THROUGH the wire codec — the cap is a first-class pipeline op.
    "q_domain_cap" -> ((s, dir) => {
      val md = col("doc_id") - ((col("doc_id") floorDiv lit(4L)) * lit(4L))
      val model = m(dir, "documents")
        .domainCap(
          concat(col("source"), lit("."),
            cases(Seq(
              (md === lit(0L)) -> lit("com"),
              (md === lit(1L)) -> lit("co.uk"),
              (md === lit(2L)) -> lit("org")), lit("io"))),
          col("doc_id"), cap = 25)
        .aggregate(
          groups = Seq(col("domain").named("domain")),
          measures = Seq(count().named("n_kept"),
            sum(col("doc_id")).named("sum_ids")))
        .sort(col("domain"))
      graft.wire.WireFormat.fromJson(graft.wire.WireFormat.toJson(model)).run(s)
    }),

    // --- STREAMING per-domain cap in single-batch backfill mode: the
    //     keyed admission state ranks candidates by the batch operator's
    //     exact (md5(id), id) order, so one batch reproduces q_domain_cap
    //     bit-for-bit (oracle shared by reference) ---
    "q_stream_domain_cap" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val domain = F.concat(F.col("source"), F.lit("."),
            F.element_at(
              F.array(F.lit("com"), F.lit("co.uk"), F.lit("org"), F.lit("io")),
              (F.col("doc_id") % 4 + 1).cast("int")))
          val withDom = df.withColumn("domain", domain)
          graft.streaming.Streams
            .streamingDomainCap(withDom, "domain", "doc_id", cap = 25)
            .groupBy(F.col("domain"))
            .agg(F.count(F.lit(1)).as("n_kept"),
              F.sum(F.col("doc_id")).as("sum_ids"))
        }
        .sort(col("domain"))
        .run(s)),

    // --- APPLY near-dup dedup: keep one representative per cluster,
    //     i.e. the complete detector → closure → anti-join pipeline ---
    "q_dedup_apply" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val pairs = graft.llm.Dedup.minhashPairs(df, "doc_id", "text")
          val clusters = graft.llm.Dedup.clusterPairs(pairs, "doc_a", "doc_b")
          val drop = clusters.where(F.col("doc_id") =!= F.col("cluster_id"))
          df.join(drop, Seq("doc_id"), "left_anti")
            .groupBy(F.col("lang")).agg(F.count(F.lit(1)).as("n_kept"))
        }
        .sort(col("lang"))
        .run(s)),

    // --- cluster-size-aware DIVERSITY sampling (D4-style dedup-then-
    //     diversify): minhash near-dup clusters, canonical always kept,
    //     non-canonical members sampled at size^-0.5 via the
    //     md5-derandomized cutoff rule ---
    "q_diversity_sample" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          val pairs = graft.llm.Dedup.minhashPairs(df, "doc_id", "text")
          val clusters = graft.llm.Dedup.clusterPairs(pairs, "doc_a", "doc_b")
          graft.llm.Dedup.diversitySample(df, "doc_id", clusters, alpha = 0.5)
        }
        .sort(col("doc_id"))
        .run(s)),

    "q_sample_hash" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          df.where(graft.llm.TextOps.hashSample(F.col("text"), 25.0))
            .groupBy(F.col("lang"))
            .agg(F.count(F.lit(1)).as("n"))
        }
        .sort(col("lang"))
        .run(s)),

    // --- Efraimidis–Spirakis weighted sampling without replacement,
    //     md5-derandomized: 25 docs drawn ∝ n_chars; priorities
    //     ln(u)/w at 6 dp with key tie-break, so the sampled SET
    //     replays bit-for-bit ---
    //     ... as a wire-serializable Source: the sampling spec (key,
    //     weight, k) ships to a server like any other model
    "q_weighted_sample" -> ((s, dir) => {
      val model = m(dir, "documents")
        .weightedSample(col("doc_id"), col("n_chars"), k = 25)
        .pick(col("doc_id"), col("lang"), col("priority"))
        .sort(col("doc_id"))
      graft.wire.WireFormat.fromJson(graft.wire.WireFormat.toJson(model)).run(s)
    }),

    // --- per-GROUP weighted sampling (stratified ES): k per language,
    //     weight-proportional, same md5-derandomized priority cut by a
    //     partial-WindowGroupLimit rank window per group ---
    "q_weighted_sample_group" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          graft.llm.TextOps.weightedSamplePerGroup(
              df, "lang", "doc_id", "n_chars", k = 5)
            .select(F.col("lang"), F.col("doc_id"), F.col("priority"))
        }
        .sort(col("lang")).sort(col("doc_id"))
        .run(s)),

    // --- temperature-weighted corpus mixing (XLM-R/mT5 resampling,
    //     alpha = 0.5): rare languages up-weighted ∝ √n_g; one group
    //     aggregate + broadcast rate table + per-row hash predicate. The
    //     oracle replays rates (6-dp pow/sum discipline) and the md5
    //     keep rule bit-exactly, so the kept SET matches, not just the
    //     proportions. ---
    "q_lang_mix" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          graft.llm.TextOps.temperatureMix(df, "lang", "text",
              alpha = 0.5, keepFrac = 0.5)
            .groupBy(F.col("lang"))
            .agg(F.count(F.lit(1)).as("n_kept"),
              F.round(F.max(F.col("rate")), 6).as("rate"))
        }
        .sort(col("lang"))
        .run(s)),

    // --- DoReMi-style domain upsampling: fractional epoch weights per
    //     lang, deterministic hash-gated extra copy; per-doc replica
    //     counts pin the emitted multiset bit-exactly ---
    // Exercises the WIRE-SERIALIZABLE surface end-to-end: the model —
    // including the weights SUB-MODEL (a VALUES-backed SqlQuery) — goes
    // through toJson/fromJson before running, so this row gates both the
    // Source.UpsampleMix lowering and its codec (the q_wire_roundtrip
    // pattern). Values are unchanged from the pre-wire native formulation.
    "q_upsample_mix" -> ((s, dir) => {
      val wts = Model.sqlQuery(
        """SELECT * FROM VALUES ('en', CAST(0.5 AS DOUBLE)), ('zh', 2.0),
             ('es', 1.5), ('de', 2.25), ('fr', 3.0) AS t(lang, weight)""")
      val model = m(dir, "documents")
        .upsampleMix(wts, group = col("lang"), key = col("text"))
        .aggregate(
          groups = Seq(col("doc_id"), col("lang")),
          measures = Seq(count().named("n_copies"),
            max(col("replica")).named("max_replica")))
        .sort(col("doc_id"))
      graft.wire.WireFormat.fromJson(graft.wire.WireFormat.toJson(model)).run(s)
    }),

    // --- the weights-as-sub-model design earning its keep: DoReMi-style
    //     α=0.5 mixture weights COMPUTED FROM THE CORPUS (weight_l =
    //     N·n_l^α / (Σn^α · n_l), preserving expected corpus size since
    //     Σ n_l·w_l = N) feed upsampleMix as a model subtree — scalar
    //     subqueries for the two corpus totals, a decimal-summed pow
    //     normalizer for cross-engine determinism — and the WHOLE
    //     pipeline (stats → weights → upsample → per-doc agg) round-trips
    //     the wire codec before running ---
    "q_upsample_temperature" -> ((s, dir) => {
      val docs = m(dir, "documents")
      val stats = docs.aggregate(groups = Seq(col("lang")),
        measures = Seq(count().named("n")))
      val nTotal = docs.aggregate(measures = Seq(count().named("c")))
      val powSum = stats.aggregate(measures = Seq(
        sum(sql("CAST(round(pow(n, 0.5), 6) AS DECIMAL(27,6))")).named("s")))
      val weights = stats.pick(col("lang"),
        round(
          cast(scalar(nTotal), "double") * sql("round(pow(n, 0.5), 6)")
            / (cast(scalar(powSum), "double") * cast(col("n"), "double")),
          6).named("weight"))
      val model = docs
        .upsampleMix(weights, group = col("lang"), key = col("text"))
        .aggregate(
          groups = Seq(col("doc_id"), col("lang")),
          measures = Seq(count().named("n_copies"),
            max(col("replica")).named("max_replica")))
        .sort(col("doc_id"))
      graft.wire.WireFormat.fromJson(graft.wire.WireFormat.toJson(model)).run(s)
    }),

    // --- CCNet-style LM perplexity quality scoring: char-bigram add-α
    //     model trained on a corpus hash-split (one vocabulary-bounded
    //     aggregate + ≤729-row model collect), served as a codegen'd
    //     per-row native probing the model frozen into the plan as a
    //     5.7 KB literal — zero serve-time joins/shuffles. The oracle
    //     retrains and rescores the identical closed form in DuckDB. ---
    "q_lm_perplexity" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val model = graft.llm.LangModel.fitBigramLm(
            df.where(F.col("doc_id") % 10 < 8), "text")
          df.select(F.col("doc_id"),
            graft.llm.LangModel.bitsPerChar(F.col("text"), model).as("bits"))
        }
        .sort(col("doc_id"))
        .run(s)),

    // --- CCNet head/middle/tail partition by perplexity CUTOFFS: because
    //     scores are 6-dp-quantized, the cutoffs come from a bounded-
    //     domain value histogram (groupBy bits) — the tercile selection is
    //     windows over that tiny frame, never a global row_number over the
    //     corpus, and the cutoff frame broadcasts back as one row. ---
    "q_lm_ppl_buckets" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          import org.apache.spark.sql.expressions.Window
          val model = graft.llm.LangModel.fitBigramLm(
            df.where(F.col("doc_id") % 10 < 8), "text")
          val scored = df.select(F.col("doc_id"),
            graft.llm.LangModel.bitsPerChar(F.col("text"), model).as("bits"))
          // everything below the histogram runs on the tiny quantized-
          // value frame in ONE lineage (Spark does not share uncached
          // subplans, so cutoffs are unbounded windows over the SAME
          // frame — temperatureMix pattern — never a re-scan of scored)
          val whole = Window.orderBy("bits").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)
          scored.groupBy(F.col("bits"))
            .agg(F.count(F.lit(1)).as("cnt"))
            .withColumn("cum", F.sum("cnt").over(Window.orderBy("bits")))
            .withColumn("tot", F.sum("cnt").over(whole))
            .withColumn("c1", F.min(F.when(
              F.col("cum") >= F.expr("(tot + 2) DIV 3"), F.col("bits"))).over(whole))
            .withColumn("c2", F.min(F.when(
              F.col("cum") >= F.expr("(tot * 2 + 2) DIV 3"), F.col("bits"))).over(whole))
            .withColumn("bucket",
              F.when(F.col("bits") <= F.col("c1"), 1)
                .when(F.col("bits") <= F.col("c2"), 2).otherwise(3))
            .groupBy(F.col("bucket"))
            .agg(F.sum("cnt").as("n"),
              F.min("bits").as("min_bits"), F.max("bits").as("max_bits"))
        }
        .sort(col("bucket"))
        .run(s)),

    // --- near-dup-aware train/val split: split decided by the CLUSTER
    //     representative's hash, so near-duplicates never straddle the
    //     boundary (the silent leakage mode of per-doc random splits);
    //     oracle replays detector + recursive closure + same split rule ---
    "q_split_by_cluster" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val pairs = graft.llm.Dedup.minhashPairs(df, "doc_id", "text")
          val clusters = graft.llm.Dedup.clusterPairs(pairs, "doc_a", "doc_b")
          graft.llm.Dedup.splitByCluster(df, "doc_id", clusters,
              trainPercent = 80.0)
            .groupBy(F.col("split"))
            .agg(F.count(F.lit(1)).as("n_docs"),
              F.countDistinct(F.col("lang")).as("n_langs"))
        }
        .sort(col("split"))
        .run(s)),

    // --- embedding-cosine near-dup pairs within sign-LSH buckets ---
    "q_dedup_embed" -> ((s, dir) =>
      m(dir, "embeddings")
        .native(df => graft.llm.Embeddings.nearDupPairs(df, "vec_id", "embedding",
          bits = 4, threshold = 0.3))
        .sort(col("vec_a")).sort(col("vec_b"))
        .run(s)),

    // --- SemDeDup: k-means cells + within-cell cosine closure, keep one
    //     representative per semantic-duplicate group. k ~ sqrt(n) per the
    //     paper (cells stay O(sqrt n) so within-cell pairs are O(n) total,
    //     never all-pairs); kmeansFitSqrtK sizes k by counting its own
    //     CACHED projection — no extra corpus scan (the oracle derives the
    //     same k via floor(sqrt(count(*)))). Threshold
    //     0.45 is the top of this synthetic corpus's cosine range (near-
    //     orthogonal vectors, max pairwise ~0.55 — the paper's 0.9+ would
    //     match zero pairs here); it yields a sparse duplicate graph, not
    //     the round-6 near-dense 0.3 one. maxCellSize caps any dense mode
    //     k-means can't split, mirroring minhashPairs' bucket cap. ---
    "q_semdedup" -> ((s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val cents = graft.llm.Embeddings.kmeansFitSqrtK(
            df, "vec_id", "embedding", iters = 2)
          graft.llm.Embeddings.semDedup(df, "vec_id", "embedding", cents,
            threshold = SemThreshold, maxCellSize = SemMaxCell)
            .groupBy(F.col("label")).agg(F.count(F.lit(1)).as("n_kept"))
        }
        .sort(col("label"))
        .run(s)),

    // --- int8 embedding quantization: reconstruction-error stats ---
    "q_embed_quant" -> ((s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          graft.llm.Embeddings.quantize8(df, "embedding", "q8")
            .groupBy(F.col("label"))
            .agg(
              F.count(F.lit(1)).as("n"),
              F.round(F.max(F.col("q8_max_err")), 6).as("max_err"))
        }
        .sort(col("label"))
        .run(s)),

    // --- brute-force cosine top-k (correctness baseline for ANN) ---
    "q_ann_brute" -> ((s, dir) =>
      m(dir, "embeddings")
        .native(df => graft.llm.Embeddings.bruteTopK(df, "vec_id", "embedding",
          queryId = 0L, k = 10))
        .sort(col("cosine"), dir = "desc").sort(col("vec_id"))
        .run(s)),

    // --- two-stage quantized retrieval: int8-code integer scoring prunes
    //     to 50 candidates, exact float cosine reranks to top 10 (the
    //     IVF-PQ serving shape; both cuts deterministic via 6-dp scores +
    //     id tie-break, so the oracle replays the candidate SET) ---
    "q_ann_quantized" -> ((s, dir) =>
      m(dir, "embeddings")
        .native(df => graft.llm.Embeddings.quantizedRerankTopK(
          df, "vec_id", "embedding", queryId = 0L, candidates = 50, k = 10))
        .sort(col("cosine"), dir = "desc").sort(col("vec_id"))
        .run(s)),

    // --- margin-based bitext mining (CCMatrix pairing rule): label
    //     halves as the two "languages", sign-LSH bucket equi-join as
    //     the candidate generator (never A×B), hub-normalized margins,
    //     per-A best partner above threshold ---
    "q_bitext_mine" -> ((s, dir) =>
      m(dir, "embeddings")
        .native(df => graft.llm.Embeddings.bitextMine(df, "vec_id", "embedding",
          sideAPred = org.apache.spark.sql.functions.col("label") < 5,
          bits = 4, k = 4, minMargin = 1.0))
        .sort(col("a_id"))
        .run(s)),

    // --- bitext mining with the quadratic guard engaged: per-(bucket,
    //     side) lowest-id cap bounds candidate pairs at 2^bits×cap²
    //     regardless of corpus size (ScaleCheck: the uncapped 4-bit join
    //     grew 18× at 10× data; this one stays linear) ---
    "q_bitext_capped" -> ((s, dir) =>
      m(dir, "embeddings")
        .native(df => graft.llm.Embeddings.bitextMine(df, "vec_id", "embedding",
          sideAPred = org.apache.spark.sql.functions.col("label") < 5,
          bits = 4, k = 4, minMargin = 1.0, maxPerBucketSide = 24))
        .sort(col("a_id"))
        .run(s)),

    // --- bitext mining with AUTO-SCALED bucket bits: bits =
    //     max(4, ceil(log2(n / 50))) derived from one corpus count —
    //     SCALE.md's "scale bits with log2(n)" rule as code, so a 10×
    //     corpus gets wider buckets with NO manual knob change; the
    //     per-(bucket, side) cap stays on as the skew backstop ---
    "q_bitext_auto" -> ((s, dir) =>
      m(dir, "embeddings")
        .native(df => graft.llm.Embeddings.bitextMineAuto(df, "vec_id",
          "embedding",
          sideAPred = org.apache.spark.sql.functions.col("label") < 5,
          targetBucketSize = 50, k = 4, minMargin = 1.0,
          maxPerBucketSide = 24))
        .sort(col("a_id"))
        .run(s)),

    // --- random-projection (JL) ANN: deterministic ±1 md5 sign matrix
    //     frozen as a plan literal projects 64-dim vectors to 16 dims;
    //     shortlist of 50 by projected cosine, exact-cosine rerank to 10.
    //     The index-free serving path: no training, no build, candidate
    //     scan touches dims/d of the data. ---
    "q_ann_rp" -> ((s, dir) =>
      m(dir, "embeddings")
        .native(df => graft.llm.Embeddings.rpTopK(df, "vec_id", "embedding",
          queryId = 0L, d = 64, dims = 16, seed = 7, candidates = 50, k = 10))
        .sort(col("cosine"), dir = "desc").sort(col("vec_id"))
        .run(s)),

    // --- bucketed ANN: per-query top-k via sign-LSH bucket equi-join ---
    "q_ann_lsh" -> ((s, dir) =>
      m(dir, "embeddings")
        .native(df => graft.llm.Embeddings.lshTopK(df, "vec_id", "embedding",
          queryPred = org.apache.spark.sql.functions.col("vec_id") < 5,
          bits = 4, k = 3))
        .sort(col("query_id")).sort(col("rank"))
        .run(s)),

    // --- HARD-NEGATIVE mining (contrastive/dense-retrieval training
    //     data): per anchor, top-3 same-LSH-bucket vectors with cosine
    //     in the hard band [0.05, 0.25) — the floor drops easy
    //     negatives, the ceiling drops near-positives (both edges bite
    //     on this corpus: in-bucket cosines reach 0.33) ---
    "q_hard_negatives" -> ((s, dir) =>
      m(dir, "embeddings")
        .native(df => graft.llm.Embeddings.hardNegatives(df, "vec_id",
          "embedding",
          anchorPred = org.apache.spark.sql.functions.col("vec_id") < 5,
          bits = 4, k = 3, bandLo = 0.05, bandHi = 0.25))
        .sort(col("anchor_id")).sort(col("rank"))
        .run(s)),

    // --- hard-negative mining with AUTO-SCALED bits: fixed bits grow
    //     per-anchor candidates linearly with the corpus (quadratic when
    //     anchors scale too — the bitextMine lesson); the log2 rule
    //     keeps bucket population flat with no manual knob ---
    "q_hard_negatives_auto" -> ((s, dir) =>
      m(dir, "embeddings")
        .native(df => graft.llm.Embeddings.hardNegativesAuto(df, "vec_id",
          "embedding",
          anchorPred = org.apache.spark.sql.functions.col("vec_id") < 5,
          targetBucketSize = 50L, k = 3, bandLo = 0.05, bandHi = 0.25))
        .sort(col("anchor_id")).sort(col("rank"))
        .run(s)),

    // --- bucketed ANN with AUTO-SCALED bits (the q_ann_lsh plan, bucket
    //     width from the corpus count via the integer log2 rule) ---
    "q_ann_lsh_auto" -> ((s, dir) =>
      m(dir, "embeddings")
        .native(df => graft.llm.Embeddings.lshTopKAuto(df, "vec_id",
          "embedding",
          queryPred = org.apache.spark.sql.functions.col("vec_id") < 5,
          targetBucketSize = 50, k = 3))
        .sort(col("query_id")).sort(col("rank"))
        .run(s)),

    // --- TRAINED IVF: 2 Lloyd's iterations (deterministic, decimal-exact
    //     means) then serve top-k from the fitted cells. k ~ sqrt(n) keeps
    //     per-probe serving cost O(sqrt n) — a fixed k would make every
    //     probe linearly heavier as the corpus grows ---
    "q_ann_ivf_trained" -> ((s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val cents = graft.llm.Embeddings.kmeansFitSqrtK(
            df, "vec_id", "embedding", iters = 2)
          graft.llm.Embeddings.ivfTopKTrained(df, "vec_id", "embedding", cents,
            queryPred = F.col("vec_id") < 3, k = 5)
        }
        .sort(col("query_id")).sort(col("rank"))
        .run(s)),

    // --- SAMPLE-TRAINED IVF (the FAISS train/add split): the quantizer
    //     fits on the deterministic 25% hashSample kept set (seeds = the
    //     8 smallest kept ids), then the FULL corpus assigns and serves —
    //     at 100 TB the fit is the last linear-in-corpus ANN cost, and
    //     k-means needs only a bounded sample to estimate k means ---
    "q_ann_ivf_sampled_fit" -> ((s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val cents = graft.llm.Embeddings.kmeansFitSampled(
            df, "vec_id", "embedding", k = 8, iters = 2, samplePct = 25.0)
          graft.llm.Embeddings.ivfTopKTrained(df, "vec_id", "embedding",
            cents, queryPred = F.col("vec_id") < 3, k = 5)
        }
        .sort(col("query_id")).sort(col("rank"))
        .run(s)),

    // --- PERSISTED IVF index serving: same fit, corpus assignment paid
    //     once at ingest (bucketed postings on __cell__), queries assign
    //     only themselves — values identical to the inline trained path
    //     (shared oracle by reference) ---
    "q_ann_ivf_indexed" -> ((s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          // memoized two-part fixture (centroids + bucketed postings):
          // ingest pays fit + assignment once; the timed body is serving
          val (idxDir, tbl) = ivfIndex(s, dir)
          graft.llm.Embeddings.ivfTopKIndexed(
            df.where(F.col("vec_id") < 3), "vec_id", "embedding",
            idxDir, df.sparkSession.table(tbl), k = 5)
        }
        .sort(col("query_id")).sort(col("rank"))
        .run(s)),

    // --- FILTERED vector search (the production "top-k among docs that
    //     pass an attribute predicate" shape — license-clean, my
    //     language, source tier): the label attribute is denormalized
    //     onto the postings at ingest, the predicate applies AT THE
    //     POSTINGS SCAN (parquet pushdown — no corpus-side join), and
    //     candidates rank after filtering ---
    "q_ann_ivf_filtered" -> ((s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val (idxDir, tbl) = ivfIndex(s, dir, attrs = Seq("label"))
          // a RANGE predicate (not arithmetic) so it reaches the parquet
          // reader as a pushed filter, not just a post-scan filter
          graft.llm.Embeddings.ivfTopKIndexed(
            df.where(F.col("vec_id") < 3), "vec_id", "embedding",
            idxDir, df.sparkSession.table(tbl), k = 5,
            filter = Some(F.col("label") < 5))
        }
        .sort(col("query_id")).sort(col("rank"))
        .run(s)),

    // --- kNN LABEL PROPAGATION: transfer the labeled corpus's labels
    //     onto query vectors as the MAJORITY label of the 5 nearest
    //     neighbors (exact cosine over the probed cells of the persisted
    //     IVF index; the label is a denormalized postings attribute, so
    //     it rides the top-k rows — zero label-side joins, and the vote
    //     aggregates queries × k rows, never the corpus) ---
    "q_knn_label" -> ((s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val (idxDir, tbl) = ivfIndex(s, dir, attrs = Seq("label"))
          graft.llm.Embeddings.knnLabelIndexed(
            df.where(F.col("vec_id") < 20), "vec_id", "embedding",
            idxDir, df.sparkSession.table(tbl), "label", k = 5, nprobe = 2)
        }
        .sort(col("query_id"))
        .run(s)),

    // --- kNN SCORE REGRESSION: the label op's numeric twin — each query
    //     predicts the cosine-weighted mean of its 5 nearest neighbors'
    //     values (exact decimal sums of 6-dp-rounded terms on both
    //     engines, zero-weight-sum guarded to NULL on both) ---
    "q_knn_score" -> ((s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val (idxDir, tbl) = ivfIndex(s, dir, attrs = Seq("label"))
          graft.llm.Embeddings.knnScoreIndexed(
            df.where(F.col("vec_id") < 20), "vec_id", "embedding",
            idxDir, df.sparkSession.table(tbl), "label", k = 5, nprobe = 2)
        }
        .sort(col("query_id"))
        .run(s)),

    // --- INCREMENTAL embedding near-dup ADMISSION vs the persisted IVF
    //     index (semantic-dedup twin of q_dedup_incremental): the new
    //     slice is 50 exact re-submissions under fresh ids — each must
    //     flag its original at cosine 1.0 through the honest
    //     assign-probe-verify path (corpus geometry is near-orthogonal,
    //     so 0.8 admits nothing else) ---
    "q_ann_ivf_admit" -> ((s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val (idxDir, tbl) = ivfIndex(s, dir)
          graft.llm.Embeddings.ivfNearDupJoinIndexed(
            df.where(F.col("vec_id") < 50)
              .select((F.col("vec_id") + 10000).as("vec_id"),
                F.col("embedding")),
            "vec_id", "embedding", idxDir, df.sparkSession.table(tbl),
            threshold = 0.8)
        }
        .sort(col("left_id")).sort(col("right_id"))
        .run(s)),

    // --- STREAMING embedding admission backfill: the stream-static
    //     assign-probe-verify + re-sent suppression state, run as one
    //     batch — values must equal the batch indexed admission
    //     (shared oracle by reference) ---
    "q_stream_ivf_neardup" -> ((s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val (idxDir, tbl) = ivfIndex(s, dir)
          graft.streaming.Streams.streamingIvfNearDup(
            df.where(F.col("vec_id") < 50)
              .select((F.col("vec_id") + 10000).as("vec_id"),
                F.col("embedding")),
            "vec_id", "embedding", idxDir, df.sparkSession.table(tbl),
            threshold = 0.8)
        }
        .sort(col("left_id")).sort(col("right_id"))
        .run(s)),

    // --- STREAMING kNN label propagation: arriving vectors take the
    //     majority label of their 5 nearest in the persisted
    //     label-attributed IVF index — the top-k cut is the k-bounded
    //     topk_by aggregate (windows are unsupported on streams), the
    //     vote a projection over the k-element array ---
    "q_stream_knn_label" -> ((s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val (idxDir, tbl) = ivfIndex(s, dir, attrs = Seq("label"))
          graft.streaming.Streams.streamingKnnLabel(
            df.where(F.col("vec_id") < 20)
              .select((F.col("vec_id") + 10000).as("vec_id"),
                F.col("embedding")),
            "vec_id", "embedding", idxDir, df.sparkSession.table(tbl),
            "label", k = 5)
        }
        .sort(col("vec_id"))
        .run(s)),

    // --- nprobe=2: each query searches its TWO best cells (the IVF
    //     recall knob; probing expands only the tiny query side) ---
    "q_ann_ivf_probe" -> ((s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val cents = graft.llm.Embeddings.kmeansFitSqrtK(
            df, "vec_id", "embedding", iters = 2)
          graft.llm.Embeddings.ivfTopKTrained(df, "vec_id", "embedding", cents,
            queryPred = F.col("vec_id") < 3, k = 5, nprobe = 2)
        }
        .sort(col("query_id")).sort(col("rank"))
        .run(s)),

    // --- IVF maintenance dashboard: per-cell posting population +
    //     exact-integer load share over the persisted index — the
    //     hot-cell detector feeding ivfHotCellSplit. Zero-shuffle
    //     aggregate on the __cell__-bucketed postings ---
    "q_ivf_cell_profile" -> ((s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          val (_, tbl) = ivfIndex(s, dir)
          graft.llm.Embeddings.ivfCellProfile(df.sparkSession.table(tbl))
        }
        .sort(col("cell"))
        .run(s)),

    // --- STREAMING nprobe=2 serving, single-batch backfill: the
    //     window-free probe rank + topk_by + posexplode-after-aggregate
    //     pipeline over the persisted index — value-identical to the
    //     batch q_ann_ivf_probe (shared oracle by reference) ---
    "q_stream_ann_probe" -> ((s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val (idxDir, tbl) = ivfIndex(s, dir)
          graft.streaming.Streams.streamingIvfTopK(
            df.where(F.col("vec_id") < 3), "vec_id", "embedding",
            idxDir, df.sparkSession.table(tbl), k = 5, nprobe = 2)
        }
        .sort(col("query_id")).sort(col("rank"))
        .run(s)),

    // --- product quantization: per-segment Lloyd's codebooks (m=2) +
    //     asymmetric-distance top-k over the codes. The corpus side is
    //     scan-shaped (assignment pass + broadcast lookup-table join per
    //     segment); segment partials combine in fixed segment order so
    //     the float fold is deterministic ---
    "q_ann_pq" -> ((s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val cb = graft.llm.Embeddings.pqCodebooks(df, "vec_id", "embedding",
            dim = 64, m = 2, initPred = F.col("vec_id") < 4, iters = 2)
          graft.llm.Embeddings.pqTopK(df, "vec_id", "embedding", cb,
            dim = 64, m = 2, queryId = 0L, k = 10)
        }
        .sort(col("rank"))
        .run(s)),

    // --- SAMPLE-TRAINED PQ (the codebook half of the train/add split):
    //     both segment codebooks fit on the same 25% hashSample kept set
    //     (seeds = the 4 smallest kept ids), the FULL corpus encodes and
    //     serves — q_ann_ivf_sampled_fit's discipline applied to PQ ---
    "q_ann_pq_sampled" -> ((s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          val cb = graft.llm.Embeddings.pqCodebooksSampled(df, "vec_id",
            "embedding", dim = 64, m = 2, k = 4, iters = 2,
            samplePct = 25.0)
          graft.llm.Embeddings.pqTopK(df, "vec_id", "embedding", cb,
            dim = 64, m = 2, queryId = 0L, k = 10)
        }
        .sort(col("rank"))
        .run(s)),

    // --- OPQ (Ge et al. 2013): pair-block Jacobi rotation fit to zero
    //     each (t, t+32) cross-segment second moment, corpus + query
    //     rotated in one projection, PQ codebooks fit and ADC served in
    //     the rotated space. The rotation fit itself replays in the
    //     oracle (decimal moment sums + sqrt/division closed form — all
    //     correctly-rounded ops, one shared formula string). minAbsRho=0
    //     here so every pair rotates and the full formula chain is
    //     oracle-exercised; production serving keeps the 0.85 redundancy
    //     gate (RecallCheck documents why) ---
    "q_ann_opq" -> ((s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          // serve through the PERSISTED rotation + codebooks (memoized
          // fixture — the fit is ingest-time work, like the other ANN
          // indexes); values ≡ the inline opqTopK fit+serve, spec-pinned
          val modelDir = Fixtures.dir("opqm2", dir) { p =>
            graft.llm.Embeddings.opqFitSave(df, "vec_id", "embedding",
              dim = 64, m = 2, initPred = F.col("vec_id") < 4, iters = 2,
              dir = p, minAbsRho = 0.0)
          }
          graft.llm.Embeddings.opqTopKWithModel(df, "vec_id", "embedding",
            modelDir, dim = 64, m = 2, queryId = 0L, k = 10)
        }
        .sort(col("rank"))
        .run(s)),

    // --- SQ8 scalar quantization (FAISS ScalarQuantizer QT_8bit): one
    //     corpus pass fits per-dim min/max, candidates quantize to 8-bit
    //     codes (4× compression) and the RAW query scores against the
    //     dequantized reconstruction — near-brute recall, the middle
    //     rung between float32 and PQ. Quantize/dot/norm are codegen'd
    //     natives; the oracle replays the shared quantization formula ---
    "q_ann_sq8" -> ((s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          graft.llm.Embeddings.sq8TopK(df, "vec_id", "embedding",
            dim = 64, queryId = 0L, k = 10)
        }
        .sort(col("rank"))
        .run(s)),

    // --- IVF-SQ8 (FAISS IndexIVFScalarQuantizer): coarse sqrt(n) cells
    //     gate candidates, SQ8 codes score them — cell-pruned quantized
    //     serving at 4× fewer posting bytes with near-exact within-cell
    //     ranking (the middle rung between raw IVF and IVF-PQ) ---
    "q_ann_ivfsq8" -> ((s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val (idxDir, tbl) = ivfSq8Index(s, dir)
          graft.llm.Embeddings.ivfSq8TopKIndexed(
            df.where(F.col("vec_id") < 3), "vec_id", "embedding",
            idxDir, df.sparkSession.table(tbl), dim = 64, k = 5)
        }
        .sort(col("query_id")).sort(col("rank"))
        .run(s)),

    // --- STREAMING IVF-SQ8 (batch backfill through the streaming
    //     lowering — probe + scoring as projections, topk_by cut):
    //     values ≡ q_ann_ivfsq8 (same persisted artifact, same fold,
    //     same tie-break), oracle shared by reference ---
    "q_stream_ann_sq8" -> ((s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val (idxDir, tbl) = ivfSq8Index(s, dir)
          graft.streaming.Streams.streamingIvfSq8TopK(
            df.where(F.col("vec_id") < 3), "vec_id", "embedding",
            idxDir, df.sparkSession.table(tbl), dim = 64, k = 5)
        }
        .sort(col("query_id")).sort(col("rank"))
        .run(s)),

    // --- SQ8 PERSISTED serving (the raw-store/coded-serving split, SQ
    //     edition): params sidecar + bucketed coded postings — the timed
    //     body scans CODES only (4× fewer bytes than raw vectors), one
    //     small broadcast, per-query topk_by cut. Values ≡ q_ann_sq8
    //     (same params — fitted on the same full corpus — same codes,
    //     same fold), so the oracle is shared by reference ---
    "q_ann_sq8_indexed" -> ((s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val (idxDir, tbl) = sq8Index(s, dir)
          graft.llm.Embeddings.sq8TopKIndexed(
            df.where(F.col("vec_id") === 0), "vec_id", "embedding",
            idxDir, df.sparkSession.table(tbl), dim = 64, k = 10)
            .select(F.col("neighbor_id").as("vec_id"),
              F.col("cosine").as("score"), F.col("rank"))
        }
        .sort(col("rank"))
        .run(s)),

    // --- Z-ORDER LAYOUT (Morton interleave of 16-bit equal-width
    //     buckets — Delta/Iceberg OPTIMIZE ZORDER practice):
    //     q_zorder_key pins the shared key formula bit-for-bit (integer
    //     + correctly-rounded double ops, replayed verbatim by DuckDB);
    //     q_zorder_skip serves a 2-D box predicate from the memoized
    //     z-ordered rewrite — value-identical to the raw table (layout
    //     changes bytes on disk, never results) while parquet min/max
    //     footer stats prune files on BOTH dimensions ---
    "q_zorder_key" -> ((s, dir) =>
      m(dir, "events")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          graft.sources.Layout.withZKey(df, "user_id", "value", "zkey")
            .where(F.col("event_id") % 97L === 0L)
            .select(F.col("event_id"), F.col("zkey"))
        }
        .sort(col("event_id"))
        .run(s)),

    // --- 3-column z-key (10-bit buckets, stride-3 interleave): the
    //     layout key for triple-predicate workloads; same shared-formula
    //     discipline, timestamp dimension via exact epoch micros ---
    "q_zorder3_key" -> ((s, dir) =>
      m(dir, "events")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          graft.sources.Layout.withZKey3(
            // ts is TIMESTAMP_NTZ; the session is pinned UTC, so the
            // cast's wall-clock micros equal DuckDB's epoch_us(ts)
            df.withColumn("ts_us",
              F.unix_micros(F.col("ts").cast("timestamp"))),
            "user_id", "value", "ts_us", "zkey")
            .where(F.col("event_id") % 89L === 0L)
            .select(F.col("event_id"), F.col("zkey"))
        }
        .sort(col("event_id"))
        .run(s)),

    "q_zorder_skip" -> ((s, dir) =>
      m(dir, "events")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val zdir = zorderedEvents(s, dir)
          df.sparkSession.read.parquet(zdir)
            .where(F.col("user_id").between(100L, 300L) &&
              F.col("value").between(10.0, 60.0))
            .agg(F.count(F.lit(1)).as("n_rows"),
              F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
                .as("value_cents"),
              F.min(F.col("event_id")).as("min_event"),
              F.max(F.col("event_id")).as("max_event"))
        }
        .run(s)),

    // --- manifest-planned serve of the SAME 2-D box as q_zorder_skip
    //     (oracle shared by reference): file pruning decided by the
    //     stats MANIFEST (one tiny parquet, zero footer reads), the scan
    //     lists only surviving files — the Delta/Iceberg planning shape
    //     that matters at millions of files ---
    "q_manifest_skip" -> ((s, dir) =>
      m(dir, "events")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val zdir = zorderedEvents(s, dir)
          val mdir = zorderManifest(s, dir)
          graft.sources.StatsManifest.prunedRead(df.sparkSession, zdir, mdir,
              Seq(("user_id", 100L, 300L), ("value", 10.0, 60.0)))
            .agg(F.count(F.lit(1)).as("n_rows"),
              F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
                .as("value_cents"),
              F.min(F.col("event_id")).as("min_event"),
              F.max(F.col("event_id")).as("max_event"))
        }
        .run(s)),

    // --- needle-in-the-corpus point lookup planned by the per-file
    //     Bloom index: min/max intervals are useless for equality on a
    //     high-cardinality key (every file's range contains any id); the
    //     bloom probe keeps ~1 of 16 files, values ≡ the raw table ---
    "q_manifest_point" -> ((s, dir) =>
      m(dir, "events")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val zdir = zorderedEvents(s, dir)
          val bdir = zorderBloom(s, dir)
          graft.sources.StatsManifest.prunedReadEq(df.sparkSession, zdir,
              bdir, "event_id", 842L, 8192, 2)
            .agg(F.count(F.lit(1)).as("n_rows"),
              F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
                .as("value_cents"),
              F.max(F.col("user_id")).as("user"))
        }
        .run(s)),

    // --- 3-D box over the 3-column z-ordered rewrite: all three range
    //     predicates (tenant-ish id, metric, time) prune at the scan;
    //     values ≡ the raw table (layout-independent) ---
    "q_zorder3_skip" -> ((s, dir) =>
      m(dir, "events")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val zdir = zorderedEvents3(s, dir)
          df.sparkSession.read.parquet(zdir)
            .where(F.col("user_id").between(100L, 300L) &&
              F.col("value").between(10.0, 60.0) &&
              F.col("ts_us") >= 1704672000000000L &&
              F.col("ts_us") < 1705363200000000L)
            .agg(F.count(F.lit(1)).as("n_rows"),
              F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
                .as("value_cents"),
              F.min(F.col("event_id")).as("min_event"),
              F.max(F.col("event_id")).as("max_event"))
        }
        .run(s)),

    // --- persisted metric rollup cache (MetricCache): facts aggregated
    //     ONCE to (user, type, day) additive partials, base SAVED +
    //     post-cutoff slice APPENDED; this serve re-merges partials
    //     under a day-range partition filter SPANNING the cutoff, so a
    //     hash match proves save+append ≡ the raw-fact aggregate ---
    "q_metric_cache" -> ((s, dir) =>
      m(dir, "events")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val mc = graft.sources.MetricCache
          val cdir = eventsMetricCache(s, dir)
          mc.read(df.sparkSession, cdir)
            .where(F.col(mc.DayCol) >= F.lit("2024-01-15").cast("date") &&
              F.col(mc.DayCol) < F.lit("2024-01-25").cast("date") &&
              F.col("user_id").between(50L, 100L))
            .groupBy(F.col("event_type"), F.col(mc.DayCol).as("day"))
            .agg(mc.standardMerge.head, mc.standardMerge.tail: _*)
        }
        .run(s)),

    // --- the STREAM-MAINTAINED cache (three MemoryStream micro-batch
    //     appends) serving the exact q_metric_cache slice: values must
    //     equal the raw-fact aggregate — oracle shared by reference ---
    "q_stream_metric_cache" -> ((s, dir) =>
      m(dir, "events")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val mc = graft.sources.MetricCache
          val cdir = streamMetricCache(s, dir)
          mc.read(df.sparkSession, cdir)
            .where(F.col(mc.DayCol) >= F.lit("2024-01-15").cast("date") &&
              F.col(mc.DayCol) < F.lit("2024-01-25").cast("date") &&
              F.col("user_id").between(50L, 100L))
            .groupBy(F.col("event_type"), F.col(mc.DayCol).as("day"))
            .agg(mc.standardMerge.head, mc.standardMerge.tail: _*)
        }
        .run(s)),

    // --- DENSE daily serve (dashboard gap-fill): one sparse user's
    //     series spine-completed over Jan 5-28 — counts/cents zero-fill,
    //     value_max forward-fills (LOCF), NULL before first sighting ---
    "q_metric_cache_dense" -> ((s, dir) =>
      m(dir, "events")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val mc = graft.sources.MetricCache
          val cdir = eventsMetricCache(s, dir)
          mc.serveDenseDaily(
            mc.read(df.sparkSession, cdir).where(F.col("user_id") === 7L),
            Seq("event_type"), "2024-01-05", "2024-01-28")
        }
        .run(s)),

    // --- serve AFTER user-7 takedown: the cache version without the
    //     user's partials must equal a direct aggregate that never saw
    //     them — provable because user_id stays in the partial grain ---
    "q_metric_cache_takedown" -> ((s, dir) =>
      m(dir, "events")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val mc = graft.sources.MetricCache
          val cdir = metricCacheTakedown(s, dir)
          mc.read(df.sparkSession, cdir)
            .where(F.col("user_id") <= 74L)
            .groupBy(F.col("event_type"))
            .agg(mc.standardMerge.head, mc.standardMerge.tail: _*)
        }
        .run(s)),

    // --- coarser serve off the SAME cache: per-type totals across the
    //     full time range (every base AND appended partial merges) ---
    "q_metric_cache_rollup" -> ((s, dir) =>
      m(dir, "events")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val mc = graft.sources.MetricCache
          val cdir = eventsMetricCache(s, dir)
          mc.read(df.sparkSession, cdir)
            .where(F.col("user_id") <= 74L)
            .groupBy(F.col("event_type"))
            .agg(mc.standardMerge.head, mc.standardMerge.tail: _*)
        }
        .run(s)),

    // --- approx COUNT(DISTINCT user) from the day-partitioned
    //     occupied-bucket sketch (linear counting over md5 buckets):
    //     distinct is NOT additive across days, so the sketch is what a
    //     rollup cache must carry — the whole estimate (hash, union,
    //     −m·ln(empty/m)) replays in DuckDB, including the merge of
    //     base + appended slices ---
    "q_metric_cache_distinct" -> ((s, dir) =>
      m(dir, "events")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val mc = graft.sources.MetricCache
          val sdir = eventsDistinctSketch(s, dir)
          mc.distinctEstimate(df.sparkSession, sdir, Seq("event_type"), 4096)
            .select(F.col("event_type"), F.col("occupied"),
              F.col("est_distinct").as("est_users"))
            .sort(F.col("event_type"))
        }
        .run(s)),

    // --- distinct-user OVERLAP between two event types by inclusion–
    //     exclusion over the SAME sketch rows (one m-bounded scan; the
    //     exact answer would need a key-level self-join of the facts) ---
    "q_metric_cache_overlap" -> ((s, dir) =>
      m(dir, "events")
        .native { df =>
          val mc = graft.sources.MetricCache
          val sdir = eventsDistinctSketch(s, dir)
          mc.distinctOverlapEstimate(df.sparkSession, sdir, "event_type",
            "click", "purchase", 4096)
        }
        .run(s)),

    // --- the full IVF-PQ serving composition: sqrt(n) coarse cells
    //     restrict candidates to the query's cell, ADC over m=2 segment
    //     codebooks scores only those — per-query cost O(n/k) code
    //     lookups, the FAISS serving shape end-to-end ---
    "q_ann_ivfpq" -> ((s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val coarse = graft.llm.Embeddings.kmeansFitSqrtK(
            df, "vec_id", "embedding", iters = 2)
          val cb = graft.llm.Embeddings.pqCodebooks(df, "vec_id", "embedding",
            dim = 64, m = 2, initPred = F.col("vec_id") < 4, iters = 2)
          graft.llm.Embeddings.ivfPqTopK(df, "vec_id", "embedding",
            coarse, cb, dim = 64, m = 2, queryId = 0L, k = 10)
        }
        .sort(col("rank"))
        .run(s)),

    // --- PQ-CODED PERSISTED IVF serving (the 100 TB artifact): postings
    //     store (cell, id, m codes) only — 16-32× fewer bytes than raw
    //     vectors — ADC scores the probed cell's codes from broadcast
    //     lookup maps, then the exact cosine reranks the candFactor·k
    //     shortlist only (deterministic candidate SET, the
    //     quantizedRerank discipline) ---
    "q_ann_ivfpq_indexed" -> ((s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val (idxDir, tbl) = ivfPqIndex(s, dir)
          graft.llm.Embeddings.ivfPqTopKIndexed(
            df.where(F.col("vec_id") === 0), "vec_id", "embedding",
            idxDir, df.sparkSession.table(tbl), dim = 64, m = 2, k = 10,
            candFactor = 4, rerank = Some(df))
        }
        .sort(col("rank"))
        .run(s)),

    // --- RESIDUAL-coded persisted IVF-PQ (FAISS's by-residual
    //     IndexIVFPQ, Jégou et al. 2011 §III): codebooks quantize
    //     x − c(cell) — far less variance than the raw corpus, so the
    //     same code budget reconstructs markedly finer. Serving scores
    //     q·(ĉ+r̂) from the stored codes + the per-posting reconstructed
    //     norm written at encode: no (cell × code) cross-term tables,
    //     the broadcast stays query-sized at any coarse-cell count.
    //     nprobe=2 exercises the per-probed-cell q·c numerator term ---
    "q_ann_ivfpq_residual" -> ((s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val (idxDir, tbl) = ivfPqResidualIndex(s, dir)
          graft.llm.Embeddings.ivfPqTopKIndexed(
            df.where(F.col("vec_id") < 2), "vec_id", "embedding",
            idxDir, df.sparkSession.table(tbl), dim = 64, m = 2, k = 10,
            nprobe = 2)
        }
        .sort(col("query_id")).sort(col("rank"))
        .run(s)),

    // --- residual serve END-TO-END: residual ADC shortlist (candFactor·k,
    //     deterministic SET) repaired by the exact-cosine rerank over the
    //     shortlist only — the full production read path on the
    //     residual-coded artifact ---
    "q_ann_ivfpq_residual_rerank" -> ((s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val (idxDir, tbl) = ivfPqResidualIndex(s, dir)
          graft.llm.Embeddings.ivfPqTopKIndexed(
            df.where(F.col("vec_id") < 2), "vec_id", "embedding",
            idxDir, df.sparkSession.table(tbl), dim = 64, m = 2, k = 10,
            nprobe = 2, candFactor = 4, rerank = Some(df))
        }
        .sort(col("query_id")).sort(col("rank"))
        .run(s)),

    // --- IVF-style ANN: nearest fixed centroid cell + per-query top-k ---
    "q_ann_ivf" -> ((s, dir) =>
      m(dir, "embeddings")
        .native(df => graft.llm.Embeddings.ivfTopK(df, "vec_id", "embedding",
          centroidPred = org.apache.spark.sql.functions.col("vec_id") < 8,
          queryPred = org.apache.spark.sql.functions.col("vec_id").between(10, 14),
          k = 3))
        .sort(col("query_id")).sort(col("rank"))
        .run(s)),

    // --- end-to-end corpus cleaning: quality gate + lang gate + exact
    //     dedup (keep lowest id per normalized hash) → per-source stats ---
    "q_pipeline_clean" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          import org.apache.spark.sql.expressions.Window
          import graft.llm.TextOps
          df.withColumn("__toks__", TextOps.tokens(F.col("text")))
            .withColumn("__q__", TextOps.qualityScore("__toks__"))
            .withColumn("__lang__", TextOps.langId("__toks__"))
            .where(F.col("__q__") >= 0.55 && F.col("__lang__") === "en")
            .withColumn("__h__",
              F.md5(TextOps.normalize(F.col("text")).cast("binary")))
            .withColumn("__rk__", F.row_number().over(
              Window.partitionBy(F.col("__h__")).orderBy(F.col("doc_id"))))
            .where(F.col("__rk__") === 1)
            .groupBy(F.col("source"))
            .agg(
              F.count(F.lit(1)).as("n_clean"),
              F.sum(F.size(F.col("__toks__"))).as("n_tokens"))
        }
        .sort(col("source"))
        .run(s)),

    // --- per-source token statistics (whitespace + BPE-ish regex counts) ---
    "q_text_stats" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          df.withColumn("__toks__", graft.llm.TextOps.tokens(F.col("text")))
            .withColumn("__nre__", graft.llm.TextOps.regexTokenCount("text"))
            .groupBy(F.col("source"))
            .agg(
              F.count(F.lit(1)).as("n_docs"),
              F.sum(F.size(F.col("__toks__"))).as("n_tokens"),
              F.sum(F.col("__nre__")).as("n_re_tokens"),
              F.round(F.sum(F.size(F.col("__toks__"))).cast("double") /
                F.count(F.lit(1)), 6).as("avg_tokens"))
        }
        .sort(col("source"))
        .run(s)),

    // --- language-ID heuristic vs labeled lang (confusion counts) ---
    "q_text_langid" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          df.withColumn("__toks__", graft.llm.TextOps.tokens(F.col("text")))
            .groupBy(F.col("lang"),
              graft.llm.TextOps.langId("__toks__").as("predicted"))
            .agg(F.count(F.lit(1)).as("n"))
        }
        .sort(col("lang")).sort(col("predicted"))
        .run(s)),

    // --- per-document quality scoring (length/diversity/stopword trio) ---
    "q_text_quality" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          import graft.llm.TextOps
          df.where(F.col("doc_id") < 100)
            .withColumn("__toks__", TextOps.tokens(F.col("text")))
            .select(
              F.col("doc_id"),
              F.size(F.col("__toks__")).cast("long").as("n_tokens"),
              F.round(F.size(F.array_distinct(F.col("__toks__"))).cast("double") /
                F.size(F.col("__toks__")), 6).as("ttr"),
              F.round(TextOps.meanTokenLength("__toks__"), 6).as("mean_len"),
              TextOps.qualityScore("__toks__").as("quality"))
        }
        .sort(col("doc_id"))
        .run(s)),

    // --- rolling-hash winnowing fingerprint per document ---
    "q_text_fingerprint" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          graft.GraftExtensions.install(df.sparkSession)
          df.where(F.col("doc_id") < 50)
            .select(F.col("doc_id"),
              F.expr("char_ngram_min(text, 8)").as("fp"))
        }
        .sort(col("doc_id"))
        .run(s)),

    // --- multimodal: binary payload column + batched REAL header decode.
    // Payloads are genuine PNG / JPEG headers built in-SQL with dimensions
    // derived from doc_id (multi-byte values >255, so a big-endian bug
    // can't cancel out), followed by the document bytes; the oracle
    // recomputes width/height/byte_len ARITHMETICALLY from doc_id, so a
    // wrong parser hash-mismatches. ---
    "q_multimodal_meta" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val withPayload = df
            .where(F.col("lang") === "en" && F.col("doc_id") < 100)
            .withColumn("payload", F.expr(
              """concat(
                   CASE WHEN doc_id % 2 = 0 THEN
                     unhex(concat('89504E470D0A1A0A', '0000000D', '49484452',
                       lpad(hex(200 + doc_id * 3), 8, '0'),
                       lpad(hex(150 + doc_id * 5), 8, '0'),
                       '0806000000'))
                   ELSE
                     unhex(concat('FFD8',
                       'FFE000104A46494600010100000100010000',
                       'FFC0001108',
                       lpad(hex(150 + doc_id * 5), 4, '0'),
                       lpad(hex(200 + doc_id * 3), 4, '0'),
                       '03012200021101031101'))
                   END,
                   cast(text AS binary))"""))
          graft.llm.Multimodal.decode(withPayload, "payload")
            .select(F.col("doc_id"), F.col("meta.format"), F.col("meta.width"),
              F.col("meta.height"), F.col("meta.byte_len"),
              F.sha2(F.col("text").cast("binary"), 256).as("text_sha"))
        }
        .sort(col("doc_id"))
        .run(s)),

    // --- multimodal audio: synthesized canonical 44-byte WAV headers
    //     (little-endian fields built in SQL hex) + text bytes as samples;
    //     the RIFF chunk walk recovers rate/channels/duration and the
    //     oracle replays the same arithmetic ---
    "q_multimodal_audio" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          def le16(e: String) =
            s"substr(lpad(hex($e), 4, '0'), 3, 2) || substr(lpad(hex($e), 4, '0'), 1, 2)"
          def le32(e: String) =
            s"""substr(lpad(hex($e), 8, '0'), 7, 2) || substr(lpad(hex($e), 8, '0'), 5, 2) ||
               substr(lpad(hex($e), 8, '0'), 3, 2) || substr(lpad(hex($e), 8, '0'), 1, 2)"""
          val withPayload = df
            .where(F.col("lang") === "de" && F.col("doc_id") < 200)
            .withColumn("__sr__", F.expr("CAST(8000 + (doc_id % 5) * 2000 AS INT)"))
            .withColumn("__ch__", F.expr("CAST(1 + (doc_id % 2) AS INT)"))
            .withColumn("__dl__", F.expr("length(cast(text AS binary))"))
            .withColumn("__br__", F.expr("__sr__ * __ch__ * 2"))
            .withColumn("payload", F.expr(s"""unhex(concat(
                 '52494646', ${le32("36 + __dl__")}, '57415645',
                 '666d7420', '10000000', '0100', ${le16("__ch__")},
                 ${le32("__sr__")}, ${le32("__br__")}, ${le16("__ch__ * 2")}, '1000',
                 '64617461', ${le32("__dl__")}, hex(cast(text AS binary))))"""))
          graft.llm.Multimodal.decode(withPayload, "payload")
            .select(F.col("doc_id"), F.col("meta.format"),
              F.col("meta.sample_rate"), F.col("meta.n_channels"),
              F.col("meta.duration_ms"), F.col("meta.byte_len"))
        }
        .sort(col("doc_id"))
        .run(s)),

    // --- Frame-level audio features: 64-sample frames of exact integer
    //     energy / zero-crossings / peak over REAL 16-bit PCM decoded from
    //     fixture WAVs (canonical header + a JUNK filler chunk, samples a
    //     closed form of (doc_id, i)). The oracle replays the closed form
    //     per frame — matching requires a true RIFF chunk walk plus a
    //     byte-exact little-endian s16 decode. ---
    "q_multimodal_audio_frames" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F, Encoders, Row}
          val ids = df.where(F.col("doc_id") < 16).select(F.col("doc_id"))
          val withPayload = ids.mapPartitions { rows =>
            rows.map(r => Row(r.getLong(0),
              graft.llm.Multimodal.wavFixture(r.getLong(0))))
          }(Encoders.row(ids.schema.add("payload",
            org.apache.spark.sql.types.BinaryType)))
          graft.llm.Multimodal.audioFrameFeatures(withPayload, "payload",
              frameSamples = 64)
            .select(F.col("doc_id"), F.explode(F.col("aframes")).as("fr"))
            .select(F.col("doc_id"), F.col("fr.frame_ix").as("frame_ix"),
              F.col("fr.n_samples").as("n_samples"),
              F.col("fr.sum_sq").as("sum_sq"),
              F.col("fr.zero_cross").as("zero_cross"),
              F.col("fr.max_abs").as("max_abs"))
        }
        .sort(col("doc_id")).sort(col("frame_ix"))
        .run(s)),

    // --- Full PNG pixel decode (chunk walk → Inflater → unfilter, all
    //     five filter types): per-channel sum/min/max over deterministic
    //     fixture PNGs whose dims and every pixel are a closed form of
    //     doc_id (Multimodal.pngFixture). The oracle replays the closed
    //     form over a range cross-join — the compressed IDAT bytes only
    //     reproduce it if the inflate+unfilter pass is byte-exact. One
    //     narrow mapPartitions per stage, no shuffle until the sort. ---
    "q_multimodal_pixels" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F, Encoders, Row}
          val ids = df.where(F.col("doc_id") < 12).select(F.col("doc_id"))
          val withPayload = ids.mapPartitions { rows =>
            rows.map(r => Row(r.getLong(0),
              graft.llm.Multimodal.pngFixture(r.getLong(0))))
          }(Encoders.row(ids.schema.add("payload",
            org.apache.spark.sql.types.BinaryType)))
          graft.llm.Multimodal.decodePixels(withPayload, "payload")
            .select(F.col("doc_id"), F.col("px.n_px").as("n_px"),
              F.posexplode(F.arrays_zip(
                F.col("px.sums").as("sums"), F.col("px.mins").as("mins"),
                F.col("px.maxs").as("maxs"))).as(Seq("channel", "st")))
            .select(F.col("doc_id"),
              F.col("channel").cast("int").as("channel"), F.col("n_px"),
              F.col("st.sums").as("sum_v"), F.col("st.mins").as("min_v"),
              F.col("st.maxs").as("max_v"))
        }
        .sort(col("doc_id")).sort(col("channel"))
        .run(s)),

    // --- ViT patch prep: 4×4 fixed-grid patch means over the same
    //     closed-form fixture PNGs (full tiles only). The oracle replays
    //     the pixel formula over each tile — the decoded raster only
    //     reproduces it if inflate + unfilter + the tile accumulation are
    //     all byte-exact. Patch means are integer sums over 16 (a power
    //     of two), so the doubles are exact on both engines. ---
    "q_multimodal_patches" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F, Encoders, Row}
          val ids = df.where(F.col("doc_id") < 12).select(F.col("doc_id"))
          val withPayload = ids.mapPartitions { rows =>
            rows.map(r => Row(r.getLong(0),
              graft.llm.Multimodal.pngFixture(r.getLong(0))))
          }(Encoders.row(ids.schema.add("payload",
            org.apache.spark.sql.types.BinaryType)))
          graft.llm.Multimodal.patchMeans(withPayload, "payload", patch = 4)
            .select(F.col("doc_id"), F.explode(F.col("patches")).as("pt"))
            .select(F.col("doc_id"), F.col("pt.py").cast("long").as("py"),
              F.col("pt.px").cast("long").as("px"),
              F.posexplode(F.col("pt.means")).as(Seq("channel", "mean_v")))
            .select(F.col("doc_id"), F.col("py"), F.col("px"),
              F.col("channel").cast("long").as("channel"), F.col("mean_v"))
        }
        .sort(col("doc_id")).sort(col("py")).sort(col("px")).sort(col("channel"))
        .run(s)),

    // --- Full GIF pixel decode (variable-width LZW decompression +
    //     palette mapping, pure JDK): per-channel stats over fixture GIFs
    //     whose pixel INDICES are a closed form of doc_id and whose
    //     palette is the fixed (i, 2i, 3i) mod 256 ramp. The oracle
    //     replays the closed form; only a correct LZW decode of the real
    //     compressed code stream reproduces it. ---
    "q_multimodal_gif" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F, Encoders, Row}
          val ids = df.where(F.col("doc_id") < 12).select(F.col("doc_id"))
          val withPayload = ids.mapPartitions { rows =>
            rows.map(r => Row(r.getLong(0),
              graft.llm.Multimodal.gifFixture(r.getLong(0))))
          }(Encoders.row(ids.schema.add("payload",
            org.apache.spark.sql.types.BinaryType)))
          graft.llm.Multimodal.decodePixels(withPayload, "payload")
            .select(F.col("doc_id"), F.col("px.n_px").as("n_px"),
              F.posexplode(F.arrays_zip(
                F.col("px.sums").as("sums"), F.col("px.mins").as("mins"),
                F.col("px.maxs").as("maxs"))).as(Seq("channel", "st")))
            .select(F.col("doc_id"),
              F.col("channel").cast("int").as("channel"), F.col("n_px"),
              F.col("st.sums").as("sum_v"), F.col("st.mins").as("min_v"),
              F.col("st.maxs").as("max_v"))
        }
        .sort(col("doc_id")).sort(col("channel"))
        .run(s)),

    // --- Video-style frame sampling: every-2nd-frame per-channel stats
    //     over ANIMATED fixture GIFs (3-6 full LZW-compressed frames each,
    //     pixel index a closed form of (frame, x, y, doc_id)). Unsampled
    //     frames are length-prefix-hopped, never entropy-decoded — the
    //     sampled-frames-only cost a video pipeline needs. The oracle
    //     replays the closed form restricted to even frame indices. ---
    "q_multimodal_frames" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F, Encoders, Row}
          val ids = df.where(F.col("doc_id") < 12).select(F.col("doc_id"))
          val withPayload = ids.mapPartitions { rows =>
            rows.map(r => Row(r.getLong(0),
              graft.llm.Multimodal.gifAnimFixture(r.getLong(0))))
          }(Encoders.row(ids.schema.add("payload",
            org.apache.spark.sql.types.BinaryType)))
          graft.llm.Multimodal.frameSample(withPayload, "payload", every = 2)
            .select(F.col("doc_id"), F.explode(F.col("frames")).as("fr"))
            .select(F.col("doc_id"), F.col("fr.frame_ix").as("frame_ix"),
              F.col("fr.n_px").as("n_px"),
              F.posexplode(F.arrays_zip(
                F.col("fr.sums").as("sums"), F.col("fr.mins").as("mins"),
                F.col("fr.maxs").as("maxs"))).as(Seq("channel", "st")))
            .select(F.col("doc_id"), F.col("frame_ix"),
              F.col("channel").cast("int").as("channel"), F.col("n_px"),
              F.col("st.sums").as("sum_v"), F.col("st.mins").as("min_v"),
              F.col("st.maxs").as("max_v"))
        }
        .sort(col("doc_id")).sort(col("frame_ix")).sort(col("channel"))
        .run(s)),

    // --- Image RESIZE: 2× box downscale (output pixel = sum div 4 of its
    //     source tile) re-encoded as a real PNG, then decoded back to
    //     stats — the oracle replays the tile arithmetic over the fixture
    //     closed form, so both the resize AND the PNG re-encode/decode
    //     round-trip must be byte-exact ---
    "q_multimodal_resize" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F, Encoders, Row}
          val ids = df.where(F.col("doc_id") < 12).select(F.col("doc_id"))
          val withPayload = ids.mapPartitions { rows =>
            rows.map(r => Row(r.getLong(0),
              graft.llm.Multimodal.pngFixture(r.getLong(0))))
          }(Encoders.row(ids.schema.add("payload",
            org.apache.spark.sql.types.BinaryType)))
          val resized = graft.llm.Multimodal.resizePng(withPayload, "payload",
            factor = 2)
          graft.llm.Multimodal.decodePixels(resized, "resized")
            .select(F.col("doc_id"), F.col("px.n_px").as("n_px"),
              F.posexplode(F.arrays_zip(
                F.col("px.sums").as("sums"), F.col("px.mins").as("mins"),
                F.col("px.maxs").as("maxs"))).as(Seq("channel", "st")))
            .select(F.col("doc_id"),
              F.col("channel").cast("int").as("channel"), F.col("n_px"),
              F.col("st.sums").as("sum_v"), F.col("st.mins").as("min_v"),
              F.col("st.maxs").as("max_v"))
        }
        .sort(col("doc_id")).sort(col("channel"))
        .run(s)),

    // --- Audio RESAMPLE: 2× decimation re-encoded as a real mono WAV at
    //     half the rate, then frame features over the decimated stream —
    //     the oracle replays the stride-2 closed form ---
    "q_multimodal_resample" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F, Encoders, Row}
          val ids = df.where(F.col("doc_id") < 14).select(F.col("doc_id"))
          val withPayload = ids.mapPartitions { rows =>
            rows.map(r => Row(r.getLong(0),
              graft.llm.Multimodal.wavFixture(r.getLong(0))))
          }(Encoders.row(ids.schema.add("payload",
            org.apache.spark.sql.types.BinaryType)))
          val res = graft.llm.Multimodal.resampleWav(withPayload, "payload",
            factor = 2)
          graft.llm.Multimodal.audioFrameFeatures(res, "resampled",
              frameSamples = 32)
            .select(F.col("doc_id"), F.explode(F.col("aframes")).as("fr"))
            .select(F.col("doc_id"), F.col("fr.frame_ix").as("frame_ix"),
              F.col("fr.n_samples").as("n_samples"),
              F.col("fr.sum_sq").as("sum_sq"),
              F.col("fr.zero_cross").as("zero_cross"),
              F.col("fr.max_abs").as("max_abs"))
        }
        .sort(col("doc_id")).sort(col("frame_ix"))
        .run(s)),

    // --- Scene-cut statistics: adjacent-frame summed absolute RGB
    //     difference over animated fixture GIFs with a PLANTED cut (+97
    //     index jump at frame 2+id%3, +5 drift inside scenes). Working
    //     state is two frame rasters regardless of clip length. The
    //     oracle replays both frames' closed forms pixel-for-pixel. ---
    "q_multimodal_scenecut" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F, Encoders, Row}
          val ids = df.where(F.col("doc_id") < 12).select(F.col("doc_id"))
          val withPayload = ids.mapPartitions { rows =>
            rows.map(r => Row(r.getLong(0),
              graft.llm.Multimodal.gifSceneFixture(r.getLong(0))))
          }(Encoders.row(ids.schema.add("payload",
            org.apache.spark.sql.types.BinaryType)))
          graft.llm.Multimodal.sceneDiffFrames(withPayload, "payload")
            .select(F.col("doc_id"), F.explode(F.col("scenes")).as("sc"))
            .select(F.col("doc_id"), F.col("sc.frame_ix").as("frame_ix"),
              F.col("sc.n_px").as("n_px"), F.col("sc.diff_sum").as("diff_sum"))
        }
        .sort(col("doc_id")).sort(col("frame_ix"))
        .run(s)),

    // --- Full baseline-JPEG pixel decode (Huffman entropy decode + IDCT,
    //     pure JDK): stats over block-CONSTANT grayscale fixtures encoded
    //     with all-ones quantization, which makes the lossy format
    //     losslessly checkable (DC-only blocks survive the DCT round-trip
    //     bit-exactly). The oracle replays the per-block closed form;
    //     only a correct Huffman + bitstream + IDCT decode of the real
    //     compressed scan reproduces it. ---
    "q_multimodal_jpeg" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F, Encoders, Row}
          val ids = df.where(F.col("doc_id") < 12).select(F.col("doc_id"))
          val withPayload = ids.mapPartitions { rows =>
            rows.map(r => Row(r.getLong(0),
              graft.llm.Jpeg.fixture(r.getLong(0))))
          }(Encoders.row(ids.schema.add("payload",
            org.apache.spark.sql.types.BinaryType)))
          graft.llm.Multimodal.decodePixels(withPayload, "payload")
            .select(F.col("doc_id"),
              F.lit(0).cast("int").as("channel"), F.col("px.n_px").as("n_px"),
              F.element_at(F.col("px.sums"), 1).as("sum_v"),
              F.element_at(F.col("px.mins"), 1).as("min_v"),
              F.element_at(F.col("px.maxs"), 1).as("max_v"))
        }
        .sort(col("doc_id"))
        .run(s)),

    // --- PROGRESSIVE JPEG decode (SOF2: spectral selection + successive
    //     approximation, DC first/refine + pooled AC EOB runs): same
    //     block-constant closed form as q_multimodal_jpeg but the
    //     bitstream is genuinely progressive, so only a correct
    //     multi-scan coefficient-accumulation decode reproduces it —
    //     the oracle is shared by reference ---
    "q_multimodal_jpeg_prog" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F, Encoders, Row}
          val ids = df.where(F.col("doc_id") < 12).select(F.col("doc_id"))
          val withPayload = ids.mapPartitions { rows =>
            rows.map(r => Row(r.getLong(0),
              graft.llm.Jpeg.fixtureProgressive(r.getLong(0))))
          }(Encoders.row(ids.schema.add("payload",
            org.apache.spark.sql.types.BinaryType)))
          graft.llm.Multimodal.decodePixels(withPayload, "payload")
            .select(F.col("doc_id"),
              F.lit(0).cast("int").as("channel"), F.col("px.n_px").as("n_px"),
              F.element_at(F.col("px.sums"), 1).as("sum_v"),
              F.element_at(F.col("px.mins"), 1).as("min_v"),
              F.element_at(F.col("px.maxs"), 1).as("max_v"))
        }
        .sort(col("doc_id"))
        .run(s)),

    // --- perceptual IMAGE near-dup pairs (dHash 9×8 integer box grid →
    //     byte-band blocking, exact for hamming ≤ 7 → inline popcount
    //     verify): 24 fixture JPEGs in 8 dim-groups of 3, jittered +0/1/2
    //     in one block — the oracle replays the hash bit-for-bit from the
    //     pixel closed form and re-derives the same pairs ---
    "q_image_neardup" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F, Encoders, Row}
          val ids = df.where(F.col("doc_id") < 24).select(F.col("doc_id"))
          // 72 = 9·8 and 64 = 8·8: every dHash box is exactly one
          // constant block, so the hash is a closed form of the block
          // values and the oracle needs no pixel grid at all
          val withPayload = ids.mapPartitions { rows =>
            rows.map { r =>
              val id = r.getLong(0)
              val g = (id % 8).toInt
              val j = (id / 8).toInt
              Row(id, graft.llm.Jpeg.encode(72, 64, (x, y) => {
                val bx = x / 8; val byy = y / 8
                (((37 + 11 * g) * bx + (23 + 7 * g) * byy + 13 * g) % 97) + 28 +
                  (if (bx == 0 && byy == 0) j else 0)
              }))
            }
          }(Encoders.row(ids.schema.add("payload",
            org.apache.spark.sql.types.BinaryType)))
          graft.llm.Multimodal.imageNearDupPairs(
            withPayload, "doc_id", "payload", maxHamming = 6,
            maxPerBucketSide = 2)
        }
        .sort(col("a_id")).sort(col("b_id"))
        .run(s)),

    // --- CORPUS-scale perceptual image dedup (the ScaleCheck target):
    //     one 72×64 closed-form JPEG per document — pattern family
    //     (doc_id/3) % 97 (97 is the wrapping modulus of the value form,
    //     so families genuinely repeat at corpus scale, piling identical
    //     hashes into the fixed 256-value byte buckets — exactly the
    //     growth the maxPerBucketSide cap exists to bound), corner jitter
    //     doc_id % 3. The oracle replays hash, cap, and pairs from the
    //     block closed form. ---
    "q_image_neardup_corpus" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F, Encoders, Row}
          // memoized PAYLOAD fixture: a real crawl's image bytes live in
          // storage — synthesizing (JPEG-encoding) the corpus is fixture
          // construction, so it is built once per data dir and the timed
          // body is the op itself (scan + decode + hash + capped join).
          // The repartition before the encode buys full parallelism for
          // the one-time build AND a multi-file scan afterwards.
          val payloadDir = Fixtures.dir("imgcorpus", dir) { p =>
            val ids = df.select(F.col("doc_id")).repartition(F.col("doc_id"))
            ids.mapPartitions { rows =>
              rows.map { r =>
                val id = r.getLong(0)
                val gg = ((id / 3) % 97).toInt
                val j = (id % 3).toInt
                Row(id, graft.llm.Jpeg.encode(72, 64, (x, y) => {
                  val bx = x / 8; val byy = y / 8
                  (((37 + 11 * gg) * bx + (23 + 7 * gg) * byy + 13 * gg) % 97) +
                    28 + (if (bx == 0 && byy == 0) j else 0)
                }))
              }
            }(Encoders.row(ids.schema.add("payload",
              org.apache.spark.sql.types.BinaryType)))
              .write.parquet(p)
          }
          graft.llm.Multimodal.imageNearDupPairs(
            s.read.parquet(payloadDir), "doc_id", "payload", maxHamming = 6,
            maxPerBucketSide = 2)
        }
        .sort(col("a_id")).sort(col("b_id"))
        .run(s)),

    // --- image near-dup CLUSTERS: the capped perceptual pair detector
    //     composed with the SAME iterative min-label closure every text
    //     dedup family uses (clusterPairs is modality-agnostic — zero
    //     new clustering code), giving per-image canonical keepers ---
    "q_image_dedup_clusters" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F, Encoders, Row}
          val ids = df.where(F.col("doc_id") < 24).select(F.col("doc_id"))
          val withPayload = ids.mapPartitions { rows =>
            rows.map { r =>
              val id = r.getLong(0)
              val g = (id % 8).toInt
              val j = (id / 8).toInt
              Row(id, graft.llm.Jpeg.encode(72, 64, (x, y) => {
                val bx = x / 8; val byy = y / 8
                (((37 + 11 * g) * bx + (23 + 7 * g) * byy + 13 * g) % 97) + 28 +
                  (if (bx == 0 && byy == 0) j else 0)
              }))
            }
          }(Encoders.row(ids.schema.add("payload",
            org.apache.spark.sql.types.BinaryType)))
          val pairs = graft.llm.Multimodal.imageNearDupPairs(
            withPayload, "doc_id", "payload", maxHamming = 6,
            maxPerBucketSide = 2)
          graft.llm.Dedup.clusterPairs(pairs, "a_id", "b_id")
        }
        .sort(col("doc_id"))
        .run(s)),

    // --- INCREMENTAL perceptual image dedup against a PERSISTED dHash
    //     index (the batch job streamingImageDedup's scaladoc promises):
    //     fixtures 8..23 are indexed once (band postings bucketed on
    //     __bkey__ — that shuffle is paid at ingest; build-time cap 2
    //     bounds every future query), then the "new crawl" slice 0..7
    //     hashes only itself and joins the saved table. The oracle
    //     replays hash, index cap, and pairs from the block closed
    //     form. ---
    "q_image_neardup_incr" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F, Encoders, Row}
          val ids = df.where(F.col("doc_id") < 24).select(F.col("doc_id"))
          val withPayload = ids.mapPartitions { rows =>
            rows.map { r =>
              val id = r.getLong(0)
              val g = (id % 8).toInt
              val j = (id / 8).toInt
              Row(id, graft.llm.Jpeg.encode(72, 64, (x, y) => {
                val bx = x / 8; val byy = y / 8
                (((37 + 11 * g) * bx + (23 + 7 * g) * byy + 13 * g) % 97) + 28 +
                  (if (bx == 0 && byy == 0) j else 0)
              }))
            }
          }(Encoders.row(ids.schema.add("payload",
            org.apache.spark.sql.types.BinaryType)))
          val tbl = Fixtures.index(s, "dhash_cap2", dir, "__bkey__") {
            graft.llm.Multimodal.dhashIndex(
              withPayload.where(F.col("doc_id") >= 8), "doc_id", "payload",
              maxPerBucketSide = 2)
          }
          graft.llm.Multimodal.imageNearDupJoinIndexed(
            withPayload.where(F.col("doc_id") < 8), "doc_id", "payload",
            df.sparkSession.table(tbl), maxHamming = 6)
        }
        .sort(col("a_id")).sort(col("b_id"))
        .run(s)),

    // --- STREAMING near-dup gate backfill: the stream-static band join
    //     + per-image dedupe state, run over the new slice as one batch
    //     against the same persisted capped index — values must equal
    //     the batch indexed join (shared oracle by reference) ---
    "q_stream_image_neardup" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F, Encoders, Row}
          val ids = df.where(F.col("doc_id") < 24).select(F.col("doc_id"))
          val withPayload = ids.mapPartitions { rows =>
            rows.map { r =>
              val id = r.getLong(0)
              val g = (id % 8).toInt
              val j = (id / 8).toInt
              Row(id, graft.llm.Jpeg.encode(72, 64, (x, y) => {
                val bx = x / 8; val byy = y / 8
                (((37 + 11 * g) * bx + (23 + 7 * g) * byy + 13 * g) % 97) + 28 +
                  (if (bx == 0 && byy == 0) j else 0)
              }))
            }
          }(Encoders.row(ids.schema.add("payload",
            org.apache.spark.sql.types.BinaryType)))
          val tbl = Fixtures.index(s, "dhash_cap2", dir, "__bkey__") {
            graft.llm.Multimodal.dhashIndex(
              withPayload.where(F.col("doc_id") >= 8), "doc_id", "payload",
              maxPerBucketSide = 2)
          }
          graft.streaming.Streams.streamingImageNearDup(
              withPayload.where(F.col("doc_id") < 8), "doc_id", "payload",
              df.sparkSession.table(tbl), maxHamming = 6)
            .select(F.col("doc_id").as("a_id"), F.col("b_id"),
              F.col("hamming"))
        }
        .sort(col("a_id")).sort(col("b_id"))
        .run(s)),

    // --- perceptual VIDEO near-dup pairs (per-sampled-frame dHash over
    //     animated-GIF palette-index rasters, per-frame byte-band
    //     blocking, clips pair iff every aligned sampled frame is within
    //     the threshold): 24 fixture clips in 8 groups of 3 with
    //     group-dependent frame counts and a per-frame closed form — the
    //     oracle replays frames, hashes, cap, alignment, and pairs ---
    "q_video_neardup" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F, Encoders, Row}
          val ids = df.where(F.col("doc_id") < 24).select(F.col("doc_id"))
          val withPayload = ids.mapPartitions { rows =>
            rows.map { r =>
              val id = r.getLong(0)
              val g = (id % 8).toInt
              val j = (id / 8).toInt
              val nf = 4 + (g % 3)
              Row(id, graft.llm.Multimodal.encodeAnimatedGif(72, 64, nf,
                (f, x, y) => {
                  val bx = x / 8; val byy = y / 8
                  (((37 + 11 * g) * bx + (23 + 7 * g) * byy + 29 * f +
                    13 * g) % 97) +
                    (if (bx == 0 && byy == 0) j else 0)
                }))
            }
          }(Encoders.row(ids.schema.add("payload",
            org.apache.spark.sql.types.BinaryType)))
          graft.llm.Multimodal.videoNearDupPairs(
            withPayload, "doc_id", "payload", every = 2, maxHamming = 6,
            maxPerBucketSide = 2)
        }
        .sort(col("a_id")).sort(col("b_id"))
        .run(s)),

    // --- CORPUS-scale video near-dup: one clip per document with a
    //     WRAPPING family modulus ((doc_id/3) % 97 — families genuinely
    //     repeat as the corpus grows, piling identical per-frame hashes
    //     into the byte buckets: the worst case for the band join, by
    //     construction) — the growing-n ScaleCheck driver for the video
    //     family, same cap and pairing rule as q_video_neardup ---
    "q_video_neardup_corpus" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F, Encoders, Row}
          // memoized payload fixture (the q_image_neardup_corpus
          // rationale): GIF-encoding the corpus is one-time fixture
          // construction; the timed body is scan + frame decode + hash +
          // the capped per-frame join
          val payloadDir = Fixtures.dir("vidcorpus", dir) { p =>
            val ids = df.select(F.col("doc_id")).repartition(F.col("doc_id"))
            ids.mapPartitions { rows =>
              rows.map { r =>
                val id = r.getLong(0)
                val g = ((id / 3) % 97).toInt
                val j = (id % 3).toInt
                Row(id, graft.llm.Multimodal.encodeAnimatedGif(72, 64, 4,
                  (f, x, y) => {
                    val bx = x / 8; val byy = y / 8
                    (((37 + 11 * g) * bx + (23 + 7 * g) * byy + 29 * f +
                      13 * g) % 97) +
                      (if (bx == 0 && byy == 0) j else 0)
                  }))
              }
            }(Encoders.row(ids.schema.add("payload",
              org.apache.spark.sql.types.BinaryType)))
              .write.parquet(p)
          }
          graft.llm.Multimodal.videoNearDupPairs(
            s.read.parquet(payloadDir), "doc_id", "payload", every = 2,
            maxHamming = 6, maxPerBucketSide = 2)
        }
        .sort(col("a_id")).sort(col("b_id"))
        .run(s)),

    // --- video near-dup CLUSTERS: the capped per-frame pair detector
    //     composed with the shared min-label closure ---
    "q_video_dedup_clusters" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F, Encoders, Row}
          val ids = df.where(F.col("doc_id") < 24).select(F.col("doc_id"))
          val withPayload = ids.mapPartitions { rows =>
            rows.map { r =>
              val id = r.getLong(0)
              val g = (id % 8).toInt
              val j = (id / 8).toInt
              val nf = 4 + (g % 3)
              Row(id, graft.llm.Multimodal.encodeAnimatedGif(72, 64, nf,
                (f, x, y) => {
                  val bx = x / 8; val byy = y / 8
                  (((37 + 11 * g) * bx + (23 + 7 * g) * byy + 29 * f +
                    13 * g) % 97) +
                    (if (bx == 0 && byy == 0) j else 0)
                }))
            }
          }(Encoders.row(ids.schema.add("payload",
            org.apache.spark.sql.types.BinaryType)))
          graft.llm.Dedup.clusterPairs(
            graft.llm.Multimodal.videoNearDupPairs(
              withPayload, "doc_id", "payload", every = 2, maxHamming = 6,
              maxPerBucketSide = 2),
            "a_id", "b_id")
        }
        .sort(col("doc_id"))
        .run(s)),

    // --- INCREMENTAL video near-dup against a PERSISTED per-frame dHash
    //     index: clips 8..23 are indexed once (postings keyed
    //     "<frame>:<band>:<value>", build-time cap 2, bucketed on the
    //     key — ingest pays the shuffle), then the "new crawl" 0..7
    //     hashes only itself and joins the saved table with the
    //     all-aligned-frames pairing rule ---
    "q_video_neardup_incr" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F, Encoders, Row}
          val ids = df.where(F.col("doc_id") < 24).select(F.col("doc_id"))
          val withPayload = ids.mapPartitions { rows =>
            rows.map { r =>
              val id = r.getLong(0)
              val g = (id % 8).toInt
              val j = (id / 8).toInt
              val nf = 4 + (g % 3)
              Row(id, graft.llm.Multimodal.encodeAnimatedGif(72, 64, nf,
                (f, x, y) => {
                  val bx = x / 8; val byy = y / 8
                  (((37 + 11 * g) * bx + (23 + 7 * g) * byy + 29 * f +
                    13 * g) % 97) +
                    (if (bx == 0 && byy == 0) j else 0)
                }))
            }
          }(Encoders.row(ids.schema.add("payload",
            org.apache.spark.sql.types.BinaryType)))
          val tbl = Fixtures.index(s, "vhash_e2cap2", dir, "__bkey__") {
            graft.llm.Multimodal.videoDhashIndex(
              withPayload.where(F.col("doc_id") >= 8), "doc_id", "payload",
              every = 2, maxPerBucketSide = 2)
          }
          graft.llm.Multimodal.videoNearDupJoinIndexed(
            withPayload.where(F.col("doc_id") < 8), "doc_id", "payload",
            df.sparkSession.table(tbl), every = 2, maxHamming = 6)
        }
        .sort(col("a_id")).sort(col("b_id"))
        .run(s)),

    // --- STREAMING video near-dup gate backfill: the stream-static
    //     per-frame band join + per-clip all-aligned-frames state, run
    //     over the new slice as one batch against the same persisted
    //     capped index — values must equal the batch indexed join
    //     (shared oracle by reference) ---
    "q_stream_video_neardup" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F, Encoders, Row}
          val ids = df.where(F.col("doc_id") < 24).select(F.col("doc_id"))
          val withPayload = ids.mapPartitions { rows =>
            rows.map { r =>
              val id = r.getLong(0)
              val g = (id % 8).toInt
              val j = (id / 8).toInt
              val nf = 4 + (g % 3)
              Row(id, graft.llm.Multimodal.encodeAnimatedGif(72, 64, nf,
                (f, x, y) => {
                  val bx = x / 8; val byy = y / 8
                  (((37 + 11 * g) * bx + (23 + 7 * g) * byy + 29 * f +
                    13 * g) % 97) +
                    (if (bx == 0 && byy == 0) j else 0)
                }))
            }
          }(Encoders.row(ids.schema.add("payload",
            org.apache.spark.sql.types.BinaryType)))
          val tbl = Fixtures.index(s, "vhash_e2cap2", dir, "__bkey__") {
            graft.llm.Multimodal.videoDhashIndex(
              withPayload.where(F.col("doc_id") >= 8), "doc_id", "payload",
              every = 2, maxPerBucketSide = 2)
          }
          graft.streaming.Streams.streamingVideoNearDup(
              withPayload.where(F.col("doc_id") < 8), "doc_id", "payload",
              df.sparkSession.table(tbl), every = 2, maxHamming = 6)
            .select(F.col("doc_id").as("a_id"), F.col("b_id"),
              F.col("max_hamming"))
        }
        .sort(col("a_id")).sort(col("b_id"))
        .run(s)),

    // --- perceptual AUDIO near-dup pairs (energy-delta dHash over 65
    //     PCM boxes → the same exact byte-band Hamming blocking): 24
    //     WAV fixtures in 8 closed-form groups of 3, level-jittered in
    //     the first samples — the oracle replays energies and bits from
    //     the sample closed form ---
    "q_audio_neardup" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F, Encoders, Row}
          val ids = df.where(F.col("doc_id") < 24).select(F.col("doc_id"))
          val withPayload = ids.mapPartitions { rows =>
            rows.map { r =>
              val id = r.getLong(0)
              val g = id % 8
              val j = (id / 8).toInt
              val n = (240 + (g % 7) * 40).toInt
              val samples = Array.tabulate(n)(i =>
                ((((7L * g + 13L * i) % 2048L) - 1024L) +
                  (if (i < 4) j else 0)).toShort)
              Row(id, graft.llm.Multimodal.encodeWav(8000, 1, samples))
            }
          }(Encoders.row(ids.schema.add("payload",
            org.apache.spark.sql.types.BinaryType)))
          graft.llm.Multimodal.audioNearDupPairs(
            withPayload, "doc_id", "payload", maxHamming = 6,
            maxPerBucketSide = 2)
        }
        .sort(col("a_id")).sort(col("b_id"))
        .run(s)),

    // --- SPECTRAL image near-dup pairs: 24 grayscale PNGs in 8 groups
    //     of 3 — j=1 is a 2× pixel-repeat UPSCALE with +3 brightness,
    //     j=2 a 2× contrast with −5 brightness — re-encodes that hash
    //     IDENTICALLY under the global-tap-grid spectral transform
    //     while the box-mean dHash diverges on the upscale (floor box
    //     boundaries don't commute; spec-pinned). Oracle replays the
    //     pixel closed form at the tap coordinates, the embedded
    //     integer DFT tables, energies, bits, and the capped band
    //     join. ---
    "q_image_spectral_neardup" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F, Encoders, Row}
          val ids = df.where(F.col("doc_id") < 24).select(F.col("doc_id"))
          val withPayload = ids.mapPartitions { rows =>
            rows.map { r =>
              val id = r.getLong(0)
              val g = id % 8
              val j = (id / 8).toInt
              val w0 = (24 + (g % 5) * 4).toInt
              val h0 = (18 + (g % 3) * 6).toInt
              def f(x: Int, y: Int): Int =
                ((7L * x + 13L * y + 3L * g) % 97L + 20L).toInt
              val png = j match {
                case 0 => graft.llm.Multimodal.encodePng(w0, h0, 1,
                  (x, y, _) => f(x, y))
                case 1 => graft.llm.Multimodal.encodePng(2 * w0, 2 * h0, 1,
                  (x, y, _) => f(x / 2, y / 2) + 3)
                case _ => graft.llm.Multimodal.encodePng(w0, h0, 1,
                  (x, y, _) => 2 * f(x, y) - 5)
              }
              Row(id, png)
            }
          }(Encoders.row(ids.schema.add("payload",
            org.apache.spark.sql.types.BinaryType)))
          graft.llm.Multimodal.imageSpectralNearDupPairs(
            withPayload, "doc_id", "payload", maxHamming = 6,
            maxPerBucketSide = 2)
        }
        .sort(col("a_id")).sort(col("b_id"))
        .run(s)),

    // --- STREAMING spectral image gate backfill: the new slice streams
    //     against the same persisted capped spectral index — values must
    //     equal the batch indexed join (shared oracle by reference) ---
    "q_stream_image_spectral" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F, Encoders, Row}
          val ids = df.where(F.col("doc_id") < 24).select(F.col("doc_id"))
          val withPayload = ids.mapPartitions { rows =>
            rows.map { r =>
              val id = r.getLong(0)
              val g = id % 8
              val j = (id / 8).toInt
              val w0 = (24 + (g % 5) * 4).toInt
              val h0 = (18 + (g % 3) * 6).toInt
              def f(x: Int, y: Int): Int =
                ((7L * x + 13L * y + 3L * g) % 97L + 20L).toInt
              val png = j match {
                case 0 => graft.llm.Multimodal.encodePng(w0, h0, 1,
                  (x, y, _) => f(x, y))
                case 1 => graft.llm.Multimodal.encodePng(2 * w0, 2 * h0, 1,
                  (x, y, _) => f(x / 2, y / 2) + 3)
                case _ => graft.llm.Multimodal.encodePng(w0, h0, 1,
                  (x, y, _) => 2 * f(x, y) - 5)
              }
              Row(id, png)
            }
          }(Encoders.row(ids.schema.add("payload",
            org.apache.spark.sql.types.BinaryType)))
          val tbl = Fixtures.index(s, "isphash_cap2", dir, "__bkey__") {
            graft.llm.Multimodal.imageSpectralIndex(
              withPayload.where(F.col("doc_id") >= 8), "doc_id", "payload",
              maxPerBucketSide = 2)
          }
          graft.streaming.Streams.streamingImageSpectralNearDup(
              withPayload.where(F.col("doc_id") < 8), "doc_id", "payload",
              df.sparkSession.table(tbl), maxHamming = 6)
            .select(F.col("doc_id").as("a_id"), F.col("b_id"),
              F.col("hamming"))
        }
        .sort(col("a_id")).sort(col("b_id"))
        .run(s)),

    // --- INCREMENTAL spectral image near-dup: index = spectral postings
    //     of ids 8..23 (cap 2), new = ids 0..7 — the re-encode-robust
    //     image index twin ---
    "q_image_spectral_incr" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F, Encoders, Row}
          val ids = df.where(F.col("doc_id") < 24).select(F.col("doc_id"))
          val withPayload = ids.mapPartitions { rows =>
            rows.map { r =>
              val id = r.getLong(0)
              val g = id % 8
              val j = (id / 8).toInt
              val w0 = (24 + (g % 5) * 4).toInt
              val h0 = (18 + (g % 3) * 6).toInt
              def f(x: Int, y: Int): Int =
                ((7L * x + 13L * y + 3L * g) % 97L + 20L).toInt
              val png = j match {
                case 0 => graft.llm.Multimodal.encodePng(w0, h0, 1,
                  (x, y, _) => f(x, y))
                case 1 => graft.llm.Multimodal.encodePng(2 * w0, 2 * h0, 1,
                  (x, y, _) => f(x / 2, y / 2) + 3)
                case _ => graft.llm.Multimodal.encodePng(w0, h0, 1,
                  (x, y, _) => 2 * f(x, y) - 5)
              }
              Row(id, png)
            }
          }(Encoders.row(ids.schema.add("payload",
            org.apache.spark.sql.types.BinaryType)))
          val tbl = Fixtures.index(s, "isphash_cap2", dir, "__bkey__") {
            graft.llm.Multimodal.imageSpectralIndex(
              withPayload.where(F.col("doc_id") >= 8), "doc_id", "payload",
              maxPerBucketSide = 2)
          }
          graft.llm.Multimodal.imageSpectralNearDupJoinIndexed(
            withPayload.where(F.col("doc_id") < 8), "doc_id", "payload",
            df.sparkSession.table(tbl), maxHamming = 6)
        }
        .sort(col("a_id")).sort(col("b_id"))
        .run(s)),

    // --- SPECTRAL audio near-dup pairs (8 odd-band fixed-point DFT over
    //     64 evenly-subsampled taps × 9 time boxes): the fixture's three
    //     per-group variants are RE-ENCODES — j=1 is a 2× sample-repeat
    //     upsample with a +3 DC shift, j=2 a 2× gain with a −5 DC shift —
    //     that hash IDENTICALLY under the spectral transform (taps are
    //     exactly repeat-invariant, zero-sum tables cancel DC exactly,
    //     energies scale by a²) while the raw energy-delta hash diverges
    //     (spec-pinned). Oracle replays taps, the embedded integer DFT
    //     tables, energies, bits and the capped band join. ---
    "q_audio_neardup_spectral" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F, Encoders, Row}
          val ids = df.where(F.col("doc_id") < 24).select(F.col("doc_id"))
          val withPayload = ids.mapPartitions { rows =>
            rows.map { r =>
              val id = r.getLong(0)
              val g = id % 8
              val j = (id / 8).toInt
              val n0 = (240 + (g % 7) * 40).toInt
              def f(i: Int): Long = ((7L * g + 13L * i) % 2048L) - 1024L
              val samples = j match {
                case 0 => Array.tabulate(n0)(i => f(i).toShort)
                case 1 => Array.tabulate(2 * n0)(i => (f(i / 2) + 3L).toShort)
                case _ => Array.tabulate(n0)(i => (2L * f(i) - 5L).toShort)
              }
              Row(id, graft.llm.Multimodal.encodeWav(8000, 1, samples))
            }
          }(Encoders.row(ids.schema.add("payload",
            org.apache.spark.sql.types.BinaryType)))
          graft.llm.Multimodal.audioSpectralNearDupPairs(
            withPayload, "doc_id", "payload", maxHamming = 6,
            maxPerBucketSide = 2)
        }
        .sort(col("a_id")).sort(col("b_id"))
        .run(s)),

    // --- SPECTRAL audio near-dup CLUSTERS: the closure over the
    //     re-encode-robust pair detector — each cluster IS a re-encode
    //     family (base + upsample+DC + gain+DC hash identically) ---
    "q_audio_spectral_clusters" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F, Encoders, Row}
          val ids = df.where(F.col("doc_id") < 24).select(F.col("doc_id"))
          val withPayload = ids.mapPartitions { rows =>
            rows.map { r =>
              val id = r.getLong(0)
              val g = id % 8
              val j = (id / 8).toInt
              val n0 = (240 + (g % 7) * 40).toInt
              def f(i: Int): Long = ((7L * g + 13L * i) % 2048L) - 1024L
              val samples = j match {
                case 0 => Array.tabulate(n0)(i => f(i).toShort)
                case 1 => Array.tabulate(2 * n0)(i => (f(i / 2) + 3L).toShort)
                case _ => Array.tabulate(n0)(i => (2L * f(i) - 5L).toShort)
              }
              Row(id, graft.llm.Multimodal.encodeWav(8000, 1, samples))
            }
          }(Encoders.row(ids.schema.add("payload",
            org.apache.spark.sql.types.BinaryType)))
          graft.llm.Dedup.clusterPairs(
            graft.llm.Multimodal.audioSpectralNearDupPairs(
              withPayload, "doc_id", "payload", maxHamming = 6,
              maxPerBucketSide = 2),
            "a_id", "b_id")
        }
        .sort(col("doc_id"))
        .run(s)),

    // --- audio near-dup CLUSTERS: same composition over the
    //     energy-delta pair detector ---
    "q_audio_dedup_clusters" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F, Encoders, Row}
          val ids = df.where(F.col("doc_id") < 24).select(F.col("doc_id"))
          val withPayload = ids.mapPartitions { rows =>
            rows.map { r =>
              val id = r.getLong(0)
              val g = id % 8
              val j = (id / 8).toInt
              val n = (240 + (g % 7) * 40).toInt
              val samples = Array.tabulate(n)(i =>
                ((((7L * g + 13L * i) % 2048L) - 1024L) +
                  (if (i < 4) j else 0)).toShort)
              Row(id, graft.llm.Multimodal.encodeWav(8000, 1, samples))
            }
          }(Encoders.row(ids.schema.add("payload",
            org.apache.spark.sql.types.BinaryType)))
          graft.llm.Dedup.clusterPairs(
            graft.llm.Multimodal.audioNearDupPairs(
              withPayload, "doc_id", "payload", maxHamming = 6,
              maxPerBucketSide = 2),
            "a_id", "b_id")
        }
        .sort(col("doc_id"))
        .run(s)),

    // --- INCREMENTAL audio near-dup against a persisted energy-delta
    //     hash index — the audio twin of q_image_neardup_incr (same
    //     bucketed band-posting contract, same build-time cap) ---
    "q_audio_neardup_incr" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F, Encoders, Row}
          val ids = df.where(F.col("doc_id") < 24).select(F.col("doc_id"))
          val withPayload = ids.mapPartitions { rows =>
            rows.map { r =>
              val id = r.getLong(0)
              val g = id % 8
              val j = (id / 8).toInt
              val n = (240 + (g % 7) * 40).toInt
              val samples = Array.tabulate(n)(i =>
                ((((7L * g + 13L * i) % 2048L) - 1024L) +
                  (if (i < 4) j else 0)).toShort)
              Row(id, graft.llm.Multimodal.encodeWav(8000, 1, samples))
            }
          }(Encoders.row(ids.schema.add("payload",
            org.apache.spark.sql.types.BinaryType)))
          val tbl = Fixtures.index(s, "adhash_cap2", dir, "__bkey__") {
            graft.llm.Multimodal.audioDhashIndex(
              withPayload.where(F.col("doc_id") >= 8), "doc_id", "payload",
              maxPerBucketSide = 2)
          }
          graft.llm.Multimodal.audioNearDupJoinIndexed(
            withPayload.where(F.col("doc_id") < 8), "doc_id", "payload",
            df.sparkSession.table(tbl), maxHamming = 6)
        }
        .sort(col("a_id")).sort(col("b_id"))
        .run(s)),

    // --- INCREMENTAL spectral audio near-dup: the re-encode-robust
    //     index twin — index = spectral postings of ids 8..23 (cap 2),
    //     new = ids 0..7; a gain/DC/upsample re-encode of an indexed
    //     clip collides at hamming 0 where the energy index misses ---
    "q_audio_spectral_incr" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F, Encoders, Row}
          val ids = df.where(F.col("doc_id") < 24).select(F.col("doc_id"))
          val withPayload = ids.mapPartitions { rows =>
            rows.map { r =>
              val id = r.getLong(0)
              val g = id % 8
              val j = (id / 8).toInt
              val n0 = (240 + (g % 7) * 40).toInt
              def f(i: Int): Long = ((7L * g + 13L * i) % 2048L) - 1024L
              val samples = j match {
                case 0 => Array.tabulate(n0)(i => f(i).toShort)
                case 1 => Array.tabulate(2 * n0)(i => (f(i / 2) + 3L).toShort)
                case _ => Array.tabulate(n0)(i => (2L * f(i) - 5L).toShort)
              }
              Row(id, graft.llm.Multimodal.encodeWav(8000, 1, samples))
            }
          }(Encoders.row(ids.schema.add("payload",
            org.apache.spark.sql.types.BinaryType)))
          val tbl = Fixtures.index(s, "sphash_cap2", dir, "__bkey__") {
            graft.llm.Multimodal.audioSpectralIndex(
              withPayload.where(F.col("doc_id") >= 8), "doc_id", "payload",
              maxPerBucketSide = 2)
          }
          graft.llm.Multimodal.audioSpectralNearDupJoinIndexed(
            withPayload.where(F.col("doc_id") < 8), "doc_id", "payload",
            df.sparkSession.table(tbl), maxHamming = 6)
        }
        .sort(col("a_id")).sort(col("b_id"))
        .run(s)),

    // --- STREAMING audio near-dup gate backfill: the shared
    //     stream-static band join + keyed dedupe over the energy-delta
    //     hash, one batch against the persisted capped index — values
    //     must equal the batch indexed join (shared oracle) ---
    "q_stream_audio_neardup" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F, Encoders, Row}
          val ids = df.where(F.col("doc_id") < 24).select(F.col("doc_id"))
          val withPayload = ids.mapPartitions { rows =>
            rows.map { r =>
              val id = r.getLong(0)
              val g = id % 8
              val j = (id / 8).toInt
              val n = (240 + (g % 7) * 40).toInt
              val samples = Array.tabulate(n)(i =>
                ((((7L * g + 13L * i) % 2048L) - 1024L) +
                  (if (i < 4) j else 0)).toShort)
              Row(id, graft.llm.Multimodal.encodeWav(8000, 1, samples))
            }
          }(Encoders.row(ids.schema.add("payload",
            org.apache.spark.sql.types.BinaryType)))
          val tbl = Fixtures.index(s, "adhash_cap2", dir, "__bkey__") {
            graft.llm.Multimodal.audioDhashIndex(
              withPayload.where(F.col("doc_id") >= 8), "doc_id", "payload",
              maxPerBucketSide = 2)
          }
          graft.streaming.Streams.streamingAudioNearDup(
              withPayload.where(F.col("doc_id") < 8), "doc_id", "payload",
              df.sparkSession.table(tbl), maxHamming = 6)
            .select(F.col("doc_id").as("a_id"), F.col("b_id"),
              F.col("hamming"))
        }
        .sort(col("a_id")).sort(col("b_id"))
        .run(s)),

    // --- STREAMING image-dedup backfill: first-seen-wins per dHash in
    //     keyed state (min-id winner within a batch), run over the same
    //     24 fixtures as one batch — the kept set must equal the batch
    //     min-per-hash rule, replayed by the closed-form oracle ---
    "q_stream_image_dedup" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F, Encoders, Row}
          val ids = df.where(F.col("doc_id") < 24).select(F.col("doc_id"))
          val withPayload = ids.mapPartitions { rows =>
            rows.map { r =>
              val id = r.getLong(0)
              val g = (id % 8).toInt
              val j = (id / 8).toInt
              Row(id, graft.llm.Jpeg.encode(72, 64, (x, y) => {
                val bx = x / 8; val byy = y / 8
                (((37 + 11 * g) * bx + (23 + 7 * g) * byy + 13 * g) % 97) + 28 +
                  (if (bx == 0 && byy == 0) j else 0)
              }))
            }
          }(Encoders.row(ids.schema.add("payload",
            org.apache.spark.sql.types.BinaryType)))
          graft.streaming.Streams
            .streamingImageDedup(withPayload, "doc_id", "payload")
            .select(F.col("doc_id"),
              F.expr("array_join(transform(dhash, x -> cast(x AS string)), ':')")
                .as("hash_key"))
        }
        .sort(col("doc_id"))
        .run(s)),

    // --- BM25 keyword retrieval: constant query bag, per-row tf exprs,
    //     ONE corpus-stats aggregate broadcast back, TakeOrdered top-k ---
    "q_bm25_search" -> ((s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.Search.bm25TopK(
          df, "doc_id", "text", Seq("spark", "window", "vector"), k = 15))
        .sort(col("doc_id"))
        .run(s)),

    // --- per-document top-3 TF-IDF terms (corpus-wide document freqs) ---
    "q_tfidf_terms" -> ((s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.Search.tfidfTopTerms(
          df, "doc_id", "text",
          org.apache.spark.sql.functions.col("doc_id") < 40, k = 3))
        .sort(col("doc_id")).sort(col("rank"))
        .run(s)),

    // --- corpus-wide top-20 word bigrams ---
    "q_top_ngrams" -> ((s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.Search.topNgrams(df, "text", n = 2, k = 20))
        .sort(col("gram"))
        .run(s)),

    // --- exact distributed top-20 tokens via two-pass heavy hitters:
    //     Misra-Gries candidate aggregate (O(width) state, zero token
    //     shuffle) + exact recount over the broadcast candidate set. The
    //     exactness precondition (20th count 888 > n/(w+1) = 27165/65 at
    //     sf0.01) holds with an order-of-magnitude margin, so the oracle
    //     is the plain exact top-k. ---
    "q_heavy_hitters" -> ((s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.Search.heavyHitters(df, "text", k = 20, width = 64))
        .sort(col("token"))
        .run(s)),

    // --- per-language exact top-5 tokens: the grouped two-pass heavy
    //     hitter (per-group MG state, broadcast candidate semi-join);
    //     per-group exactness bound verified at sf0.01 (min c5=131 >
    //     max n_g/65=181-threshold per group) ---
    "q_heavy_hitters_grouped" -> ((s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.Search.heavyHittersByGroup(
          df, "lang", "text", k = 5, width = 64))
        .sort(col("lang")).sort(col("rank"))
        .run(s)),

    // --- CDC-chunk storage dedup ratio: content-defined chunks shared
    //     across documents collapse to one stored copy — the dedup-storage
    //     accounting query (one narrow chunk map + one groupBy on
    //     chunk_md5) ---
    "q_cdc_dedup" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          graft.llm.Search.cdcChunks(df, "doc_id", "text", k = 4, modulus = 16)
            .groupBy(F.col("chunk_md5"))
            .agg(F.count(F.lit(1)).as("__cnt__"),
              F.max(F.col("n_words")).as("__w__"))
            .agg(
              F.sum(F.col("__cnt__")).as("n_chunks"),
              F.count(F.lit(1)).as("n_uniq"),
              F.sum((F.col("__cnt__") - 1) * F.col("__w__")).as("dup_words"),
              F.round(F.count(F.lit(1)).cast("double")
                / F.sum(F.col("__cnt__")), 6).as("uniq_ratio"))
        }
        .run(s)),

    // --- unigram-LM (SentencePiece-family) piece inventory: top-120
    //     substrings (len ≤ 4) of the Heaps-bounded word table + all
    //     single chars, integer micro-bit costs ---
    "q_unigram_vocab" -> ((s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.Unigram.fitVocab(
          df, "text", vocabSize = 120, maxPieceLen = 4))
        .sort(col("piece"))
        .run(s)),

    // --- unigram-LM Viterbi segmentation: per-doc piece counts + total
    //     micro-bit cost via the codegen'd integer DP probing the
    //     plan-literal model; oracle replays training AND the DP
    //     (unrolled to maxWordLen stages) end-to-end ---
    "q_unigram_segment" -> ((s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.Unigram.segmentCounts(
          df, "doc_id", "text", vocabSize = 120, maxPieceLen = 4,
          maxWordLen = 12, unkCostMicrobits = 30000000L))
        .sort(col("doc_id"))
        .run(s)),

    // --- unigram byte-fallback twin (the WordPiece fallback's
    //     SentencePiece sibling): fit on the ASCII corpus, serve a
    //     corpus where every 5th doc gains an OOV CJK word — with byte
    //     fallback the unsegmentable word contributes its UTF-8 byte
    //     count as pieces at byteCost each, never a flat unk. Oracle
    //     reuses the training + DP replay for vocabulary words and
    //     octet_length(encode(w)) for fallback words. ---
    "q_unigram_byte_fallback" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          // bounded model parameter: <= vocabSize + |alphabet| rows
          val vocab = graft.llm.Unigram.fitVocab(
            df, "text", vocabSize = 120, maxPieceLen = 4)
            .select(F.col("piece"), F.col("cost_microbits"))
            .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
          val served = df.withColumn("text",
            F.when(F.pmod(F.col("doc_id"), F.lit(5L)) === 0,
              F.concat(F.col("text"), F.lit(" 日本語")))
              .otherwise(F.col("text")))
          graft.llm.Unigram.segmentCountsWithVocab(
            served, "doc_id", "text", vocab, maxPieceLen = 4,
            maxWordLen = 12, byteFallback = true)
        }
        .sort(col("doc_id"))
        .run(s)),

    // --- PERSISTED unigram tokenizer serving: the fitted (piece, cost)
    //     inventory saved as plain parquet, segmentation served from
    //     the artifact with no refit — values equal the inline path
    //     (shared oracle by reference) ---
    "q_unigram_segment_served" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          val modelDir = s"/tmp/graft_unigram_model_${Fixtures.runTag}"
          graft.llm.Unigram.fitVocab(df, "text", vocabSize = 120,
              maxPieceLen = 4)
            .select(org.apache.spark.sql.functions.col("piece"),
              org.apache.spark.sql.functions.col("cost_microbits"))
            .write.mode("overwrite").parquet(modelDir)
          val vocab = df.sparkSession.read.parquet(modelDir)
            .collect() // bounded model parameter, <= vocabSize rows
            .map(r => (r.getString(0), r.getLong(1))).toSeq
          graft.llm.Unigram.segmentCountsWithVocab(
            df, "doc_id", "text", vocab, maxPieceLen = 4,
            maxWordLen = 12, unkCostMicrobits = 30000000L)
        }
        .sort(col("doc_id"))
        .run(s)),

    // --- UNICODE tokenizer-path fixtures: the corpus is derived by
    //     decomposing every 'e' into e+U+0301 (NFC must re-compose it to
    //     é) and swapping 'a' for 'ä' (the \p{L} word split must keep
    //     it), then each trainer family runs its normal pipeline — the
    //     queries that would return garbage under the old ASCII-residue
    //     norm. Literals are Scala strings (Spark chr() is ASCII-only);
    //     oracles derive the same corpus with DuckDB chr() and shadow
    //     the documents view with a CTE, sharing the base replays
    //     verbatim. ---
    "q_bpe_train_unicode" -> ((s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.TextOps.bpeTrain(
          uniDocs(df), "text", merges = 4))
        .sort(col("merge_ix"))
        .run(s)),

    "q_wordpiece_train_unicode" -> ((s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.Wordpiece.wordpieceTrain(
          uniDocs(df), "text", merges = 4))
        .sort(col("merge_ix"))
        .run(s)),

    "q_unigram_vocab_unicode" -> ((s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.Unigram.fitVocab(
          uniDocs(df), "text", vocabSize = 120, maxPieceLen = 4))
        .sort(col("piece"))
        .run(s)),

    // --- unigram-LM hard-EM round (Kudo 2018 §4.2, Viterbi-count
    //     approximation): E-step segments every distinct word through
    //     the seed model (codegen'd backpointer DP, shortest-last-piece
    //     tie-break), prune to top-120 by count, single-char
    //     segmentability floor, integer micro-bit re-costing; the oracle
    //     replays training, the forward DP AND the 12-stage backtrack ---
    "q_unigram_em" -> ((s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.Unigram.emRefit(
          df, "text", vocabSize = 120, maxPieceLen = 4, maxWordLen = 12))
        .sort(col("piece"))
        .run(s)),

    // --- unigram-LM EM ROUND 2: round 1's output costs feed a second
    //     Viterbi-count round through emRefitWithVocab — the oracle
    //     re-runs the ENTIRE unrolled DP + backtrack chain with the
    //     re-estimated costs (prefix-parameterized CTE builders), so
    //     round chaining is fully oracle-gated, not just spec-gated ---
    "q_unigram_em2" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          val r1 = graft.llm.Unigram.emRefit(
              df, "text", vocabSize = 120, maxPieceLen = 4, maxWordLen = 12)
            .collect().map(r => (r.getString(0), r.getLong(2))).toSeq
          graft.llm.Unigram.emRefitWithVocab(
            df, "text", r1, vocabSize = 120, maxPieceLen = 4, maxWordLen = 12)
        }
        .sort(col("piece"))
        .run(s)),

    // --- unigram-LM VOCABULARY PRUNING (Kudo 2018 §4.2 step 3, the
    //     missing step next to the EM rounds): round-1 EM output seeds a
    //     likelihood-loss pass — per (word, best-path multi-char piece)
    //     exclusion Viterbi via the unigram_viterbi_excl native — keep
    //     the 40 highest-loss pieces + the character floor, then one
    //     recost E-step. The oracle replays EVERYTHING: round-1 EM, the
    //     (w, x)-keyed exclusion DP, the loss ranking, and the recost DP
    //     over the pruned inventory ---
    "q_unigram_prune" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          val r1 = graft.llm.Unigram.emRefit(
              df, "text", vocabSize = 120, maxPieceLen = 4, maxWordLen = 12)
            .collect().map(r => (r.getString(0), r.getLong(2))).toSeq
          graft.llm.Unigram.pruneVocab(
            df, "text", r1, keepPieces = 40, maxPieceLen = 4, maxWordLen = 12)
        }
        .sort(col("piece"))
        .run(s)),

    // --- BPE training statistic: top adjacent-character pairs over the
    //     corpus VOCABULARY (explode runs on vocab × frequency, never on
    //     raw text — Heaps' law makes that sublinear in corpus size) ---
    "q_bpe_pairs" -> ((s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.TextOps.bpePairCounts(df, "text", k = 20))
        .sort(col("pair"))
        .run(s)),

    // --- full BPE tokenizer training (Sennrich): 4 merge rules learned
    //     iteratively on the Heaps-bounded word-frequency table; the
    //     greedy left-to-right merge applies via string replace over the
    //     ';sym;;sym;' delimiter encoding, exact on both engines ---
    "q_bpe_train" -> ((s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.TextOps.bpeTrain(df, "text", merges = 4))
        .sort(col("merge_ix"))
        .run(s)),

    // --- BYTE-LEVEL BPE (the GPT-2 family): raw whitespace words, UTF-8
    //     bytes as hex-pair base symbols — total tokenizer, no [UNK] by
    //     construction (LlmSpec proves the property on arbitrary
    //     scripts); same merge loop, same 4-iteration unrolled oracle
    //     over the byte seed ---
    "q_bpe_bytes" -> ((s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.TextOps.bpeTrainBytes(df, "text", merges = 4))
        .sort(col("merge_ix"))
        .run(s)),

    // --- byte-level BPE ENCODING: per-doc subword counts through the
    //     byte rules (every word tokenizes — no OOV path exists) ---
    "q_bpe_bytes_subwords" -> ((s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.TextOps.bpeSubwordCountsBytes(
          df, "doc_id", "text", merges = 4))
        .sort(col("doc_id"))
        .run(s)),

    // --- the FULL production GPT-2 recipe: regex pre-tokenization
    //     (contractions, space-prefixed word/number/punct runs — the
    //     RE2-safe shared pattern) ahead of byte-level merges ---
    "q_bpe_bytes_gpt2" -> ((s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.TextOps.bpeTrainBytesGpt2(
          df, "text", merges = 4))
        .sort(col("merge_ix"))
        .run(s)),

    // --- GPT-2 serving path: per-doc subword counts through the
    //     pre-tokenized byte rules ---
    "q_bpe_bytes_gpt2_subwords" -> ((s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.TextOps.bpeSubwordCountsBytesGpt2(
          df, "doc_id", "text", merges = 4))
        .sort(col("doc_id"))
        .run(s)),

    // --- PERSISTED tokenizer serving: rules fit on the doc_id % 2 = 0
    //     slice and saved once, ALL docs (incl. words the trainer never
    //     saw — byte seeding is total) served from the artifact with no
    //     retraining ---
    "q_bpe_bytes_served" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          val dirM = s"/tmp/graft_bpe_rules_${Fixtures.runTag}"
          graft.llm.TextOps.bpeFitBytesSave(
            df.where(F.col("doc_id") % 2 === 0), "text", merges = 4, dirM)
          graft.llm.TextOps.bpeSubwordCountsWithRules(
            df, "doc_id", "text", dirM)
        }
        .sort(col("doc_id"))
        .run(s)),

    // --- the production-shaped trainer: driver-held pair counts updated
    //     by deltas over affected words only (rule-for-rule identical to
    //     bpeTrain — same oracle SQL by reference) ---
    "q_bpe_train_incr" -> ((s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.TextOps.bpeTrainIncremental(df, "text", merges = 4))
        .sort(col("merge_ix"))
        .run(s)),

    // --- BPE encoding with the learned rules: per-doc subword counts.
    //     Tokenization happens once per DISTINCT word (Heaps-bounded) and
    //     broadcast-joins back to the documents — per-doc work is a
    //     lookup, never a re-merge. ---
    "q_bpe_subwords" -> ((s, dir) =>
      m(dir, "documents")
        .native(df =>
          graft.llm.TextOps.bpeSubwordCounts(df, "doc_id", "text", merges = 4))
        .sort(col("doc_id"))
        .run(s)),

    // --- WordPiece training (Schuster & Nakajima; the BERT tokenizer):
    //     BPE-shaped merges ranked by the LIKELIHOOD score n/(n_a·n_b),
    //     compared in integer micro-bits (round((ln n − ln n_a − ln n_b)
    //     · 1e6) — the DSIR integer-log discipline); ties (score desc,
    //     pair asc). The oracle unrolls all four iterations. ---
    "q_wordpiece_train" -> ((s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.Wordpiece.wordpieceTrain(df, "text", merges = 4))
        .sort(col("merge_ix"))
        .run(s)),

    // --- WordPiece training, incremental-delta twin: driver-map pair AND
    //     symbol counts updated over only affected words, ONE Spark job
    //     per merge (LlmSpec pins rule-for-rule equality with the naive
    //     trainer, so the same oracle applies by reference) ---
    "q_wordpiece_train_incr" -> ((s, dir) =>
      m(dir, "documents")
        .native(df =>
          graft.llm.Wordpiece.wordpieceTrainIncremental(df, "text", merges = 4))
        .sort(col("merge_ix"))
        .run(s)),

    // --- WordPiece SERVING: greedy longest-match-first per DISTINCT word
    //     through the vocab frozen into the plan as a binary literal
    //     (codegen'd wordpiece_encode native, zero serve-time joins);
    //     the oracle re-derives the vocab AND replays the greedy match
    //     one consumed-position stage at a time ---
    "q_wordpiece_encode" -> ((s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.Wordpiece.encodeWords(df, "text", merges = 4))
        .sort(col("word"))
        .run(s)),

    // --- WordPiece document rollup: per-doc word/subword/[UNK] counts
    //     and OOV fraction via the Heaps-bounded distinct-word broadcast
    //     (the bpeSubwordCounts shape) ---
    "q_wordpiece_oov" -> ((s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.Wordpiece.docStats(df, "doc_id", "text", merges = 4))
        .sort(col("doc_id"))
        .run(s)),

    // --- q_wordpiece_oov's BYTE-FALLBACK twin: the tokenizer trains on
    //     the (ASCII) corpus, then serves a corpus where every 5th doc
    //     gains an out-of-alphabet CJK word — with byte fallback on, the
    //     OOV word decomposes to its UTF-8 <0xAB> pieces instead of
    //     [UNK] (in-alphabet words keep their exact greedy pieces;
    //     n_unk is structurally 0, the no-UNK property). The oracle
    //     reuses the training + greedy replay for in-alphabet words and
    //     octet_length(encode(w)) for the fallback. ---
    "q_wordpiece_byte_fallback" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          // bounded model parameter: the trained vocab (alphabet + 4 merges)
          val vocab = graft.llm.Wordpiece.wordpieceVocab(df, "text", merges = 4)
            .collect().map(_.getString(0)).toSeq
          val served = df.withColumn("text",
            F.when(F.pmod(F.col("doc_id"), F.lit(5L)) === 0,
              F.concat(F.col("text"), F.lit(" 日本語")))
              .otherwise(F.col("text")))
          graft.llm.Wordpiece.docStatsWithVocab(
            served, "doc_id", "text", vocab, byteFallback = true)
        }
        .sort(col("doc_id"))
        .run(s)),

    // --- TOKENIZER SELECTION REPORT: the three trained subword families
    //     (BPE merges=4, WordPiece merges=4, unigram-LM V=120) tokenize
    //     the SAME corpus through the shared Unicode norm; one row per
    //     family with its total subword count and chars-per-subword —
    //     the compression-rate comparison a tokenizer choice is made on.
    //     The oracle REUSES each family's full training replay as a
    //     subquery (single source of truth per family). ---
    "q_tokenizer_compare" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          graft.GraftExtensions.install(df.sparkSession)
          val chars = df
            .select(F.explode(graft.llm.TextOps.letterWords("text")).as("w"))
            .where(F.length(F.col("w")) >= 1)
            .agg(F.sum(F.length(F.col("w")).cast("long")).as("n_chars"))
          def fam(name: String, agg: org.apache.spark.sql.DataFrame) =
            agg.select(F.lit(name).as("family"),
              F.col("n_subwords").cast("long").as("n_subwords"))
          // The three trainings are independent eager driver-side loops
          // (sequential 1-row argmax round-trips); overlap them so each
          // family's jobs back-fill the others' stage tails (guide §2.6
          // "overlap independent jobs"). Results are deterministic — only
          // the scheduling interleaves. Await each before the lazy union
          // below assembles.
          import scala.concurrent.{Await, Future, blocking}
          import scala.concurrent.ExecutionContext.Implicits.global
          import scala.concurrent.duration.Duration
          // blocking{}: each training body spends its time awaiting Spark
          // jobs, so mark it for the global pool — three tasks won't
          // starve an ncpu-sized pool, but the pattern gets copied
          val fBpe = Future(blocking(graft.llm.TextOps
            .bpeSubwordCounts(df, "doc_id", "text", merges = 4)
            .agg(F.sum(F.col("n_subwords")).as("n_subwords"))))
          val fUni = Future(blocking(graft.llm.Unigram
            .segmentCounts(df, "doc_id", "text", vocabSize = 120,
              maxPieceLen = 4, maxWordLen = 12,
              unkCostMicrobits = 30000000L)
            .agg(F.sum(F.col("n_pieces")).as("n_subwords"))))
          val fWp = Future(blocking(graft.llm.Wordpiece
            .docStats(df, "doc_id", "text", merges = 4)
            .agg(F.sum(F.col("n_pieces")).as("n_subwords"))))
          fam("bpe", Await.result(fBpe, Duration.Inf))
            .unionByName(fam("unigram", Await.result(fUni, Duration.Inf)))
            .unionByName(fam("wordpiece", Await.result(fWp, Duration.Inf)))
            .crossJoin(F.broadcast(chars)) // 1-row corpus-chars attach
            .select(F.col("family"), F.col("n_subwords"), F.col("n_chars"),
              F.round(F.col("n_chars").cast("double")
                / F.col("n_subwords").cast("double"), 6)
                .as("chars_per_subword"))
        }
        .sort(col("family"))
        .run(s)),

    // --- per-LANGUAGE tokenizer fertility (the multilingual
    //     tokenizer-selection metric: subwords per word / chars per
    //     subword BY LANGUAGE — a tokenizer trained on a mixed corpus
    //     over-fragments the under-represented languages, and this
    //     report is how that bias is measured before training commits
    //     to a vocab): one BPE (merges=4) trained on the whole corpus,
    //     per-doc subword counts broadcast-joined back, rolled up per
    //     lang with exact integer word/char/subword sums and one
    //     correctly-rounded division per ratio ---
    "q_tokenizer_fertility" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          graft.GraftExtensions.install(df.sparkSession)
          val perDoc = graft.llm.TextOps
            .bpeSubwordCounts(df, "doc_id", "text", merges = 4)
          val stats = df.select(F.col("doc_id"), F.col("lang"),
              F.explode(graft.llm.TextOps.letterWords("text")).as("w"))
            .where(F.length(F.col("w")) >= 1)
            .groupBy(F.col("doc_id"), F.col("lang"))
            .agg(F.count(F.lit(1)).as("__nw__"),
              F.sum(F.length(F.col("w")).cast("long")).as("__nc__"))
          stats.join(perDoc, Seq("doc_id"))
            .groupBy(F.col("lang"))
            .agg(
              F.sum(F.col("__nw__")).as("n_words"),
              F.sum(F.col("__nc__")).as("n_chars"),
              F.sum(F.col("n_subwords")).as("n_subwords"))
            .select(F.col("lang"), F.col("n_words"), F.col("n_chars"),
              F.col("n_subwords"),
              F.round(F.col("n_subwords").cast("double")
                / F.col("n_words").cast("double"), 6).as("subwords_per_word"),
              F.round(F.col("n_chars").cast("double")
                / F.col("n_subwords").cast("double"), 6).as("chars_per_subword"))
        }
        .sort(col("lang"))
        .run(s)),

    // --- overlapping word-window chunking (size 32, stride 24) ---
    "q_chunk_docs" -> ((s, dir) =>
      m(dir, "documents")
        .native { df =>
          import org.apache.spark.sql.{functions => F}
          graft.llm.Search.chunkWords(
            df.where(F.col("doc_id") < 100), "doc_id", "text",
            chunkSize = 32, stride = 24)
        }
        .sort(col("doc_id")).sort(col("chunk_ix"))
        .run(s)),

    // --- content-defined chunking (word-level Rabin/LBFS boundary rule):
    //     boundary before word i when md5(4-gram at i) ≡ 0 mod 16; the
    //     whole operator is a narrow map (codegen'd gram hash + boundary
    //     natives + one posexplode), zero joins/shuffles ---
    //     ... and the whole pipeline (filter → chunk) round-trips the
    //     wire codec before running — chunking is a first-class Source
    "q_cdc_chunks" -> ((s, dir) => {
      val model = m(dir, "documents")
        .filter(col("doc_id") < lit(100))
        .cdcChunks(col("doc_id"), col("text"), k = 4, modulus = 16)
        .sort(col("doc_id")).sort(col("chunk_ix"))
      graft.wire.WireFormat.fromJson(graft.wire.WireFormat.toJson(model)).run(s)
    }),

    // --- concat-and-chunk sequence packing: (doc, sequence) slice map ---
    "q_pack_sequences" -> ((s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.Search.packSequences(
          df, "doc_id", "text", budget = 512, shards = 4))
        .sort(col("shard")).sort(col("seq_id")).sort(col("doc_id"))
        .run(s)),

    // --- per-label mean-embedding centroids at (label, dim) grain ---
    "q_embed_centroid" -> ((s, dir) =>
      m(dir, "embeddings")
        .native(df => graft.llm.Embeddings.labelCentroids(
          df, "label", "embedding"))
        .sort(col("label")).sort(col("dim"))
        .run(s)),

    // --- JSON field extraction through the Model API (funcs.jsonGet).
    //     The field is extracted ONCE in a pick below the aggregate:
    //     Spark does not CSE get_json_object across aggregate functions,
    //     so inlining jsonGet into sum+avg+max re-parses the JSON blob
    //     three times per row (a measured 2× cost on this query). Hoist
    //     the parse, aggregate the extracted value. ---
    "q_json_props" -> ((s, dir) =>
      m(dir, "events")
        .pick(col("event_type"),
          cast(jsonGet(col("props"), "$.k"), "bigint").named("k_val"))
        .aggregate(
          groups = Seq(col("event_type")),
          measures = Seq(
            count().named("n"),
            sum(col("k_val")).named("sum_k"),
            round(cast(sum(col("k_val")), "double") / count(), 6).named("avg_k"),
            max(col("k_val")).named("max_k")))
        .sort(col("event_type"))
        .run(s)),
  )

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Column names must match exactly.
    * (`oracleSql` below adds the by-reference entries.) */
  private def baseOracleSql: Map[String, String] = Map(
    "q_scan_pick" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "q_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_quantity > 45.0 AND l_returnflag = 'R'
         ORDER BY l_orderkey, l_linenumber""",
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
                CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
                CAST(sum(CAST(l_discount AS DECIMAL(18,9))) AS DOUBLE) / count(*) AS avg_disc,
                count(*) AS count_order
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_agg_global" ->
      """SELECT count(*) AS n,
                CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total,
                max(o_orderdate) AS last_order
         FROM orders""",
    "q_sort_limit" ->
      """SELECT c_custkey, c_name, c_acctbal FROM
         (SELECT * FROM customer ORDER BY c_acctbal DESC, c_custkey
          LIMIT 50 OFFSET 10) t""",
    "q_union_all" ->
      """SELECT * FROM (
           SELECT p_partkey, p_name FROM part WHERE p_size >= 48
           UNION ALL
           SELECT p_partkey, p_name FROM part WHERE p_size <= 2
         ) t ORDER BY p_partkey""",
    "q_granularity" ->
      """SELECT date_trunc('month', o_orderdate) AS month,
                date_trunc('week', o_orderdate + INTERVAL 1 DAY) - INTERVAL 1 DAY AS week,
                count(*) AS n
         FROM orders GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_week_monday" ->
      """SELECT date_trunc('week', o_orderdate) AS week, count(*) AS n
         FROM orders GROUP BY 1 ORDER BY 1""",
    "q_granularity_fine" ->
      """SELECT date_trunc('hour', ts) AS hour,
                date_trunc('minute', ts) AS minute,
                date_trunc('second', ts) AS second,
                count(*) AS n
         FROM events WHERE event_id < 500
         GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    "q_sort_nulls" ->
      """SELECT o_orderkey,
                CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_orderstatus END AS status_or_null
         FROM orders WHERE o_orderkey <= 200
         ORDER BY status_or_null DESC NULLS FIRST, o_orderkey""",
    "q_join_one" ->
      """SELECT c.c_mktsegment AS segment, count(*) AS n_orders,
                CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
         FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
         GROUP BY 1 ORDER BY 1""",
    "q_join_chain" ->
      """SELECT n.n_name AS nation_name, count(*) AS n
         FROM orders o
         JOIN customer c ON o.o_custkey = c.c_custkey
         LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
         WHERE c.c_acctbal > 9990.0
         GROUP BY 1 ORDER BY 1""",
    "q_wire_roundtrip" ->
      """SELECT n.n_name AS nation_name, count(*) AS n
         FROM orders o
         JOIN customer c ON o.o_custkey = c.c_custkey
         LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
         WHERE c.c_acctbal > 9990.0
         GROUP BY 1 ORDER BY 1""",
    "q_sql_text" ->
      """SELECT s_nationkey, count(*) AS n,
                CAST(sum(CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS bal
         FROM supplier WHERE s_acctbal > 5000
         GROUP BY 1 ORDER BY 1""",
    "q_cases" ->
      """SELECT CASE WHEN c_acctbal < 0.0 THEN 'negative'
                     WHEN c_acctbal < 5000.0 THEN 'low'
                     ELSE 'high' END AS bal_bucket, count(*) AS n
         FROM customer GROUP BY 1 ORDER BY 1""",
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
                count(*) AS n
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST""",
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
                count(*) AS n
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
         ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST""",
    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total
         FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus NULLS LAST, o_orderpriority NULLS LAST""",
    "q_semi_join" ->
      """SELECT c_mktsegment, count(*) AS n FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
         GROUP BY 1 ORDER BY 1""",
    "q_anti_join" ->
      """SELECT c_mktsegment, count(*) AS n FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
           WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
         GROUP BY 1 ORDER BY 1""",
    "q_percentile" ->
      """SELECT l_returnflag,
                round(quantile_cont(l_quantity, 0.5), 6) AS med_qty,
                round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
                round(quantile_cont(l_extendedprice, 0.99), 6) AS p99_price,
                count(*) AS n
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q_measures" ->
      """SELECT o_orderpriority,
                CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
                CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_fulfilled
         FROM orders GROUP BY 1 ORDER BY 1""",
    "q_count_if" ->
      """SELECT o_orderpriority,
                CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
                CAST(sum(CASE WHEN o_totalprice > 100000.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
                count(DISTINCT o_custkey) AS n_cust,
                count(o_orderkey) AS n
         FROM orders GROUP BY 1 ORDER BY 1""",
    "q_arith" ->
      """SELECT l_orderkey, l_linenumber,
                l_extendedprice * (1.0 - l_discount) AS net,
                l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS gross,
                l_quantity + 1.0 AS qplus,
                CAST(floor(l_partkey / 100) AS BIGINT) AS bucket,
                CAST(ceil(l_quantity / 7.0) AS BIGINT) AS qceil
         FROM lineitem WHERE l_orderkey <= 100
         ORDER BY l_orderkey, l_linenumber""",
    "q_in_values" ->
      """SELECT o_orderkey,
                CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_orderstatus END AS status_or_null
         FROM orders
         WHERE o_orderstatus = 'F' OR o_orderstatus = 'P'
         ORDER BY o_orderkey""",
    "q_in_model" ->
      """SELECT p_brand, count(*) AS n FROM part
         WHERE p_brand IN (
           SELECT p_brand FROM part GROUP BY 1
           ORDER BY count(*) DESC, p_brand LIMIT 3)
         GROUP BY 1 ORDER BY 1""",
    "q_bucket_other" ->
      """SELECT CASE WHEN p_brand IN ('Brand#11','Brand#22','Brand#33')
                     THEN p_brand ELSE 'Other' END AS brand_group,
                count(*) AS n,
                CAST(sum(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS price_sum
         FROM part GROUP BY 1 ORDER BY 1""",
    "q_scalar_subquery" ->
      """SELECT count(*) AS n, min(o_totalprice) AS min_price
         FROM orders
         WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)""",
    "q_exists" ->
      """SELECT r_regionkey, r_name FROM region
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_totalprice > 400000.0)
         ORDER BY r_regionkey""",
    "q_like" ->
      """SELECT count(*) AS n FROM part
         WHERE p_type LIKE '%BRASS%' OR p_name LIKE '%green%'
            OR p_brand ILIKE 'brand#4%'""",
    "q_diff_seconds" ->
      """SELECT event_type,
                avg(floor(epoch(ts)) - floor(epoch(date_trunc('day', ts)))) AS avg_secs_in_day,
                count(*) AS n
         FROM events GROUP BY 1 ORDER BY 1""",
    "q_format_ts" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS ym,
                'Q' || CAST(quarter(o_orderdate) AS VARCHAR) || '/' ||
                  strftime(o_orderdate, '%Y') AS quarter_label,
                count(*) AS n
         FROM orders GROUP BY 1, 2 ORDER BY 1""",
    "q_temporal_preds" ->
      """SELECT
           CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS BIGINT) AS n_today,
           CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-14' AND ts < TIMESTAMP '2024-01-15' THEN 1 ELSE 0 END) AS BIGINT) AS n_yesterday,
           CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-14' AND ts < TIMESTAMP '2024-01-21' THEN 1 ELSE 0 END) AS BIGINT) AS n_this_week,
           CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-07' AND ts < TIMESTAMP '2024-01-14' THEN 1 ELSE 0 END) AS BIGINT) AS n_last_week,
           CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01' THEN 1 ELSE 0 END) AS BIGINT) AS n_this_month,
           CAST(sum(CASE WHEN ts >= TIMESTAMP '2023-12-01' AND ts < TIMESTAMP '2024-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS n_last_month,
           CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-04-01' THEN 1 ELSE 0 END) AS BIGINT) AS n_this_quarter,
           CAST(sum(CASE WHEN ts >= TIMESTAMP '2023-10-01' AND ts < TIMESTAMP '2024-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS n_last_quarter,
           CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2025-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS n_this_year,
           CAST(sum(CASE WHEN ts >= TIMESTAMP '2023-01-01' AND ts < TIMESTAMP '2024-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS n_last_year
         FROM events""",
    "q_interval" ->
      """SELECT count(*) AS n
         FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
         WHERE l.l_shipdate <= o.o_orderdate + INTERVAL 90 DAY""",
    "q_cast" ->
      """SELECT l_orderkey, l_linenumber,
                CAST(l_quantity AS BIGINT) AS qty_int,
                CAST(l_linenumber AS DOUBLE) AS ln_dbl
         FROM lineitem WHERE l_orderkey <= 500
         ORDER BY l_orderkey, l_linenumber""",
    "q_topk_group" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rank FROM (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_orderpriority
                    ORDER BY o_totalprice DESC, o_orderkey) AS rank
           FROM orders) t
         WHERE rank <= 2 ORDER BY o_orderpriority, rank""",
    "q_window_rank" ->
      """WITH base AS (
           SELECT event_id, user_id, event_type, value, floor(value) AS fv
           FROM events WHERE user_id < 40
         )
         SELECT event_id, user_id,
           rank() OVER (PARTITION BY user_id ORDER BY fv DESC) AS rnk,
           dense_rank() OVER (PARTITION BY user_id ORDER BY fv DESC) AS drnk,
           round(percent_rank() OVER (PARTITION BY user_id ORDER BY fv DESC), 6) AS prnk,
           round(cume_dist() OVER (PARTITION BY user_id ORDER BY fv DESC), 6) AS cd,
           ntile(4) OVER (PARTITION BY user_id ORDER BY fv DESC, event_id) AS quartile,
           round(first_value(value) OVER (PARTITION BY user_id ORDER BY fv DESC, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS top_val,
           last_value(CASE WHEN event_type = 'purchase' THEN event_type END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY fv DESC, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS latest_purchase
         FROM base ORDER BY event_id""",

    "q_window_calc" ->
      """WITH base AS (
           SELECT o_orderkey, o_custkey, o_orderdate,
                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           FROM orders WHERE o_custkey < 150)
         SELECT o_orderkey, o_custkey,
                row_number() OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey) AS order_seq,
                lag(o_orderdate, 1) OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey) AS prev_date,
                CAST(sum(cents) OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_cents,
                round(avg(cents) OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS avg3_cents
         FROM base ORDER BY o_orderkey""",
    "q_asof_join" ->
      """SELECT e.event_id, e.user_id, e.ts,
              (SELECT o.o_orderkey FROM orders o
                WHERE o.o_custkey = e.user_id
                  AND CAST(o.o_orderdate AS TIMESTAMP) <= e.ts
                ORDER BY o.o_orderdate DESC, o.o_orderkey DESC
                LIMIT 1) AS last_order_key,
              (SELECT o.o_totalprice FROM orders o
                WHERE o.o_custkey = e.user_id
                  AND CAST(o.o_orderdate AS TIMESTAMP) <= e.ts
                ORDER BY o.o_orderdate DESC, o.o_orderkey DESC
                LIMIT 1) AS last_order_price
         FROM events e
         WHERE e.event_type = 'purchase' AND e.user_id < 50
         ORDER BY e.event_id""",

    "q_range_join" ->
      """SELECT e.event_id, e.user_id, e.ts,
                p.event_id AS purchase_event
         FROM events e
         JOIN events p
           ON p.user_id = e.user_id
          AND e.ts >= p.ts - INTERVAL 2 HOUR
          AND e.ts <  p.ts
         WHERE e.event_type = 'click' AND p.event_type = 'purchase'
         ORDER BY e.event_id, purchase_event""",

    "q_scalar_funcs" ->
      """SELECT c_custkey,
                coalesce(CASE WHEN c_acctbal < 0 THEN c_mktsegment END, 'none') AS neg_seg,
                abs(c_acctbal) AS abs_bal,
                round(c_acctbal / 3, 6) AS bal_third,
                (c_mktsegment || '-' || substring(c_name, 1, 8)) AS tag,
                replace(c_mktsegment, 'MACHINERY', 'MACH') AS seg
         FROM customer WHERE c_custkey <= 100 ORDER BY c_custkey""",

    "q_pivot" ->
      """SELECT l_linestatus,
                sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END) AS A,
                sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END) AS N,
                sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END) AS R
         FROM lineitem GROUP BY 1 ORDER BY 1""",

    "q_fold" ->
      """SELECT o_orderpriority, status, n FROM (
           SELECT o_orderpriority, 'n_open' AS status,
                  CAST(sum(CASE WHEN o_orderstatus='O' THEN 1 ELSE 0 END) AS BIGINT) AS n
           FROM orders GROUP BY 1
           UNION ALL
           SELECT o_orderpriority, 'n_fulfilled',
                  CAST(sum(CASE WHEN o_orderstatus='F' THEN 1 ELSE 0 END) AS BIGINT)
           FROM orders GROUP BY 1
           UNION ALL
           SELECT o_orderpriority, 'n_pending',
                  CAST(sum(CASE WHEN o_orderstatus='P' THEN 1 ELSE 0 END) AS BIGINT)
           FROM orders GROUP BY 1
         ) t ORDER BY o_orderpriority, status""",
    "q_raw_sql" ->
      """SELECT substring(c_name, 1, 9) AS name_prefix, count(*) AS n
         FROM customer GROUP BY 1 ORDER BY 1 LIMIT 20""",
    "q_contains_any" ->
      """SELECT count(*) AS n FROM part
         WHERE (p_name LIKE '%green%' OR p_name LIKE '%blue%')
           AND (p_type LIKE '%PLATED%' AND p_type LIKE '%BRASS%')""",
    "q_distinct_pick" ->
      "SELECT DISTINCT o_orderpriority FROM orders ORDER BY 1",
    "q_sql_template" ->
      """SELECT count(*) AS n,
                CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total
         FROM orders
         WHERE (o_totalprice * (1.0 - 0.1)) * 2 > 500000""",
    "q_sql_self" ->
      """SELECT count(*) AS n,
                CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total
         FROM orders
         WHERE o_totalprice * 2 > 500000 AND o_orderpriority = '1-URGENT'""",
    "q_csv_source" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "q_array_contains" ->
      """SELECT lang, count(*) AS n FROM documents
         WHERE list_contains(regexp_split_to_array(text, ' '), 'spark')
         GROUP BY 1 ORDER BY 1""",
    "q_json_source" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "q_xlsx_source" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    // container-to-corpus: the oracle rebuilds the same html wrap from
    // the parquet original, replays the strip chain, token gate, and
    // the source-derived domain rollup.
    "q_warc_pipeline" ->
      """WITH h AS (
           SELECT doc_id, source,
             concat('<html><head><title>Doc ', CAST(doc_id AS VARCHAR),
               '</title><style type="text/css">body { color: red; }</style></head>',
               '<body><!-- id ', CAST(doc_id AS VARCHAR), ' --><h1>Doc&nbsp;',
               CAST(doc_id AS VARCHAR), '</h1><p class="main">', text,
               ' &amp;lt; tail &lt;escaped&gt; &#39;q&#39;</p>',
               '<script>if (1 < 2) { alert(">"); }</script></body></html>')
               AS html
           FROM documents),
         c AS (
           SELECT source, trim(regexp_replace(
             replace(replace(replace(replace(replace(replace(
               regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                 html,
                 '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                 '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                 '(?s)<!--.*?-->', ' ', 'g'),
                 '(?s)<[^>]*>', ' ', 'g'),
               '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
               '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
             '\s+', ' ', 'g')) AS c
           FROM h),
         k AS (
           SELECT source, c FROM c
           WHERE len(regexp_split_to_array(trim(c), '\s+')) >= 12)
         SELECT source || '.example' AS domain,
                CAST(count(*) AS BIGINT) AS n_kept,
                CAST(sum(length(c)) AS BIGINT) AS n_chars
         FROM k GROUP BY 1 ORDER BY 1""",

    // WET fixture payloads are the documents' text verbatim, so the
    // oracle replays the token gate + domain rollup on the parquet
    // original directly (same idiom as q_warc_pipeline's k/rollup tail).
    "q_wet_source" ->
      """SELECT source || '.example' AS domain,
                CAST(count(*) AS BIGINT) AS n_kept,
                CAST(sum(length(text)) AS BIGINT) AS n_chars
         FROM documents
         WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 12
         GROUP BY 1 ORDER BY 1""",

    // WAT fixture links replay the deterministic anchor construction on
    // the parquet original (srcs[(id·7+j·13) mod n] for j ≤ id mod 4);
    // the relative/javascript noise anchors drop at the query's rlike
    // and the IMG@/src entry drops at the reader's path filter, so
    // neither appears here.
    "q_wat_source" ->
      """WITH srcs AS MATERIALIZED (
           SELECT source, row_number() OVER (ORDER BY source) - 1 AS k
           FROM (SELECT DISTINCT source FROM documents)),
         lnk AS (
           SELECT d.doc_id, s2.source AS dst
           FROM documents d,
                LATERAL unnest(range(1, 4)) AS t(j),
                srcs s2
           WHERE t.j <= d.doc_id % 4
             AND s2.k = (d.doc_id * 7 + t.j * 13)
                          % (SELECT count(*) FROM srcs))
         SELECT dst || '.example' AS dst_host,
                CAST(count(*) AS BIGINT) AS n_in,
                CAST(count(DISTINCT doc_id) AS BIGINT) AS n_src_pages
         FROM lnk GROUP BY 1 ORDER BY dst_host""",

    // WARC fixture is encoded from the documents table, so the oracle
    // replays url + utf-8 byte length on the parquet original directly.
    "q_warc_source" ->
      """SELECT 'https://' || source || '.example/d/' ||
                CAST(doc_id AS VARCHAR) AS url,
              CAST(octet_length(encode(text)) AS BIGINT) AS content_length
         FROM documents ORDER BY url""",
    // ORC fixture is written from the parquet supplier table, so the
    // oracle replays the aggregate on the parquet original directly.
    "q_orc_source" ->
      """SELECT s_nationkey, count(*) AS n,
                CAST(sum(CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS bal
         FROM supplier WHERE s_acctbal > 5000
         GROUP BY 1 ORDER BY 1""",
    "q_segment_ltv" ->
      """SELECT CAST(sum(CAST(total AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS ltv,
                count(*) AS n_customers
         FROM (
           SELECT o_custkey, CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total
           FROM orders
           WHERE o_custkey IN (
             SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
           GROUP BY 1) t""",
    "q_timeframe_compare" ->
      """WITH weekly AS (
           SELECT date_trunc('week', o_orderdate + INTERVAL 1 DAY) - INTERVAL 1 DAY AS week,
                  date_trunc('week', o_orderdate + INTERVAL 1 DAY) - INTERVAL 1 DAY - INTERVAL 7 DAY AS prev_week,
                  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
           FROM orders GROUP BY 1, 2)
         SELECT a.week, a.revenue AS this_week, b.revenue AS last_week,
                a.revenue - b.revenue AS wow_change
         FROM weekly a LEFT JOIN weekly b ON a.prev_week = b.week
         ORDER BY a.week""",
    "q_join_nested" ->
      """SELECT n.n_name AS nation_name, count(*) AS n
         FROM orders o
         LEFT JOIN customer c ON o.o_custkey = c.c_custkey
         LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
         GROUP BY 1 ORDER BY 1""",
    "q_retention" ->
      """WITH cohorts AS (
           SELECT user_id,
                  min(date_trunc('week', ts + INTERVAL 1 DAY) - INTERVAL 1 DAY) AS cohort_week
           FROM events GROUP BY 1)
         SELECT c.cohort_week,
                CAST(floor(date_diff('second', c.cohort_week,
                    date_trunc('week', e.ts + INTERVAL 1 DAY) - INTERVAL 1 DAY)
                  / 604800) AS BIGINT) AS week_offset,
                count(DISTINCT e.user_id) AS active_users
         FROM events e JOIN cohorts c ON e.user_id = c.user_id
         GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_sessions_weekly" ->
      """WITH flags AS (
           SELECT user_id, ts,
                  CASE WHEN lag(ts) OVER w IS NULL
                            OR ts > lag(ts) OVER w + INTERVAL 1800 SECOND
                       THEN ts END AS bnd
           FROM events WHERE ts IS NOT NULL
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)
         ), sess AS (
           SELECT user_id, ts,
                  max(bnd) OVER (PARTITION BY user_id ORDER BY ts) AS session_start
           FROM flags
         ), sessions AS (
           SELECT user_id, session_start, count(*) AS n_events
           FROM sess GROUP BY 1, 2)
         SELECT date_trunc('week', session_start + INTERVAL 1 DAY) - INTERVAL 1 DAY AS week,
                count(*) AS n_sessions,
                CAST(sum(n_events) AS DOUBLE) / count(*) AS avg_events
         FROM sessions GROUP BY 1 ORDER BY 1""",

    "q_sessionize" ->
      """WITH flags AS (
           SELECT user_id, ts,
                  CASE WHEN lag(ts) OVER w IS NULL
                            OR ts > lag(ts) OVER w + INTERVAL 1800 SECOND
                       THEN ts END AS bnd
           FROM events WHERE ts IS NOT NULL
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)
         ), sess AS (
           SELECT user_id, ts,
                  max(bnd) OVER (PARTITION BY user_id ORDER BY ts) AS session_start
           FROM flags)
         SELECT user_id, session_start, count(*) AS n_events, max(ts) AS session_end
         FROM sess GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_match_steps" -> (FunnelCtes +
      """SELECT u.user_id, s0.t0 AS view_ts, s1.t1 AS click_ts, s2.t2 AS purchase_ts,
           CASE WHEN s2.t2 IS NOT NULL THEN 'purchase'
                WHEN s1.t1 IS NOT NULL THEN 'click'
                WHEN s0.t0 IS NOT NULL THEN 'view' END AS last_matched_step_name,
           CAST(CASE WHEN s2.t2 IS NOT NULL THEN 2
                WHEN s1.t1 IS NOT NULL THEN 1
                WHEN s0.t0 IS NOT NULL THEN 0 END AS BIGINT) AS last_matched_step_index
         FROM (SELECT DISTINCT user_id FROM events) u
         LEFT JOIN s0 USING (user_id) LEFT JOIN s1 USING (user_id)
         LEFT JOIN s2 USING (user_id)
         ORDER BY user_id"""),

    // Replays the pinned index semantics exactly: matched index = count
    // of the group's events STRICTLY before the matched instant, + 1
    // (ties collapse to the first slot — deterministic, unlike a bare
    // row_number over an arbitrary tie order).
    "q_match_steps_index" -> (FunnelCtes +
      """, idx AS (
           SELECT u.user_id, s0.t0, s1.t1, s2.t2
           FROM (SELECT DISTINCT user_id FROM events) u
           LEFT JOIN s0 USING (user_id) LEFT JOIN s1 USING (user_id)
           LEFT JOIN s2 USING (user_id))
         SELECT i.user_id,
           CAST(CASE WHEN i.t0 IS NOT NULL
                THEN 1 + count(CASE WHEN e.ts < i.t0 THEN 1 END) END AS BIGINT)
             AS view_index,
           CAST(CASE WHEN i.t1 IS NOT NULL
                THEN 1 + count(CASE WHEN e.ts < i.t1 THEN 1 END) END AS BIGINT)
             AS click_index,
           CAST(CASE WHEN i.t2 IS NOT NULL
                THEN 1 + count(CASE WHEN e.ts < i.t2 THEN 1 END) END AS BIGINT)
             AS purchase_index
         FROM idx i LEFT JOIN events e ON e.user_id = i.user_id
         GROUP BY i.user_id, i.t0, i.t1, i.t2
         ORDER BY i.user_id"""),
    // The exact contaminated set: bloom-dropped ∩ exact-dropped collapses
    // to it exactly when the bloom path leaks nothing (no-false-negative
    // gate; over-drops cannot appear in the intersection).
    "q_stream_decontam" ->
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
           FROM documents
         ), sh AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
                    i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS sh
           FROM toks WHERE len(w) >= 3
         ), eg AS (
           SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id < 5
         )
         SELECT DISTINCT s.doc_id FROM sh s JOIN eg ON list_contains(s.sh, eg.g)
         ORDER BY doc_id""",

    // One row per group that matched step 0 (the streaming operator's
    // update-mode emission over full history); group key is the string
    // form, the price of the schema-generic streaming operator.
    "q_stream_chain" -> (FunnelCtes +
      """SELECT CAST(s0.user_id AS VARCHAR) AS "group",
                s0.t0 AS view_ts, s1.t1 AS click_ts, s2.t2 AS purchase_ts
         FROM s0 LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
         ORDER BY 1"""),

    "q_funnel" -> (FunnelCtes +
      """SELECT step, entities FROM (
           SELECT 'users' AS step, count(DISTINCT user_id) AS entities, 0 AS si FROM events
           UNION ALL SELECT 'view', (SELECT count(*) FROM s0), 1
           UNION ALL SELECT 'click', (SELECT count(*) FROM s1), 2
           UNION ALL SELECT 'purchase', (SELECT count(*) FROM s2), 3
         ) t ORDER BY si"""),
    "q_funnel_time_limit" -> (FunnelCtes +
      """, j AS (
           SELECT s0.user_id, s0.t0,
                  CASE WHEN epoch(s1.t1) - epoch(s0.t0) < 604800 THEN s1.t1 END AS t1,
                  CASE WHEN epoch(s2.t2) - epoch(s0.t0) < 604800 THEN s2.t2 END AS t2
           FROM s0 LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id))
         SELECT step, entities FROM (
           SELECT 'users' AS step, count(DISTINCT user_id) AS entities, 0 AS si FROM events
           UNION ALL SELECT 'view', (SELECT count(t0) FROM j), 1
           UNION ALL SELECT 'click', (SELECT count(t1) FROM j), 2
           UNION ALL SELECT 'purchase', (SELECT count(t2) FROM j), 3
         ) t ORDER BY si"""),
    "q_funnel_partition" ->
      """WITH p0 AS (
           SELECT user_id, date_trunc('month', ts) AS month, min(ts) AS t0
           FROM events WHERE event_type = 'view' GROUP BY 1, 2),
         c1 AS (
           SELECT p0.user_id, p0.month, min(e.ts) AS t1
           FROM events e JOIN p0 ON e.user_id = p0.user_id AND e.ts > p0.t0
           WHERE e.event_type = 'click' GROUP BY 1, 2),
         c2 AS (
           SELECT c1.user_id, c1.month, min(e.ts) AS t2
           FROM events e JOIN c1 ON e.user_id = c1.user_id AND e.ts > c1.t1
           WHERE e.event_type = 'purchase' GROUP BY 1, 2),
         sel AS (
           SELECT p0.month, p0.t0, c1.t1, c2.t2
           FROM p0 LEFT JOIN c1 USING (user_id, month)
                   LEFT JOIN c2 USING (user_id, month))
         SELECT month, step, entities FROM (
           SELECT month, 'view' AS step, count(t0) AS entities, 0 AS si FROM sel GROUP BY 1
           UNION ALL SELECT month, 'click', count(t1), 1 FROM sel GROUP BY 1
           UNION ALL SELECT month, 'purchase', count(t2), 2 FROM sel GROUP BY 1
         ) t ORDER BY month, si""",
    // Greedy chain assembled WITHOUT the limit (the reference's documented
    // pessimism), then each later step nulled independently when at or
    // beyond anchor + 7 days — per (user, month) anchor.
    "q_funnel_partition_limit" ->
      """WITH p0 AS (
           SELECT user_id, date_trunc('month', ts) AS month, min(ts) AS t0
           FROM events WHERE event_type = 'view' GROUP BY 1, 2),
         c1 AS (
           SELECT p0.user_id, p0.month, min(e.ts) AS t1
           FROM events e JOIN p0 ON e.user_id = p0.user_id AND e.ts > p0.t0
           WHERE e.event_type = 'click' GROUP BY 1, 2),
         c2 AS (
           SELECT c1.user_id, c1.month, min(e.ts) AS t2
           FROM events e JOIN c1 ON e.user_id = c1.user_id AND e.ts > c1.t1
           WHERE e.event_type = 'purchase' GROUP BY 1, 2),
         sel AS (
           SELECT p0.month, p0.t0,
                  CASE WHEN c1.t1 < p0.t0 + INTERVAL 7 DAY THEN c1.t1 END AS t1,
                  CASE WHEN c2.t2 < p0.t0 + INTERVAL 7 DAY THEN c2.t2 END AS t2
           FROM p0 LEFT JOIN c1 USING (user_id, month)
                   LEFT JOIN c2 USING (user_id, month))
         SELECT month, step, entities FROM (
           SELECT month, 'view' AS step, count(t0) AS entities, 0 AS si FROM sel GROUP BY 1
           UNION ALL SELECT month, 'click', count(t1), 1 FROM sel GROUP BY 1
           UNION ALL SELECT month, 'purchase', count(t2), 2 FROM sel GROUP BY 1
         ) t ORDER BY month, si""",
    "q_funnel_rate" -> (FunnelCtes +
      """, j AS (
           SELECT s0.user_id, s0.t0, s1.t1, s2.t2
           FROM s0 LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id))
         SELECT count(t2) / count(t0) AS rate,
                count(t0) AS startedCount,
                count(t2) AS convertedCount,
                avg(floor(epoch(t2)) - floor(epoch(t0))) AS avgSecondsToConvert
         FROM j"""),
    "q_funnel_rate_cohort" -> (FunnelCtes +
      """, j AS (
           SELECT s0.user_id, CAST(s0.user_id // 50 AS BIGINT) AS cohort,
                  s0.t0, s1.t1, s2.t2
           FROM s0 LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id))
         SELECT cohort,
                count(t2) / count(t0) AS rate,
                count(t0) AS startedCount,
                count(t2) AS convertedCount,
                avg(floor(epoch(t2)) - floor(epoch(t0))) AS avgSecondsToConvert
         FROM j GROUP BY 1 ORDER BY 1"""),
    "q_funnel_cohort" -> (FunnelCtes +
      """, j AS (
           SELECT u.user_id, CAST(u.user_id // 50 AS BIGINT) AS cohort,
                  s0.t0, s1.t1, s2.t2
           FROM (SELECT DISTINCT user_id FROM events) u
           LEFT JOIN s0 USING (user_id) LEFT JOIN s1 USING (user_id)
           LEFT JOIN s2 USING (user_id))
         SELECT cohort, step, entities FROM (
           SELECT cohort, 'view' AS step, count(t0) AS entities, 0 AS si FROM j GROUP BY 1
           UNION ALL SELECT cohort, 'click', count(t1), 1 FROM j GROUP BY 1
           UNION ALL SELECT cohort, 'purchase', count(t2), 2 FROM j GROUP BY 1
         ) t ORDER BY cohort, si"""),
    "q_funnel_time_limit_month" -> (FunnelCtes +
      """, j AS (
           SELECT s0.user_id, s0.t0,
                  CASE WHEN s1.t1 < s0.t0 + INTERVAL 1 MONTH THEN s1.t1 END AS t1,
                  CASE WHEN s2.t2 < s0.t0 + INTERVAL 1 MONTH THEN s2.t2 END AS t2
           FROM s0 LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id))
         SELECT step, entities FROM (
           SELECT 'users' AS step, count(DISTINCT user_id) AS entities, 0 AS si FROM events
           UNION ALL SELECT 'view', (SELECT count(t0) FROM j), 1
           UNION ALL SELECT 'click', (SELECT count(t1) FROM j), 2
           UNION ALL SELECT 'purchase', (SELECT count(t2) FROM j), 3
         ) t ORDER BY si"""),

    // =============== LLM-data-pipeline oracles ===============

    "q_dedup_exact" ->
      """SELECT source, count(*) AS n_docs,
                count(DISTINCT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))) AS n_unique
         FROM documents GROUP BY source ORDER BY source""",

    "q_dedup_minhash" ->
      (MinhashPairsCtes +
        "SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b"),

    // EXACT jaccard join: the oracle is the DEFINITION — all pairs, no
    // blocking — so a hash match certifies the prefix filter's
    // no-false-negative guarantee, not just its verification math.
    "q_dedup_jaccard_exact" ->
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
           FROM documents
         ), sh AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
                    i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS sh
           FROM toks WHERE len(w) >= 3
         )
         SELECT left_id, right_id, jaccard FROM (
           SELECT x.doc_id AS left_id, y.doc_id AS right_id,
                  round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
                        len(list_distinct(x.sh || y.sh)), 6) AS jaccard
           FROM sh x JOIN sh y ON x.doc_id < y.doc_id) t
         WHERE jaccard >= 0.8 ORDER BY left_id, right_id""",

    // paragraph dedup: the SAME minhash replay over a synthesized
    // paragraph corpus (per-source banner + two content slices).
    "q_dedup_paragraph" ->
      (minhashPairsCtes(corpusSql =
        """SELECT doc_id * 4 AS doc_id,
                  'Shared banner text for source ' || source ||
                  ' repeated on every page' AS text
           FROM documents WHERE doc_id < 100
           UNION ALL
           SELECT doc_id * 4 + 1, substr(text, 1, 150)
           FROM documents WHERE doc_id < 100
           UNION ALL
           SELECT doc_id * 4 + 2, substr(text, 121, 150)
           FROM documents WHERE doc_id < 100""") +
        "SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b"),

    // Containment join: all-pairs definition over the same synthesized
    // truncation corpus (C = |∩| / |contained|, both orientations).
    "q_dedup_containment" ->
      """WITH corpus AS (
           SELECT doc_id * 2 AS doc_id, text
           FROM documents WHERE doc_id < 150
           UNION ALL
           SELECT doc_id * 2 + 1, substr(text, 1, 200)
           FROM documents WHERE doc_id < 150
         ), toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
           FROM corpus
         ), sh AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
                    i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS sh
           FROM toks WHERE len(w) >= 3
         )
         SELECT contained_id, container_id, containment FROM (
           SELECT x.doc_id AS contained_id, y.doc_id AS container_id,
                  round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
                        len(x.sh), 6) AS containment
           FROM sh x JOIN sh y ON x.doc_id <> y.doc_id) t
         WHERE containment >= 0.9 ORDER BY contained_id, container_id""",

    "q_dedup_minhash_skew" ->
      (minhashPairsCtes(maxBucketSize = 2) +
        "SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b"),

    "q_dedup_cross" ->
      (s"""WITH RECURSIVE ${minhashSideCtes("l", "doc_id % 2 = 0")},
         ${minhashSideCtes("r", "doc_id % 2 = 1")},
         cand AS (
           SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
           FROM bandl a JOIN bandr b ON a.b = b.b AND a.bh = b.bh
         )
         SELECT left_id, right_id, jaccard FROM (
           SELECT left_id, right_id,
                  round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
                        len(list_distinct(x.sh || y.sh)), 6) AS jaccard
           FROM cand JOIN shl x ON x.doc_id = left_id
                     JOIN shr y ON y.doc_id = right_id) t
         WHERE jaccard >= 0.8 ORDER BY left_id, right_id"""),

    // takedown ≡ an index that never held the removed docs: the right
    // side's predicate simply excludes them
    "q_dedup_takedown" ->
      (s"""WITH RECURSIVE ${minhashSideCtes("l", "doc_id % 2 = 0")},
         ${minhashSideCtes("r", "doc_id % 2 = 1 AND doc_id % 3 <> 0")},
         cand AS (
           SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
           FROM bandl a JOIN bandr b ON a.b = b.b AND a.bh = b.bh
         )
         SELECT left_id, right_id, jaccard FROM (
           SELECT left_id, right_id,
                  round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
                        len(list_distinct(x.sh || y.sh)), 6) AS jaccard
           FROM cand JOIN shl x ON x.doc_id = left_id
                     JOIN shr y ON y.doc_id = right_id) t
         WHERE jaccard >= 0.8 ORDER BY left_id, right_id"""),

    // datasheet report: same banner plant, same whitespace-token rule,
    // exact distinct-by-md5, one correctly-rounded division
    "q_corpus_report" ->
      """WITH b AS (
           SELECT lang, source,
                  CASE WHEN doc_id % 10 < 3
                       THEN 'Standard banner for ' || source
                       ELSE text END AS text
           FROM documents)
         SELECT lang, source,
                count(*) AS n_docs,
                CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
                  AS BIGINT) AS n_tokens,
                CAST(sum(length(text)) AS BIGINT) AS n_chars,
                CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
                round(CAST(1 AS DOUBLE) -
                      CAST(count(DISTINCT md5(text)) AS DOUBLE) / count(*), 6)
                  AS dup_rate
         FROM b GROUP BY 1, 2 ORDER BY 1, 2""",

    // snapshot diff: same slices, same revision rule, same raw-md5
    // hashes, one full outer join
    "q_corpus_diff" ->
      """WITH o AS (
           SELECT doc_id, md5(text) AS old_md5
           FROM documents WHERE doc_id % 7 <> 0
         ), n AS (
           SELECT doc_id,
                  md5(CASE WHEN doc_id % 3 = 0 THEN text || ' v2'
                           ELSE text END) AS new_md5
           FROM documents WHERE doc_id % 5 <> 0
         )
         SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                CASE WHEN o.doc_id IS NULL THEN 'added'
                     WHEN n.doc_id IS NULL THEN 'removed'
                     WHEN o.old_md5 IS NOT DISTINCT FROM n.new_md5
                       THEN 'unchanged'
                     ELSE 'changed' END AS status,
                o.old_md5 AS old_md5, n.new_md5 AS new_md5
         FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
         ORDER BY doc_id""",

    // the streaming twin sees only the NEW snapshot's side: same CTEs,
    // left join from n — 'removed' rows are exactly what it cannot emit
    "q_stream_corpus_diff" ->
      """WITH o AS (
           SELECT doc_id, md5(text) AS old_md5
           FROM documents WHERE doc_id % 7 <> 0
         ), n AS (
           SELECT doc_id,
                  md5(CASE WHEN doc_id % 3 = 0 THEN text || ' v2'
                           ELSE text END) AS new_md5
           FROM documents WHERE doc_id % 5 <> 0
         )
         SELECT n.doc_id AS doc_id,
                CASE WHEN o.doc_id IS NULL THEN 'added'
                     WHEN o.old_md5 IS NOT DISTINCT FROM n.new_md5
                       THEN 'unchanged'
                     ELSE 'changed' END AS status,
                o.old_md5 AS old_md5, n.new_md5 AS new_md5
         FROM n LEFT JOIN o ON o.doc_id = n.doc_id
         ORDER BY doc_id""",

    "q_dedup_boilerplate_skew" ->
      (minhashPairsCtes(maxBucketSize = 8,
        corpusSql = "SELECT doc_id, CASE WHEN doc_id % 10 = 0 " +
          s"THEN '$BoilerplateText' ELSE text END AS text FROM documents") +
        "SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b"),

    // blocks = non-overlapping 8-token windows (chunking CTE shape);
    // blocks whose text occurs in > 2 blocks corpus-wide are dropped;
    // string_agg skips NULLed-out blocks, coalesce matches Spark's
    // concat_ws('') on all-dropped docs
    "q_block_dedup" ->
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
           FROM documents
         ), ix AS (
           SELECT doc_id, w, CAST(i AS INT) AS chunk_ix
           FROM (SELECT doc_id, w,
                   unnest(range(0, 1 + (greatest(len(w) - 8, 0) + 7) // 8)) AS i
                 FROM toks)
         ), blocks AS (
           SELECT doc_id, chunk_ix,
                  array_to_string(w[chunk_ix * 8 + 1 : chunk_ix * 8 + 8], ' ') AS bt
           FROM ix
         ), counts AS (
           SELECT md5(bt) AS bh, count(*) AS copies FROM blocks GROUP BY 1
         )
         SELECT b.doc_id, count(*) AS n_blocks,
                CAST(sum(CASE WHEN c.copies > 2 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_dropped,
                coalesce(string_agg(CASE WHEN c.copies <= 2 THEN b.bt END,
                  ' ' ORDER BY b.chunk_ix), '') AS clean_text
         FROM blocks b JOIN counts c ON md5(b.bt) = c.bh
         GROUP BY 1 ORDER BY 1""",

    // Replays hashedTfVectors' bucket assignment: md5-prefix 32-bit hash
    // mod 64, per-(doc, bucket) counts as DOUBLE (vector element type).
    "q_hashed_tf" ->
      """WITH t AS (
           SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
           FROM documents WHERE doc_id < 300
         ), b AS (
           SELECT doc_id,
                  CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) % 64
                    AS bucket
           FROM t)
         SELECT doc_id, bucket, CAST(count(*) AS DOUBLE) AS tf
         FROM b GROUP BY 1, 2 ORDER BY 1, 2""",

    // DSIR: replays the hashed-gram feature space (md5-mod-256 buckets of
    // word unigrams + space-joined bigrams), both add-α bucket models
    // (each log2 term 6-dp-rounded then floor(x·10⁶+0.5) to integer
    // micro-bits), and the per-doc INTEGER gram-sum of the ratio table.
    "q_dsir_weights" ->
      """WITH raw AS (
           SELECT doc_id, text, lang FROM documents WHERE text IS NOT NULL
         ), g AS (
           SELECT doc_id, lang,
                  CAST(concat('0x', substr(md5(gm), 1, 8)) AS BIGINT) % 256 AS b
           FROM (
             SELECT doc_id, lang,
                    unnest(regexp_split_to_array(trim(text), '\s+')) AS gm
             FROM raw
             UNION ALL
             SELECT doc_id, lang, toks[i] || ' ' || toks[i + 1] AS gm
             FROM (SELECT doc_id, lang,
                          regexp_split_to_array(trim(text), '\s+') AS toks
                   FROM raw),
                  LATERAL unnest(range(1, len(toks))) t(i))
         ), model AS (
           SELECT r.b,
                  CAST(floor(round(log2((coalesce(tc.n, 0) + CAST(0.5 AS DOUBLE))
                       / (tt.c + CAST(128 AS DOUBLE))), 6) * 1000000 + 0.5) AS BIGINT)
                  - CAST(floor(round(log2((coalesce(rc.n, 0) + CAST(0.5 AS DOUBLE))
                       / (rt.c + CAST(128 AS DOUBLE))), 6) * 1000000 + 0.5) AS BIGINT)
                    AS llr
           FROM range(0, 256) r(b)
           LEFT JOIN (SELECT b, count(*) AS n FROM g WHERE lang = 'en'
                      GROUP BY 1) tc ON r.b = tc.b
           LEFT JOIN (SELECT b, count(*) AS n FROM g GROUP BY 1) rc ON r.b = rc.b
           CROSS JOIN (SELECT count(*) AS c FROM g WHERE lang = 'en') tt
           CROSS JOIN (SELECT count(*) AS c FROM g) rt
         )
         SELECT d.doc_id, CAST(count(g.b) AS BIGINT) AS n_grams,
                CAST(coalesce(sum(m.llr), 0) AS BIGINT) AS weight_micro
         FROM raw d
         LEFT JOIN g ON d.doc_id = g.doc_id
         LEFT JOIN model m ON g.b = m.b
         GROUP BY 1 ORDER BY 1""",

    // DSIR selection: the same model + per-doc weights, cut to the top
    // 100 by (weight desc, doc_id) with a deterministic rank.
    "q_dsir_select" ->
      """WITH raw AS (
           SELECT doc_id, text, lang FROM documents WHERE text IS NOT NULL
         ), g AS (
           SELECT doc_id, lang,
                  CAST(concat('0x', substr(md5(gm), 1, 8)) AS BIGINT) % 256 AS b
           FROM (
             SELECT doc_id, lang,
                    unnest(regexp_split_to_array(trim(text), '\s+')) AS gm
             FROM raw
             UNION ALL
             SELECT doc_id, lang, toks[i] || ' ' || toks[i + 1] AS gm
             FROM (SELECT doc_id, lang,
                          regexp_split_to_array(trim(text), '\s+') AS toks
                   FROM raw),
                  LATERAL unnest(range(1, len(toks))) t(i))
         ), model AS (
           SELECT r.b,
                  CAST(floor(round(log2((coalesce(tc.n, 0) + CAST(0.5 AS DOUBLE))
                       / (tt.c + CAST(128 AS DOUBLE))), 6) * 1000000 + 0.5) AS BIGINT)
                  - CAST(floor(round(log2((coalesce(rc.n, 0) + CAST(0.5 AS DOUBLE))
                       / (rt.c + CAST(128 AS DOUBLE))), 6) * 1000000 + 0.5) AS BIGINT)
                    AS llr
           FROM range(0, 256) r(b)
           LEFT JOIN (SELECT b, count(*) AS n FROM g WHERE lang = 'en'
                      GROUP BY 1) tc ON r.b = tc.b
           LEFT JOIN (SELECT b, count(*) AS n FROM g GROUP BY 1) rc ON r.b = rc.b
           CROSS JOIN (SELECT count(*) AS c FROM g WHERE lang = 'en') tt
           CROSS JOIN (SELECT count(*) AS c FROM g) rt
         ), w AS (
           SELECT d.doc_id, CAST(coalesce(sum(m.llr), 0) AS BIGINT) AS weight_micro
           FROM raw d
           LEFT JOIN g ON d.doc_id = g.doc_id
           LEFT JOIN model m ON g.b = m.b
           GROUP BY 1
         )
         SELECT doc_id, weight_micro,
                CAST(row_number() OVER (ORDER BY weight_micro DESC, doc_id)
                     AS BIGINT) AS rank
         FROM w ORDER BY weight_micro DESC, doc_id LIMIT 100""",

    // Token-budget fill: quota = floor(weight·12000 + 0.5) per language;
    // keep the md5(doc_id)-ordered prefix whose inclusive running token
    // count fits; same whitespace tokenization as the Spark side.
    "q_token_budget" ->
      """WITH wts(lang, weight) AS (VALUES
             ('en', CAST(0.45 AS DOUBLE)), ('zh', CAST(0.15 AS DOUBLE)),
             ('es', CAST(0.15 AS DOUBLE)), ('de', CAST(0.15 AS DOUBLE)),
             ('fr', CAST(0.10 AS DOUBLE))),
         d AS (
           SELECT doc_id, lang,
                  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
                    AS n_tokens,
                  md5(CAST(doc_id AS VARCHAR)) AS mk
           FROM documents WHERE text IS NOT NULL),
         j AS (
           SELECT d.doc_id, d.lang, d.n_tokens, d.mk,
                  CAST(floor(w.weight * 12000 + 0.5) AS BIGINT) AS quota
           FROM d JOIN wts w ON d.lang = w.lang),
         c AS (
           SELECT doc_id, lang, n_tokens, quota,
                  sum(n_tokens) OVER (PARTITION BY lang ORDER BY mk, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cum_tokens
           FROM j)
         SELECT doc_id, lang, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
         FROM c WHERE cum_tokens <= quota ORDER BY doc_id""",

    // Corpus-level line dedup: first occurrence per distinct line in
    // (doc_id, line-index) order = row_number 1 over the line partition;
    // survivors reassemble in index order, md5'd as VARCHAR.
    "q_line_dedup_corpus" ->
      """WITH b AS (
           SELECT doc_id,
                  concat_ws(chr(10), 'SITE NAV | Home | About',
                            substring(text, 1, 60),
                            '(c) example.org - all rights reserved',
                            substring(text, 61, 60)) AS doc
           FROM documents WHERE doc_id < 200
         ), l AS (
           SELECT doc_id, CAST(i AS BIGINT) AS ix, ls[i] AS ln
           FROM (SELECT doc_id, string_split(doc, chr(10)) AS ls FROM b),
                LATERAL unnest(range(1, len(ls) + 1)) t(i)
         ), k AS (
           SELECT doc_id, ix, ln,
                  row_number() OVER (PARTITION BY ln ORDER BY doc_id, ix) = 1
                    AS keep
           FROM l)
         SELECT doc_id, count(*) AS n_lines,
                CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                md5(coalesce(string_agg(CASE WHEN keep THEN ln END,
                  chr(10) ORDER BY ix), '')) AS clean_md5
         FROM k GROUP BY 1 ORDER BY 1""",

    // Duplicated-substring spans: same rolling 8-gram positions, same
    // global >=2 count, same lag-based island merge (coverage touches
    // while pos <= prev + 8). Positions are BIGINT on both engines;
    // HUGEINT sums cast back to BIGINT.
    "q_substr_spans" ->
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
           FROM documents
         ), pos AS (
           SELECT doc_id, CAST(i AS BIGINT) AS pos,
                  md5(array_to_string(w[i:i+7], ' ')) AS gh
           FROM (SELECT doc_id, w, unnest(range(1, len(w) - 6)) AS i
                 FROM toks WHERE len(w) >= 8)
         ), dupg AS (SELECT gh FROM pos GROUP BY gh HAVING count(*) >= 2),
         dup AS (SELECT p.doc_id, p.pos FROM pos p JOIN dupg USING (gh)),
         seg AS (
           SELECT doc_id, pos,
                  CASE WHEN pos > coalesce(
                    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8, -1)
                  THEN 1 ELSE 0 END AS nw
           FROM dup
         ), segs AS (
           SELECT doc_id, pos,
                  sum(nw) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
           FROM seg
         ), spans AS (
           SELECT doc_id, seg, min(pos) AS s, max(pos) + 7 AS e
           FROM segs GROUP BY 1, 2)
         SELECT doc_id, count(*) AS n_spans,
                CAST(sum(e - s + 1) AS BIGINT) AS dup_words,
                CAST(max(e - s + 1) AS BIGINT) AS max_span_words
         FROM spans GROUP BY 1 ORDER BY 1""",

    // incremental admission: the re-submitted slice's grams join the
    // corpus gram index (freq-capped), diagonal runs per (new doc,
    // indexed doc, offset) = every pairwise maximal match
    "q_substr_admit" ->
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
           FROM documents
         ), pos AS (
           SELECT doc_id, CAST(i AS BIGINT) AS pos,
                  md5(array_to_string(w[i:i+7], ' ')) AS gh
           FROM (SELECT doc_id, w, unnest(range(1, len(w) - 6)) AS i
                 FROM toks WHERE len(w) >= 8)
         ), gf AS (SELECT gh, count(*) AS f FROM pos GROUP BY 1),
         idx AS MATERIALIZED (
           SELECT p.gh, p.doc_id AS bid, p.pos AS bpos
           FROM pos p JOIN gf USING (gh) WHERE gf.f <= 64),
         npos AS (
           SELECT doc_id + 10000 AS nid, CAST(i AS BIGINT) AS np,
                  md5(array_to_string(w[i:i+7], ' ')) AS gh
           FROM (SELECT doc_id, w, unnest(range(1, len(w) - 6)) AS i
                 FROM toks WHERE len(w) >= 8 AND doc_id % 9 = 3)
         ), hits AS MATERIALIZED (
           SELECT n.nid, n.np, i.bid, n.np - i.bpos AS diag
           FROM npos n JOIN idx i USING (gh)),
         segd AS (
           SELECT nid, np, bid, diag,
                  CASE WHEN np > coalesce(lag(np) OVER
                    (PARTITION BY nid, bid, diag ORDER BY np) + 1, -1)
                  THEN 1 ELSE 0 END AS nw
           FROM hits),
         segs AS (
           SELECT nid, np, bid, diag,
                  sum(nw) OVER (PARTITION BY nid, bid, diag ORDER BY np
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
           FROM segd)
         SELECT nid AS left_id, bid AS right_id,
                CAST(min(np) AS BIGINT) AS match_start,
                CAST(max(np) + 7 - min(np) + 1 AS BIGINT) AS match_words
         FROM segs GROUP BY nid, bid, diag, seg
         ORDER BY left_id, right_id, match_start, match_words""",

    // maximal matches: gram co-occurrence pairs grouped by (docA, docB,
    // diagonal), consecutive-position runs = pairwise maximal matches,
    // per-doc interval union-merge + the longest single match
    "q_substr_maximal" ->
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
           FROM documents
         ), pos AS (
           SELECT doc_id, CAST(i AS BIGINT) AS pos,
                  md5(array_to_string(w[i:i+7], ' ')) AS gh
           FROM (SELECT doc_id, w, unnest(range(1, len(w) - 6)) AS i
                 FROM toks WHERE len(w) >= 8)
         ), shared AS (
           SELECT gh FROM pos GROUP BY gh
           HAVING count(*) >= 2 AND count(*) <= 64),
         occ AS MATERIALIZED (
           SELECT p.doc_id, p.pos, p.gh FROM pos p JOIN shared USING (gh)),
         pairs AS MATERIALIZED (
           SELECT a.doc_id AS aid, a.pos AS apos, b.doc_id AS bid,
                  a.pos - b.pos AS diag
           FROM occ a JOIN occ b ON a.gh = b.gh
           WHERE NOT (a.doc_id = b.doc_id AND a.pos = b.pos)),
         segd AS (
           SELECT aid, apos, bid, diag,
                  CASE WHEN apos > coalesce(lag(apos) OVER
                    (PARTITION BY aid, bid, diag ORDER BY apos) + 1, -1)
                  THEN 1 ELSE 0 END AS nw
           FROM pairs),
         segs AS (
           SELECT aid, apos, bid, diag,
                  sum(nw) OVER (PARTITION BY aid, bid, diag ORDER BY apos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
           FROM segd),
         mtch AS MATERIALIZED (
           SELECT aid, bid, diag, seg, min(apos) AS s, max(apos) + 7 AS e
           FROM segs GROUP BY 1, 2, 3, 4),
         iv AS (SELECT DISTINCT aid, s, e FROM mtch),
         mrg0 AS (
           SELECT aid, s, e,
                  CASE WHEN s > coalesce(max(e) OVER
                    (PARTITION BY aid ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1,
                    -1)
                  THEN 1 ELSE 0 END AS nw
           FROM iv),
         mrg AS (
           SELECT aid, s, e,
                  sum(nw) OVER (PARTITION BY aid ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
           FROM mrg0),
         spans AS (
           SELECT aid, seg, min(s) AS cs, max(e) AS ce FROM mrg GROUP BY 1, 2),
         mm AS (
           SELECT aid, CAST(max(e - s + 1) AS BIGINT) AS max_match_words
           FROM mtch GROUP BY 1)
         SELECT sp.aid AS doc_id,
                count(*) AS n_spans,
                CAST(sum(ce - cs + 1) AS BIGINT) AS dup_words,
                CAST(max(ce - cs + 1) AS BIGINT) AS max_span_words,
                CAST(max(mm.max_match_words) AS BIGINT) AS max_match_words
         FROM spans sp JOIN mm ON mm.aid = sp.aid
         GROUP BY 1 ORDER BY 1""",

    // Apply substring dedup: covered word positions = union of [pos, pos+7]
    // intervals; survivors reassembled in word order and md5'd (string md5
    // only — DuckDB md5 is VARCHAR-only).
    "q_substr_clean" ->
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
           FROM documents
         ), pos AS (
           SELECT doc_id, CAST(i AS BIGINT) AS pos,
                  md5(array_to_string(w[i:i+7], ' ')) AS gh
           FROM (SELECT doc_id, w, unnest(range(1, len(w) - 6)) AS i
                 FROM toks WHERE len(w) >= 8)
         ), dupg AS (SELECT gh FROM pos GROUP BY gh HAVING count(*) >= 2),
         dup AS (SELECT p.doc_id, p.pos FROM pos p JOIN dupg USING (gh)),
         cov AS (
           SELECT DISTINCT doc_id, pos + j AS wp
           FROM (SELECT doc_id, pos, unnest(range(0, 8)) AS j FROM dup)
         ), words AS (
           SELECT doc_id, CAST(i AS BIGINT) AS wp, w[i] AS word
           FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM toks))
         SELECT wo.doc_id, count(*) AS n_words,
                CAST(sum(CASE WHEN c.wp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_removed,
                md5(coalesce(string_agg(CASE WHEN c.wp IS NULL THEN wo.word END,
                  ' ' ORDER BY wo.wp), '')) AS clean_md5
         FROM words wo LEFT JOIN cov c ON wo.doc_id = c.doc_id AND wo.wp = c.wp
         GROUP BY 1 ORDER BY 1""",

    "q_contamination" ->
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
         ), grams AS (
           SELECT doc_id, md5(g) AS gh FROM (
             SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 1),
                      i -> concat(w[i], ' ', w[i+1], ' ', w[i+2])))) AS g
             FROM toks WHERE len(w) >= 3) t)
         SELECT tr.doc_id,
                count(DISTINCT tr.gh) AS n_shared_ngrams,
                count(DISTINCT ev.doc_id) AS n_eval_docs
         FROM grams tr JOIN grams ev ON tr.gh = ev.gh
         WHERE tr.doc_id >= 20 AND ev.doc_id < 20
         GROUP BY 1 ORDER BY 1""",

    "q_pii_scrub" ->
      """SELECT doc_id, md5(s) AS scrub_md5, CAST(length(s) AS INT) AS n_chars_scrubbed
         FROM (
           SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
               concat(text, ' contact user', CAST(doc_id AS VARCHAR),
                      '@mail.example.com from 10.0.', CAST(doc_id % 200 AS VARCHAR),
                      '.7 call +1555 ', CAST(1000000 + doc_id AS VARCHAR)),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\+[0-9][0-9 -]{5,13}[0-9]', '<PHONE>', 'g'),
               '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS s
           FROM documents WHERE doc_id < 100) t
         ORDER BY doc_id""",

    // Replays stripHtml over the same injected shell: block drops, tag
    // drop, entity decode (&amp; last), whitespace collapse — identical
    // regex chain in the Java/RE2 common subset.
    "q_html_strip" ->
      """SELECT doc_id, md5(c) AS clean_md5, CAST(length(c) AS INT) AS n_chars
         FROM (
           SELECT doc_id, trim(regexp_replace(
             replace(replace(replace(replace(replace(replace(
               regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                 concat('<html><head><title>Doc ', CAST(doc_id AS VARCHAR),
                   '</title><style type="text/css">body { color: red; }</style></head>',
                   '<body><!-- id ', CAST(doc_id AS VARCHAR), ' --><h1>Doc&nbsp;',
                   CAST(doc_id AS VARCHAR), '</h1><p class="main">', text,
                   ' &amp;lt; tail &lt;escaped&gt; &#39;q&#39;</p>',
                   '<script>if (1 < 2) { alert(">"); }</script></body></html>'),
                 '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                 '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                 '(?s)<!--.*?-->', ' ', 'g'),
                 '(?s)<[^>]*>', ' ', 'g'),
               '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
               '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
             '\s+', ' ', 'g')) AS c
           FROM documents WHERE doc_id < 100) t
         ORDER BY doc_id""",

    "q_pagerank" -> PageRankSql,
    "q_pagerank_incr" -> PageRankIncrSql,

    "q_hits" -> HitsSql,

    "q_pagerank_links" -> PageRankLinksSql,

    "q_hits_links" -> HitsLinksSql,

    "q_hll_distinct" ->
      (s"""WITH h AS (
          SELECT lang,
                 CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS h
          FROM documents),
        b AS (SELECT lang, h % 256 AS bkt, h // 256 AS w FROM h),
        r AS (SELECT lang, bkt,
                max(CASE WHEN w = 0 THEN 53
                    ELSE 53 - length(bin(w)) END) AS M
              FROM b GROUP BY 1, 2),
        a AS (SELECT lang,
                sum(CAST(1 AS BIGINT) << (53 - M)) AS Sp,
                count(*) AS nb
              FROM r GROUP BY 1),
        f AS (SELECT lang, Sp + (256 - nb) * (CAST(1 AS BIGINT) << 53) AS S,
                256 - nb AS V, nb
              FROM a)
        SELECT f.lang, d.n_exact,
               ${graft.llm.Sketch.hllEstimateSql(8, "f.S", "f.V")}
                 AS hll_estimate,
               CAST(f.nb AS BIGINT) AS hll_buckets_used
        FROM f
        JOIN (SELECT lang, count(DISTINCT text) AS n_exact
              FROM documents GROUP BY 1) d ON d.lang = f.lang
        ORDER BY f.lang"""),

    // HLL set algebra: per-side registers (same md5/bucket/rank replay as
    // q_hll_distinct), union = bucket-wise max, inclusion–exclusion over
    // the shared estimator + intersect formula strings.
    "q_hll_overlap" ->
      (s"""WITH ab AS (
          SELECT 'a' AS side, text FROM documents WHERE doc_id % 3 <> 0
          UNION ALL
          SELECT 'b' AS side, text FROM documents WHERE doc_id % 2 = 0),
        h AS (SELECT side,
                CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS h
              FROM ab),
        b AS (SELECT side, h % 256 AS bkt, h // 256 AS w FROM h),
        r AS (SELECT side, bkt,
                max(CASE WHEN w = 0 THEN 53
                    ELSE 53 - length(bin(w)) END) AS M
              FROM b GROUP BY 1, 2),
        ru AS (SELECT side, bkt, M FROM r
               UNION ALL
               SELECT 'u' AS side, bkt, max(M) AS M FROM r GROUP BY 2),
        a2 AS (SELECT side,
                sum(CAST(1 AS BIGINT) << (53 - M)) AS Sp,
                count(*) AS nb
               FROM ru GROUP BY 1),
        f AS (SELECT side, Sp + (256 - nb) * (CAST(1 AS BIGINT) << 53) AS S,
                256 - nb AS V
              FROM a2),
        e AS (SELECT side,
                ${graft.llm.Sketch.hllEstimateSql(8, "f.S", "f.V")} AS est
              FROM f),
        p AS (SELECT
                max(CASE WHEN side = 'a' THEN est END) AS est_a,
                max(CASE WHEN side = 'b' THEN est END) AS est_b,
                max(CASE WHEN side = 'u' THEN est END) AS est_union
              FROM e),
        ex AS (SELECT count(*) AS n_inter_exact FROM
                (SELECT text FROM main.documents WHERE doc_id % 3 <> 0
                 INTERSECT
                 SELECT text FROM main.documents WHERE doc_id % 2 = 0)),
        exa AS (SELECT count(DISTINCT text) AS n_a_exact
                FROM main.documents WHERE doc_id % 3 <> 0),
        exb AS (SELECT count(DISTINCT text) AS n_b_exact
                FROM main.documents WHERE doc_id % 2 = 0)
        SELECT exa.n_a_exact, exb.n_b_exact, ex.n_inter_exact,
               p.est_a, p.est_b, p.est_union,
               ${graft.llm.Sketch.HllIntersectSql} AS est_intersect
        FROM p, ex, exa, exb"""),

    // Count-min: the d=4 × w=512 counter matrix replayed with row-salted
    // md5 buckets (i || ':' || token), probes = the exact top-20 recount,
    // estimate = min over the 4 counters.
    "q_cms_freq" ->
      """WITH toks AS (
           SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
           FROM documents WHERE trim(text) <> ''),
         tk AS (SELECT token,
                  CAST(concat('0x', substr(md5(token), 1, 15)) AS BIGINT)
                    % 2147483647 AS h
                FROM toks WHERE token <> ''),
         counters AS (
           SELECT t.i,
                  ((2 * t.i + 1) * tk.h + 1000000007 * t.i)
                    % 2147483647 % 512 AS bkt,
                  count(*) AS cnt
           FROM tk, LATERAL unnest(range(0, 4)) AS t(i)
           GROUP BY 1, 2),
         ex AS (SELECT token, min(h) AS h, count(*) AS n_exact
                FROM tk GROUP BY 1
                ORDER BY n_exact DESC, token LIMIT 20),
         pr AS (
           SELECT e.token, e.n_exact, t.i,
                  ((2 * t.i + 1) * e.h + 1000000007 * t.i)
                    % 2147483647 % 512 AS bkt
           FROM ex e, LATERAL unnest(range(0, 4)) AS t(i))
         SELECT pr.token, pr.n_exact,
                min(coalesce(c.cnt, 0)) AS cms_estimate
         FROM pr LEFT JOIN counters c ON c.i = pr.i AND c.bkt = pr.bkt
         GROUP BY 1, 2
         ORDER BY pr.token""",

    // HLL cube rollup: fine registers per (lang, slice), bucket-wise max
    // to lang, then the shared estimator — and the direct per-lang sketch
    // alongside; register-exactness means the two columns must be equal.
    "q_hll_rollup" ->
      (s"""WITH h AS (
          SELECT lang, doc_id % 4 AS slice,
                 CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS h
          FROM documents),
        b AS (SELECT lang, slice, h % 256 AS bkt, h // 256 AS w FROM h),
        fine AS (SELECT lang, slice, bkt,
                max(CASE WHEN w = 0 THEN 53
                    ELSE 53 - length(bin(w)) END) AS M
              FROM b GROUP BY 1, 2, 3),
        ru AS (SELECT lang, bkt, max(M) AS M FROM fine GROUP BY 1, 2),
        ra AS (SELECT lang,
                sum(CAST(1 AS BIGINT) << (53 - M)) AS Sp, count(*) AS nb
              FROM ru GROUP BY 1),
        rf AS (SELECT lang, Sp + (256 - nb) * (CAST(1 AS BIGINT) << 53) AS S,
                256 - nb AS V FROM ra),
        rest AS (SELECT lang,
                ${graft.llm.Sketch.hllEstimateSql(8, "rf.S", "rf.V")}
                  AS est_rollup
              FROM rf),
        dr AS (SELECT lang, h % 256 AS bkt,
                max(CASE WHEN h // 256 = 0 THEN 53
                    ELSE 53 - length(bin(h // 256)) END) AS M
              FROM h GROUP BY 1, 2),
        da AS (SELECT lang,
                sum(CAST(1 AS BIGINT) << (53 - M)) AS Sp, count(*) AS nb
              FROM dr GROUP BY 1),
        df_ AS (SELECT lang, Sp + (256 - nb) * (CAST(1 AS BIGINT) << 53) AS S,
                256 - nb AS V FROM da),
        dest AS (SELECT lang,
                ${graft.llm.Sketch.hllEstimateSql(8, "df_.S", "df_.V")}
                  AS est_direct
              FROM df_)
        SELECT rest.lang, rest.est_rollup, dest.est_direct, x.n_exact
        FROM rest
        JOIN dest ON dest.lang = rest.lang
        JOIN (SELECT lang, count(DISTINCT text) AS n_exact
              FROM documents GROUP BY 1) x ON x.lang = rest.lang
        ORDER BY rest.lang"""),

    // sampled quantiles: the same md5-u32 cutoff filter (kept SETS match
    // bit-for-bit), quantile_cont over survivors, exact quantiles joined.
    "q_quantile_sample" ->
      (s"""WITH b AS (
          SELECT l_returnflag AS g,
                 CAST(l_orderkey * 8 + l_linenumber AS VARCHAR) AS k,
                 CAST(l_extendedprice AS DOUBLE) AS v
          FROM lineitem
          WHERE l_extendedprice IS NOT NULL),
        n AS (SELECT g, count(*) AS n FROM b GROUP BY 1),
        s AS (SELECT b.g, b.v, n.n FROM b JOIN n ON b.g = n.g
              WHERE CAST(concat('0x', substr(md5(k), 1, 8)) AS BIGINT)
                    < ${graft.llm.Sketch.sampleCutoffSql(2000L, "n")}),
        sq AS (SELECT g, max(n) AS n, count(*) AS n_sample,
                round(quantile_cont(v, 0.5) + CAST(0 AS DOUBLE), 6) AS p50_s,
                round(quantile_cont(v, 0.9) + CAST(0 AS DOUBLE), 6) AS p90_s,
                round(quantile_cont(v, 0.99) + CAST(0 AS DOUBLE), 6) AS p99_s
              FROM s GROUP BY 1),
        xq AS (SELECT l_returnflag AS g,
                round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5)
                  + CAST(0 AS DOUBLE), 6) AS p50_x,
                round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.9)
                  + CAST(0 AS DOUBLE), 6) AS p90_x,
                round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.99)
                  + CAST(0 AS DOUBLE), 6) AS p99_x
              FROM lineitem GROUP BY 1)
        SELECT sq.g AS l_returnflag, sq.n, sq.n_sample,
               sq.p50_s, sq.p90_s, sq.p99_s, xq.p50_x, xq.p90_x, xq.p99_x
        FROM sq JOIN xq ON xq.g = sq.g
        ORDER BY sq.g"""),

    "q_dedup_clusters" ->
      (MinhashPairsCtes + ClosureCtes +
        """SELECT doc_id, cluster_id FROM clusters ORDER BY 1"""),

    "q_dedup_apply" ->
      (MinhashPairsCtes + ClosureCtes +
        """SELECT lang, count(*) AS n_kept FROM documents d
         WHERE NOT EXISTS (
           SELECT 1 FROM clusters c
           WHERE c.doc_id = d.doc_id AND c.doc_id <> c.cluster_id)
         GROUP BY 1 ORDER BY 1"""),

    // diversity sample: clusters replay + one window (size, canonical) +
    // the shared pow-6dp / floor-cutoff / md5-u32 keep rule
    "q_diversity_sample" ->
      (MinhashPairsCtes + ClosureCtes +
        """, base AS (
           SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
           FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id),
         sized AS (
           SELECT doc_id, cluster_id,
                  count(*) OVER (PARTITION BY cluster_id) AS m,
                  min(doc_id) OVER (PARTITION BY cluster_id) AS canon
           FROM base)
         SELECT doc_id, cluster_id, CAST(m AS BIGINT) AS cluster_size
         FROM sized
         WHERE doc_id = canon
            OR CAST(concat('0x',
                 substr(md5('div:' || CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT)
               < CAST(floor(round(pow(CAST(m AS DOUBLE), -0.5), 6)
                            * 4294967296.0) AS BIGINT)
         ORDER BY doc_id"""),

    "q_sample_hash" ->
      """SELECT lang, count(*) AS n FROM documents
         WHERE CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT) < 1073741824
         GROUP BY 1 ORDER BY 1""",

    // ES weighted sampling: same u = (md5_u32(key)+1)/2^32, same
    // round(ln(u)/w, 6) priority, same (priority desc, key) cut.
    "q_weighted_sample" ->
      """SELECT doc_id, lang,
                round(ln(CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1 AS DOUBLE)
                         / CAST(4294967296.0 AS DOUBLE))
                      / CAST(n_chars AS DOUBLE), 6) AS priority
         FROM documents
         WHERE n_chars IS NOT NULL AND n_chars > 0
         ORDER BY priority DESC, doc_id LIMIT 25""",

    "q_weighted_sample_group" ->
      """WITH p AS (
           SELECT lang, doc_id,
             round(ln(CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1 AS DOUBLE)
                      / CAST(4294967296.0 AS DOUBLE))
                   / CAST(n_chars AS DOUBLE), 6) AS priority
           FROM documents
           WHERE n_chars IS NOT NULL AND n_chars > 0),
         r AS (
           SELECT lang, doc_id, priority,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY priority DESC, doc_id) AS rn
           FROM p)
         SELECT lang, doc_id, priority FROM r WHERE rn <= 5
         ORDER BY lang, doc_id""",

    // Replays temperatureMix(alpha=0.5, keepFrac=0.5): pow→6dp round,
    // decimal weight sum, the SAME double expression association
    // (kf * N * w / S / n), floor(rate * 2^32) cutoff, md5-prefix keep.
    "q_lang_mix" ->
      """WITH g AS (SELECT lang, count(*) AS ng FROM documents GROUP BY 1),
         gw AS (SELECT lang, ng,
                       round(pow(CAST(ng AS DOUBLE), 0.5), 6) AS wp FROM g),
         t AS (SELECT sum(ng) AS N,
                      round(CAST(sum(CAST(wp AS DECIMAL(27,6))) AS DOUBLE), 6) AS S
               FROM gw),
         r AS (SELECT lang,
                      least(1.0, round(0.5 * CAST(N AS DOUBLE) * wp / S
                                       / CAST(ng AS DOUBLE), 6)) AS rate
               FROM gw CROSS JOIN t),
         rc AS (SELECT lang, rate,
                       CAST(floor(rate * 4294967296.0) AS BIGINT) AS cut FROM r)
         SELECT d.lang, count(*) AS n_kept, round(max(rc.rate), 6) AS rate
         FROM documents d JOIN rc ON d.lang = rc.lang
         WHERE CAST(concat('0x', substr(md5(d.text), 1, 8)) AS BIGINT) < rc.cut
         GROUP BY 1 ORDER BY 1""",

    // Replays upsampleMix: copies = floor(w) + (md5-prefix hash <
    // floor(round(frac(w),6)·2^32)), replicas via range(0, n).
    "q_upsample_mix" ->
      """WITH wts AS (
           SELECT lang, CAST(wt AS DOUBLE) AS wt
           FROM (VALUES ('en', 0.5), ('zh', 2.0), ('es', 1.5),
                        ('de', 2.25), ('fr', 3.0)) v(lang, wt)
         ), j AS (
           SELECT d.doc_id, d.lang,
                  CAST(floor(w.wt) AS BIGINT) AS base,
                  CAST(floor(round(w.wt - floor(w.wt), 6) * 4294967296.0)
                    AS BIGINT) AS cut,
                  CAST(concat('0x', substr(md5(d.text), 1, 8)) AS BIGINT) AS h
           FROM documents d JOIN wts w USING (lang)
         ), n AS (
           SELECT doc_id, lang,
                  base + CASE WHEN h < cut THEN 1 ELSE 0 END AS n
           FROM j WHERE base + CASE WHEN h < cut THEN 1 ELSE 0 END > 0
         ), r AS (
           SELECT doc_id, lang, unnest(range(0, n)) AS replica FROM n)
         SELECT doc_id, lang, count(*) AS n_copies,
                CAST(max(replica) AS BIGINT) AS max_replica
         FROM r GROUP BY 1, 2 ORDER BY doc_id""",

    // First-occurrence kept-line set: row_number over (line) ordered by
    // (doc_id, line_ix) replays the state function's min-winner exactly.
    "q_stream_line_dedup" ->
      """WITH l AS (
           SELECT doc_id, i - 1 AS line_ix, ln[i] AS line
           FROM (SELECT doc_id, string_split(text, chr(10)) AS ln
                 FROM documents WHERE doc_id IS NOT NULL) t,
                LATERAL unnest(range(1, len(ln) + 1)) u(i)
         )
         SELECT doc_id, CAST(line_ix AS INTEGER) AS line_ix, line FROM (
           SELECT doc_id, line_ix, line,
                  row_number() OVER (PARTITION BY line
                                     ORDER BY doc_id, line_ix) AS rn
           FROM l)
         WHERE rn = 1 ORDER BY doc_id, line_ix""",

    // Replays the data-computed mixture exactly: same α=0.5 pow with 6dp
    // rounding on both sides, the normalizer summed as DECIMAL(27,6) (so
    // engine fold order cannot perturb it), the same
    // ((N · pow) / (S · n)) association, then the md5-cut upsample replay.
    "q_upsample_temperature" ->
      """WITH stats AS (
           SELECT lang, CAST(count(*) AS BIGINT) AS n
           FROM documents GROUP BY 1
         ), tot AS (SELECT CAST(count(*) AS BIGINT) AS c FROM documents),
         ps AS (
           SELECT sum(CAST(round(pow(n, 0.5), 6) AS DECIMAL(27,6))) AS s
           FROM stats
         ), wts AS (
           SELECT lang,
                  round(CAST(t.c AS DOUBLE) * round(pow(n, 0.5), 6)
                    / (CAST(p.s AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS weight
           FROM stats, tot t, ps p
         ), j AS (
           SELECT d.doc_id, d.lang,
                  CAST(floor(w.weight) AS BIGINT) AS base,
                  CAST(floor(round(w.weight - floor(w.weight), 6) * 4294967296.0)
                    AS BIGINT) AS cut,
                  CAST(concat('0x', substr(md5(d.text), 1, 8)) AS BIGINT) AS h
           FROM documents d JOIN wts w USING (lang)
         ), n AS (
           SELECT doc_id, lang,
                  base + CASE WHEN h < cut THEN 1 ELSE 0 END AS n
           FROM j WHERE base + CASE WHEN h < cut THEN 1 ELSE 0 END > 0
         ), r AS (
           SELECT doc_id, lang, unnest(range(0, n)) AS replica FROM n)
         SELECT doc_id, lang, count(*) AS n_copies,
                CAST(max(replica) AS BIGINT) AS max_replica
         FROM r GROUP BY 1, 2 ORDER BY doc_id""",

    // Near-dup-aware split: same closure CTEs as q_dedup_clusters, then
    // the split rule = md5 prefix of the representative id AS A STRING
    // (engine-portable bytes), cutoff = floor(0.8 * 2^32).
    "q_split_by_cluster" ->
      (MinhashPairsCtes + ClosureCtes + """
         , rep AS (
             SELECT d.doc_id, d.lang,
                    CAST(coalesce(c.cluster_id, d.doc_id) AS VARCHAR) AS rid
             FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id)
         SELECT CASE WHEN CAST(concat('0x', substr(md5(rid), 1, 8)) AS BIGINT)
                          < 3435973836 THEN 'train' ELSE 'val' END AS split,
                count(*) AS n_docs, count(DISTINCT lang) AS n_langs
         FROM rep GROUP BY 1 ORDER BY 1"""),

    "q_stratified_sample" ->
      """SELECT lang, count(*) AS n FROM documents
         WHERE CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT) <
           CASE lang WHEN 'en' THEN 429496729 WHEN 'de' THEN 2147483648
                     WHEN 'zh' THEN 4294967296 ELSE 1073741824 END
         GROUP BY 1 ORDER BY 1""",

    "q_quality_gates" ->
      """WITH t AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
           FROM documents
         ), g AS (
           SELECT doc_id,
             len(w) BETWEEN 50 AND 100000 AS word_count_ok,
             (CAST(list_reduce(list_transform(w, t -> len(t)), (a, b) -> a + b) AS DOUBLE)
               / len(w)) BETWEEN 3.0 AND 10.0 AS mean_word_len_ok,
             CAST(len(list_filter(w, t -> contains(t, '#') OR contains(t, '...'))) AS DOUBLE)
               / len(w) <= 0.1 AS symbol_ok,
             CAST(len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE)
               / len(w) >= 0.8 AS alpha_ok,
             len(list_filter(['the','be','to','of','and','that','have','with'],
               s -> list_contains(w, s))) >= 2 AS stopword_ok
           FROM t)
         SELECT doc_id, word_count_ok, mean_word_len_ok, symbol_ok, alpha_ok,
                stopword_ok,
                word_count_ok AND mean_word_len_ok AND symbol_ok AND alpha_ok
                  AND stopword_ok AS pass
         FROM g ORDER BY doc_id""",

    // Three GD iterations unrolled. Logit folds in the same fixed feature
    // order (left-assoc), sigmoid rounds 6dp, per-doc micro-gradients are
    // floor(v*1000000.0 + 0.5) BIGINTs summed exactly, weights re-round
    // 6dp — every intermediate matches the Spark driver loop.
    "q_text_classifier" ->
      """WITH f AS (
           SELECT CAST(list_contains(w, 'spark') AS INT) AS y,
                  CAST(list_contains(w, 'sql') AS INT) AS x0,
                  CAST(list_contains(w, 'query') AS INT) AS x1,
                  CAST(list_contains(w, 'join') AS INT) AS x2,
                  CAST(list_contains(w, 'hash') AS INT) AS x3,
                  CAST(list_contains(w, 'table') AS INT) AS x4,
                  CAST(list_contains(w, 'vector') AS INT) AS x5,
                  CAST(list_contains(w, 'stream') AS INT) AS x6
           FROM (SELECT regexp_split_to_array(trim(text), '\s+') AS w
                 FROM documents)),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f),
         s1 AS (SELECT f.*, nn.n,
                       round(1.0 / (1.0 + exp(-(0.0 + 0.0*x0 + 0.0*x1 + 0.0*x2
                         + 0.0*x3 + 0.0*x4 + 0.0*x5 + 0.0*x6))), 6) AS s
                FROM f, nn),
         w1 AS (SELECT
             round(0.0 - (CAST(sum(CAST(floor((s - y) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS wb,
             round(0.0 - (CAST(sum(CAST(floor((s - y) * x0 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w0,
             round(0.0 - (CAST(sum(CAST(floor((s - y) * x1 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w1,
             round(0.0 - (CAST(sum(CAST(floor((s - y) * x2 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w2,
             round(0.0 - (CAST(sum(CAST(floor((s - y) * x3 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w3,
             round(0.0 - (CAST(sum(CAST(floor((s - y) * x4 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w4,
             round(0.0 - (CAST(sum(CAST(floor((s - y) * x5 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w5,
             round(0.0 - (CAST(sum(CAST(floor((s - y) * x6 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w6
           FROM s1),
         s2 AS (SELECT f.*, nn.n, w.*,
                       round(1.0 / (1.0 + exp(-(w.wb + w.w0*x0 + w.w1*x1 + w.w2*x2
                         + w.w3*x3 + w.w4*x4 + w.w5*x5 + w.w6*x6))), 6) AS s
                FROM f, nn, w1 w),
         w2 AS (SELECT
             round(any_value(wb) - (CAST(sum(CAST(floor((s - y) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS wb,
             round(any_value(w0) - (CAST(sum(CAST(floor((s - y) * x0 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w0,
             round(any_value(w1) - (CAST(sum(CAST(floor((s - y) * x1 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w1,
             round(any_value(w2) - (CAST(sum(CAST(floor((s - y) * x2 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w2,
             round(any_value(w3) - (CAST(sum(CAST(floor((s - y) * x3 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w3,
             round(any_value(w4) - (CAST(sum(CAST(floor((s - y) * x4 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w4,
             round(any_value(w5) - (CAST(sum(CAST(floor((s - y) * x5 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w5,
             round(any_value(w6) - (CAST(sum(CAST(floor((s - y) * x6 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w6
           FROM s2),
         s3 AS (SELECT f.*, nn.n, w.*,
                       round(1.0 / (1.0 + exp(-(w.wb + w.w0*x0 + w.w1*x1 + w.w2*x2
                         + w.w3*x3 + w.w4*x4 + w.w5*x5 + w.w6*x6))), 6) AS s
                FROM f, nn, w2 w),
         w3 AS (SELECT
             round(any_value(wb) - (CAST(sum(CAST(floor((s - y) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS wb,
             round(any_value(w0) - (CAST(sum(CAST(floor((s - y) * x0 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w0,
             round(any_value(w1) - (CAST(sum(CAST(floor((s - y) * x1 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w1,
             round(any_value(w2) - (CAST(sum(CAST(floor((s - y) * x2 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w2,
             round(any_value(w3) - (CAST(sum(CAST(floor((s - y) * x3 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w3,
             round(any_value(w4) - (CAST(sum(CAST(floor((s - y) * x4 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w4,
             round(any_value(w5) - (CAST(sum(CAST(floor((s - y) * x5 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w5,
             round(any_value(w6) - (CAST(sum(CAST(floor((s - y) * x6 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w6
           FROM s3)
         SELECT feature, weight FROM (
           SELECT 'bias' AS feature, wb AS weight FROM w3
           UNION ALL SELECT 'sql', w0 FROM w3
           UNION ALL SELECT 'query', w1 FROM w3
           UNION ALL SELECT 'join', w2 FROM w3
           UNION ALL SELECT 'hash', w3.w3 FROM w3
           UNION ALL SELECT 'table', w4 FROM w3
           UNION ALL SELECT 'vector', w5 FROM w3
           UNION ALL SELECT 'stream', w6 FROM w3)
         ORDER BY feature""",

    // Same three training iterations, then per-doc sigmoid scoring with
    // the final weights (identical literal fold order).
    "q_classifier_score" ->
      """WITH f AS (
           SELECT doc_id,
                  CAST(list_contains(w, 'spark') AS INT) AS y,
                  CAST(list_contains(w, 'sql') AS INT) AS x0,
                  CAST(list_contains(w, 'query') AS INT) AS x1,
                  CAST(list_contains(w, 'join') AS INT) AS x2,
                  CAST(list_contains(w, 'hash') AS INT) AS x3,
                  CAST(list_contains(w, 'table') AS INT) AS x4,
                  CAST(list_contains(w, 'vector') AS INT) AS x5,
                  CAST(list_contains(w, 'stream') AS INT) AS x6
           FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                 FROM documents)),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f),
         s1 AS (SELECT f.*, nn.n,
                       round(1.0 / (1.0 + exp(-(0.0 + 0.0*x0 + 0.0*x1 + 0.0*x2
                         + 0.0*x3 + 0.0*x4 + 0.0*x5 + 0.0*x6))), 6) AS s
                FROM f, nn),
         w1 AS (SELECT
             round(0.0 - (CAST(sum(CAST(floor((s - y) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS wb,
             round(0.0 - (CAST(sum(CAST(floor((s - y) * x0 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w0,
             round(0.0 - (CAST(sum(CAST(floor((s - y) * x1 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w1,
             round(0.0 - (CAST(sum(CAST(floor((s - y) * x2 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w2,
             round(0.0 - (CAST(sum(CAST(floor((s - y) * x3 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w3,
             round(0.0 - (CAST(sum(CAST(floor((s - y) * x4 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w4,
             round(0.0 - (CAST(sum(CAST(floor((s - y) * x5 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w5,
             round(0.0 - (CAST(sum(CAST(floor((s - y) * x6 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w6
           FROM s1),
         s2 AS (SELECT f.*, nn.n, w.*,
                       round(1.0 / (1.0 + exp(-(w.wb + w.w0*x0 + w.w1*x1 + w.w2*x2
                         + w.w3*x3 + w.w4*x4 + w.w5*x5 + w.w6*x6))), 6) AS s
                FROM f, nn, w1 w),
         w2 AS (SELECT
             round(any_value(wb) - (CAST(sum(CAST(floor((s - y) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS wb,
             round(any_value(w0) - (CAST(sum(CAST(floor((s - y) * x0 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w0,
             round(any_value(w1) - (CAST(sum(CAST(floor((s - y) * x1 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w1,
             round(any_value(w2) - (CAST(sum(CAST(floor((s - y) * x2 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w2,
             round(any_value(w3) - (CAST(sum(CAST(floor((s - y) * x3 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w3,
             round(any_value(w4) - (CAST(sum(CAST(floor((s - y) * x4 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w4,
             round(any_value(w5) - (CAST(sum(CAST(floor((s - y) * x5 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w5,
             round(any_value(w6) - (CAST(sum(CAST(floor((s - y) * x6 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w6
           FROM s2),
         s3 AS (SELECT f.*, nn.n, w.*,
                       round(1.0 / (1.0 + exp(-(w.wb + w.w0*x0 + w.w1*x1 + w.w2*x2
                         + w.w3*x3 + w.w4*x4 + w.w5*x5 + w.w6*x6))), 6) AS s
                FROM f, nn, w2 w),
         w3 AS (SELECT
             round(any_value(wb) - (CAST(sum(CAST(floor((s - y) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS wb,
             round(any_value(w0) - (CAST(sum(CAST(floor((s - y) * x0 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w0,
             round(any_value(w1) - (CAST(sum(CAST(floor((s - y) * x1 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w1,
             round(any_value(w2) - (CAST(sum(CAST(floor((s - y) * x2 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w2,
             round(any_value(w3) - (CAST(sum(CAST(floor((s - y) * x3 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w3,
             round(any_value(w4) - (CAST(sum(CAST(floor((s - y) * x4 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w4,
             round(any_value(w5) - (CAST(sum(CAST(floor((s - y) * x5 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w5,
             round(any_value(w6) - (CAST(sum(CAST(floor((s - y) * x6 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) / any_value(n) + 0.0, 6) AS w6
           FROM s3)
         SELECT doc_id, p, p >= 0.5 AS pred FROM (
           SELECT f.doc_id,
                  round(1.0 / (1.0 + exp(-(w.wb + w.w0*x0 + w.w1*x1 + w.w2*x2
                    + w.w3*x3 + w.w4*x4 + w.w5*x5 + w.w6*x6))), 6) AS p
           FROM f, w3 w)
         ORDER BY doc_id""",

    // Shannon entropy replay: same sorted distinct-char fold order, same
    // p·log2(p) terms, first-element seed (= Spark's exact 0.0 seed),
    // `+ 0.0` canonicalizing -0.0, 6-dp round.
    "q_text_entropy" ->
      """SELECT doc_id,
           CASE WHEN length(text) = 0 OR text IS NULL THEN 0.0 ELSE
             round(list_reduce(
               list_transform(
                 list_sort(list_distinct(list_transform(range(1, length(text) + 1),
                   i -> substring(text, i, 1)))),
                 ch -> -(CAST(len(list_filter(list_transform(range(1, length(text) + 1),
                           i -> substring(text, i, 1)), x -> x = ch)) AS DOUBLE)
                         / CAST(length(text) AS DOUBLE))
                       * log2(CAST(len(list_filter(list_transform(range(1, length(text) + 1),
                           i -> substring(text, i, 1)), x -> x = ch)) AS DOUBLE)
                         / CAST(length(text) AS DOUBLE))),
               (a, b) -> a + b) + 0.0, 6) END AS entropy
         FROM documents WHERE doc_id < 100 ORDER BY doc_id""",

    // Retrains and rescores the char-bigram add-α model end-to-end:
    // same normalization, same (n+0.5)/(m+13.5) smoothing with terms
    // rounded via round(log2(x), 6), per-doc fold over `ORDER BY b` =
    // the native's ascending-slot order, first-element-equivalent 0.0
    // seed (all terms strictly negative), same final 6-dp round.
    "q_lm_perplexity" ->
      """WITH norm AS (
           SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z]+', ' ', 'g')) AS t
           FROM documents),
         tpos AS (
           SELECT doc_id, t, unnest(range(1, length(t))) AS i FROM norm),
         tg AS (
           SELECT substring(t, i, 2) AS b, CAST(count(*) AS BIGINT) AS n
           FROM tpos WHERE doc_id % 10 < 8 GROUP BY 1),
         mg AS (
           SELECT substring(b, 1, 1) AS c1, sum(n) AS m FROM tg GROUP BY 1),
         model AS (
           SELECT b, round(log2((n + 0.5) / (m + 13.5)) + 0.0, 6) AS term
           FROM tg JOIN mg ON substring(tg.b, 1, 1) = mg.c1),
         fb AS (
           SELECT c1, round(log2(0.5 / (m + 13.5)) + 0.0, 6) AS fterm FROM mg),
         dg AS (
           SELECT doc_id, substring(t, i, 2) AS b, count(*) AS n
           FROM tpos GROUP BY 1, 2),
         terms AS (
           SELECT dg.doc_id, dg.b,
                  dg.n * coalesce(model.term, fb.fterm,
                                  round(log2(0.5 / 13.5) + 0.0, 6)) AS v
           FROM dg LEFT JOIN model ON dg.b = model.b
                   LEFT JOIN fb ON substring(dg.b, 1, 1) = fb.c1),
         sc AS (
           SELECT doc_id, list_reduce(list(v ORDER BY b), (a, x) -> a + x) AS sm
           FROM terms GROUP BY doc_id)
         SELECT n2.doc_id,
                CASE WHEN length(n2.t) < 2 THEN 0.0
                     ELSE round(-(sc.sm) / CAST(length(n2.t) - 1 AS DOUBLE) + 0.0, 6)
                END AS bits
         FROM norm n2 LEFT JOIN sc USING (doc_id) ORDER BY doc_id""",

    // jusText-lite replay: same synthesized multi-line doc, same
    // integer density predicate (stopword list generated from
    // TextOps.LangProfiles — single source of truth).
    "q_boilerplate" -> {
      val stopsIn = graft.llm.TextOps.LangProfiles.flatMap(_._2).distinct
        .map(w => s"'$w'").mkString(", ")
      def toks(ln: String) =
        s"list_filter(regexp_split_to_array(lower(trim($ln)), '\\s+'), t -> t <> '')"
      val pred =
        s"""len(${toks("ln")}) >= 6 AND (
              100 * len(list_filter(${toks("ln")}, t2 -> t2 IN ($stopsIn)))
                >= 20 * len(${toks("ln")})
              OR length(trim(ln)) >= 80)"""
      s"""WITH bl AS (
           SELECT doc_id,
             'Home | About | Contact Us' || chr(10) ||
             substr(text, 1, 180) || chr(10) ||
             'Buy now' || chr(10) ||
             substr(text, 181, 60) || chr(10) ||
             'Copyright 2024 All rights reserved' AS doc
           FROM documents),
         ls AS (SELECT doc_id, string_split(doc, chr(10)) AS lines FROM bl),
         cl AS (SELECT doc_id, lines,
                       list_filter(lines, ln -> $pred) AS content
                FROM ls)
         SELECT doc_id,
                CAST(len(lines) AS BIGINT) AS n_lines,
                CAST(len(content) AS BIGINT) AS n_content,
                round(CAST(1 AS DOUBLE)
                      - CAST(len(content) AS DOUBLE)
                        / CAST(len(lines) AS DOUBLE), 6) AS boilerplate_frac,
                -- DuckDB array_to_string(NULL-ish empty) can yield NULL;
                -- Spark array_join of an empty array is '' — align
                md5(coalesce(array_to_string(content, chr(10)), '')) AS clean_md5
         FROM cl ORDER BY doc_id"""
    },

    // Interpolated-KN word-bigram replay: training tables from the
    // doc_id%4=0 slice's bigram counts, the SHARED KnPSql/KnTermSql
    // literals (same IEEE op order as the Spark lowering), integer
    // micro-bit terms, short docs re-emitted (0, 0.0).
    "q_lm_kn" ->
      (s"""WITH ktx AS (
           SELECT doc_id, regexp_split_to_array(
             trim(regexp_replace(lower(nfc_normalize(text)), '[^\\p{L}]+', ' ', 'g')),
             '\\s+') AS t
           FROM documents),
         kb AS MATERIALIZED (
           SELECT doc_id, unnest(list_transform(range(1, len(t)),
                    i -> t[i] || ' ' || t[i+1])) AS bg
           FROM ktx WHERE len(t) >= 2 AND t[1] <> ''),
         ktb AS MATERIALIZED (
           SELECT bg, CAST(count(*) AS BIGINT) AS c12 FROM kb
           WHERE doc_id % 4 = 0 GROUP BY 1),
         kuni AS (
           SELECT string_split(bg, ' ')[1] AS w1,
                  CAST(sum(c12) AS BIGINT) AS c1,
                  CAST(count(*) AS BIGINT) AS n1fw
           FROM ktb GROUP BY 1),
         kcont AS (
           SELECT string_split(bg, ' ')[2] AS w2,
                  CAST(count(*) AS BIGINT) AS n1bw
           FROM ktb GROUP BY 1),
         kn12 AS (SELECT CAST(count(*) AS BIGINT) AS n12 FROM ktb),
         kjoin AS (
           SELECT b.doc_id, tb.c12, u.c1, u.n1fw, co.n1bw, n.n12
           FROM kb b
           LEFT JOIN ktb tb USING (bg)
           LEFT JOIN kuni u ON u.w1 = string_split(b.bg, ' ')[1]
           LEFT JOIN kcont co ON co.w2 = string_split(b.bg, ' ')[2]
           CROSS JOIN kn12 n),
         kp AS (SELECT doc_id, ${graft.llm.LangModel.KnPSql} AS p FROM kjoin),
         kterm AS (SELECT doc_id, ${graft.llm.LangModel.KnTermSql} AS mb FROM kp),
         kagg AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                  CAST(sum(mb) AS BIGINT) AS s
           FROM kterm GROUP BY 1)
         SELECT d.doc_id,
                coalesce(a.n_bigrams, 0) AS n_bigrams,
                coalesce(round(CAST(a.s AS DOUBLE) / CAST(a.n_bigrams AS DOUBLE)
                               / 1000000.0, 6),
                         CAST(0 AS DOUBLE)) AS bits_per_bigram
         FROM (SELECT DISTINCT doc_id FROM documents) d
         LEFT JOIN kagg a USING (doc_id)
         ORDER BY doc_id"""),

    // KN TRIGRAM replay: one trigram-count table from the doc_id%4=0
    // slice; context/middle/unigram tables derived from it exactly as
    // the operator does; the layered SHARED Kn3Pu/Kn3Pb/Kn3P literals +
    // KnTermSql micro-bits.
    "q_lm_kn3" ->
      (s"""WITH k3x AS (
           SELECT doc_id, regexp_split_to_array(
             trim(regexp_replace(lower(nfc_normalize(text)), '[^\\p{L}]+', ' ', 'g')),
             '\\s+') AS t
           FROM documents),
         k3g AS MATERIALIZED (
           SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS tg
           FROM k3x WHERE len(t) >= 3 AND t[1] <> ''),
         k3tb AS MATERIALIZED (
           SELECT tg, CAST(count(*) AS BIGINT) AS c123 FROM k3g
           WHERE doc_id % 4 = 0 GROUP BY 1),
         k3ctx AS (
           SELECT string_split(tg, ' ')[1] || ' ' || string_split(tg, ' ')[2]
                    AS bg12,
                  CAST(sum(c123) AS BIGINT) AS c12,
                  CAST(count(*) AS BIGINT) AS n1fw12
           FROM k3tb GROUP BY 1),
         k3mid AS MATERIALIZED (
           SELECT string_split(tg, ' ')[2] || ' ' || string_split(tg, ' ')[3]
                    AS bg23,
                  CAST(count(*) AS BIGINT) AS n1bw23
           FROM k3tb GROUP BY 1),
         k3mc AS (
           SELECT string_split(bg23, ' ')[1] AS w2m,
                  CAST(sum(n1bw23) AS BIGINT) AS nc2,
                  CAST(count(*) AS BIGINT) AS n1fw2m
           FROM k3mid GROUP BY 1),
         k3u AS (
           SELECT string_split(bg23, ' ')[2] AS w3,
                  CAST(count(*) AS BIGINT) AS n1bw3
           FROM k3mid GROUP BY 1),
         k3n AS (SELECT CAST(count(*) AS BIGINT) AS nuni FROM k3mid),
         k3j AS (
           SELECT g.doc_id, tb.c123, cx.c12, cx.n1fw12, mi.n1bw23,
                  mc.nc2, mc.n1fw2m, u.n1bw3, n.nuni
           FROM k3g g
           LEFT JOIN k3tb tb USING (tg)
           LEFT JOIN k3ctx cx ON cx.bg12 =
             string_split(g.tg, ' ')[1] || ' ' || string_split(g.tg, ' ')[2]
           LEFT JOIN k3mid mi ON mi.bg23 =
             string_split(g.tg, ' ')[2] || ' ' || string_split(g.tg, ' ')[3]
           LEFT JOIN k3mc mc ON mc.w2m = string_split(g.tg, ' ')[2]
           LEFT JOIN k3u u ON u.w3 = string_split(g.tg, ' ')[3]
           CROSS JOIN k3n n),
         k3pu AS (
           SELECT doc_id, c123, c12, n1fw12, n1bw23, nc2, n1fw2m,
                  ${graft.llm.LangModel.Kn3PuSql} AS pu
           FROM k3j),
         k3pb AS (
           SELECT doc_id, c123, c12, n1fw12,
                  ${graft.llm.LangModel.Kn3PbSql} AS pb
           FROM k3pu),
         k3p AS (SELECT doc_id, ${graft.llm.LangModel.Kn3PSql} AS p FROM k3pb),
         k3t AS (SELECT doc_id, ${graft.llm.LangModel.KnTermSql} AS mb FROM k3p),
         k3a AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
                  CAST(sum(mb) AS BIGINT) AS s
           FROM k3t GROUP BY 1)
         SELECT d.doc_id,
                coalesce(a.n_trigrams, 0) AS n_trigrams,
                coalesce(round(CAST(a.s AS DOUBLE) / CAST(a.n_trigrams AS DOUBLE)
                               / 1000000.0, 6),
                         CAST(0 AS DOUBLE)) AS bits_per_trigram
         FROM (SELECT DISTINCT doc_id FROM documents) d
         LEFT JOIN k3a a USING (doc_id)
         ORDER BY doc_id"""),

    // KenLM-default order-5 KN: the whole oracle is GENERATED from the
    // order parameter, sharing the per-level formula literal with the
    // Spark lowering.
    "q_lm_kn5" -> knNgramOracle(5),

    // pruned stored tables (raw derivation chain, per-level thresholds
    // 0 1 1 1 1), same scoring joins + layered formula chain
    "q_lm_kn5_pruned" -> knNgramOracle(5, Seq(0L, 1L, 1L, 1L, 1L)),

    // Stupid Backoff: suffix-SUM level derivation + the shared generated
    // alpha-0.4 formula chain
    "q_lm_sb5" -> knNgramOracle(5, derivSum = true,
      pSql = graft.llm.LangModel.sbLevelPSql),

    // per-level rows + mass over the same generated level chain
    "q_lm_kn_profile" ->
      (s"""WITH ${knSeenPrefixSql(5)}
         SELECT level, n_grams, total_count FROM (""" +
        (1 to 5).map(k =>
          s"""SELECT CAST($k AS BIGINT) AS level,
                CAST(count(*) AS BIGINT) AS n_grams,
                CAST(sum(cnt$k) AS BIGINT) AS total_count FROM kns$k""")
          .mkString("\n           UNION ALL ") +
        """) ORDER BY level"""),

    // the full kn5 scoring oracle as a subquery, thresholded and folded
    // to the kept-language mix
    "q_lm_kn_gate" ->
      (s"""WITH scored AS (${knNgramOracle(5)})
         SELECT d.lang, CAST(count(*) AS BIGINT) AS n_kept
         FROM scored s JOIN documents d USING (doc_id)
         WHERE s.n_ngrams > 0 AND s.bits_per_ngram <= 5.5
         GROUP BY 1 ORDER BY 1"""),

    // Same scored CTE, then CCNet head/middle/tail by cutoffs from the
    // 6-dp-quantized value histogram (integer ceil-division targets, so
    // the bucket SETS match bit-for-bit, not just the proportions).
    "q_lm_ppl_buckets" ->
      """WITH norm AS (
           SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z]+', ' ', 'g')) AS t
           FROM documents),
         tpos AS (
           SELECT doc_id, t, unnest(range(1, length(t))) AS i FROM norm),
         tg AS (
           SELECT substring(t, i, 2) AS b, CAST(count(*) AS BIGINT) AS n
           FROM tpos WHERE doc_id % 10 < 8 GROUP BY 1),
         mg AS (
           SELECT substring(b, 1, 1) AS c1, sum(n) AS m FROM tg GROUP BY 1),
         model AS (
           SELECT b, round(log2((n + 0.5) / (m + 13.5)) + 0.0, 6) AS term
           FROM tg JOIN mg ON substring(tg.b, 1, 1) = mg.c1),
         fb AS (
           SELECT c1, round(log2(0.5 / (m + 13.5)) + 0.0, 6) AS fterm FROM mg),
         dg AS (
           SELECT doc_id, substring(t, i, 2) AS b, count(*) AS n
           FROM tpos GROUP BY 1, 2),
         terms AS (
           SELECT dg.doc_id, dg.b,
                  dg.n * coalesce(model.term, fb.fterm,
                                  round(log2(0.5 / 13.5) + 0.0, 6)) AS v
           FROM dg LEFT JOIN model ON dg.b = model.b
                   LEFT JOIN fb ON substring(dg.b, 1, 1) = fb.c1),
         sc AS (
           SELECT doc_id, list_reduce(list(v ORDER BY b), (a, x) -> a + x) AS sm
           FROM terms GROUP BY doc_id),
         scored AS (
           SELECT n2.doc_id,
                  CASE WHEN length(n2.t) < 2 THEN 0.0
                       ELSE round(-(sc.sm) / CAST(length(n2.t) - 1 AS DOUBLE) + 0.0, 6)
                  END AS bits
           FROM norm n2 LEFT JOIN sc USING (doc_id)),
         hist AS (SELECT bits, CAST(count(*) AS BIGINT) AS cnt FROM scored GROUP BY 1),
         cum AS (SELECT bits, cnt, sum(cnt) OVER (ORDER BY bits) AS cum,
                        sum(cnt) OVER () AS tot FROM hist),
         cuts AS (SELECT min(CASE WHEN cum >= (tot + 2) // 3 THEN bits END) AS c1,
                         min(CASE WHEN cum >= (tot * 2 + 2) // 3 THEN bits END) AS c2
                  FROM cum)
         SELECT CASE WHEN bits <= c1 THEN 1 WHEN bits <= c2 THEN 2 ELSE 3 END AS bucket,
                count(*) AS n, min(bits) AS min_bits, max(bits) AS max_bits
         FROM scored, cuts GROUP BY 1 ORDER BY 1""",

    // Rebuilds the same synthetic multi-line doc, then keep-first-
    // occurrence per line via list_position(ls, ls[i]) = i — the exact
    // semantics of TextOps.dedupLines' array_position filter.
    "q_dedup_lines" ->
      """WITH b AS (
           SELECT doc_id,
                  concat_ws(chr(10), substring(text, 1, 60), substring(text, 30, 50),
                            substring(text, 1, 60), substring(text, 80, 40),
                            substring(text, 30, 50)) AS doc
           FROM documents WHERE doc_id < 200),
         l AS (SELECT doc_id, string_split(doc, chr(10)) AS ls FROM b),
         d AS (SELECT doc_id, ls,
                      array_to_string(
                        list_filter(list_transform(range(1, len(ls) + 1),
                          i -> CASE WHEN list_position(ls, ls[i]) = i
                                    THEN ls[i] END),
                          x -> x IS NOT NULL), chr(10)) AS dd
               FROM l)
         SELECT doc_id, CAST(len(ls) AS INT) AS n_in,
                CAST(len(string_split(dd, chr(10))) AS INT) AS n_out,
                md5(dd) AS out_md5
         FROM d ORDER BY doc_id""",

    "q_repetition" ->
      """SELECT doc_id,
           CASE WHEN len(w) >= 2
                THEN round(1 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh), 6)
                ELSE 0.0 END AS rep_ratio
         FROM (
           SELECT doc_id, w,
                  list_transform(range(1, len(w)), i -> concat(w[i], ' ', w[i+1])) AS sh
           FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                 FROM documents WHERE doc_id < 100) a) b
         ORDER BY doc_id""",

    "q_gopher_repetition" ->
      """WITH base AS (
           SELECT doc_id, len(trim(text)) AS total,
                  regexp_split_to_array(trim(text), '\s+') AS w
           FROM documents),
         tag AS (
           SELECT doc_id, total, n,
                  CASE WHEN len(w) >= n
                       THEN list_transform(range(1, len(w) - n + 2),
                              i -> array_to_string(w[i:i+n-1], ' '))
                       ELSE CAST([] AS VARCHAR[]) END AS gs
           FROM base, (VALUES (2),(3),(5)) t(n)),
         g AS (SELECT doc_id, total, n, g.g AS g
               FROM tag, LATERAL unnest(gs) g(g)),
         c AS (SELECT doc_id, total, n, g, count(*) AS c
               FROM g GROUP BY doc_id, total, n, g),
         r AS (SELECT doc_id, total, n, g, c,
                      row_number() OVER (PARTITION BY doc_id, n
                                         ORDER BY c DESC, g) AS rn,
                      sum(CASE WHEN c >= 2 THEN c * len(g) ELSE 0 END)
                        OVER (PARTITION BY doc_id, n) AS dup
               FROM c),
         p AS (SELECT doc_id, n,
                      round(CAST(c * len(g) AS DOUBLE) / total, 6) AS topf,
                      round(CAST(dup AS DOUBLE) / total, 6) AS dupf
               FROM r WHERE rn = 1)
         SELECT b.doc_id,
           coalesce(max(CASE WHEN n = 2 THEN topf END), 0.0) AS top2gram_char_frac,
           coalesce(max(CASE WHEN n = 3 THEN topf END), 0.0) AS top3gram_char_frac,
           coalesce(max(CASE WHEN n = 5 THEN dupf END), 0.0) AS dup5gram_char_frac
         FROM base b LEFT JOIN p USING (doc_id)
         GROUP BY b.doc_id ORDER BY doc_id""",

    "q_url_parse" ->
      s"""WITH u AS (
           SELECT doc_id,
             CASE WHEN doc_id % 13 = 11
               THEN 'https://s3.amazonaws.com/bucket/' || CAST(doc_id AS VARCHAR)
               ELSE
             'https://' ||
             CASE WHEN doc_id % 7 = 0 THEN 'user@' ELSE '' END ||
             'www.' || source || '.' ||
             (['com','co.uk','org','io','gov.uk','co.jp','github.io','ck'])
               [CAST(doc_id % 8 + 1 AS INT)] ||
             CASE WHEN doc_id % 5 = 0 THEN ':8443' ELSE '' END ||
             '/d/' || CAST(doc_id AS VARCHAR) ||
             CASE WHEN doc_id % 3 = 0 THEN '?lang=' || lang ELSE '' END
             END AS url
           FROM documents),
         p AS (
           SELECT doc_id, url,
             regexp_extract(url, '^([a-z][a-z0-9+.-]*)://', 1) AS scheme,
             regexp_extract(
               regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1),
               '^(?:[^@]*@)?([^:]*)', 1) AS host,
             regexp_extract(url,
               '^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path
           FROM u),
         d AS (
           SELECT doc_id, url, scheme, host, path,
                  string_split(host, '.') AS ls,
                  len(string_split(host, '.')) AS k
           FROM p)
         SELECT doc_id, url, scheme, host, path,
           $PslDomainSql AS domain
         FROM d ORDER BY doc_id""",

    // canonicalization replay: same regex pieces, list_filter on the
    // tracking-param pattern, list_sort, per-canonical counts
    "q_url_canonical" ->
      """WITH u AS (
           SELECT doc_id,
             'https://WWW.' || source || '.com' ||
             CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END ||
             '/p/' || CAST(doc_id % 7 AS VARCHAR) ||
             CASE WHEN doc_id % 3 = 0
                  THEN '?utm_source=feed&b=2&a=' || CAST(doc_id % 5 AS VARCHAR)
                  WHEN doc_id % 3 = 1
                  THEN '?a=' || CAST(doc_id % 5 AS VARCHAR) || '&b=2&fbclid=xyz'
                  ELSE '' END ||
             CASE WHEN doc_id % 4 = 0 THEN '#sec' ELSE '' END AS url
           FROM documents),
         c AS (
           SELECT
             lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))
               || '://' ||
             lower(regexp_extract(
               regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1),
               '^(?:[^@]*@)?([^:]*)', 1)) ||
             CASE WHEN regexp_extract(url,
                    '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) = ''
                  THEN '/'
                  ELSE regexp_extract(url,
                    '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) END ||
             CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&')
                  ELSE '' END AS canon
           FROM (
             SELECT url,
               list_sort(list_filter(
                 string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
                 p -> NOT (regexp_matches(p,
                   '^(utm_[a-zA-Z0-9_]*|fbclid|gclid|ref|mc_cid|mc_eid)=')
                   OR p = ''))) AS kept
             FROM u))
         SELECT canon, CAST(count(*) AS BIGINT) AS n
         FROM c GROUP BY 1 ORDER BY 1""",

    // same fixture + PSL domain, blocklist = the % 10 slice's domains,
    // NOT IN anti-join (domains are never null here)
    "q_domain_blocklist" ->
      s"""WITH u AS (
           SELECT doc_id,
             CASE WHEN doc_id % 13 = 11
               THEN 'https://s3.amazonaws.com/bucket/' || CAST(doc_id AS VARCHAR)
               ELSE
             'https://' ||
             CASE WHEN doc_id % 7 = 0 THEN 'user@' ELSE '' END ||
             'www.' || source || '.' ||
             (['com','co.uk','org','io','gov.uk','co.jp','github.io','ck'])
               [CAST(doc_id % 8 + 1 AS INT)] ||
             CASE WHEN doc_id % 5 = 0 THEN ':8443' ELSE '' END ||
             '/d/' || CAST(doc_id AS VARCHAR) ||
             CASE WHEN doc_id % 3 = 0 THEN '?lang=' || lang ELSE '' END
             END AS url
           FROM documents),
         p AS (
           SELECT doc_id,
             regexp_extract(
               regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1),
               '^(?:[^@]*@)?([^:]*)', 1) AS host
           FROM u),
         d AS (
           SELECT doc_id, host,
                  string_split(host, '.') AS ls,
                  len(string_split(host, '.')) AS k
           FROM p),
         dd AS (SELECT doc_id, $PslDomainSql AS domain FROM d),
         bl AS (SELECT DISTINCT domain FROM dd WHERE doc_id % 10 = 0)
         SELECT doc_id, domain FROM dd
         WHERE domain NOT IN (SELECT domain FROM bl)
         ORDER BY doc_id""",

    "q_domain_cap" ->
      """WITH d AS (
           SELECT doc_id,
                  source || '.' ||
                  (['com','co.uk','org','io'])[CAST(doc_id % 4 + 1 AS INT)]
                    AS domain
           FROM documents),
         r AS (
           SELECT doc_id, domain,
                  row_number() OVER (PARTITION BY domain
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           FROM d)
         SELECT domain, count(*) AS n_kept,
                CAST(sum(doc_id) AS BIGINT) AS sum_ids
         FROM r WHERE rn <= 25
         GROUP BY domain ORDER BY domain""",

    "q_dedup_simhash" ->
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
         ), big AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(t)),
                    i -> concat(t[i], ' ', t[i+1]))) AS w
           FROM toks WHERE len(t) >= 2
         ), th AS (
           SELECT doc_id, list_transform(w, t -> CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)) AS h
           FROM big
         ), bits AS (
           SELECT doc_id, b,
                  CASE WHEN len(list_filter(h, v -> ((v >> b) & 1) = 1)) * 2 > len(h)
                       THEN (1::BIGINT << b) ELSE 0 END AS bv
           FROM th, range(0, 32) AS r(b)
         ), fp AS (
           SELECT doc_id, sum(bv)::BIGINT AS fp FROM bits GROUP BY doc_id
         ), band AS (
           SELECT doc_id, fp, j, (fp >> (8*j)) & 255 AS byte FROM fp, range(0, 4) AS r(j)
         ), cand AS (
           SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b, a.fp AS fa, c.fp AS fb
           FROM band a JOIN band c ON a.j = c.j AND a.byte = c.byte AND a.doc_id < c.doc_id
         )
         SELECT doc_a, doc_b, hamming FROM (
           SELECT doc_a, doc_b, bit_count(xor(fa, fb)) AS hamming FROM cand) t
         WHERE hamming <= 3 ORDER BY doc_a, doc_b""",

    "q_dedup_ngram" ->
      """WITH base AS (
           SELECT doc_id,
             CASE WHEN length(text) >= 16
                  THEN list_min(list_transform(range(1, length(text) - 14), i -> md5(substr(text, i, 16))))
                  ELSE md5(text) END AS fp,
             CASE WHEN length(text) >= 3
                  THEN list_distinct(list_transform(range(1, length(text) - 1), i -> substr(text, i, 3)))
                  ELSE [text] END AS sh
           FROM documents
         )
         SELECT doc_a, doc_b, jaccard FROM (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                        len(list_distinct(a.sh || b.sh)), 6) AS jaccard
           FROM base a JOIN base b ON a.fp = b.fp AND a.doc_id < b.doc_id) t
         WHERE jaccard >= 0.7 ORDER BY doc_a, doc_b""",

    "q_dedup_ngram_k" ->
      """WITH base AS (
           SELECT doc_id,
             CASE WHEN length(text) >= 16
                  THEN list_sort(list_distinct(list_transform(range(1, length(text) - 14),
                         i -> md5(substr(text, i, 16)))))[1:2]
                  ELSE [md5(text)] END AS fps,
             CASE WHEN length(text) >= 3
                  THEN list_distinct(list_transform(range(1, length(text) - 1), i -> substr(text, i, 3)))
                  ELSE [text] END AS sh
           FROM documents
         ), banded AS (
           SELECT doc_id, unnest(fps) AS fp FROM base
         ), cand AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM banded a JOIN banded b ON a.fp = b.fp AND a.doc_id < b.doc_id
         )
         SELECT doc_a, doc_b, jaccard FROM (
           SELECT doc_a, doc_b,
                  round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
                        len(list_distinct(x.sh || y.sh)), 6) AS jaccard
           FROM cand JOIN base x ON x.doc_id = doc_a JOIN base y ON y.doc_id = doc_b) t
         WHERE jaccard >= 0.7 ORDER BY doc_a, doc_b""",

    "q_dedup_embed" ->
      (s"""WITH bkt AS (
           SELECT vec_id, embedding, $BktSql AS bkt FROM embeddings
         )
         SELECT vec_a, vec_b, cosine FROM (
           SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
                  round(${cosSql("a.embedding", "c.embedding")}, 6) AS cosine
           FROM bkt a JOIN bkt c ON a.bkt = c.bkt AND a.vec_id < c.vec_id) t
         WHERE cosine >= 0.3 ORDER BY vec_a, vec_b"""),

    "q_semdedup" ->
      (kmeansCtes(SemKPredSql).replaceFirst("WITH ", "WITH RECURSIVE ") + s""",
         sfc AS (
           SELECT vec_id, embedding, cell FROM (
             SELECT vec_id, embedding, cell,
                    count(*) OVER (PARTITION BY cell) AS cn FROM sf) t
           WHERE cn <= $SemMaxCell
         ),
         pairs AS (
           SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
           FROM sfc a JOIN sfc b ON a.cell = b.cell AND a.vec_id < b.vec_id
           WHERE round((${dotSql("a.embedding", "b.embedding")}) /
                       (sqrt(${dotSql("a.embedding", "a.embedding")}) *
                        sqrt(${dotSql("b.embedding", "b.embedding")})), 6) >= $SemThreshold
         )""" + ClosureCtes + """
         SELECT e.label, count(*) AS n_kept FROM embeddings e
         WHERE NOT EXISTS (
           SELECT 1 FROM clusters c
           WHERE c.doc_id = e.vec_id AND c.doc_id <> c.cluster_id)
         GROUP BY 1 ORDER BY 1"""),

    "q_embed_quant" ->
      """SELECT label, count(*) AS n, round(max(err), 6) AS max_err FROM (
           SELECT label,
             list_reduce(list_transform(range(1, len(embedding) + 1),
               i -> abs(CAST(embedding[i] AS DOUBLE) - q[i] / scale)),
               (a, b) -> greatest(a, b)) AS err
           FROM (
             SELECT label, embedding,
               127.0 / list_reduce(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
                                   (a, b) -> greatest(a, b)) AS scale,
               list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) *
                        (127.0 / list_reduce(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))),
                                             (a, b) -> greatest(a, b))) + 0.5) AS INT)) AS q
             FROM embeddings) t1) t2
         GROUP BY 1 ORDER BY 1""",
    // Two-stage quantized retrieval: replays quantize8 (same floor(x*s+0.5)
    // codes), the integer code dot (exact in double), the same score
    // association (dot / (sa*sq) / (na*nq), 6dp), and both (score DESC, id)
    // cuts — candidate SET and final ranking match bit-for-bit.
    "q_ann_quantized" ->
      (s"""WITH qz AS (
           SELECT vec_id, embedding,
             127.0 / list_reduce(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
                                 (a, b) -> greatest(a, b)) AS scale,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) *
                      (127.0 / list_reduce(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))),
                                           (a, b) -> greatest(a, b))) + 0.5) AS INT)) AS q
           FROM embeddings),
         qq AS (SELECT scale AS qs, q AS qc, embedding AS qe FROM qz WHERE vec_id = 0),
         cand AS (
           SELECT z.vec_id, z.embedding, qq.qe,
                  round((${dotSql("z.q", "qq.qc")}) / (z.scale * qq.qs) /
                        (sqrt(${dotSql("z.embedding", "z.embedding")}) *
                         sqrt(${dotSql("qq.qe", "qq.qe")})), 6) AS cosine_q8
           FROM qz z, qq WHERE z.vec_id <> 0
           ORDER BY cosine_q8 DESC, z.vec_id LIMIT 50)
         SELECT vec_id, cosine_q8,
                round((${dotSql("embedding", "qe")}) /
                      (sqrt(${dotSql("embedding", "embedding")}) *
                       sqrt(${dotSql("qe", "qe")})), 6) AS cosine
         FROM cand ORDER BY cosine DESC, vec_id LIMIT 10"""),

    "q_ann_brute" ->
      (s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         SELECT vec_id, cosine FROM (
           SELECT vec_id, round(${cosSql("embedding", "qe")}, 6) AS cosine
           FROM embeddings, q WHERE vec_id <> 0) t
         ORDER BY cosine DESC, vec_id LIMIT 10"""),

    // Bitext margins: same bucket equi-join, 6-dp cosines, decimal
    // (order-free) top-k averages over actual candidate counts, identical
    // double margin expression, (margin desc, b_id) pick.
    "q_bitext_mine" ->
      (s"""WITH e AS (
           SELECT vec_id, label, embedding, $BktSql AS bkt,
                  sqrt(${dotSql("embedding", "embedding")}) AS nn
           FROM embeddings),
         a AS (SELECT vec_id AS a_id, embedding AS av, bkt, nn AS an
               FROM e WHERE label < 5),
         b AS (SELECT vec_id AS b_id, embedding AS bv, bkt, nn AS bn
               FROM e WHERE label >= 5),
         pairs AS (
           SELECT a_id, b_id,
                  round(${dotSql("av", "bv")} / (an * bn), 6) AS cosine
           FROM a JOIN b USING (bkt)),
         ax AS (
           SELECT a_id,
                  CAST(sum(CAST(cosine AS DECIMAL(18,9))) AS DOUBLE)
                    / count(*) AS axv
           FROM (SELECT a_id, cosine, row_number() OVER
                   (PARTITION BY a_id ORDER BY cosine DESC, b_id) AS r
                 FROM pairs) t WHERE r <= 4 GROUP BY 1),
         ay AS (
           SELECT b_id,
                  CAST(sum(CAST(cosine AS DECIMAL(18,9))) AS DOUBLE)
                    / count(*) AS ayv
           FROM (SELECT b_id, cosine, row_number() OVER
                   (PARTITION BY b_id ORDER BY cosine DESC, a_id) AS r
                 FROM pairs) t WHERE r <= 4 GROUP BY 1),
         mg AS (
           SELECT p.a_id, p.b_id, p.cosine,
                  round(p.cosine / ((ax.axv + ay.ayv) / CAST(2.0 AS DOUBLE)), 6)
                    AS margin
           FROM pairs p JOIN ax USING (a_id) JOIN ay USING (b_id))
         SELECT a_id, b_id, cosine, margin FROM (
           SELECT mg.*, row_number() OVER
             (PARTITION BY a_id ORDER BY margin DESC, b_id) AS pick
           FROM mg) f
         WHERE pick = 1 AND margin > 1.0 ORDER BY a_id"""),

    // Auto-bits bitext: the capped pipeline with the bucket width from
    // the integer count rule (target 50) instead of a hardcoded 4.
    "q_bitext_auto" ->
      (s"""WITH ${nbCte(50, 4, 24)},
         e AS (
           SELECT vec_id, label, embedding, $BktAutoSql AS bkt,
                  sqrt(${dotSql("embedding", "embedding")}) AS nn
           FROM embeddings, nb),
         a0 AS (SELECT vec_id AS a_id, embedding AS av, bkt, nn AS an
                FROM e WHERE label < 5),
         a AS (SELECT a_id, av, bkt, an FROM (
                 SELECT a0.*, row_number() OVER
                   (PARTITION BY bkt ORDER BY a_id) AS br FROM a0) t
               WHERE br <= 24),
         b0 AS (SELECT vec_id AS b_id, embedding AS bv, bkt, nn AS bn
                FROM e WHERE label >= 5),
         b AS (SELECT b_id, bv, bkt, bn FROM (
                 SELECT b0.*, row_number() OVER
                   (PARTITION BY bkt ORDER BY b_id) AS br FROM b0) t
               WHERE br <= 24),
         pairs AS (
           SELECT a_id, b_id,
                  round(${dotSql("av", "bv")} / (an * bn), 6) AS cosine
           FROM a JOIN b USING (bkt)),
         ax AS (
           SELECT a_id,
                  CAST(sum(CAST(cosine AS DECIMAL(18,9))) AS DOUBLE)
                    / count(*) AS axv
           FROM (SELECT a_id, cosine, row_number() OVER
                   (PARTITION BY a_id ORDER BY cosine DESC, b_id) AS r
                 FROM pairs) t WHERE r <= 4 GROUP BY 1),
         ay AS (
           SELECT b_id,
                  CAST(sum(CAST(cosine AS DECIMAL(18,9))) AS DOUBLE)
                    / count(*) AS ayv
           FROM (SELECT b_id, cosine, row_number() OVER
                   (PARTITION BY b_id ORDER BY cosine DESC, a_id) AS r
                 FROM pairs) t WHERE r <= 4 GROUP BY 1),
         mg AS (
           SELECT p.a_id, p.b_id, p.cosine,
                  round(p.cosine / ((ax.axv + ay.ayv) / CAST(2.0 AS DOUBLE)), 6)
                    AS margin
           FROM pairs p JOIN ax USING (a_id) JOIN ay USING (b_id))
         SELECT a_id, b_id, cosine, margin FROM (
           SELECT mg.*, row_number() OVER
             (PARTITION BY a_id ORDER BY margin DESC, b_id) AS pick
           FROM mg) f
         WHERE pick = 1 AND margin > 1.0 ORDER BY a_id"""),

    // Capped bitext margins: same pipeline with the per-(bucket, side)
    // lowest-id row_number cap replayed in both a and b CTEs.
    "q_bitext_capped" ->
      (s"""WITH e AS (
           SELECT vec_id, label, embedding, $BktSql AS bkt,
                  sqrt(${dotSql("embedding", "embedding")}) AS nn
           FROM embeddings),
         a0 AS (SELECT vec_id AS a_id, embedding AS av, bkt, nn AS an
                FROM e WHERE label < 5),
         a AS (SELECT a_id, av, bkt, an FROM (
                 SELECT a0.*, row_number() OVER
                   (PARTITION BY bkt ORDER BY a_id) AS br FROM a0) t
               WHERE br <= 24),
         b0 AS (SELECT vec_id AS b_id, embedding AS bv, bkt, nn AS bn
                FROM e WHERE label >= 5),
         b AS (SELECT b_id, bv, bkt, bn FROM (
                 SELECT b0.*, row_number() OVER
                   (PARTITION BY bkt ORDER BY b_id) AS br FROM b0) t
               WHERE br <= 24),
         pairs AS (
           SELECT a_id, b_id,
                  round(${dotSql("av", "bv")} / (an * bn), 6) AS cosine
           FROM a JOIN b USING (bkt)),
         ax AS (
           SELECT a_id,
                  CAST(sum(CAST(cosine AS DECIMAL(18,9))) AS DOUBLE)
                    / count(*) AS axv
           FROM (SELECT a_id, cosine, row_number() OVER
                   (PARTITION BY a_id ORDER BY cosine DESC, b_id) AS r
                 FROM pairs) t WHERE r <= 4 GROUP BY 1),
         ay AS (
           SELECT b_id,
                  CAST(sum(CAST(cosine AS DECIMAL(18,9))) AS DOUBLE)
                    / count(*) AS ayv
           FROM (SELECT b_id, cosine, row_number() OVER
                   (PARTITION BY b_id ORDER BY cosine DESC, a_id) AS r
                 FROM pairs) t WHERE r <= 4 GROUP BY 1),
         mg AS (
           SELECT p.a_id, p.b_id, p.cosine,
                  round(p.cosine / ((ax.axv + ay.ayv) / CAST(2.0 AS DOUBLE)), 6)
                    AS margin
           FROM pairs p JOIN ax USING (a_id) JOIN ay USING (b_id))
         SELECT a_id, b_id, cosine, margin FROM (
           SELECT mg.*, row_number() OVER
             (PARTITION BY a_id ORDER BY margin DESC, b_id) AS pick
           FROM mg) f
         WHERE pick = 1 AND margin > 1.0 ORDER BY a_id"""),

    // JL random projection: the ±1 sign matrix replays via the same
    // md5-parity formula (bit-exact projection — same element order, same
    // double ops), both cuts via (6-dp score, vec_id) — so candidate SET
    // and rerank match exactly.
    "q_ann_rp" ->
      (s"""WITH p AS (
           SELECT vec_id, embedding,
                  list_transform(range(0, 16), j ->
                    list_reduce(list_transform(range(1, 65), i ->
                      CAST(embedding[i] AS DOUBLE) *
                      (CASE WHEN CAST(concat('0x', substr(md5(concat('rp:7:', i, ':', j)), 1, 8)) AS BIGINT) % 2 = 0
                            THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END)),
                      (x, y) -> x + y)) AS pv
           FROM embeddings),
         q AS (SELECT embedding AS qv, pv AS qp,
                      sqrt(${dotSql("embedding", "embedding")}) AS qn,
                      sqrt(${dotSql("pv", "pv")}) AS qpn
               FROM p WHERE vec_id = 0),
         cand AS (
           SELECT p.vec_id, p.embedding,
                  round(${dotSql("p.pv", "q.qp")}
                        / (sqrt(${dotSql("p.pv", "p.pv")}) * q.qpn), 6) AS cosine_rp,
                  q.qv, q.qn
           FROM p, q WHERE p.vec_id <> 0
           ORDER BY cosine_rp DESC, p.vec_id LIMIT 50)
         SELECT vec_id, cosine_rp,
                round(${dotSql("embedding", "qv")}
                      / (sqrt(${dotSql("embedding", "embedding")}) * qn), 6) AS cosine
         FROM cand ORDER BY cosine DESC, vec_id LIMIT 10"""),

    // PQ/ADC: one Lloyd's chain per 32-dim half-slice (suffixes p0/p1),
    // query lookup tables t0/t1, score = cosine against the RECONSTRUCTED
    // vector — (qd0+qd1) / (qn * sqrt(cn2_0+cn2_1)), 6dp, id tie-break.
    "q_ann_pq" ->
      (s"""WITH RECURSIVE
         corpus0 AS (SELECT vec_id, embedding[1:32] AS embedding FROM embeddings),
         corpus1 AS (SELECT vec_id, embedding[33:64] AS embedding FROM embeddings),
         ${kmeansChain("vec_id < 4", "corpus0", "p0", 32)},
         ${kmeansChain("vec_id < 4", "corpus1", "p1", 32)},
         q AS (SELECT embedding AS qe,
                      sqrt(${dotSql("embedding", "embedding")}) AS qn
               FROM embeddings WHERE vec_id = 0),
         t0 AS (SELECT cid, ${dotSql("qe[1:32]", "cv")} AS qd,
                       ${dotSql("cv", "cv")} AS cn2 FROM c2p0, q),
         t1 AS (SELECT cid, ${dotSql("qe[33:64]", "cv")} AS qd,
                       ${dotSql("cv", "cv")} AS cn2 FROM c2p1, q)
         SELECT vec_id, score, rank FROM (
           SELECT s0.vec_id,
                  round((t0.qd + t1.qd) / (q.qn * sqrt(t0.cn2 + t1.cn2)), 6) AS score,
                  row_number() OVER (ORDER BY
                    round((t0.qd + t1.qd) / (q.qn * sqrt(t0.cn2 + t1.cn2)), 6) DESC,
                    s0.vec_id) AS rank
           FROM sfp0 s0 JOIN sfp1 s1 ON s0.vec_id = s1.vec_id
                JOIN t0 ON t0.cid = s0.cell JOIN t1 ON t1.cid = s1.cell
                CROSS JOIN q
           WHERE s0.vec_id <> 0) t
         WHERE rank <= 10 ORDER BY rank"""),

    // OPQ: the pair-rotation FIT replays first (per-pair decimal moment
    // sums → the shared Jacobi ζ/t/(c,s) formula layers — verbatim the
    // strings the Spark lowering evaluates, so the fitted rotation is
    // bit-identical), the corpus rotates through the same 6-dp float
    // grid, then q_ann_pq's two kmeans chains + ADC tail run in the
    // rotated space
    "q_ann_opq" ->
      (s"""WITH RECURSIVE
         prs AS (
           SELECT u.t,
                  CAST(e.embedding[u.t + 1] AS DOUBLE) AS __x__,
                  CAST(e.embedding[u.t + 33] AS DOUBLE) AS __y__
           FROM embeddings e, LATERAL unnest(range(0, 32)) u(t)),
         mom AS (
           SELECT t,
                  ${graft.llm.Embeddings.opqMomentSql("__x__ * __x__")} AS __sxx__,
                  ${graft.llm.Embeddings.opqMomentSql("__y__ * __y__")} AS __syy__,
                  ${graft.llm.Embeddings.opqMomentSql("__x__ * __y__")} AS __sxy__
           FROM prs GROUP BY t),
         zl AS (SELECT t, __sxx__, __syy__, __sxy__,
                       ${graft.llm.Embeddings.opqGateSql(0.0)} AS __rot__,
                       ${graft.llm.Embeddings.OpqZetaSql} AS __zeta__
                FROM mom),
         tl AS (SELECT t, __rot__,
                       ${graft.llm.Embeddings.OpqTtSql} AS __tt__
                FROM zl),
         csf AS (SELECT t, ${graft.llm.Embeddings.OpqCSql} AS c,
                        ${graft.llm.Embeddings.OpqSSql} AS s
                 FROM tl),
         rote AS (
           SELECT e.vec_id, u.d,
                  CAST(round(CASE WHEN u.d < 32
                    THEN f.c * CAST(e.embedding[u.d + 1] AS DOUBLE)
                         - f.s * CAST(e.embedding[u.d + 33] AS DOUBLE)
                    ELSE f.s * CAST(e.embedding[u.d - 31] AS DOUBLE)
                         + f.c * CAST(e.embedding[u.d + 1] AS DOUBLE)
                  END, 6) AS REAL) AS xv
           FROM embeddings e, LATERAL unnest(range(0, 64)) u(d), csf f
           WHERE f.t = u.d % 32),
         rotv AS MATERIALIZED (
           SELECT vec_id, list(xv ORDER BY d) AS embedding
           FROM rote GROUP BY vec_id),
         corpus0 AS (SELECT vec_id, embedding[1:32] AS embedding FROM rotv),
         corpus1 AS (SELECT vec_id, embedding[33:64] AS embedding FROM rotv),
         ${kmeansChain("vec_id < 4", "corpus0", "p0", 32)},
         ${kmeansChain("vec_id < 4", "corpus1", "p1", 32)},
         q AS (SELECT embedding AS qe,
                      sqrt(${dotSql("embedding", "embedding")}) AS qn
               FROM rotv WHERE vec_id = 0),
         t0 AS (SELECT cid, ${dotSql("qe[1:32]", "cv")} AS qd,
                       ${dotSql("cv", "cv")} AS cn2 FROM c2p0, q),
         t1 AS (SELECT cid, ${dotSql("qe[33:64]", "cv")} AS qd,
                       ${dotSql("cv", "cv")} AS cn2 FROM c2p1, q)
         SELECT vec_id, score, rank FROM (
           SELECT s0.vec_id,
                  round((t0.qd + t1.qd) / (q.qn * sqrt(t0.cn2 + t1.cn2)), 6) AS score,
                  row_number() OVER (ORDER BY
                    round((t0.qd + t1.qd) / (q.qn * sqrt(t0.cn2 + t1.cn2)), 6) DESC,
                    s0.vec_id) AS rank
           FROM sfp0 s0 JOIN sfp1 s1 ON s0.vec_id = s1.vec_id
                JOIN t0 ON t0.cid = s0.cell JOIN t1 ON t1.cid = s1.cell
                CROSS JOIN q
           WHERE s0.vec_id <> 0) t
         WHERE rank <= 10 ORDER BY rank"""),

    // sampled PQ: segment chains train on the 25% kept set's slices
    // (seeds = 4 smallest kept ids, shared by both segments), the FULL
    // corpus re-assigns per segment against the fitted codebooks (the
    // af2 replay), then the q_ann_pq scoring tail
    "q_ann_pq_sampled" ->
      (s"""WITH samp AS MATERIALIZED (
           SELECT vec_id, embedding FROM embeddings
           WHERE CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
                 AS BIGINT) < 1073741824
         ),
         samp0 AS (SELECT vec_id, embedding[1:32] AS embedding FROM samp),
         samp1 AS (SELECT vec_id, embedding[33:64] AS embedding FROM samp),
         corpus0 AS (SELECT vec_id, embedding[1:32] AS embedding FROM embeddings),
         corpus1 AS (SELECT vec_id, embedding[33:64] AS embedding FROM embeddings),
         ${kmeansChain(
             "vec_id <= (SELECT max(vec_id) FROM (SELECT vec_id FROM samp ORDER BY vec_id LIMIT 4) s)",
             "samp0", "p0", 32)},
         ${kmeansChain(
             "vec_id <= (SELECT max(vec_id) FROM (SELECT vec_id FROM samp ORDER BY vec_id LIMIT 4) s)",
             "samp1", "p1", 32)},
         a0 AS (
           SELECT e.vec_id, cc.cid,
                  row_number() OVER (PARTITION BY e.vec_id ORDER BY
                    round((${dotSql("e.embedding", "cc.cv")}) /
                          (sqrt(${dotSql("e.embedding", "e.embedding")}) *
                           sqrt(${dotSql("cc.cv", "cc.cv")})), 6)
                      DESC NULLS LAST, cc.cid) AS rn
           FROM corpus0 e CROSS JOIN c2p0 cc),
         f0 AS (SELECT vec_id, cid AS cell FROM a0 WHERE rn = 1),
         a1 AS (
           SELECT e.vec_id, cc.cid,
                  row_number() OVER (PARTITION BY e.vec_id ORDER BY
                    round((${dotSql("e.embedding", "cc.cv")}) /
                          (sqrt(${dotSql("e.embedding", "e.embedding")}) *
                           sqrt(${dotSql("cc.cv", "cc.cv")})), 6)
                      DESC NULLS LAST, cc.cid) AS rn
           FROM corpus1 e CROSS JOIN c2p1 cc),
         f1 AS (SELECT vec_id, cid AS cell FROM a1 WHERE rn = 1),
         q AS (SELECT embedding AS qe,
                      sqrt(${dotSql("embedding", "embedding")}) AS qn
               FROM embeddings WHERE vec_id = 0),
         t0 AS (SELECT cid, ${dotSql("qe[1:32]", "cv")} AS qd,
                       ${dotSql("cv", "cv")} AS cn2 FROM c2p0, q),
         t1 AS (SELECT cid, ${dotSql("qe[33:64]", "cv")} AS qd,
                       ${dotSql("cv", "cv")} AS cn2 FROM c2p1, q)
         SELECT vec_id, score, rank FROM (
           SELECT s0.vec_id,
                  round((t0.qd + t1.qd) / (q.qn * sqrt(t0.cn2 + t1.cn2)), 6) AS score,
                  row_number() OVER (ORDER BY
                    round((t0.qd + t1.qd) / (q.qn * sqrt(t0.cn2 + t1.cn2)), 6) DESC,
                    s0.vec_id) AS rank
           FROM f0 s0 JOIN f1 s1 ON s0.vec_id = s1.vec_id
                JOIN t0 ON t0.cid = s0.cell JOIN t1 ON t1.cid = s1.cell
                CROSS JOIN q
           WHERE s0.vec_id <> 0) t
         WHERE rank <= 10 ORDER BY rank"""),

    // IVF-SQ8: the default coarse chain (KmeansCtes — cells per vec via
    // the sqrt(n) Lloyd replay) gates candidates to the query's cell,
    // the SQ8 CTEs (global per-dim min/max params, shared quantization
    // formula) reconstruct candidates, and the q_ann_ivf_trained scoring
    // tail ranks the dequantized cosine per query.
    "q_ann_ivfsq8" ->
      (KmeansCtes + s""",
         mm AS (
           SELECT u.i,
                  min(CAST(e.embedding[u.i] AS DOUBLE)) AS mn,
                  max(CAST(e.embedding[u.i] AS DOUBLE)) AS mx
           FROM embeddings e, LATERAL unnest(range(1, 65)) u(i)
           GROUP BY u.i),
         prm AS MATERIALIZED (
           SELECT list(mn ORDER BY i) AS mns,
                  list((mx - mn) / CAST(255.0 AS DOUBLE) ORDER BY i) AS scs
           FROM mm),
         cod AS (
           SELECT e.vec_id,
                  list(${graft.llm.Embeddings.sq8CodeSql(
                    "e.embedding[u.i]", "p.mns[u.i]", "p.scs[u.i]")}
                    ORDER BY u.i) AS code
           FROM embeddings e, LATERAL unnest(range(1, 65)) u(i), prm p
           GROUP BY e.vec_id),
         dqv AS MATERIALIZED (
           SELECT c.vec_id,
                  list_transform(range(1, 65), i ->
                    ${graft.llm.Embeddings.sq8DqSql(
                      "c.code[i]", "p.mns[i]", "p.scs[i]")}) AS dq
           FROM cod c, prm p)
         SELECT query_id, neighbor_id, cosine, rank FROM (
           SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                  round((${dotSql("d.dq", "q.embedding")}) /
                        (sqrt(${dotSql("q.embedding", "q.embedding")}) *
                         sqrt(${dotSql("d.dq", "d.dq")})), 6) AS cosine,
                  row_number() OVER (PARTITION BY q.vec_id ORDER BY
                    round((${dotSql("d.dq", "q.embedding")}) /
                          (sqrt(${dotSql("q.embedding", "q.embedding")}) *
                           sqrt(${dotSql("d.dq", "d.dq")})), 6) DESC,
                    n.vec_id) AS rank
           FROM sf q JOIN sf n ON q.cell = n.cell AND n.vec_id <> q.vec_id
                JOIN dqv d ON d.vec_id = n.vec_id
           WHERE q.vec_id < 3) t
         WHERE rank <= 5 ORDER BY query_id, rank"""),

    // Z-order: the SHARED key formula (Layout.bucket16Sql/zorder2Sql —
    // exact integer interleave + one correctly-rounded double bucket
    // expression) replayed verbatim; buckets layered as subselect columns
    // so the 16-fold spread references stay cheap column reads.
    "q_zorder_key" ->
      (s"""WITH mm AS (
           SELECT min(CAST(user_id AS DOUBLE)) AS xmn,
                  max(CAST(user_id AS DOUBLE)) AS xmx,
                  min(CAST(value AS DOUBLE)) AS ymn,
                  max(CAST(value AS DOUBLE)) AS ymx
           FROM events),
         b AS (
           SELECT e.event_id,
                  ${graft.sources.Layout.bucket16Sql(
                    "e.user_id", "m.xmn", "m.xmx")} AS bx,
                  ${graft.sources.Layout.bucket16Sql(
                    "e.value", "m.ymn", "m.ymx")} AS zy
           FROM events e, mm m
           WHERE e.event_id % 97 = 0)
         SELECT event_id, ${graft.sources.Layout.zorder2Sql("bx", "zy")} AS zkey
         FROM b ORDER BY event_id"""),

    // 3-D z-key: same shared-formula replay, third dimension = exact
    // epoch microseconds (micros < 2^53 so the DOUBLE cast is lossless
    // on both engines).
    "q_zorder3_key" ->
      (s"""WITH mm AS (
           SELECT min(CAST(user_id AS DOUBLE)) AS xmn,
                  max(CAST(user_id AS DOUBLE)) AS xmx,
                  min(CAST(value AS DOUBLE)) AS ymn,
                  max(CAST(value AS DOUBLE)) AS ymx,
                  min(CAST(epoch_us(ts) AS DOUBLE)) AS zmn,
                  max(CAST(epoch_us(ts) AS DOUBLE)) AS zmx
           FROM events),
         b AS (
           SELECT e.event_id,
                  ${graft.sources.Layout.bucket10Sql(
                    "e.user_id", "m.xmn", "m.xmx")} AS bx,
                  ${graft.sources.Layout.bucket10Sql(
                    "e.value", "m.ymn", "m.ymx")} AS zy,
                  ${graft.sources.Layout.bucket10Sql(
                    "epoch_us(e.ts)", "m.zmn", "m.zmx")} AS zz
           FROM events e, mm m
           WHERE e.event_id % 89 = 0)
         SELECT event_id,
                ${graft.sources.Layout.zorder3Sql("bx", "zy", "zz")} AS zkey
         FROM b ORDER BY event_id"""),

    // Z-order skip: the box predicate's VALUES are layout-independent —
    // the oracle reads the raw table; the Spark side reads the z-ordered
    // rewrite (file/row-group pruning on both dims is the point, results
    // must be identical).
    "q_zorder_skip" ->
      """SELECT count(*) AS n_rows,
                CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                  AS value_cents,
                min(event_id) AS min_event, max(event_id) AS max_event
         FROM events
         WHERE user_id BETWEEN 100 AND 300 AND value BETWEEN 10 AND 60""",

    // Bloom point lookup: layout- and index-independent values.
    "q_manifest_point" ->
      """SELECT count(*) AS n_rows,
                CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                  AS value_cents,
                max(user_id) AS user
         FROM events WHERE event_id = 842""",

    // 3-D z-order skip: layout-independent values, raw-table replay; the
    // time bound compares exact epoch micros on both engines.
    "q_zorder3_skip" ->
      """SELECT count(*) AS n_rows,
                CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                  AS value_cents,
                min(event_id) AS min_event, max(event_id) AS max_event
         FROM events
         WHERE user_id BETWEEN 100 AND 300 AND value BETWEEN 10 AND 60
           AND epoch_us(ts) >= 1704672000000000
           AND epoch_us(ts) < 1705363200000000""",

    // Metric cache serves replay as DIRECT raw-fact aggregates: the cache
    // is additive partials (count / integer-cents sum / min / max) at
    // (user, type, day) grain, so any coarser merge must hash-match the
    // fact table exactly — including across the save/append cutoff.
    "q_metric_cache" ->
      """SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                count(*) AS n_events,
                CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                  AS value_cents,
                min(value) AS value_min, max(value) AS value_max
         FROM events
         WHERE ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-25'
           AND user_id BETWEEN 50 AND 100
         GROUP BY 1, 2 ORDER BY 1, 2""",

    // Linear-counting sketch: the DuckDB side rebuilds the occupied-
    // bucket set from raw facts with the value-identical md5 bucket hash
    // (day merges away under DISTINCT — exactly the cache's serve merge)
    // and applies the SHARED estimator formula string.
    "q_metric_cache_distinct" ->
      s"""WITH b AS (
           SELECT event_type,
                  ${graft.sources.MetricCache.bucketDuckSql("user_id", 4096)}
                    AS bucket
           FROM events GROUP BY 1, 2
         )
         SELECT event_type, CAST(count(*) AS BIGINT) AS occupied,
                ${graft.sources.MetricCache.linearCountSql("count(*)", 4096)}
                  AS est_users
         FROM b GROUP BY 1 ORDER BY 1""",

    // Dense daily serve: spine × observed dims, zero-filled additive
    // measures, IGNORE-NULLS LOCF — identical window frame semantics
    // (RANGE UNBOUNDED PRECEDING .. CURRENT ROW) on both engines.
    "q_metric_cache_dense" ->
      """WITH agg AS (
           SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                  count(*) AS n_events,
                  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS value_cents,
                  max(value) AS vmax
           FROM events
           WHERE user_id = 7
             AND ts >= TIMESTAMP '2024-01-05'
             AND ts < TIMESTAMP '2024-01-29'
           GROUP BY 1, 2
         ), dims AS (
           SELECT DISTINCT event_type FROM agg
         ), spine AS (
           SELECT d.event_type, CAST(g.g AS DATE) AS day
           FROM dims d, (SELECT unnest(generate_series(DATE '2024-01-05',
                  DATE '2024-01-28', INTERVAL 1 DAY)) AS g) g
         )
         SELECT s.event_type, s.day,
                coalesce(a.n_events, 0) AS n_events,
                coalesce(a.value_cents, 0) AS value_cents,
                last_value(a.vmax IGNORE NULLS)
                  OVER (PARTITION BY s.event_type ORDER BY s.day)
                  AS last_max
         FROM spine s LEFT JOIN agg a
           ON a.event_type = s.event_type AND a.day = s.day
         ORDER BY 1, 2""",

    // Overlap by inclusion–exclusion: three shared-formula estimates and
    // the canonicalized sum replay bit-for-bit.
    "q_metric_cache_overlap" ->
      s"""WITH b AS (
           SELECT event_type,
                  ${graft.sources.MetricCache.bucketDuckSql("user_id", 4096)}
                    AS bucket
           FROM events WHERE event_type IN ('click', 'purchase')
           GROUP BY 1, 2
         ), o AS (
           SELECT
             CAST(count(DISTINCT CASE WHEN event_type = 'click'
                                      THEN bucket END) AS BIGINT) AS occ_a,
             CAST(count(DISTINCT CASE WHEN event_type = 'purchase'
                                      THEN bucket END) AS BIGINT) AS occ_b,
             CAST(count(DISTINCT bucket) AS BIGINT) AS occ_union
           FROM b
         ), e AS (
           SELECT occ_a, occ_b, occ_union,
                  ${graft.sources.MetricCache.linearCountSql("occ_a", 4096)}
                    AS ea,
                  ${graft.sources.MetricCache.linearCountSql("occ_b", 4096)}
                    AS eb,
                  ${graft.sources.MetricCache.linearCountSql("occ_union", 4096)}
                    AS eu
           FROM o
         )
         SELECT occ_a, occ_b, occ_union,
                round(ea + eb - eu + 0.0, 6) AS est_overlap
         FROM e""",

    // Takedown ≡ a cache that never held the user: direct aggregate with
    // the exclusion predicate.
    "q_metric_cache_takedown" ->
      """SELECT event_type, count(*) AS n_events,
                CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                  AS value_cents,
                min(value) AS value_min, max(value) AS value_max
         FROM events
         WHERE user_id <= 74 AND user_id <> 7
         GROUP BY 1 ORDER BY 1""",

    "q_metric_cache_rollup" ->
      """SELECT event_type, count(*) AS n_events,
                CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                  AS value_cents,
                min(value) AS value_min, max(value) AS value_max
         FROM events
         WHERE user_id <= 74
         GROUP BY 1 ORDER BY 1""",

    // SQ8: per-dim min/max fit (exact aggregates), the SHARED quantization
    // formula string (Embeddings.sq8CodeSql/sq8DqSql — identical
    // correctly-rounded double ops on both engines), dequantized-cosine
    // scoring with the same 6-dp round + id tie-break as every ANN oracle.
    "q_ann_sq8" ->
      (s"""WITH mm AS (
           SELECT u.i,
                  min(CAST(e.embedding[u.i] AS DOUBLE)) AS mn,
                  max(CAST(e.embedding[u.i] AS DOUBLE)) AS mx
           FROM embeddings e, LATERAL unnest(range(1, 65)) u(i)
           GROUP BY u.i),
         prm AS MATERIALIZED (
           SELECT list(mn ORDER BY i) AS mns,
                  list((mx - mn) / CAST(255.0 AS DOUBLE) ORDER BY i) AS scs
           FROM mm),
         cod AS (
           SELECT e.vec_id,
                  list(${graft.llm.Embeddings.sq8CodeSql(
                    "e.embedding[u.i]", "p.mns[u.i]", "p.scs[u.i]")}
                    ORDER BY u.i) AS code
           FROM embeddings e, LATERAL unnest(range(1, 65)) u(i), prm p
           WHERE e.vec_id <> 0
           GROUP BY e.vec_id),
         dq AS (
           SELECT c.vec_id,
                  list_transform(range(1, 65), i ->
                    ${graft.llm.Embeddings.sq8DqSql(
                      "c.code[i]", "p.mns[i]", "p.scs[i]")}) AS dqv
           FROM cod c, prm p),
         q AS (SELECT embedding AS qe,
                      sqrt(${dotSql("embedding", "embedding")}) AS qn
               FROM embeddings WHERE vec_id = 0)
         SELECT vec_id, score, rank FROM (
           SELECT d.vec_id,
                  round((${dotSql("d.dqv", "q.qe")}) /
                        (q.qn * sqrt(${dotSql("d.dqv", "d.dqv")})), 6) AS score,
                  row_number() OVER (ORDER BY
                    round((${dotSql("d.dqv", "q.qe")}) /
                          (q.qn * sqrt(${dotSql("d.dqv", "d.dqv")})), 6) DESC,
                    d.vec_id) AS rank
           FROM dq d, q) t
         WHERE rank <= 10 ORDER BY rank"""),

    // IVF-PQ: the coarse sqrt(n) chain (default suffix — same CTEs as the
    // other trained-IVF oracles) gates candidates to the query's cell
    // (null-safe: an empty-centroid corner yields NULL cells on both
    // engines), then the q_ann_pq scoring tail runs over candidates only.
    "q_ann_ivfpq" ->
      (KmeansCtes + s""",
         corpus0 AS (SELECT vec_id, embedding[1:32] AS embedding FROM embeddings),
         corpus1 AS (SELECT vec_id, embedding[33:64] AS embedding FROM embeddings),
         ${kmeansChain("vec_id < 4", "corpus0", "p0", 32)},
         ${kmeansChain("vec_id < 4", "corpus1", "p1", 32)},
         q AS (SELECT embedding AS qe,
                      sqrt(${dotSql("embedding", "embedding")}) AS qn
               FROM embeddings WHERE vec_id = 0),
         qc AS (SELECT cell AS qcell FROM sf WHERE vec_id = 0),
         cand AS (
           SELECT vec_id FROM sf, qc
           WHERE sf.cell IS NOT DISTINCT FROM qc.qcell AND vec_id <> 0),
         t0 AS (SELECT cid, ${dotSql("qe[1:32]", "cv")} AS qd,
                       ${dotSql("cv", "cv")} AS cn2 FROM c2p0, q),
         t1 AS (SELECT cid, ${dotSql("qe[33:64]", "cv")} AS qd,
                       ${dotSql("cv", "cv")} AS cn2 FROM c2p1, q)
         SELECT vec_id, score, rank FROM (
           SELECT s0.vec_id,
                  round((t0.qd + t1.qd) / (q.qn * sqrt(t0.cn2 + t1.cn2)), 6) AS score,
                  row_number() OVER (ORDER BY
                    round((t0.qd + t1.qd) / (q.qn * sqrt(t0.cn2 + t1.cn2)), 6) DESC,
                    s0.vec_id) AS rank
           FROM cand JOIN sfp0 s0 USING (vec_id) JOIN sfp1 s1 USING (vec_id)
                JOIN t0 ON t0.cid = s0.cell JOIN t1 ON t1.cid = s1.cell
                CROSS JOIN q) t
         WHERE rank <= 10 ORDER BY rank"""),

    // persisted IVF-PQ serving: same coarse+codebook chains as
    // q_ann_ivfpq (the stored codes ARE those deterministic argmax
    // assignments), ADC-ranked candidate cut at candFactor·k = 40
    // (score desc, id — a deterministic SET), then the exact-cosine
    // rerank over the shortlist only picks the final top 10
    "q_ann_ivfpq_indexed" ->
      (KmeansCtes + s""",
         corpus0 AS (SELECT vec_id, embedding[1:32] AS embedding FROM embeddings),
         corpus1 AS (SELECT vec_id, embedding[33:64] AS embedding FROM embeddings),
         ${kmeansChain("vec_id < 4", "corpus0", "p0", 32)},
         ${kmeansChain("vec_id < 4", "corpus1", "p1", 32)},
         q AS (SELECT embedding AS qe,
                      sqrt(${dotSql("embedding", "embedding")}) AS qn
               FROM embeddings WHERE vec_id = 0),
         qc AS (SELECT cell AS qcell FROM sf WHERE vec_id = 0),
         cand AS (
           SELECT vec_id FROM sf, qc
           WHERE sf.cell IS NOT DISTINCT FROM qc.qcell AND vec_id <> 0),
         t0 AS (SELECT cid, ${dotSql("qe[1:32]", "cv")} AS qd,
                       ${dotSql("cv", "cv")} AS cn2 FROM c2p0, q),
         t1 AS (SELECT cid, ${dotSql("qe[33:64]", "cv")} AS qd,
                       ${dotSql("cv", "cv")} AS cn2 FROM c2p1, q),
         adc AS (
           SELECT s0.vec_id,
                  round((t0.qd + t1.qd) / (q.qn * sqrt(t0.cn2 + t1.cn2)), 6) AS score,
                  row_number() OVER (ORDER BY
                    round((t0.qd + t1.qd) / (q.qn * sqrt(t0.cn2 + t1.cn2)), 6) DESC,
                    s0.vec_id) AS crk
           FROM cand JOIN sfp0 s0 USING (vec_id) JOIN sfp1 s1 USING (vec_id)
                JOIN t0 ON t0.cid = s0.cell JOIN t1 ON t1.cid = s1.cell
                CROSS JOIN q),
         short AS (SELECT vec_id, score FROM adc WHERE crk <= 40),
         rr AS (
           SELECT e.vec_id AS neighbor_id, short.score,
                  round((${dotSql("e.embedding", "q.qe")}) /
                        (sqrt(${dotSql("e.embedding", "e.embedding")}) * q.qn), 6) AS cosine
           FROM short JOIN embeddings e ON e.vec_id = short.vec_id
                CROSS JOIN q)
         SELECT CAST(0 AS BIGINT) AS query_id, neighbor_id, score, cosine, rank
         FROM (
           SELECT neighbor_id, score, cosine,
                  row_number() OVER (ORDER BY cosine DESC, neighbor_id) AS rank
           FROM rr) t
         WHERE rank <= 10 ORDER BY rank"""),

    // RESIDUAL-coded persisted IVF-PQ: the coarse chain's residuals
    // (CAST(x[i] AS DOUBLE) - cv[i] — exact on both engines) feed two
    // 32-dim residual-codebook Lloyd chains; each corpus row
    // reconstructs as ĉ+r̂ with its norm (the stored __xn__), and the
    // ADC score folds (qc + qd0) + qd1 over the probed cells' postings
    // against the query's per-segment lookup — the same association
    // order the Spark serve path uses.
    "q_ann_ivfpq_residual" ->
      (ResidualAdcCtes + s"""
         SELECT query_id, neighbor_id, score, rank FROM (
           SELECT query_id, vec_id AS neighbor_id, score,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, vec_id) AS rank
           FROM adc) t
         WHERE rank <= 10 ORDER BY query_id, rank"""),

    // residual serve END-TO-END (the production read path): ADC-ranked
    // candidate cut at candFactor·k = 40 per query (score desc, id — a
    // deterministic SET), then the exact-cosine rerank over the
    // shortlist only picks the final top 10 — q_ann_ivfpq_indexed's
    // tail over the residual chain
    "q_ann_ivfpq_residual_rerank" ->
      (ResidualAdcCtes + s""",
         radc AS (
           SELECT query_id, vec_id, score,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, vec_id) AS crk
           FROM adc),
         rshort AS (SELECT query_id, vec_id, score FROM radc WHERE crk <= 40),
         rrr AS (
           SELECT rshort.query_id, e.vec_id AS neighbor_id, rshort.score,
                  round((${dotSql("e.embedding", "qr.qe")}) /
                        (sqrt(${dotSql("e.embedding", "e.embedding")}) *
                         qr.qn), 6) AS cosine
           FROM rshort
           JOIN embeddings e ON e.vec_id = rshort.vec_id
           JOIN qr ON qr.query_id = rshort.query_id)
         SELECT query_id, neighbor_id, score, cosine, rank FROM (
           SELECT query_id, neighbor_id, score, cosine,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rank
           FROM rrr) t
         WHERE rank <= 10 ORDER BY query_id, rank"""),

    "q_ann_ivf_trained" ->
      (KmeansCtes + s"""
         SELECT query_id, neighbor_id, cosine, rank FROM (
           SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                  round((${dotSql("q.embedding", "n.embedding")}) /
                        (sqrt(${dotSql("n.embedding", "n.embedding")}) *
                         sqrt(${dotSql("q.embedding", "q.embedding")})), 6) AS cosine,
                  row_number() OVER (PARTITION BY q.vec_id ORDER BY
                    round((${dotSql("q.embedding", "n.embedding")}) /
                          (sqrt(${dotSql("n.embedding", "n.embedding")}) *
                           sqrt(${dotSql("q.embedding", "q.embedding")})), 6) DESC,
                    n.vec_id) AS rank
           FROM sf q JOIN sf n ON q.cell = n.cell AND n.vec_id <> q.vec_id
           WHERE q.vec_id < 3) t
         WHERE rank <= 5 ORDER BY query_id, rank"""),

    // cell profile: replay the fixture's fit + full assignment, count
    // per cell, integer load share from the aggregated counts
    "q_ivf_cell_profile" ->
      (KmeansCtes + s""",
         prof AS MATERIALIZED (
           SELECT cell, count(*) AS n_postings FROM sf GROUP BY 1)
         SELECT cell, n_postings,
                CAST((n_postings * 1000000)
                     // (SELECT sum(n_postings) FROM prof) AS BIGINT)
                  AS load_ppm
         FROM prof ORDER BY cell"""),

    // sampled fit: the 25% md5-cutoff kept set trains the chain (seeds =
    // the 8 smallest kept ids), the FULL corpus assigns against c2 and
    // serves — same tail as q_ann_ivf_trained
    "q_ann_ivf_sampled_fit" ->
      (s"""WITH samp AS MATERIALIZED (
           SELECT vec_id, embedding FROM embeddings
           WHERE CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
                 AS BIGINT) < 1073741824
         ), ${kmeansChain(
             "vec_id <= (SELECT max(vec_id) FROM (SELECT vec_id FROM samp ORDER BY vec_id LIMIT 8) s)",
             "samp", "", EmbDim)},
         af2 AS (
           SELECT e.vec_id, e.embedding, cc.cid,
                  row_number() OVER (PARTITION BY e.vec_id ORDER BY
                    round((${dotSql("e.embedding", "cc.cv")}) /
                          (sqrt(${dotSql("e.embedding", "e.embedding")}) *
                           sqrt(${dotSql("cc.cv", "cc.cv")})), 6)
                      DESC NULLS LAST,
                    cc.cid) AS rn
           FROM embeddings e CROSS JOIN c2 cc
         ), sf2 AS (SELECT vec_id, embedding, cid AS cell FROM af2 WHERE rn = 1)
         SELECT query_id, neighbor_id, cosine, rank FROM (
           SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                  round((${dotSql("q.embedding", "n.embedding")}) /
                        (sqrt(${dotSql("n.embedding", "n.embedding")}) *
                         sqrt(${dotSql("q.embedding", "q.embedding")})), 6) AS cosine,
                  row_number() OVER (PARTITION BY q.vec_id ORDER BY
                    round((${dotSql("q.embedding", "n.embedding")}) /
                          (sqrt(${dotSql("n.embedding", "n.embedding")}) *
                           sqrt(${dotSql("q.embedding", "q.embedding")})), 6) DESC,
                    n.vec_id) AS rank
           FROM sf2 q JOIN sf2 n ON q.cell = n.cell AND n.vec_id <> q.vec_id
           WHERE q.vec_id < 3) t
         WHERE rank <= 5 ORDER BY query_id, rank"""),

    // embedding admission: assign the re-submitted slice to its frozen
    // cell (same argmax replay as serving), join the cell's postings,
    // exact cosine >= threshold
    "q_ann_ivf_admit" ->
      (KmeansCtes + s""",
         nf AS (
           SELECT vec_id + 10000 AS qid, embedding AS qe, cid AS qcell
           FROM (
             SELECT e.vec_id, e.embedding, cc.cid,
                    row_number() OVER (PARTITION BY e.vec_id ORDER BY
                      round((${dotSql("e.embedding", "cc.cv")}) /
                            (sqrt(${dotSql("e.embedding", "e.embedding")}) *
                             sqrt(${dotSql("cc.cv", "cc.cv")})), 6)
                        DESC NULLS LAST,
                      cc.cid) AS rn
             FROM embeddings e CROSS JOIN c2 cc WHERE e.vec_id < 50) t
           WHERE rn = 1)
         SELECT left_id, right_id, cosine FROM (
           SELECT nf.qid AS left_id, n.vec_id AS right_id,
                  round((${dotSql("n.embedding", "nf.qe")}) /
                        (sqrt(${dotSql("n.embedding", "n.embedding")}) *
                         sqrt(${dotSql("nf.qe", "nf.qe")})), 6) AS cosine
           FROM nf JOIN sf n ON nf.qcell = n.cell) t
         WHERE cosine >= 0.8 ORDER BY left_id, right_id"""),

    // filtered search: the label predicate applies to the candidate set
    // BEFORE ranking (WHERE precedes the window), replaying the
    // postings-scan filter
    "q_ann_ivf_filtered" ->
      (KmeansCtes + s"""
         SELECT query_id, neighbor_id, cosine, rank FROM (
           SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                  round((${dotSql("q.embedding", "n.embedding")}) /
                        (sqrt(${dotSql("n.embedding", "n.embedding")}) *
                         sqrt(${dotSql("q.embedding", "q.embedding")})), 6) AS cosine,
                  row_number() OVER (PARTITION BY q.vec_id ORDER BY
                    round((${dotSql("q.embedding", "n.embedding")}) /
                          (sqrt(${dotSql("n.embedding", "n.embedding")}) *
                           sqrt(${dotSql("q.embedding", "q.embedding")})), 6) DESC,
                    n.vec_id) AS rank
           FROM sf q JOIN sf n ON q.cell = n.cell AND n.vec_id <> q.vec_id
                     JOIN embeddings e ON e.vec_id = n.vec_id
           WHERE q.vec_id < 3 AND e.label < 5) t
         WHERE rank <= 5 ORDER BY query_id, rank"""),

    "q_ann_ivf_probe" ->
      (KmeansCtes + s""",
         qc AS (
           SELECT q.vec_id AS query_id, q.embedding AS qe, cc.cid AS cell,
                  row_number() OVER (PARTITION BY q.vec_id ORDER BY
                    round((${dotSql("q.embedding", "cc.cv")}) /
                          (sqrt(${dotSql("q.embedding", "q.embedding")}) *
                           sqrt(${dotSql("cc.cv", "cc.cv")})), 6) DESC,
                    cc.cid) AS crk
           FROM embeddings q CROSS JOIN c2 cc WHERE q.vec_id < 3)
         SELECT query_id, neighbor_id, cosine, rank FROM (
           SELECT qc.query_id, n.vec_id AS neighbor_id,
                  round((${dotSql("qc.qe", "n.embedding")}) /
                        (sqrt(${dotSql("n.embedding", "n.embedding")}) *
                         sqrt(${dotSql("qc.qe", "qc.qe")})), 6) AS cosine,
                  row_number() OVER (PARTITION BY qc.query_id ORDER BY
                    round((${dotSql("qc.qe", "n.embedding")}) /
                          (sqrt(${dotSql("n.embedding", "n.embedding")}) *
                           sqrt(${dotSql("qc.qe", "qc.qe")})), 6) DESC,
                    n.vec_id) AS rank
           FROM qc JOIN sf n ON n.cell = qc.cell AND n.vec_id <> qc.query_id
           WHERE qc.crk <= 2) t
         WHERE rank <= 5 ORDER BY query_id, rank"""),

    // kNN label propagation: the q_ann_ivf_probe top-k replay (nprobe=2,
    // k=5, posting-norm-first denominator) joined to the corpus labels,
    // then the majority vote with the (votes desc, label) tie-break
    "q_knn_label" ->
      (KmeansCtes + s""",
         qc AS (
           SELECT q.vec_id AS query_id, q.embedding AS qe, cc.cid AS cell,
                  row_number() OVER (PARTITION BY q.vec_id ORDER BY
                    round((${dotSql("q.embedding", "cc.cv")}) /
                          (sqrt(${dotSql("q.embedding", "q.embedding")}) *
                           sqrt(${dotSql("cc.cv", "cc.cv")})), 6) DESC,
                    cc.cid) AS crk
           FROM embeddings q CROSS JOIN c2 cc WHERE q.vec_id < 20),
         topk AS (
           SELECT query_id, neighbor_id, label FROM (
             SELECT qc.query_id, n.vec_id AS neighbor_id, e.label,
                    row_number() OVER (PARTITION BY qc.query_id ORDER BY
                      round((${dotSql("qc.qe", "n.embedding")}) /
                            (sqrt(${dotSql("n.embedding", "n.embedding")}) *
                             sqrt(${dotSql("qc.qe", "qc.qe")})), 6) DESC,
                      n.vec_id) AS rank
             FROM qc JOIN sf n ON n.cell = qc.cell AND n.vec_id <> qc.query_id
                  JOIN embeddings e ON e.vec_id = n.vec_id
             WHERE qc.crk <= 2) t
           WHERE rank <= 5)
         SELECT query_id, label, votes FROM (
           SELECT query_id, label, count(*) AS votes,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY count(*) DESC, label) AS vr
           FROM topk GROUP BY query_id, label) t
         WHERE vr = 1 ORDER BY query_id"""),

    // kNN score regression: the label-propagation top-5 replay carrying
    // the cosine, then the weighted mean as exact decimal sums of
    // 6-dp-rounded terms (order-independent) with the zero-denominator
    // guard mirrored
    "q_knn_score" ->
      (KmeansCtes + s""",
         qc AS (
           SELECT q.vec_id AS query_id, q.embedding AS qe, cc.cid AS cell,
                  row_number() OVER (PARTITION BY q.vec_id ORDER BY
                    round((${dotSql("q.embedding", "cc.cv")}) /
                          (sqrt(${dotSql("q.embedding", "q.embedding")}) *
                           sqrt(${dotSql("cc.cv", "cc.cv")})), 6) DESC,
                    cc.cid) AS crk
           FROM embeddings q CROSS JOIN c2 cc WHERE q.vec_id < 20),
         ktop AS (
           SELECT query_id, label, cosine FROM (
             SELECT qc.query_id, e.label,
                    round((${dotSql("qc.qe", "n.embedding")}) /
                          (sqrt(${dotSql("n.embedding", "n.embedding")}) *
                           sqrt(${dotSql("qc.qe", "qc.qe")})), 6) AS cosine,
                    row_number() OVER (PARTITION BY qc.query_id ORDER BY
                      round((${dotSql("qc.qe", "n.embedding")}) /
                            (sqrt(${dotSql("n.embedding", "n.embedding")}) *
                             sqrt(${dotSql("qc.qe", "qc.qe")})), 6) DESC,
                      n.vec_id) AS rank
             FROM qc JOIN sf n ON n.cell = qc.cell AND n.vec_id <> qc.query_id
                  JOIN embeddings e ON e.vec_id = n.vec_id
             WHERE qc.crk <= 2) t
           WHERE rank <= 5)
         SELECT query_id,
                CASE WHEN CAST(sum(CAST(cosine AS DECIMAL(27,8))) AS DOUBLE) = 0
                     THEN NULL
                     ELSE round(
                       CAST(sum(CAST(round(cosine * CAST(label AS DOUBLE), 6)
                           AS DECIMAL(27,8))) AS DOUBLE) /
                       CAST(sum(CAST(cosine AS DECIMAL(27,8))) AS DOUBLE), 6)
                END AS pred,
                count(*) AS k_used
         FROM ktop GROUP BY query_id ORDER BY query_id"""),

    // streaming kNN labels: assign the re-submitted slice to its frozen
    // cell (the q_ann_ivf_admit replay), top-5 within the cell (the
    // window formulation the topk_by aggregate is value-pinned to),
    // majority vote with the (votes desc, label) tie-break
    "q_stream_knn_label" ->
      (KmeansCtes + s""",
         nf AS (
           SELECT vec_id + 10000 AS qid, embedding AS qe, cid AS qcell
           FROM (
             SELECT e.vec_id, e.embedding, cc.cid,
                    row_number() OVER (PARTITION BY e.vec_id ORDER BY
                      round((${dotSql("e.embedding", "cc.cv")}) /
                            (sqrt(${dotSql("e.embedding", "e.embedding")}) *
                             sqrt(${dotSql("cc.cv", "cc.cv")})), 6)
                        DESC NULLS LAST,
                      cc.cid) AS rn
             FROM embeddings e CROSS JOIN c2 cc WHERE e.vec_id < 20) t
           WHERE rn = 1),
         stopk AS (
           SELECT qid, neighbor_id, label FROM (
             SELECT nf.qid, n.vec_id AS neighbor_id, e.label,
                    row_number() OVER (PARTITION BY nf.qid ORDER BY
                      round((${dotSql("nf.qe", "n.embedding")}) /
                            (sqrt(${dotSql("n.embedding", "n.embedding")}) *
                             sqrt(${dotSql("nf.qe", "nf.qe")})), 6) DESC,
                      n.vec_id) AS rank
             FROM nf JOIN sf n ON n.cell = nf.qcell AND n.vec_id <> nf.qid
                  JOIN embeddings e ON e.vec_id = n.vec_id) t
           WHERE rank <= 5)
         SELECT vec_id, label, votes FROM (
           SELECT qid AS vec_id, label, count(*) AS votes,
                  row_number() OVER (PARTITION BY qid
                                     ORDER BY count(*) DESC, label) AS vr
           FROM stopk GROUP BY qid, label) t
         WHERE vr = 1 ORDER BY vec_id"""),

    "q_ann_lsh" ->
      (s"""WITH bkt AS (
           SELECT vec_id, embedding, $BktSql AS bkt FROM embeddings
         ), scored AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  round(${cosSql("q.embedding", "c.embedding")}, 6) AS cosine
           FROM bkt q JOIN bkt c ON q.bkt = c.bkt AND c.vec_id <> q.vec_id
           WHERE q.vec_id < 5
         ), ranked AS (
           SELECT query_id, neighbor_id, cosine,
                  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
           FROM scored
         )
         SELECT query_id, neighbor_id, cosine, rank FROM ranked
         WHERE rank <= 3 ORDER BY query_id, rank"""),

    // Hard-negative mining: the LSH bucket join with the hard-band
    // filter applied BEFORE ranking (floor drops easy negatives,
    // ceiling drops near-positives), then per-anchor row_number
    "q_hard_negatives" ->
      (s"""WITH bkt AS (
           SELECT vec_id, embedding, $BktSql AS bkt FROM embeddings
         ), scored AS (
           SELECT q.vec_id AS anchor_id, c.vec_id AS negative_id,
                  round(${cosSql("q.embedding", "c.embedding")}, 6) AS cosine
           FROM bkt q JOIN bkt c ON q.bkt = c.bkt AND c.vec_id <> q.vec_id
           WHERE q.vec_id < 5
         ), banded AS (
           SELECT * FROM scored WHERE cosine >= 0.05 AND cosine < 0.25
         ), ranked AS (
           SELECT anchor_id, negative_id, cosine,
                  CAST(row_number() OVER (PARTITION BY anchor_id ORDER BY cosine DESC, negative_id) AS INT) AS rank
           FROM banded
         )
         SELECT anchor_id, negative_id, cosine, rank FROM ranked
         WHERE rank <= 3 ORDER BY anchor_id, rank"""),

    // Auto-bits hard negatives: the same banded plan with the bucket
    // width from the corpus count via the integer log2 rule
    "q_hard_negatives_auto" ->
      (s"""WITH ${nbCte(50, 4, 24)},
         bkt AS (
           SELECT vec_id, embedding, $BktAutoSql AS bkt FROM embeddings, nb
         ), scored AS (
           SELECT q.vec_id AS anchor_id, c.vec_id AS negative_id,
                  round(${cosSql("q.embedding", "c.embedding")}, 6) AS cosine
           FROM bkt q JOIN bkt c ON q.bkt = c.bkt AND c.vec_id <> q.vec_id
           WHERE q.vec_id < 5
         ), banded AS (
           SELECT * FROM scored WHERE cosine >= 0.05 AND cosine < 0.25
         ), ranked AS (
           SELECT anchor_id, negative_id, cosine,
                  CAST(row_number() OVER (PARTITION BY anchor_id ORDER BY cosine DESC, negative_id) AS INT) AS rank
           FROM banded
         )
         SELECT anchor_id, negative_id, cosine, rank FROM ranked
         WHERE rank <= 3 ORDER BY anchor_id, rank"""),

    // Auto-bits LSH: same plan with the bucket width computed by the
    // integer ceil-div + bit-length rule over count(*) (target 50).
    "q_ann_lsh_auto" ->
      (s"""WITH ${nbCte(50, 4, 24)},
         bkt AS (
           SELECT vec_id, embedding, $BktAutoSql AS bkt FROM embeddings, nb
         ), scored AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  round(${cosSql("q.embedding", "c.embedding")}, 6) AS cosine
           FROM bkt q JOIN bkt c ON q.bkt = c.bkt AND c.vec_id <> q.vec_id
           WHERE q.vec_id < 5
         ), ranked AS (
           SELECT query_id, neighbor_id, cosine,
                  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
           FROM scored
         )
         SELECT query_id, neighbor_id, cosine, rank FROM ranked
         WHERE rank <= 3 ORDER BY query_id, rank"""),

    "q_ann_ivf" ->
      (s"""WITH cent AS (
           SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8
         ), sim AS (
           SELECT e.vec_id, e.embedding, c.cid,
                  round(${cosSql("e.embedding", "c.cv")}, 6) AS csim
           FROM embeddings e, cent c
         ), assigned AS (
           SELECT vec_id, embedding, cid AS cell FROM (
             SELECT vec_id, embedding, cid,
                    row_number() OVER (PARTITION BY vec_id
                      ORDER BY csim DESC NULLS LAST, cid) AS rk
             FROM sim) t WHERE rk = 1
         ), scored AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  round(${cosSql("q.embedding", "c.embedding")}, 6) AS cosine
           FROM assigned q JOIN assigned c ON q.cell = c.cell AND c.vec_id <> q.vec_id
           WHERE q.vec_id BETWEEN 10 AND 14
         ), ranked AS (
           SELECT query_id, neighbor_id, cosine,
                  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
           FROM scored
         )
         SELECT query_id, neighbor_id, cosine, rank FROM ranked
         WHERE rank <= 3 ORDER BY query_id, rank"""),

    "q_pipeline_clean" ->
      (s"""WITH toks AS (
           SELECT doc_id, source, text, regexp_split_to_array(trim(text), '\\s+') AS w
           FROM documents
         ), scored AS (
           SELECT doc_id, source, text, w,
             round(least(1.0, CAST(len(w) AS DOUBLE) / 64.0) * 0.4
                 + (CAST(len(list_distinct(w)) AS DOUBLE) / len(w)) * 0.4
                 + least(1.0, (CAST(${stopCountSql("en")} AS DOUBLE) / len(w)) * 5.0) * 0.2, 6) AS q,
             $LangPredictSql AS predicted
           FROM toks
         ), gated AS (
           SELECT doc_id, source, len(w) AS n_toks,
                  md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS h
           FROM scored WHERE q >= 0.55 AND predicted = 'en'
         ), deduped AS (
           SELECT source, n_toks FROM (
             SELECT source, n_toks,
                    row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rk
             FROM gated) t WHERE rk = 1
         )
         SELECT source, count(*) AS n_clean, sum(n_toks)::BIGINT AS n_tokens
         FROM deduped GROUP BY 1 ORDER BY 1"""),

    "q_text_stats" ->
      """WITH toks AS (
           SELECT source, regexp_split_to_array(trim(text), '\s+') AS w,
                  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_re
           FROM documents
         )
         SELECT source, count(*) AS n_docs,
                sum(len(w))::BIGINT AS n_tokens,
                sum(n_re)::BIGINT AS n_re_tokens,
                round(CAST(sum(len(w)) AS DOUBLE) / count(*), 6) AS avg_tokens
         FROM toks GROUP BY 1 ORDER BY 1""",

    "q_text_langid" ->
      (s"""WITH toks AS (
           SELECT lang, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
         )
         SELECT lang, $LangPredictSql AS predicted, count(*) AS n
         FROM toks GROUP BY 1, 2 ORDER BY 1, 2"""),

    "q_text_quality" ->
      (s"""WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
           WHERE doc_id < 100
         )
         SELECT doc_id,
           len(w)::BIGINT AS n_tokens,
           round(CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6) AS ttr,
           round(CAST(list_reduce(list_transform(w, t -> length(t)), (x, y) -> x + y) AS DOUBLE) / len(w), 6) AS mean_len,
           round(least(1.0, CAST(len(w) AS DOUBLE) / 64.0) * 0.4
               + (CAST(len(list_distinct(w)) AS DOUBLE) / len(w)) * 0.4
               + least(1.0, (CAST(${stopCountSql("en")} AS DOUBLE) / len(w)) * 5.0) * 0.2, 6) AS quality
         FROM toks ORDER BY doc_id"""),

    // Replays the margin (top-2 gap of the per-language stopword scores,
    // descending list sort) and the per-lang confidence rollup.
    "q_langid_margin" ->
      (s"""WITH toks AS (
           SELECT lang, regexp_split_to_array(trim(text), '\\s+') AS w
           FROM documents),
         m AS (
           SELECT lang,
                  list_sort([${graft.llm.TextOps.LangProfiles
                    .map(p => stopCountSql(p._1)).mkString(", ")}],
                    'DESC')[1]
                  - list_sort([${graft.llm.TextOps.LangProfiles
                    .map(p => stopCountSql(p._1)).mkString(", ")}],
                    'DESC')[2] AS mg
           FROM toks)
         SELECT lang, count(*) AS n_docs,
                CAST(sum(CASE WHEN mg >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_confident,
                CAST(sum(CASE WHEN mg = 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_abstain
         FROM m GROUP BY lang ORDER BY lang"""),

    // Replays positional 8-gram hashing (the q_substr_spans gram SQL),
    // corpus-wide counts, and the novel = count-1 fraction per doc.
    "q_ngram_novelty" ->
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
           FROM documents),
         pos AS (
           SELECT doc_id, md5(array_to_string(w[i:i+7], ' ')) AS gh
           FROM (SELECT doc_id, w, unnest(range(1, len(w) - 6)) AS i
                 FROM toks WHERE len(w) >= 8)),
         gc AS (SELECT gh, count(*) AS c FROM pos GROUP BY gh),
         pd AS (
           SELECT p.doc_id,
                  CAST(count(*) AS BIGINT) AS n_grams,
                  CAST(sum(CASE WHEN g.c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_novel
           FROM pos p JOIN gc g USING (gh) GROUP BY p.doc_id)
         SELECT t.doc_id,
                coalesce(n_grams, 0) AS n_grams,
                coalesce(n_novel, 0) AS n_novel,
                coalesce(round(CAST(n_novel AS DOUBLE) / n_grams, 6), 0.0)
                  AS novelty_frac
         FROM toks t LEFT JOIN pd ON t.doc_id = pd.doc_id
         ORDER BY t.doc_id""",

    // Replays the canonical cut: quality per doc, then per-hash
    // row_number ordered (quality DESC, doc_id).
    "q_dedup_canonical" ->
      (s"""WITH q AS (
           SELECT doc_id,
             round(least(1.0, CAST(len(w) AS DOUBLE) / 64.0) * 0.4
               + (CAST(len(list_distinct(w)) AS DOUBLE) / len(w)) * 0.4
               + least(1.0, (CAST(${stopCountSql("en")} AS DOUBLE) / len(w)) * 5.0) * 0.2,
               6) AS quality,
             md5(lower(regexp_replace(trim(array_to_string(w[1:5], ' ')),
               '\\s+', ' ', 'g'))) AS h
           FROM (SELECT doc_id, text,
                   regexp_split_to_array(trim(text), '\\s+') AS w
                 FROM documents)),
         r AS (
           SELECT doc_id, quality, h,
                  row_number() OVER (PARTITION BY h
                    ORDER BY quality DESC, doc_id) AS rn,
                  count(*) OVER (PARTITION BY h) AS n_copies
           FROM q)
         SELECT doc_id, quality, CAST(n_copies AS BIGINT) AS n_copies
         FROM r WHERE rn = 1 ORDER BY doc_id"""),

    // Replays the smoothed KL with the identical expression association:
    // p = (na+0.5)/(ta+0.5v) over the union vocabulary, per-term
    // round(p·(ln p − ln q)·1e9) summed as BIGINT, final 6dp division.
    "q_corpus_drift" ->
      """WITH wa AS (
           SELECT w, CAST(count(*) AS BIGINT) AS na FROM (
             SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
             FROM documents WHERE lang = 'en') t
           WHERE len(w) >= 1 GROUP BY w),
         wb AS (
           SELECT w, CAST(count(*) AS BIGINT) AS nb FROM (
             SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
             FROM documents WHERE lang = 'de') t
           WHERE len(w) >= 1 GROUP BY w),
         j AS (
           SELECT coalesce(wa.na, 0) AS na, coalesce(wb.nb, 0) AS nb
           FROM wa FULL OUTER JOIN wb USING (w)),
         t AS (
           SELECT na, nb,
                  sum(na) OVER () AS ta, sum(nb) OVER () AS tb,
                  count(*) OVER () AS v
           FROM j),
         k AS (
           SELECT CAST(round(
                    (CAST(na AS DOUBLE) + 0.5) / (CAST(ta AS DOUBLE) + 0.5 * v)
                    * (ln((CAST(na AS DOUBLE) + 0.5) / (CAST(ta AS DOUBLE) + 0.5 * v))
                       - ln((CAST(nb AS DOUBLE) + 0.5) / (CAST(tb AS DOUBLE) + 0.5 * v)))
                    * 1e9) AS BIGINT) AS tn,
                  ta, tb, v
           FROM t)
         SELECT round(CAST(sum(tn) AS DOUBLE) / 1e9, 6) AS kl_nats,
                CAST(max(v) AS BIGINT) AS n_vocab,
                CAST(max(ta) AS BIGINT) AS n_tokens_a,
                CAST(max(tb) AS BIGINT) AS n_tokens_b
         FROM k""",

    // Same per-word terms, cut to the 15 largest |contribution|s.
    "q_drift_terms" ->
      """WITH wa AS (
           SELECT w, CAST(count(*) AS BIGINT) AS na FROM (
             SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
             FROM documents WHERE lang = 'en') t
           WHERE len(w) >= 1 GROUP BY w),
         wb AS (
           SELECT w, CAST(count(*) AS BIGINT) AS nb FROM (
             SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
             FROM documents WHERE lang = 'de') t
           WHERE len(w) >= 1 GROUP BY w),
         j AS (
           SELECT w, coalesce(wa.na, 0) AS na, coalesce(wb.nb, 0) AS nb
           FROM wa FULL OUTER JOIN wb USING (w)),
         t AS (
           SELECT w, na, nb,
                  sum(na) OVER () AS ta, sum(nb) OVER () AS tb,
                  count(*) OVER () AS v
           FROM j),
         k AS (
           SELECT w AS word, na, nb,
                  CAST(round(
                    (CAST(na AS DOUBLE) + 0.5) / (CAST(ta AS DOUBLE) + 0.5 * v)
                    * (ln((CAST(na AS DOUBLE) + 0.5) / (CAST(ta AS DOUBLE) + 0.5 * v))
                       - ln((CAST(nb AS DOUBLE) + 0.5) / (CAST(tb AS DOUBLE) + 0.5 * v)))
                    * 1e9) AS BIGINT) AS term_nanonats
           FROM t)
         SELECT word, na, nb, term_nanonats FROM (
           SELECT word, na, nb, term_nanonats FROM k
           ORDER BY abs(term_nanonats) DESC, word LIMIT 15)
         ORDER BY word""",

    // Same eval suite read back from the table; cosines via the shared
    // double-precision left-fold, rounded 6dp before the per-row max.
    "q_semantic_decontam" ->
      (s"""WITH ev AS (
           SELECT embedding AS e FROM embeddings WHERE vec_id < 8),
         tr AS (
           SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 8),
         c AS (
           SELECT t.vec_id,
                  max(round(${cosSql("t.embedding", "v.e")}, 6)) AS max_eval_cos
           FROM tr t, ev v GROUP BY t.vec_id)
         SELECT vec_id, max_eval_cos, max_eval_cos >= 0.35 AS contaminated
         FROM c ORDER BY vec_id"""),

    // Builds the same synthesized markdown (chr(10) newlines) and replays
    // the strip chain: fences wholesale, images before links (alt/anchor
    // text kept via \1), inline code unwrapped, line-start markers via
    // inline (?m), '*' emphasis dropped, whitespace collapsed.
    "q_markdown_strip" ->
      """WITH u AS (
           SELECT doc_id,
             '# ' || substr(text, 1, 20) || chr(10) ||
             '**' || substr(text, 21, 15) || '** and [' ||
             substr(text, 40, 10) || '](http://ex.com/' ||
             CAST(doc_id AS VARCHAR) || ')' || chr(10) ||
             '```' || chr(10) || substr(text, 5, 12) || chr(10) ||
             '```' || chr(10) ||
             '> ' || substr(text, 60, 20) || ' `' || substr(text, 30, 6) || '`'
               AS md
           FROM documents),
         c AS (
           SELECT doc_id, md,
             trim(regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(
                           regexp_replace(
                             regexp_replace(md, '(?s)```.*?```', ' ', 'g'),
                             '!\[([^\]]*)\]\(([^)]*)\)', '\1', 'g'),
                           '\[([^\]]*)\]\(([^)]*)\)', '\1', 'g'),
                         '`([^`]*)`', '\1', 'g'),
                       '(?m)^#{1,6}[ \t]+', '', 'g'),
                     '(?m)^>[ \t]?', '', 'g'),
                   '(?m)^(-{3,}|\*{3,})$', ' ', 'g'),
                 '\*{1,3}', '', 'g'),
               '\s+', ' ', 'g')) AS clean
           FROM u)
         SELECT doc_id, CAST(len(md) AS INT) AS n_in,
                CAST(len(clean) AS INT) AS n_out, md5(clean) AS clean_md5
         FROM c ORDER BY doc_id""",

    // One-scan dataset-card rollup: quality replayed per doc, means as
    // exact decimal sums of the 6dp values (the kmeans discipline).
    "q_corpus_profile" ->
      (s"""WITH t AS (
           SELECT source, lang,
                  regexp_split_to_array(trim(text), '\\s+') AS w
           FROM documents),
         g AS (
           SELECT source, lang, len(w)::BIGINT AS ntok,
             round(least(1.0, CAST(len(w) AS DOUBLE) / 64.0) * 0.4
               + (CAST(len(list_distinct(w)) AS DOUBLE) / len(w)) * 0.4
               + least(1.0, (CAST(${stopCountSql("en")} AS DOUBLE) / len(w)) * 5.0) * 0.2,
               6) AS q,
             (len(w) BETWEEN 50 AND 100000)
               AND ((CAST(list_reduce(list_transform(w, t -> len(t)),
                      (a, b) -> a + b) AS DOUBLE) / len(w)) BETWEEN 3.0 AND 10.0)
               AND (CAST(len(list_filter(w, t -> contains(t, '#')
                      OR contains(t, '...'))) AS DOUBLE) / len(w) <= 0.1)
               AND (CAST(len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]')))
                      AS DOUBLE) / len(w) >= 0.8)
               AND (len(list_filter(['the','be','to','of','and','that','have','with'],
                      s -> list_contains(w, s))) >= 2) AS p
           FROM t)
         SELECT source,
           count(*) AS n_docs,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(sum(ntok) AS BIGINT) AS total_tokens,
           round(CAST(sum(CAST(q AS DECIMAL(27,8))) AS DOUBLE) / count(*), 6)
             AS mean_quality,
           round(CAST(sum(CASE WHEN p THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
             AS gopher_pass_rate
         FROM g GROUP BY source ORDER BY source"""),

    // Replays qualityScore then the exact Mann–Whitney AUC over the
    // distinct-score frame: cum_neg = negatives strictly below each
    // score; numerator = 2·Σ p·cum_neg + Σ p·n (ties count half).
    "q_classifier_auc" ->
      (s"""WITH toks AS (
           SELECT regexp_split_to_array(trim(text), '\\s+') AS w FROM documents),
         sc AS (
           SELECT round(least(1.0, CAST(len(w) AS DOUBLE) / 64.0) * 0.4
                + (CAST(len(list_distinct(w)) AS DOUBLE) / len(w)) * 0.4
                + least(1.0, (CAST(${stopCountSql("en")} AS DOUBLE) / len(w)) * 5.0) * 0.2,
                6) AS s,
                list_contains(w, 'spark') AS y
           FROM toks),
         g AS (
           SELECT s,
                  CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p,
                  CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS n
           FROM sc GROUP BY s),
         c AS (
           SELECT p, n,
                  coalesce(sum(n) OVER (ORDER BY s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS cumneg
           FROM g)
         SELECT CASE WHEN sum(p) = 0 OR sum(n) = 0 THEN NULL
                     ELSE round(CAST(sum(p * cumneg * 2 + p * n) AS DOUBLE)
                          / CAST(sum(p) * sum(n) * 2 AS DOUBLE), 6) END AS auc,
                CAST(sum(p) AS BIGINT) AS n_pos,
                CAST(sum(n) AS BIGINT) AS n_neg
         FROM c"""),

    "q_text_fingerprint" ->
      """SELECT doc_id,
           CASE WHEN length(text) >= 8
                THEN list_min(list_transform(range(1, length(text) - 6), i -> md5(substr(text, i, 8))))
                ELSE md5(text) END AS fp
         FROM documents WHERE doc_id < 50 ORDER BY doc_id""",

    "q_multimodal_meta" ->
      """SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
           CAST(200 + doc_id * 3 AS INT) AS width,
           CAST(150 + doc_id * 5 AS INT) AS height,
           CASE WHEN doc_id % 2 = 0 THEN 29 ELSE 39 END
             + octet_length(CAST(text AS BLOB)) AS byte_len,
           sha256(text) AS text_sha
         FROM documents WHERE lang = 'en' AND doc_id < 100 ORDER BY doc_id""",

    "q_multimodal_audio" ->
      """SELECT doc_id, 'wav' AS format,
           CAST(8000 + (doc_id % 5) * 2000 AS INT) AS sample_rate,
           CAST(1 + (doc_id % 2) AS INT) AS n_channels,
           CAST((octet_length(CAST(text AS BLOB)) * 1000)
                // (CAST(8000 + (doc_id % 5) * 2000 AS BIGINT)
                   * (1 + (doc_id % 2)) * 2) AS BIGINT) AS duration_ms,
           44 + octet_length(CAST(text AS BLOB)) AS byte_len
         FROM documents WHERE lang = 'de' AND doc_id < 200 ORDER BY doc_id""",

    // Replays wavFixture's closed form s(i) = ((7·id + 13·i) mod 2048) −
    // 1024 over 64-sample frames: exact integer energy, strict
    // sign-product zero crossings (frame-local lag), peak amplitude.
    "q_multimodal_audio_frames" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 16),
         s AS (
           SELECT d.doc_id, i.i,
                  ((7 * d.doc_id + 13 * i.i) % 2048) - 1024 AS v,
                  CAST(i.i // 64 AS INT) AS frame_ix
           FROM d CROSS JOIN range(0, 480) i(i)
           WHERE i.i < 240 + (d.doc_id % 7) * 40),
         fr AS (
           SELECT doc_id, frame_ix, i, v,
                  lag(v) OVER (PARTITION BY doc_id, frame_ix ORDER BY i) AS pv
           FROM s)
         SELECT doc_id, frame_ix,
                CAST(count(*) AS INT) AS n_samples,
                CAST(sum(v * v) AS BIGINT) AS sum_sq,
                CAST(count(*) FILTER (WHERE pv IS NOT NULL AND pv * v < 0)
                     AS INT) AS zero_cross,
                CAST(max(abs(v)) AS INT) AS max_abs
         FROM fr GROUP BY 1, 2 ORDER BY 1, 2""",

    // Replays pngFixture's closed form (w = 8+id%5, h = 6+id%7,
    // v = (7x+13y+31c+3·id) mod 256) over a range cross-join; the Spark
    // side recovers the same values only via a byte-exact PNG pixel
    // decode of real deflate-compressed, filter-encoded scanlines.
    "q_multimodal_pixels" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 12),
         px AS (
           SELECT d.doc_id, c.c,
                  (7 * x.x + 13 * y.y + 31 * c.c + 3 * d.doc_id) % 256 AS v
           FROM d
           CROSS JOIN range(0, 12) x(x)
           CROSS JOIN range(0, 12) y(y)
           CROSS JOIN range(0, 3) c(c)
           WHERE x.x < 8 + d.doc_id % 5 AND y.y < 6 + d.doc_id % 7)
         SELECT doc_id, CAST(c AS INT) AS channel,
                CAST(count(*) AS BIGINT) AS n_px,
                CAST(sum(v) AS BIGINT) AS sum_v,
                CAST(min(v) AS BIGINT) AS min_v,
                CAST(max(v) AS BIGINT) AS max_v
         FROM px GROUP BY 1, 2 ORDER BY 1, 2""",

    // Replays pngFixture's closed form over each FULL 4×4 tile: mean =
    // sum of (7x+13y+31c+3·id) mod 256 over the tile, / 16 (exact in
    // double), 6-dp round as a formatting no-op.
    "q_multimodal_patches" ->
      """WITH d AS (SELECT doc_id,
                  8 + doc_id % 5 AS w, 6 + doc_id % 7 AS h
           FROM documents WHERE doc_id < 12),
         t AS (
           SELECT d.doc_id, py.py, px.px, c.c,
                  (7 * (px.px * 4 + dx.dx) + 13 * (py.py * 4 + dy.dy)
                   + 31 * c.c + 3 * d.doc_id) % 256 AS v
           FROM d
           CROSS JOIN range(0, 3) py(py)
           CROSS JOIN range(0, 3) px(px)
           CROSS JOIN range(0, 3) c(c)
           CROSS JOIN range(0, 4) dy(dy)
           CROSS JOIN range(0, 4) dx(dx)
           WHERE px.px < w // 4 AND py.py < h // 4)
         SELECT doc_id, py, px, c AS channel,
                round(CAST(sum(v) AS DOUBLE) / 16, 6) AS mean_v
         FROM t GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""",

    // Replays gifFixture's closed form: pixel index (11x+17y+3·id) mod 256
    // through the fixed palette ramp — channel c's value is
    // (idx·(c+1)) mod 256. Matching requires a byte-exact LZW decode.
    "q_multimodal_gif" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 12),
         px AS (
           SELECT d.doc_id, c.c,
                  (((11 * x.x + 17 * y.y + 3 * d.doc_id) % 256) * (c.c + 1)) % 256 AS v
           FROM d
           CROSS JOIN range(0, 12) x(x)
           CROSS JOIN range(0, 12) y(y)
           CROSS JOIN range(0, 3) c(c)
           WHERE x.x < 8 + d.doc_id % 5 AND y.y < 6 + d.doc_id % 7)
         SELECT doc_id, CAST(c AS INT) AS channel,
                CAST(count(*) AS BIGINT) AS n_px,
                CAST(sum(v) AS BIGINT) AS sum_v,
                CAST(min(v) AS BIGINT) AS min_v,
                CAST(max(v) AS BIGINT) AS max_v
         FROM px GROUP BY 1, 2 ORDER BY 1, 2""",

    // Replays gifAnimFixture's closed form over the SAMPLED (even) frame
    // indices: pixel index (11x+17y+23f+3·id) mod 256 through the palette
    // ramp; matching requires the frame walk to locate and LZW-decode
    // exactly frames 0, 2, 4 of each animation.
    "q_multimodal_frames" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 12),
         px AS (
           SELECT d.doc_id, f.f, c.c,
                  (((11 * x.x + 17 * y.y + 23 * f.f + 3 * d.doc_id) % 256)
                   * (c.c + 1)) % 256 AS v
           FROM d
           CROSS JOIN range(0, 6) f(f)
           CROSS JOIN range(0, 12) x(x)
           CROSS JOIN range(0, 12) y(y)
           CROSS JOIN range(0, 3) c(c)
           WHERE x.x < 8 + d.doc_id % 5 AND y.y < 6 + d.doc_id % 7
             AND f.f < 3 + d.doc_id % 4 AND f.f % 2 = 0)
         SELECT doc_id, CAST(f AS INT) AS frame_ix, CAST(c AS INT) AS channel,
                CAST(count(*) AS BIGINT) AS n_px,
                CAST(sum(v) AS BIGINT) AS sum_v,
                CAST(min(v) AS BIGINT) AS min_v,
                CAST(max(v) AS BIGINT) AS max_v
         FROM px GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",

    // Replays the 2× box downscale of pngFixture's closed form: output
    // pixel = (sum of the 2×2 source tile) // 4; stats over the halved
    // grid — matching requires resize arithmetic AND the PNG
    // re-encode/decode round-trip to be byte-exact.
    "q_multimodal_resize" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 12),
         px AS (
           SELECT d.doc_id, c.c, ox.ox, oy.oy,
                  CAST(sum((7 * (2 * ox.ox + dx.dx) + 13 * (2 * oy.oy + dy.dy)
                            + 31 * c.c + 3 * d.doc_id) % 256) // 4 AS BIGINT) AS v
           FROM d
           CROSS JOIN range(0, 6) ox(ox)
           CROSS JOIN range(0, 6) oy(oy)
           CROSS JOIN range(0, 2) dx(dx)
           CROSS JOIN range(0, 2) dy(dy)
           CROSS JOIN range(0, 3) c(c)
           WHERE ox.ox < (8 + d.doc_id % 5) // 2
             AND oy.oy < (6 + d.doc_id % 7) // 2
           GROUP BY 1, 2, 3, 4)
         SELECT doc_id, CAST(c AS INT) AS channel,
                CAST(count(*) AS BIGINT) AS n_px,
                CAST(sum(v) AS BIGINT) AS sum_v,
                CAST(min(v) AS BIGINT) AS min_v,
                CAST(max(v) AS BIGINT) AS max_v
         FROM px GROUP BY 1, 2 ORDER BY 1, 2""",

    // Replays wavFixture decimated by 2: s'(i) = ((7·id + 26·i) mod 2048)
    // − 1024 over half the samples, framed at 32.
    "q_multimodal_resample" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 14),
         s AS (
           SELECT d.doc_id, i.i,
                  ((7 * d.doc_id + 26 * i.i) % 2048) - 1024 AS v,
                  CAST(i.i // 32 AS INT) AS frame_ix
           FROM d CROSS JOIN range(0, 240) i(i)
           WHERE i.i < 120 + (d.doc_id % 7) * 20),
         fr AS (
           SELECT doc_id, frame_ix, i, v,
                  lag(v) OVER (PARTITION BY doc_id, frame_ix ORDER BY i) AS pv
           FROM s)
         SELECT doc_id, frame_ix,
                CAST(count(*) AS INT) AS n_samples,
                CAST(sum(v * v) AS BIGINT) AS sum_sq,
                CAST(count(*) FILTER (WHERE pv IS NOT NULL AND pv * v < 0)
                     AS INT) AS zero_cross,
                CAST(max(abs(v)) AS INT) AS max_abs
         FROM fr GROUP BY 1, 2 ORDER BY 1, 2""",

    // Replays gifSceneFixture's closed form on BOTH sides of every
    // adjacent frame pair: index (11x+17y+3·id+5f+97·[f≥cut]) mod 256
    // through the palette ramp, summed |Δ| over pixels and channels —
    // matching requires two byte-exact LZW rasters per pair.
    "q_multimodal_scenecut" ->
      """WITH d AS (SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 7 AS h,
                  5 + doc_id % 3 AS nf, 2 + doc_id % 3 AS cut
           FROM documents WHERE doc_id < 12),
         px AS (
           SELECT d.doc_id, f.f, d.w, d.h,
                  abs(((((11 * x.x + 17 * y.y + 3 * d.doc_id + 5 * f.f
                          + CASE WHEN f.f >= d.cut THEN 97 ELSE 0 END) % 256)
                        * (c.c + 1)) % 256)
                    - ((((11 * x.x + 17 * y.y + 3 * d.doc_id + 5 * (f.f - 1)
                          + CASE WHEN f.f - 1 >= d.cut THEN 97 ELSE 0 END) % 256)
                        * (c.c + 1)) % 256)) AS dv
           FROM d
           CROSS JOIN range(1, 7) f(f)
           CROSS JOIN range(0, 12) x(x)
           CROSS JOIN range(0, 12) y(y)
           CROSS JOIN range(0, 3) c(c)
           WHERE x.x < d.w AND y.y < d.h AND f.f < d.nf)
         SELECT doc_id, CAST(f AS INT) AS frame_ix,
                CAST(w * h AS BIGINT) AS n_px,
                CAST(sum(dv) AS BIGINT) AS diff_sum
         FROM px GROUP BY 1, 2, w, h ORDER BY 1, 2""",

    // Replays Jpeg.fixture's closed form: block-constant value
    // ((5·⌊x/8⌋ + 9·⌊y/8⌋ + 7·id) mod 200) + 28 over the non-8-aligned
    // w×h crop — matching requires a correct baseline JPEG entropy
    // decode (all-ones quantization makes the DCT round-trip exact).
    "q_multimodal_jpeg" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 12),
         px AS (
           SELECT d.doc_id,
                  ((5 * (x.x // 8) + 9 * (y.y // 8) + 7 * d.doc_id) % 200) + 28 AS v
           FROM d
           CROSS JOIN range(0, 32) x(x)
           CROSS JOIN range(0, 24) y(y)
           WHERE x.x < 8 * (2 + d.doc_id % 3) - (d.doc_id % 5)
             AND y.y < 8 * (2 + d.doc_id % 2) - (d.doc_id % 3))
         SELECT doc_id, CAST(0 AS INT) AS channel,
                CAST(count(*) AS BIGINT) AS n_px,
                CAST(sum(v) AS BIGINT) AS sum_v,
                CAST(min(v) AS BIGINT) AS min_v,
                CAST(max(v) AS BIGINT) AS max_v
         FROM px GROUP BY 1, 2 ORDER BY 1""",

    // dHash replay: 72×64 makes box = block, so bits compare the CLOSED
    // FORM block values directly (the cross-multiplied box-sum compare
    // degenerates to v_l > v_r under equal counts); byte bands,
    // popcount hamming — all exact integers.
    "q_image_neardup" ->
      (s"""WITH $ImageDhashCtes,
         capped AS (
           SELECT id, byy, bv
           FROM (SELECT id, byy, bv,
                        row_number() OVER (PARTITION BY byy, bv ORDER BY id)
                          AS br
                 FROM bytes)
           WHERE br <= 2),
         cand AS (
           SELECT DISTINCT a.id AS a_id, b.id AS b_id
           FROM capped a JOIN capped b
             ON a.byy = b.byy AND a.bv = b.bv AND a.id < b.id),
         ham AS (
           SELECT c.a_id, c.b_id,
                  CAST(sum(bit_count(xor(x.bv, y.bv))) AS BIGINT) AS hamming
           FROM cand c
           JOIN bytes x ON x.id = c.a_id
           JOIN bytes y ON y.id = c.b_id AND y.byy = x.byy
           GROUP BY 1, 2)
         SELECT a_id, b_id, hamming FROM ham
         WHERE hamming <= 6 ORDER BY a_id, b_id"""),

    // incremental twin: index side = ids 8..23 with the BUILD-time cap
    // (row_number per bucket over index rows only), new side = ids 0..7
    // uncapped; pairs = new × index band candidates, popcount verify.
    "q_image_neardup_incr" ->
      (s"""WITH $ImageDhashCtes,
         idx AS (
           SELECT id, byy, bv
           FROM (SELECT id, byy, bv,
                        row_number() OVER (PARTITION BY byy, bv ORDER BY id)
                          AS br
                 FROM bytes WHERE id >= 8)
           WHERE br <= 2),
         neu AS (SELECT id, byy, bv FROM bytes WHERE id < 8),
         cand AS (
           SELECT DISTINCT n.id AS a_id, i.id AS b_id
           FROM neu n JOIN idx i ON n.byy = i.byy AND n.bv = i.bv),
         ham AS (
           SELECT c.a_id, c.b_id,
                  CAST(sum(bit_count(xor(x.bv, y.bv))) AS BIGINT) AS hamming
           FROM cand c
           JOIN bytes x ON x.id = c.a_id
           JOIN bytes y ON y.id = c.b_id AND y.byy = x.byy
           GROUP BY 1, 2)
         SELECT a_id, b_id, hamming FROM ham
         WHERE hamming <= 6 ORDER BY a_id, b_id"""),

    // corpus-scale twin: same closed form over EVERY doc_id — pattern
    // family (doc_id // 3) % 97, jitter doc_id % 3, same capped tail.
    "q_image_neardup_corpus" ->
      (s"""WITH ${imageDhashCtes(
        """SELECT doc_id AS id, (doc_id // 3) % 97 AS g, doc_id % 3 AS j
           FROM main.documents""")},
         capped AS (
           SELECT id, byy, bv
           FROM (SELECT id, byy, bv,
                        row_number() OVER (PARTITION BY byy, bv ORDER BY id)
                          AS br
                 FROM bytes)
           WHERE br <= 2),
         cand AS (
           SELECT DISTINCT a.id AS a_id, b.id AS b_id
           FROM capped a JOIN capped b
             ON a.byy = b.byy AND a.bv = b.bv AND a.id < b.id),
         ham AS (
           SELECT c.a_id, c.b_id,
                  CAST(sum(bit_count(xor(x.bv, y.bv))) AS BIGINT) AS hamming
           FROM cand c
           JOIN bytes x ON x.id = c.a_id
           JOIN bytes y ON y.id = c.b_id AND y.byy = x.byy
           GROUP BY 1, 2)
         SELECT a_id, b_id, hamming FROM ham
         WHERE hamming <= 6 ORDER BY a_id, b_id"""),

    // image pair replay + the SAME recursive closure every text-dedup
    // cluster oracle uses: pairs feed nodes/edges/reach/clusters.
    "q_image_dedup_clusters" ->
      (s"""WITH RECURSIVE $ImageDhashCtes,
         capped AS (
           SELECT id, byy, bv
           FROM (SELECT id, byy, bv,
                        row_number() OVER (PARTITION BY byy, bv ORDER BY id)
                          AS br
                 FROM bytes)
           WHERE br <= 2),
         cand AS (
           SELECT DISTINCT a.id AS a_id, b.id AS b_id
           FROM capped a JOIN capped b
             ON a.byy = b.byy AND a.bv = b.bv AND a.id < b.id),
         ham AS (
           SELECT c.a_id, c.b_id,
                  CAST(sum(bit_count(xor(x.bv, y.bv))) AS BIGINT) AS hamming
           FROM cand c
           JOIN bytes x ON x.id = c.a_id
           JOIN bytes y ON y.id = c.b_id AND y.byy = x.byy
           GROUP BY 1, 2),
         pairs AS (
           SELECT a_id AS doc_a, b_id AS doc_b FROM ham WHERE hamming <= 6)""" +
        ClosureCtes +
        """SELECT doc_id, cluster_id FROM clusters ORDER BY 1"""),

    // video dHash replay: sampled frames from the closed form (nf = 4 +
    // g%3, every 2nd frame), per-frame block-value hash bytes, the
    // capped per-frame band join, and the all-aligned-frames rule.
    "q_video_neardup" -> videoNearDupSql(
      """SELECT doc_id AS id, doc_id % 8 AS g, doc_id // 8 AS j,
                4 + (doc_id % 8 % 3) AS nf
         FROM documents WHERE doc_id < 24""", maxNf = 6),

    // corpus-scale video replay: ONE clip per document, wrapping family
    // modulus (families genuinely repeat at corpus scale — the worst
    // case for the per-frame band buckets, by construction), nf = 4.
    "q_video_neardup_corpus" -> videoNearDupSql(
      """SELECT doc_id AS id, (doc_id // 3) % 97 AS g, doc_id % 3 AS j,
                4 AS nf
         FROM main.documents""", maxNf = 4),

    // video pair replay + the shared recursive closure
    "q_video_dedup_clusters" ->
      (s"""WITH RECURSIVE ${videoPairCtes(
        """SELECT doc_id AS id, doc_id % 8 AS g, doc_id // 8 AS j,
                  4 + (doc_id % 8 % 3) AS nf
           FROM documents WHERE doc_id < 24""", maxNf = 6)},
         pairs AS (SELECT a_id AS doc_a, b_id AS doc_b FROM vpairs)""" +
        ClosureCtes +
        """SELECT doc_id, cluster_id FROM clusters ORDER BY 1"""),

    // audio pair replay + the shared recursive closure
    "q_audio_dedup_clusters" ->
      (s"""WITH RECURSIVE $AudioDhashCtes,
         capped AS (
           SELECT id, byy, bv
           FROM (SELECT id, byy, bv,
                        row_number() OVER (PARTITION BY byy, bv ORDER BY id)
                          AS br
                 FROM bytes)
           WHERE br <= 2),
         cand AS (
           SELECT DISTINCT a.id AS a_id, b.id AS b_id
           FROM capped a JOIN capped b
             ON a.byy = b.byy AND a.bv = b.bv AND a.id < b.id),
         ham AS (
           SELECT c.a_id, c.b_id,
                  CAST(sum(bit_count(xor(x.bv, y.bv))) AS BIGINT) AS hamming
           FROM cand c
           JOIN bytes x ON x.id = c.a_id
           JOIN bytes y ON y.id = c.b_id AND y.byy = x.byy
           GROUP BY 1, 2),
         pairs AS (
           SELECT a_id AS doc_a, b_id AS doc_b FROM ham WHERE hamming <= 6)""" +
        ClosureCtes +
        """SELECT doc_id, cluster_id FROM clusters ORDER BY 1"""),

    // incremental twin: index postings = ids 8..23 with the BUILD-time
    // per-(frame, band, value) cap, new slice = ids 0..7 uncapped, then
    // the same aligned-frame popcount + all-frames pairing tail.
    "q_video_neardup_incr" ->
      (s"""WITH ${videoDhashCtes(
        """SELECT doc_id AS id, doc_id % 8 AS g, doc_id // 8 AS j,
                  4 + (doc_id % 8 % 3) AS nf
           FROM documents WHERE doc_id < 24""", maxNf = 6)},
         vidx AS (
           SELECT id, f, byy, bv
           FROM (SELECT id, f, byy, bv,
                        row_number() OVER (PARTITION BY f, byy, bv
                                           ORDER BY id) AS br
                 FROM vbytes WHERE id >= 8)
           WHERE br <= 2),
         vcand AS (
           SELECT DISTINCT n.id AS a_id, x.id AS b_id, n.f
           FROM vbytes n JOIN vidx x
             ON x.f = n.f AND x.byy = n.byy AND x.bv = n.bv
           WHERE n.id < 8),
         vham AS (
           SELECT c.a_id, c.b_id, c.f,
                  CAST(sum(bit_count(xor(x.bv, y.bv))) AS BIGINT) AS ham
           FROM vcand c
           JOIN vbytes x ON x.id = c.a_id AND x.f = c.f
           JOIN vbytes y ON y.id = c.b_id AND y.f = c.f AND y.byy = x.byy
           GROUP BY 1, 2, 3),
         vok AS (SELECT a_id, b_id, f, ham FROM vham WHERE ham <= 6),
         vagg AS (
           SELECT a_id, b_id, CAST(count(*) AS BIGINT) AS m,
                  max(ham) AS max_hamming
           FROM vok GROUP BY 1, 2)
         SELECT g.a_id, g.b_id, g.max_hamming
         FROM vagg g
         JOIN vnfall na ON na.id = g.a_id
         JOIN vnfall nb ON nb.id = g.b_id
         WHERE g.m = na.nf AND na.nf = nb.nf
         ORDER BY a_id, b_id"""),

    // audio dHash replay from the sample closed form: 65 floor-boundary
    // energy boxes, HUGEINT cross-multiplied bits, 8 bytes, the shared
    // band-candidate + popcount tail.
    "q_audio_neardup" ->
      (s"""WITH $AudioDhashCtes,
         capped AS (
           SELECT id, byy, bv
           FROM (SELECT id, byy, bv,
                        row_number() OVER (PARTITION BY byy, bv ORDER BY id)
                          AS br
                 FROM bytes)
           WHERE br <= 2),
         cand AS (
           SELECT DISTINCT a.id AS a_id, b.id AS b_id
           FROM capped a JOIN capped b
             ON a.byy = b.byy AND a.bv = b.bv AND a.id < b.id),
         ham AS (
           SELECT c.a_id, c.b_id,
                  CAST(sum(bit_count(xor(x.bv, y.bv))) AS BIGINT) AS hamming
           FROM cand c
           JOIN bytes x ON x.id = c.a_id
           JOIN bytes y ON y.id = c.b_id AND y.byy = x.byy
           GROUP BY 1, 2)
         SELECT a_id, b_id, hamming FROM ham
         WHERE hamming <= 6 ORDER BY a_id, b_id"""),

    // image spectral incremental twin: same new x capped-index
    // candidate + popcount tail over the IMAGE spectral closed-form bytes
    "q_image_spectral_incr" ->
      (s"""WITH $ImageSpectralCtes,
         idx AS (
           SELECT id, byy, bv
           FROM (SELECT id, byy, bv,
                        row_number() OVER (PARTITION BY byy, bv ORDER BY id)
                          AS br
                 FROM bytes WHERE id >= 8)
           WHERE br <= 2),
         neu AS (SELECT id, byy, bv FROM bytes WHERE id < 8),
         cand AS (
           SELECT DISTINCT n.id AS a_id, i.id AS b_id
           FROM neu n JOIN idx i ON n.byy = i.byy AND n.bv = i.bv),
         ham AS (
           SELECT c.a_id, c.b_id,
                  CAST(sum(bit_count(xor(x.bv, y.bv))) AS BIGINT) AS hamming
           FROM cand c
           JOIN bytes x ON x.id = c.a_id
           JOIN bytes y ON y.id = c.b_id AND y.byy = x.byy
           GROUP BY 1, 2)
         SELECT a_id, b_id, hamming FROM ham
         WHERE hamming <= 6 ORDER BY a_id, b_id"""),

    "q_image_spectral_neardup" ->
      (s"""WITH $ImageSpectralCtes,
         capped AS (
           SELECT id, byy, bv
           FROM (SELECT id, byy, bv,
                        row_number() OVER (PARTITION BY byy, bv ORDER BY id)
                          AS br
                 FROM bytes)
           WHERE br <= 2),
         cand AS (
           SELECT DISTINCT a.id AS a_id, b.id AS b_id
           FROM capped a JOIN capped b
             ON a.byy = b.byy AND a.bv = b.bv AND a.id < b.id),
         ham AS (
           SELECT c.a_id, c.b_id,
                  CAST(sum(bit_count(xor(x.bv, y.bv))) AS BIGINT) AS hamming
           FROM cand c
           JOIN bytes x ON x.id = c.a_id
           JOIN bytes y ON y.id = c.b_id AND y.byy = x.byy
           GROUP BY 1, 2)
         SELECT a_id, b_id, hamming FROM ham
         WHERE hamming <= 6 ORDER BY a_id, b_id"""),

    "q_audio_neardup_spectral" ->
      (s"""WITH $AudioSpectralCtes,
         capped AS (
           SELECT id, byy, bv
           FROM (SELECT id, byy, bv,
                        row_number() OVER (PARTITION BY byy, bv ORDER BY id)
                          AS br
                 FROM bytes)
           WHERE br <= 2),
         cand AS (
           SELECT DISTINCT a.id AS a_id, b.id AS b_id
           FROM capped a JOIN capped b
             ON a.byy = b.byy AND a.bv = b.bv AND a.id < b.id),
         ham AS (
           SELECT c.a_id, c.b_id,
                  CAST(sum(bit_count(xor(x.bv, y.bv))) AS BIGINT) AS hamming
           FROM cand c
           JOIN bytes x ON x.id = c.a_id
           JOIN bytes y ON y.id = c.b_id AND y.byy = x.byy
           GROUP BY 1, 2)
         SELECT a_id, b_id, hamming FROM ham
         WHERE hamming <= 6 ORDER BY a_id, b_id"""),

    // audio incremental twin: index = ids 8..23 with the build-time cap,
    // new = ids 0..7, same new x index candidate + popcount tail as
    // q_image_neardup_incr over the audio closed-form bytes.
    "q_audio_neardup_incr" ->
      (s"""WITH $AudioDhashCtes,
         idx AS (
           SELECT id, byy, bv
           FROM (SELECT id, byy, bv,
                        row_number() OVER (PARTITION BY byy, bv ORDER BY id)
                          AS br
                 FROM bytes WHERE id >= 8)
           WHERE br <= 2),
         neu AS (SELECT id, byy, bv FROM bytes WHERE id < 8),
         cand AS (
           SELECT DISTINCT n.id AS a_id, i.id AS b_id
           FROM neu n JOIN idx i ON n.byy = i.byy AND n.bv = i.bv),
         ham AS (
           SELECT c.a_id, c.b_id,
                  CAST(sum(bit_count(xor(x.bv, y.bv))) AS BIGINT) AS hamming
           FROM cand c
           JOIN bytes x ON x.id = c.a_id
           JOIN bytes y ON y.id = c.b_id AND y.byy = x.byy
           GROUP BY 1, 2)
         SELECT a_id, b_id, hamming FROM ham
         WHERE hamming <= 6 ORDER BY a_id, b_id"""),

    // spectral clusters: the capped band join + popcount tail over the
    // SPECTRAL closed-form bytes, closed transitively
    "q_audio_spectral_clusters" ->
      (s"""WITH RECURSIVE $AudioSpectralCtes,
         capped AS (
           SELECT id, byy, bv
           FROM (SELECT id, byy, bv,
                        row_number() OVER (PARTITION BY byy, bv ORDER BY id)
                          AS br
                 FROM bytes)
           WHERE br <= 2),
         cand AS (
           SELECT DISTINCT a.id AS a_id, b.id AS b_id
           FROM capped a JOIN capped b
             ON a.byy = b.byy AND a.bv = b.bv AND a.id < b.id),
         ham AS (
           SELECT c.a_id, c.b_id,
                  CAST(sum(bit_count(xor(x.bv, y.bv))) AS BIGINT) AS hamming
           FROM cand c
           JOIN bytes x ON x.id = c.a_id
           JOIN bytes y ON y.id = c.b_id AND y.byy = x.byy
           GROUP BY 1, 2),
         pairs AS (
           SELECT a_id AS doc_a, b_id AS doc_b FROM ham WHERE hamming <= 6)""" +
        ClosureCtes +
        """SELECT doc_id, cluster_id FROM clusters ORDER BY 1"""),

    // spectral incremental twin: same new x capped-index candidate +
    // popcount tail over the SPECTRAL closed-form bytes
    "q_audio_spectral_incr" ->
      (s"""WITH $AudioSpectralCtes,
         idx AS (
           SELECT id, byy, bv
           FROM (SELECT id, byy, bv,
                        row_number() OVER (PARTITION BY byy, bv ORDER BY id)
                          AS br
                 FROM bytes WHERE id >= 8)
           WHERE br <= 2),
         neu AS (SELECT id, byy, bv FROM bytes WHERE id < 8),
         cand AS (
           SELECT DISTINCT n.id AS a_id, i.id AS b_id
           FROM neu n JOIN idx i ON n.byy = i.byy AND n.bv = i.bv),
         ham AS (
           SELECT c.a_id, c.b_id,
                  CAST(sum(bit_count(xor(x.bv, y.bv))) AS BIGINT) AS hamming
           FROM cand c
           JOIN bytes x ON x.id = c.a_id
           JOIN bytes y ON y.id = c.b_id AND y.byy = x.byy
           GROUP BY 1, 2)
         SELECT a_id, b_id, hamming FROM ham
         WHERE hamming <= 6 ORDER BY a_id, b_id"""),

    // streaming image-dedup backfill: min doc_id per full dHash key
    // over the same closed-form bytes.
    "q_stream_image_dedup" ->
      (s"""WITH $ImageDhashCtes,
         keys AS (
           SELECT id, string_agg(CAST(bv AS VARCHAR), ':' ORDER BY byy)
                    AS hash_key
           FROM bytes GROUP BY 1)
         SELECT min(id) AS doc_id, hash_key
         FROM keys GROUP BY hash_key ORDER BY doc_id"""),

    // BM25 with k1=1.2, b=0.75 over query bag (spark, window, vector):
    // same tokenization, same per-term tf, same ln-idf, same 6-dp rounding
    // and (score desc, doc_id) cut as Search.bm25TopK.
    "q_bm25_search" -> {
      val terms = Seq("spark", "window", "vector")
      val tfs = terms.zipWithIndex.map { case (t, i) =>
        s"len(list_filter(w, t -> t = '$t')) AS tf$i" }.mkString(", ")
      val dfs = terms.indices.map(i =>
        s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
      val score = terms.indices.map(i =>
        s"""ln(1.0 + (CAST(n AS DOUBLE) - df$i + 0.5) / (df$i + 0.5))
            * (CAST(tf$i AS DOUBLE) * 2.2)
            / (CAST(tf$i AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
                / (CAST(tdl AS DOUBLE) / n)))""").mkString(" + ")
      s"""WITH toks AS (
            SELECT doc_id, len(w)::BIGINT AS dl, $tfs
            FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
                  FROM documents)
          ), stats AS (
            SELECT count(*) AS n, sum(dl) AS tdl, $dfs FROM toks
          )
          SELECT doc_id, dl, score FROM (
            SELECT doc_id, dl, round($score, 6) AS score
            FROM toks CROSS JOIN stats
          ) WHERE score > 0
          ORDER BY score DESC, doc_id LIMIT 15"""
    },

    "q_tfidf_terms" ->
      """WITH pairs AS (
           SELECT doc_id, unnest(w) AS term, len(w) AS dl
           FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                 FROM documents)
         ), tf AS (
           SELECT doc_id, term, count(*) AS tf, min(dl) AS dl
           FROM pairs GROUP BY 1, 2
         ), dfx AS (
           SELECT term, count(*) AS df FROM tf GROUP BY 1
         ), stats AS (
           SELECT count(DISTINCT doc_id) AS n FROM tf
         ), ranked AS (
           SELECT t.doc_id, t.term, t.tf,
                  round((CAST(t.tf AS DOUBLE) / t.dl)
                        * ln(CAST(s.n AS DOUBLE) / d.df), 6) AS tfidf,
                  row_number() OVER (PARTITION BY t.doc_id ORDER BY
                    round((CAST(t.tf AS DOUBLE) / t.dl)
                          * ln(CAST(s.n AS DOUBLE) / d.df), 6) DESC, t.term) AS rank
           FROM tf t JOIN dfx d USING (term) CROSS JOIN stats s
           WHERE t.doc_id < 40
         )
         SELECT doc_id, term, tf, tfidf, rank FROM ranked
         WHERE rank <= 3 ORDER BY doc_id, rank""",

    "q_top_ngrams" ->
      """WITH toks AS (
           SELECT regexp_split_to_array(trim(text), '\s+') AS w FROM documents
         ), grams AS (
           SELECT array_to_string(w[i : i + 1], ' ') AS gram
           FROM (SELECT w, unnest(range(1, len(w))) AS i FROM toks)
         )
         SELECT gram, count(*) AS n_occurrences FROM grams
         GROUP BY 1 ORDER BY n_occurrences DESC, gram LIMIT 20""",

    // Grouped heavy hitters: per-group exact top-5 replay (MG pass only
    // proposes; per-group recount is the value-defining stage).
    "q_heavy_hitters_grouped" ->
      """WITH toks AS (
           SELECT lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
           FROM documents WHERE trim(text) <> ''
         ), c AS (
           SELECT lang, token, count(*) AS n FROM toks WHERE token <> ''
           GROUP BY 1, 2
         ), r AS (
           SELECT lang, token, n,
                  row_number() OVER (PARTITION BY lang ORDER BY n DESC, token) AS rank
           FROM c)
         SELECT lang, token, n, rank FROM r WHERE rank <= 5
         ORDER BY lang, rank""",

    // CDC dedup accounting: same chunk CTE as q_cdc_chunks (whole corpus),
    // grouped by chunk hash.
    "q_cdc_dedup" ->
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
           FROM documents
         ), g AS (
           SELECT doc_id, w, len(w) AS n,
                  list_prepend(CAST(1 AS BIGINT), list_filter(
                    list_transform(range(2, len(w) - 2), i ->
                      CASE WHEN CAST(concat('0x', substr(md5(array_to_string(w[i:i+3], ' ')), 1, 8)) AS BIGINT) % 16 = 0
                           THEN CAST(i AS BIGINT) ELSE NULL END),
                    x -> x IS NOT NULL)) AS starts
           FROM toks
         ), c AS (
           SELECT doc_id, w, n, starts,
                  unnest(range(1, len(starts) + 1)) AS cix
           FROM g
         ), ch AS (
           SELECT coalesce(starts[cix + 1] - 1, n) - starts[cix] + 1 AS n_words,
                  md5(array_to_string(w[starts[cix] : coalesce(starts[cix + 1] - 1, n)], ' ')) AS chunk_md5
           FROM c
         ), byh AS (
           SELECT chunk_md5, count(*) AS cnt, max(n_words) AS w2
           FROM ch GROUP BY 1)
         SELECT CAST(sum(cnt) AS BIGINT) AS n_chunks,
                count(*) AS n_uniq,
                CAST(sum((cnt - 1) * w2) AS BIGINT) AS dup_words,
                round(CAST(count(*) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE), 6) AS uniq_ratio
         FROM byh""",

    // Exact top-k replay: the MG pass only proposes candidates (superset
    // guaranteed by the n/(width+1) bound), the recount defines every
    // user-visible value — so the oracle is the straight exact top-k with
    // the same (n DESC, token) cut.
    // CDC replay: same md5-of-4-gram boundary rule (first-8-hex mod 16),
    // start 1 prepended, ends from the next start, chunk text md5 over the
    // space-joined slice. range(2, len(w)-2) enumerates gram positions
    // 2..n-3 — exactly the valid 4-gram starts after position 1.
    "q_cdc_chunks" ->
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
           FROM documents WHERE doc_id < 100
         ), g AS (
           SELECT doc_id, w, len(w) AS n,
                  list_prepend(CAST(1 AS BIGINT), list_filter(
                    list_transform(range(2, len(w) - 2), i ->
                      CASE WHEN CAST(concat('0x', substr(md5(array_to_string(w[i:i+3], ' ')), 1, 8)) AS BIGINT) % 16 = 0
                           THEN CAST(i AS BIGINT) ELSE NULL END),
                    x -> x IS NOT NULL)) AS starts
           FROM toks
         ), c AS (
           SELECT doc_id, w, n, starts,
                  unnest(range(1, len(starts) + 1)) AS cix
           FROM g
         )
         SELECT doc_id, CAST(cix AS BIGINT) AS chunk_ix,
                starts[cix] AS start_word,
                coalesce(starts[cix + 1] - 1, n) - starts[cix] + 1 AS n_words,
                md5(array_to_string(w[starts[cix] : coalesce(starts[cix + 1] - 1, n)], ' ')) AS chunk_md5
         FROM c ORDER BY doc_id, chunk_ix""",

    // Aho-Corasick replay: per phrase, the overlapping occurrence count
    // is |{ i : substr(text, i, len(kw)) = kw }| — identical to the
    // automaton's per-(position, entry) counting; NULL text sums to NULL
    // → matched CASE falls to 0 on both engines.
    "q_keyword_hits" ->
      """WITH kws AS (
           SELECT unnest(['table', 'value fast', 'part value', 'spark', 'a a', 'row']) AS kw
         ), per AS (
           SELECT d.lang, d.doc_id,
                  sum(len(list_filter(range(1, len(d.text) - len(kw) + 2),
                        i -> substr(d.text, CAST(i AS INT), len(kw)) = kw))) AS c
           FROM documents d CROSS JOIN kws
           GROUP BY 1, 2
         )
         SELECT lang, CAST(sum(c) AS BIGINT) AS n_matches,
                CAST(sum(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_matched
         FROM per GROUP BY 1 ORDER BY 1""",

    // NFC parity: java.text.Normalizer NFC == DuckDB nfc_normalize (both
    // implement UAX#15 canonical composition); lengths count codepoints
    // on both engines, so the contraction delta replays exactly.
    "q_text_nfc" ->
      """WITH d AS (
           SELECT lang, replace(text, 'a', 'a' || chr(769)) AS dec
           FROM documents
         )
         SELECT lang, count(*) AS n_docs,
                CAST(sum(CASE WHEN nfc_normalize(dec) <> dec THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
                CAST(sum(length(dec)) - sum(length(nfc_normalize(dec))) AS BIGINT) AS cp_delta
         FROM d GROUP BY 1 ORDER BY 1""",

    "q_heavy_hitters" ->
      """WITH toks AS (
           SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
           FROM documents WHERE trim(text) <> ''
         )
         SELECT token, count(*) AS n FROM toks WHERE token <> ''
         GROUP BY 1 ORDER BY n DESC, token LIMIT 20""",

    // Unigram-LM inventory: exact replay of the substring-count top-V ∪
    // chars cut and the integer micro-bit cost formula.
    "q_unigram_vocab" ->
      (s"""WITH $UnigramTrainCtes
         SELECT piece, n,
                CAST(round((ln(CAST(t AS DOUBLE)) - ln(CAST(n AS DOUBLE)))
                           * 1000000) AS BIGINT) AS cost_microbits
         FROM selu, totu ORDER BY piece"""),

    // Unigram-LM segmentation: training CTEs + the 12-stage unrolled
    // integer Viterbi; absent words (len>12 or unreachable) replay the
    // native's unk rule (1 piece, 30e6 micro-bits).
    "q_unigram_segment" ->
      (s"""WITH $UnigramTrainCtes,
         $UnigramDpCtes
         SELECT doc_id,
                CAST(sum(CASE WHEN ws.c IS NULL THEN 1
                              ELSE ws.c % 64 END) AS BIGINT) AS n_pieces,
                CAST(sum(CASE WHEN ws.c IS NULL THEN 30000000
                              ELSE ws.c // 64 END) AS BIGINT) AS cost_microbits
         FROM wordsu LEFT JOIN wstatu ws USING (w)
         GROUP BY 1 ORDER BY 1"""),

    // byte-fallback twin: training + DP replay untouched (they read the
    // un-injected corpus); the SERVED word stream re-tokenizes the
    // CASE-injected text, and a wstatu miss (the OOV word — absent from
    // the training word set by construction) counts UTF-8 bytes at
    // 5e6 micro-units each
    "q_unigram_byte_fallback" ->
      (s"""WITH $UnigramTrainCtes,
         $UnigramDpCtes,
         dwi AS (
           SELECT doc_id, w FROM (
             SELECT doc_id, unnest(regexp_split_to_array(
               trim(regexp_replace(lower(nfc_normalize(
                 CASE WHEN doc_id % 5 = 0
                      THEN text || ' ' || chr(26085) || chr(26412)
                           || chr(35486)
                      ELSE text END)), '[^\\p{L}]+', ' ', 'g')), '\\s+')) AS w
             FROM documents)
           WHERE len(w) >= 1)
         SELECT doc_id,
                CAST(sum(CASE WHEN ws.c IS NULL
                              THEN octet_length(encode(dwi.w))
                              ELSE ws.c % 64 END) AS BIGINT) AS n_pieces,
                CAST(sum(CASE WHEN ws.c IS NULL
                              THEN octet_length(encode(dwi.w)) * 5000000
                              ELSE ws.c // 64 END) AS BIGINT) AS cost_microbits
         FROM dwi LEFT JOIN wstatu ws USING (w)
         GROUP BY 1 ORDER BY 1"""),

    // Unigram-LM hard-EM round: training + forward DP + 12-stage
    // backtrack + freq-weighted counts + prune/floor + re-costing.
    "q_unigram_em" ->
      (s"""WITH $UnigramTrainCtes,
         $UnigramDpCtes,
         ${UnigramEmCtes(120)}
         SELECT piece, n,
                CAST(round((ln(CAST(et AS DOUBLE)) - ln(CAST(n AS DOUBLE)))
                           * 1000000) AS BIGINT) AS cost_microbits
         FROM emall, emtot ORDER BY piece"""),

    // EM round 2: round-1 emall/emtot re-cost into vocab2 (the same
    // integer micro-bit rule), then the whole DP + backtrack + prune +
    // floor chain re-runs under the r2 prefix.
    "q_unigram_em2" ->
      (s"""WITH $UnigramTrainCtes,
         $UnigramDpCtes,
         ${UnigramEmCtes(120)},
         vocab2 AS (
           SELECT piece,
                  CAST(round((ln(CAST(et AS DOUBLE)) - ln(CAST(n AS DOUBLE)))
                             * 1000000) AS BIGINT) * 64 + 1 AS cc
           FROM emall, emtot),
         ${unigramDpRound("r2", "vocab2")},
         ${UnigramEmCtes(120, "r2", "emall")}
         SELECT piece, n,
                CAST(round((ln(CAST(et AS DOUBLE)) - ln(CAST(n AS DOUBLE)))
                           * 1000000) AS BIGINT) AS cost_microbits
         FROM r2emall, r2emtot ORDER BY piece"""),

    // Vocabulary pruning replay: round-1 EM (emall/emtot) re-costs into
    // vocab2; a p2-prefixed DP + backtrack gives every word's best cost
    // and path; the (w, x)-keyed exclusion DP replays the
    // unigram_viterbi_excl probes; loss ranks keep the top 40 multi-char
    // pieces + the char floor; a p3-prefixed recost round over the
    // pruned inventory produces the final (piece, n, cost).
    "q_unigram_prune" ->
      (s"""WITH $UnigramTrainCtes,
         $UnigramDpCtes,
         ${UnigramEmCtes(120)},
         vocab2 AS (
           SELECT piece,
                  CAST(round((ln(CAST(et AS DOUBLE)) - ln(CAST(n AS DOUBLE)))
                             * 1000000) AS BIGINT) * 64 + 1 AS cc
           FROM emall, emtot),
         ${unigramDpRound("p2", "vocab2")},
         ${UnigramEmCtes(120, "p2", "emall")},
         px AS MATERIALIZED (
           SELECT DISTINCT w, piece AS x
           FROM (${(1 to 12).map(k => s"SELECT w, piece FROM p2ch$k")
             .mkString(" UNION ALL ")})
           WHERE len(piece) >= 2),
         ${unigramExclDpRound("pz", "vocab2", "px")},
         lossx AS (
           SELECT wx.x AS piece,
                  CAST(sum(f * ((wx.c // 64) - (ws.c // 64))) AS BIGINT)
                    AS loss
           FROM pzwstatx wx
           JOIN p2wstatu ws USING (w)
           JOIN wfu USING (w)
           GROUP BY 1),
         keepx AS (
           SELECT piece FROM (
             SELECT piece, row_number() OVER (ORDER BY loss DESC, piece) AS r
             FROM lossx)
           WHERE r <= 40),
         vocabp AS MATERIALIZED (
           SELECT piece, cc FROM vocab2
           WHERE len(piece) = 1 OR piece IN (SELECT piece FROM keepx)),
         ${unigramDpRound("p3", "vocabp")},
         ${UnigramEmCtes(1000000, "p3", "vocabp")}
         SELECT piece, n,
                CAST(round((ln(CAST(et AS DOUBLE)) - ln(CAST(n AS DOUBLE)))
                           * 1000000) AS BIGINT) AS cost_microbits
         FROM p3emall, p3emtot ORDER BY piece"""),

    // Vocabulary-weighted character-pair counts (one BPE iteration's
    // argmax statistic): word freq first, then per-word adjacent pairs
    // replicated by unnest; same (n desc, pair) deterministic cut.
    "q_bpe_pairs" ->
      """WITH w AS (
           SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
           FROM documents
         ), wf AS (
           SELECT w, count(*) AS f FROM w WHERE len(w) >= 2 GROUP BY w
         ), p AS (
           SELECT unnest(list_transform(range(1, len(w)),
                    i -> concat(w[i], ' ', w[i+1]))) AS pair, f
           FROM wf
         )
         SELECT pair, CAST(sum(f) AS BIGINT) AS n FROM p
         GROUP BY 1 ORDER BY n DESC, pair LIMIT 20""",

    // Four BPE training iterations unrolled: each round re-derives pair
    // counts from the current symbol encoding, argmaxes with the same
    // (n DESC, pair) tie-break, and applies the merge with the same
    // boundary-exact string replace over the ';a;;b;' encoding.
    "q_bpe_train" ->
      """WITH w AS (
           SELECT unnest(regexp_split_to_array(
                    trim(regexp_replace(lower(nfc_normalize(text)), '[^\p{L}]+', ' ', 'g')),
                    '\s+')) AS w
           FROM documents),
         wf AS (
           SELECT w, CAST(count(*) AS BIGINT) AS f
           FROM w WHERE len(w) >= 1 GROUP BY 1),
         e0 AS (
           SELECT ';' || regexp_replace(w, '(.)', '\1;;', 'g') || '_;' AS e, f
           FROM wf),
         s1 AS (SELECT string_split(trim(e, ';'), ';;') AS s, f FROM e0),
         p1 AS (SELECT unnest(list_transform(range(1, len(s)),
                        j -> s[j] || ' ' || s[j+1])) AS pair, f FROM s1),
         b1 AS (SELECT pair, CAST(sum(f) AS BIGINT) AS n FROM p1
                GROUP BY 1 ORDER BY n DESC, pair LIMIT 1),
         e1 AS (SELECT replace(e, ';' || replace(b.pair, ' ', ';;') || ';',
                               ';' || replace(b.pair, ' ', '') || ';') AS e, f
                FROM e0, b1 b),
         s2 AS (SELECT string_split(trim(e, ';'), ';;') AS s, f FROM e1),
         p2 AS (SELECT unnest(list_transform(range(1, len(s)),
                        j -> s[j] || ' ' || s[j+1])) AS pair, f FROM s2),
         b2 AS (SELECT pair, CAST(sum(f) AS BIGINT) AS n FROM p2
                GROUP BY 1 ORDER BY n DESC, pair LIMIT 1),
         e2 AS (SELECT replace(e, ';' || replace(b.pair, ' ', ';;') || ';',
                               ';' || replace(b.pair, ' ', '') || ';') AS e, f
                FROM e1, b2 b),
         s3 AS (SELECT string_split(trim(e, ';'), ';;') AS s, f FROM e2),
         p3 AS (SELECT unnest(list_transform(range(1, len(s)),
                        j -> s[j] || ' ' || s[j+1])) AS pair, f FROM s3),
         b3 AS (SELECT pair, CAST(sum(f) AS BIGINT) AS n FROM p3
                GROUP BY 1 ORDER BY n DESC, pair LIMIT 1),
         e3 AS (SELECT replace(e, ';' || replace(b.pair, ' ', ';;') || ';',
                               ';' || replace(b.pair, ' ', '') || ';') AS e, f
                FROM e2, b3 b),
         s4 AS (SELECT string_split(trim(e, ';'), ';;') AS s, f FROM e3),
         p4 AS (SELECT unnest(list_transform(range(1, len(s)),
                        j -> s[j] || ' ' || s[j+1])) AS pair, f FROM s4),
         b4 AS (SELECT pair, CAST(sum(f) AS BIGINT) AS n FROM p4
                GROUP BY 1 ORDER BY n DESC, pair LIMIT 1)
         SELECT merge_ix, pair, n FROM (
           SELECT 1 AS merge_ix, pair, n FROM b1
           UNION ALL SELECT 2, pair, n FROM b2
           UNION ALL SELECT 3, pair, n FROM b3
           UNION ALL SELECT 4, pair, n FROM b4)
         ORDER BY merge_ix""",

    // Byte-level BPE replay: raw whitespace words (no norm, no letter
    // filter), UTF-8 bytes as lowercase hex-pair symbols, then the SAME
    // four unrolled merge iterations as q_bpe_train.
    "q_bpe_bytes" ->
      """WITH w AS (
           SELECT unnest(regexp_split_to_array(text, '\s+')) AS w
           FROM documents),
         wf AS (
           SELECT w, CAST(count(*) AS BIGINT) AS f
           FROM w WHERE len(w) >= 1 GROUP BY 1),
         e0 AS (
           SELECT ';' || array_to_string(
                    regexp_extract_all(lower(hex(encode(w))), '[0-9a-f]{2}'),
                    ';;') || ';;_;' AS e, f
           FROM wf),
         s1 AS (SELECT string_split(trim(e, ';'), ';;') AS s, f FROM e0),
         p1 AS (SELECT unnest(list_transform(range(1, len(s)),
                        j -> s[j] || ' ' || s[j+1])) AS pair, f FROM s1),
         b1 AS (SELECT pair, CAST(sum(f) AS BIGINT) AS n FROM p1
                GROUP BY 1 ORDER BY n DESC, pair LIMIT 1),
         e1 AS (SELECT replace(e, ';' || replace(b.pair, ' ', ';;') || ';',
                               ';' || replace(b.pair, ' ', '') || ';') AS e, f
                FROM e0, b1 b),
         s2 AS (SELECT string_split(trim(e, ';'), ';;') AS s, f FROM e1),
         p2 AS (SELECT unnest(list_transform(range(1, len(s)),
                        j -> s[j] || ' ' || s[j+1])) AS pair, f FROM s2),
         b2 AS (SELECT pair, CAST(sum(f) AS BIGINT) AS n FROM p2
                GROUP BY 1 ORDER BY n DESC, pair LIMIT 1),
         e2 AS (SELECT replace(e, ';' || replace(b.pair, ' ', ';;') || ';',
                               ';' || replace(b.pair, ' ', '') || ';') AS e, f
                FROM e1, b2 b),
         s3 AS (SELECT string_split(trim(e, ';'), ';;') AS s, f FROM e2),
         p3 AS (SELECT unnest(list_transform(range(1, len(s)),
                        j -> s[j] || ' ' || s[j+1])) AS pair, f FROM s3),
         b3 AS (SELECT pair, CAST(sum(f) AS BIGINT) AS n FROM p3
                GROUP BY 1 ORDER BY n DESC, pair LIMIT 1),
         e3 AS (SELECT replace(e, ';' || replace(b.pair, ' ', ';;') || ';',
                               ';' || replace(b.pair, ' ', '') || ';') AS e, f
                FROM e2, b3 b),
         s4 AS (SELECT string_split(trim(e, ';'), ';;') AS s, f FROM e3),
         p4 AS (SELECT unnest(list_transform(range(1, len(s)),
                        j -> s[j] || ' ' || s[j+1])) AS pair, f FROM s4),
         b4 AS (SELECT pair, CAST(sum(f) AS BIGINT) AS n FROM p4
                GROUP BY 1 ORDER BY n DESC, pair LIMIT 1)
         SELECT merge_ix, pair, n FROM (
           SELECT 1 AS merge_ix, pair, n FROM b1
           UNION ALL SELECT 2, pair, n FROM b2
           UNION ALL SELECT 3, pair, n FROM b3
           UNION ALL SELECT 4, pair, n FROM b4)
         ORDER BY merge_ix""",

    // Byte-level encoding: the q_bpe_subwords chain (word carried
    // through, final per-word symbol counts joined to per-doc words)
    // over the byte-hex seed and raw whitespace words.
    "q_bpe_bytes_subwords" ->
      """WITH w AS (
           SELECT unnest(regexp_split_to_array(text, '\s+')) AS w
           FROM documents),
         wf AS (
           SELECT w, CAST(count(*) AS BIGINT) AS f
           FROM w WHERE len(w) >= 1 GROUP BY 1),
         e0 AS (
           SELECT w, ';' || array_to_string(
                    regexp_extract_all(lower(hex(encode(w))), '[0-9a-f]{2}'),
                    ';;') || ';;_;' AS e, f
           FROM wf),
         s1 AS (SELECT string_split(trim(e, ';'), ';;') AS s, f FROM e0),
         p1 AS (SELECT unnest(list_transform(range(1, len(s)),
                        j -> s[j] || ' ' || s[j+1])) AS pair, f FROM s1),
         b1 AS (SELECT pair FROM p1 GROUP BY 1
                ORDER BY sum(f) DESC, pair LIMIT 1),
         e1 AS (SELECT w, replace(e, ';' || replace(b.pair, ' ', ';;') || ';',
                                  ';' || replace(b.pair, ' ', '') || ';') AS e, f
                FROM e0, b1 b),
         s2 AS (SELECT string_split(trim(e, ';'), ';;') AS s, f FROM e1),
         p2 AS (SELECT unnest(list_transform(range(1, len(s)),
                        j -> s[j] || ' ' || s[j+1])) AS pair, f FROM s2),
         b2 AS (SELECT pair FROM p2 GROUP BY 1
                ORDER BY sum(f) DESC, pair LIMIT 1),
         e2 AS (SELECT w, replace(e, ';' || replace(b.pair, ' ', ';;') || ';',
                                  ';' || replace(b.pair, ' ', '') || ';') AS e, f
                FROM e1, b2 b),
         s3 AS (SELECT string_split(trim(e, ';'), ';;') AS s, f FROM e2),
         p3 AS (SELECT unnest(list_transform(range(1, len(s)),
                        j -> s[j] || ' ' || s[j+1])) AS pair, f FROM s3),
         b3 AS (SELECT pair FROM p3 GROUP BY 1
                ORDER BY sum(f) DESC, pair LIMIT 1),
         e3 AS (SELECT w, replace(e, ';' || replace(b.pair, ' ', ';;') || ';',
                                  ';' || replace(b.pair, ' ', '') || ';') AS e, f
                FROM e2, b3 b),
         s4 AS (SELECT string_split(trim(e, ';'), ';;') AS s, f FROM e3),
         p4 AS (SELECT unnest(list_transform(range(1, len(s)),
                        j -> s[j] || ' ' || s[j+1])) AS pair, f FROM s4),
         b4 AS (SELECT pair FROM p4 GROUP BY 1
                ORDER BY sum(f) DESC, pair LIMIT 1),
         e4 AS (SELECT w, replace(e, ';' || replace(b.pair, ' ', ';;') || ';',
                                  ';' || replace(b.pair, ' ', '') || ';') AS e, f
                FROM e3, b4 b),
         vs AS (SELECT w, CAST(len(string_split(trim(e, ';'), ';;')) AS BIGINT) AS ns
                FROM e4),
         dw AS (
           SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS w
           FROM documents)
         SELECT doc_id, CAST(sum(ns) AS BIGINT) AS n_subwords
         FROM dw JOIN vs USING (w) WHERE len(w) >= 1
         GROUP BY 1 ORDER BY doc_id""",

    // Persisted tokenizer serving: rules from the doc_id % 2 = 0 slice,
    // replayed over every distinct word of the full corpus.
    "q_bpe_bytes_served" -> byteBpeServedOracle("doc_id % 2 = 0"),

    // The GPT-2 recipe: generated byte-BPE chain over the shared
    // regex-pre-tokenized token stream (train + serving twins).
    "q_bpe_bytes_gpt2" -> byteBpeOracle(Gpt2WordsSql, subwords = false),
    "q_bpe_bytes_gpt2_subwords" -> byteBpeOracle(Gpt2WordsSql, subwords = true),

    // Same four training iterations (word column carried through), then
    // per-word merged-symbol counts joined back to per-document words.
    "q_bpe_subwords" ->
      """WITH w AS (
           SELECT unnest(regexp_split_to_array(
                    trim(regexp_replace(lower(nfc_normalize(text)), '[^\p{L}]+', ' ', 'g')),
                    '\s+')) AS w
           FROM documents),
         wf AS (
           SELECT w, CAST(count(*) AS BIGINT) AS f
           FROM w WHERE len(w) >= 1 GROUP BY 1),
         e0 AS (
           SELECT w, ';' || regexp_replace(w, '(.)', '\1;;', 'g') || '_;' AS e, f
           FROM wf),
         s1 AS (SELECT string_split(trim(e, ';'), ';;') AS s, f FROM e0),
         p1 AS (SELECT unnest(list_transform(range(1, len(s)),
                        j -> s[j] || ' ' || s[j+1])) AS pair, f FROM s1),
         b1 AS (SELECT pair FROM p1 GROUP BY 1
                ORDER BY sum(f) DESC, pair LIMIT 1),
         e1 AS (SELECT w, replace(e, ';' || replace(b.pair, ' ', ';;') || ';',
                                  ';' || replace(b.pair, ' ', '') || ';') AS e, f
                FROM e0, b1 b),
         s2 AS (SELECT string_split(trim(e, ';'), ';;') AS s, f FROM e1),
         p2 AS (SELECT unnest(list_transform(range(1, len(s)),
                        j -> s[j] || ' ' || s[j+1])) AS pair, f FROM s2),
         b2 AS (SELECT pair FROM p2 GROUP BY 1
                ORDER BY sum(f) DESC, pair LIMIT 1),
         e2 AS (SELECT w, replace(e, ';' || replace(b.pair, ' ', ';;') || ';',
                                  ';' || replace(b.pair, ' ', '') || ';') AS e, f
                FROM e1, b2 b),
         s3 AS (SELECT string_split(trim(e, ';'), ';;') AS s, f FROM e2),
         p3 AS (SELECT unnest(list_transform(range(1, len(s)),
                        j -> s[j] || ' ' || s[j+1])) AS pair, f FROM s3),
         b3 AS (SELECT pair FROM p3 GROUP BY 1
                ORDER BY sum(f) DESC, pair LIMIT 1),
         e3 AS (SELECT w, replace(e, ';' || replace(b.pair, ' ', ';;') || ';',
                                  ';' || replace(b.pair, ' ', '') || ';') AS e, f
                FROM e2, b3 b),
         s4 AS (SELECT string_split(trim(e, ';'), ';;') AS s, f FROM e3),
         p4 AS (SELECT unnest(list_transform(range(1, len(s)),
                        j -> s[j] || ' ' || s[j+1])) AS pair, f FROM s4),
         b4 AS (SELECT pair FROM p4 GROUP BY 1
                ORDER BY sum(f) DESC, pair LIMIT 1),
         e4 AS (SELECT w, replace(e, ';' || replace(b.pair, ' ', ';;') || ';',
                                  ';' || replace(b.pair, ' ', '') || ';') AS e, f
                FROM e3, b4 b),
         vs AS (SELECT w, CAST(len(string_split(trim(e, ';'), ';;')) AS BIGINT) AS ns
                FROM e4),
         dw AS (
           SELECT doc_id, unnest(regexp_split_to_array(
                    trim(regexp_replace(lower(nfc_normalize(text)), '[^\p{L}]+', ' ', 'g')),
                    '\s+')) AS w
           FROM documents)
         SELECT doc_id, CAST(sum(ns) AS BIGINT) AS n_subwords
         FROM dw JOIN vs USING (w) WHERE len(w) >= 1
         GROUP BY 1 ORDER BY doc_id""",

    "q_wordpiece_train" ->
      s"""WITH ${wpTrainCtes(4)}
         SELECT merge_ix, pair, score_microbits, n FROM (
           SELECT CAST(1 AS INT) AS merge_ix, pair, score_microbits, n FROM b1
           UNION ALL SELECT 2, pair, score_microbits, n FROM b2
           UNION ALL SELECT 3, pair, score_microbits, n FROM b3
           UNION ALL SELECT 4, pair, score_microbits, n FROM b4)
         ORDER BY merge_ix""",

    // Same four training iterations, then the vocab (initial symbols ∪
    // merge products) and one greedy-match stage per consumed position
    // (8 = the corpus's max word length).
    "q_wordpiece_encode" ->
      s"""WITH ${wpTrainCtes(4)}${wpGreedyCtes(4, 8)}
         SELECT w AS word, acc AS pieces,
                CAST(len(string_split(acc, ' ')) AS INT) AS n_pieces
         FROM st8 ORDER BY word""",

    // Same training + greedy stages, rolled up per document through the
    // distinct-word join.
    "q_wordpiece_oov" ->
      s"""WITH ${wpTrainCtes(4)}${wpGreedyCtes(4, 8)},
         enc AS (SELECT w, acc,
                        CAST(len(string_split(acc, ' ')) AS BIGINT) AS np
                 FROM st8),
         dw AS (
           SELECT doc_id, unnest(regexp_split_to_array(
                    trim(regexp_replace(lower(nfc_normalize(text)), '[^\\p{L}]+', ' ', 'g')),
                    '\\s+')) AS w
           FROM documents)
         SELECT doc_id,
                count(*) AS n_words,
                CAST(sum(np) AS BIGINT) AS n_pieces,
                CAST(sum(CASE WHEN acc = '[UNK]' THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_unk,
                round(CAST(sum(CASE WHEN acc = '[UNK]' THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS unk_frac
         FROM dw JOIN enc USING (w) WHERE len(w) >= 1
         GROUP BY doc_id ORDER BY doc_id""",

    // byte-fallback twin: training + greedy replay unchanged (reads the
    // ASCII corpus); the served word stream adds a CJK word to every 5th
    // doc — missed enc lookups are exactly the fallback words, counting
    // octet_length(encode(w)) UTF-8 byte pieces; n_unk is structurally 0
    "q_wordpiece_byte_fallback" ->
      s"""WITH ${wpTrainCtes(4)}${wpGreedyCtes(4, 8)},
         enc AS (SELECT w, acc,
                        CAST(len(string_split(acc, ' ')) AS BIGINT) AS np
                 FROM st8 WHERE acc <> '[UNK]'),
         dw AS (
           SELECT doc_id, unnest(regexp_split_to_array(
                    trim(regexp_replace(lower(nfc_normalize(
                      CASE WHEN doc_id % 5 = 0
                           THEN text || ' ' || chr(26085) || chr(26412)
                                || chr(35486)
                           ELSE text END)), '[^\\p{L}]+', ' ', 'g')),
                    '\\s+')) AS w
           FROM documents)
         SELECT doc_id,
                count(*) AS n_words,
                CAST(sum(coalesce(np, octet_length(encode(dw.w))))
                  AS BIGINT) AS n_pieces,
                CAST(0 AS BIGINT) AS n_unk,
                round(CAST(0 AS DOUBLE) / count(*), 6) AS unk_frac
         FROM dw LEFT JOIN enc USING (w) WHERE len(dw.w) >= 1
         GROUP BY doc_id ORDER BY doc_id""",

    // chunk i covers tokens [i*24, i*24+32); n_chunks = 1 + ceil(max(n-32,0)/24)
    "q_chunk_docs" ->
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
           FROM documents WHERE doc_id < 100
         ), ix AS (
           SELECT doc_id, w, CAST(i AS INT) AS chunk_ix
           FROM (SELECT doc_id, w,
                   unnest(range(0, 1 + (greatest(len(w) - 32, 0) + 23) // 24)) AS i
                 FROM toks)
         )
         SELECT doc_id, chunk_ix,
                array_to_string(w[chunk_ix * 24 + 1 : chunk_ix * 24 + 32], ' ')
                  AS chunk_text,
                CAST(least(32, len(w) - chunk_ix * 24) AS INT) AS n_tokens
         FROM ix ORDER BY doc_id, chunk_ix""",

    // replays Search.packSequences: md5-shard, per-shard token cumsum,
    // slice docs at 512-token sequence boundaries (range() is exclusive
    // so +1 mirrors Spark's inclusive sequence())
    "q_pack_sequences" ->
      """WITH base AS (
           SELECT doc_id,
                  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS nt,
                  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) % 4 AS shard
           FROM documents WHERE length(trim(text)) > 0
         ), cum AS (
           SELECT doc_id, nt, shard,
                  CAST(sum(nt) OVER (PARTITION BY shard ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS e
           FROM base
         ), sl AS (
           SELECT shard, doc_id, e - nt AS s, e,
                  unnest(range((e - nt) // 512, (e - 1) // 512 + 1)) AS seq_id
           FROM cum
         )
         SELECT CAST(shard AS BIGINT) AS shard, CAST(seq_id AS BIGINT) AS seq_id,
                doc_id,
                CAST(greatest(s - seq_id * 512, 0) AS BIGINT) AS tok_offset,
                CAST(least(e, (seq_id + 1) * 512) - greatest(s, seq_id * 512)
                     AS BIGINT) AS n_tokens
         FROM sl ORDER BY shard, seq_id, doc_id""",

    "q_embed_centroid" ->
      (s"""SELECT label, CAST(d AS INT) AS dim, count(*) AS n_vecs,
            round(CAST(sum(CAST(round(CAST(embedding[d] AS DOUBLE), 6)
                AS DECIMAL(27,8))) AS DOUBLE) / count(*), 6) AS centroid
          FROM embeddings CROSS JOIN range(1, $EmbDim + 1) AS r(d)
          GROUP BY 1, 2 ORDER BY 1, 2"""),

    "q_json_props" ->
      """SELECT event_type, count(*) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           round(CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
                 / count(*), 6) AS avg_k,
           max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
         FROM events GROUP BY 1 ORDER BY 1""",
  )

  // The incremental trainer is rule-for-rule identical to the naive one
  // (LlmSpec pins it), so the SAME four-iteration DuckDB replay is its
  // oracle — defined by reference so the two gates stay in lock-step.
  // The unicode fixture queries likewise share the base trainer replays
  // verbatim: a leading CTE shadows the `documents` view with the same
  // derived corpus the Spark side builds (decomposed e → NFC é, ä).
  private val UniDocsCte: String =
    "documents AS MATERIALIZED (SELECT * REPLACE (" +
      "replace(replace(text, 'e', 'e' || chr(769)), 'a', chr(228)) AS text" +
      ") FROM main.documents), " // main. = the view, not this CTE

  def oracleSql: Map[String, String] =
    baseOracleSql +
      ("q_bpe_train_incr" -> baseOracleSql("q_bpe_train")) +
      ("q_wordpiece_train_incr" -> baseOracleSql("q_wordpiece_train")) +
      ("q_bpe_train_unicode" ->
        baseOracleSql("q_bpe_train").replaceFirst("WITH ", "WITH " + UniDocsCte)) +
      ("q_wordpiece_train_unicode" ->
        baseOracleSql("q_wordpiece_train").replaceFirst("WITH ", "WITH " + UniDocsCte)) +
      ("q_unigram_vocab_unicode" ->
        baseOracleSql("q_unigram_vocab").replaceFirst("WITH ", "WITH " + UniDocsCte)) +
      ("q_dedup_incremental" -> baseOracleSql("q_dedup_cross")) +
      // streaming text MinHash admission, single-batch backfill: the
      // stream-static band join + per-doc dedupe state equals the batch
      // indexed join — same pairs, same oracle
      ("q_stream_minhash_neardup" -> baseOracleSql("q_dedup_cross")) +
      ("q_stream_token_budget" -> baseOracleSql("q_token_budget")) +
      // streaming near-dup gate, single-batch backfill: the stream-static
      // join + per-image dedupe state equals the batch indexed join —
      // same pairs, same oracle
      ("q_stream_image_neardup" -> baseOracleSql("q_image_neardup_incr")) +
      // streaming video gate backfill ≡ the batch indexed video join
      ("q_stream_video_neardup" -> baseOracleSql("q_video_neardup_incr")) +
      // persisted-IVF serving is value-identical to the inline trained
      // path (same centroids, same deterministic assignment, shared tail)
      ("q_ann_ivf_indexed" -> baseOracleSql("q_ann_ivf_trained")) +
      // persisted SQ8 serving ≡ the fit+serve query: the stored params
      // ARE sq8Params(full corpus) (fixture saves over the same table),
      // codes/fold/tie-break identical, only the storage differs
      ("q_ann_sq8_indexed" -> baseOracleSql("q_ann_sq8")) +
      // stream-maintained metric cache serves the same additive-partial
      // merge as the batch save+append cache: both must equal the direct
      // raw-fact aggregate, so the direct oracle transfers verbatim
      ("q_stream_metric_cache" -> baseOracleSql("q_metric_cache")) +
      // manifest-planned serve of the zorder box: file skipping never
      // changes values, so the raw-table replay transfers verbatim
      ("q_manifest_skip" -> baseOracleSql("q_zorder_skip")) +
      // streaming IVF-SQ8 backfill ≡ the batch indexed serve: same
      // persisted artifact, same projection-ranked probes, same
      // dequantized fold and topk_by tail
      ("q_stream_ann_sq8" -> baseOracleSql("q_ann_ivfsq8")) +
      // streaming substring admission backfill ≡ the batch indexed
      // matches: the HOF run fold over per-pair position sets is
      // spec-pinned value-identical to the window formulation
      ("q_stream_substr_admit" -> baseOracleSql("q_substr_admit")) +
      // append-maintained index serves value-identically to the rebuilt
      // one (cumulative __gf__ + crossed-gram hot set = the rebuild's
      // pushed-cap row set, parity spec-pinned in LlmSpec)
      ("q_substr_admit_incr" -> baseOracleSql("q_substr_admit")) +
      // streaming nprobe=2 serving backfill ≡ the batch probe query:
      // same fit (the persisted fixture replays kmeansFitSqrtK iters=2),
      // same probe ORDER (the window-free array_sort rank is spec-pinned
      // value-identical to the window), same topk_by tail
      ("q_stream_ann_probe" -> baseOracleSql("q_ann_ivf_probe")) +
      // WAT link rows reduce to the SAME distinct non-self domain edge
      // set the HTML extraction yields (fixture construction), so the
      // PageRank output is identical — oracle shared by reference
      ("q_pagerank_wat" -> baseOracleSql("q_pagerank_links")) +
      // takedown → compact → atomic swap → serve-through-view is
      // value-identical to serving the takedown table directly
      ("q_dedup_promote" -> baseOracleSql("q_dedup_takedown")) +
      // streaming embedding admission backfill ≡ the batch indexed
      // admission — same pairs, same oracle
      ("q_stream_ivf_neardup" -> baseOracleSql("q_ann_ivf_admit")) +
      // streaming audio gate backfill ≡ the batch indexed audio join
      ("q_stream_audio_neardup" -> baseOracleSql("q_audio_neardup_incr")) +
      // streaming spectral image gate backfill ≡ the batch indexed join
      ("q_stream_image_spectral" -> baseOracleSql("q_image_spectral_incr")) +
      // persisted unigram serving is value-identical to the inline fit
      ("q_unigram_segment_served" -> baseOracleSql("q_unigram_segment")) +
      // persisted-model serving is value-identical to the inline trainer
      ("q_lm_kn5_persisted" -> baseOracleSql("q_lm_kn5")) +
      // delta-maintained model ≡ full refit on the combined slice
      // (%8∈{0,4} ⟺ %4==0): counts merge additively, lower levels
      // re-derive — same level tables, so the same per-level profile
      ("q_lm_kn5_delta" -> baseOracleSql("q_lm_kn_profile")) +
      ("q_multimodal_jpeg_prog" -> baseOracleSql("q_multimodal_jpeg")) +
      // tokenizer report: REUSE each family's full per-doc replay as a
      // subquery and aggregate — the single source of truth per family
      // per-lang fertility: REUSE the full per-doc byte-of-truth replay
      // (q_bpe_subwords) as a subquery, join per-doc word/char stats,
      // roll up by lang; integer sums + one correctly-rounded division
      ("q_tokenizer_fertility" -> {
        val sub = baseOracleSql("q_bpe_subwords")
        s"""WITH stats AS MATERIALIZED (
             SELECT d.doc_id, d.lang, count(*) AS nw,
                    CAST(sum(len(t.w)) AS BIGINT) AS nc
             FROM documents d,
                  LATERAL unnest(regexp_split_to_array(
                    trim(regexp_replace(lower(nfc_normalize(d.text)),
                      '[^\\p{L}]+', ' ', 'g')), '\\s+')) AS t(w)
             WHERE len(t.w) >= 1
             GROUP BY 1, 2),
           sub AS MATERIALIZED ($sub)
           SELECT lang,
                  CAST(sum(nw) AS BIGINT) AS n_words,
                  CAST(sum(nc) AS BIGINT) AS n_chars,
                  CAST(sum(s.n_subwords) AS BIGINT) AS n_subwords,
                  round(CAST(sum(s.n_subwords) AS DOUBLE)
                        / CAST(sum(nw) AS DOUBLE), 6) AS subwords_per_word,
                  round(CAST(sum(nc) AS DOUBLE)
                        / CAST(sum(s.n_subwords) AS DOUBLE), 6)
                    AS chars_per_subword
           FROM stats JOIN sub s USING (doc_id)
           GROUP BY lang ORDER BY lang"""
      }) +
      ("q_tokenizer_compare" -> {
        val b = baseOracleSql
        val chars =
          """SELECT CAST(sum(len(w)) AS BIGINT) AS n_chars FROM (
               SELECT unnest(regexp_split_to_array(
                 trim(regexp_replace(lower(nfc_normalize(text)),
                   '[^\p{L}]+', ' ', 'g')), '\s+')) AS w
               FROM documents) WHERE len(w) >= 1"""
        s"""SELECT family, n_subwords, n_chars,
                round(CAST(n_chars AS DOUBLE) / CAST(n_subwords AS DOUBLE), 6)
                  AS chars_per_subword
            FROM (
              SELECT 'bpe' AS family,
                     CAST(sum(n_subwords) AS BIGINT) AS n_subwords
              FROM (${b("q_bpe_subwords")})
              UNION ALL
              SELECT 'unigram', CAST(sum(n_pieces) AS BIGINT)
              FROM (${b("q_unigram_segment")})
              UNION ALL
              SELECT 'wordpiece', CAST(sum(n_pieces) AS BIGINT)
              FROM (${b("q_wordpiece_oov")})
            ) f CROSS JOIN ($chars) c
            ORDER BY family"""
      }) +
      ("q_stream_domain_cap" -> baseOracleSql("q_domain_cap"))

  /** WordPiece training replay: `iters` unrolled merge iterations. Each
    * iteration aggregates pair counts AND symbol counts from the current
    * word state, scores every pair in integer micro-bits
    * (round((ln n − ln n_a − ln n_b)·1e6) — Wordpiece.scala's exact
    * arithmetic), picks (score DESC, pair ASC), and applies the merge via
    * the `;sym;` delimiter replace (the q_bpe_train encoding, first char
    * plain / continuations `##`-prefixed, no end marker). `e*`/`s*`/`y*`/
    * `b*` are diamond-referenced → AS MATERIALIZED (CLAUDE.md CTE rule). */
  private def wpTrainCtes(iters: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""w0 AS (
         SELECT unnest(regexp_split_to_array(
                  trim(regexp_replace(lower(nfc_normalize(text)), '[^\\p{L}]+', ' ', 'g')),
                  '\\s+')) AS w
         FROM documents),
       wf AS MATERIALIZED (
         SELECT w, CAST(count(*) AS BIGINT) AS f
         FROM w0 WHERE len(w) >= 1 GROUP BY 1),
       e0 AS MATERIALIZED (
         SELECT ';' || substr(w, 1, 1) ||
                CASE WHEN len(w) > 1
                     THEN ';;' || array_to_string(list_transform(
                            range(2, len(w) + 1),
                            i -> '##' || substr(w, i, 1)), ';;')
                     ELSE '' END || ';' AS e, f
         FROM wf)"""
    for (i <- 1 to iters) {
      val p = i - 1
      sb ++= s""",
       s$i AS MATERIALIZED (
         SELECT string_split(trim(e, ';'), ';;') AS s, f FROM e$p),
       p$i AS (SELECT pair, CAST(sum(f) AS BIGINT) AS n FROM (
                 SELECT unnest(list_transform(range(1, len(s)),
                          j -> s[j] || ' ' || s[j+1])) AS pair, f FROM s$i)
               GROUP BY 1),
       y$i AS MATERIALIZED (
         SELECT sym, CAST(sum(f) AS BIGINT) AS sn FROM (
           SELECT unnest(s) AS sym, f FROM s$i) GROUP BY 1),
       b$i AS MATERIALIZED (
         SELECT pair, n,
                CAST(round((ln(CAST(n AS DOUBLE)) - ln(CAST(a.sn AS DOUBLE))
                  - ln(CAST(b.sn AS DOUBLE))) * 1000000) AS BIGINT)
                  AS score_microbits
         FROM p$i
         JOIN y$i a ON a.sym = string_split(pair, ' ')[1]
         JOIN y$i b ON b.sym = string_split(pair, ' ')[2]
         ORDER BY score_microbits DESC, pair LIMIT 1),
       e$i AS MATERIALIZED (
         SELECT replace(e, ';' || replace(b.pair, ' ', ';;') || ';',
                        ';' || string_split(b.pair, ' ')[1] ||
                        CASE WHEN string_split(b.pair, ' ')[2] LIKE '##%'
                             THEN substr(string_split(b.pair, ' ')[2], 3)
                             ELSE string_split(b.pair, ' ')[2] END || ';') AS e, f
         FROM e$p, b$i b)"""
    }
    sb.toString
  }

  /** WordPiece serving replay appended after [[wpTrainCtes]]: the vocab =
    * every initial symbol (from s1) ∪ each merge's product, then `stages`
    * unrolled greedy longest-match steps — stage k advances every
    * unfinished word by its longest matching piece (row_number by body
    * length; at most one piece can match per length, so no tie-break is
    * needed) or marks it `[UNK]` (the all-or-nothing rule). `stages` must
    * be ≥ the corpus's max word length (each stage consumes ≥ 1 char) —
    * and that invariant is ENFORCED, not assumed: the final stage stamps
    * any still-unfinished word with a `[TRUNCATED:…]` sentinel that can
    * never match the Spark side's full tokenization, so a data change
    * introducing longer words turns the gate red instead of silently
    * emitting a partial piece string. */
  private def wpGreedyCtes(iters: Int, stages: Int): String = {
    val sb = new StringBuilder
    val merged = (1 to iters).map(i => s"SELECT pair FROM b$i")
      .mkString(" UNION ALL ")
    sb ++= s""",
       vocab AS MATERIALIZED (
         SELECT DISTINCT sym AS piece FROM (SELECT unnest(s) AS sym FROM s1)
         UNION
         SELECT string_split(pair, ' ')[1] ||
                CASE WHEN string_split(pair, ' ')[2] LIKE '##%'
                     THEN substr(string_split(pair, ' ')[2], 3)
                     ELSE string_split(pair, ' ')[2] END AS piece
         FROM ($merged)),
       st0 AS (SELECT w, 0 AS pos, '' AS acc, FALSE AS unk FROM wf)"""
    for (k <- 1 to stages) {
      val p = k - 1
      sb ++= s""",
       mk$k AS (
         SELECT w, piece, body_len,
                row_number() OVER (PARTITION BY w ORDER BY body_len DESC) AS rn
         FROM (
           SELECT s.w, v.piece,
                  CASE WHEN v.piece LIKE '##%' THEN len(v.piece) - 2
                       ELSE len(v.piece) END AS body_len
           FROM st$p s JOIN vocab v
             ON s.pos < len(s.w) AND NOT s.unk
            AND ((s.pos > 0) = (v.piece LIKE '##%'))
            AND substr(s.w, s.pos + 1,
                  CASE WHEN v.piece LIKE '##%' THEN len(v.piece) - 2
                       ELSE len(v.piece) END)
                = CASE WHEN v.piece LIKE '##%' THEN substr(v.piece, 3)
                       ELSE v.piece END) t),
       st$k AS MATERIALIZED (
         SELECT s.w,
           CASE WHEN s.pos >= len(s.w) OR s.unk THEN s.pos
                WHEN m.piece IS NULL THEN len(s.w)
                ELSE s.pos + m.body_len END AS pos,
           CASE WHEN s.pos >= len(s.w) OR s.unk THEN s.acc
                WHEN m.piece IS NULL THEN '[UNK]'
                WHEN $k = $stages AND s.pos + m.body_len < len(s.w)
                  -- loud invariant guard: a word still unfinished after
                  -- the last stage means stages < max word length; the
                  -- sentinel can never match the Spark native's output
                  THEN '[TRUNCATED:' || s.w || ']'
                WHEN s.acc = '' THEN m.piece
                ELSE s.acc || ' ' || m.piece END AS acc,
           (s.unk OR (s.pos < len(s.w) AND m.piece IS NULL)) AS unk
         FROM st$p s LEFT JOIN (
           SELECT w, piece, body_len FROM mk$k WHERE rn = 1) m
           ON s.w = m.w)"""
    }
    sb.toString
  }

  /** Shared DuckDB CTE chain replaying the MinHash+LSH pipeline
    * (word-3-gram shingles, 8-hash string-min signature, 4×2 bands,
    * band-join candidates, exact-Jaccard verify at 0.8). `RECURSIVE` so
    * q_dedup_clusters can append a recursive closure CTE. */
  /** Transitive closure of `pairs` into `clusters(doc_id, cluster_id)` —
    * appended after [[MinhashPairsCtes]] (whose WITH RECURSIVE header the
    * `reach` CTE relies on). Shared by q_dedup_clusters / q_dedup_apply so
    * the closure formulation can never desynchronize between them. */
  /** q_pagerank oracle: the 5 power-iteration rounds unrolled as chained
    * CTEs (AS MATERIALIZED — the chain is a diamond over edges/deg/nodes;
    * naive inlining re-expands shared CTEs exponentially). Integer
    * fixed-point shares replay Graph.pageRank exactly: `//` is DuckDB's
    * floor division and every operand is positive. */
  /** The synthetic link-graph fixture shared by q_pagerank and q_hits
    * (a `def`, so no companion init-order hazard): 0..4 out-links per doc
    * by doc_id%5, dst wrapping mod n. */
  private def LinkFixtureCtes: String =
    """edges AS MATERIALIZED (
        SELECT d.doc_id AS src,
               (d.doc_id * 31 + t.j * 17)
                 % (SELECT count(*) FROM main.documents) AS dst
        FROM documents d, LATERAL unnest(range(1, 5)) AS t(j)
        WHERE t.j <= d.doc_id % 5),
      nodes AS MATERIALIZED (
        SELECT src AS node FROM edges UNION SELECT dst FROM edges)"""

  /** q_pagerank_links oracle: replays the deterministic link fixture on
    * the parquet original (each doc links to srcs[(doc_id·7+j·13) mod 20]
    * for j ≤ doc_id mod 4; relative/javascript noise anchors never become
    * edges), reduces to distinct non-self registrable-domain edges, maps
    * domains to the same 60-bit md5-prefix ids as
    * [[graft.llm.Graph.pageRankDomains]], and unrolls 3 integer PageRank
    * rounds (the [[PageRankSql]] round template). */
  private lazy val PageRankLinksSql: String = {
    val rounds = (1 to 3).map { i =>
      s"""c$i AS MATERIALIZED (
        SELECT e.dst AS node,
               sum((r.r * 850000) // (1000000 * g.d)) AS c
        FROM edges e
        JOIN r${i - 1} r ON r.node = e.src
        JOIN deg g ON g.src = e.src
        GROUP BY 1),
      r$i AS MATERIALIZED (
        SELECT n2.node, 150000 + coalesce(c.c, 0) AS r
        FROM nodes n2 LEFT JOIN c$i c ON c.node = n2.node)"""
    }.mkString(",\n")
    s"""WITH $LinksEdgeCtes,
      deg AS MATERIALIZED (SELECT src, count(*) AS d FROM edges GROUP BY 1),
      r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
      $rounds
      SELECT m.domain, CAST(r.r AS BIGINT) AS rank_micro
      FROM doms m
      JOIN r3 r
        ON r.node = CAST(concat('0x', substr(md5(m.domain), 1, 15)) AS BIGINT)
      ORDER BY m.domain"""
  }

  /** The deterministic link-fixture edge CTEs shared by
    * q_pagerank_links / q_hits_links (edges_d = distinct non-self
    * registrable-domain pairs replaying the href construction;
    * edges/nodes = the 60-bit md5-prefix id graph; doms = the domain
    * dictionary for the join back). */
  private def LinksEdgeCtes: String =
    """srcs AS MATERIALIZED (
        SELECT source, row_number() OVER (ORDER BY source) - 1 AS k
        FROM (SELECT DISTINCT source FROM documents)),
      edges_d AS MATERIALIZED (
        SELECT DISTINCT d.source || '.example' AS src_domain,
               s2.source || '.example' AS dst_domain
        FROM documents d,
             LATERAL unnest(range(1, 4)) AS t(j),
             srcs s2
        WHERE t.j <= d.doc_id % 4
          AND s2.k = (d.doc_id * 7 + t.j * 13)
                       % (SELECT count(*) FROM srcs)
          AND d.source <> s2.source),
      edges AS MATERIALIZED (
        SELECT CAST(concat('0x', substr(md5(src_domain), 1, 15)) AS BIGINT) AS src,
               CAST(concat('0x', substr(md5(dst_domain), 1, 15)) AS BIGINT) AS dst
        FROM edges_d),
      nodes AS MATERIALIZED (
        SELECT src AS node FROM edges UNION SELECT dst FROM edges),
      doms AS (SELECT src_domain AS domain FROM edges_d
               UNION SELECT dst_domain FROM edges_d)"""

  /** q_hits_links oracle: [[HitsSql]]'s 3 unrolled hub/authority rounds
    * over the extracted-link domain graph ([[LinksEdgeCtes]]), ranks
    * joined back to the domain dictionary. */
  private lazy val HitsLinksSql: String = {
    val rounds = (1 to 3).map { i =>
      s"""ar$i AS MATERIALIZED (
        SELECT e.dst AS node, sum(h.h) AS ar
        FROM edges e JOIN h${i - 1} h ON h.node = e.src
        GROUP BY 1),
      a$i AS MATERIALIZED (
        SELECT ar$i.node,
               (ar$i.ar * 1000000) // (SELECT max(ar) FROM ar$i) AS a
        FROM ar$i),
      hr$i AS MATERIALIZED (
        SELECT e.src AS node, sum(a$i.a) AS hr
        FROM edges e JOIN a$i ON a$i.node = e.dst
        GROUP BY 1),
      h$i AS MATERIALIZED (
        SELECT n2.node,
               coalesce((hr$i.hr * 1000000) // (SELECT max(hr) FROM hr$i),
                 0) AS h
        FROM nodes n2 LEFT JOIN hr$i ON hr$i.node = n2.node)"""
    }.mkString(",\n")
    s"""WITH $LinksEdgeCtes,
      h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS h FROM nodes),
      $rounds
      SELECT m.domain,
             CAST(coalesce(h3.h, 0) AS BIGINT) AS hub_micro,
             CAST(coalesce(a3.a, 0) AS BIGINT) AS auth_micro
      FROM doms m
      LEFT JOIN h3 ON h3.node =
        CAST(concat('0x', substr(md5(m.domain), 1, 15)) AS BIGINT)
      LEFT JOIN a3 ON a3.node =
        CAST(concat('0x', substr(md5(m.domain), 1, 15)) AS BIGINT)
      ORDER BY m.domain"""
  }

  /** q_pagerank_incr oracle: the base chain (edges j∈1..2, 5 cold
    * rounds — replaying the persisted fixture's stored ranks) feeds w0
    * over the MERGED node set (new nodes coalesce to the cold
    * 1 000 000), then 2 warm rounds on the merged edges — exactly
    * [[graft.llm.Graph.pageRankWarmRanks]]'s computation. */
  private lazy val PageRankIncrSql: String = {
    def rounds(eTbl: String, degTbl: String, nodesTbl: String,
        r0: String, pfx: String, cnt: Int): String =
      (1 to cnt).map { i =>
        val p = if (i == 1) r0 else s"$pfx${i - 1}"
        s"""c$pfx$i AS MATERIALIZED (
          SELECT e.dst AS node,
                 sum((r.r * 850000) // (1000000 * g.d)) AS c
          FROM $eTbl e
          JOIN $p r ON r.node = e.src
          JOIN $degTbl g ON g.src = e.src
          GROUP BY 1),
        $pfx$i AS MATERIALIZED (
          SELECT n2.node, 150000 + coalesce(c.c, 0) AS r
          FROM $nodesTbl n2 LEFT JOIN c$pfx$i c ON c.node = n2.node)"""
      }.mkString(",\n")
    s"""WITH eb AS MATERIALIZED (
        SELECT d.doc_id AS src,
               (d.doc_id * 31 + t.j * 17)
                 % (SELECT count(*) FROM main.documents) AS dst
        FROM documents d, LATERAL unnest(range(1, 3)) AS t(j)
        WHERE t.j <= d.doc_id % 5),
      ed AS MATERIALIZED (
        SELECT d.doc_id AS src,
               (d.doc_id * 31 + t.j * 17)
                 % (SELECT count(*) FROM main.documents) AS dst
        FROM documents d, LATERAL unnest(range(3, 5)) AS t(j)
        WHERE t.j <= d.doc_id % 5),
      em AS MATERIALIZED (SELECT * FROM eb UNION ALL SELECT * FROM ed),
      nodesb AS MATERIALIZED (
        SELECT src AS node FROM eb UNION SELECT dst FROM eb),
      degb AS MATERIALIZED (SELECT src, count(*) AS d FROM eb GROUP BY 1),
      rb0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodesb),
      ${rounds("eb", "degb", "nodesb", "rb0", "rb", 5)},
      nodesm AS MATERIALIZED (
        SELECT src AS node FROM em UNION SELECT dst FROM em),
      degm AS MATERIALIZED (SELECT src, count(*) AS d FROM em GROUP BY 1),
      w0 AS MATERIALIZED (
        SELECT n2.node, CAST(coalesce(r.r, 1000000) AS BIGINT) AS r
        FROM nodesm n2 LEFT JOIN rb5 r ON r.node = n2.node),
      ${rounds("em", "degm", "nodesm", "w0", "w", 2)}
      SELECT node, CAST(r AS BIGINT) AS rank_micro FROM w2 ORDER BY node"""
  }

  private lazy val PageRankSql: String = {
    val rounds = (1 to 5).map { i =>
      s"""c$i AS MATERIALIZED (
        SELECT e.dst AS node,
               sum((r.r * 850000) // (1000000 * g.d)) AS c
        FROM edges e
        JOIN r${i - 1} r ON r.node = e.src
        JOIN deg g ON g.src = e.src
        GROUP BY 1),
      r$i AS MATERIALIZED (
        SELECT n2.node, 150000 + coalesce(c.c, 0) AS r
        FROM nodes n2 LEFT JOIN c$i c ON c.node = n2.node)"""
    }.mkString(",\n")
    s"""WITH $LinkFixtureCtes,
      deg AS MATERIALIZED (SELECT src, count(*) AS d FROM edges GROUP BY 1),
      r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
      $rounds
      SELECT node, CAST(r AS BIGINT) AS rank_micro FROM r5 ORDER BY node"""
  }

  /** q_hits oracle: 3 hub/authority rounds unrolled (AS MATERIALIZED —
    * each raw frame feeds both its max subquery and the scaled select).
    * `//` floor division on positive operands replays Graph.hits' exact
    * pmod form; DuckDB sums go through HUGEINT, hence the final BIGINT
    * casts. */
  private lazy val HitsSql: String = {
    val rounds = (1 to 3).map { i =>
      s"""ar$i AS MATERIALIZED (
        SELECT e.dst AS node, sum(h.h) AS ar
        FROM edges e JOIN h${i - 1} h ON h.node = e.src
        GROUP BY 1),
      a$i AS MATERIALIZED (
        SELECT ar$i.node,
               (ar$i.ar * 1000000) // (SELECT max(ar) FROM ar$i) AS a
        FROM ar$i),
      hr$i AS MATERIALIZED (
        SELECT e.src AS node, sum(a$i.a) AS hr
        FROM edges e JOIN a$i ON a$i.node = e.dst
        GROUP BY 1),
      h$i AS MATERIALIZED (
        SELECT n2.node,
               coalesce((hr$i.hr * 1000000) // (SELECT max(hr) FROM hr$i),
                 0) AS h
        FROM nodes n2 LEFT JOIN hr$i ON hr$i.node = n2.node)"""
    }.mkString(",\n")
    s"""WITH $LinkFixtureCtes,
      h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS h FROM nodes),
      $rounds
      SELECT n.node,
             CAST(coalesce(h3.h, 0) AS BIGINT) AS hub_micro,
             CAST(coalesce(a3.a, 0) AS BIGINT) AS auth_micro
      FROM nodes n
      LEFT JOIN h3 ON h3.node = n.node
      LEFT JOIN a3 ON a3.node = n.node
      ORDER BY n.node"""
  }

  private val ClosureCtes: String =
    """, nodes AS (
         SELECT doc_a AS id FROM pairs UNION SELECT doc_b FROM pairs
       ), edges AS (
         SELECT doc_a AS a, doc_b AS b FROM pairs
         UNION SELECT doc_b, doc_a FROM pairs
       ), reach AS (
         SELECT id AS src, id AS dst FROM nodes
         UNION
         SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
       ), clusters AS (
         SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY 1
       )
    """

  /** `maxBucketSize` > 0 replays Dedup.minhashPairs' hot-bucket cap: one
    * windowed count per (band, hash) key filters band rows whose bucket
    * exceeds the cap, exactly like the Spark side's count-over-window —
    * keep both formulations parameterized the same way so a capped query
    * can never silently desynchronize from its oracle (round-3 ADVICE). */
  /** One boilerplate string, shared verbatim by the skew query and its
    * oracle: injected into 10% of docs it collapses them into ONE LSH
    * bucket in EVERY band — the hot-bucket shape that makes an uncapped
    * band self-join quadratic. */
  private val BoilerplateText =
    "subscribe to our newsletter for updates and special offers today"

  private def minhashPairsCtes(maxBucketSize: Int = 0,
      corpusSql: String = "SELECT doc_id, text FROM documents"): String = {
    val bandCte =
      if (maxBucketSize <= 0)
        """), band AS (
         SELECT doc_id, b,
                md5(array_to_string(list_transform(sig[(b-1)*2+1:(b-1)*2+2],
                      v -> CAST(v AS VARCHAR)), '|')) AS bh
         FROM sig, range(1, 5) AS r(b)"""
      else
        s"""), band_all AS (
         SELECT doc_id, b,
                md5(array_to_string(list_transform(sig[(b-1)*2+1:(b-1)*2+2],
                      v -> CAST(v AS VARCHAR)), '|')) AS bh
         FROM sig, range(1, 5) AS r(b)
       ), band AS (
         SELECT doc_id, b, bh FROM (
           SELECT doc_id, b, bh, count(*) OVER (PARTITION BY b, bh) AS bn
           FROM band_all) t
         WHERE bn <= $maxBucketSize"""
    s"""WITH RECURSIVE corpus AS (
         $corpusSql
       ), toks AS (
         SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM corpus
       ), sh AS (
         SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
                  i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS sh
         FROM toks WHERE len(w) >= 3
       ), sig AS (
         SELECT doc_id, sh, list_transform(range(1, 9),
                  h -> list_min(list_transform(sh,
                         s -> ((2*h+1) * CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT)
                               + 1000000007*h) % 2147483647))) AS sig
         FROM sh
       $bandCte
       ), cand AS (
         SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
         FROM band a JOIN band c ON a.b = c.b AND a.bh = c.bh AND a.doc_id < c.doc_id
       ), pairs AS (
         SELECT doc_a, doc_b, jaccard FROM (
           SELECT doc_a, doc_b,
                  round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
                        len(list_distinct(x.sh || y.sh)), 6) AS jaccard
           FROM cand JOIN sh x ON x.doc_id = doc_a JOIN sh y ON y.doc_id = doc_b) t
         WHERE jaccard >= 0.8
       )
    """
  }

  private lazy val MinhashPairsCtes: String = minhashPairsCtes()

  /** One corpus side of the cross-corpus minhash-join oracle: tokens →
    * shingles → signature → band hashes, CTE names suffixed so two sides
    * coexist in one WITH chain (mirrors Dedup.minhashJoin's per-side
    * feature build; same parameters as [[minhashPairsCtes]]). */
  private def minhashSideCtes(sfx: String, pred: String): String =
    s"""toks$sfx AS (
         SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
         FROM documents WHERE $pred
       ), sh$sfx AS (
         SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
                  i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS sh
         FROM toks$sfx WHERE len(w) >= 3
       ), sig$sfx AS (
         SELECT doc_id, sh, list_transform(range(1, 9),
                  h -> list_min(list_transform(sh,
                         s -> ((2*h+1) * CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT)
                               + 1000000007*h) % 2147483647))) AS sig
         FROM sh$sfx
       ), band$sfx AS (
         SELECT doc_id, b,
                md5(array_to_string(list_transform(sig[(b-1)*2+1:(b-1)*2+2],
                      v -> CAST(v AS VARCHAR)), '|')) AS bh
         FROM sig$sfx, range(1, 5) AS r(b)
       )"""

  /** DuckDB inline expression builders for the embedding oracles: an
    * explicit left-fold dot product in double precision (bit-identical to
    * the Spark side's aggregate(zip_with(...)) fold over the same element
    * order — 0.0+p1 = p1 exactly, so list_reduce's first-element seed
    * matches) and the 4-bit sign-LSH bucket. Dim 64 per TESTDATA. */
  /** SemDeDup knobs, shared verbatim by the Spark query and its oracle so
    * they can never desynchronize. Threshold 0.45 sits just under this
    * synthetic corpus's max pairwise cosine (~0.55; near-orthogonal
    * vectors — the paper's 0.9+ regime would match zero pairs here) and
    * yields a sparse duplicate graph. The k predicate is floor(sqrt(n))
    * on both engines. */
  private val SemThreshold: Double = 0.45
  private val SemMaxCell: Int = 256
  private val SemKPredSql: String =
    "vec_id < (SELECT CAST(floor(sqrt(count(*))) AS BIGINT) FROM embeddings)"

  /** Shared trained-IVF CTE chain: seed centroids (`initPred`), two
    * unrolled Lloyd's iterations, final assignment
    * `sf(vec_id, embedding, cell)`. Appended tails serve nprobe=1
    * (`q_ann_ivf_trained`), nprobe=2 (`q_ann_ivf_probe`), and the
    * SemDeDup cells (`q_semdedup`) — all three now seed k = floor(sqrt(n))
    * cells, replaying [[graft.llm.Embeddings.kmeansFitSqrtK]]. */
  private def kmeansCtes(initPred: String): String =
    "WITH " + kmeansChain(initPred, "embeddings", "", EmbDim)

  /** The WITH-body of one Lloyd's chain (seed → 2 iterations → final
    * assignment), CTE names suffixed with `sfx` and reading `corpus`
    * (vec_id, embedding) with `dim` components — so several chains (e.g.
    * one per PQ segment slice) compose in one statement. Yields
    * `c2$sfx` (cid, cv) and `sf$sfx` (vec_id, embedding, cell).
    * `l2 = true` replays the residual-quantizer metric
    * (vec_argmax_cell_l2): score = round(v·cv − (cv·cv)/2, 6) — the
    * argmin-L2 equivalent — instead of the rounded cosine. */
  private def kmeansChain(initPred: String, corpus: String, sfx: String,
      dim: Int, l2: Boolean = false): String =
    s"""init$sfx AS (
         SELECT vec_id AS cid,
                list_transform(embedding, v -> CAST(v AS DOUBLE)) AS cv
         FROM $corpus WHERE $initPred
       ), ${kmeansIterSql(s"init$sfx", s"a1$sfx", s"s1$sfx", s"m1$sfx", s"c1$sfx", corpus, dim, l2)},
       ${kmeansIterSql(s"c1$sfx", s"a2$sfx", s"s2$sfx", s"m2$sfx", s"c2$sfx", corpus, dim, l2)},
       af$sfx AS (
         SELECT e.vec_id, e.embedding, cc.cid,
                row_number() OVER (PARTITION BY e.vec_id ORDER BY
                  ${argmaxScoreSql("e.embedding", "cc.cv", l2)} DESC NULLS LAST,
                  cc.cid) AS rn
         FROM $corpus e CROSS JOIN c2$sfx cc
       ), sf$sfx AS (SELECT vec_id, embedding, cid AS cell FROM af$sfx WHERE rn = 1)"""

  /** The assignment score one Lloyd's step ranks by: rounded cosine
    * (vec_argmax_cell) or the L2-argmin equivalent v·cv − ‖cv‖²/2
    * (vec_argmax_cell_l2 — exact-halving division, subtraction after). */
  private def argmaxScoreSql(e: String, cv: String, l2: Boolean): String =
    if (l2)
      s"""round((${dotSql(e, cv)}) - (${dotSql(cv, cv)}) / 2, 6)"""
    else
      s"""round((${dotSql(e, cv)}) /
              (sqrt(${dotSql(e, e)}) * sqrt(${dotSql(cv, cv)})), 6)"""

  private lazy val KmeansCtes: String = kmeansCtes(SemKPredSql)

  /** Shared residual-IVF-PQ replay chain (q_ann_ivfpq_residual and its
    * rerank twin): coarse chain → exact residuals → two L2
    * residual-codebook Lloyd chains → per-row reconstruction ĉ+r̂ with
    * its norm (the stored __xn__) → nprobe=2 probe cells with the q·c
    * term → `adc(query_id, vec_id, score)`. */
  private lazy val ResidualAdcCtes: String =
    KmeansCtes + s""",
         res AS MATERIALIZED (
           SELECT s.vec_id,
                  list_transform(range(1, 65),
                    i -> CAST(s.embedding[i] AS DOUBLE) - c.cv[i]) AS rv
           FROM sf s JOIN c2 c ON c.cid = s.cell),
         resc0 AS (SELECT vec_id, rv[1:32] AS embedding FROM res),
         resc1 AS (SELECT vec_id, rv[33:64] AS embedding FROM res),
         ${kmeansChain("vec_id < 4", "resc0", "r0", 32, l2 = true)},
         ${kmeansChain("vec_id < 4", "resc1", "r1", 32, l2 = true)},
         rec0 AS (
           SELECT s.vec_id, s.cell, f0.cell AS code0, f1.cell AS code1,
                  list_transform(range(1, 33), i -> c.cv[i] + b0.cv[i]) ||
                  list_transform(range(1, 33), i -> c.cv[i + 32] + b1.cv[i])
                    AS xh
           FROM sf s
           JOIN c2 c ON c.cid = s.cell
           JOIN sfr0 f0 ON f0.vec_id = s.vec_id
           JOIN c2r0 b0 ON b0.cid = f0.cell
           JOIN sfr1 f1 ON f1.vec_id = s.vec_id
           JOIN c2r1 b1 ON b1.cid = f1.cell),
         rec AS MATERIALIZED (
           SELECT vec_id, cell, code0, code1,
                  sqrt(${dotSql("xh", "xh")}) AS xn
           FROM rec0),
         qr AS MATERIALIZED (
           SELECT vec_id AS query_id, embedding AS qe,
                  sqrt(${dotSql("embedding", "embedding")}) AS qn
           FROM embeddings WHERE vec_id < 2),
         pc AS (
           SELECT query_id, qe, qn, cid AS qcell,
                  ${dotSql("qe", "cv")} AS qc
           FROM (
             SELECT q.query_id, q.qe, q.qn, cc.cid, cc.cv,
                    row_number() OVER (PARTITION BY q.query_id ORDER BY
                      round((${dotSql("q.qe", "cc.cv")}) /
                            (q.qn * sqrt(${dotSql("cc.cv", "cc.cv")})), 6)
                        DESC,
                      cc.cid) AS crk
             FROM qr q CROSS JOIN c2 cc) t
           WHERE crk <= 2),
         adc AS MATERIALIZED (
           SELECT pc.query_id, r.vec_id,
                  round((pc.qc + ${dotSql("pc.qe[1:32]", "b0.cv")}
                               + ${dotSql("pc.qe[33:64]", "b1.cv")})
                        / (pc.qn * r.xn), 6) AS score
           FROM pc
           JOIN rec r ON r.cell = pc.qcell AND r.vec_id <> pc.query_id
           JOIN c2r0 b0 ON b0.cid = r.code0
           JOIN c2r1 b1 ON b1.cid = r.code1)"""

  /** Embedding dimensionality of the shipped testdata (TESTDATA.md).
    * DuckDB's range() cannot take lateral column refs, so the per-dim
    * explode in the k-means oracle needs the constant; the dot-product
    * folds are len()-driven and dimension-agnostic. */
  private val EmbDim = 64

  /** One unrolled Lloyd's iteration as DuckDB CTEs: assignment (argmax
    * rounded cosine, cid tie-break — the exact fold order the Spark side
    * uses), then the per-(cell, dim) mean as an exact decimal sum of
    * 6-dp-rounded members (order-independent on both engines). */
  private def kmeansIterSql(centSrc: String, a: String, s: String,
      mn: String, c: String, corpus: String = "embeddings",
      dim: Int = EmbDim, l2: Boolean = false): String =
    s"""$a AS (
          SELECT e.vec_id, e.embedding, cc.cid,
                 row_number() OVER (PARTITION BY e.vec_id ORDER BY
                   ${argmaxScoreSql("e.embedding", "cc.cv", l2)} DESC NULLS LAST,
                   cc.cid) AS rn
          FROM $corpus e CROSS JOIN $centSrc cc
        ), $s AS (SELECT vec_id, embedding, cid AS cell FROM $a WHERE rn = 1
        ), $mn AS (
          SELECT cell, d,
                 round(CAST(sum(CAST(round(CAST(embedding[d] AS DOUBLE), 6)
                     AS DECIMAL(27,8))) AS DOUBLE) / count(*), 6) AS m
          FROM $s CROSS JOIN range(1, $dim + 1) AS r(d)
          GROUP BY cell, d
        ), $c AS (SELECT cell AS cid, list(m ORDER BY d) AS cv
                  FROM $mn GROUP BY cell)"""

  /** Shared unigram-LM training CTEs (q_unigram_vocab / q_unigram_segment):
    * [a-z]+ word freqs → substring candidates (len ≤ 4) → top-120 ∪ all
    * single chars → integer micro-bit costs. Mirrors Unigram.fitVocab
    * knob-for-knob. */
  private val UnigramTrainCtes: String =
    """toksu AS (
         SELECT doc_id, unnest(regexp_split_to_array(
           trim(regexp_replace(lower(nfc_normalize(text)), '[^\p{L}]+', ' ', 'g')), '\s+')) AS w
         FROM documents
       ), wordsu AS MATERIALIZED (SELECT doc_id, w FROM toksu WHERE len(w) >= 1),
       wfu AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM wordsu GROUP BY 1),
       candu AS (
         SELECT substr(w, CAST(i AS INT), CAST(l AS INT)) AS piece, f
         FROM (SELECT w, f, unnest(range(1, len(w) + 1)) AS i FROM wfu) t1,
              LATERAL unnest(range(1, least(4, len(w) - i + 1) + 1)) t2(l)
       ), pcu AS (SELECT piece, CAST(sum(f) AS BIGINT) AS n FROM candu GROUP BY 1),
       rankedu AS (
         SELECT piece, n, row_number() OVER (ORDER BY n DESC, piece) AS r
         FROM pcu
       ), selu AS MATERIALIZED (
         SELECT piece, n FROM rankedu WHERE r <= 120
         UNION SELECT piece, n FROM rankedu WHERE len(piece) = 1
       ), totu AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM selu)"""

  /** Unrolled integer-composite Viterbi DP over distinct words (stages
    * 1..maxWordLen=12): a_p carries min composite cost to segment each
    * word's p-char prefix; composite = cost_microbits*64 + n_pieces, so
    * min-sum = lexicographic (cost, pieces) — exactly UnigramModel's DP. */
  private val UnigramDpCtes: String =
    s"""vocabu AS (
         SELECT piece,
                CAST(round((ln(CAST(t AS DOUBLE)) - ln(CAST(n AS DOUBLE)))
                           * 1000000) AS BIGINT) * 64 + 1 AS cc
         FROM selu, totu
       ), dwu AS (SELECT DISTINCT w FROM wordsu WHERE len(w) <= 12),
       tru0 AS (
         SELECT w, j, j + l AS i,
                substr(w, CAST(j + 1 AS INT), CAST(l AS INT)) AS piece
         FROM (SELECT w, unnest(range(0, len(w))) AS j FROM dwu) t,
              LATERAL unnest(range(1, least(4, len(w) - j) + 1)) u(l)
       ), ${unigramDpRound("", "vocabu")}"""

  /** One DP round (prefix-parameterized so EM round 2 can re-run the
    * SAME unrolled Viterbi with re-estimated costs): joins the shared
    * tru0 transition frame against `costCte` (piece, cc) and rolls the
    * 12 stages under `$pfx`-prefixed names. */
  private def unigramDpRound(pfx: String, costCte: String): String = {
    val stages = (1 to 12).map { i =>
      s"""${pfx}su$i AS (
           SELECT t.w, CAST($i AS BIGINT) AS p, min(d.c + t.cc) AS c
           FROM ${pfx}tru t JOIN ${pfx}au${i - 1} d
             ON d.w = t.w AND d.p = t.j
           WHERE t.i = $i GROUP BY t.w
         ), ${pfx}au$i AS MATERIALIZED (
           SELECT * FROM ${pfx}au${i - 1} UNION ALL SELECT * FROM ${pfx}su$i)"""
    }.mkString(",\n")
    s"""${pfx}tru AS MATERIALIZED (
         SELECT tru0.w, tru0.j, tru0.i, piece, v.cc
         FROM tru0 JOIN $costCte v USING (piece)),
       ${pfx}au0 AS MATERIALIZED (
         SELECT w, CAST(0 AS BIGINT) AS p, CAST(0 AS BIGINT) AS c FROM dwu),
       $stages,
       ${pfx}wstatu AS (SELECT w, c FROM ${pfx}au12 WHERE p = len(w))"""
  }

  /** (w, x)-keyed EXCLUSION Viterbi replay (the unigram_viterbi_excl
    * native): the same 12 unrolled integer-DP stages as
    * [[unigramDpRound]], but transitions whose piece equals the pair's
    * excluded `x` are dropped. `pairsCte` must provide (w, x). */
  private def unigramExclDpRound(
      pfx: String, costCte: String, pairsCte: String): String = {
    val stages = (1 to 12).map { i =>
      s"""${pfx}sx$i AS (
           SELECT t.w, t.x, CAST($i AS BIGINT) AS p, min(d.c + t.cc) AS c
           FROM ${pfx}trx t JOIN ${pfx}ax${i - 1} d
             ON d.w = t.w AND d.x = t.x AND d.p = t.j
           WHERE t.i = $i GROUP BY t.w, t.x
         ), ${pfx}ax$i AS MATERIALIZED (
           SELECT * FROM ${pfx}ax${i - 1} UNION ALL SELECT * FROM ${pfx}sx$i)"""
    }.mkString(",\n")
    s"""${pfx}trx AS MATERIALIZED (
         SELECT p.w, p.x, t0.j, t0.i, t0.piece, v.cc
         FROM $pairsCte p
         JOIN tru0 t0 ON t0.w = p.w
         JOIN $costCte v ON v.piece = t0.piece
         WHERE t0.piece <> p.x),
       ${pfx}ax0 AS MATERIALIZED (
         SELECT w, x, CAST(0 AS BIGINT) AS p, CAST(0 AS BIGINT) AS c
         FROM $pairsCte),
       $stages,
       ${pfx}wstatx AS (SELECT w, x, c FROM ${pfx}ax12 WHERE p = len(w))"""
  }

  /** Hard-EM round replay appended after [[UnigramDpCtes]]: BACKTRACK the
    * best path of every reachable word (12 unrolled steps; at each
    * position the chosen transition is the SHORTEST piece achieving the
    * position's DP minimum — row_number over piece length ASC, exactly
    * the native's strict-<, l-ascending backpointer rule), weight pieces
    * by word frequency, prune to the top-`vocabSize` by (n DESC, piece),
    * re-add unused seed single chars at count max(n, 1), and re-cost in
    * integer micro-bits. */
  private def UnigramEmCtes(vocabSize: Int, pfx: String = "",
      floorCte: String = "selu"): String = {
    val steps = (1 to 12).map { k =>
      s"""${pfx}ch$k AS MATERIALIZED (
           SELECT w, pos, piece, j FROM (
             SELECT b.w, b.pos, t.piece, t.j,
                    row_number() OVER (PARTITION BY b.w
                                       ORDER BY t.i - t.j ASC) AS rn
             FROM ${pfx}bt${k - 1} b
             JOIN ${pfx}tru t ON t.w = b.w AND t.i = b.pos
             JOIN ${pfx}au12 dj ON dj.w = b.w AND dj.p = t.j
             JOIN ${pfx}au12 di ON di.w = b.w AND di.p = b.pos
             WHERE b.pos > 0 AND dj.c + t.cc = di.c) s
           WHERE rn = 1
         ), ${pfx}bt$k AS MATERIALIZED (SELECT w, j AS pos FROM ${pfx}ch$k)"""
    }.mkString(",\n")
    val allCh = (1 to 12).map(k => s"SELECT w, piece FROM ${pfx}ch$k")
      .mkString(" UNION ALL ")
    s"""${pfx}bt0 AS (SELECT w, len(w) AS pos FROM ${pfx}wstatu),
       $steps,
       ${pfx}emcnt AS MATERIALIZED (
         SELECT piece, CAST(sum(f) AS BIGINT) AS n
         FROM ($allCh) c JOIN wfu USING (w) GROUP BY 1
       ), ${pfx}emtop AS (
         SELECT piece, n, row_number() OVER (ORDER BY n DESC, piece) AS r
         FROM ${pfx}emcnt
       ), ${pfx}emsel AS MATERIALIZED (
         SELECT piece, n FROM ${pfx}emtop WHERE r <= $vocabSize
       ), ${pfx}emfloor AS (
         SELECT c.piece, greatest(coalesce(e.n, 0), 1) AS n
         FROM (SELECT piece FROM $floorCte WHERE len(piece) = 1) c
         LEFT JOIN ${pfx}emcnt e USING (piece)
         WHERE c.piece NOT IN (SELECT piece FROM ${pfx}emsel)
       ), ${pfx}emall AS MATERIALIZED (
         SELECT piece, n FROM ${pfx}emsel UNION ALL
         SELECT piece, n FROM ${pfx}emfloor
       ), ${pfx}emtot AS (
         SELECT CAST(sum(n) AS BIGINT) AS et FROM ${pfx}emall)"""
  }

  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a) + 1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"
  private def cosSql(a: String, b: String): String =
    s"(${dotSql(a, b)}) / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"
  /** Shared image-dHash replay CTEs (q_image_neardup /
    * q_stream_image_dedup): the 24 closed-form fixtures reduce to
    * per-(id, row) hash bytes — box = block at 72×64, so bits compare
    * block values directly. */
  private val ImageDhashCtes: String = imageDhashCtes(
    """SELECT doc_id AS id, doc_id % 8 AS g, doc_id // 8 AS j
           FROM documents WHERE doc_id < 24""")

  /** The GPT-2 pre-tokenizer as a DuckDB list expression over `text` —
    * the RE2-safe MULTISET replay of the exact (lookahead-bearing)
    * [[graft.llm.TextOps.Gpt2PretokPattern]], which RE2 cannot run
    * directly. Three independent extractions over the raw text:
    * (1) ` ?\S+` pieces (each \S run grabs ONE immediately-preceding
    * literal space — exactly the ` ?` prefix rule) re-tokenized by the
    * lookahead-free pattern (within a piece the patterns agree);
    * (2) each interior whitespace run `(\s+)\S`: its n−1-char prefix as
    * one token (the `\s+(?!\S)` backtrack) and, when the run's last
    * char is not a literal space, that char alone (the ` ?` branches
    * only attach 0x20); (3) the trailing `(\s+)$` run whole. Consumed
    * overlap across the three extractions is harmless — each is
    * computed on the raw text independently, and downstream consumes
    * token FREQUENCIES, not order (value-equality to the Java-regex
    * walk is spec-pinned in LlmSpec over adversarial whitespace). */
  private val Gpt2WordsSql: String = {
    val dev = graft.llm.TextOps.Gpt2PretokPatternNoLookahead.replace("'", "''")
    raw"""list_concat(
      flatten(list_transform(regexp_extract_all(text, ' ?\S+'),
        w -> regexp_extract_all(w, '$dev'))),
      list_concat(
        flatten(list_transform(regexp_extract_all(text, '(\s+)\S', 1), r ->
          list_concat(
            CASE WHEN len(r) >= 2 THEN [substr(r, 1, len(r)-1)]
                 ELSE CAST([] AS VARCHAR[]) END,
            CASE WHEN substr(r, len(r), 1) <> ' ' THEN [substr(r, len(r), 1)]
                 ELSE CAST([] AS VARCHAR[]) END))),
        CASE WHEN regexp_extract(text, '(\s+)$$', 1) <> ''
             THEN [regexp_extract(text, '(\s+)$$', 1)]
             ELSE CAST([] AS VARCHAR[]) END))"""
  }

  /** GENERATED byte-level BPE oracle (the q_bpe_bytes chain
    * parameterized by the tokenizer): `wordListSql` produces each
    * document's token list, four training iterations run over the
    * hex-pair byte seeding, then either the merge table (`subwords =
    * false`) or per-doc subword counts via the final vocabulary joined
    * back to the token stream. */
  private def byteBpeOracle(wordListSql: String, subwords: Boolean): String = {
    val iters = (1 to 4).map { i =>
      s"""s$i AS (SELECT w, string_split(trim(e, ';'), ';;') AS s, f
                FROM e${i - 1}),
         p$i AS (SELECT unnest(list_transform(range(1, len(s)),
                        j -> s[j] || ' ' || s[j+1])) AS pair, f FROM s$i),
         b$i AS (SELECT pair, CAST(sum(f) AS BIGINT) AS n FROM p$i
                GROUP BY 1 ORDER BY n DESC, pair LIMIT 1),
         e$i AS (SELECT w, replace(e, ';' || replace(b.pair, ' ', ';;') || ';',
                               ';' || replace(b.pair, ' ', '') || ';') AS e, f
                FROM e${i - 1}, b$i b)"""
    }.mkString(",\n         ")
    val subwordCtes =
      if (!subwords) ""
      else s""",
         vs AS (SELECT w,
                  CAST(len(string_split(trim(e, ';'), ';;')) AS BIGINT) AS ns
                FROM e4),
         dw AS (
           SELECT doc_id, unnest($wordListSql) AS w
           FROM documents)"""
    val tail =
      if (subwords)
        """SELECT doc_id, CAST(sum(ns) AS BIGINT) AS n_subwords
         FROM dw JOIN vs USING (w) WHERE len(w) >= 1
         GROUP BY 1 ORDER BY doc_id"""
      else
        """SELECT merge_ix, pair, n FROM (
           SELECT 1 AS merge_ix, pair, n FROM b1
           UNION ALL SELECT 2, pair, n FROM b2
           UNION ALL SELECT 3, pair, n FROM b3
           UNION ALL SELECT 4, pair, n FROM b4)
         ORDER BY merge_ix"""
    s"""WITH w AS (
           SELECT unnest($wordListSql) AS w
           FROM documents),
         wf AS (
           SELECT w, CAST(count(*) AS BIGINT) AS f
           FROM w WHERE len(w) >= 1 GROUP BY 1),
         e0 AS (
           SELECT w, ';' || array_to_string(
                    regexp_extract_all(lower(hex(encode(w))), '[0-9a-f]{2}'),
                    ';;') || ';;_;' AS e, f
           FROM wf),
         $iters$subwordCtes
         $tail"""
  }

  /** GENERATED persisted-serving byte-BPE oracle (q_bpe_bytes_served):
    * the four training iterations run over the TRAIN slice's
    * frequencies only (producing b1..b4 — the saved rule table), then
    * the rules replay over ALL distinct words of the serving corpus
    * (a0..a4 — byte seeding is total, so unseen words segment too) and
    * per-doc counts fold over the full corpus. */
  private def byteBpeServedOracle(trainPred: String): String = {
    val trainIters = (1 to 4).map { i =>
      s"""s$i AS (SELECT string_split(trim(e, ';'), ';;') AS s, f
                FROM e${i - 1}),
         p$i AS (SELECT unnest(list_transform(range(1, len(s)),
                        j -> s[j] || ' ' || s[j+1])) AS pair, f FROM s$i),
         b$i AS (SELECT pair, CAST(sum(f) AS BIGINT) AS n FROM p$i
                GROUP BY 1 ORDER BY n DESC, pair LIMIT 1),
         e$i AS (SELECT replace(e, ';' || replace(b.pair, ' ', ';;') || ';',
                               ';' || replace(b.pair, ' ', '') || ';') AS e, f
                FROM e${i - 1}, b$i b)"""
    }.mkString(",\n         ")
    val applyIters = (1 to 4).map { i =>
      s"""a$i AS (SELECT w, replace(e, ';' || replace(b.pair, ' ', ';;') || ';',
                               ';' || replace(b.pair, ' ', '') || ';') AS e
                FROM a${i - 1}, b$i b)"""
    }.mkString(",\n         ")
    s"""WITH dwa AS (
           SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS w
           FROM documents),
         wf AS (
           SELECT w, CAST(count(*) AS BIGINT) AS f
           FROM dwa WHERE ($trainPred) AND len(w) >= 1 GROUP BY 1),
         e0 AS (
           SELECT ';' || array_to_string(
                    regexp_extract_all(lower(hex(encode(w))), '[0-9a-f]{2}'),
                    ';;') || ';;_;' AS e, f
           FROM wf),
         $trainIters,
         wa AS (SELECT DISTINCT w FROM dwa WHERE len(w) >= 1),
         a0 AS (
           SELECT w, ';' || array_to_string(
                    regexp_extract_all(lower(hex(encode(w))), '[0-9a-f]{2}'),
                    ';;') || ';;_;' AS e
           FROM wa),
         $applyIters,
         vs AS (SELECT w,
                  CAST(len(string_split(trim(e, ';'), ';;')) AS BIGINT) AS ns
                FROM a4)
         SELECT doc_id, CAST(sum(ns) AS BIGINT) AS n_subwords
         FROM dwa JOIN vs USING (w) WHERE len(w) >= 1
         GROUP BY 1 ORDER BY doc_id"""
  }

  /** GENERATED video near-dup oracle: the clip population comes in as
    * `iiSql` (columns id, g, j, nf — pattern family, corner jitter,
    * frame count), frames sample every 2nd index below nf (bounded by
    * `maxNf`), each sampled frame replays the 9×8 block closed form into
    * 8 hash bytes, then the capped per-(frame, band, value) self-join,
    * per-frame popcount, and the all-aligned-frames pairing rule —
    * exactly [[graft.llm.Multimodal.videoNearDupPairs]] with
    * every = 2, maxHamming = 6, maxPerBucketSide = 2. */
  private def videoNearDupSql(iiSql: String, maxNf: Int): String =
    s"""WITH ${videoPairCtes(iiSql, maxNf)}
         SELECT a_id, b_id, max_hamming FROM vpairs
         ORDER BY a_id, b_id"""

  /** The full video pair-detection CTE chain through `vpairs`
    * (a_id, b_id, max_hamming) — shared by the pair query and the
    * cluster closure. */
  private def videoPairCtes(iiSql: String, maxNf: Int): String =
    s"""${videoDhashCtes(iiSql, maxNf)},
         vcapped AS (
           SELECT id, f, byy, bv
           FROM (SELECT id, f, byy, bv,
                        row_number() OVER (PARTITION BY f, byy, bv
                                           ORDER BY id) AS br
                 FROM vbytes)
           WHERE br <= 2),
         vcand AS (
           SELECT DISTINCT a.id AS a_id, b.id AS b_id, a.f
           FROM vcapped a JOIN vcapped b
             ON a.f = b.f AND a.byy = b.byy AND a.bv = b.bv AND a.id < b.id),
         vham AS (
           SELECT c.a_id, c.b_id, c.f,
                  CAST(sum(bit_count(xor(x.bv, y.bv))) AS BIGINT) AS ham
           FROM vcand c
           JOIN vbytes x ON x.id = c.a_id AND x.f = c.f
           JOIN vbytes y ON y.id = c.b_id AND y.f = c.f AND y.byy = x.byy
           GROUP BY 1, 2, 3),
         vok AS (SELECT a_id, b_id, f, ham FROM vham WHERE ham <= 6),
         vagg AS (
           SELECT a_id, b_id, CAST(count(*) AS BIGINT) AS m,
                  max(ham) AS max_hamming
           FROM vok GROUP BY 1, 2),
         vpairs AS (
           SELECT g.a_id, g.b_id, g.max_hamming
           FROM vagg g
           JOIN vnfall na ON na.id = g.a_id
           JOIN vnfall nb ON nb.id = g.b_id
           WHERE g.m = na.nf AND na.nf = nb.nf)"""

  /** The shared video-hash CTE prefix (vii → per-frame hash bytes +
    * per-clip sampled-frame counts): `iiSql` supplies (id, g, j, nf),
    * frames sample every 2nd index below nf (≤ `maxNf`), each sampled
    * frame replays the 9×8 block closed form into 8 bytes (`vbytes`),
    * `vnf` counts sampled frames per clip. */
  private def videoDhashCtes(iiSql: String, maxNf: Int): String =
    s"""vii AS ($iiSql),
         vfr AS (
           SELECT i.id, i.g, i.j, f.f
           FROM vii i CROSS JOIN range(0, $maxNf) f(f)
           WHERE f.f < i.nf AND f.f % 2 = 0),
         vvals AS MATERIALIZED (
           SELECT r.id, r.f, bx.bx, byy.byy,
                  (((37 + 11 * r.g) * bx.bx + (23 + 7 * r.g) * byy.byy
                    + 29 * r.f + 13 * r.g) % 97)
                    + CASE WHEN bx.bx = 0 AND byy.byy = 0 THEN r.j
                           ELSE 0 END AS v
           FROM vfr r
           CROSS JOIN range(0, 9) bx(bx)
           CROSS JOIN range(0, 8) byy(byy)),
         vbits AS (
           SELECT l.id, l.f, l.byy, l.bx,
                  CASE WHEN l.v > r.v THEN 1 ELSE 0 END AS bit
           FROM vvals l
           JOIN vvals r ON r.id = l.id AND r.f = l.f AND r.byy = l.byy
             AND r.bx = l.bx + 1
           WHERE l.bx < 8),
         vbytes AS MATERIALIZED (
           SELECT id, f, byy, CAST(sum(bit * (1 << bx)) AS BIGINT) AS bv
           FROM vbits GROUP BY 1, 2, 3),
         vnfall AS (
           SELECT id, CAST(count(*) AS BIGINT) AS nf
           FROM (SELECT DISTINCT id, f FROM vbytes) GROUP BY 1)"""

  /** GENERATED order-N interpolated-KN oracle (q_lm_kn5): tokenize, doc
    * N-grams, the raw top-level count table from the doc_id%4=0 slice,
    * recursive continuation-count derivation (level-k counts = distinct
    * left extensions among level-(k+1) seen grams), per-level context
    * aggregates, the scoring join, and the layered probability chain
    * using the SAME generated per-level formula the Spark lowering
    * compiles (LangModel.knLevelPSql) — order is the single parameter,
    * so both engines derive from one structure. */
  /** The gram + level-table CTE prefix shared by every order-N LM
    * oracle (scoring, profile): knx tokenization, kng doc N-grams, the
    * raw top-level count table from the doc_id%4=0 slice, and the
    * recursive level derivation (KN continuation counts, or Stupid
    * Backoff suffix-sums with `derivSum`), with optional KenLM-style
    * count pruning — the DERIVATION chain stays raw (knsr*), the STORED
    * tables (kns*) filter per-level, matching LangModel.knPruned. */
  private def knSeenPrefixSql(
      n: Int,
      prune: Seq[Long] = Seq.empty,
      derivSum: Boolean = false): String = {
    def slice(expr: String, lo: Int, hi: Int): String =
      s"array_to_string(string_split($expr, ' ')[$lo:$hi], ' ')"
    val gramBody = (0 until n).map(i => s"t[i+$i]").mkString(" || ' ' || ")
    val pruned = prune.exists(_ > 0)
    def thr(k: Int): Long =
      if (k >= 1 && k <= prune.length) prune(k - 1) else 0L
    val raw = if (pruned) "r" else ""
    val pruneCtes =
      if (!pruned) Seq.empty
      else (n to 1 by -1).map { k =>
        val w = if (thr(k) > 0) s" WHERE cnt$k > ${thr(k)}" else ""
        s"kns$k AS (SELECT * FROM knsr$k$w)"
      }
    val seenCtes = (((n - 1) to 1 by -1).map { k =>
      val agg = if (derivSum) s"sum(cnt${k + 1})" else "count(*)"
      s"""kns$raw$k AS MATERIALIZED (
           SELECT ${slice("g", 2, k + 1)} AS g,
                  CAST($agg AS BIGINT) AS cnt$k
           FROM kns$raw${k + 1} GROUP BY 1)"""
    } ++ pruneCtes).mkString(",\n         ")
    s"""knx AS (
           SELECT doc_id, regexp_split_to_array(
             trim(regexp_replace(lower(nfc_normalize(text)), '[^\\p{L}]+', ' ', 'g')),
             '\\s+') AS t
           FROM documents),
         kng AS MATERIALIZED (
           SELECT doc_id, unnest(list_transform(range(1, len(t) - ${n - 2}),
                    i -> $gramBody)) AS tg
           FROM knx WHERE len(t) >= $n AND t[1] <> ''),
         kns$raw$n AS MATERIALIZED (
           SELECT tg AS g, CAST(count(*) AS BIGINT) AS cnt$n FROM kng
           WHERE doc_id % 4 = 0 GROUP BY 1),
         $seenCtes"""
  }

  private def knNgramOracle(
      n: Int,
      prune: Seq[Long] = Seq.empty,
      derivSum: Boolean = false,
      pSql: Int => String = graft.llm.LangModel.knLevelPSql): String = {
    def slice(expr: String, lo: Int, hi: Int): String =
      s"array_to_string(string_split($expr, ' ')[$lo:$hi], ' ')"
    val ctxCtes = (n to 2 by -1).map { k =>
      s"""knc$k AS (
           SELECT ${slice("g", 1, k - 1)} AS c,
                  CAST(sum(cnt$k) AS BIGINT) AS tot$k,
                  CAST(count(*) AS BIGINT) AS nfw$k
           FROM kns$k GROUP BY 1)"""
    }.mkString(",\n         ")
    val joinCols = (n to 1 by -1).flatMap { k =>
      Seq(s"s$k.cnt$k") ++ (if (k >= 2) Seq(s"c$k.tot$k", s"c$k.nfw$k")
                            else Seq.empty)
    }.mkString(", ")
    val joins = (n to 1 by -1).map { k =>
      val gk = slice("g.tg", n - k + 1, n)
      val sj = s"LEFT JOIN kns$k s$k ON s$k.g = $gk"
      if (k >= 2)
        s"""$sj
           LEFT JOIN knc$k c$k ON c$k.c = ${slice("g.tg", n - k + 1, n - 1)}"""
      else sj
    }.mkString("\n           ")
    val pCtes = (1 to n).map { k =>
      val src = if (k == 1) "knj" else s"knp${k - 1}"
      s"""knp$k AS (
           SELECT *, ${pSql(k)} AS p$k
           FROM $src)"""
    }.mkString(",\n         ")
    s"""WITH ${knSeenPrefixSql(n, prune, derivSum)},
         $ctxCtes,
         knt1 AS (SELECT CAST(sum(cnt1) AS BIGINT) AS tot1 FROM kns1),
         knj AS (
           SELECT g.doc_id, $joinCols, t.tot1
           FROM kng g
           $joins
           CROSS JOIN knt1 t),
         $pCtes,
         knq AS (SELECT doc_id, p$n AS p FROM knp$n),
         knterm AS (SELECT doc_id, ${graft.llm.LangModel.KnTermSql} AS mb
                    FROM knq),
         knagg AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
                  CAST(sum(mb) AS BIGINT) AS s
           FROM knterm GROUP BY 1)
         SELECT d.doc_id,
                coalesce(a.n_ngrams, 0) AS n_ngrams,
                coalesce(round(CAST(a.s AS DOUBLE) / CAST(a.n_ngrams AS DOUBLE)
                               / 1000000.0, 6),
                         CAST(0 AS DOUBLE)) AS bits_per_ngram
         FROM (SELECT DISTINCT doc_id FROM documents) d
         LEFT JOIN knagg a USING (doc_id)
         ORDER BY doc_id"""
  }

  /** Shared audio-dHash replay CTEs (q_audio_neardup[_incr]): the 24
    * closed-form WAV fixtures reduce to per-(id, byte-row) hash bytes —
    * 65 floor-boundary energy boxes, HUGEINT cross-multiplied bits. */
  private val AudioDhashCtes: String =
    """ii AS (
           SELECT doc_id AS id, doc_id % 8 AS g, doc_id // 8 AS j,
                  240 + (doc_id % 8 % 7) * 40 AS n
           FROM documents WHERE doc_id < 24),
         sg AS MATERIALIZED (
           SELECT i.id, i.n, s.i,
                  ((7 * i.g + 13 * s.i) % 2048) - 1024
                    + CASE WHEN s.i < 4 THEN i.j ELSE 0 END AS v
           FROM ii i CROSS JOIN range(0, 480) s(i)
           WHERE s.i < i.n),
         ab AS MATERIALIZED (
           SELECT g.id, b.b,
                  CAST(sum(CAST(v AS BIGINT) * v) AS BIGINT) AS e,
                  CAST(count(*) AS BIGINT) AS c
           FROM sg g CROSS JOIN range(0, 65) b(b)
           WHERE g.i >= (b.b * g.n) // 65 AND g.i < ((b.b + 1) * g.n) // 65
           GROUP BY 1, 2),
         abits AS (
           SELECT l.id, l.b,
                  CASE WHEN CAST(l.e AS HUGEINT) * r.c
                            > CAST(r.e AS HUGEINT) * l.c
                       THEN 1 ELSE 0 END AS bit
           FROM ab l JOIN ab r ON r.id = l.id AND r.b = l.b + 1
           WHERE l.b < 64),
         bytes AS MATERIALIZED (
           SELECT id, b // 8 AS byy,
                  CAST(sum(bit * (1 << (b % 8))) AS BIGINT) AS bv
           FROM abits GROUP BY 1, 2)"""

  /** q_audio_neardup_spectral replay: the 24-clip fixture's three
    * per-group re-encode variants in closed form (j=1 2×-repeat
    * upsample +3 DC, j=2 2× gain −5 DC), 9 time boxes × 64
    * evenly-spaced taps computed DIRECTLY from the sample closed form
    * (no materialized waveform), the integer DFT tables embedded as
    * VALUES literals RENDERED FROM the Spark side's own
    * [[graft.llm.Multimodal.SpectralCos]]/[[graft.llm.Multimodal.SpectralSin]]
    * arrays (single source of truth — no cross-engine cos rounding
    * anywhere), band energies cs²+sn² in BIGINT, temporal-delta bits,
    * and the same capped band-join tail as the energy-delta oracle. */
  private lazy val AudioSpectralCtes: String = {
    val cosT = graft.llm.Multimodal.SpectralCos
    val sinT = graft.llm.Multimodal.SpectralSin
    val values = (for (b <- 0 until 8; p <- 0 until 64)
      yield s"($b,$p,${cosT(b)(p)},${sinT(b)(p)})").mkString(",")
    s"""ii AS (
           SELECT doc_id AS id, doc_id % 8 AS g, doc_id // 8 AS j,
                  240 + (doc_id % 8 % 7) * 40 AS n0
           FROM documents WHERE doc_id < 24),
         cl AS (
           SELECT id, g, j, n0,
                  CASE WHEN j = 1 THEN 2 * n0 ELSE n0 END AS nn
           FROM ii),
         taps AS (
           SELECT c.id, c.g, c.j, t.t, p.p,
                  ((64 * t.t + p.p) * c.nn) // 576 AS si
           FROM cl c CROSS JOIN range(0, 9) t(t) CROSS JOIN range(0, 64) p(p)),
         sv AS MATERIALIZED (
           SELECT id, t, p,
                  CASE j
                    WHEN 0 THEN ((7 * g + 13 * si) % 2048) - 1024
                    WHEN 1 THEN ((7 * g + 13 * (si // 2)) % 2048) - 1024 + 3
                    ELSE 2 * (((7 * g + 13 * si) % 2048) - 1024) - 5
                  END AS v
           FROM taps),
         tbl AS (SELECT * FROM (VALUES $values) AS t(band, p, ct, st)),
         eng AS MATERIALIZED (
           SELECT s.id, s.t, tb.band,
                  CAST(sum(CAST(s.v AS BIGINT) * tb.ct) AS BIGINT) AS cs,
                  CAST(sum(CAST(s.v AS BIGINT) * tb.st) AS BIGINT) AS sn
           FROM sv s JOIN tbl tb ON tb.p = s.p
           GROUP BY 1, 2, 3),
         en AS MATERIALIZED (
           SELECT id, t, band, cs * cs + sn * sn AS e FROM eng),
         abits AS (
           SELECT l.id, l.t AS byy, l.band AS bx,
                  CASE WHEN l.e > r.e THEN 1 ELSE 0 END AS bit
           FROM en l JOIN en r
             ON r.id = l.id AND r.band = l.band AND r.t = l.t + 1
           WHERE l.t < 8),
         bytes AS MATERIALIZED (
           SELECT id, byy, CAST(sum(bit * (1 << bx)) AS BIGINT) AS bv
           FROM abits GROUP BY 1, 2)"""
  }

  /** q_image_spectral_neardup replay: per-variant raster dims and value
    * transforms in closed form (j=1 2×-repeat upscale +3 brightness,
    * j=2 2× contrast −5), tap values computed DIRECTLY from the pixel
    * closed form at the 9×64 global-grid coordinates (upscale taps map
    * back through x//2, y//2 — the commuting-floor identity the Spark
    * hash relies on), the same embedded integer DFT tables as
    * [[AudioSpectralCtes]], band energies, temporal-delta bits, and the
    * capped band-join tail. */
  private lazy val ImageSpectralCtes: String = {
    val cosT = graft.llm.Multimodal.SpectralCos
    val sinT = graft.llm.Multimodal.SpectralSin
    val values = (for (b <- 0 until 8; p <- 0 until 64)
      yield s"($b,$p,${cosT(b)(p)},${sinT(b)(p)})").mkString(",")
    s"""ii AS (
           SELECT doc_id AS id, doc_id % 8 AS g, doc_id // 8 AS j,
                  24 + (doc_id % 8 % 5) * 4 AS w0,
                  18 + (doc_id % 8 % 3) * 6 AS h0
           FROM documents WHERE doc_id < 24),
         cl AS (
           SELECT id, g, j, w0, h0,
                  CASE WHEN j = 1 THEN 2 * w0 ELSE w0 END AS ww,
                  CASE WHEN j = 1 THEN 2 * h0 ELSE h0 END AS hh
           FROM ii),
         taps AS (
           SELECT c.id, c.g, c.j, t.t, p.p,
                  (p.p * c.ww) // 64 AS x,
                  (t.t * c.hh) // 9 AS y
           FROM cl c CROSS JOIN range(0, 9) t(t) CROSS JOIN range(0, 64) p(p)),
         sv AS MATERIALIZED (
           SELECT id, t, p,
                  CASE j
                    WHEN 0 THEN (7 * x + 13 * y + 3 * g) % 97 + 20
                    WHEN 1 THEN (7 * (x // 2) + 13 * (y // 2) + 3 * g) % 97
                                + 20 + 3
                    ELSE 2 * ((7 * x + 13 * y + 3 * g) % 97 + 20) - 5
                  END AS v
           FROM taps),
         tbl AS (SELECT * FROM (VALUES $values) AS t(band, p, ct, st)),
         eng AS MATERIALIZED (
           SELECT s.id, s.t, tb.band,
                  CAST(sum(CAST(s.v AS BIGINT) * tb.ct) AS BIGINT) AS cs,
                  CAST(sum(CAST(s.v AS BIGINT) * tb.st) AS BIGINT) AS sn
           FROM sv s JOIN tbl tb ON tb.p = s.p
           GROUP BY 1, 2, 3),
         en AS MATERIALIZED (
           SELECT id, t, band, cs * cs + sn * sn AS e FROM eng),
         abits AS (
           SELECT l.id, l.t AS byy, l.band AS bx,
                  CASE WHEN l.e > r.e THEN 1 ELSE 0 END AS bit
           FROM en l JOIN en r
             ON r.id = l.id AND r.band = l.band AND r.t = l.t + 1
           WHERE l.t < 8),
         bytes AS MATERIALIZED (
           SELECT id, byy, CAST(sum(bit * (1 << bx)) AS BIGINT) AS bv
           FROM abits GROUP BY 1, 2)"""
  }

  /** [[ImageDhashCtes]] parameterized by the (id, g, j) generator — the
    * corpus-scale query uses the same closed form over ALL doc_ids. */
  private def imageDhashCtes(iiSql: String): String =
    s"""ii AS ($iiSql),
         vals AS MATERIALIZED (
           SELECT i.id, bx.bx, byy.byy,
                  (((37 + 11 * i.g) * bx.bx + (23 + 7 * i.g) * byy.byy
                    + 13 * i.g) % 97) + 28
                    + CASE WHEN bx.bx = 0 AND byy.byy = 0 THEN i.j
                           ELSE 0 END AS v
           FROM ii i
           CROSS JOIN range(0, 9) bx(bx)
           CROSS JOIN range(0, 8) byy(byy)),
         bits AS (
           SELECT l.id, l.byy, l.bx,
                  CASE WHEN l.v > r.v THEN 1 ELSE 0 END AS bit
           FROM vals l
           JOIN vals r ON r.id = l.id AND r.byy = l.byy AND r.bx = l.bx + 1
           WHERE l.bx < 8),
         bytes AS MATERIALIZED (
           SELECT id, byy, CAST(sum(bit * (1 << bx)) AS BIGINT) AS bv
           FROM bits GROUP BY 1, 2)"""

  private val BktSql: String =
    "list_reduce(list_transform(range(1, 5), d -> CASE WHEN CAST(embedding[d] AS DOUBLE) >= 0 THEN (1 << (d - 1)) ELSE 0 END), (x, y) -> x + y)"

  /** Registrable-domain CASE, GENERATED from TextOps' PSL snapshot lists
    * (single source of truth — query and oracle cannot desynchronize).
    * Expects `ls` (label list), `k` (label count), `host` in scope. */
  private val PslDomainSql: String = {
    def inList(xs: Seq[String]) = xs.map(x => s"'$x'").mkString("(", ",", ")")
    s"""CASE
         WHEN k >= 4 AND array_to_string(ls[k-2:k], '.') IN ${inList(graft.llm.TextOps.PslSuffix3)}
              THEN array_to_string(ls[k-3:k], '.')
         WHEN k >= 2 AND array_to_string(ls[k-1:k], '.') IN ${inList(graft.llm.TextOps.PslException2)}
              THEN array_to_string(ls[k-1:k], '.')
         WHEN k >= 3 AND ls[k] IN ${inList(graft.llm.TextOps.PslWildcard1)}
              THEN array_to_string(ls[k-2:k], '.')
         WHEN k >= 3 AND array_to_string(ls[k-1:k], '.') IN ${inList(graft.llm.TextOps.PslSuffix2)}
              THEN array_to_string(ls[k-2:k], '.')
         WHEN k >= 3 AND array_to_string(ls[k-2:k], '.') IN ${inList(graft.llm.TextOps.PslSuffix3)}
              THEN array_to_string(ls[k-2:k], '.')
         WHEN k >= 2 THEN array_to_string(ls[k-1:k], '.')
         ELSE host END"""
  }

  /** Auto-bits twin of [[BktSql]]: bucket width from the 1-row `nb` CTE
    * (must be cross-joined in scope) instead of a hardcoded 4. */
  private val BktAutoSql: String =
    "list_reduce(list_transform(range(1, bits + 1), d -> CASE WHEN CAST(embedding[d] AS DOUBLE) >= 0 THEN (1 << (d - 1)) ELSE 0 END), (x, y) -> x + y)"

  /** Embeddings.autoBits replay: integer ceil-div + bit length (exact —
    * no float log2), clamped to [minBits, maxBits]. */
  private def nbCte(target: Int, minBits: Int, maxBits: Int): String =
    s"""nb AS (
         SELECT CAST(CASE WHEN q <= 1 THEN $minBits
                  ELSE greatest($minBits, least($maxBits, length(bin(q - 1))))
                  END AS BIGINT) AS bits
         FROM (SELECT (count(*) + $target - 1) // $target AS q
               FROM embeddings))"""

  /** Per-language stopword-count SQL over token list `w` (mirrors
    * TextOps.LangProfiles — keep in sync). */
  private def stopCountSql(lang: String): String = {
    val words = graft.llm.TextOps.LangProfiles.toMap.apply(lang)
      .map(w => s"'$w'").mkString(", ")
    s"len(list_filter(w, t -> t IN ($words)))"
  }

  /** Argmax-language CASE expression (ties → first profile, all-zero →
    * 'und'), mirroring TextOps.langId. */
  private val LangPredictSql: String = {
    val langs = graft.llm.TextOps.LangProfiles.map(_._1)
    val best = langs.map(stopCountSql).mkString("greatest(", ", ", ")")
    val arms = langs.init.map(l => s"WHEN ${stopCountSql(l)} = $best THEN '$l'")
      .mkString(" ")
    s"CASE WHEN $best = 0 THEN 'und' $arms ELSE '${langs.last}' END"
  }

  /** Shared greedy first-after step CTEs for the events funnel oracles:
    * step k = first matching event strictly after step k-1's match
    * ((user_id, ts) is unique in the events table, so ts-ordering equals
    * event-index ordering). */
  private val FunnelCtes: String =
    """WITH s0 AS (
         SELECT user_id, min(ts) AS t0 FROM events
         WHERE event_type = 'view' GROUP BY 1),
       s1 AS (
         SELECT e.user_id, min(e.ts) AS t1
         FROM events e JOIN s0 ON e.user_id = s0.user_id AND e.ts > s0.t0
         WHERE e.event_type = 'click' GROUP BY 1),
       s2 AS (
         SELECT e.user_id, min(e.ts) AS t2
         FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
         WHERE e.event_type = 'purchase' GROUP BY 1)
    """
}
