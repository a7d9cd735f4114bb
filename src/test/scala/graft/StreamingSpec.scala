package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col => sc}

import graft.funcs._
import graft.ir.Expr._
import graft.llm.TextOps
import graft.streaming.Streams

/** Structured-Streaming operator tests over MemoryStream micro-batches. */
class StreamingSpec extends GraftSuite {

  test("streaming exact dedup keeps first-seen doc per hash across batches") {
    val s = spark
    import s.implicits._
    val ms = MemoryStream[(Long, String)](s)
    val deduped = Streams.streamingExactDedup(
      ms.toDF.toDF("doc_id", "text"), "text")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      ms.addData((1L, "hello world"), (2L, "HELLO  world"), (3L, "other text"))
      q.processAllAvailable()
      // batch 2: a repeat of an already-seen hash plus a new doc
      ms.addData((4L, "hello world"), (5L, "brand new"))
      q.processAllAvailable()
      val out = spark.sql("SELECT doc_id FROM dedup_out ORDER BY doc_id")
        .collect().map(_.getLong(0)).toSeq
      // 2 normalizes to 1's hash (within-batch dup), 4 repeats it cross-batch
      assert(out === Seq(1L, 3L, 5L))
    } finally q.stop()
  }

  test("stateless markdown strip runs unchanged on a stream") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "# Head\n**bold** [x](http://y) rest"),
      (2L, "```\ncode # here\n```\nplain"),
      (3L, "> quote `tick` *star*"))
    val ms = MemoryStream[(Long, String)](s)
    val out = ms.toDF.toDF("doc_id", "md")
      .select(sc("doc_id"), TextOps.stripMarkdown(sc("md")).as("clean"))
    val q = out.writeStream.format("memory").queryName("mdstrip_out")
      .outputMode("append").start()
    try {
      ms.addData(docs.take(2): _*)
      q.processAllAvailable()
      ms.addData(docs.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.sql("SELECT doc_id, clean FROM mdstrip_out")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val batch = docs.toDF("doc_id", "md")
        .select(sc("doc_id"), TextOps.stripMarkdown(sc("md")).as("clean"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(streamed === batch && batch.size === 3)
    } finally q.stop()
  }

  test("streaming domain cap admits at most cap per domain across batches") {
    val s = spark
    import s.implicits._
    val ms = MemoryStream[(Long, String)](s)
    val capped = Streams.streamingDomainCap(
      ms.toDF.toDF("doc_id", "domain"), "domain", "doc_id", cap = 10)
    val q = capped.writeStream.format("memory").queryName("domcap_out")
      .outputMode("append").start()
    try {
      // batch 1: 8 docs in domain a (all admitted), 12 in b (10 admitted)
      ms.addData(((0L until 8L).map(i => (i, "a")) ++
        (100L until 112L).map(i => (i, "b"))): _*)
      q.processAllAvailable()
      // batch 2: 5 more in a (2 admitted — first-arrivals), 3 in b (0)
      ms.addData(((20L until 25L).map(i => (i, "a")) ++
        (200L until 203L).map(i => (i, "b"))): _*)
      q.processAllAvailable()
      val byDom = spark.sql(
        "SELECT domain, count(*) AS n FROM domcap_out GROUP BY domain")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byDom === Map("a" -> 10L, "b" -> 10L))
      // batch-1 'a' docs all admitted; exactly 2 of batch 2's five
      val aIds = spark.sql("SELECT doc_id FROM domcap_out WHERE domain = 'a'")
        .collect().map(_.getLong(0)).toSet
      assert((0L until 8L).forall(aIds.contains))
      assert(aIds.count(_ >= 20L) === 2)
    } finally q.stop()
  }

  test("streaming domain cap single-batch backfill equals the batch operator") {
    val s = spark
    import s.implicits._
    val d = (0L until 60L).map(i => (i, if (i % 3 == 0) "big.com" else "small.org"))
      .toDF("doc_id", "domain")
    // batch mode: flatMapGroupsWithState over one batch, empty state —
    // the in-batch (md5(id), id) ranking must reproduce the batch
    // operator's kept SET exactly
    val streamed = Streams.streamingDomainCap(d, "domain", "doc_id", cap = 10)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = graft.llm.TextOps.domainCap(d, "domain", "doc_id", cap = 10)
      .select(sc("doc_id"), sc("domain"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed === batch)
  }

  test("streaming token budget: cross-batch running sums, closed groups stay closed") {
    val s = spark
    import s.implicits._
    val ms = MemoryStream[(Long, String, String)](s)
    // 4-token docs; quota(en) = floor(0.5*40+0.5) = 20 tokens (5 docs),
    // quota(fr) = floor(0.25*40+0.5) = 10 tokens (2 docs); 'de' unweighted
    val admitted = Streams.streamingTokenBudget(
      ms.toDF.toDF("doc_id", "lang", "text"), "doc_id", "lang", "text",
      Map("en" -> 0.5, "fr" -> 0.25), budget = 40L)
    val q = admitted.writeStream.format("memory").queryName("tokbud_out")
      .outputMode("append").start()
    try {
      val txt = "one two three four"
      // batch 1: 3 en docs (12 tokens, all admit), 3 fr (only 2 admit), 2 de (none)
      ms.addData((0L until 3L).map(i => (i, "en", txt)) ++
        (100L until 103L).map(i => (i, "fr", txt)) ++
        (200L until 202L).map(i => (i, "de", txt)): _*)
      q.processAllAvailable()
      // batch 2: 4 more en docs — cum 12 → only 2 admit (20-token quota);
      // 1 more fr — fr cum is already 12 > 10: group closed
      ms.addData((10L until 14L).map(i => (i, "en", txt)) ++
        Seq((110L, "fr", txt)): _*)
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT doc_id, lang, n_tokens, cum_tokens FROM tokbud_out")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      val byLang = rows.groupBy(_._2).view.mapValues(_.length).toMap
      assert(byLang === Map("en" -> 5, "fr" -> 2))
      assert(rows.filter(_._2 == "en").map(_._4).sorted.toSeq ===
        Seq(4L, 8L, 12L, 16L, 20L)) // exact running sums across batches
      assert(rows.count(r => r._1 >= 10L && r._1 < 14L) === 2) // batch 2 admits
      // single-batch backfill ≡ the batch operator, rows and cums included
      val d = ((0L until 20L).map(i => (i, "en", txt)) ++
        (100L until 120L).map(i => (i, "fr", txt))).toDF("doc_id", "lang", "text")
      val wts = Seq(("en", 0.5), ("fr", 0.25)).toDF("lang", "weight")
      val batch = graft.llm.TextOps.tokenBudgetFill(
          d, "doc_id", "lang", "text", wts, budget = 40L)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      val backfill = Streams.streamingTokenBudget(
          d, "doc_id", "lang", "text", Map("en" -> 0.5, "fr" -> 0.25), 40L)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      assert(backfill === batch && batch.nonEmpty)
      // BOUNDED-selection path: quota(en) = 4 → heap capacity 5 against 20
      // nonzero docs (evictions exercised) + zero-token docs riding the
      // side buffer — still bit-identical to the batch operator
      val dz = ((0L until 20L).map(i => (i, "en", txt)) ++
        (50L until 55L).map(i => (i, "en", ""))).toDF("doc_id", "lang", "text")
      val batchZ = graft.llm.TextOps.tokenBudgetFill(
          dz, "doc_id", "lang", "text", Seq(("en", 0.5)).toDF("lang", "weight"),
          budget = 8L)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      val backfillZ = Streams.streamingTokenBudget(
          dz, "doc_id", "lang", "text", Map("en" -> 0.5), 8L)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      assert(backfillZ === batchZ && batchZ.nonEmpty)
    } finally q.stop()
  }

  test("streaming image dedup: first dHash wins across batches, min-id within") {
    val s = spark
    import s.implicits._
    def img(g: Int): Array[Byte] = graft.llm.Jpeg.encode(72, 64, (x, y) => {
      val bx = x / 8; val byy = y / 8
      (((37 + 11 * g) * bx + (23 + 7 * g) * byy + 13 * g) % 97) + 28
    })
    val ms = MemoryStream[(Long, Array[Byte])](s)
    val kept = Streams.streamingImageDedup(
      ms.toDF.toDF("doc_id", "payload"), "doc_id", "payload")
    val q = kept.writeStream.format("memory").queryName("imgdedup_out")
      .outputMode("append").start()
    try {
      // batch 1: two copies of pattern 0 (min id 3 wins), one pattern 1,
      // one garbage payload (drops — no hash, no decision)
      ms.addData((7L, img(0)), (3L, img(0)), (5L, img(1)),
        (9L, Array[Byte](1, 2, 3)))
      q.processAllAvailable()
      // batch 2: a LATER copy of pattern 0 (suppressed by state) and a
      // new pattern 2 (admitted)
      ms.addData((1L, img(0)), (8L, img(2)))
      q.processAllAvailable()
      val ids = spark.sql("SELECT doc_id FROM imgdedup_out")
        .collect().map(_.getLong(0)).toSet
      assert(ids === Set(3L, 5L, 8L))
    } finally q.stop()
  }

  test("streaming near-dup gate: stream-static join vs the persisted dHash index, batch parity") {
    val s = spark
    import s.implicits._
    def img(g: Int, j: Int): Array[Byte] = graft.llm.Jpeg.encode(72, 64,
      (x, y) => {
        val bx = x / 8; val byy = y / 8
        (((37 + 11 * g) * bx + (23 + 7 * g) * byy + 13 * g) % 97) + 28 +
          (if (bx == 0 && byy == 0) j else 0)
      })
    // corpus index: patterns 0..3 (ids 100..103), build-time cap
    val corpus = (0 until 4).map(g => (100L + g, img(g, 0)))
      .toDF("doc_id", "payload")
    graft.sources.ParquetIO.writeBucketed(
      graft.llm.Multimodal.dhashIndex(corpus, "doc_id", "payload",
        maxPerBucketSide = 2),
      "dhash_idx_stream", "/tmp/graft_dhash_idx/stream", "__bkey__", 4)
    try {
      val idx = s.table("dhash_idx_stream")
      val ms = MemoryStream[(Long, Array[Byte])](s)
      val flagged = Streams.streamingImageNearDup(
        ms.toDF.toDF("doc_id", "payload"), "doc_id", "payload", idx,
        maxHamming = 6)
      val q = flagged.writeStream.format("memory").queryName("neardup_out")
        .outputMode("append").start()
      try {
        // batch 1: a jittered copy of pattern 0 (flags vs 100), a novel
        // pattern (no match), garbage (drops)
        ms.addData((1L, img(0, 2)), (2L, img(6, 0)),
          (3L, Array[Byte](9, 9)))
        q.processAllAvailable()
        // batch 2: a copy of pattern 2 (flags vs 102) and a RE-SENT id 1
        // (state suppresses re-emission)
        ms.addData((4L, img(2, 1)), (1L, img(0, 2)))
        q.processAllAvailable()
        val rows = spark.sql("SELECT doc_id, b_id, hamming FROM neardup_out")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        assert(rows.map(t => (t._1, t._2)).toSet === Set((1L, 100L), (4L, 102L)))
        assert(rows.forall(_._3 <= 6))
        // batch parity: the same payloads through the batch indexed join
        val batch = graft.llm.Multimodal.imageNearDupJoinIndexed(
            Seq((1L, img(0, 2)), (2L, img(6, 0)), (4L, img(2, 1)))
              .toDF("doc_id", "payload"),
            "doc_id", "payload", idx, maxHamming = 6)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(rows.toSet === batch)
      } finally q.stop()
    } finally s.sql("DROP TABLE IF EXISTS dhash_idx_stream")
  }

  test("streaming text MinHash near-dup: stream-static join vs the persisted index, batch parity") {
    val s = spark
    import s.implicits._
    // word sequences long enough for stable 3-gram shingles; txt(g) is
    // the indexed corpus pattern, txt(g) + tail is a near-dup of it
    def txt(g: Int): String =
      (0 until 40).map(i => s"w${(g * 7 + i * 3) % 97}").mkString(" ")
    val corpus = (0 until 4).map(g => (100L + g, txt(g)))
      .toDF("doc_id", "text")
    graft.sources.ParquetIO.writeBucketed(
      graft.llm.Dedup.minhashIndex(corpus, "doc_id", "text"),
      "minhash_idx_stream", "/tmp/graft_minhash_idx/stream", "__bkey__", 4)
    try {
      val idx = s.table("minhash_idx_stream")
      val ms = MemoryStream[(Long, String)](s)
      val flagged = Streams.streamingMinhashNearDup(
        ms.toDF.toDF("doc_id", "text"), "doc_id", "text", idx)
      val q = flagged.writeStream.format("memory").queryName("mh_neardup_out")
        .outputMode("append").start()
      try {
        // batch 1: an EXACT copy of pattern 0 (identical token set →
        // identical signature → collides in every band, jaccard 1.0), a
        // novel doc (no match), a too-short doc (drops before hashing)
        ms.addData((1L, txt(0)), (2L, (0 until 40).map(i => s"z$i").mkString(" ")),
          (3L, "just two"))
        q.processAllAvailable()
        // batch 2: a jittered copy of pattern 2 and a RE-SENT id 1
        // (state suppresses re-emission)
        ms.addData((4L, txt(2) + " extra tail"), (1L, txt(0)))
        q.processAllAvailable()
        val rows = spark.sql(
            "SELECT left_id, right_id, jaccard FROM mh_neardup_out")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        assert(rows.map(t => (t._1, t._2)).toSet.contains((1L, 100L)))
        assert(rows.count(_._1 == 1L) === rows.filter(_._1 == 1L)
          .map(t => (t._1, t._2)).distinct.size) // no re-emission, no dup pairs
        // batch parity: the same documents through the batch indexed join
        val batch = graft.llm.Dedup.minhashJoinIndexed(
            Seq((1L, txt(0)),
              (2L, (0 until 40).map(i => s"z$i").mkString(" ")),
              (3L, "just two"), (4L, txt(2) + " extra tail"))
              .toDF("doc_id", "text"),
            "doc_id", "text", idx)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        assert(rows.toSet === batch)
      } finally q.stop()
    } finally s.sql("DROP TABLE IF EXISTS minhash_idx_stream")
  }

  test("streaming WARC ingestion: shards arriving across batches emit records exactly once and compose with dedup") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_warc_stream")
    def shard(name: String, recs: Seq[(String, String)]): Unit =
      graft.sources.Warc.write(dir.resolve(name).toString,
        recs.map { case (u, t) =>
          ("response", u, "text/plain", t.getBytes("UTF-8"))
        })
    shard("s1.warc.gz", Seq(
      ("https://a.example/1", "the quick brown fox"),
      ("https://a.example/2", "the quick brown fox"))) // in-shard dup
    val records = Streams.streamingWarcRecords(s, dir.toString + "/*.warc.gz")
      .withColumn("text", sc("payload").cast("string"))
      .select("url", "text")
    val cleaned = Streams.streamingExactDedup(records, "text")
    val q = cleaned.writeStream.format("memory").queryName("warc_stream_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // a later shard lands: a cross-shard duplicate AND a new page
      shard("s2.warc.gz", Seq(
        ("https://b.example/1", "THE  quick brown fox"), // norm-dup of s1
        ("https://b.example/2", "something genuinely new")))
      q.processAllAvailable()
      val urls = spark.sql("SELECT url FROM warc_stream_out")
        .collect().map(_.getString(0)).toSet
      assert(urls === Set("https://a.example/1", "https://b.example/2"))
    } finally q.stop()
  }

  test("streaming embedding admission: assign-probe-verify vs the persisted IVF index, batch parity") {
    val s = spark
    import s.implicits._
    val emb = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val scope = new graft.llm.CacheScope
    val cents = graft.llm.Embeddings.kmeansFitSqrtK(
      emb, "vec_id", "embedding", iters = 2, scope = scope)
    graft.llm.Embeddings.ivfIndexSave(emb, "vec_id", "embedding", cents,
      "ivf_stream", "/tmp/graft_ivf_idx/stream", buckets = 4)
    try {
      val idx = s.table("ivf_stream")
      // re-submit four corpus vectors under fresh ids: each must flag
      // its original at cosine 1.0 through the live gate
      val vecs = emb.where(sc("vec_id").isin(0L, 7L, 13L, 21L))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toMap
      val ms = MemoryStream[(Long, Seq[Float])](s)
      val flagged = graft.streaming.Streams.streamingIvfNearDup(
        ms.toDF.toDF("vec_id", "embedding"), "vec_id", "embedding",
        "/tmp/graft_ivf_idx/stream", idx, threshold = 0.8)
      val q = flagged.writeStream.format("memory").queryName("ivf_admit_out")
        .outputMode("append").start()
      try {
        ms.addData((100L, vecs(0L)), (107L, vecs(7L)))
        q.processAllAvailable()
        // batch 2: two more + a RE-SENT id 100 (state suppresses)
        ms.addData((113L, vecs(13L)), (121L, vecs(21L)), (100L, vecs(0L)))
        q.processAllAvailable()
        val rows = s.sql("SELECT left_id, right_id, cosine FROM ivf_admit_out")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        assert(rows.map(t => (t._1, t._2)).toSet ===
          Set((100L, 0L), (107L, 7L), (113L, 13L), (121L, 21L)))
        assert(rows.forall(_._3 === 1.0))
        // batch parity: the same vectors through the batch admission
        val batch = graft.llm.Embeddings.ivfNearDupJoinIndexed(
            Seq((100L, vecs(0L)), (107L, vecs(7L)), (113L, vecs(13L)),
              (121L, vecs(21L))).toDF("vec_id", "embedding"),
            "vec_id", "embedding", "/tmp/graft_ivf_idx/stream", idx,
            threshold = 0.8)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        assert(rows.toSet === batch)
      } finally q.stop()
    } finally {
      s.sql("DROP TABLE IF EXISTS ivf_stream")
      scope.release()
    }
    graft.llm.CacheScope.global.release()
  }

  test("streaming kNN labels: majority label vs the persisted IVF index across batches, re-sends re-verdict identically, batch parity") {
    val s = spark
    import s.implicits._
    val emb = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val scope = new graft.llm.CacheScope
    val cents = graft.llm.Embeddings.kmeansFitSqrtK(
      emb, "vec_id", "embedding", iters = 2, scope = scope)
    graft.llm.Embeddings.ivfIndexSave(emb, "vec_id", "embedding", cents,
      "knn_stream", "/tmp/graft_knn/stream", buckets = 4,
      attrs = Seq("label"))
    try {
      val idx = s.table("knn_stream")
      val vecs = emb.where(sc("vec_id").isin(0L, 7L, 13L, 21L))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toMap
      val ms = MemoryStream[(Long, Seq[Float])](s)
      val labeled = graft.streaming.Streams.streamingKnnLabel(
        ms.toDF.toDF("vec_id", "embedding"), "vec_id", "embedding",
        "/tmp/graft_knn/stream", idx, "label", k = 5)
      // complete mode: the memory sink holds exactly the latest verdict
      // per arriving id (streaming aggregation, no watermark)
      val q = labeled.writeStream.format("memory").queryName("knn_label_out")
        .outputMode("complete").start()
      try {
        ms.addData((100L, vecs(0L)), (107L, vecs(7L)))
        q.processAllAvailable()
        // batch 2: two more + a RE-SENT id 100 — its aggregate updates
        // with the same candidates (duplicates collapse) so the verdict
        // is unchanged
        ms.addData((113L, vecs(13L)), (121L, vecs(21L)), (100L, vecs(0L)))
        q.processAllAvailable()
        val rows = s.sql("SELECT vec_id, label, votes FROM knn_label_out")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        assert(rows.map(_._1).toSet === Set(100L, 107L, 113L, 121L))
        assert(rows.length === 4, "one verdict per id in complete mode")
        // batch parity: the same vectors through the batch op (nprobe=1)
        val batch = graft.llm.Embeddings.knnLabelIndexed(
            Seq((100L, vecs(0L)), (107L, vecs(7L)), (113L, vecs(13L)),
              (121L, vecs(21L))).toDF("vec_id", "embedding"),
            "vec_id", "embedding", "/tmp/graft_knn/stream", idx,
            "label", k = 5)
          .collect()
          .map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2))).toSet
        assert(rows.toSet === batch)
      } finally q.stop()
    } finally {
      s.sql("DROP TABLE IF EXISTS knn_stream")
      scope.release()
    }
    graft.llm.CacheScope.global.release()
  }

  test("streaming IVF top-k: ranked neighbors at nprobe=2 across batches, parity with the batch probe serve") {
    val s = spark
    import s.implicits._
    val emb = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val scope = new graft.llm.CacheScope
    val cents = graft.llm.Embeddings.kmeansFitSqrtK(
      emb, "vec_id", "embedding", iters = 2, scope = scope)
    graft.llm.Embeddings.ivfIndexSave(emb, "vec_id", "embedding", cents,
      "ivftopk_stream", "/tmp/graft_knn/topk", buckets = 4)
    try {
      val idx = s.table("ivftopk_stream")
      val vecs = emb.where(sc("vec_id").isin(0L, 7L, 13L))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toMap
      val ms = MemoryStream[(Long, Seq[Float])](s)
      val served = graft.streaming.Streams.streamingIvfTopK(
        ms.toDF.toDF("vec_id", "embedding"), "vec_id", "embedding",
        "/tmp/graft_knn/topk", idx, k = 4, nprobe = 2)
      val q = served.writeStream.format("memory").queryName("ivf_topk_out")
        .outputMode("complete").start()
      try {
        ms.addData((0L, vecs(0L)))
        q.processAllAvailable()
        // batch 2: two more queries + a RE-SENT id 0 (identical rows)
        ms.addData((7L, vecs(7L)), (13L, vecs(13L)), (0L, vecs(0L)))
        q.processAllAvailable()
        val rows = s.sql(
          "SELECT query_id, neighbor_id, cosine, rank FROM ivf_topk_out")
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        assert(rows.map(_._1).toSet === Set(0L, 7L, 13L))
        // batch parity: the SAME queries through ivfTopKTrained nprobe=2
        // (same centroids — the window probe rank vs the stream's
        // array_sort rank, the window top-k anchor vs topk_by)
        val want = graft.llm.Embeddings.ivfTopKTrained(
            emb, "vec_id", "embedding", cents,
            queryPred = sc("vec_id").isin(0L, 7L, 13L), k = 4, nprobe = 2,
            scope = scope)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        assert(rows.toSet === want.toSet)
        assert(rows.length === want.length)
      } finally q.stop()
    } finally {
      s.sql("DROP TABLE IF EXISTS ivftopk_stream")
      scope.release()
    }
    graft.llm.CacheScope.global.release()
  }

  test("streaming IVF-SQ8 serves a MemoryStream identically to the batch indexed path") {
    // same persisted coded artifact, arrivals across two micro-batches,
    // nprobe=2 (the projection-ranked probe path); parity target is
    // ivfSq8TopKIndexed over the same queries — probe order, dequantized
    // fold, and topk_by tail must all agree bit-for-bit
    val s = spark
    import s.implicits._
    val emb = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val scope = new graft.llm.CacheScope
    val cents = graft.llm.Embeddings.kmeansFitSqrtK(
      emb, "vec_id", "embedding", iters = 2, scope = scope)
    s.sql("DROP TABLE IF EXISTS sq8ivf_stream")
    graft.llm.Embeddings.ivfSq8IndexSave(emb, "vec_id", "embedding", cents,
      dim = 64, "sq8ivf_stream", "/tmp/graft_knn/ivfsq8", buckets = 4)
    try {
      val idx = s.table("sq8ivf_stream")
      val vecs = emb.where(sc("vec_id").isin(0L, 7L, 13L))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toMap
      val ms = MemoryStream[(Long, Seq[Float])](s)
      val served = graft.streaming.Streams.streamingIvfSq8TopK(
        ms.toDF.toDF("vec_id", "embedding"), "vec_id", "embedding",
        "/tmp/graft_knn/ivfsq8", idx, dim = 64, k = 4, nprobe = 2)
      val q = served.writeStream.format("memory").queryName("ivfsq8_out")
        .outputMode("complete").start()
      try {
        ms.addData((0L, vecs(0L)))
        q.processAllAvailable()
        ms.addData((7L, vecs(7L)), (13L, vecs(13L)))
        q.processAllAvailable()
        def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)
        val rows = s.sql(
          "SELECT query_id, neighbor_id, cosine, rank FROM ivfsq8_out")
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), bits(r.getDouble(2)),
            r.getInt(3)))
        assert(rows.map(_._1).toSet === Set(0L, 7L, 13L))
        val want = graft.llm.Embeddings.ivfSq8TopKIndexed(
            emb.where(sc("vec_id").isin(0L, 7L, 13L)), "vec_id", "embedding",
            "/tmp/graft_knn/ivfsq8", idx, dim = 64, k = 4, nprobe = 2)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), bits(r.getDouble(2)),
            r.getInt(3)))
        assert(rows.toSet === want.toSet)
        assert(rows.length === want.length)
      } finally q.stop()
    } finally {
      s.sql("DROP TABLE IF EXISTS sq8ivf_stream")
      scope.release()
    }
    graft.llm.CacheScope.global.release()
  }

  test("streaming kNN label at nprobe=2 matches the batch vote over the widened candidate set") {
    val s = spark
    import s.implicits._
    val emb = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val scope = new graft.llm.CacheScope
    val cents = graft.llm.Embeddings.kmeansFitSqrtK(
      emb, "vec_id", "embedding", iters = 2, scope = scope)
    graft.llm.Embeddings.ivfIndexSave(emb, "vec_id", "embedding", cents,
      "knn_stream_p2", "/tmp/graft_knn/streamp2", buckets = 4,
      attrs = Seq("label"))
    try {
      val idx = s.table("knn_stream_p2")
      val vecs = emb.where(sc("vec_id").isin(0L, 7L, 13L, 21L))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toMap
      val ms = MemoryStream[(Long, Seq[Float])](s)
      val labeled = graft.streaming.Streams.streamingKnnLabel(
        ms.toDF.toDF("vec_id", "embedding"), "vec_id", "embedding",
        "/tmp/graft_knn/streamp2", idx, "label", k = 5, nprobe = 2)
      val q = labeled.writeStream.format("memory")
        .queryName("knn_label_p2_out").outputMode("complete").start()
      try {
        ms.addData((100L, vecs(0L)), (107L, vecs(7L)))
        q.processAllAvailable()
        ms.addData((113L, vecs(13L)), (121L, vecs(21L)))
        q.processAllAvailable()
        val rows = s.sql("SELECT vec_id, label, votes FROM knn_label_p2_out")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        assert(rows.map(_._1).toSet === Set(100L, 107L, 113L, 121L))
        val batch = graft.llm.Embeddings.knnLabelIndexed(
            Seq((100L, vecs(0L)), (107L, vecs(7L)), (113L, vecs(13L)),
              (121L, vecs(21L))).toDF("vec_id", "embedding"),
            "vec_id", "embedding", "/tmp/graft_knn/streamp2", idx,
            "label", k = 5, nprobe = 2)
          .collect()
          .map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2))).toSet
        assert(rows.toSet === batch)
      } finally q.stop()
    } finally {
      s.sql("DROP TABLE IF EXISTS knn_stream_p2")
      scope.release()
    }
    graft.llm.CacheScope.global.release()
  }

  test("streaming substring admission: maximal matches vs the persisted gram index across batches, re-sends re-verdict, batch parity") {
    val s = spark
    import s.implicits._
    val docs = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(sc("doc_id"), sc("text"))
    s.sql("DROP TABLE IF EXISTS substr_stream_idx")
    graft.llm.Dedup.substringIndexSave(docs, "doc_id", "text",
      minMatchWords = 8, "substr_stream_idx", "/tmp/graft_substr_stream",
      buckets = 2)
    try {
      val idx = s.table("substr_stream_idx")
      // arrivals: a corpus slice re-submitted under fresh ids — each
      // matches at least its own original full-length
      val news = docs.where(sc("doc_id") % 11 === 2)
        .collect().map(r => (r.getLong(0) + 50000L, r.getString(1)))
      val (b1, b2) = news.partition(_._1 % 2 == 0)
      val ms = MemoryStream[(Long, String)](s)
      val admitted = graft.streaming.Streams.streamingSubstringAdmission(
        ms.toDF.toDF("doc_id", "text"), "doc_id", "text", idx,
        minMatchWords = 8, maxGramCopies = 64)
      val q = admitted.writeStream.format("memory")
        .queryName("substr_adm_out").outputMode("complete").start()
      try {
        ms.addData(b1.toSeq: _*)
        q.processAllAvailable()
        ms.addData((b2 :+ b1.head).toSeq: _*) // re-send suppressed by set
        q.processAllAvailable()
        val got = s.sql(
          "SELECT left_id, right_id, match_start, match_words FROM substr_adm_out")
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        assert(got.toSet.map((t: (Long, Long, Long, Long)) => t._1)
          .intersect(news.map(_._1).toSet).nonEmpty)
        // exactly one verdict row per (pair, match) despite the re-send
        assert(got.length === got.distinct.length)
        // parity with the batch window formulation over the same arrivals
        val want = graft.llm.Dedup.substringMatchesIndexed(
            news.toSeq.toDF("doc_id", "text"), "doc_id", "text", idx,
            minMatchWords = 8, maxGramCopies = 64)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        assert(got.toSet === want.toSet)
        assert(want.nonEmpty, "fixture must produce at least one match")
      } finally q.stop()
    } finally s.sql("DROP TABLE IF EXISTS substr_stream_idx")
  }

  test("streaming corpus diff: per-id verdicts vs the old snapshot across batches, re-sends suppressed, batch parity sans 'removed'") {
    val s = spark
    import s.implicits._
    val docs = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val oldSnap = docs.where(sc("doc_id") % 7 =!= 0)
      .select(sc("doc_id"), sc("text"))
    // the new snapshot: %5!=0 slice with %3==0 texts revised
    val newRows = docs.where(sc("doc_id") % 5 =!= 0)
      .select(sc("doc_id"),
        org.apache.spark.sql.functions.when(sc("doc_id") % 3 === 0,
          org.apache.spark.sql.functions.concat(sc("text"),
            org.apache.spark.sql.functions.lit(" v2")))
          .otherwise(sc("text")).as("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val (b1, b2) = newRows.partition(_._1 % 2 == 0)
    val ms = MemoryStream[(Long, String)](s)
    val diffed = graft.streaming.Streams.streamingCorpusDiff(
      ms.toDF.toDF("doc_id", "text"), "doc_id", "text", oldSnap)
    val q = diffed.writeStream.format("memory").queryName("cdiff_out")
      .outputMode("append").start()
    try {
      ms.addData(b1.toSeq: _*)
      q.processAllAvailable()
      // batch 2: the odd half + a RE-SENT id from batch 1 (suppressed)
      ms.addData((b2 :+ b1.head).toSeq: _*)
      q.processAllAvailable()
      val got = s.sql("SELECT doc_id, status, old_md5, new_md5 FROM cdiff_out")
        .collect()
        .map(r => (r.getLong(0), r.getString(1),
          Option(r.getString(2)), Option(r.getString(3))))
      // exactly one verdict per new-snapshot id despite the re-send
      assert(got.map(_._1).distinct.length === got.length)
      // parity: the batch diff restricted to the new side
      val want = graft.llm.Dedup.corpusDiff(
          oldSnap, newRows.toSeq.toDF("doc_id", "text"), "doc_id", "text")
        .where(sc("status") =!= "removed")
        .collect()
        .map(r => (r.getLong(0), r.getString(1),
          Option(r.getString(2)), Option(r.getString(3))))
      assert(got.toSet === want.toSet)
      assert(got.map(_._2).toSet === Set("added", "changed", "unchanged"),
        "fixture should exercise all three streaming verdicts")
    } finally q.stop()
    graft.llm.CacheScope.global.release()
  }

  test("streaming WAT ingestion: anchor links stream as (src_url, dst_url), batch-reader parity") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_wat_stream")
    def shard(name: String, url: String, links: String): Unit =
      graft.sources.Warc.write(dir.resolve(name).toString, Seq(
        ("warcinfo", "urn:wat:x", "application/warc-fields",
          "software: graft\r\n".getBytes("UTF-8")),
        ("metadata", url, "application/json",
          (s"""{"Envelope":{"Payload-Metadata":{"HTTP-Response-Metadata":""" +
            s"""{"HTML-Metadata":{"Links":[$links]}}}}}""").getBytes("UTF-8"))))
    shard("s1.warc.wat.gz", "https://a.example/1",
      """{"path":"A@/href","url":"https://b.example/x"},
        |{"path":"IMG@/src","url":"https://img.example/i.png"}""".stripMargin)
    val records = graft.streaming.Streams.streamingWatRecords(
      s, dir.toString + "/*.warc.wat.gz")
    val q = records.writeStream.format("memory").queryName("wat_stream_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // batch 2: a later shard lands
      shard("s2.warc.wat.gz", "https://c.example/2",
        """{"path":"A@/href","url":"https://d.example/y"}""")
      q.processAllAvailable()
      val got = s.sql("SELECT src_url, dst_url FROM wat_stream_out")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(got === Set(
        ("https://a.example/1", "https://b.example/x"),
        ("https://c.example/2", "https://d.example/y")))
      // parity with the batch reader over the same shards
      val batch = graft.sources.Warc.readWat(s, dir.toString + "/*.warc.wat.gz")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(got === batch)
    } finally q.stop()
  }

  test("streaming WET ingestion: conversion records stream as (url, text), warcinfo skipped") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_wet_stream")
    def shard(name: String, recs: Seq[(String, String, String, Array[Byte])]): Unit =
      graft.sources.Warc.write(dir.resolve(name).toString, recs)
    shard("s1.warc.wet.gz", Seq(
      ("warcinfo", "urn:wet:1", "application/warc-fields",
        "software: graft\r\n".getBytes("UTF-8")),
      ("conversion", "https://a.example/1", "text/plain",
        "first page text".getBytes("UTF-8"))))
    val records = Streams.streamingWetRecords(s, dir.toString + "/*.warc.wet.gz")
    val q = records.writeStream.format("memory").queryName("wet_stream_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      shard("s2.warc.wet.gz", Seq(
        ("warcinfo", "urn:wet:2", "application/warc-fields",
          "software: graft\r\n".getBytes("UTF-8")),
        ("conversion", "https://b.example/2", "text/plain",
          "second päge".getBytes("UTF-8"))))
      q.processAllAvailable()
      val rows = spark.sql("SELECT url, text FROM wet_stream_out")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(rows === Set(
        ("https://a.example/1", "first page text"),
        ("https://b.example/2", "second päge")))
    } finally q.stop()
  }

  test("streaming AUDIO near-dup gate: energy-delta hash vs the persisted index, batch parity") {
    val s = spark
    import s.implicits._
    def wav(g: Int, j: Int): Array[Byte] = {
      val n = 240 + (g % 7) * 40
      graft.llm.Multimodal.encodeWav(8000, 1, Array.tabulate(n)(i =>
        ((((7L * g + 13L * i) % 2048L) - 1024L) +
          (if (i < 4) j else 0)).toShort))
    }
    val corpus = (0 until 4).map(g => (100L + g, wav(g, 0)))
      .toDF("doc_id", "payload")
    graft.sources.ParquetIO.writeBucketed(
      graft.llm.Multimodal.audioDhashIndex(corpus, "doc_id", "payload",
        maxPerBucketSide = 2),
      "adhash_idx_stream", "/tmp/graft_dhash_idx/astream", "__bkey__", 4)
    try {
      val idx = s.table("adhash_idx_stream")
      val ms = MemoryStream[(Long, Array[Byte])](s)
      val flagged = Streams.streamingAudioNearDup(
        ms.toDF.toDF("doc_id", "payload"), "doc_id", "payload", idx,
        maxHamming = 6)
      val q = flagged.writeStream.format("memory").queryName("aneardup_out")
        .outputMode("append").start()
      try {
        // batch 1: a jittered copy of pattern 0, a novel pattern, garbage
        ms.addData((1L, wav(0, 2)), (2L, wav(6, 0)), (3L, Array[Byte](9)))
        q.processAllAvailable()
        // batch 2: a copy of pattern 2 and a RE-SENT id 1 (suppressed)
        ms.addData((4L, wav(2, 1)), (1L, wav(0, 2)))
        q.processAllAvailable()
        val rows = spark.sql("SELECT doc_id, b_id, hamming FROM aneardup_out")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        assert(rows.map(t => (t._1, t._2)).toSet ===
          Set((1L, 100L), (4L, 102L)))
        val batch = graft.llm.Multimodal.audioNearDupJoinIndexed(
            Seq((1L, wav(0, 2)), (2L, wav(6, 0)), (4L, wav(2, 1)))
              .toDF("doc_id", "payload"),
            "doc_id", "payload", idx, maxHamming = 6)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(rows.toSet === batch)
      } finally q.stop()
    } finally s.sql("DROP TABLE IF EXISTS adhash_idx_stream")
  }

  /** One spectral modality of the streaming gate: its closed-form
    * payloads (variant 0 the base, 1 a 2x repeat-upscale offset by 3, 2 a
    * gain/contrast stretch 2v - 5), index builder, streaming gate and
    * batch indexed join. */
  private case class SpectralCase(
      kind: String,
      payload: (Int, Int) => Array[Byte],
      index: (DataFrame, String, String, Int) => DataFrame,
      gate: (DataFrame, String, String, DataFrame, Int) => DataFrame,
      batch: (DataFrame, String, String, DataFrame, Int) => DataFrame)

  for (c <- Seq(
    SpectralCase("audio", graft.llm.Multimodal.spectralWav,
      graft.llm.Multimodal.audioSpectralIndex,
      Streams.streamingAudioSpectralNearDup,
      graft.llm.Multimodal.audioSpectralNearDupJoinIndexed(_, _, _, _, _)),
    SpectralCase("image", graft.llm.Multimodal.spectralPng,
      graft.llm.Multimodal.imageSpectralIndex,
      Streams.streamingImageSpectralNearDup,
      graft.llm.Multimodal.imageSpectralNearDupJoinIndexed(_, _, _, _, _))))
  test(s"streaming SPECTRAL ${c.kind} gate: re-encodes collide vs the persisted index, batch parity") {
    val s = spark
    import s.implicits._
    val table = s"sphash_idx_stream_${c.kind}"
    val corpus = (0 until 4).map(g => (100L + g, c.payload(g, 0)))
      .toDF("doc_id", "payload")
    graft.sources.ParquetIO.writeBucketed(
      c.index(corpus, "doc_id", "payload", 2),
      table, s"/tmp/graft_dhash_idx/spstream_${c.kind}", "__bkey__", 4)
    try {
      val idx = s.table(table)
      val ms = MemoryStream[(Long, Array[Byte])](s)
      val flagged = c.gate(ms.toDF.toDF("doc_id", "payload"), "doc_id",
        "payload", idx, 6)
      val q = flagged.writeStream.format("memory")
        .queryName(s"spneardup_out_${c.kind}").outputMode("append").start()
      try {
        // batch 1: a gain/contrast + offset re-encode of pattern 0 (the
        // case the box/energy gate misses), a novel pattern, garbage
        val reenc0 = c.payload(0, 2)
        ms.addData((1L, reenc0), (2L, c.payload(6, 0)), (3L, Array[Byte](9)))
        q.processAllAvailable()
        // batch 2: a 2x-repeat upscale of pattern 2, and a RE-SENT id 1
        val up2 = c.payload(2, 1)
        ms.addData((4L, up2), (1L, reenc0))
        q.processAllAvailable()
        val rows = spark
          .sql(s"SELECT doc_id, b_id, hamming FROM spneardup_out_${c.kind}")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        // re-encodes collide EXACTLY (hamming 0) with their indexed
        // source, and the re-sent id emits nothing more
        assert(rows.map(t => (t._1, t._2)).toSet ===
          Set((1L, 100L), (4L, 102L)))
        assert(rows.length === 2)
        assert(rows.forall(_._3 === 0L))
        val batch = c.batch(
            Seq((1L, reenc0), (2L, c.payload(6, 0)), (4L, up2))
              .toDF("doc_id", "payload"),
            "doc_id", "payload", idx, 6)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(rows.toSet === batch)
      } finally q.stop()
    } finally s.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("streaming VIDEO near-dup gate: per-frame stream-static join vs the persisted index, batch parity") {
    val s = spark
    import s.implicits._
    def clip(g: Int, j: Int): Array[Byte] =
      graft.llm.Multimodal.encodeAnimatedGif(72, 64, 4, (f, x, y) => {
        val bx = x / 8; val byy = y / 8
        (((37 + 11 * g) * bx + (23 + 7 * g) * byy + 29 * f + 13 * g) % 97) +
          (if (bx == 0 && byy == 0) j else 0)
      })
    // corpus index: patterns 0..3 (ids 100..103), build-time cap
    val corpus = (0 until 4).map(g => (100L + g, clip(g, 0)))
      .toDF("doc_id", "payload")
    graft.sources.ParquetIO.writeBucketed(
      graft.llm.Multimodal.videoDhashIndex(corpus, "doc_id", "payload",
        every = 2, maxPerBucketSide = 2),
      "vhash_idx_stream", "/tmp/graft_vhash_idx/stream", "__bkey__", 4)
    try {
      val idx = s.table("vhash_idx_stream")
      val ms = MemoryStream[(Long, Array[Byte])](s)
      val flagged = Streams.streamingVideoNearDup(
        ms.toDF.toDF("doc_id", "payload"), "doc_id", "payload", idx,
        every = 2, maxHamming = 6)
      val q = flagged.writeStream.format("memory").queryName("vneardup_out")
        .outputMode("append").start()
      try {
        // batch 1: a jittered copy of pattern 0 (flags vs 100), a novel
        // pattern (no match), garbage (drops)
        ms.addData((1L, clip(0, 2)), (2L, clip(6, 0)),
          (3L, Array[Byte](9, 9)))
        q.processAllAvailable()
        // batch 2: a copy of pattern 2 (flags vs 102) and a RE-SENT id 1
        // (state suppresses re-emission)
        ms.addData((4L, clip(2, 1)), (1L, clip(0, 2)))
        q.processAllAvailable()
        val rows = spark
          .sql("SELECT doc_id, b_id, max_hamming FROM vneardup_out")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        assert(rows.map(t => (t._1, t._2)).toSet ===
          Set((1L, 100L), (4L, 102L)))
        assert(rows.forall(_._3 <= 6))
        // batch parity: the same payloads through the batch indexed join
        val batch = graft.llm.Multimodal.videoNearDupJoinIndexed(
            Seq((1L, clip(0, 2)), (2L, clip(6, 0)), (4L, clip(2, 1)))
              .toDF("doc_id", "payload"),
            "doc_id", "payload", idx, every = 2, maxHamming = 6)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(rows.toSet === batch)
      } finally q.stop()
    } finally s.sql("DROP TABLE IF EXISTS vhash_idx_stream")
  }

  test("stateless gates compose with streaming dedup into a cleaning pipeline") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.size
    val ms = MemoryStream[(Long, String)](s)
    // the batch corpus-cleaning shape on a stream: per-row quality gate
    // (stateless, any batch transform works) feeding the stateful dedup
    val gated = ms.toDF.toDF("doc_id", "text")
      .withColumn("__toks__", graft.llm.TextOps.tokens(sc("text")))
      .where(size(sc("__toks__")) >= 3).drop("__toks__")
    val cleaned = Streams.streamingExactDedup(gated, "text")
    val q = cleaned.writeStream.format("memory").queryName("clean_out")
      .outputMode("append").start()
    try {
      ms.addData((1L, "too short"), (2L, "a long enough document"),
        (3L, "A  LONG enough document"), (4L, "another unique document"))
      q.processAllAvailable()
      val out = spark.sql("SELECT doc_id FROM clean_out ORDER BY doc_id")
        .collect().map(_.getLong(0)).toSeq
      // 1 fails the gate; 3 normalizes to 2's hash
      assert(out === Seq(2L, 4L))
    } finally q.stop()
  }

  test("streaming sessionize emits closed sessions and times out idle ones") {
    val s = spark
    import s.implicits._
    val ms = MemoryStream[(Long, Timestamp)](s)
    val sessions = Streams.streamingSessionize(
      ms.toDF.toDF("user_id", "ts"), "user_id", "ts",
      gapSeconds = 1800, watermarkDelay = "0 seconds")
    val q = sessions.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    def t(x: String) = Timestamp.valueOf(s"2024-01-01 $x")
    try {
      // batch 1: user 1 has two sessions IN ONE BATCH (second starts
      // 31 min later) — first closes immediately; user 2 stays open
      ms.addData((1L, t("10:00:00")), (1L, t("10:10:00")),
        (1L, t("10:41:01")), (2L, t("10:30:00")))
      q.processAllAvailable()
      val afterB1 = spark.sql("SELECT group FROM sess_out").collect()
      assert(afterB1.map(_.getString(0)).toSeq === Seq("1"))
      // batch 2: watermark jumps past every open session's end + gap →
      // user 1's second session and user 2's session flush via timeout
      ms.addData((3L, t("14:00:00")))
      q.processAllAvailable()
      val out = spark.sql(
        """SELECT group, session_start, n_events, session_end
           FROM sess_out ORDER BY group, session_start""").collect()
        .map(r => (r.getString(0), r.getTimestamp(1).toString, r.getLong(2),
          r.getTimestamp(3).toString))
      assert(out.toSeq === Seq(
        ("1", "2024-01-01 10:00:00.0", 2L, "2024-01-01 10:10:00.0"),
        ("1", "2024-01-01 10:41:01.0", 1L, "2024-01-01 10:41:01.0"),
        ("2", "2024-01-01 10:30:00.0", 1L, "2024-01-01 10:30:00.0")))
    } finally q.stop()
  }

  test("cross-batch stragglers from one old session merge before emission") {
    val s = spark
    import s.implicits._
    val ms = MemoryStream[(Long, Timestamp)](s)
    val sessions = Streams.streamingSessionize(
      ms.toDF.toDF("user_id", "ts"), "user_id", "ts",
      gapSeconds = 1800, watermarkDelay = "4 hours")
    val q = sessions.writeStream.format("memory").queryName("sess_late_out")
      .outputMode("append").start()
    def t(x: String) = Timestamp.valueOf(s"2024-01-01 $x")
    try {
      ms.addData((1L, t("10:00:00")))
      q.processAllAvailable()
      // 08:00 is watermark-admitted (4h delay) but a full gap older than
      // the pending 10:00 session: it must NOT widen it — it buffers as
      // its own pending session
      ms.addData((1L, t("08:00:00")))
      q.processAllAvailable()
      // a SECOND straggler of the same old session, in a LATER micro-batch:
      // must merge into the buffered 08:00 session (the batch operator
      // would put both events in one session)
      ms.addData((1L, t("08:10:00")))
      q.processAllAvailable()
      // nothing is final yet — the watermark (06:00) hasn't passed any
      // session's end + gap
      assert(spark.sql("SELECT * FROM sess_late_out").count() === 0L)
      // advance the watermark to 09:00: the merged straggler session
      // (ends 08:10, final at 08:40) flushes as ONE 2-event session;
      // the 10:00 session stays pending
      ms.addData((9L, t("13:00:00")))
      q.processAllAvailable()
      val out = spark.sql(
        """SELECT session_start, n_events, session_end
           FROM sess_late_out ORDER BY session_start""")
        .collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getTimestamp(2).toString))
      assert(out.toSeq ===
        Seq(("2024-01-01 08:00:00.0", 2L, "2024-01-01 08:10:00.0")))
    } finally q.stop()
  }

  test("watermarked windowed counts finalize per tumbling window") {
    val s = spark
    import s.implicits._
    val ms = MemoryStream[(Timestamp, String)](s)
    val counts = Streams.windowedCounts(
      ms.toDF.toDF("ts", "event_type"), "ts", "event_type",
      windowDuration = "10 minutes", watermarkDelay = "5 minutes")
    val q = counts.writeStream.format("memory").queryName("wc_out")
      .outputMode("complete").start()
    try {
      ms.addData(
        (Timestamp.valueOf("2024-01-01 00:01:00"), "view"),
        (Timestamp.valueOf("2024-01-01 00:02:00"), "view"),
        (Timestamp.valueOf("2024-01-01 00:03:00"), "click"),
        (Timestamp.valueOf("2024-01-01 00:11:00"), "view"))
      q.processAllAvailable()
      val out = spark.sql(
        "SELECT window_start, event_type, n FROM wc_out ORDER BY window_start, event_type")
        .collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
      assert(out.toSeq === Seq(
        ("2024-01-01 00:00:00.0", "click", 1L),
        ("2024-01-01 00:00:00.0", "view", 2L),
        ("2024-01-01 00:10:00.0", "view", 1L)))
    } finally q.stop()
  }

  test("append-mode match_steps: one final emission, refined by late data within the watermark") {
    val s = spark
    import s.implicits._
    val ms = MemoryStream[(String, Timestamp, String)](s)
    val out = Streams.streamingMatchStepsFinal(
      ms.toDF.toDF("user", "ts", "event"), "user", "ts", "event",
      steps = Seq("a", "b"), watermarkDelay = "1 hour")
    val q = out.writeStream.format("memory").queryName("msf_out")
      .outputMode("append").start()
    def rows() = spark.sql("SELECT group, a_ts, b_ts FROM msf_out").collect()
      .map(r => (r.getString(0),
        Option(r.getTimestamp(1)).map(_.toString).orNull,
        Option(r.getTimestamp(2)).map(_.toString).orNull)).toSeq
    try {
      // batch 1: g1 completes a@00:10 -> b@00:50 ... but nothing emits:
      // the watermark has not passed the last match yet
      ms.addData(("g1", Timestamp.valueOf("2024-01-01 00:00:10"), "a"),
                 ("g1", Timestamp.valueOf("2024-01-01 00:00:50"), "b"))
      q.processAllAvailable()
      assert(rows().isEmpty)
      // batch 2: a LATE b@00:20 (admissible: watermark is ~zero under the
      // 1h delay) IMPROVES the chain — update mode would have emitted the
      // b@00:50 refinement already; append mode must fold this in silently
      ms.addData(("g1", Timestamp.valueOf("2024-01-01 00:00:20"), "b"))
      q.processAllAvailable()
      assert(rows().isEmpty)
      // batches 3-4: unrelated group pushes event time to 02:00 so the
      // watermark (02:00 - 1h) passes g1's last match; the next trigger
      // fires g1's timeout -> the ONE final row, with the refined b@00:20
      ms.addData(("g2", Timestamp.valueOf("2024-01-01 02:00:00"), "x"))
      q.processAllAvailable()
      ms.addData(("g2", Timestamp.valueOf("2024-01-01 02:00:01"), "x"))
      q.processAllAvailable()
      assert(rows() === Seq(
        ("g1", "2024-01-01 00:00:10.0", "2024-01-01 00:00:20.0")))
      // tombstone: a fresh admissible a->b for g1 inside the TTL must NOT
      // produce a second row
      ms.addData(("g1", Timestamp.valueOf("2024-01-01 02:30:00"), "a"),
                 ("g1", Timestamp.valueOf("2024-01-01 02:30:05"), "b"))
      q.processAllAvailable()
      ms.addData(("g2", Timestamp.valueOf("2024-01-01 06:00:00"), "x"))
      q.processAllAvailable()
      ms.addData(("g2", Timestamp.valueOf("2024-01-01 06:00:01"), "x"))
      q.processAllAvailable()
      assert(rows().length === 1)
      // g2 never matched a step: incomplete chains without idleFinalizeMs
      // never emit
      assert(rows().forall(_._1 == "g1"))
    } finally q.stop()
  }

  test("append-mode match_steps: idleFinalizeMs drains incomplete chains once") {
    val s = spark
    import s.implicits._
    val ms = MemoryStream[(String, Timestamp, String)](s)
    val out = Streams.streamingMatchStepsFinal(
      ms.toDF.toDF("user", "ts", "event"), "user", "ts", "event",
      steps = Seq("a", "b"), watermarkDelay = "10 minutes",
      idleFinalizeMs = Some(30L * 60 * 1000))
    val q = out.writeStream.format("memory").queryName("msf_idle_out")
      .outputMode("append").start()
    try {
      // g1 matches only step a, then goes idle
      ms.addData(("g1", Timestamp.valueOf("2024-01-01 00:00:10"), "a"))
      q.processAllAvailable()
      // push event time far past idle gap + watermark delay
      ms.addData(("g2", Timestamp.valueOf("2024-01-01 03:00:00"), "x"))
      q.processAllAvailable()
      ms.addData(("g2", Timestamp.valueOf("2024-01-01 03:00:01"), "x"))
      q.processAllAvailable()
      val out1 = spark.sql("SELECT group, a_ts, b_ts FROM msf_idle_out WHERE group = 'g1'")
        .collect()
      assert(out1.length === 1)
      assert(out1.head.getTimestamp(1).toString === "2024-01-01 00:00:10.0")
      assert(out1.head.isNullAt(2)) // step b never matched -> null, funnel-style
    } finally q.stop()
  }

  test("upsampleMix runs unchanged on a stream (stateless stream-static join)") {
    val s = spark
    import s.implicits._
    val wts = Seq(("a", 2.0), ("b", 1.0)).toDF("grp", "weight")
    val docs = Seq(
      (0L, "a", "alpha one"), (1L, "b", "beta two"),
      (2L, "a", "alpha three"), (3L, "c", "gamma unweighted"))

    val ms = MemoryStream[(Long, String, String)](s)
    val up = graft.llm.TextOps.upsampleMix(
      ms.toDF.toDF("doc_id", "grp", "text"), "grp", "text", wts)
    val q = up.writeStream.format("memory").queryName("upsample_out")
      .outputMode("append").start()
    try {
      ms.addData(docs.take(2): _*)
      q.processAllAvailable()
      ms.addData(docs.drop(2): _*) // stateless: batch boundaries irrelevant
      q.processAllAvailable()
      val out = spark.sql(
        "SELECT doc_id, replica FROM upsample_out ORDER BY doc_id, replica")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      // identical multiset to the batch run — integer weight 2 doubles
      // the 'a' docs, weight 1 passes 'b' through, 'c' drops
      val batch = graft.llm.TextOps.upsampleMix(
        docs.toDF("doc_id", "grp", "text"), "grp", "text", wts)
        .select(sc("doc_id"), sc("replica"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(out === batch)
      assert(out === Seq((0L, 0L), (0L, 1L), (1L, 0L), (2L, 0L), (2L, 1L)))
    } finally q.stop()
  }

  test("DSIR weight serving is a stateless projection: identical on a stream") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (0L, "the quick brown fox", "en"), (1L, "der schnelle fuchs", "de"),
      (2L, "the lazy dog", "en"), (3L, "le chien dort", "fr"))
    val batchDf = docs.toDF("doc_id", "text", "lang")
    // fit is a batch-side (model-parameter) step, like freezing eval grams
    val llr = graft.llm.Dsir.fitLlrMicro(
      batchDf.where(sc("lang") === "en"), batchDf, "text", dims = 32)

    val ms = MemoryStream[(Long, String, String)](s)
    val scored = ms.toDF.toDF("doc_id", "text", "lang")
      .select(sc("doc_id"),
        graft.llm.Dsir.weightMicro(sc("text"), llr).as("w"))
    val q = scored.writeStream.format("memory").queryName("dsir_out")
      .outputMode("append").start()
    try {
      ms.addData(docs.take(2): _*)
      q.processAllAvailable()
      ms.addData(docs.drop(2): _*) // stateless: batch boundaries irrelevant
      q.processAllAvailable()
      val out = spark.sql("SELECT doc_id, w FROM dsir_out ORDER BY doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val batch = batchDf
        .select(sc("doc_id"), graft.llm.Dsir.weightMicro(sc("text"), llr).as("w"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(out === batch)
      // and the statistic still discriminates on the stream output
      val w = out.toMap
      assert(Seq(0L, 2L).map(w).min > Seq(1L, 3L).map(w).max)
    } finally q.stop()
  }

  test("multimodal frame sampling is stateless: identical on a stream") {
    // frameSample is a narrow mapPartitions — no state, no watermark —
    // so clips arriving on a stream produce exactly the batch features
    // regardless of batch boundaries (the decode-at-ingest shape a video
    // pipeline wants: features land in the lake, payloads never re-read).
    val s = spark
    import s.implicits._
    val ids = Seq(0L, 1L, 2L, 3L, 4L)
    def fx(id: Long) = graft.llm.Multimodal.gifAnimFixture(id)

    val ms = MemoryStream[Long](s)
    val sampled = graft.llm.Multimodal.frameSample(
      ms.toDF.toDF("doc_id")
        .map(r => (r.getLong(0), fx(r.getLong(0)))).toDF("doc_id", "payload"),
      "payload", every = 2)
      .selectExpr("doc_id", "explode(frames) AS fr")
      .selectExpr("doc_id", "fr.frame_ix AS frame_ix", "fr.sums[0] AS sum_r")
    val q = sampled.writeStream.format("memory").queryName("frames_out")
      .outputMode("append").start()
    try {
      ms.addData(ids.take(2): _*)
      q.processAllAvailable()
      ms.addData(ids.drop(2): _*) // stateless: boundaries irrelevant
      q.processAllAvailable()
      val out = spark.sql(
        "SELECT doc_id, frame_ix, sum_r FROM frames_out ORDER BY doc_id, frame_ix")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      val batch = ids.flatMap { id =>
        graft.llm.Multimodal.sampleGifFrames(fx(id), 2)
          .map(r => (id, r.getInt(0), r.getSeq[Long](4).head))
      }.sorted
      assert(out === batch && out.nonEmpty)
    } finally q.stop()
  }

  test("streaming line dedup: batch parity across batch boundaries, in-batch ties to min(id, ix)") {
    val s = spark
    import s.implicits._
    // nav/footer boilerplate repeats across docs AND batches; doc 4 is
    // entirely boilerplate by the time it arrives (zero kept lines)
    val docs = Seq(
      (1L, "nav bar\nwelcome page\nfooter(c)"),
      (2L, "nav bar\nreal article body\nfooter(c)"),
      (3L, "fresh unique line\nnav bar"),
      (4L, "footer(c)\nnav bar"),
      (5L, "closing thoughts\nreal article body"))

    val ms = MemoryStream[(Long, String)](s)
    val dd = Streams.streamingLineDedup(ms.toDF.toDF("doc_id", "text"),
      "doc_id", "text")
    val q = dd.writeStream.format("memory").queryName("linededup_out")
      .outputMode("append").start()
    try {
      // batch 1 carries an in-batch tie: 'nav bar' appears in docs 1 and
      // 2 (and twice nowhere within one doc) — winner must be (1, 0)
      ms.addData(docs.take(2): _*)
      q.processAllAvailable()
      ms.addData(docs.drop(2): _*)
      q.processAllAvailable()
      val out = spark.sql(
        "SELECT doc_id, line_ix, line FROM linededup_out ORDER BY doc_id, line_ix")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
      assert(out === Seq(
        (1L, 0, "nav bar"), (1L, 1, "welcome page"), (1L, 2, "footer(c)"),
        (2L, 1, "real article body"),
        (3L, 0, "fresh unique line"),
        (5L, 0, "closing thoughts")))

      // BATCH PARITY: arrival order follows id order, so the streamed
      // kept set reassembles to exactly the batch operator's per-doc
      // (n_kept, clean_md5) — same multiset across the batch boundary
      val streamed = spark.sql(
        """SELECT doc_id, count(*) AS n_kept,
             md5(CAST(concat_ws('\n', transform(
               array_sort(collect_list(struct(line_ix, line))),
               x -> x.line)) AS BINARY)) AS clean_md5
           FROM linededup_out GROUP BY doc_id""")
      val batch = graft.llm.Dedup.corpusLineDedup(
        docs.toDF("doc_id", "text"), "doc_id", "text")
        .where(sc("n_kept") > 0)
      val bRows = batch.select(sc("doc_id"), sc("n_kept"), sc("clean_md5"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      val sRows = streamed
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(sRows === bRows)
      // doc 4 kept nothing: absent from the stream, n_kept=0 in batch
      assert(!sRows.exists(_._1 == 4L))
      assert(graft.llm.Dedup.corpusLineDedup(
          docs.toDF("doc_id", "text"), "doc_id", "text")
        .where(sc("doc_id") === 4L).select(sc("n_kept"))
        .collect().head.getLong(0) === 0L)
    } finally q.stop()
  }

  test("CDC chunking is stateless: identical chunks on a stream across batch boundaries") {
    // cdcChunks is a pure narrow map (codegen'd gram hash + boundary
    // natives + one posexplode) — no state, no watermark — so documents
    // arriving on a stream chunk exactly as in batch, the
    // chunk-at-ingest shape a dedup-storage pipeline wants.
    val s = spark
    import s.implicits._
    val docs = Seq(
      (0L, (1 to 80).map(i => s"w${i % 13}").mkString(" ")),
      (1L, "short doc"),
      (2L, (1 to 60).map(i => s"v${i % 7}").mkString(" ")),
      (3L, (1 to 90).map(i => s"w${i % 13}").mkString(" ")))

    val ms = MemoryStream[(Long, String)](s)
    val chunked = graft.llm.Search.cdcChunks(
      ms.toDF.toDF("doc_id", "text"), "doc_id", "text", k = 4, modulus = 8)
    val q = chunked.writeStream.format("memory").queryName("cdc_out")
      .outputMode("append").start()
    try {
      ms.addData(docs.take(2): _*)
      q.processAllAvailable()
      ms.addData(docs.drop(2): _*) // stateless: boundaries irrelevant
      q.processAllAvailable()
      val out = spark.sql(
        """SELECT doc_id, chunk_ix, start_word, n_words, chunk_md5
           FROM cdc_out ORDER BY doc_id, chunk_ix""")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getString(4))).toSeq
      val batch = graft.llm.Search.cdcChunks(
          docs.toDF("doc_id", "text"), "doc_id", "text", k = 4, modulus = 8)
        .orderBy(sc("doc_id"), sc("chunk_ix"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getString(4))).toSeq
      assert(out === batch && out.nonEmpty)
    } finally q.stop()
  }

  test("streaming MG heavy-hitter candidates keep the guarantee across micro-batches") {
    val s = spark
    import s.implicits._
    // three batches per group; 'hot' dominates lang a, 'warm' lang b;
    // width 4 forces decrements in-batch AND at the state-merge boundary
    val b1 = Seq(("a", "hot hot hot x1 x2"), ("b", "warm warm y1"))
    val b2 = Seq(("a", "hot hot x3 x4 x5"), ("b", "warm warm warm y2 y3"))
    val b3 = Seq(("a", "hot x6"), ("b", "warm y4 y5 y6"))
    val all = b1 ++ b2 ++ b3

    val ms = MemoryStream[(String, String)](s)
    val agg = Streams.streamingHeavyHitterCandidates(
      ms.toDF.toDF("lang", "text"), "lang", "text", width = 4)
    // complete mode: the memory sink holds exactly the latest per-group
    // snapshot (no last-row-per-group bookkeeping needed)
    val q = agg.writeStream.format("memory").queryName("mg_out")
      .outputMode("complete").start()
    try {
      ms.addData(b1: _*); q.processAllAvailable()
      ms.addData(b2: _*); q.processAllAvailable()
      ms.addData(b3: _*); q.processAllAvailable()
      val byGroup = spark.sql("SELECT lang, mg_candidates FROM mg_out")
        .collect()
        .map(r => (r.getString(0), r.getMap[String, Long](1)))
        .toMap
      val truth = all.groupBy(_._1).map { case (g, docs) =>
        val toks = docs.flatMap(_._2.split("\\s+"))
        g -> (toks.size, toks.groupBy(identity).view.mapValues(_.size.toLong).toMap)
      }
      truth.foreach { case (g, (n, counts)) =>
        val kept = byGroup(g)
        val thresh = n.toDouble / 5 // width + 1 = 5
        counts.foreach { case (tok, c) =>
          assert(c <= thresh || kept.contains(tok),
            s"group $g lost heavy token $tok ($c > $thresh)")
          kept.get(tok).foreach(lb => assert(lb <= c,
            s"group $g overcounts $tok: $lb > $c"))
        }
      }
      // the dominant tokens survived with usable counts
      assert(byGroup("a").contains("hot") && byGroup("b").contains("warm"))
    } finally q.stop()
  }

  test("streaming decontamination drops docs sharing eval n-grams, passes the rest") {
    val s = spark
    import s.implicits._
    val eval = Seq((100L, "the quick brown fox jumps")).toDF("eval_id", "text")
    val docs = Seq(
      (1L, "totally unrelated content here okay"),
      (2L, "contains the quick brown fox inside"), // shares "the quick brown"
      (3L, "too short"), // < 3 tokens: no n-gram to leak, passes
      (4L, "brown fox jumps over something"), // shares "brown fox jumps"
      (5L, "clean document streaming through nicely"))

    val ms = MemoryStream[(Long, String)](s)
    val filtered = Streams.streamingDecontaminate(
      ms.toDF.toDF("doc_id", "text"), "text", eval, "text", n = 3)
    val q = filtered.writeStream.format("memory").queryName("decon_out")
      .outputMode("append").start()
    try {
      ms.addData(docs.take(3): _*)
      q.processAllAvailable()
      ms.addData(docs.drop(3): _*) // stateless: batch boundaries irrelevant
      q.processAllAvailable()
      val out = spark.sql("SELECT doc_id FROM decon_out ORDER BY doc_id")
        .collect().map(_.getLong(0)).toSeq
      assert(out === Seq(1L, 3L, 5L))
    } finally q.stop()

    // backfill parity: on a batch frame the filter keeps exactly the
    // complement of what the batch DETECTOR flags — one tokenizer, one
    // semantics, two execution modes
    val batch = docs.toDF("doc_id", "text")
    val kept = Streams.streamingDecontaminate(batch, "text", eval, "text", n = 3)
      .select(sc("doc_id")).collect().map(_.getLong(0)).toSet
    val flagged = graft.llm.Dedup.contamination(
        batch, "doc_id", "text", eval, "eval_id", "text", n = 3)
      .select(sc("doc_id")).collect().map(_.getLong(0)).toSet
    assert(kept === docs.map(_._1).toSet -- flagged)

    // a NULL-text doc has no n-gram to leak — it must PASS like a short
    // doc on both the exact and bloom paths, never be three-valued-NULL
    // dropped (the latent asymmetry vs the oracle's len(w) >= n rule)
    val withNull = Seq((6L, Option.empty[String]), (7L, Some("the quick brown fox leaked")))
      .toDF("doc_id", "text")
    val keptNull = Streams.streamingDecontaminate(withNull, "text", eval, "text", n = 3)
      .select(sc("doc_id")).collect().map(_.getLong(0)).toSet
    assert(keptNull === Set(6L))
    val keptNullBloom = Streams.streamingDecontaminate(
        withNull, "text", eval, "text", n = 3, maxExactGrams = 0L)
      .select(sc("doc_id")).collect().map(_.getLong(0)).toSet
    assert(keptNullBloom === Set(6L))
  }

  test("oversized eval suites decontaminate through the bloom-filter path") {
    val s = spark
    import s.implicits._
    val eval = Seq((100L, "the quick brown fox jumps")).toDF("eval_id", "text")
    val docs = Seq(
      (1L, "totally unrelated content here okay"),
      (2L, "contains the quick brown fox inside"),
      (3L, "too short"),
      (4L, "brown fox jumps over something"),
      (5L, "clean document streaming through nicely"))
    val batch = docs.toDF("doc_id", "text")

    // maxExactGrams = 0 forces the bloom path regardless of suite size
    val viaBloom = Streams.streamingDecontaminate(
      batch, "text", eval, "text", n = 3, maxExactGrams = 0L)
    // analyzed plan, not executed: over a local fixture Catalyst constant-
    // folds the whole filter into the LocalTableScan (which is itself
    // evidence the predicate is a plain stateless expression)
    assert(viaBloom.queryExecution.analyzed.toString.contains("bloom_any_contain"),
      "oversized suite must probe the native bloom predicate, not a plan literal")
    val keptBloom = viaBloom.select(sc("doc_id")).collect().map(_.getLong(0)).toSet

    // one-sided parity: no false negatives — every exact-contaminated doc
    // is dropped by the bloom path too; over-drop is bounded by fpp
    val keptExact = Streams.streamingDecontaminate(batch, "text", eval, "text", n = 3)
      .select(sc("doc_id")).collect().map(_.getLong(0)).toSet
    assert(keptBloom.subsetOf(keptExact), "bloom path must never leak contamination")
    // at fpp=0.001 over a handful of grams the outcome is exact (and the
    // filter's hashing is deterministic, so this equality is stable)
    assert(keptBloom === keptExact)
    assert(keptExact === Set(1L, 3L, 5L))

    // and it still composes as a streaming filter
    val ms = MemoryStream[(Long, String)](s)
    val q = Streams.streamingDecontaminate(
      ms.toDF.toDF("doc_id", "text"), "text", eval, "text", n = 3, maxExactGrams = 0L)
      .writeStream.format("memory").queryName("decon_bloom_out")
      .outputMode("append").start()
    try {
      ms.addData(docs: _*)
      q.processAllAvailable()
      val out = spark.sql("SELECT doc_id FROM decon_bloom_out ORDER BY doc_id")
        .collect().map(_.getLong(0)).toSeq
      assert(out === Seq(1L, 3L, 5L))
    } finally q.stop()
  }

  test("streaming match_steps handles out-of-order events exactly (no watermark)") {
    val s = spark
    import s.implicits._
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val ms = MemoryStream[(Long, java.sql.Timestamp, String)](s)
    val q = Streams.streamingMatchSteps(
      ms.toDF.toDF("user_id", "ts", "event"), "user_id", "ts", "event",
      Seq("a", "b", "c"))
      .writeStream.format("memory").queryName("chain_out")
      .outputMode("update").start()
    try {
      // later steps arrive FIRST: no step-0 yet -> chain unchanged, no row
      ms.addData((1L, ts(30), "b"), (1L, ts(40), "c"))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM chain_out").count() === 0)

      // the unlocking step-0 event arrives two batches late: the frontier
      // retained b@30/c@40, so the full chain materializes at once
      ms.addData((1L, ts(10), "a"))
      q.processAllAvailable()
      val r1 = spark.sql("SELECT * FROM chain_out").collect()
      assert(r1.length === 1)
      assert(r1(0).getTimestamp(1) === ts(10) && r1(0).getTimestamp(2) === ts(30)
        && r1(0).getTimestamp(3) === ts(40))

      // an even earlier a + b IMPROVES the chain (monotone refinement)
      ms.addData((1L, ts(5), "a"), (1L, ts(7), "b"))
      q.processAllAvailable()
      val r2 = spark.sql(
        "SELECT * FROM chain_out ORDER BY a_ts").collect()
      assert(r2.length === 2)
      assert(r2(0).getTimestamp(1) === ts(5) && r2(0).getTimestamp(2) === ts(7)
        && r2(0).getTimestamp(3) === ts(40))
    } finally q.stop()

    // batch parity: same frame through the batch operator = same chain
    val df = Seq(
      (1L, ts(30), "b"), (1L, ts(40), "c"), (1L, ts(10), "a"),
      (1L, ts(5), "a"), (1L, ts(7), "b"),
      (2L, ts(1), "b"), (2L, ts(2), "c")).toDF("user_id", "ts", "event")
    val stream = Streams.streamingMatchSteps(df, "user_id", "ts", "event",
      Seq("a", "b", "c")).collect().map(r =>
      r.getString(0) -> ((r.getTimestamp(1), r.getTimestamp(2), r.getTimestamp(3)))).toMap
    val matched = graft.model.Model.fromDF(df)
      .withActivitySchema(col("user_id"), col("ts"), col("event"))
      .matchSteps(Seq[graft.model.StepSpec]("a", "b", "c"))
    val batch = matched.pick(col("user_id"),
      matched.rel("a").attr("ts").named("a_ts"),
      matched.rel("b").attr("ts").named("b_ts"),
      matched.rel("c").attr("ts").named("c_ts"))
      .run(s).collect()
      .map(r => r.getLong(0).toString ->
        ((r.getTimestamp(1), r.getTimestamp(2), r.getTimestamp(3)))).toMap
    // group 2 never matched step 0: batch emits an all-null row, the
    // streaming operator emits nothing — compare matched groups only
    assert(stream("1") === batch("1"))
    assert(!stream.contains("2") && batch("2") === ((null, null, null)))
  }

  test("streaming match_steps: repeated step names feed every position; idleTimeout plumbs") {
    val s = spark
    import s.implicits._
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    // a -> b -> a: the second "a" must match a LATER a-event, exactly like
    // the batch operator's per-step conditions
    val df = Seq(
      (1L, ts(1), "a"), (1L, ts(2), "b"), (1L, ts(3), "a"),
      (2L, ts(1), "a"), (2L, ts(2), "b"), // no second a -> chain stops
    ).toDF("user_id", "ts", "event")
    val out = Streams.streamingMatchSteps(df, "user_id", "ts", "event",
      Seq("a", "b", "a"), idleTimeout = Some("10 minutes"))
    assert(out.columns.toSeq === Seq("group", "a_0_ts", "b_1_ts", "a_2_ts"))
    val rows = out.collect().map(r => r.getString(0) ->
      ((r.getTimestamp(1), r.getTimestamp(2), Option(r.getTimestamp(3))))).toMap
    assert(rows("1") === ((ts(1), ts(2), Some(ts(3)))))
    assert(rows("2") === ((ts(1), ts(2), None)))
  }

  test("streaming dedup operator also runs in batch mode for backfill parity") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "same doc"), (2L, "Same  DOC"), (3L, "different"))
      .toDF("doc_id", "text")
    val out = Streams.streamingExactDedup(df, "text")
      .orderBy(sc("doc_id")).collect().map(_.getLong(0)).toSeq
    assert(out === Seq(1L, 3L))
  }

  test("streaming HLL registers converge to the batch sketch across batches") {
    val s = spark
    import s.implicits._
    val batch1 = (0 until 300).map(i => ("g1", s"v$i"))
    val batch2 = (200 until 500).map(i => ("g1", s"v$i")) ++
      (0 until 50).map(i => ("g2", s"w$i"))
    val ms = MemoryStream[(String, String)](s)
    val regs = Streams.streamingHllRegisters(
      ms.toDF.toDF("g", "v"), Seq("g"), sc("v"))
    val q = regs.writeStream.format("memory").queryName("hll_regs")
      .outputMode("complete").start()
    try {
      ms.addData(batch1: _*)
      q.processAllAvailable()
      ms.addData(batch2: _*) // overlaps batch1: max-merge must be idempotent
      q.processAllAvailable()
      val snapshot = spark.sql("SELECT * FROM hll_regs")
      val streamedEst = graft.llm.Sketch.hllEstimate(snapshot, Seq("g"), 8)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      // batch twin over the identical history
      val batchEst = graft.llm.Sketch.hllDistinct(
        (batch1 ++ batch2).toDF("g", "v"), Seq("g"), sc("v"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(streamedEst === batchEst)
      // and the estimates are in range (500 and 50 true distincts)
      assert(math.abs(streamedEst("g1") - 500) / 500.0 < 0.25)
      assert(math.abs(streamedEst("g2") - 50) / 50.0 < 0.35)
    } finally q.stop()
  }

  test("streaming CMS counter snapshot equals the batch sketch") {
    val s = spark
    import s.implicits._
    val batch1 = (0 until 200).map(i => s"t${i % 40}")
    val batch2 = (0 until 300).map(i => s"t${i % 60}")
    val ms = MemoryStream[String](s)
    val counters = Streams.streamingCmsCounters(ms.toDF.toDF("v"), sc("v"))
    val q = counters.writeStream.format("memory").queryName("cms_ctr")
      .outputMode("complete").start()
    try {
      ms.addData(batch1: _*)
      q.processAllAvailable()
      ms.addData(batch2: _*)
      q.processAllAvailable()
      def cmap(rows: Array[org.apache.spark.sql.Row]) =
        rows.map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      val snap = cmap(spark.sql("SELECT * FROM cms_ctr").collect())
      val batch = cmap(graft.llm.Sketch
        .cmsCounters((batch1 ++ batch2).toDF("v"), sc("v")).collect())
      assert(snap === batch)
      // estimates read straight off the state snapshot stay one-sided
      val est = graft.llm.Sketch.cmsEstimate(
        spark.sql("SELECT * FROM cms_ctr"), Seq("t0").toDF("v"), "v")
        .collect().head.getLong(1)
      val truth = (batch1 ++ batch2).count(_ == "t0").toLong
      assert(est >= truth, s"CMS undercount: $est < $truth")
    } finally q.stop()
  }
}
