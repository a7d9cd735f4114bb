package graft

import org.apache.spark.sql.functions.{col => sc}

import graft.llm.{Dedup, Embeddings, Multimodal, TextOps}

/** LLM-data-pipeline operator tests over tiny literal fixtures. */
class LlmSpec extends GraftSuite {

  private lazy val docs = {
    val s = spark
    import s.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (1L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (2L, "completely different content about spark query engines and columnar execution plans"),
      (3L, "THE   quick brown fox jumps over the lazy dog near the river bank today"),
    ).toDF("doc_id", "text")
  }

  test("exact dedup groups case/whitespace-normalized duplicates") {
    val out = Dedup.exact(docs, "doc_id", "text").collect()
    assert(out.length === 3) // docs 0 and 3 normalize identically
    val dupGroup = out.find(_.getAs[Long]("n_copies") == 2L)
    assert(dupGroup.isDefined)
    assert(dupGroup.get.getAs[Long]("doc_id") === 0L) // keeps the lowest id
  }

  test("minhash LSH finds the near-duplicate pair, not the unrelated doc") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(pairs.contains((0L, 1L)))   // one-word edit
    assert(!pairs.exists { case (a, b) => a == 2L || b == 2L })
  }

  test("cross-corpus minhash join finds near-dups BETWEEN frames only") {
    val s = spark
    import s.implicits._
    val crawl = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (101L, "entirely new content about distributed query engines and shuffle hygiene"),
      (102L, "the quick brown fox jumps over the lazy dog near the river bank today")) // dup of 100 WITHIN crawl
      .toDF("new_id", "text")
    val out = Dedup.minhashJoin(crawl, "new_id", "text", docs, "doc_id", "text",
      threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // both crawl copies hit the cleaned corpus's near-dup group (0, 1, 3);
    // the within-crawl pair (100,102) must NOT appear — different id spaces
    assert(out.exists(_ == (100L, 0L)) && out.exists(_ == (102L, 0L)))
    assert(out.forall { case (l, r) => l >= 100L && r < 100L })
    assert(!out.map(_._1).contains(101L), "unrelated doc must not match")
  }

  test("simhash: identical documents collide at hamming 0") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine ten")).toDF("doc_id", "text")
    val out = Dedup.simhashPairs(d, "doc_id", "text").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq ===
      Seq((0L, 1L, 0)))
  }

  test("char-ngram near-dup blocking + jaccard verification") {
    val pairs = Dedup.charNgramPairs(docs, "doc_id", "text", threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
  }

  test("bottom-k winnowing candidates contain every k=1 pair") {
    val p1 = Dedup.charNgramPairs(docs, "doc_id", "text", threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val p2 = Dedup.charNgramPairs(docs, "doc_id", "text", threshold = 0.6,
      numFingerprints = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p1.subsetOf(p2)) // the min hash is always in the bottom-k
    assert(p2.contains((0L, 1L)))
  }

  test("minhash hot-bucket cap drops degenerate buckets only") {
    val s = spark
    import s.implicits._
    // 0/1 near-dup pair + 5 identical boilerplate docs forming a hot bucket
    val d = (Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river"),
      (1L, "the quick brown fox jumps over the lazy dog near the shore")) ++
      (10L to 14L).map(i => (i, "lorem ipsum dolor sit amet consectetur")))
      .toDF("doc_id", "text")
    val capped = Dedup.minhashPairs(d, "doc_id", "text", threshold = 0.5,
      maxBucketSize = 4).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((0L, 1L)))             // real pair survives
    assert(!capped.exists(_._1 >= 10L))           // hot bucket excluded
    val uncapped = Dedup.minhashPairs(d, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.count(_._1 >= 10L) === 10)    // 5 choose 2 without cap
  }

  test("bucket cap keeps candidate growth linear as the boilerplate bucket scales") {
    // 10% of docs share ONE text -> one hot bucket per band. Doubling the
    // corpus quadruples the uncapped quadratic term (C(n/10, 2)) but the
    // capped output must stay flat at the organic near-dups (zero here:
    // every other doc is unique). The q_dedup_boilerplate_skew driver
    // query is the oracle-gated twin of this property at sf scale.
    val s = spark
    import s.implicits._
    def corpus(n: Int) = (0 until n).map { i =>
      if (i % 10 == 0) (i.toLong, "subscribe to our newsletter for updates and offers")
      else (i.toLong, s"unique document number $i about topic${i * 7} and subject${i * 13} entirely")
    }.toDF("doc_id", "text")
    def pairs(n: Int, cap: Int) =
      Dedup.minhashPairs(corpus(n), "doc_id", "text", threshold = 0.5,
        maxBucketSize = cap).count()
    val (unc200, unc400) = (pairs(200, 0), pairs(400, 0))
    assert(unc200 === 190L, "C(20,2) boilerplate pairs at n=200") // 20 choose 2
    assert(unc400 === 780L, "C(40,2) at n=400: doubling n quadruples pairs")
    assert(pairs(200, 8) === 0L && pairs(400, 8) === 0L,
      "capped candidate count stays flat while the corpus doubles")
  }

  test("stratified sample is deterministic with per-group rates") {
    val s = spark
    import s.implicits._
    val d = (0 until 300).map(i => (s"doc text number $i", if (i % 3 == 0) "en"
      else if (i % 3 == 1) "de" else "fr")).toDF("text", "lang")
    val kept = d.where(TextOps.stratifiedSample(sc("text"), sc("lang"),
        Map("en" -> 100.0, "de" -> 0.0), defaultPercent = 50.0))
      .groupBy(sc("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("en") === 100L)                   // 100% of en
    assert(!kept.contains("de"))                  // 0% of de
    val fr = kept.getOrElse("fr", 0L)
    assert(fr > 20L && fr < 80L)                  // ~50% of fr
    // repeatable: second evaluation keeps the identical rows
    val again = d.where(TextOps.stratifiedSample(sc("text"), sc("lang"),
        Map("en" -> 100.0, "de" -> 0.0), defaultPercent = 50.0))
      .count()
    assert(again === kept.values.sum)
  }

  test("repetition ratio flags boilerplate") {
    val s = spark
    import s.implicits._
    val d = Seq("buy now buy now buy now", "all words here are unique", "one")
      .toDF("text").withColumn("__toks__", TextOps.tokens(sc("text")))
    val out = d.select(TextOps.repetitionRatio("__toks__", 2))
      .collect().map(_.getDouble(0))
    // bigrams: [buy now, now buy, buy now, now buy, buy now] -> 2 distinct of 5
    assert(math.abs(out(0) - 0.6) < 1e-9)
    assert(out(1) === 0.0)
    assert(out(2) === 0.0) // shorter than n
  }

  test("gopher gates flag short, symbol-heavy, and stopword-free docs") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "the cat sat on the mat and that was fine to be there with us"),
      (2L, "b c"), // too short, no stopwords
      (3L, "#x #y #z w1 w2 the of and to be"), // 3/10 symbol words
    ).toDF("doc_id", "text")
    val out = d
      .withColumn("__toks__", TextOps.tokens(sc("text")))
      .withColumn("__g__", TextOps.gopherGates("__toks__", minWords = 5))
      .orderBy(sc("doc_id"))
      .select(sc("__g__.word_count_ok"), sc("__g__.symbol_ok"),
        sc("__g__.stopword_ok"), sc("__g__.pass"))
      .collect()
      .map(r => (r.getBoolean(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))
    assert(out.toSeq === Seq(
      (true, true, true, true),
      (false, true, false, false),
      (true, false, true, false)))
  }

  test("word_ngrams native is value-identical to the wordShingles HOF") {
    val s = spark
    import s.implicits._
    graft.GraftExtensions.install(s)
    val d = Seq("a bb ccc dddd e", "one two", "solo", "x y z x y z x")
      .toDF("text").withColumn("__toks__", TextOps.tokens(sc("text")))
    for (n <- Seq(1, 2, 3, 5, 9)) {
      val rows = d.select(
        org.apache.spark.sql.functions.expr(s"word_ngrams(__toks__, $n)"),
        TextOps.wordShingles("__toks__", n)).collect()
      rows.foreach(r => assert(r.getSeq[String](0) === r.getSeq[String](1)))
    }
    // NULL tokens (possible in user-built arrays, never from split):
    // concat_ws skips nulls within a window, and the native mirrors that,
    // so the output array honors its declared containsNull = false
    val withNulls = d.sparkSession.sql(
      "SELECT array('a', CAST(NULL AS STRING), 'b', 'c') AS __toks__")
    for (n <- Seq(1, 2, 3, 4)) {
      val r = withNulls.select(
        org.apache.spark.sql.functions.expr(s"word_ngrams(__toks__, $n)"),
        TextOps.wordShingles("__toks__", n)).collect()(0)
      assert(r.getSeq[String](0) === r.getSeq[String](1))
      assert(!r.getSeq[String](0).contains(null))
    }
  }

  test("repetition signals: top/dup n-gram char fractions, ties and short docs") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "buy now buy now buy now"),       // 23 chars, 6 tokens
      (2L, "all words here are unique"),     // 25 chars, all bigrams unique
      (3L, "one"),                           // shorter than any n -> 0.0
    ).toDF("doc_id", "text")
    def r6(v: Double) = java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val out = TextOps.repetitionSignals(d, "doc_id", "text",
        topNs = Seq(2, 3), dupNs = Seq(2))
      .orderBy(sc("doc_id")).collect()
      .map(r => (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    // doc 1: bigrams {buy now: 3, now buy: 2}; top2 = 3*7/23, dup2 = 35/23;
    // trigrams tie at count 2 -> lexicographically smallest "buy now buy"
    // wins: top3 = 2*11/23 (the published definition double-counts, so
    // dup fractions may exceed 1 on degenerate spam)
    assert(out(0) === ((r6(21.0 / 23), r6(22.0 / 23), r6(35.0 / 23))))
    // doc 2: every bigram count 1; top = smallest gram "all words" (9 chars)
    assert(out(1) === ((r6(9.0 / 25), r6(14.0 / 25), 0.0)))
    assert(out(2) === ((0.0, 0.0, 0.0)))
  }

  test("urlParts decomposes scheme/host/path/registrable domain") {
    val s = spark
    import s.implicits._
    val d = Seq(
      "https://user@www.example.co.uk:8443/a/b?q=1",
      "http://example.com/",
      "https://localhost",
      "https://a.b.example.org?x=1",
    ).toDF("url")
    val out = d.select(TextOps.urlParts(sc("url")).as("p"))
      .select(sc("p.scheme"), sc("p.host"), sc("p.path"), sc("p.domain"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(out(0) === (("https", "www.example.co.uk", "/a/b", "example.co.uk")))
    assert(out(1) === (("http", "example.com", "/", "example.com")))
    assert(out(2) === (("https", "localhost", "", "localhost")))
    assert(out(3) === (("https", "a.b.example.org", "", "example.org")))
    // PSL snapshot cases the old 2-3-label heuristic got wrong
    val psl = Seq(
      "https://foo.gov.uk/x",          // ICANN 2-label suffix
      "https://foo.co.jp/",            // ICANN 2-label suffix
      "https://alice.github.io/blog",  // PRIVATE platform suffix
      "https://www.alice.github.io/",  // one deeper: same site key
      "https://photos.blogspot.co.uk", // PRIVATE 3-label suffix
      "https://a.b.s3.amazonaws.com",  // PRIVATE 3-label suffix, deeper
      "https://shop.anything.bd/",     // wildcard *.bd
      "https://www.ck/",               // exception !www.ck
      "https://x.www.ck/",             // exception beats the wildcard
    ).toDF("url")
      .select(TextOps.urlParts(sc("url")).getField("domain"))
      .collect().map(_.getString(0))
    assert(psl.toSeq === Seq(
      "foo.gov.uk", "foo.co.jp", "alice.github.io", "alice.github.io",
      "photos.blogspot.co.uk", "b.s3.amazonaws.com",
      "shop.anything.bd", "www.ck", "www.ck"))
  }

  test("domainCap keeps at most cap per domain, deterministically") {
    val s = spark
    import s.implicits._
    val d = (0L until 60L).map(i => (i, if (i % 3 == 0) "big.com" else "small.org"))
      .toDF("doc_id", "domain")
    val kept = TextOps.domainCap(d, "domain", "doc_id", cap = 10)
    val byDom = kept.groupBy(sc("domain")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byDom("big.com") === 10L)
    assert(byDom("small.org") === 10L)
    // deterministic under a different physical partitioning
    val ids1 = kept.select(sc("doc_id")).collect().map(_.getLong(0)).toSet
    val ids2 = TextOps.domainCap(d.repartition(7), "domain", "doc_id", cap = 10)
      .select(sc("doc_id")).collect().map(_.getLong(0)).toSet
    assert(ids1 === ids2)
    // under-cap domains keep everything
    val all = TextOps.domainCap(d, "domain", "doc_id", cap = 100).count()
    assert(all === 60L)
    // plan shape: the rn <= cap filter must rewrite to WindowGroupLimit,
    // so each map task forwards at most cap rows per domain into the
    // exchange — the property that makes a hot million-page domain safe
    val plan = kept.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("wordpiece training maximizes the likelihood score with deterministic ties") {
    val s = spark
    import s.implicits._
    // words: ab×4, abc×2, bc×3 — hand-derived merge sequence:
    //  iter 1: score(b ##c) = 3/(3·5) beats a ##b 6/(6·6) and ##b ##c 2/(6·5)
    //  iter 2: a ##b and ##b ##c TIE at 1/6 → lexicographic pair asc picks ##b ##c
    //  iter 3: a ##b and a ##bc tie at 1/6 → a ##b (prefix sorts first)
    val d = Seq("ab ab ab ab abc abc bc bc bc").toDF("text")
    val out = graft.llm.Wordpiece.wordpieceTrain(d, "text", merges = 3,
        scope = new graft.llm.CacheScope)
      .orderBy(sc("merge_ix")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    def mb(x: Double) = Math.round(x * 1e6)
    assert(out.toSeq === Seq(
      (1, "b ##c", mb(math.log(3.0) - math.log(3.0) - math.log(5.0)), 3L),
      (2, "##b ##c", mb(math.log(2.0) - math.log(6.0) - math.log(2.0)), 2L),
      (3, "a ##b", mb(math.log(4.0) - math.log(6.0) - math.log(4.0)), 4L)))
  }

  test("wordpiece greedy longest-match serving with [UNK] fallback") {
    val s = spark
    import s.implicits._
    val d = Seq("ab ab ab ab abc abc bc bc bc").toDF("text")
    val out = graft.llm.Wordpiece.encodeWords(d, "text", merges = 3,
        scope = new graft.llm.CacheScope)
      .orderBy(sc("word")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    // vocab after 3 merges: {a, b, ##b, ##c, bc, ##bc, ab}
    // greedy on abc: longest-first takes "ab" then "##c" — NOT training's
    // a+##bc path (inference rule differs from merge replay by design)
    assert(out.toSeq === Seq(
      ("ab", "ab", 1), ("abc", "ab ##c", 2), ("bc", "bc", 1)))
    // direct UNK paths: unmatched char, overlong word
    val m = graft.expr.WordpieceModel.decode(graft.expr.WordpieceModel.encode(
      Seq("a", "b", "##b", "##c", "bc", "##bc", "ab").sorted, maxWordLen = 8))
    assert(graft.expr.WordpieceModel.greedy("xyz", m).toString === "[UNK]")
    assert(graft.expr.WordpieceModel.greedy("abz", m).toString === "[UNK]")
    assert(graft.expr.WordpieceModel.greedy("abababababab", m).toString === "[UNK]")
    // greedy takes "ab" first, then strands at pos 2 (no ##a/##ab piece):
    // the all-or-nothing rule turns a greedy dead-end into [UNK]
    assert(graft.expr.WordpieceModel.greedy("ababab", m).toString === "[UNK]")
  }

  test("weightedSamplePerGroup: k per group, deterministic, group-equals-global") {
    val s = spark
    import s.implicits._
    val d = (0L until 100L)
      .map(i => (i, if (i % 2 == 0) "a" else "b", (i % 7 + 1).toDouble))
      .toDF("id", "g", "w")
    val out = TextOps.weightedSamplePerGroup(d, "g", "id", "w", k = 5)
    val byG = out.groupBy(sc("g")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byG === Map("a" -> 5L, "b" -> 5L))
    // deterministic under a different physical partitioning
    val ids1 = out.select(sc("id")).collect().map(_.getLong(0)).toSet
    val ids2 = TextOps.weightedSamplePerGroup(d.repartition(7), "g", "id", "w", 5)
      .select(sc("id")).collect().map(_.getLong(0)).toSet
    assert(ids1 === ids2)
    // restricted to one group, the stratified cut IS the global sampler
    val aOnly = TextOps.weightedSample(d.where(sc("g") === "a"), "id", "w", 5)
      .select(sc("id")).collect().map(_.getLong(0)).toSet
    assert(ids1.filter(_ % 2 == 0) === aOnly)
    // rank window rewrites to the per-map partial limit
    assert(out.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
  }

  test("unigramKl: hand-derived divergence, zero on identical slices, Gibbs >= 0") {
    val s = spark
    import s.implicits._
    val a = Seq("x x y").toDF("text")
    val b = Seq("x z").toDF("text")
    val r = graft.llm.TextOps.unigramKl(a, b, "text").collect()(0)
    // union vocab {x,y,z}: p=(na+.5)/(3+1.5), q=(nb+.5)/(2+1.5) —
    // re-derive with the identical nano-nat rounding
    val ps = Seq(2L -> 1L, 1L -> 0L, 0L -> 1L) // (na, nb) for x, y, z
    val expect = ps.map { case (na, nb) =>
      val p = (na + 0.5) / (3.0 + 1.5); val q = (nb + 0.5) / (2.0 + 1.5)
      Math.round(p * (math.log(p) - math.log(q)) * 1e9)
    }.sum / 1e9
    assert(r.getDouble(0) === java.math.BigDecimal.valueOf(expect)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue)
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) === ((3L, 3L, 2L)))
    // KL(P||P) = 0; KL >= 0 (Gibbs) on a skewed pair
    assert(graft.llm.TextOps.unigramKl(a, a, "text")
      .collect()(0).getDouble(0) === 0.0)
    assert(r.getDouble(0) >= 0.0)
  }

  test("exactCanonical keeps the highest-priority duplicate, ties to lowest id") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "same text", 0.3), (2L, "Same  TEXT", 0.9), // dup: 2 wins on quality
      (3L, "other doc", 0.5), (4L, "other   DOC", 0.5), // dup tie: 3 wins on id
      (5L, "unique", 0.1),
    ).toDF("doc_id", "text", "prio")
    val out = Dedup.exactCanonical(d, "doc_id", "text", "prio")
      .orderBy(sc("doc_id")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(out.toSeq === Seq((2L, 0.9, 2L), (3L, 0.5, 2L), (5L, 0.1, 1L)))
    // NULL priorities LOSE to any non-NULL copy (the leading is-null
    // struct field); an all-NULL group falls back to lowest id and
    // honestly reports a NULL priority
    val dn = Seq(
      (1L, "same text", Some(0.2)), (2L, "Same  TEXT", None), // non-null wins
      (3L, "ghost", None), (4L, "GHOST", None), // all-null: lowest id, NULL prio
    ).toDF("doc_id", "text", "prio")
    val outN = Dedup.exactCanonical(dn, "doc_id", "text", "prio")
      .orderBy(sc("doc_id")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)),
        r.getLong(2)))
    assert(outN.toSeq === Seq((1L, Some(0.2), 2L), (3L, None, 2L)))
  }

  test("driftTerms contributions sum to the unigramKl scalar") {
    val s = spark
    import s.implicits._
    val a = Seq("x x y q r").toDF("text")
    val b = Seq("x z z r").toDF("text")
    val kl = graft.llm.TextOps.unigramKl(a, b, "text")
      .collect()(0).getDouble(0)
    val terms = graft.llm.TextOps.driftTerms(a, b, "text", k = 100)
      .collect().map(_.getLong(3))
    def r6(v: Double) = java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    assert(r6(terms.sum / 1e9) === kl)
  }

  test("unigram vocab persists as plain parquet: save/load serves identically") {
    val s = spark
    import s.implicits._
    val d = Seq((0L, "aba abab bab"), (1L, "abab abab cc")).toDF("doc_id", "text")
    val vocab = graft.llm.Unigram.fitVocab(d, "text", vocabSize = 6)
    val dir = java.nio.file.Files.createTempDirectory("ugvocab").toString
    vocab.write.mode("overwrite").parquet(dir)
    val reloaded = s.read.parquet(dir)
      .select(sc("piece"), sc("cost_microbits"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val fresh = graft.llm.Unigram.segmentCounts(d, "doc_id", "text", vocabSize = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val served = graft.llm.Unigram
      .segmentCountsWithVocab(d, "doc_id", "text", reloaded)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(served === fresh && fresh.size === 2)
  }

  test("unigram byte fallback: OOV and overlong words count UTF-8 bytes, vocabulary words unchanged") {
    val s = spark
    import s.implicits._
    val train = Seq((0L, "aba abab bab"), (1L, "abab abab cc")).toDF("doc_id", "text")
    val vocab = graft.llm.Unigram.fitVocab(train, "text", vocabSize = 6)
      .select(sc("piece"), sc("cost_microbits"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // serve: doc 0 in-vocab only; doc 1 adds an OOV CJK word (9 bytes)
    // and a 14-char overlong word (14 bytes)
    val serve = Seq(
      (0L, "aba abab"),
      (1L, "aba 日本語 " + "a" * 14)).toDF("doc_id", "text")
    def stats(fb: Boolean): Map[Long, (Long, Long)] = graft.llm.Unigram
      .segmentCountsWithVocab(serve, "doc_id", "text", vocab,
        maxPieceLen = 4, maxWordLen = 12, byteFallback = fb)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val plain = stats(fb = false)
    val fb = stats(fb = true)
    // vocabulary-only doc identical under both modes
    assert(fb(0L) === plain(0L))
    // fallback doc: "aba" keeps its Viterbi stats; the CJK word adds 9
    // byte pieces at 5e6 each, the overlong word 14 at 5e6 each
    val (npF, cF) = fb(1L)
    val (npP, cP) = plain(1L)
    // plain mode scored the two failing words as 1 unk piece / 3e7 each
    assert(npF === npP - 2 + 9 + 14)
    assert(cF === cP - 2 * 30000000L + (9 + 14) * 5000000L)
    graft.llm.CacheScope.global.release()
  }

  test("wordpiece vocab persists as plain parquet: save/load serves identically") {
    val s = spark
    import s.implicits._
    val d = Seq("ab ab ab ab abc abc bc bc bc").toDF("text")
    val scope = new graft.llm.CacheScope
    val vocab = graft.llm.Wordpiece.wordpieceVocab(d, "text", merges = 3, scope)
    val dir = java.nio.file.Files.createTempDirectory("wpvocab").toString
    vocab.write.mode("overwrite").parquet(dir)
    val reloaded = s.read.parquet(dir).collect().map(_.getString(0)).toSeq
    val fresh = graft.llm.Wordpiece.encodeWords(d, "text", merges = 3, scope = scope)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val served = graft.llm.Wordpiece.encodeWithVocab(d, "text", reloaded)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(served === fresh && fresh.nonEmpty)
  }

  test("wordpiece byte fallback: no [UNK] on arbitrary unicode, in-alphabet words unchanged") {
    val s = spark
    import s.implicits._
    val train = Seq("ab ab ab ab abc abc bc bc bc").toDF("text")
    val scope = new graft.llm.CacheScope
    val vocab = graft.llm.Wordpiece
      .wordpieceVocab(train, "text", merges = 3, scope)
      .collect().map(_.getString(0)).toSeq
    // serving corpus mixes in-alphabet words with OOV across scripts
    // (CJK, Cyrillic, emoji-adjacent letters, a 40-char overlong word)
    val longWord = "a" * 40
    val serve = Seq(
      s"ab abc bc 日本語 кириллица ñoño $longWord").toDF("text")
    val noFb = graft.llm.Wordpiece.encodeWithVocab(serve, "text", vocab)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    val fb = graft.llm.Wordpiece
      .encodeWithVocab(serve, "text", vocab, byteFallback = true)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    // the no-UNK property: nothing is ever [UNK] with fallback on
    assert(fb.values.forall(p => !p.contains("[UNK]")))
    assert(noFb.values.exists(_ == "[UNK]"), "fixture produced no OOV")
    // in-alphabet words keep their EXACT no-fallback tokenization
    noFb.filter(_._2 != "[UNK]").foreach { case (w, p) =>
      assert(fb(w) === p, s"in-alphabet <$w> changed under fallback")
    }
    // fallback pieces round-trip: <0xAB> hex pieces decode back to the
    // word's exact UTF-8 bytes (lossless decomposition)
    noFb.filter(_._2 == "[UNK]").foreach { case (w, _) =>
      val bytes = fb(w).split(' ').map { piece =>
        assert(piece.matches("<0x[0-9A-F]{2}>"), s"bad fallback piece $piece")
        Integer.parseInt(piece.substring(3, 5), 16).toByte
      }
      assert(new String(bytes, java.nio.charset.StandardCharsets.UTF_8) === w)
    }
    // overlong words fall back too (the maxWordLen path)
    assert(fb(longWord).startsWith("<0x61>"))
    graft.llm.CacheScope.global.release()
  }

  test("hardNegatives: ceiling drops planted near-positives, floor drops easy negatives") {
    val s = spark
    import s.implicits._
    // anchor id 0 at e1; planted: a near-POSITIVE (id 1, cos ~0.999 —
    // must be excluded by the ceiling), two hard negatives (ids 2, 3 —
    // inside the band), an easy negative (id 4, cos ~0 — below floor),
    // and an opposite-bucket vector (id 5 — never a candidate)
    val d = Seq(
      (0L, Seq(1f, 0.05f, 0.05f, 0.05f)),
      (1L, Seq(0.99f, 0.06f, 0.05f, 0.05f)), // near-positive
      (2L, Seq(0.6f, 0.75f, 0.1f, 0.1f)),    // hard negative
      (3L, Seq(0.55f, 0.1f, 0.8f, 0.1f)),    // hard negative
      (4L, Seq(0.02f, 0.99f, 0.02f, 0.02f)), // easy-ish: cos < floor
      (5L, Seq(-1f, -0.1f, -0.1f, -0.1f)),   // other bucket
    ).toDF("vec_id", "embedding")
    val out = Embeddings.hardNegatives(d, "vec_id", "embedding",
        anchorPred = sc("vec_id") === 0L, bits = 4, k = 5,
        bandLo = 0.3, bandHi = 0.95)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(out.map(_._1).toSet === Set(2L, 3L),
      s"expected exactly the planted hard negatives, got ${out.toSeq}")
    // ranked by cosine desc within the band, all strictly inside it
    assert(out.forall(t => t._2 >= 0.3 && t._2 < 0.95))
    assert(out.sortBy(_._3).map(_._1).toSeq ===
      out.sortBy(-_._2).map(_._1).toSeq)
    graft.llm.CacheScope.global.release()
  }

  test("semantic decontamination flags planted eval near-dups with zero joins") {
    val s = spark
    import s.implicits._
    val ev = Seq(Seq(1f, 0f, 0f, 0f))
    val d = Seq(
      (10L, Seq(0.99f, 0.1f, 0f, 0f)), // near the eval vector
      (11L, Seq(0f, 1f, 0f, 0f)),      // orthogonal
      (12L, Seq(-1f, 0f, 0f, 0f)),     // opposite
    ).toDF("vec_id", "embedding")
    val out = Embeddings.semanticDecontaminate(d, "vec_id", "embedding", ev, 0.9)
    val rows = out.orderBy(sc("vec_id")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
    assert(rows(0)._2 > 0.99 && rows(0)._3)
    assert(rows(1)._2 === 0.0 && !rows(1)._3)
    assert(rows(2)._2 === -1.0 && !rows(2)._3)
    // the eval suite is plan literals: no join anywhere in the plan
    assert(!out.queryExecution.executedPlan.toString.contains("Join"))
  }

  test("semanticDecontaminate broadcast path above maxEvalVecs: same values, O(1) plan size") {
    val s = spark
    import s.implicits._
    val emb = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // a real eval suite slice (finite floats, realistic geometry)
    val ev = emb.where(sc("vec_id") < 32).orderBy(sc("vec_id"))
      .select(sc("embedding")).collect()
      .map(_.getSeq[Float](0).toSeq).toSeq
    val corpus = emb.where(sc("vec_id") >= 32)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy(sc("vec_id")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSeq
    val lit = Embeddings.semanticDecontaminate(
      corpus, "vec_id", "embedding", ev, 0.2, maxEvalVecs = 1024)
    val bc = Embeddings.semanticDecontaminate(
      corpus, "vec_id", "embedding", ev, 0.2, maxEvalVecs = 0)
    // value parity: rounding is monotone, so the broadcast argmax's
    // recomputed cosine equals the literal path's max-of-rounded
    assert(rows(bc) === rows(lit))
    assert(rows(bc).exists(_._3) && rows(bc).exists(!_._3))
    // the broadcast plan carries the eval suite as DATA: a 1-row
    // broadcast build (provably 1-row aggregate), no eval literal in the
    // plan string, and the plan does not grow with the eval suite
    val plan32 = bc.queryExecution.executedPlan.toString
    assert(plan32.contains("Broadcast"), "eval side must broadcast")
    assert(!plan32.contains(ev.head.head.toString),
      "eval vectors must not freeze into the plan")
    val bc8 = Embeddings.semanticDecontaminate(
      corpus, "vec_id", "embedding", ev.take(8), 0.2, maxEvalVecs = 0)
    val plan8 = bc8.queryExecution.executedPlan.toString
    assert(plan32.length < plan8.length * 2,
      s"plan grows with eval size: ${plan8.length} -> ${plan32.length}")
  }

  test("OPQ pair rotation: orthogonal, decorrelating, identity on decorrelated pairs, ADC-equal when degenerate") {
    val s = spark
    import s.implicits._
    graft.GraftExtensions.install(s)
    // pair 0: near-duplicate halves (uncentered ρ ≈ 0.98 — past the 0.85
    // redundancy gate); pair 1: moderately correlated (ρ ≈ 0.58 — the
    // geometry the gate deliberately leaves alone); all on the 6-dp grid
    val corr = (0L until 40L).map { i =>
      val x0 = (i % 7).toFloat * 0.125f + 0.25f
      val x1 = (i % 5).toFloat * 0.25f - 0.5f
      (i, Array(x0, x1, x0 * 0.75f + 0.125f * (i % 3), x1 * 0.5f - 0.25f))
    }.toDF("vec_id", "embedding")
    val rot = Embeddings.opqPairRotationFit(corr, "vec_id", "embedding",
      dim = 4)
    val row = rot.collect()(0)
    val cs = row.getSeq[Double](0)
    val ss = row.getSeq[Double](1)
    assert(cs.length === 2 && ss.length === 2)
    // orthogonality within the 6-dp rounding of c and s
    cs.zip(ss).foreach { case (c, sv) =>
      assert(math.abs(c * c + sv * sv - 1.0) < 3e-6, s"($c, $sv) not unit") }
    // gate semantics: the near-duplicate pair rotates, the moderate one
    // keeps the identity
    assert(math.abs(ss.head) > 0.01, s"pair 0 should rotate, got $ss")
    assert(cs(1) === 1.0 && ss(1) === 0.0, s"pair 1 should stay identity")
    // ungated fit (minAbsRho = 0) rotates BOTH pairs and zeroes both
    // cross-moments (tolerance = the 6-dp grids, times 40 rows)
    val rotAll = Embeddings.opqPairRotationFit(corr, "vec_id", "embedding",
      dim = 4, minAbsRho = 0.0)
    val rotated = Embeddings.opqRotateFrame(corr, "vec_id", "embedding",
      rotAll, dim = 4)
    val moms = rotated.select(
      org.apache.spark.sql.functions.expr(
        "sum(CAST(embedding[0] AS DOUBLE) * CAST(embedding[2] AS DOUBLE))"),
      org.apache.spark.sql.functions.expr(
        "sum(CAST(embedding[1] AS DOUBLE) * CAST(embedding[3] AS DOUBLE))"))
      .collect()(0)
    val raw = corr.select(
      org.apache.spark.sql.functions.expr(
        "sum(CAST(embedding[0] AS DOUBLE) * CAST(embedding[2] AS DOUBLE))"),
      org.apache.spark.sql.functions.expr(
        "sum(CAST(embedding[1] AS DOUBLE) * CAST(embedding[3] AS DOUBLE))"))
      .collect()(0)
    (0 to 1).foreach { i =>
      assert(math.abs(moms.getDouble(i)) < 1e-3,
        s"pair $i cross-moment ${moms.getDouble(i)} not zeroed")
      assert(math.abs(raw.getDouble(i)) > 0.5,
        s"fixture pair $i was not correlated to begin with")
    }
    // cosine preservation: rotated-space cosine ≈ original cosine
    def cos(df: org.apache.spark.sql.DataFrame, a: Long, b: Long): Double = {
      val m = df.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
      val (va, vb) = (m(a).map(_.toDouble), m(b).map(_.toDouble))
      val d = va.zip(vb).map { case (p, q) => p * q }.sum
      d / (math.sqrt(va.map(x => x * x).sum) * math.sqrt(vb.map(x => x * x).sum))
    }
    assert(math.abs(cos(rotated, 1L, 2L) - cos(corr, 1L, 2L)) < 1e-4)
    // already-decorrelated pairs: identity rotation, and opqTopK
    // degenerates to pqTopK exactly (grid-aligned inputs)
    val decor = (0L until 12L).map { i =>
      // x strictly positive so no candidate codes to an all-zero
      // reconstruction (ANSI would throw on the 0-norm score division)
      (i, Array((i % 5).toFloat * 0.25f + 0.25f, 0f, 0f,
        (i % 3).toFloat * 0.5f - 0.5f))
    }.toDF("vec_id", "embedding")
    val rotD = Embeddings.opqPairRotationFit(decor, "vec_id", "embedding",
      dim = 4)
    val rowD = rotD.collect()(0)
    assert(rowD.getSeq[Double](0) === Seq(1.0, 1.0))
    assert(rowD.getSeq[Double](1) === Seq(0.0, 0.0))
    val viaOpq = Embeddings.opqTopK(decor, "vec_id", "embedding", dim = 4,
      m = 2, queryId = 1L, k = 5, initPred = sc("vec_id") < 2, iters = 1)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    val cb = Embeddings.pqCodebooks(decor, "vec_id", "embedding", dim = 4,
      m = 2, initPred = sc("vec_id") < 2, iters = 1)
    val viaPq = Embeddings.pqTopK(decor, "vec_id", "embedding", cb, dim = 4,
      m = 2, queryId = 1L, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    assert(viaOpq === viaPq)
    // persisted-model serving: fit once to parquet (rotation + codebooks),
    // serve through the artifact with NO fit stage — values identical to
    // the inline fit+serve on the rotating fixture
    val viaInline = Embeddings.opqTopK(corr, "vec_id", "embedding", dim = 4,
      m = 2, queryId = 1L, k = 5, initPred = sc("vec_id") < 2, iters = 1,
      minAbsRho = 0.0)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    Embeddings.opqFitSave(corr, "vec_id", "embedding", dim = 4, m = 2,
      initPred = sc("vec_id") < 2, iters = 1, dir = "/tmp/graft_opq_model",
      minAbsRho = 0.0)
    val viaModel = Embeddings.opqTopKWithModel(corr, "vec_id", "embedding",
      "/tmp/graft_opq_model", dim = 4, m = 2, queryId = 1L, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    assert(viaModel === viaInline)
  }

  test("stripMarkdown reduces markup to text, dropping code fences wholesale") {
    val s = spark
    import s.implicits._
    val md = "# Title\n**bold** text with [a link](http://x) and ![img alt](y.png)\n" +
      "```\ncode # not heading\n```\n> quoted words\n---\n`inline` *star* done"
    val out = Seq(md).toDF("t")
      .select(TextOps.stripMarkdown(sc("t"))).collect()(0).getString(0)
    assert(out ===
      "Title bold text with a link and img alt quoted words inline star done")
    // a '#' inside a fence must never be treated as a heading (checked
    // above: 'not heading' is gone with the fence), and underscores stay
    val under = Seq("snake_case stays _as is_").toDF("t")
      .select(TextOps.stripMarkdown(sc("t"))).collect()(0).getString(0)
    assert(under === "snake_case stays _as is_")
  }

  test("AUC: exact Mann–Whitney with half-credit ties and degenerate NULL") {
    val s = spark
    import s.implicits._
    // pos {0.8, 0.6, 0.6}, neg {0.6, 0.4, 0.2, 0.1}:
    //   0.8 beats all 4; each 0.6 beats 3 and ties 1 (half credit)
    //   → (4 + 2·3.5) / 12 = 11/12
    val d = Seq((0.8, true), (0.6, true), (0.6, true),
      (0.6, false), (0.4, false), (0.2, false), (0.1, false))
      .toDF("score", "label")
    val r = graft.llm.Classifier.auc(d, "score", "label").collect()(0)
    assert(r.getDouble(0) === 0.916667)
    assert((r.getLong(1), r.getLong(2)) === ((3L, 4L)))
    // perfect separation → 1.0; reversed → 0.0
    val sep = Seq((0.9, true), (0.8, true), (0.2, false)).toDF("score", "label")
    assert(graft.llm.Classifier.auc(sep, "score", "label")
      .collect()(0).getDouble(0) === 1.0)
    val rev = Seq((0.1, true), (0.8, false)).toDF("score", "label")
    assert(graft.llm.Classifier.auc(rev, "score", "label")
      .collect()(0).getDouble(0) === 0.0)
    // single-class input reports NULL, not a crash or a fake number
    val one = Seq((0.5, true), (0.7, true)).toDF("score", "label")
    assert(graft.llm.Classifier.auc(one, "score", "label").collect()(0).isNullAt(0))
    // RAW unrounded scores: the operator 6-dp-rounds internally, so the
    // distinct-score frame is bounded-domain even for careless callers —
    // sub-1e-6 score differences coarsen into a half-credit tie
    val raw = Seq((0.12345678, true), (0.12345681, false)).toDF("score", "label")
    assert(graft.llm.Classifier.auc(raw, "score", "label")
      .collect()(0).getDouble(0) === 0.5)
  }

  test("contamination flags train docs sharing eval n-grams") {
    val s = spark
    import s.implicits._
    val eval = Seq((100L, "the capital of france is paris")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "famously the capital of france is paris which tourists love"),
      (2L, "a completely unrelated sentence about spark executors")).toDF("doc_id", "text")
    val out = Dedup.contamination(train, "doc_id", "text",
      eval, "doc_id", "text").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L))
    // shared 3-grams: "the capital of", "capital of france",
    // "of france is", "france is paris"
    assert(out.head.getLong(1) === 4L)
    assert(out.head.getLong(2) === 1L)
  }

  test("kmeansFit converges to hand-computed centroids on the fixture") {
    // seeds {0, 3}; after 1 iteration: v1 (cos .9939 to seed 0) and v2
    // (tie 0 vs 0, lower cid wins) join cell 0; cell 0 mean =
    // ((1+.9+0)/3, (0+.1+1)/3, 0, 0); cell 3 keeps (-1, 0, 0, 0)
    val cents = Embeddings.kmeansFit(vectors, "vec_id", "embedding",
      initPred = sc("vec_id").isin(0L, 3L), iters = 1)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
    assert(cents.keySet === Set(0L, 3L))
    assert(cents(0L) === Seq(0.633333, 0.366667, 0.0, 0.0))
    assert(cents(3L) === Seq(-1.0, 0.0, 0.0, 0.0))
    // serving from trained centroids: query 0's cell holds 1 and 2
    val fitted = Embeddings.kmeansFit(vectors, "vec_id", "embedding",
      initPred = sc("vec_id").isin(0L, 3L), iters = 2)
    val served = Embeddings.ivfTopKTrained(vectors, "vec_id", "embedding",
      fitted, queryPred = sc("vec_id") === 0L, k = 3).collect()
    assert(served.map(_.getAs[Long]("neighbor_id")).toSeq === Seq(1L, 2L))
    // nprobe=2 reaches the second-best cell too (vector 3 lives there)
    val probed = Embeddings.ivfTopKTrained(vectors, "vec_id", "embedding",
      fitted, queryPred = sc("vec_id") === 0L, k = 3, nprobe = 2).collect()
    assert(probed.map(_.getAs[Long]("neighbor_id")).toSet === Set(1L, 2L, 3L))
  }

  test("kmeansFitSampled at 100% equals the full sqrt-k fit on dense ids") {
    // exactness anchor: at samplePct=100 the kept set is the whole corpus
    // and the seeds (k smallest kept ids) coincide with kmeansFitSqrtK's
    // `vid < k` on dense 0-based ids — so the two fits must be
    // bit-identical (everything past the seeds is the same Lloyd's)
    val emb = spark.range(60).selectExpr("id AS vec_id",
      """transform(sequence(0, 7), i -> CAST(
         sin(CAST(id % 5 AS double) * 31.0 + i * 7.0)
         + 0.2 * sin(id * 13.0 + i) AS float)) AS embedding""")
    val full = Embeddings.kmeansFitSqrtK(emb, "vec_id", "embedding", iters = 2)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
    val k = full.size
    val sampled = Embeddings.kmeansFitSampled(emb, "vec_id", "embedding",
      k = k, iters = 2, samplePct = 100.0)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
    assert(sampled === full)
    // a real sample trains on a strict subset yet still yields k cells
    // with seed-id cell labels drawn from the kept set
    val part = Embeddings.kmeansFitSampled(emb, "vec_id", "embedding",
      k = 3, iters = 1, samplePct = 40.0)
      .collect().map(_.getLong(0)).toSet
    assert(part.size <= 3 && part.nonEmpty)
    // the PQ twin: at pct=100 the per-segment sampled codebooks equal
    // the unsampled fit with the same k smallest-id seeds
    val cbFull = Embeddings.pqCodebooks(emb, "vec_id", "embedding",
      dim = 8, m = 2, initPred = sc("vec_id") < 4, iters = 2)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
      .toSet
    val cbSampled = Embeddings.pqCodebooksSampled(emb, "vec_id",
      "embedding", dim = 8, m = 2, k = 4, iters = 2, samplePct = 100.0)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
      .toSet
    assert(cbSampled === cbFull)
    graft.llm.CacheScope.global.release()
  }

  test("ivfHotCellSplit: the hot cell splits into its planted clusters, profile flags it, serving is unchanged") {
    val s = spark
    import s.implicits._
    // three planted clusters; the initial 2-cell quantizer deliberately
    // merges clusters 1+2 into one OVERSIZED cell (the skew shape a
    // drifting append produces); ids 0 (cluster 1) and 1 (cluster 2) are
    // the hot cell's two smallest members, so the split seeds start one
    // per cluster and Lloyd separates them exactly
    def vec(c: Int, i: Int): Seq[Float] = c match {
      case 1 => Seq(1f, 0.01f * i, 0f, 0f)
      case 2 => Seq(0f, 0f, 1f, 0.01f * i)
      case _ => Seq(0f, 1f, 0f, 0.01f * i)
    }
    val rows = (Seq(0L -> 1, 1L -> 2) ++ (2L to 10L).map(_ -> 1) ++
      (11L to 19L).map(_ -> 2) ++ (20L to 29L).map(_ -> 3))
      .map { case (id, c) => (id, vec(c, id.toInt)) }
    val emb = rows.toDF("vec_id", "embedding")
    val cents = Seq((100L, Seq(1.0, 0.0, 1.0, 0.0)),
      (101L, Seq(0.0, 1.0, 0.0, 0.0))).toDF("cid", "cv")
    val pre = "/tmp/graft_split/pre"
    val post = "/tmp/graft_split/post"
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("/tmp/graft_split"))
    graft.llm.Embeddings.ivfIndexSave(emb, "vec_id", "embedding", cents,
      "split_pre", pre, buckets = 2)
    try {
      // profile flags the 20-member cell (load 2/3) next to the 10-member
      val prof = graft.llm.Embeddings.ivfCellProfile(s.table("split_pre"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(prof === Set((100L, 20L, 666666L), (101L, 10L, 333333L)))
      graft.llm.Embeddings.ivfHotCellSplit(s, pre, "vec_id", "embedding",
        "split_post", post, maxCell = 12, buckets = 2)
      // child cids = seed id + max(id)+1 = 30, 31; survivor 101 intact;
      // every cell now under the cap and no posting lost
      val counts = s.table("split_post")
        .groupBy(sc("__cell__")).count()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(counts === Map(30L -> 10L, 31L -> 10L, 101L -> 10L))
      assert(s.table("split_post").select(sc("vec_id")).collect()
        .map(_.getLong(0)).toSet === rows.map(_._1).toSet)
      // serving parity: cluster-1 and cluster-2 queries (true top-k is
      // within-cluster — cross-cluster cosines are 0) serve IDENTICAL
      // ranked neighbors through the split index
      val queries = emb.where(sc("vec_id").isin(2L, 11L))
      def serve(dir: String, tbl: String) =
        graft.llm.Embeddings.ivfTopKIndexed(queries, "vec_id", "embedding",
          dir, s.table(tbl), k = 3)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
          .toSet
      assert(serve(pre, "split_pre") === serve(post, "split_post"))
    } finally {
      s.sql("DROP TABLE IF EXISTS split_pre")
      s.sql("DROP TABLE IF EXISTS split_post")
    }
  }

  test("semDedup keeps one representative per within-cell duplicate group") {
    // cells from seeds {0, 3}: vectors 0,1,2 land in cell 0, vector 3 in
    // cell 3. At threshold 0.99 only (0,1) are duplicates (cos .9939) —
    // keep the lower id 0; vectors 2 and 3 are untouched singletons.
    val cents = Embeddings.kmeansFit(vectors, "vec_id", "embedding",
      initPred = sc("vec_id").isin(0L, 3L), iters = 1)
    val kept = Embeddings.semDedup(vectors, "vec_id", "embedding", cents,
      threshold = 0.99).collect().map(_.getLong(0)).toSet
    assert(kept === Set(0L, 2L, 3L))
    // threshold above every within-cell cosine → nothing dropped
    val all = Embeddings.semDedup(vectors, "vec_id", "embedding", cents,
      threshold = 0.9999).count()
    assert(all === 4L)
    // cell cap (aggregate-count + broadcast semi-join since r17 — value-
    // identical to the old per-cell window count): cell 0 holds 3 rows,
    // so cap 2 excludes the whole cell from the pair stage (nothing
    // dropped) while cap 3 keeps it (duplicate 1 dropped as before)
    val capped2 = Embeddings.semDedup(vectors, "vec_id", "embedding", cents,
      threshold = 0.99, maxCellSize = 2).collect().map(_.getLong(0)).toSet
    assert(capped2 === Set(0L, 1L, 2L, 3L))
    val capped3 = Embeddings.semDedup(vectors, "vec_id", "embedding", cents,
      threshold = 0.99, maxCellSize = 3).collect().map(_.getLong(0)).toSet
    assert(capped3 === Set(0L, 2L, 3L))
  }

  test("ivfTopK keeps the id's type and returns empty for no centroids") {
    val s = spark
    import s.implicits._
    // string ids: cell assignment and the equi-join must preserve the type
    val sv = Seq(
      ("a", Array(1f, 0f, 0f, 0f)), ("b", Array(0.9f, 0.1f, 0f, 0f)),
      ("c", Array(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    val out = Embeddings.ivfTopK(sv, "vec_id", "embedding",
      centroidPred = sc("vec_id") === "a", queryPred = sc("vec_id") === "a",
      k = 2).collect()
    assert(out.map(_.getAs[String]("neighbor_id")).toSet === Set("b", "c"))
    // an empty centroid set yields an EMPTY result, not a full self-join
    val none = Embeddings.ivfTopK(vectors, "vec_id", "embedding",
      centroidPred = sc("vec_id") === -999L, queryPred = sc("vec_id") === 0L,
      k = 2)
    assert(none.count() === 0L)
  }

  test("zero-norm vectors assign deterministically to the minimum centroid id") {
    val s = spark
    import s.implicits._
    graft.GraftExtensions.install(s)
    // every cosine against a zero vector is degenerate: the explicit
    // zero-norm guard pins sim to -2 for all centroids, so the cid
    // tie-break picks the MINIMUM centroid id — never the collect_list
    // order of the broadcast centroid array
    val df = Seq((9L, Array(0f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
      .withColumn("__n__",
        org.apache.spark.sql.functions.sqrt(Embeddings.dot("embedding", "embedding")))
    val cents = Seq((7L, Array(1f, 0f, 0f, 0f)), (5L, Array(0f, 1f, 0f, 0f)))
      .toDF("cid", "cv")
    val out = Embeddings.withCell(df, "embedding", cents)
      .select(sc("vec_id"), sc("__cell__")).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((9L, 5L)))
  }

  test("writeCorpus produces pruned-readable partition directories") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_corpus").toString
    val df = Seq((1L, "en", "alpha"), (2L, "de", "beta"), (3L, "en", "gamma"))
      .toDF("doc_id", "lang", "text")
    graft.sources.ParquetIO.writeCorpus(df, dir,
      partitionBy = Seq("lang"), sortBy = Seq("doc_id"))
    // hive-style partition dirs exist → later scans prune on lang
    val sub = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(sub.contains("lang=en") && sub.contains("lang=de"))
    val back = s.read.parquet(dir)
    assert(back.count() === 3L)
    assert(back.where(sc("lang") === "en").count() === 2L)
    // the lang=en filter reaches the scan as a partition filter
    val plan = back.where(sc("lang") === "en").queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"))
  }

  test("new operators degrade cleanly on empty inputs") {
    val s = spark
    import s.implicits._
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.contamination(docs, "doc_id", "text",
      noDocs, "doc_id", "text").count() === 0L)
    assert(Dedup.contamination(noDocs, "doc_id", "text",
      docs, "doc_id", "text").count() === 0L)
    val noPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.clusterPairs(noPairs, "doc_a", "doc_b").count() === 0L)
    val noEvents = Seq.empty[(Long, java.sql.Timestamp)].toDF("user_id", "ts")
    assert(graft.model.Model.fromDF(noEvents)
      .withActivitySchema(graft.funcs.col("user_id"), graft.funcs.col("ts"),
        graft.funcs.col("user_id"))
      .sessionize(60).run(s).count() === 0L)
  }

  test("hashedTfVectors: fixed dims, count semantics, feeds bruteTopK directly") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (0L, "spark engine query spark"),
      (1L, "spark engine query plans"),   // near-dup of 0
      (2L, "entirely unrelated words painting garden"),
    ).toDF("doc_id", "text")
    val vecs = graft.llm.Search.hashedTfVectors(corpus, "doc_id", "text", dims = 32)
    val byId = vecs.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(byId.values.forall(_.length === 32))
    // vector sums = token counts (nothing lost to hashing)
    assert(byId(0L).sum === 4.0 && byId(1L).sum === 4.0 && byId(2L).sum === 5.0)
    // the bridge: the hashed vectors run through the ANN serving op as-is
    val top = graft.llm.Embeddings
      .bruteTopK(vecs, "doc_id", "tf", queryId = 0L, k = 1)
      .collect().head
    assert(top.getLong(0) === 1L) // nearest neighbor is the near-duplicate
  }

  test("native word_kgram_md5s matches the HOF shingle+md5 formulation") {
    val s = spark
    import s.implicits._
    graft.GraftExtensions.install(s)
    val fix = Seq("a b c d e f", "one two", "x", "", "a a a a")
      .map(Tuple1(_)).toDF("text")
      .withColumn("__toks__", TextOps.tokens(sc("text")))
    for (k <- Seq(2, 3, 8)) {
      val rows = fix.select(
        org.apache.spark.sql.functions.expr(s"word_kgram_md5s(__toks__, $k)"),
        org.apache.spark.sql.functions.expr(
          s"""CASE WHEN size(__toks__) >= $k
              THEN transform(${"sequence(1, size(__toks__) - " + (k - 1) + ")"},
                     i -> md5(cast(concat_ws(' ', slice(__toks__, i, $k)) AS binary)))
              ELSE CAST(array() AS array<string>) END"""))
        .collect()
      for (r <- rows)
        assert(r.getSeq[String](0) === r.getSeq[String](1), s"k=$k")
    }
  }

  test("decontam gram path: distinct of native md5s ≡ md5 of distinct shingles") {
    // the contamination operators hash with array_distinct(word_kgram_md5s)
    // — md5 is a pure function, so distincting after hashing keeps the
    // same first-occurrence elements in the same order as the HOF's
    // md5-of-distinct-shingles; duplicate-heavy fixtures exercise it
    val s = spark
    import s.implicits._
    graft.GraftExtensions.install(s)
    val fix = Seq(
      "a b c a b c a b c", "one two three", "x y", "", "a a a a a",
      "repeat me repeat me repeat me twice")
      .map(Tuple1(_)).toDF("text")
      .withColumn("__toks__", TextOps.tokens(sc("text")))
    for (k <- Seq(2, 3)) {
      val rows = fix.select(
        org.apache.spark.sql.functions.expr(
          s"array_distinct(word_kgram_md5s(__toks__, $k))"),
        org.apache.spark.sql.functions.transform(
          org.apache.spark.sql.functions.array_distinct(
            TextOps.wordShingles("__toks__", k)),
          g => org.apache.spark.sql.functions.md5(g.cast("binary"))))
        .collect()
      for (r <- rows)
        assert(r.getSeq[String](0) === r.getSeq[String](1), s"k=$k")
    }
  }

  test("corpusLineDedup keeps only the first corpus occurrence of each line") {
    val s = spark
    import s.implicits._
    def md5hex(t: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val fix = Seq(
      (0L, "BANNER\nalpha\nFOOTER"),
      (1L, "BANNER\nbeta\nFOOTER\nalpha"), // every shared line is a repeat
      (2L, "gamma\nBANNER"),
    ).toDF("doc_id", "text")
    val out = Dedup.corpusLineDedup(fix, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(0L) === ((3L, 3L, md5hex("BANNER\nalpha\nFOOTER"))))
    assert(out(1L) === ((4L, 1L, md5hex("beta")))) // BANNER/FOOTER/alpha seen
    assert(out(2L) === ((2L, 1L, md5hex("gamma"))))
  }

  test("stripHtml: blocks before tags, entity decode order, whitespace collapse") {
    val s = spark
    import s.implicits._
    val html = """<html><head><style>p { x: 1 > 0; }</style></head><body>
      <!-- note --><h1>A&nbsp;B</h1><p class="z">keep &amp;lt; this &lt;x&gt; &#39;y&#39; &quot;z&quot;</p>
      <script>if (1 < 2) { alert(">"); }</script>trailing</body></html>"""
    val out = Seq(Tuple1(html)).toDF("t")
      .select(TextOps.stripHtml(sc("t")).as("c")).head().getString(0)
    // script survives as nothing (raw '<' inside it never reaches the tag
    // pass), &amp;lt; decodes to the literal entity, quotes decode
    assert(out === """A B keep &lt; this <x> 'y' "z" trailing""")
    // unterminated script: the block regex can't close, the tag pass
    // still strips the opening tag — deterministic, never an error
    val ragged = Seq(Tuple1("<p>a</p><script>var x = 1;")).toDF("t")
      .select(TextOps.stripHtml(sc("t")).as("c")).head().getString(0)
    assert(ragged === "a var x = 1;")
  }

  test("upsampleMix: integer weights replicate exactly, fractional gate deterministically") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (0L, "a", "alpha text zero"), (1L, "a", "alpha text one"),
      (2L, "b", "beta text two"), (3L, "b", "beta text three"),
      (4L, "c", "gamma text four"),
    ).toDF("doc_id", "grp", "text")
    val wts = Seq(("a", 3.0), ("b", 0.5)).toDF("grp", "weight")
    val out = TextOps.upsampleMix(corpus, "grp", "text", wts)
      .groupBy(sc("doc_id"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.collect_set(sc("replica")).as("reps"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getSeq[Long](2).sorted))).toMap
    // integer weight 3.0: every 'a' doc exactly 3 copies, replicas 0,1,2
    assert(out(0L) === ((3L, Seq(0L, 1L, 2L))))
    assert(out(1L) === ((3L, Seq(0L, 1L, 2L))))
    // weight 0.5: each 'b' doc keeps 0 or 1 copies by its own hash
    for (id <- Seq(2L, 3L); n <- out.get(id)) assert(n === ((1L, Seq(0L))))
    // unweighted group 'c' drops entirely
    assert(!out.contains(4L))
    // deterministic: a second run emits the identical multiset
    val again = TextOps.upsampleMix(corpus, "grp", "text", wts)
      .groupBy(sc("doc_id"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(again === out.map { case (k, (n, _)) => (k, n) })
  }

  test("substring spans: arbitrary alignment, within-doc repeats, clean md5") {
    val s = spark
    import s.implicits._
    val fix = Seq(
      // the shared 8-word span sits at offset 1 here and offset 3 below —
      // blockDedup's fixed grid would only catch one alignment
      (10L, "A B C D E F G H x y z"),
      (11L, "p q A B C D E F G H r"),
      (12L, "unique words only here nothing repeated at all whatsoever"),
      // period-8 repeat WITHIN one doc: dup 8-gram starts at pos 1 and 9,
      // islands merge (9 <= 1 + 8) into one span covering all 16 words
      (13L, "M N O P Q R S T M N O P Q R S T"),
    ).toDF("doc_id", "text")
    val spans = Dedup.substringSpans(fix, "doc_id", "text",
      minSpanWords = 8, minCopies = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(spans.keySet === Set(10L, 11L, 13L)) // doc 12 clean
    assert(spans(10L) === ((1L, 8L, 8L)))
    assert(spans(11L) === ((1L, 8L, 8L)))
    assert(spans(13L) === ((1L, 16L, 16L)))
    def md5hex(t: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val clean = Dedup.substringClean(fix, "doc_id", "text",
      minSpanWords = 8, minCopies = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(clean(10L) === ((11L, 8L, md5hex("x y z"))))
    assert(clean(11L) === ((11L, 8L, md5hex("p q r"))))
    assert(clean(12L) === ((9L, 0L, md5hex(
      "unique words only here nothing repeated at all whatsoever"))))
    assert(clean(13L) === ((16L, 16L, md5hex("")))) // fully stripped
  }

  test("substringMaximalSpans: true pairwise maximal matches vs the run-merge chain, within-doc repeats honest") {
    val s = spark
    import s.implicits._
    val fix = Seq(
      // X shares words 1-8 with Y and words 2-9 with Z — two DIFFERENT
      // partners. The fixed-k run-merge chains the overlapping grams
      // into one "9-word span" no single copy of which exists; the
      // maximal op's coverage agrees (9 words) but max_match_words
      // honestly reports 8
      (0L, "p q r s t u v w x"),
      (1L, "p q r s t u v w yy zz"),
      (2L, "zq q r s t u v w x"),
      // true 8-word repeat WITHIN one doc at periods 1 and 10 — two
      // DISJOINT spans (the period-8 fixture in the run-merge spec
      // merges; here a one-word separator keeps them apart)
      (3L, "m1 m2 m3 m4 m5 m6 m7 m8 sep m1 m2 m3 m4 m5 m6 m7 m8"),
      (4L, "clean words only here nothing repeated at all whatsoever"),
    ).toDF("doc_id", "text")
    val got = Dedup.substringMaximalSpans(fix, "doc_id", "text",
      minMatchWords = 8, maxGramCopies = 64)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.keySet === Set(0L, 1L, 2L, 3L))
    assert(got(0L) === ((1L, 9L, 9L, 8L))) // coverage 9, honest match 8
    assert(got(1L) === ((1L, 8L, 8L, 8L)))
    assert(got(2L) === ((1L, 8L, 8L, 8L)))
    assert(got(3L) === ((2L, 16L, 8L, 8L))) // disjoint self-repeat
    // the run-merge on the chained doc claims a 9-word max span — the
    // overestimate this op exists to correct
    val runMerge = Dedup.substringSpans(fix, "doc_id", "text",
      minSpanWords = 8, minCopies = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(runMerge(0L) === 9L)
    // a gram above the hot cap generates no pairs: with cap 2 the
    // X-side grams (2 copies each) survive, so results are unchanged,
    // and cap 2 on a 3-copy gram drops it entirely
    val capped = Dedup.substringMaximalSpans(
      fix.unionByName(Seq((5L, "p q r s t u v w qq"))
        .toDF("doc_id", "text")),
      "doc_id", "text", minMatchWords = 8, maxGramCopies = 2)
      .collect().map(_.getLong(0)).toSet
    // "p q r s t u v w" now has 3 copies > cap 2 → docs 0/1/5 lose that
    // anchor; doc 0 still matches doc 2 via words 2-9
    assert(capped === Set(0L, 2L, 3L))
  }

  test("substring admission: persisted gram index + indexed matches find exact cross/within spans, hot-gram cap pushes") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, "p q r s t u v w x"),          // 9 words
      (2L, "a b c d e f g h i j"),
      (3L, "zz q r s t u v w x"),         // shares words 2-9 of doc 1
    ).toDF("doc_id", "text")
    s.sql("DROP TABLE IF EXISTS substr_adm_idx")
    graft.llm.Dedup.substringIndexSave(corpus, "doc_id", "text",
      minMatchWords = 8, "substr_adm_idx", "/tmp/graft_substr_idx",
      buckets = 2)
    try {
      val idx = s.table("substr_adm_idx")
      // arrival 100 = doc 1's text verbatim: full 9-word match vs doc 1
      // (diag run of 2 grams), an 8-word match vs doc 3 (words 2-9);
      // arrival 101 matches nothing
      val news = Seq(
        (100L, "p q r s t u v w x"),
        (101L, "totally different words that match nothing here at all"),
      ).toDF("doc_id", "text")
      val got = graft.llm.Dedup.substringMatchesIndexed(news, "doc_id",
        "text", idx, minMatchWords = 8, maxGramCopies = 64)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got === Set(
        (100L, 1L, 1L, 9L),   // the whole doc duplicates doc 1
        (100L, 3L, 2L, 8L))) // words 2-9 duplicate doc 3's tail
      // cap 1 drops every shared gram (each occurs 2x in the corpus
      // index... within the index doc1/doc3 share "q r s t u v w x")
      val capped = graft.llm.Dedup.substringMatchesIndexed(news, "doc_id",
        "text", idx, minMatchWords = 8, maxGramCopies = 1)
        .collect()
      // "p q r s t u v w" occurs once in the index (doc 1 only) →
      // survives cap 1; the shared "q r s t u v w x" gram (docs 1 and
      // 3, f=2) is cut, so only the 8-word prefix match remains
      assert(capped.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet === Set((100L, 1L, 1L, 8L)))
    } finally s.sql("DROP TABLE IF EXISTS substr_adm_idx")
  }

  test("substring index append: appended artifact serves identically to a rebuild, cap crossings included") {
    val s = spark
    import s.implicits._
    val partA = Seq(
      (1L, "p q r s t u v w"),  // gram G, copy 1
      (2L, "p q r s t u v w"),  // gram G, copy 2 (= cap)
      (3L, "a b c d e f g h")).toDF("doc_id", "text")
    val partB = Seq(
      (4L, "p q r s t u v w"),    // G crosses the cap on append (3 > 2)
      (5L, "a b c d e f g h i")).toDF("doc_id", "text")
    val news = Seq(
      (100L, "p q r s t u v w"),  // only matches via the now-hot gram G
      (101L, "a b c d e f g h i")).toDF("doc_id", "text")
    val root = "/tmp/graft_substr_app"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    Seq("substr_app_idx", "substr_app_full").foreach(t =>
      s.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      graft.llm.Dedup.substringIndexSave(partA, "doc_id", "text",
        minMatchWords = 8, "substr_app_idx", s"$root/incr", buckets = 2,
        maxGramCopies = 2)
      graft.llm.Dedup.substringIndexAppend(partB, "doc_id", "text",
        "substr_app_idx", s"$root/incr")
      graft.llm.Dedup.substringIndexSave(partA.unionByName(partB), "doc_id",
        "text", minMatchWords = 8, "substr_app_full", s"$root/full",
        buckets = 2, maxGramCopies = 2)
      def serve(postings: org.apache.spark.sql.DataFrame) =
        graft.llm.Dedup.substringMatchesIndexed(news, "doc_id", "text",
          postings, minMatchWords = 8, maxGramCopies = 2)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .toSet
      val incr = serve(graft.llm.Dedup.substringIndexPostings(
        s, "substr_app_idx", s"$root/incr", maxGramCopies = 2))
      val full = serve(s.table("substr_app_full"))
      assert(incr === full)
      // the crossing really happened: news 100's only gram went hot (no
      // match), while 101 still matches docs 3 and 5 through grams that
      // stayed under the cap
      assert(!incr.exists(_._1 == 100L))
      assert(incr === Set((101L, 3L, 1L, 8L), (101L, 5L, 1L, 9L)))
      // WITHOUT the hot anti-join, the stale old-segment rows of G would
      // leak past the pushed cap — the exact divergence hot/ exists for
      val leaked = serve(s.table("substr_app_idx"))
      assert(leaked.exists(_._1 == 100L))
      // serving an appended index under a different cap refuses loudly
      intercept[IllegalArgumentException] {
        graft.llm.Dedup.substringIndexPostings(
          s, "substr_app_idx", s"$root/incr", maxGramCopies = 64)
      }
    } finally {
      Seq("substr_app_idx", "substr_app_full").foreach(t =>
        s.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("scrubPii redacts emails, phones, and IPv4 addresses") {
    val s = spark
    import s.implicits._
    val d = Seq(
      "mail me at jane.doe+x@corp.example.org or call +44 20 7946 0958",
      "server 192.168.10.254 stayed up; version 1.2 is fine",
      "no pii here").toDF("text")
    val out = d.select(TextOps.scrubPii(sc("text"))).collect().map(_.getString(0))
    assert(out(0) === "mail me at <EMAIL> or call <PHONE>")
    assert(out(1) === "server <IP> stayed up; version 1.2 is fine")
    assert(out(2) === "no pii here")
  }

  test("language ID picks the profile with most stopword hits") {
    val s = spark
    import s.implicits._
    val d = Seq(
      ("der hund und die katze ist im haus"),
      ("the cat and the dog is in a house"),
      ("xyzzy plugh quux")).toDF("text")
    val out = d.withColumn("__toks__", TextOps.tokens(sc("text")))
      .select(TextOps.langId("__toks__")).collect().map(_.getString(0))
    assert(out.toSeq === Seq("de", "en", "und"))
  }

  test("quality score is deterministic and bounded in [0,1]") {
    val s = spark
    import s.implicits._
    val d = Seq("the quick brown fox and the lazy dog", "a a a a a a a a")
      .toDF("text")
    val out = d.withColumn("__toks__", TextOps.tokens(sc("text")))
      .select(TextOps.qualityScore("__toks__")).collect().map(_.getDouble(0))
    assert(out.forall(q => q >= 0.0 && q <= 1.0))
    assert(out(0) > out(1)) // diverse text scores above degenerate repetition
  }

  private lazy val vectors = {
    val s = spark
    import s.implicits._
    Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0.9f, 0.1f, 0f, 0f)),  // close to 0
      (2L, Array(0f, 1f, 0f, 0f)),      // orthogonal to 0
      (3L, Array(-1f, 0f, 0f, 0f)),     // opposite to 0
    ).toDF("vec_id", "embedding")
  }

  test("PQ with one segment and a per-vector codebook degenerates to exact search") {
    // every vector becomes its own codebook entry (iters = 0, seeds =
    // all ids), so each vector's code is itself, the reconstruction is
    // exact, and ADC scores must equal brute-force cosine — any error in
    // codebook training, assignment, table lookup, or the score formula
    // breaks the equality
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val embs = (0L until 20L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val cb = Embeddings.pqCodebooks(embs, "vec_id", "embedding",
      dim = 8, m = 1, initPred = sc("vec_id") >= 0L, iters = 0)
    val pq = Embeddings.pqTopK(embs, "vec_id", "embedding", cb,
      dim = 8, m = 1, queryId = 0L, k = 5).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val brute = Embeddings.bruteTopK(embs, "vec_id", "embedding",
      queryId = 0L, k = 5).collect()
      .map(r => (r.getLong(0), r.getDouble(r.fieldIndex("cosine")))).toSeq
    assert(pq === brute)

    // and with m = 2 coarse segments the search still returns k ranked
    // rows with scores in [-1, 1]
    val cb2 = Embeddings.pqCodebooks(embs, "vec_id", "embedding",
      dim = 8, m = 2, initPred = sc("vec_id") < 3L, iters = 1)
    val adc = Embeddings.pqTopK(embs, "vec_id", "embedding", cb2,
      dim = 8, m = 2, queryId = 0L, k = 5).collect()
    assert(adc.length === 5)
    assert(adc.forall(r => math.abs(r.getDouble(1)) <= 1.0 + 1e-9))
  }

  test("SQ8 natives match the shared-formula HOF bit-for-bit on every edge") {
    // vec_sq8_code / vec_sq8_dot / vec_sq8_norm2 replace the
    // CodegenFallback transform/aggregate formulation of the SHARED
    // quantization formula (Embeddings.sq8CodeSql/sq8DqSql — the string
    // the DuckDB oracle replays verbatim). The fixture forces every
    // branch: random values, clamps on both ends (params deliberately
    // narrower than the data), a constant dimension (scale 0), a NaN
    // element (clamps to 255 via NaN-is-greatest), and a NULL element
    // (NULL code; poisons dot/norm folds to NULL).
    graft.GraftExtensions.install(spark)
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{expr, when}
    val rnd = new scala.util.Random(23)
    val base = ((0L until 30L).map(i =>
      (i, Array.fill(6)(rnd.nextFloat() * 4 - 2))) ++ Seq(
      (30L, Array(Float.NaN, 0f, 0f, 0f, 0f, 0.7f)),
      (31L, Array(9f, -9f, 0f, 0f, 0f, 0.7f)))).toDF("vec_id", "embedding")
    val d = base
      .withColumn("embedding", when(sc("vec_id") === 29L,
        expr("transform(embedding, (x, i) -> " +
          "CASE WHEN i = 2 THEN CAST(NULL AS FLOAT) ELSE x END)"))
        .otherwise(sc("embedding")))
      // 5 live dims narrower than the data (forces clamps) + 1 constant dim
      .withColumn("__mins__", expr(
        "array(CAST(-1.0 AS DOUBLE), CAST(-1.0 AS DOUBLE), CAST(-1.0 AS DOUBLE), " +
          "CAST(-1.0 AS DOUBLE), CAST(-1.0 AS DOUBLE), CAST(0.7 AS DOUBLE))"))
      .withColumn("__scales__", expr(
        "array(2.0 / CAST(255.0 AS DOUBLE), 2.0 / CAST(255.0 AS DOUBLE), " +
          "2.0 / CAST(255.0 AS DOUBLE), 2.0 / CAST(255.0 AS DOUBLE), " +
          "2.0 / CAST(255.0 AS DOUBLE), CAST(0.0 AS DOUBLE))"))
    val codeHof = "transform(embedding, (x, i) -> " +
      Embeddings.sq8CodeSql("x", "element_at(__mins__, i + 1)",
        "element_at(__scales__, i + 1)") + ")"
    val d2 = d
      .withColumn("cn", expr("vec_sq8_code(embedding, __mins__, __scales__)"))
      .withColumn("ch", expr(codeHof))
    val dqHof = "transform(ch, (c, i) -> " +
      Embeddings.sq8DqSql("c", "element_at(__mins__, i + 1)",
        "element_at(__scales__, i + 1)") + ")"
    val out = d2
      .withColumn("dqh", expr(dqHof))
      .select(sc("vec_id"), sc("cn"), sc("ch"),
        expr("vec_sq8_dot(cn, __mins__, __scales__, embedding)").as("dotN"),
        Embeddings.dotFold("dqh", "embedding").as("dotH"),
        expr("vec_sq8_norm2(cn, __mins__, __scales__)").as("n2N"),
        Embeddings.dotFold("dqh", "dqh").as("n2H"))
      .collect()
    assert(out.length === 32)
    out.foreach { r =>
      assert(r.getSeq[Any](r.fieldIndex("cn")) ===
        r.getSeq[Any](r.fieldIndex("ch")), s"codes diverge for ${r.getLong(0)}")
      def bits(f: String): Option[Long] =
        if (r.isNullAt(r.fieldIndex(f))) None
        else Some(java.lang.Double.doubleToLongBits(r.getDouble(r.fieldIndex(f))))
      assert(bits("dotN") === bits("dotH"), s"dot diverges for ${r.getLong(0)}")
      assert(bits("n2N") === bits("n2H"), s"norm2 diverges for ${r.getLong(0)}")
    }
    // the NULL-element row poisons its folds to NULL on both paths
    val nullRow = out.find(_.getLong(0) == 29L).get
    assert(nullRow.isNullAt(nullRow.fieldIndex("dotN")))
    assert(nullRow.isNullAt(nullRow.fieldIndex("n2N")))
    // the clamp row actually clamped: codes 255 and 0 on dims 0 and 1
    val clamp = out.find(_.getLong(0) == 31L).get
    val codes = clamp.getSeq[Int](clamp.fieldIndex("cn"))
    assert(codes(0) === 255 && codes(1) === 0)
    // constant dim always codes 0
    out.foreach(r => assert(r.getSeq[Any](r.fieldIndex("cn"))(5) === 0))
  }

  test("SQ8 on ≤256-level integer dims is lossless: sq8TopK equals brute") {
    // integer dims 0..255 with min 0 / max 255 present per dim give
    // scale exactly 1.0 and dq_i = code_i = x_i bit-for-bit, so the
    // quantized search must return the brute-force top-k EXACTLY — any
    // error in the fit aggregates, the quantize/dequantize formula, the
    // score composition, or the topk_by cut breaks the equality.
    graft.GraftExtensions.install(spark)
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(31)
    // rows 40/41 pin min 0 / max 255 in EVERY dim without a zero-norm
    // vector (ANSI mode raises on the 0/0 cosine a zero norm produces —
    // the same exposure every cosine op in the family has)
    val embs = ((0L until 40L).map(i =>
      (i, Array.fill(8)(rnd.nextInt(256).toFloat))) ++ Seq(
      (40L, Array.tabulate(8)(d => if (d % 2 == 0) 0f else 255f)),
      (41L, Array.tabulate(8)(d => if (d % 2 == 0) 255f else 0f)))).toDF("vec_id", "embedding")
    // bit-pattern score compare (immune to -0.0/NaN equality pitfalls)
    val sq = Embeddings.sq8TopK(embs, "vec_id", "embedding",
      dim = 8, queryId = 0L, k = 5).collect()
      .map(r => (r.getLong(0),
        java.lang.Double.doubleToLongBits(r.getDouble(1)))).toSeq
    val brute = Embeddings.bruteTopK(embs, "vec_id", "embedding",
      queryId = 0L, k = 5).collect()
      .map(r => (r.getLong(0), java.lang.Double.doubleToLongBits(
        r.getDouble(r.fieldIndex("cosine"))))).toSeq
    assert(sq === brute)
    // rank column is 1..k in score order
    val ranks = Embeddings.sq8TopK(embs, "vec_id", "embedding",
      dim = 8, queryId = 0L, k = 5).collect().map(_.getInt(2)).toSeq
    assert(ranks === (1 to 5))
  }

  test("SQ8 persisted index: serve parity and frozen-params append ≡ rebuild") {
    // save(half1) must serve exactly sq8TopK(half1); appending half2
    // (constructed INSIDE half1's per-dim [min,max], so the frozen
    // stored params equal a full-corpus refit's) must serve exactly
    // sq8TopK(half1 ∪ half2) — any drift in the params sidecar, the
    // encode-at-append, the bucketed append, or the indexed scorer
    // breaks one of the equalities.
    graft.GraftExtensions.install(spark)
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(37)
    val all = ((0L until 30L).map(i =>
      (i, Array.fill(8)(rnd.nextInt(256).toFloat))) ++ Seq(
      (40L, Array.tabulate(8)(d => if (d % 2 == 0) 0f else 255f)),
      (41L, Array.tabulate(8)(d => if (d % 2 == 0) 255f else 0f))))
      .toDF("vec_id", "embedding")
    val half1 = all.where(sc("vec_id") < 15L || sc("vec_id") >= 40L)
    val half2 = all.where(sc("vec_id") >= 15L && sc("vec_id") < 40L)
    val root = java.nio.file.Files.createTempDirectory("sq8idx").toString
    val tbl = "sq8spec_idx"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    Embeddings.sq8IndexSave(half1, "vec_id", "embedding", dim = 8,
      tbl, s"$root/v1")
    def served(): Seq[(Long, Long)] = Embeddings.sq8TopKIndexed(
        all.where(sc("vec_id") === 0L), "vec_id", "embedding", s"$root/v1",
        spark.table(tbl), dim = 8, k = 5)
      .orderBy(sc("rank")).collect()
      .map(r => (r.getLong(r.fieldIndex("neighbor_id")),
        java.lang.Double.doubleToLongBits(
          r.getDouble(r.fieldIndex("cosine"))))).toSeq
    def direct(corpus: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      Embeddings.sq8TopK(corpus, "vec_id", "embedding", dim = 8,
        queryId = 0L, k = 5)
        .orderBy(sc("rank")).collect()
        .map(r => (r.getLong(0),
          java.lang.Double.doubleToLongBits(r.getDouble(1)))).toSeq
    assert(served() === direct(half1))
    Embeddings.sq8IndexAppend(half2, "vec_id", "embedding", s"$root/v1",
      tbl, dim = 8)
    assert(served() === direct(all))
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("IVF-SQ8 append: frozen centroids + params serve ≡ rebuild") {
    // the new-vector delta path must be indistinguishable from a full
    // re-save against the SAME coarse centroids and params: half2 is
    // constructed inside half1's per-dim extremes so the frozen stored
    // params equal a full refit's, and both saves share one fitted
    // coarse frame (the FAISS add-after-train contract, both knobs)
    graft.GraftExtensions.install(spark)
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(41)
    val all = ((0L until 30L).map(i =>
      (i, Array.fill(8)(rnd.nextInt(256).toFloat))) ++ Seq(
      (40L, Array.tabulate(8)(d => if (d % 2 == 0) 0f else 255f)),
      (41L, Array.tabulate(8)(d => if (d % 2 == 0) 255f else 0f))))
      .toDF("vec_id", "embedding")
    val half1 = all.where(sc("vec_id") < 15L || sc("vec_id") >= 40L)
    val half2 = all.where(sc("vec_id") >= 15L && sc("vec_id") < 40L)
    val cents = Embeddings.kmeansFitSqrtK(half1, "vec_id", "embedding",
      iters = 2)
    val root = java.nio.file.Files.createTempDirectory("ivfsq8idx").toString
    Seq("ivfsq8spec_a", "ivfsq8spec_b").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    Embeddings.ivfSq8IndexSave(half1, "vec_id", "embedding", cents,
      dim = 8, "ivfsq8spec_a", s"$root/a")
    Embeddings.ivfSq8IndexAppend(half2, "vec_id", "embedding", s"$root/a",
      "ivfsq8spec_a", dim = 8)
    Embeddings.ivfSq8IndexSave(all, "vec_id", "embedding", cents,
      dim = 8, "ivfsq8spec_b", s"$root/b")
    def serve(dir: String, tbl: String): Seq[(Long, Long, Int)] =
      Embeddings.ivfSq8TopKIndexed(
          all.where(sc("vec_id") === 0L), "vec_id", "embedding", dir,
          spark.table(tbl), dim = 8, k = 5, nprobe = 2)
        .orderBy(sc("rank")).collect()
        .map(r => (r.getLong(1), java.lang.Double.doubleToLongBits(
          r.getDouble(2)), r.getInt(3))).toSeq
    assert(serve(s"$root/a", "ivfsq8spec_a") ===
      serve(s"$root/b", "ivfsq8spec_b"))
    Seq("ivfsq8spec_a", "ivfsq8spec_b").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("cacheKeyed shares one persisted frame across fit and consumer") {
    // kmeansFitSqrtK and semDedup/ivfPqTopK all derive the same
    // (id, vec, norm) projection; the scope memo must hand back the SAME
    // DataFrame (one InMemoryRelation, one persist) for the same
    // (plan, idCol, vecCol) key, and release() must clear the memo.
    val scope = new graft.llm.CacheScope
    var builds = 0
    def build() = { builds += 1; vectors.select(sc("vec_id"), sc("embedding")) }
    val key = ("k", vectors.queryExecution.analyzed.canonicalized, "vec_id")
    val a = scope.cacheKeyed(key)(build())
    val b = scope.cacheKeyed(key)(build())
    assert(a eq b)
    assert(builds === 1)
    scope.release()
    scope.cacheKeyed(key)(build())
    assert(builds === 2) // post-release, the memo rebuilds
    scope.release()
  }

  test("single-pass ADC is value-identical to the per-segment join formulation") {
    // The round-8 adcTopK assembled per-segment partials with an m-way
    // join on the candidate id; the single-pass rewrite must produce
    // bit-identical (id, score, rank) rows — same slice, same assignment
    // fold, same fixed-order partial sum, same 6-dp round. The join
    // formulation is reconstructed verbatim here as the reference.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{broadcast, col, round, row_number, slice, sqrt}
    val rnd = new scala.util.Random(23)
    val embs = (0L until 30L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val m = 2; val dim = 8; val segLen = dim / m; val k = 29
    val cb = Embeddings.pqCodebooks(embs, "vec_id", "embedding",
      dim = dim, m = m, initPred = sc("vec_id") < 4L, iters = 2)
    val single = Embeddings.pqTopK(embs, "vec_id", "embedding", cb,
      dim = dim, m = m, queryId = 0L, k = k).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    val cands = embs.where(col("vec_id") =!= 0L)
      .select(col("vec_id").as("__vid__"), col("embedding").as("__v__"))
    val qrow = embs.where(col("vec_id") === 0L)
      .select(col("embedding").as("__q__"),
        sqrt(Embeddings.dot("embedding", "embedding")).as("__qn__"))
    val perSeg = (0 until m).map { seg =>
      val sliced = cands
        .select(col("__vid__"), slice(col("__v__"), seg * segLen + 1, segLen).as("__v__"))
        .withColumn("__n__", sqrt(Embeddings.dot("__v__", "__v__")))
      val cents = cb.where(col("segment") === seg).select(col("cid"), col("cv"))
      val assigned = Embeddings.withCell(sliced, "__v__", cents)
        .select(col("__vid__"), col("__cell__"))
      val table = cents.crossJoin(broadcast(qrow))
        .select(col("cid").as("__cell__"),
          Embeddings.dot(s"slice(__q__, ${seg * segLen + 1}, $segLen)", "cv")
            .as(s"__qd${seg}__"),
          Embeddings.dot("cv", "cv").as(s"__cn2${seg}__"))
      assigned.join(broadcast(table), "__cell__")
        .select(col("__vid__"), col(s"__qd${seg}__"), col(s"__cn2${seg}__"))
    }
    val joined = perSeg.reduce((a, b) => a.join(b, "__vid__"))
    val qdotSum = (0 until m).map(seg => col(s"__qd${seg}__")).reduce(_ + _)
    val cn2Sum = (0 until m).map(seg => col(s"__cn2${seg}__")).reduce(_ + _)
    val ref = joined
      .crossJoin(broadcast(qrow.select(col("__qn__"))))
      .withColumn("score", round(qdotSum / (col("__qn__") * sqrt(cn2Sum)), 6))
      .withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col("__vid__"))))
      .where(col("rank") <= k)
      .collect().map(r => (r.getAs[Long]("__vid__"), r.getAs[Double]("score"),
        r.getAs[Int]("rank"))).toSeq
    assert(single === ref)
  }

  test("brute-force cosine top-k ranks by similarity") {
    val out = Embeddings.bruteTopK(vectors, "vec_id", "embedding",
      queryId = 0L, k = 2).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(math.abs(out.head.getDouble(1) - 0.993884) < 1e-6)
  }

  test("sign-LSH bucketing: same bucket for same sign pattern, ANN finds neighbor") {
    val out = Embeddings.lshTopK(vectors, "vec_id", "embedding",
      queryPred = sc("vec_id") === 0L, bits = 4, k = 2).collect()
    // vector 3 has a different sign bucket; 1 and 2 share bucket with 0
    val neighbors = out.map(_.getAs[Long]("neighbor_id")).toSet
    assert(neighbors === Set(1L, 2L))
    assert(out.head.getAs[Long]("neighbor_id") === 1L) // rank 1 = closest
  }

  test("embedding near-dup pairs within buckets above threshold") {
    val pairs = Embeddings.nearDupPairs(vectors, "vec_id", "embedding",
      bits = 4, threshold = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((0L, 1L)))
  }

  test("native char_ngram_min / minhash_sig match the HOF formulations") {
    graft.GraftExtensions.install(spark)
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.expr
    val d = Seq("the quick brown fox jumps over the lazy dog", "tiny", "")
      .toDF("text")
    val fp = d.select(
      expr("char_ngram_min(text, 8)").as("native"),
      TextOps.charNgramFingerprint("text", 8).as("hof")).collect()
    fp.foreach(r => assert(r.getString(0) === r.getString(1)))
    // native bottom-k == slice(array_sort(array_distinct(transform(...))))
    val bk = d.select(
      expr("char_ngram_bottomk(text, 8, 3)").as("native"),
      expr("""CASE WHEN length(text) >= 8
          THEN slice(array_sort(array_distinct(transform(
                 sequence(1, length(text) - 7),
                 i -> md5(substring(text, i, 8))))), 1, 3)
          ELSE array(md5(text)) END""").as("hof")).collect()
    bk.foreach(r => assert(r.getSeq[String](0) === r.getSeq[String](1)))
    // bottom-1 == the single min fingerprint
    val b1 = d.select(
      expr("char_ngram_bottomk(text, 8, 1)").as("k1"),
      expr("char_ngram_min(text, 8)").as("m")).collect()
    b1.foreach(r => assert(r.getSeq[String](0) === Seq(r.getString(1))))
    // per-pair native jaccard == set arithmetic over charShingles
    val pair = Seq(("abcdefg", "abcdxyz")).toDF("a", "b")
      .withColumn("__sa__", TextOps.charShingles("a", 3))
      .withColumn("__sb__", TextOps.charShingles("b", 3))
    val jr = pair.select(
      expr("char_ngram_jaccard(a, b, 3)").as("native"),
      (org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.array_intersect(sc("__sa__"), sc("__sb__"))) /
        org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.array_union(sc("__sa__"), sc("__sb__"))))
        .as("hof")).collect().head
    assert(jr.getDouble(0) === jr.getDouble(1))
    val withSh = d.withColumn("__toks__", TextOps.tokens(sc("text")))
      .where(org.apache.spark.sql.functions.size(sc("__toks__")) >= 3)
      .withColumn("__sh__",
        org.apache.spark.sql.functions.array_distinct(
          TextOps.wordShingles("__toks__", 3)))
    val sigs = withSh.select(
      expr("minhash_sig(__sh__, 8)").as("native"),
      TextOps.minhashSignature("__sh__", 8).as("hof"),
      expr("minhash_sig_words(__toks__, 3, 8)").as("fused")).collect()
    sigs.foreach { r =>
      assert(r.getSeq[String](0) === r.getSeq[String](1))
      assert(r.getSeq[String](2) === r.getSeq[String](1))
    }
    // word-ngram jaccard: native per-pair == set arithmetic over shingles
    val p = Seq(("a b c d e", "a b c x y")).toDF("l", "r")
      .withColumn("__tl__", TextOps.tokens(sc("l")))
      .withColumn("__tr__", TextOps.tokens(sc("r")))
    val wj = p.select(expr("word_ngram_jaccard(__tl__, __tr__, 3)"))
      .collect().head.getDouble(0)
    // shingles: {a b c, b c d, c d e} vs {a b c, b c x, c x y} -> 1/5
    assert(math.abs(wj - 0.2) < 1e-12)
  }

  test("native simhash_bigrams matches the composed HOF chain") {
    graft.GraftExtensions.install(spark)
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{expr, size}
    val d = Seq(
      "alpha beta gamma delta epsilon zeta", "alpha beta", "x y x y x y")
      .toDF("text")
      .withColumn("__toks__", TextOps.tokens(sc("text")))
      .where(size(sc("__toks__")) >= 2)
      .withColumn("__big__",
        org.apache.spark.sql.functions.array_distinct(
          TextOps.wordShingles("__toks__", 2)))
      .withColumn("__th__", TextOps.hashedTokens("__big__"))
    val out = d.select(
      expr("simhash_bigrams(__toks__)").as("native"),
      TextOps.simhash32("__th__").as("hof")).collect()
    out.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("native float_vec_dot matches the HOF fold bit-for-bit") {
    graft.GraftExtensions.install(spark)
    assert(graft.GraftExtensions.installed(spark))
    val out = vectors
      .select(
        Embeddings.dot("embedding", "embedding").as("native"),
        Embeddings.dotFold("embedding", "embedding").as("fold"))
      .collect()
    out.foreach { r =>
      // bit-identical, not approximately equal: same fold order from 0.0
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
    // uneven fixture check against a hand-computed value
    val s = spark
    import s.implicits._
    val two = Seq((Array(1.5f, -2f, 3f), Array(4f, 0.5f, 2f))).toDF("a", "b")
    val d = two.select(Embeddings.dot("a", "b")).collect().head.getDouble(0)
    assert(math.abs(d - (1.5 * 4 + -2 * 0.5 + 3 * 2)) < 1e-12)
    // cosine helper: self-similarity is exactly 1 up to fp error
    val c = two.select(Embeddings.cosine("a", "a")).collect().head.getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("native vec_argmax_cell matches the HOF argmax fold on every edge") {
    // vec_argmax_cell replaces the CodegenFallback aggregate(transform(...))
    // assignment argmax (the ANN suite's hottest interpreted loop); the HOF
    // formulation stays as the value-identity anchor. The fixture forces
    // every branch: random vectors, a zero vector and a NULL vector (both
    // must land in the MINIMUM cid via the -2-sim tie-break), a zero-norm
    // centroid, a NULL-cv centroid, and an exact-duplicate centroid pair
    // (tie → smaller cid).
    graft.GraftExtensions.install(spark)
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{broadcast, collect_list, expr, sqrt, struct}
    val rnd = new scala.util.Random(7)
    val rows = (0L until 40L).map(i => (i, Array.fill(6)(rnd.nextFloat() * 2 - 1))) ++
      Seq((40L, Array.fill(6)(0f)), (41L, null: Array[Float]))
    val embs = rows.toDF("vec_id", "embedding")
    val dup = Array.fill(6)(rnd.nextFloat() * 2 - 1)
    val cents = (Seq((7L, dup), (3L, dup), (5L, Array.fill(6)(0f)),
      (9L, null: Array[Float])) ++
      (10L until 14L).map(i => (i, Array.fill(6)(rnd.nextFloat() * 2 - 1))))
      .toDF("cid", "cv")
    def centArr(c: org.apache.spark.sql.DataFrame) = c
      .select(sc("cid").as("__cid__"), sc("cv").as("__cv__"),
        sqrt(Embeddings.dot("cv", "cv")).as("__cn__"))
      .agg(collect_list(struct(sc("__cid__"), sc("__cv__"), sc("__cn__")))
        .as("__cents__"))
    val both = embs
      .withColumn("__n__", sqrt(Embeddings.dot("embedding", "embedding")))
      .crossJoin(broadcast(centArr(cents)))
      .select(sc("vec_id"),
        expr("vec_argmax_cell(embedding, __n__, __cents__)").as("native"),
        Embeddings.argmaxCellHof("embedding", "__n__", "__cents__").as("hof"))
      .collect()
    both.foreach(r => assert(r.get(1) === r.get(2), s"vec ${r.getLong(0)}"))
    // degenerate rows (zero / NULL vector): every sim is -2, so the
    // tie-break must pick the minimum cid — 3, via the duplicate pair
    both.filter(r => r.getLong(0) >= 40L)
      .foreach(r => assert(r.getLong(1) === 3L))
    // empty centroid set → NULL cell from both paths
    val empty = embs.limit(1)
      .withColumn("__n__", sqrt(Embeddings.dot("embedding", "embedding")))
      .crossJoin(broadcast(centArr(cents.where(sc("cid") < 0L))))
      .select(
        expr("vec_argmax_cell(embedding, __n__, __cents__)").as("native"),
        Embeddings.argmaxCellHof("embedding", "__n__", "__cents__").as("hof"))
      .collect().head
    assert(empty.isNullAt(0) && empty.isNullAt(1))
    // NaN semantics: Spark orders NaN GREATEST (NaN > x true, NaN = NaN
    // true). A NaN VECTOR makes every sim NaN → all tie → minimum cid
    // (3, via the duplicate pair). A NaN-component CENTROID has sim NaN
    // against every finite vector → it beats all finite sims; with two
    // such centroids the tie again breaks to the smaller cid. The native
    // must reproduce both through Double.compare's total order.
    val nanVec = Array.fill(6)(1f); nanVec(3) = Float.NaN
    val nanRows = Seq((50L, nanVec)).toDF("vec_id", "embedding")
      .withColumn("__n__", sqrt(Embeddings.dot("embedding", "embedding")))
      .crossJoin(broadcast(centArr(cents)))
      .select(
        expr("vec_argmax_cell(embedding, __n__, __cents__)").as("native"),
        Embeddings.argmaxCellHof("embedding", "__n__", "__cents__").as("hof"))
      .collect().head
    assert(nanRows.getLong(0) === 3L && nanRows.getLong(1) === 3L)
    val nanCents = (Seq((20L, nanVec), (15L, nanVec)) ++
      (10L until 13L).map(i => (i, Array.fill(6)(rnd.nextFloat())))).toDF("cid", "cv")
    val nanCentOut = embs.where(sc("vec_id") < 5L)
      .withColumn("__n__", sqrt(Embeddings.dot("embedding", "embedding")))
      .crossJoin(broadcast(centArr(nanCents)))
      .select(sc("vec_id"),
        expr("vec_argmax_cell(embedding, __n__, __cents__)").as("native"),
        Embeddings.argmaxCellHof("embedding", "__n__", "__cents__").as("hof"))
      .collect()
    nanCentOut.foreach { r =>
      assert(r.getLong(1) === r.getLong(2), s"NaN centroid, vec ${r.getLong(0)}")
      assert(r.getLong(1) === 15L) // NaN sim beats finite; tie → min cid
    }

    // non-numeric cid type: string ids order lexicographically in both
    val scents = Seq(("b", dup), ("a", dup)).toDF("cid", "cv")
    val sc0 = embs.where(sc("vec_id") === 0L)
      .withColumn("__n__", sqrt(Embeddings.dot("embedding", "embedding")))
      .crossJoin(broadcast(centArr(scents)))
      .select(
        expr("vec_argmax_cell(embedding, __n__, __cents__)").as("native"),
        Embeddings.argmaxCellHof("embedding", "__n__", "__cents__").as("hof"))
      .collect().head
    assert(sc0.getString(0) === "a")
    assert(sc0.getString(0) === sc0.getString(1))
  }

  test("native vec_argmax_cell_l2 matches the L2 HOF fold; zero vectors encode legitimately; picks true L2-nearest over cosine-nearest") {
    graft.GraftExtensions.install(spark)
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{broadcast, collect_list, expr, sqrt, struct}
    val rnd = new scala.util.Random(11)
    val rows = (0L until 40L).map(i => (i, Array.fill(6)(rnd.nextFloat() * 2 - 1))) ++
      Seq((40L, Array.fill(6)(0f)), (41L, null: Array[Float]))
    val embs = rows.toDF("vec_id", "embedding")
    val dup = Array.fill(6)(rnd.nextFloat() * 2 - 1)
    val cents = (Seq((7L, dup), (3L, dup), (5L, Array.fill(6)(0f)),
      (9L, null: Array[Float])) ++
      (10L until 14L).map(i => (i, Array.fill(6)(rnd.nextFloat() * 2 - 1))))
      .toDF("cid", "cv")
    // L2 mode: the struct's third field carries ‖cv‖², not ‖cv‖
    def centArr(c: org.apache.spark.sql.DataFrame) = c
      .select(sc("cid").as("__cid__"), sc("cv").as("__cv__"),
        Embeddings.dot("cv", "cv").as("__cn__"))
      .agg(collect_list(struct(sc("__cid__"), sc("__cv__"), sc("__cn__")))
        .as("__cents__"))
    val both = embs
      .withColumn("__n__", sqrt(Embeddings.dot("embedding", "embedding")))
      .crossJoin(broadcast(centArr(cents)))
      .select(sc("vec_id"),
        expr("vec_argmax_cell_l2(embedding, __n__, __cents__)").as("native"),
        Embeddings.argmaxCellHofL2("embedding", "__cents__").as("hof"))
      .collect()
    both.foreach(r => assert(r.get(1) === r.get(2), s"vec ${r.getLong(0)}"))
    // the ZERO vector is legitimately encodable under L2 (no division):
    // its nearest entry by ‖0−cv‖² is the MIN-NORM centroid — the zero
    // centroid (cid 5), never a -2-style degenerate pin
    assert(both.find(_.getLong(0) == 40L).get.getLong(1) === 5L)
    // NULL vector: every sim pins to −∞ → min cid via the duplicate tie
    assert(both.find(_.getLong(0) == 41L).get.getLong(1) === 3L)
    // empty centroid set → NULL from both paths
    val empty = embs.limit(1)
      .withColumn("__n__", sqrt(Embeddings.dot("embedding", "embedding")))
      .crossJoin(broadcast(centArr(cents.where(sc("cid") < 0L))))
      .select(
        expr("vec_argmax_cell_l2(embedding, __n__, __cents__)").as("native"),
        Embeddings.argmaxCellHofL2("embedding", "__cents__").as("hof"))
      .collect().head
    assert(empty.isNullAt(0) && empty.isNullAt(1))
    // metric discrimination: a centroid PARALLEL to the vector but far
    // away in magnitude (cosine 1) must LOSE under L2 to a nearby
    // centroid of slightly different direction
    val v = Array(1f, 0f, 0f, 0f, 0f, 0f)
    val mcents = Seq(
      (1L, Array(10.0f, 0f, 0f, 0f, 0f, 0f)),  // cosine 1, L2 dist 9
      (2L, Array(0.9f, 0.1f, 0f, 0f, 0f, 0f))) // cosine <1, L2 dist ~0.14
      .toDF("cid", "cv")
    val pick = Seq((0L, v)).toDF("vec_id", "embedding")
      .withColumn("__n__", sqrt(Embeddings.dot("embedding", "embedding")))
      .crossJoin(broadcast(centArr(mcents)))
      .select(expr("vec_argmax_cell_l2(embedding, __n__, __cents__)"))
      .collect().head.getLong(0)
    assert(pick === 2L, "L2 mode must be magnitude-aware")
  }

  test("ANN index persistence: fit once, save, load, serve identically") {
    // The serving ops take their model state as plain DataFrames (kmeans
    // centroids, PQ codebooks), so index persistence is parquet
    // write/read — no bespoke format. This pins the full production
    // cycle: fit → save → load in a fresh frame → serve, with results
    // IDENTICAL to serving straight off the fit (the loaded index is the
    // same model, not a lossy copy — float round-trip through parquet is
    // exact).
    val s = spark
    import org.apache.spark.sql.functions.{col => sc2}
    val emb = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .where(sc2("embedding").isNotNull)
    val dir = java.nio.file.Files.createTempDirectory("graft_index").toString
    val cents = Embeddings.kmeansFitSqrtK(emb, "vec_id", "embedding", iters = 2)
    val cb = Embeddings.pqCodebooks(emb, "vec_id", "embedding",
      dim = 64, m = 2, initPred = sc2("vec_id") < 4, iters = 2)
    cents.write.mode("overwrite").parquet(s"$dir/centroids")
    cb.write.mode("overwrite").parquet(s"$dir/codebooks")
    val centsL = s.read.parquet(s"$dir/centroids")
    val cbL = s.read.parquet(s"$dir/codebooks")

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    val direct = rows(Embeddings.ivfTopKTrained(emb, "vec_id", "embedding",
      cents, queryPred = sc2("vec_id") < 3, k = 5)
      .orderBy(sc2("query_id"), sc2("rank")))
    val loaded = rows(Embeddings.ivfTopKTrained(emb, "vec_id", "embedding",
      centsL, queryPred = sc2("vec_id") < 3, k = 5)
      .orderBy(sc2("query_id"), sc2("rank")))
    assert(loaded === direct && direct.nonEmpty)

    val directPq = rows(Embeddings.ivfPqTopK(emb, "vec_id", "embedding",
      cents, cb, dim = 64, m = 2, queryId = 0L, k = 10).orderBy(sc2("rank")))
    val loadedPq = rows(Embeddings.ivfPqTopK(emb, "vec_id", "embedding",
      centsL, cbL, dim = 64, m = 2, queryId = 0L, k = 10).orderBy(sc2("rank")))
    assert(loadedPq === directPq && directPq.nonEmpty)
  }

  test("multimodal decode: real PNG/JPEG/GIF header parsing") {
    def hx(s: String): Array[Byte] =
      s.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    // PNG per spec: signature, IHDR length 13, width 389, height 270
    val png = hx("89504E470D0A1A0A 0000000D 49484452 00000185 0000010E 0806000000")
    // JPEG: SOI, APP0(JFIF), a DQT segment the walk must skip, then a
    // PROGRESSIVE SOF2 with height 261 / width 467, then entropy bytes
    val jpeg = hx("FFD8 FFE00010 4A46494600010100000100010000" +
      "FFDB0004 0001 FFC20011 08 0105 01D3 03012200021101031101 FFDA")
    // GIF89a: little-endian 320×200
    val gif = hx("474946383961 4001 C800 F700")
    val other = "not an image".getBytes("UTF-8")

    for ((bytes, fmt, w, h) <- Seq(
        (png, "png", 389, 270), (jpeg, "jpeg", 467, 261),
        (gif, "gif", 320, 200), (other, "unknown", 0, 0))) {
      val m = Multimodal.decodeMeta(bytes)
      assert(m.getString(0) === fmt, fmt)
      assert(m.getInt(1) === w, s"$fmt width")
      assert(m.getInt(2) === h, s"$fmt height")
      assert(m.getLong(4) === bytes.length.toLong)
      val expectedSha = java.security.MessageDigest.getInstance("SHA-256")
        .digest(bytes).map("%02x".format(_)).mkString
      assert(m.getString(5) === expectedSha)
    }
    // truncated JPEG (no SOF before data) and bare SOI degrade to unknown
    assert(Multimodal.decodeMeta(hx("FFD8 FFDA")).getString(0) === "unknown")
    assert(Multimodal.decodeMeta(hx("FFD8")).getString(0) === "unknown")

    // distributed path: the batched decode carries metadata through
    val s = spark
    import s.implicits._
    val d = Seq((1L, png), (2L, jpeg)).toDF("id", "payload")
    val out = Multimodal.decode(d, "payload")
      .select(sc("id"), sc("meta.format"), sc("meta.width"))
      .orderBy(sc("id")).collect()
    assert(out(0).getString(1) === "png" && out(0).getInt(2) === 389)
    assert(out(1).getString(1) === "jpeg" && out(1).getInt(2) === 467)
    // null payloads produce null meta rather than failing the partition
    val withNull = Seq((1L, Some("abc")), (2L, None: Option[String]))
      .toDF("id", "txt").withColumn("payload", sc("txt").cast("binary"))
    val metas = Multimodal.decode(withNull, "payload")
      .select(sc("meta")).collect()
    assert(metas.count(_.isNullAt(0)) === 1)
  }

  test("multimodal pixel decode: inflate + unfilter round-trips the encoder") {
    // every (w, h) here spans y = 0..≥5, so all five PNG filter types
    // (None/Sub/Up/Average/Paeth — the encoder cycles y mod 5) are hit
    for ((w, h, ch) <- Seq((8, 6, 3), (12, 12, 3), (5, 7, 1), (3, 11, 4))) {
      def pix(x: Int, y: Int, c: Int): Int = (x * 7 + y * 13 + c * 31 + 5) % 256
      val bytes = Multimodal.encodePng(w, h, ch, pix)
      // the encoder emits a spec-valid PNG: header sniffing agrees on dims
      val meta = Multimodal.decodeMeta(bytes)
      assert(meta.getString(0) === "png" &&
        meta.getInt(1) === w && meta.getInt(2) === h)
      val px = Multimodal.decodePngPixels(bytes)
      assert(px != null, s"${w}x$h/$ch decode failed")
      assert(px.getInt(0) === w && px.getInt(1) === h && px.getInt(2) === ch)
      assert(px.getLong(3) === w.toLong * h)
      // closed-form expectation per channel, independent of the codec
      for (c <- 0 until ch) {
        val vs = for (y <- 0 until h; x <- 0 until w) yield pix(x, y, c).toLong
        assert(px.getSeq[Long](4)(c) === vs.sum, s"sum c=$c")
        assert(px.getSeq[Long](5)(c) === vs.min, s"min c=$c")
        assert(px.getSeq[Long](6)(c) === vs.max, s"max c=$c")
      }
    }
    // corruption is observable, never fabricated: truncated IDAT, bad
    // filter byte, and non-PNG payloads all yield null
    val good = Multimodal.pngFixture(3L)
    assert(Multimodal.decodePngPixels(good.dropRight(20)) === null)
    assert(Multimodal.decodePngPixels("nope".getBytes("UTF-8")) === null)
    assert(Multimodal.decodePngPixels(null) === null)

    // distributed path: batched decodePixels carries the stats struct
    val s = spark
    import s.implicits._
    val d = Seq((3L, good), (4L, "junk".getBytes("UTF-8"))).toDF("id", "payload")
    val out = Multimodal.decodePixels(d, "payload")
      .select(sc("id"), sc("px")).orderBy(sc("id")).collect()
    assert(!out(0).isNullAt(1) && out(1).isNullAt(1))
  }

  test("multimodal patch means: fixed grid, exact tile averages, honest nulls") {
    val s = spark
    import s.implicits._
    def pix(x: Int, y: Int, c: Int): Int = (x * 7 + y * 13 + c * 31 + 5) % 256
    val img = Multimodal.encodePng(9, 6, 3, pix)   // 2×1 full 4×4 tiles
    val tiny = Multimodal.encodePng(3, 3, 3, pix)  // smaller than one tile
    val d = Seq((0L, img), (1L, tiny), (2L, "junk".getBytes("UTF-8")))
      .toDF("id", "payload")
    val out = Multimodal.patchMeans(d, "payload", patch = 4)
      .select(sc("id"), sc("patches")).orderBy(sc("id")).collect()
    // closed-form tile means, independent of the codec
    val got = out(0).getSeq[org.apache.spark.sql.Row](1)
    assert(got.map(r => (r.getInt(0), r.getInt(1))) === Seq((0, 0), (0, 1)))
    for (r <- got; c <- 0 until 3) {
      val exp = (for (dy <- 0 until 4; dx <- 0 until 4)
        yield pix(r.getInt(1) * 4 + dx, r.getInt(0) * 4 + dy, c)).sum / 16.0
      assert(r.getSeq[Double](2)(c) === exp, s"tile ${r} channel $c")
    }
    assert(out(1).getSeq[org.apache.spark.sql.Row](1).isEmpty) // sub-tile image
    assert(out(2).isNullAt(1))                                 // corrupt
  }

  test("multimodal GIF pixel decode: real LZW decompression round-trips the encoder") {
    // enough pixels to force several CLEAR cycles (250-literal period) and
    // exercise the dictionary across resets
    for ((w, h) <- Seq((8, 6), (12, 12), (30, 20), (5, 7))) {
      def idx(x: Int, y: Int): Int = (x * 11 + y * 17 + 5) % 256
      val bytes = Multimodal.encodeGif(w, h, idx)
      // the encoder emits a spec-valid GIF: the header walk agrees
      val meta = Multimodal.decodeMeta(bytes)
      assert(meta.getString(0) === "gif" &&
        meta.getInt(1) === w && meta.getInt(2) === h && meta.getInt(3) === 1)
      val px = Multimodal.decodeGifPixels(bytes)
      assert(px != null, s"${w}x$h decode failed")
      assert(px.getInt(0) === w && px.getInt(1) === h && px.getInt(2) === 3)
      assert(px.getLong(3) === w.toLong * h)
      // closed-form expectation per channel through the palette ramp
      for (c <- 0 until 3) {
        val vs = for (y <- 0 until h; x <- 0 until w)
          yield ((idx(x, y) * (c + 1)) % 256).toLong
        assert(px.getSeq[Long](4)(c) === vs.sum, s"sum c=$c ${w}x$h")
        assert(px.getSeq[Long](5)(c) === vs.min, s"min c=$c")
        assert(px.getSeq[Long](6)(c) === vs.max, s"max c=$c")
      }
    }
    // a REAL compressing LZW stream (not just the literal-code subset):
    // constant-color image produces long runs the dictionary compresses
    // via chained entries, including KwKwK self-references
    val flat = Multimodal.encodeGif(40, 30, (_, _) => 7)
    val pf = Multimodal.decodeGifPixels(flat)
    assert(pf != null && pf.getLong(3) === 1200L)
    assert(pf.getSeq[Long](4)(0) === 7L * 1200)
    assert(pf.getSeq[Long](5)(0) === 7L && pf.getSeq[Long](6)(0) === 7L)
    assert(pf.getSeq[Long](4)(1) === 14L * 1200)
    // big high-entropy image: fills the 4096-entry dictionary and forces
    // the mid-stream CLEAR + reset path on both sides
    def noisy(x: Int, y: Int): Int = (x * 31 + y * 57 + x * y) % 256
    val big = Multimodal.encodeGif(150, 100, noisy)
    val pb = Multimodal.decodeGifPixels(big)
    assert(pb != null && pb.getLong(3) === 15000L)
    val exp = for (y <- 0 until 100; x <- 0 until 150) yield noisy(x, y).toLong
    assert(pb.getSeq[Long](4)(0) === exp.sum)
    assert(pb.getSeq[Long](5)(0) === exp.min && pb.getSeq[Long](6)(0) === exp.max)

    // corruption is observable: truncated stream and missing palette → null
    val good = Multimodal.gifFixture(3L)
    assert(Multimodal.decodeGifPixels(good.dropRight(6)) === null)
    def hx(s: String): Array[Byte] =
      s.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    // no global color table → indices unmappable → null, never fabricated
    assert(Multimodal.decodeGifPixels(hx(
      "474946383961 0100 0100 00 00 00" +
        "2C 00000000 01000100 00 02 02 4C01 00 3B")) === null)
  }

  test("multimodal decode: GIF block walk counts animation frames") {
    def hx(s: String): Array[Byte] =
      s.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val frame = "2C 00000000 01000100 00 02 02 4C01 00" // 1×1 image descriptor
    val gce = "21 F9 04 00000000 00" // graphic control extension
    val twoFrames = hx("474946383961 0100 0100 00 00 00" +
      frame + gce + frame + "3B")
    val m = Multimodal.decodeMeta(twoFrames)
    assert(m.getString(0) === "gif")
    assert(m.getInt(1) === 1 && m.getInt(2) === 1)
    assert(m.getInt(3) === 2) // n_frames is real, not a constant
    // a bare header holds ZERO complete frames — honest, not assumed 1
    assert(Multimodal.decodeMeta(
      hx("474946383961 4001 C800 00 00 00")).getInt(3) === 0)
  }

  test("multimodal animated GIF: frame sampling decodes exactly the sampled frames") {
    for (id <- 0L until 12L) {
      val w = (8 + id % 5).toInt; val h = (6 + id % 7).toInt
      val nf = (3 + id % 4).toInt
      def idx(f: Int, x: Int, y: Int): Int =
        ((11L * x + 17L * y + 23L * f + 3L * id) % 256L).toInt
      val bytes = Multimodal.gifAnimFixture(id)
      // the container is spec-valid: the meta walk sees every frame
      val meta = Multimodal.decodeMeta(bytes)
      assert(meta.getString(0) === "gif" && meta.getInt(1) === w &&
        meta.getInt(2) === h && meta.getInt(3) === nf, s"meta id=$id")
      // every=1 decodes all frames; each matches its own closed form
      val all = Multimodal.sampleGifFrames(bytes, every = 1)
      assert(all != null && all.size === nf, s"all-frames id=$id")
      for ((r, f) <- all.zipWithIndex; c <- 0 until 3) {
        assert(r.getInt(0) === f && r.getInt(1) === w && r.getInt(2) === h)
        val vs = for (y <- 0 until h; x <- 0 until w)
          yield ((idx(f, x, y) * (c + 1)) % 256).toLong
        assert(r.getSeq[Long](4)(c) === vs.sum, s"sum id=$id f=$f c=$c")
        assert(r.getSeq[Long](5)(c) === vs.min && r.getSeq[Long](6)(c) === vs.max)
      }
      // every=2 keeps exactly frames 0, 2, 4, ... — and nothing else
      val sampled = Multimodal.sampleGifFrames(bytes, every = 2)
      assert(sampled.map(_.getInt(0)) === (0 until nf by 2))
      // the single-frame decoder and the sampler agree on frame 0
      val first = Multimodal.decodeGifPixels(bytes)
      assert(first != null)
      assert(first.getSeq[Long](4) === all.head.getSeq[Long](4))
    }
    // corruption stays observable through the multi-frame walk
    val good = Multimodal.gifAnimFixture(5L)
    assert(Multimodal.sampleGifFrames(good.dropRight(4), 1) === null)
    assert(Multimodal.sampleGifFrames(Array[Byte](1, 2, 3), 1) === null)
    // a plain single-frame GIF is just a 1-frame animation to the sampler
    val single = Multimodal.gifFixture(3L)
    val sf = Multimodal.sampleGifFrames(single, 1)
    val sp = Multimodal.decodeGifPixels(single)
    assert(sf.size === 1 && sf.head.getSeq[Long](4) === sp.getSeq[Long](4))
  }

  test("multimodal GIF: indices past a short global table, or a frame larger than its data, decode to null") {
    // the encoder's 256-entry ramp cut to a 2-entry global table
    // (packed & 7 = 0): every decoded index >= 2 names no palette entry
    def cutTable(gif: Array[Byte]): Array[Byte] = {
      val out = gif.take(13 + 6) ++ gif.drop(13 + 768)
      out(10) = (out(10) & 0xf8).toByte
      out
    }
    def ramp(f: Int, x: Int, y: Int): Int = (7 * x + 13 * y + 29 * f) % 256
    // the fixtures are small, so a lookup past the table runs off the
    // payload; the 40×40 clips are large enough that it lands on LZW
    // data instead and would make up colors
    val gifs = Seq(Multimodal.gifFixture(3L), Multimodal.gifAnimFixture(3L),
      Multimodal.gifSceneFixture(3L), Multimodal.encodeGif(40, 40, ramp(0, _, _)),
      Multimodal.encodeAnimatedGif(40, 40, 3, ramp))
    assert(cutTable(gifs(3)).length > 13 + 3 * 256)
    def hashes(p: Array[Byte]) = Option(Multimodal.videoFrameDhashes(p, 1))
      .map(_.map { case (f, h) => (f, h.toSeq) })
    for ((gif, k) <- gifs.zipWithIndex) {
      val p = cutTable(gif)
      assert(Multimodal.decodeGifPixels(p) === null, s"gif $k")
      assert(Multimodal.sampleGifFrames(p, 1) === null, s"gif $k")
      assert(Multimodal.sampleGifFrames(p, 2) === null, s"gif $k")
      assert(Multimodal.sceneDiffs(p) === null, s"gif $k")
      // the frame count and the index-plane hash read no palette
      assert(Multimodal.decodeMeta(p).getInt(3) ===
        Multimodal.decodeMeta(gif).getInt(3), s"gif $k")
      assert(hashes(p) === hashes(gif), s"gif $k")
    }
    // a descriptor claiming 40000×50000 pixels over a few hundred bytes
    // of data: the raster grows only with what the stream emits
    val huge = Multimodal.gifFixture(3L).clone()
    val at = 13 + 768 // the image descriptor
    assert(huge(at) === 0x2c.toByte)
    huge(at + 5) = 0x40; huge(at + 6) = 0x9c.toByte // 40000
    huge(at + 7) = 0x50; huge(at + 8) = 0xc3.toByte // 50000
    assert(Multimodal.decodeMeta(huge).getInt(3) === 1)
    assert(Multimodal.decodeGifPixels(huge) === null)
    assert(Multimodal.sampleGifFrames(huge, 1) === null)
    assert(Multimodal.videoFrameDhashes(huge, 1) === null)
    assert(Multimodal.sceneDiffs(huge) === null)
    // indices inside the short table still map through it
    val twoColor = cutTable(Multimodal.encodeGif(6, 5, (x, y) => (x + y) % 2))
    val px = Multimodal.decodeGifPixels(twoColor)
    assert(px != null && px.getSeq[Long](4) === Seq(15L, 30L, 45L) &&
      px.getSeq[Long](5) === Seq(0L, 0L, 0L) && px.getSeq[Long](6) === Seq(1L, 2L, 3L))
    // the DataFrame decode yields a null struct for the row, not a failed task
    val s = spark
    import s.implicits._
    val d = Seq((1L, cutTable(gifs(3))), (2L, gifs(3))).toDF("id", "payload")
    val out = Multimodal.decodePixels(d, "payload")
      .select(sc("id"), sc("px")).orderBy(sc("id")).collect()
    assert(out(0).isNullAt(1) && !out(1).isNullAt(1))
  }

  test("multimodal resize: box downscale re-encodes a real PNG with exact tile means") {
    val spark2 = spark
    import spark2.implicits._
    val ids = (0L until 8L).toDF("doc_id")
      .map(r => (r.getLong(0), Multimodal.pngFixture(r.getLong(0))))
      .toDF("doc_id", "payload")
    val resized = Multimodal.resizePng(ids, "payload", factor = 2)
    val stats = Multimodal.decodePixels(resized, "resized")
      .select(sc("doc_id"), sc("px")).collect()
      .map(r => r.getLong(0) -> r.getStruct(1)).toMap
    for (id <- 0L until 8L) {
      val w = (8 + id % 5).toInt; val h = (6 + id % 7).toInt
      def v(x: Int, y: Int, c: Int): Int =
        ((7L * x + 13L * y + 31L * c + 3L * id) % 256L).toInt
      def out(x: Int, y: Int, c: Int): Long =
        ((0 until 2).flatMap(dy => (0 until 2).map(dx =>
          v(2 * x + dx, 2 * y + dy, c))).sum / 4).toLong
      val px = stats(id)
      assert(px.getInt(0) === w / 2 && px.getInt(1) === h / 2, s"id=$id dims")
      for (c <- 0 until 3) {
        val vs = for (y <- 0 until h / 2; x <- 0 until w / 2) yield out(x, y, c)
        assert(px.getSeq[Long](4)(c) === vs.sum, s"id=$id c=$c")
        assert(px.getSeq[Long](5)(c) === vs.min && px.getSeq[Long](6)(c) === vs.max)
      }
    }
    // too-small image or corrupt payload → null, never fabricated
    val tiny = Seq((0L, Multimodal.encodePng(3, 3, 1, (_, _, _) => 5)),
      (1L, Array[Byte](9, 9))).toDF("doc_id", "payload")
    val t = Multimodal.resizePng(tiny, "payload", factor = 4).collect()
    assert(t.forall(_.isNullAt(2)))
  }

  test("multimodal resample: decimation keeps every k-th channel-0 sample at rate/k") {
    for (id <- 0L until 7L) {
      val n = (240 + (id % 7) * 40).toInt
      def s0(i: Int): Int = (((7L * id + 13L * i) % 2048L) - 1024L).toInt
      val spark2 = spark
      import spark2.implicits._
      val df = Seq((id, Multimodal.wavFixture(id))).toDF("doc_id", "payload")
      val out = Multimodal.resampleWav(df, "payload", factor = 2).collect()(0)
      val pcm = Multimodal.decodeWavPcm(out.getAs[Array[Byte]](2))
      assert(pcm != null && pcm.sampleRate === 4000 && pcm.channels === 1)
      assert(pcm.samples.length === n / 2, s"id=$id")
      assert((0 until n / 2).forall(i => pcm.samples(i) === s0(2 * i).toShort))
    }
    // stereo decimation reads channel 0 of the interleave
    val stereo = Array.tabulate(40)(i =>
      (if (i % 2 == 0) (i / 2) * 10 else -7).toShort)
    val sb = Multimodal.encodeWav(16000, 2, stereo)
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((0L, sb)).toDF("doc_id", "payload")
    val out = Multimodal.resampleWav(df, "payload", factor = 5).collect()(0)
    val pcm = Multimodal.decodeWavPcm(out.getAs[Array[Byte]](2))
    assert(pcm.sampleRate === 3200 && pcm.samples.toSeq === Seq[Short](0, 50, 100, 150))
  }

  test("multimodal scene diffs: adjacent-frame MAD recovers the planted cut") {
    for (id <- 0L until 12L) {
      val w = (8 + id % 5).toInt; val h = (6 + id % 7).toInt
      val nf = (5 + id % 3).toInt
      val cut = (2 + id % 3).toInt
      def idx(f: Int, x: Int, y: Int): Int =
        ((11L * x + 17L * y + 3L * id + 5L * f +
          (if (f >= cut) 97L else 0L)) % 256L).toInt
      def chan(v: Int, c: Int): Int = (v * (c + 1)) % 256
      val diffs = Multimodal.sceneDiffs(Multimodal.gifSceneFixture(id))
      assert(diffs != null && diffs.size === nf - 1, s"id=$id")
      for ((r, k) <- diffs.zipWithIndex) {
        val f = k + 1
        assert(r.getInt(0) === f && r.getLong(1) === w.toLong * h)
        val exp = (for (y <- 0 until h; x <- 0 until w; c <- 0 until 3) yield
          math.abs(chan(idx(f, x, y), c) - chan(idx(f - 1, x, y), c)).toLong).sum
        assert(r.getLong(2) === exp, s"id=$id f=$f")
      }
      // the cut is recoverable: its pair dominates every in-scene pair
      val byFrame = diffs.map(r => r.getInt(0) -> r.getLong(2)).toMap
      val cutDiff = byFrame(cut)
      assert(byFrame.filterNot(_._1 == cut).values.forall(_ < cutDiff),
        s"id=$id cut=$cut diffs=$byFrame")
    }
    // degenerate shapes: single frame → empty, corruption → null
    assert(Multimodal.sceneDiffs(Multimodal.gifFixture(1L)) === Nil)
    assert(Multimodal.sceneDiffs(Multimodal.gifSceneFixture(2L).dropRight(5)) === null)
  }

  test("multimodal WAV PCM: chunk-walk decode round-trips the encoder") {
    val mono = Array.tabulate(300)(i => ((i * 37) % 4001 - 2000).toShort)
    val bytes = Multimodal.encodeWav(8000, 1, mono, junkBytes = 5)
    // the meta walk and the PCM decode agree on the format
    val meta = Multimodal.decodeMeta(bytes)
    assert(meta.getString(0) === "wav" && meta.getInt(6) === 8000 &&
      meta.getInt(7) === 1)
    val pcm = Multimodal.decodeWavPcm(bytes)
    assert(pcm != null && pcm.sampleRate === 8000 && pcm.channels === 1)
    assert(pcm.samples.toSeq === mono.toSeq)
    // stereo interleave survives; frame features read channel 0 only
    val stereo = Array.tabulate(200)(i =>
      (if (i % 2 == 0) i * 3 else -9999).toShort) // ch0 = 3·k, ch1 = junk
    val sb = Multimodal.encodeWav(16000, 2, stereo)
    val spcm = Multimodal.decodeWavPcm(sb)
    assert(spcm.channels === 2 && spcm.samples.length === 200)
    // truncation decodes the honest prefix, never fabricates
    val cut = Multimodal.decodeWavPcm(bytes.dropRight(11))
    assert(cut != null && cut.samples.length === 300 - 6 &&
      cut.samples.toSeq === mono.take(294).toSeq)
    // compressed / non-16-bit formats refuse, not guess
    val mulaw = Multimodal.encodeWav(8000, 1, mono)
    mulaw(20) = 7 // audioFormat: μ-law
    assert(Multimodal.decodeWavPcm(mulaw) === null)
    assert(Multimodal.decodeWavPcm("RIFFxxxxWAVE".getBytes) === null)
  }

  test("DSIR: model and weights match a plain-Scala re-derivation") {
    val spark2 = spark
    import spark2.implicits._
    val dims = 16
    val docs = Seq(
      (0L, "the quick brown fox", "en"),
      (1L, "the lazy dog sleeps", "en"),
      (2L, "der schnelle braune fuchs", "de"),
      (3L, "le chien paresseux dort", "fr"),
      (4L, "the quick dog", "en"),
      (5L, "der faule hund schlaeft", "de"),
    ).toDF("doc_id", "text", "lang")
    val target = docs.where($"lang" === "en")
    val llr = graft.llm.Dsir.fitLlrMicro(target, docs, "text", dims)

    // plain-Scala re-derivation of the whole contract
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def grams(t: String): Seq[String] = {
      val toks = t.trim.split("\\s+").toSeq
      toks ++ toks.sliding(2).filter(_.size == 2).map(_.mkString(" "))
    }
    def bucket(g: String): Int =
      (java.lang.Long.parseLong(md5Hex(g).take(8), 16) % dims).toInt
    def counts(rows: Seq[String]): Array[Long] = {
      val arr = new Array[Long](dims)
      rows.flatMap(grams).foreach(g => arr(bucket(g)) += 1)
      arr
    }
    val allTexts = Seq("the quick brown fox", "the lazy dog sleeps",
      "der schnelle braune fuchs", "le chien paresseux dort",
      "the quick dog", "der faule hund schlaeft")
    val enTexts = Seq("the quick brown fox", "the lazy dog sleeps", "the quick dog")
    def micro(n: Long, tot: Long): Long = {
      val p = (n + 0.5) / (tot + 0.5 * dims)
      val t = java.lang.StrictMath.log(p) / java.lang.StrictMath.log(2.0)
      val r6 = java.math.BigDecimal.valueOf(t)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      math.floor(r6 * 1e6 + 0.5).toLong
    }
    val tc = counts(enTexts); val rc = counts(allTexts)
    val exp = Array.tabulate(dims)(b => micro(tc(b), tc.sum) - micro(rc(b), rc.sum))
    assert(llr.toSeq === exp.toSeq)

    // per-doc weights are the exact integer gram-sum of the table
    val got = docs.select($"doc_id",
        graft.llm.Dsir.weightMicro($"text", llr).as("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((t, id) <- allTexts.zipWithIndex) {
      val expW = grams(t).map(g => llr(bucket(g))).sum
      assert(got(id.toLong) === expW, s"doc $id")
    }
    // the statistic discriminates: every English doc outweighs every
    // non-English doc on this vocabulary-disjoint corpus
    val en = Seq(0L, 1L, 4L).map(got); val other = Seq(2L, 3L, 5L).map(got)
    assert(en.min > other.max)

    // selection: deterministic (weight desc, id) rank, k-row cut
    val sel = graft.llm.Dsir.selectTopK(docs, "doc_id", "text", llr, k = 3)
      .collect().sortBy(_.getAs[Long]("rank"))
    assert(sel.length === 3)
    assert(sel.map(_.getAs[Long]("rank")).toSeq === Seq(1L, 2L, 3L))
    val selW = sel.map(_.getAs[Long]("weight_micro"))
    assert(selW.sorted.reverse.toSeq === selW.toSeq) // descending
    assert(sel.map(_.getLong(0)).toSet.subsetOf(Set(0L, 1L, 4L))) // the en docs
  }

  test("multimodal audio frames: integer energy/zero-cross/peak match a direct fold") {
    for (id <- 0L until 8L) {
      val n = (240 + (id % 7) * 40).toInt
      def s(i: Int): Int = (((7L * id + 13L * i) % 2048L) - 1024L).toInt
      val pcm = Multimodal.decodeWavPcm(Multimodal.wavFixture(id))
      assert(pcm != null && pcm.samples.length === n, s"id=$id")
      assert((0 until n).forall(i => pcm.samples(i) === s(i).toShort))
      // frame features vs a direct per-frame fold
      val spark2 = spark
      import spark2.implicits._
      val df = Seq(id).toDF("doc_id")
        .map(r => (r.getLong(0), Multimodal.wavFixture(r.getLong(0))))
        .toDF("doc_id", "payload")
      val got = Multimodal.audioFrameFeatures(df, "payload", frameSamples = 64)
        .selectExpr("explode(aframes) AS fr").select("fr.*")
        .collect().sortBy(_.getInt(0))
      val nFrames = (n + 63) / 64
      assert(got.length === nFrames, s"id=$id frames")
      for (f <- 0 until nFrames) {
        val lo = f * 64; val hi = math.min(lo + 64, n)
        val vs = (lo until hi).map(s)
        val r = got(f)
        assert(r.getInt(1) === hi - lo)
        assert(r.getLong(2) === vs.map(v => v.toLong * v).sum, s"id=$id f=$f energy")
        assert(r.getInt(3) === vs.sliding(2).count(p =>
          p.length == 2 && p(0) * p(1) < 0), s"id=$id f=$f zc")
        assert(r.getInt(4) === vs.map(math.abs).max, s"id=$id f=$f peak")
      }
    }
    // corrupt payloads yield a null frames column, not an empty array
    val spark2 = spark
    import spark2.implicits._
    val bad = Seq((1L, Array[Byte](1, 2, 3))).toDF("doc_id", "payload")
    val r = Multimodal.audioFrameFeatures(bad, "payload", 64).collect()(0)
    assert(r.isNullAt(r.length - 1))
  }

  test("multimodal JPEG pixel decode: block-constant images round-trip exactly") {
    // all-ones quantization + block-constant pixels = DC-only blocks whose
    // coefficients survive quantize/dequantize bit-exactly, so the LOSSY
    // format becomes losslessly checkable (the q_multimodal_jpeg oracle
    // replays this closed form in SQL)
    for (id <- 0L until 12L) {
      val w = (8 * (2 + id % 3) - id % 5).toInt
      val h = (8 * (2 + id % 2) - id % 3).toInt
      def v(x: Int, y: Int): Long = ((5L * (x / 8) + 9L * (y / 8) + 7L * id) % 200L) + 28L
      val bytes = graft.llm.Jpeg.fixture(id)
      val meta = Multimodal.decodeMeta(bytes)
      assert(meta.getString(0) === "jpeg" && meta.getInt(1) === w && meta.getInt(2) === h)
      val px = graft.llm.Jpeg.decodePixels(bytes)
      assert(px != null, s"fixture $id failed to decode")
      assert(px.getInt(0) === w && px.getInt(1) === h && px.getInt(2) === 1)
      val vs = for (y <- 0 until h; x <- 0 until w) yield v(x, y)
      assert(px.getSeq[Long](4)(0) === vs.sum, s"sum id=$id")
      assert(px.getSeq[Long](5)(0) === vs.min, s"min id=$id")
      assert(px.getSeq[Long](6)(0) === vs.max, s"max id=$id")
    }
  }

  test("multimodal JPEG decode: AC coefficients decode against an independent DCT") {
    // NON-constant pattern -> real AC coefficients, runs, ZRL and EOB in
    // the entropy stream. Expected pixels computed here with an
    // independent straight-from-the-formula FDCT->round->IDCT->round
    // pipeline (unit quantization), so any Huffman/bitstream/zigzag error
    // in either codec half scrambles the comparison.
    val (w, h) = (16, 8)
    def pix(x: Int, y: Int): Int = (x * 29 + y * 47) % 256
    val bytes = graft.llm.Jpeg.encode(w, h, pix)
    val px = graft.llm.Jpeg.decodePixels(bytes)
    assert(px != null)

    def ref8x8(bx: Int, by: Int): Array[Int] = {
      val f = Array.tabulate(64)(i => pix(bx * 8 + i % 8, by * 8 + i / 8) - 128.0)
      def cc(u: Int) = if (u == 0) 1.0 / math.sqrt(2) else 1.0
      val coef = Array.tabulate(64) { i =>
        val u = i % 8; val v = i / 8
        var s = 0.0
        for (y <- 0 until 8; x <- 0 until 8)
          s += f(y * 8 + x) * math.cos((2 * x + 1) * u * math.Pi / 16) *
            math.cos((2 * y + 1) * v * math.Pi / 16)
        math.round(0.25 * cc(u) * cc(v) * s).toDouble
      }
      Array.tabulate(64) { i =>
        val x = i % 8; val y = i / 8
        var s = 0.0
        for (u <- 0 until 8; v <- 0 until 8)
          s += cc(u) * cc(v) * coef(v * 8 + u) *
            math.cos((2 * x + 1) * u * math.Pi / 16) *
            math.cos((2 * y + 1) * v * math.Pi / 16)
        math.max(0, math.min(255, math.round(0.25 * s + 128).toInt))
      }
    }
    val expected = for (y <- 0 until h; x <- 0 until w) yield
      ref8x8(x / 8, y / 8)((y % 8) * 8 + (x % 8)).toLong
    assert(px.getSeq[Long](4)(0) === expected.sum)
    assert(px.getSeq[Long](5)(0) === expected.min)
    assert(px.getSeq[Long](6)(0) === expected.max)
  }

  test("multimodal JPEG decode: 0xFF fill bytes and length-less markers parse (T.81 B.1.1.2)") {
    // legal encoders may pad with 0xFF fill bytes between segments and
    // emit TEM (0x01) — both are length-less; a parser that reads a
    // 2-byte length for them desyncs and nulls a valid file
    val good = graft.llm.Jpeg.fixture(3L)
    val base = graft.llm.Jpeg.decodePixels(good)
    assert(base != null)
    // splice after SOI: [fill, fill, TEM] then the rest of the stream
    val spliced = (good.take(2)
      ++ Array(0xff.toByte, 0xff.toByte, 0xff.toByte, 0x01.toByte)
      ++ good.drop(2))
    val px = graft.llm.Jpeg.decodePixels(spliced)
    assert(px != null)
    assert(px === base) // identical stats — padding is semantically void
  }

  test("multimodal JPEG decode: corruption yields null or a row, never an exception") {
    // the operator contract decodeMeta/decodePixels share: a partition
    // must survive arbitrary garbage payloads (null out, no throw)
    val good = graft.llm.Jpeg.fixture(3L)
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 200) {
      val bad = good.clone()
      val n = 1 + rnd.nextInt(4)
      for (_ <- 1 to n) bad(rnd.nextInt(bad.length)) = rnd.nextInt(256).toByte
      graft.llm.Jpeg.decodePixels(bad) // must not throw; null or best-effort row
    }
    for (cut <- Seq(2, 20, good.length / 2, good.length - 3))
      graft.llm.Jpeg.decodePixels(good.take(cut))
    assert(graft.llm.Jpeg.decodePixels(Array[Byte](1, 2, 3)) === null)
    assert(graft.llm.Jpeg.decodePixels(null) === null)
  }

  // 72×64 block-constant fixture: 72 = 9·8 and 64 = 8·8 make every dHash
  // box exactly ONE constant 8×8 block, so the decode is bit-exact and
  // the expected hash is a pure closed form of the block values
  private def dhashFixture(g: Int, jitter: Int): Array[Byte] =
    graft.llm.Jpeg.encode(72, 64, (x, y) => {
      val bx = x / 8; val byy = y / 8
      (((37 + 11 * g) * bx + (23 + 7 * g) * byy + 13 * g) % 97) + 28 +
        (if (bx == 0 && byy == 0) jitter else 0)
    })

  private def dhashExpected(g: Int, jitter: Int): Seq[Int] = {
    def v(bx: Int, byy: Int) =
      (((37 + 11 * g) * bx + (23 + 7 * g) * byy + 13 * g) % 97) + 28 +
        (if (bx == 0 && byy == 0) jitter else 0)
    (0 until 8).map { byy =>
      (0 until 8).foldLeft(0) { (b, bx) =>
        if (v(bx, byy) > v(bx + 1, byy)) b | (1 << bx) else b
      }
    }
  }

  test("dHash: exact integer box grid matches the closed form; honest nulls") {
    for (g <- 0 until 4; j <- Seq(0, 2)) {
      val got = graft.llm.Multimodal.dhashBytes(dhashFixture(g, j))
      assert(got.toSeq === dhashExpected(g, j), s"g=$g j=$j")
    }
    // distinct patterns really are far apart (the fixture isn't degenerate)
    val h0 = dhashExpected(0, 0)
    val h1 = dhashExpected(1, 0)
    assert(h0.zip(h1).map { case (a, b) => Integer.bitCount(a ^ b) }.sum > 7)
    // too small for the 9×8 grid / undecodable -> null, never garbage
    assert(graft.llm.Multimodal.dhashBytes(
      graft.llm.Jpeg.encode(8, 8, (_, _) => 100)) === null)
    assert(graft.llm.Multimodal.dhashBytes(Array[Byte](1, 2, 3)) === null)
  }

  test("imageNearDupPairs finds jittered duplicates, not cross-pattern pairs") {
    val s = spark
    import s.implicits._
    // 3 patterns × {base, corner-jittered}: the jitter moves at most the
    // two bits that compare block (0,0) — a near-dup; distinct patterns
    // sit many bits apart (asserted via the closed form)
    val rows = (0L until 6L).map { id =>
      val g = (id % 3).toInt
      val j = if (id < 3) 0 else 2
      (id, dhashFixture(g, j))
    }
    for (a <- 0 until 3; b <- 0 until 3 if a != b) {
      val d = dhashExpected(a, 0).zip(dhashExpected(b, 0))
        .map { case (x, y) => Integer.bitCount(x ^ y) }.sum
      assert(d > 2, s"patterns $a/$b too close ($d) — fixture degenerate")
    }
    val pairs = graft.llm.Multimodal.imageNearDupPairs(
        rows.toDF("doc_id", "payload"), "doc_id", "payload", maxHamming = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === (0L until 3L).map(g => (g, g + 3)).toSet)
  }

  test("perceptual band join maxPerBucketSide keeps lowest-id bucket members") {
    val s = spark
    import s.implicits._
    // 5 byte-identical images: every (band, value) bucket holds all 5 ids.
    // Uncapped -> all C(5,2)=10 hamming-0 pairs; cap=2 keeps only ids
    // {0,1} for pairing in every bucket -> exactly the (0,1) pair. The
    // deterministic lowest-id rule is what the SQL oracle replays with
    // row_number() OVER (PARTITION BY band, value ORDER BY id).
    val rows = (0L until 5L).map(id => (id, dhashFixture(1, 0)))
    def run(cap: Int) = graft.llm.Multimodal.imageNearDupPairs(
        rows.toDF("doc_id", "payload"), "doc_id", "payload",
        maxHamming = 0, maxPerBucketSide = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(run(Int.MaxValue) ===
      (for (a <- 0L until 5L; b <- a + 1 until 5L) yield (a, b)).toSet)
    assert(run(2) === Set((0L, 1L)))
    // a binding cap on MIXED buckets: two patterns, 3 copies each — cap 2
    // pairs each pattern's two lowest ids, never crosses patterns
    val mixed = (0L until 6L).map(id => (id, dhashFixture((id % 2).toInt, 0)))
    val capped = graft.llm.Multimodal.imageNearDupPairs(
        mixed.toDF("doc_id", "payload"), "doc_id", "payload",
        maxHamming = 0, maxPerBucketSide = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((0L, 2L), (1L, 3L)))
  }

  test("videoNearDupPairs: jittered clips pair, frame-count mismatch and patterns separate") {
    val s = spark
    import s.implicits._
    def clip(g: Int, nf: Int, j: Int): Array[Byte] =
      graft.llm.Multimodal.encodeAnimatedGif(72, 64, nf, (f, x, y) => {
        val bx = x / 8; val byy = y / 8
        (((37 + 11 * g) * bx + (23 + 7 * g) * byy + 29 * f + 13 * g) % 97) +
          (if (bx == 0 && byy == 0) j else 0)
      })
    // sampled-frame hashes decode for every 2nd frame only
    val hs = graft.llm.Multimodal.videoFrameDhashes(clip(1, 5, 0), every = 2)
    assert(hs.map(_._1) === Seq(0, 2, 4))
    hs.foreach(h => assert(h._2.length === 8))
    // corrupt payload: honest null
    assert(graft.llm.Multimodal.videoFrameDhashes(Array[Byte](1, 2), 2) === null)
    val rows = Seq(
      (0L, clip(1, 4, 0)), // base
      (1L, clip(1, 4, 2)), // corner-jittered copy -> pairs with 0
      (2L, clip(1, 6, 0)), // same pattern, MORE frames -> sampled count
                           // differs (2 vs 3): never pairs
      (3L, clip(2, 4, 0))) // different pattern, same count: too far
    val pairs = graft.llm.Multimodal.videoNearDupPairs(
        rows.toDF("doc_id", "payload"), "doc_id", "payload",
        every = 2, maxHamming = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((0L, 1L)))
  }

  test("videoNearDupJoinIndexed over a persisted bucketed per-frame index: cross-slice parity, index side never reshuffles") {
    val s = spark
    import s.implicits._
    def clip(g: Int, j: Int): Array[Byte] =
      graft.llm.Multimodal.encodeAnimatedGif(72, 64, 4 + (g % 3), (f, x, y) => {
        val bx = x / 8; val byy = y / 8
        (((37 + 11 * g) * bx + (23 + 7 * g) * byy + 29 * f + 13 * g) % 97) +
          (if (bx == 0 && byy == 0) j else 0)
      })
    // 4 patterns × 3 jitters (frame counts vary by pattern), split:
    // index = ids 6..11, new slice = 0..5
    val all = (0L until 12L).map { id =>
      (id, clip((id % 4).toInt, (id / 4).toInt))
    }.toDF("doc_id", "payload")
    val idxSide = all.where(sc("doc_id") >= 6)
    val newSide = all.where(sc("doc_id") < 6)
    def trip(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // ground truth: uncapped within-corpus pairs crossing the slice split
    val direct = trip(graft.llm.Multimodal.videoNearDupPairs(
        all, "doc_id", "payload", every = 2, maxHamming = 6))
      .filter { case (a, b, _) => a < 6 && b >= 6 }
    assert(direct.nonEmpty)
    graft.sources.ParquetIO.writeBucketed(
      graft.llm.Multimodal.videoDhashIndex(idxSide, "doc_id", "payload",
        every = 2),
      "vhash_idx_spec", "/tmp/graft_vhash_idx/spec", "__bkey__", 4)
    try {
      val joined = graft.llm.Multimodal.videoNearDupJoinIndexed(
        newSide, "doc_id", "payload", s.table("vhash_idx_spec"),
        every = 2, maxHamming = 6)
      assert(trip(joined) === direct)
      // plan shape: the bucketed index scan feeds the band join with NO
      // ShuffleExchange above it (the dhashIndex/minhashIndex pin)
      import org.apache.spark.sql.execution._
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        def hasScan(p: SparkPlan): Boolean = p match {
          case f: FileSourceScanExec => f.relation.location.rootPaths
            .exists(_.toString.contains("graft_vhash_idx/spec"))
          case a: AdaptiveSparkPlanExec => hasScan(a.executedPlan)
          case w: WholeStageCodegenExec => hasScan(w.child)
          case other => other.children.exists(hasScan)
        }
        def hasJoin(p: SparkPlan): Boolean = p match {
          case a: AdaptiveSparkPlanExec => hasJoin(a.executedPlan)
          case w: WholeStageCodegenExec => hasJoin(w.child)
          case other => other.nodeName.contains("Join") ||
            other.children.exists(hasJoin)
        }
        def hasShuffleAbove(p: SparkPlan): Boolean = p match {
          case sh: ShuffleExchangeExec =>
            (hasScan(sh.child) && !hasJoin(sh.child)) ||
              hasShuffleAbove(sh.child)
          case a: AdaptiveSparkPlanExec => hasShuffleAbove(a.executedPlan)
          case w: WholeStageCodegenExec => hasShuffleAbove(w.child)
          case other => other.children.exists(hasShuffleAbove)
        }
        val plan = graft.llm.Multimodal.videoNearDupJoinIndexed(
            newSide, "doc_id", "payload", s.table("vhash_idx_spec"),
            every = 2, maxHamming = 6)
          .queryExecution.executedPlan
        assert(hasScan(plan), "expected the bucketed index scan in the plan")
        assert(!hasShuffleAbove(plan),
          s"index side re-shuffled — bucketed layout not riding free:\n$plan")
      } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally s.sql("DROP TABLE IF EXISTS vhash_idx_spec")
  }

  test("spectral audio hash: exact under DC shift, gain, integer upsample; energy hash misses them") {
    import graft.llm.Multimodal.{audioDhashBytes, audioSpectralHashBytes, encodeWav}
    def f(g: Long)(i: Int): Long = ((7L * g + 13L * i) % 2048L) - 1024L
    var energyDiverged = false
    for (g <- 0L until 8L) {
      val n0 = (240 + (g % 7) * 40).toInt
      val base = Array.tabulate(n0)(i => f(g)(i).toShort)
      // re-encodes: 2x sample-repeat upsample + DC, 2x gain + DC
      val up = Array.tabulate(2 * n0)(i => (f(g)(i / 2) + 3L).toShort)
      val gain = Array.tabulate(n0)(i => (2L * f(g)(i) - 5L).toShort)
      val hb = audioSpectralHashBytes(encodeWav(8000, 1, base)).toSeq
      // EXACT invariance (hamming 0), not just proximity
      assert(audioSpectralHashBytes(encodeWav(8000, 1, up)).toSeq === hb,
        s"g=$g upsample re-encode changed the spectral hash")
      assert(audioSpectralHashBytes(encodeWav(8000, 1, gain)).toSeq === hb,
        s"g=$g gain re-encode changed the spectral hash")
      // the energy-delta hash misses at least one of these re-encodes
      val eb = audioDhashBytes(encodeWav(8000, 1, base)).toSeq
      if (audioDhashBytes(encodeWav(8000, 1, up)).toSeq != eb ||
        audioDhashBytes(encodeWav(8000, 1, gain)).toSeq != eb)
        energyDiverged = true
    }
    assert(energyDiverged,
      "fixture too easy: the energy-delta hash also matched every re-encode")
    // genuinely different audio diverges (cross-group hashes not all equal)
    val hashes = (0L until 8L).map { g =>
      val n0 = (240 + (g % 7) * 40).toInt
      audioSpectralHashBytes(encodeWav(8000, 1,
        Array.tabulate(n0)(i => f(g)(i).toShort))).toSeq
    }
    assert(hashes.distinct.size > 1, "all groups collided")
    // zero-sum table rows: the EXACT-DC-cancellation precondition
    graft.llm.Multimodal.SpectralCos.foreach(r => assert(r.sum === 0))
    graft.llm.Multimodal.SpectralSin.foreach(r => assert(r.sum === 0))
    // honest nulls
    assert(audioSpectralHashBytes(encodeWav(8000, 1,
      Array.fill[Short](64)(5))) === null)
    assert(audioSpectralHashBytes(Array[Byte](9, 9)) === null)
  }

  test("spectral image hash: exact under brightness, contrast, pixel-repeat upscale; box dHash misses the upscale") {
    import graft.llm.Multimodal.{imageSpectralHashBytes, encodePng}
    def f(g: Long)(x: Int, y: Int): Int =
      ((7L * x + 13L * y + 3L * g) % 97L + 20L).toInt
    var dhashDiverged = false
    for (g <- 0L until 8L) {
      val w0 = (24 + (g % 5) * 4).toInt
      val h0 = (18 + (g % 3) * 6).toInt
      val base = encodePng(w0, h0, 1, (x, y, _) => f(g)(x, y))
      val up = encodePng(2 * w0, 2 * h0, 1, (x, y, _) => f(g)(x / 2, y / 2) + 3)
      val contrast = encodePng(w0, h0, 1, (x, y, _) => 2 * f(g)(x, y) - 5)
      val hb = imageSpectralHashBytes(base).toSeq
      assert(imageSpectralHashBytes(up).toSeq === hb,
        s"g=$g upscale re-encode changed the image spectral hash")
      assert(imageSpectralHashBytes(contrast).toSeq === hb,
        s"g=$g contrast re-encode changed the image spectral hash")
      // the box-mean dHash misses the upscale on at least one group
      // (floor box boundaries don't commute with pixel repetition);
      // compare the grid computation on the raw gray rasters directly
      // so no codec difference muddies the claim
      val gBase = Array.tabulate(h0 * w0)(i => f(g)(i % w0, i / w0))
      val gUp = Array.tabulate(4 * h0 * w0)(i =>
        f(g)((i % (2 * w0)) / 2, (i / (2 * w0)) / 2) + 3)
      if (graft.llm.Multimodal.dhashOfGray(w0, h0, gBase).toSeq !=
        graft.llm.Multimodal.dhashOfGray(2 * w0, 2 * h0, gUp).toSeq)
        dhashDiverged = true
    }
    assert(dhashDiverged,
      "fixture too easy: the box dHash also matched every upscale")
    // distinct content diverges
    val hashes = (0L until 8L).map { g =>
      val w0 = (24 + (g % 5) * 4).toInt; val h0 = (18 + (g % 3) * 6).toInt
      imageSpectralHashBytes(encodePng(w0, h0, 1, (x, y, _) => f(g)(x, y))).toSeq
    }
    assert(hashes.distinct.size > 1, "all groups collided")
    // honest nulls: tiny raster, garbage payload
    assert(imageSpectralHashBytes(encodePng(7, 8, 1, (_, _, _) => 5)) === null)
    assert(imageSpectralHashBytes(Array[Byte](1, 2, 3)) === null)
  }

  test("audio dHash matches the closed form; near-dups pair, patterns don't") {
    val s = spark
    import s.implicits._
    def samples(g: Int, j: Int): Array[Short] = {
      val n = 240 + (g % 7) * 40
      Array.tabulate(n)(i =>
        ((((7L * g + 13L * i) % 2048L) - 1024L) + (if (i < 4) j else 0)).toShort)
    }
    def expected(g: Int, j: Int): Seq[Int] = {
      val sm = samples(g, j)
      val n = sm.length
      val e = (0 until 65).map { b =>
        val lo = b * n / 65; val hi = (b + 1) * n / 65
        ((lo until hi).map(i => sm(i).toLong * sm(i)).sum, (hi - lo).toLong)
      }
      (0 until 8).map { k =>
        (0 until 8).foldLeft(0) { (byte, x) =>
          val i = 8 * k + x
          if (BigInt(e(i)._1) * e(i + 1)._2 > BigInt(e(i + 1)._1) * e(i)._2)
            byte | (1 << x)
          else byte
        }
      }
    }
    for (g <- 0 until 4; j <- Seq(0, 2)) {
      val wav = graft.llm.Multimodal.encodeWav(8000, 1, samples(g, j))
      assert(graft.llm.Multimodal.audioDhashBytes(wav).toSeq ===
        expected(g, j), s"g=$g j=$j")
    }
    // honest nulls: short clip, garbage payload
    assert(graft.llm.Multimodal.audioDhashBytes(
      graft.llm.Multimodal.encodeWav(8000, 1, Array.fill[Short](64)(5))) === null)
    assert(graft.llm.Multimodal.audioDhashBytes(Array[Byte](9, 9)) === null)
    // pairs: 3 groups × {base, level-jittered}; cross-group far apart
    val rows = (0L until 6L).map { id =>
      val g = (id % 3).toInt
      val j = if (id < 3) 0 else 2
      (id, graft.llm.Multimodal.encodeWav(8000, 1, samples(g, j)))
    }
    val pairs = graft.llm.Multimodal.audioNearDupPairs(
        rows.toDF("doc_id", "payload"), "doc_id", "payload", maxHamming = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === (0L until 3L).map(g => (g, g + 3)).toSet, s"got $pairs")
  }

  test("multimodal JPEG: progressive fixtures decode bit-identically to baseline") {
    // same closed-form image through SOF2 (DC first Al=1 → DC refine →
    // AC band with pooled EOB runs) must give the same stats row as the
    // baseline encoding — multi-scan coefficient accumulation is exact
    for (id <- 0L until 12L) {
      val base = graft.llm.Jpeg.decodePixels(graft.llm.Jpeg.fixture(id))
      val prog = graft.llm.Jpeg.decodePixels(graft.llm.Jpeg.fixtureProgressive(id))
      assert(prog !== null, s"progressive decode returned null for id=$id")
      assert(prog === base, s"progressive != baseline stats for id=$id")
    }
    // truncation honesty: cutting the progressive stream anywhere must
    // never fabricate a row (null or a decode of the complete prefix —
    // but our decoder requires EOI, so cuts give null)
    val bytes = graft.llm.Jpeg.fixtureProgressive(3L)
    for (cut <- Seq(2, 30, bytes.length / 2, bytes.length - 3))
      graft.llm.Jpeg.decodePixels(bytes.take(cut)) // must not throw
  }

  test("multimodal JPEG: progressive interop with the JDK codec when present") {
    val readers = javax.imageio.ImageIO.getImageReadersByFormatName("jpeg")
    assume(readers.hasNext, "no ImageIO JPEG plugin in this JVM")
    // (a) their decoder reads OUR progressive bytes exactly (DC-only)
    val bytes = graft.llm.Jpeg.fixtureProgressive(5L)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(img != null, "ImageIO rejected our progressive output")
    var maxDelta = 0
    for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
      def v(bx: Int, by: Int): Int = (((5L * bx + 9L * by + 7L * 5L) % 200L) + 28L).toInt
      maxDelta = math.max(maxDelta,
        math.abs(img.getRaster.getSample(x, y, 0) - v(x / 8, y / 8)))
    }
    assert(maxDelta <= 1, s"libjpeg disagrees on our progressive by $maxDelta > 1")

    // (b) OUR decoder reads a JDK-written progressive file (libjpeg's
    // default scan script: DC + split AC bands + SUCCESSIVE-APPROXIMATION
    // REFINEMENT scans — the full G.2 decode surface) within the usual
    // integer-IDCT wobble
    val src = new java.awt.image.BufferedImage(24, 16,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 16; x <- 0 until 24)
      src.getRaster.setSample(x, y, 0, (x * 9 + y * 5) % 256)
    val ios = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val param = writer.getDefaultWriteParam
    param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val mos = javax.imageio.ImageIO.createImageOutputStream(ios)
    writer.setOutput(mos)
    writer.write(null, new javax.imageio.IIOImage(src, null, null), param)
    writer.dispose(); mos.close()
    val theirBytes = ios.toByteArray
    // it really is progressive: SOF2 marker present
    assert((0 until theirBytes.length - 1).exists(i =>
      (theirBytes(i) & 0xff) == 0xff && (theirBytes(i + 1) & 0xff) == 0xc2),
      "JDK writer did not emit SOF2 — test would prove nothing")
    val mine = graft.llm.Jpeg.decodePixels(theirBytes)
    assert(mine != null, "our decoder rejected a libjpeg progressive file")
    val theirImg = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(theirBytes))
    var sumTheirs = 0L
    var mn = Long.MaxValue; var mx = Long.MinValue
    for (y <- 0 until 16; x <- 0 until 24) {
      val v = theirImg.getRaster.getSample(x, y, 0).toLong
      sumTheirs += v; mn = math.min(mn, v); mx = math.max(mx, v)
    }
    assert(math.abs(mine.getSeq[Long](4)(0) - sumTheirs) <= 24 * 16,
      "progressive decoders disagree beyond integer-IDCT wobble")
    assert(math.abs(mine.getSeq[Long](5)(0) - mn) <= 1)
    assert(math.abs(mine.getSeq[Long](6)(0) - mx) <= 1)
  }

  test("multimodal JPEG: interoperates with the JDK's own codec when present") {
    // Our encoder's output must be REAL standard JPEG, and our decoder
    // must read third-party baseline files (libjpeg quant/Huffman tables,
    // possibly subsampled). javax.imageio ships a JPEG plugin in every
    // JDK; tolerance ±1 covers libjpeg's integer IDCT vs our exact float.
    val readers = javax.imageio.ImageIO.getImageReadersByFormatName("jpeg")
    assume(readers.hasNext, "no ImageIO JPEG plugin in this JVM")

    // (a) their decoder reads our bytes: block-constant fixture is DC-only,
    // exact modulo integer-IDCT wobble
    val bytes = graft.llm.Jpeg.fixture(5L)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(img != null, "ImageIO rejected our encoder's output")
    val ours = graft.llm.Jpeg.decodePixels(bytes)
    assert(img.getWidth === ours.getInt(0) && img.getHeight === ours.getInt(1))
    var maxDelta = 0
    var theirSum = 0L
    for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
      val theirs = img.getRaster.getSample(x, y, 0)
      theirSum += theirs
      def v(bx: Int, by: Int): Int = (((5L * bx + 9L * by + 7L * 5L) % 200L) + 28L).toInt
      maxDelta = math.max(maxDelta, math.abs(theirs - v(x / 8, y / 8)))
    }
    assert(maxDelta <= 1, s"libjpeg disagrees by $maxDelta > 1")

    // (b) our decoder reads their bytes: re-encode a gradient with the
    // JDK writer (libjpeg tables, real quantization) and compare decoders
    val src = new java.awt.image.BufferedImage(24, 16,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 16; x <- 0 until 24)
      src.getRaster.setSample(x, y, 0, (x * 9 + y * 5) % 256)
    val bos = new java.io.ByteArrayOutputStream()
    assume(javax.imageio.ImageIO.write(src, "jpeg", bos), "no JPEG writer")
    val theirBytes = bos.toByteArray
    val mine = graft.llm.Jpeg.decodePixels(theirBytes)
    assert(mine != null, "our decoder rejected a libjpeg file")
    val theirImg = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(theirBytes))
    var sumTheirs = 0L
    var mn = Long.MaxValue; var mx = Long.MinValue
    for (y <- 0 until 16; x <- 0 until 24) {
      val v = theirImg.getRaster.getSample(x, y, 0).toLong
      sumTheirs += v; mn = math.min(mn, v); mx = math.max(mx, v)
    }
    // per-pixel tolerance ±1 -> aggregate tolerance n_px on the sum
    assert(math.abs(mine.getSeq[Long](4)(0) - sumTheirs) <= 24 * 16,
      "decoders disagree beyond integer-IDCT wobble")
    assert(math.abs(mine.getSeq[Long](5)(0) - mn) <= 1)
    assert(math.abs(mine.getSeq[Long](6)(0) - mx) <= 1)
  }

  test("multimodal decode: WAV chunk walk recovers rate/channels/duration") {
    def hx(s: String): Array[Byte] =
      s.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    // non-canonical chunk ORDER: a LIST chunk precedes fmt — fixed-offset
    // parsers break here, the walk must not. 8000 Hz mono 16-bit
    // (byte rate 16000), 4 data bytes → duration 0 ms
    val wav = hx("52494646 38000000 57415645" + // RIFF size WAVE
      "4C495354 04000000 AABBCCDD" + // LIST chunk (skipped)
      "666D7420 10000000 0100 0100 401F0000 803E0000 0200 1000" + // fmt
      "64617461 04000000 01020304") // data: 4 bytes
    val m = Multimodal.decodeMeta(wav)
    assert(m.getString(0) === "wav")
    assert(m.getInt(6) === 8000)
    assert(m.getInt(7) === 1)
    assert(m.getLong(8) === 0L)
    // 32000 data bytes at byte rate 16000 → 2000 ms; build a real 2-second
    // mono file and check the arithmetic end to end
    val data = Array.fill[Byte](32000)(0x7f.toByte)
    val full = hx("52494646" + le32(36 + 32000) + "57415645" +
      "666D7420 10000000 0100 0100 401F0000 803E0000 0200 1000" +
      "64617461" + le32(32000)) ++ data
    val m2 = Multimodal.decodeMeta(full)
    assert(m2.getString(0) === "wav")
    assert(m2.getLong(8) === 2000L)
    // TRUNCATED file: data chunk claims 32000 bytes but only 1600 present
    // → honest 100 ms, not the header's claim
    val truncated = full.take(44 + 1600)
    assert(Multimodal.decodeMeta(truncated).getLong(8) === 100L)
    // RIFF magic with a garbage body degrades to unknown
    assert(Multimodal.decodeMeta(
      hx("52494646 04000000 57415645 00000000")).getString(0) === "unknown")
  }

  private def le32(v: Int): String =
    f"${v & 0xff}%02x${(v >> 8) & 0xff}%02x${(v >> 16) & 0xff}%02x${(v >> 24) & 0xff}%02x"

  test("clusterPairs computes transitive near-dup components") {
    val s = spark
    import s.implicits._
    // chain 1~2~3 plus isolated pair 7~9: two components
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc_a", "doc_b")
    val out = Dedup.clusterPairs(pairs, "doc_a", "doc_b")
      .orderBy(sc("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq === Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 7L)))
  }

  test("clusterPairs labels a small pair set with one bounded collect") {
    val s = spark
    import s.implicits._
    // a 5-hop chain plus an isolated pair, in one partition: the local
    // path collects the pairs once and builds the labels on the driver,
    // where the distributed path runs a job per propagation round
    val pairs = Seq((4L, 5L), (2L, 3L), (5L, 6L), (1L, 2L), (3L, 4L),
      (7L, 9L)).toDF("doc_a", "doc_b").coalesce(1)
    val expected = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L),
      (6L, 1L), (7L, 7L), (9L, 7L))
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val ((local, dist, localJobs, distJobs), lines) = clusterPairsLog {
      val (local, localJobs) =
        withJobs(labels(Dedup.clusterPairs(pairs, "doc_a", "doc_b")))
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val saved = s.conf.getOption(key)
      s.conf.set(key, "-1")
      val (dist, distJobs) =
        try withJobs(labels(Dedup.clusterPairs(pairs, "doc_a", "doc_b")))
        finally saved.fold(s.conf.unset(key))(s.conf.set(key, _))
      (local, dist, localJobs, distJobs)
    }
    assert(local === expected && dist === expected)
    assert(localJobs === 1)
    assert(distJobs > 5, s"the distributed path ran $distJobs jobs")
    // one decision line per call: path, pair count and the bound
    assert(lines === Seq(
      "clusterPairs path=local pairs=6 max_local_pairs=436906 broadcast_threshold=10485760",
      "clusterPairs path=distributed pairs=unknown max_local_pairs=0 broadcast_threshold=-1"))
  }

  /** `body`'s result and the INFO lines Dedup logs while it runs (graft's
    * session logs `graft.*` at INFO). */
  private def clusterPairsLog[T](body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import scala.jdk.CollectionConverters._
    val lines = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val appender = new AbstractAppender("clusterPairsLog", null, null, true,
        Array.empty) {
      override def append(e: LogEvent): Unit =
        lines.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(Dedup.getClass.getName)
      .asInstanceOf[Logger]
    logger.addAppender(appender)
    try (body, lines.asScala.toSeq)
    finally {
      logger.removeAppender(appender)
      appender.stop()
    }
  }

  test("quantizedRerankTopK: candidates=all degenerates to brute-force exactly") {
    val s = spark
    val emb = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = emb.count().toInt
    // with the candidate cut wide open, stage 2 IS brute force — the
    // quantized stage may only PRUNE, never change exact scores
    val full = Embeddings.quantizedRerankTopK(emb, "vec_id", "embedding",
        queryId = 0L, candidates = n, k = 10)
      .select(sc("vec_id"), sc("cosine")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val brute = Embeddings.bruteTopK(emb, "vec_id", "embedding",
        queryId = 0L, k = 10)
      .select(sc("vec_id"), sc("cosine")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(full.toSeq === brute.toSeq)
    // realistic pruning keeps high recall here: int8 over dim-64 vectors
    // distorts cosines by well under the inter-neighbor gaps
    val pruned = Embeddings.quantizedRerankTopK(emb, "vec_id", "embedding",
        queryId = 0L, candidates = 50, k = 10)
      .select(sc("vec_id")).collect().map(_.getLong(0)).toSet
    val bruteIds = brute.map(_._1).toSet
    assert((pruned & bruteIds).size >= 8, s"recall too low: $pruned vs $bruteIds")
    llm.CacheScope.global.release()
  }

  test("rpTopK: candidates=all degenerates to brute-force; sign matrix is deterministic") {
    val s = spark
    val emb = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = emb.count().toInt
    // shortlist wide open → the rerank IS brute force (projection may
    // only PRUNE, never perturb exact scores)
    val full = Embeddings.rpTopK(emb, "vec_id", "embedding",
        queryId = 0L, d = 64, dims = 16, seed = 7, candidates = n, k = 10)
      .select(sc("vec_id"), sc("cosine")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val brute = Embeddings.bruteTopK(emb, "vec_id", "embedding",
        queryId = 0L, k = 10)
      .select(sc("vec_id"), sc("cosine")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(full.toSeq === brute.toSeq)
    // the ±1 matrix is pure function of (seed, i, j): stable across calls,
    // changes with seed
    assert(Embeddings.rpSign(7, 1, 0) === Embeddings.rpSign(7, 1, 0))
    assert((1 to 64).exists(i =>
      Embeddings.rpSign(7, i, 0) !== Embeddings.rpSign(8, i, 0)))
    // JL pruning preserves PLANTED structure (sin-derived clusters, the
    // RecallCheck generator): near-isotropic synthetic vectors have
    // inter-neighbor cosine gaps below the dims=16 distortion — that's a
    // data property, measured honestly in RecallCheck — but clustered
    // geometry (the case ANN serving exists for) survives projection.
    val planted = s.range(200).selectExpr("id AS vec_id",
      """transform(sequence(0, 63), i -> CAST(
          sin(CAST(id DIV 20 AS double) * 131.0 + i * 17.0)
          + 0.35 * sin(id * 37.0 + i * 13.0 + CAST(id DIV 20 AS double))
          AS float)) AS embedding""")
    val pBrute = Embeddings.bruteTopK(planted, "vec_id", "embedding",
        queryId = 0L, k = 10)
      .select(sc("vec_id")).collect().map(_.getLong(0)).toSet
    val pruned = Embeddings.rpTopK(planted, "vec_id", "embedding",
        queryId = 0L, d = 64, dims = 16, seed = 7, candidates = 50, k = 10)
      .select(sc("vec_id")).collect().map(_.getLong(0)).toSet
    assert((pruned & pBrute).size >= 8, s"recall too low: $pruned vs $pBrute")
  }

  test("bitextMine equals a plain-Scala re-derivation of the margin rule") {
    val s = spark
    import s.implicits._
    // all first-4 coords positive → one bucket: candidate set = full A×B,
    // so the Scala loop below is the complete ground truth
    val vecs = Seq(
      (0L, 0, Array(1.0f, 0.1f, 0.1f, 0.1f)),
      (1L, 1, Array(0.1f, 1.0f, 0.1f, 0.1f)),
      (2L, 2, Array(0.2f, 0.3f, 1.0f, 0.1f)),
      (10L, 7, Array(0.7f, 0.7f, 0.1f, 0.1f)), // hub: close to 0 and 1
      (11L, 8, Array(0.1f, 0.9f, 0.1f, 0.3f)),
      (12L, 9, Array(0.15f, 0.2f, 0.9f, 0.2f)),
    ).toDF("vec_id", "label", "embedding")
    val got = Embeddings.bitextMine(vecs, "vec_id", "embedding",
        sideAPred = sc("label") < 5, bits = 4, k = 2, minMargin = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSeq
      .sortBy(_._1)

    def cos(x: Array[Float], y: Array[Float]): Double = {
      def dot(a: Array[Float], b: Array[Float]) =
        a.zip(b).map { case (p, q) => p.toDouble * q.toDouble }.sum
      BigDecimal(dot(x, y) / (math.sqrt(dot(x, x)) * math.sqrt(dot(y, y))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val aS = Seq(0L -> Array(1.0f, 0.1f, 0.1f, 0.1f),
      1L -> Array(0.1f, 1.0f, 0.1f, 0.1f), 2L -> Array(0.2f, 0.3f, 1.0f, 0.1f))
    val bS = Seq(10L -> Array(0.7f, 0.7f, 0.1f, 0.1f),
      11L -> Array(0.1f, 0.9f, 0.1f, 0.3f), 12L -> Array(0.15f, 0.2f, 0.9f, 0.2f))
    val cosMap = (for ((ai, av) <- aS; (bi, bv) <- bS)
      yield (ai, bi) -> cos(av, bv)).toMap
    def topAvg(xs: Seq[Double]) = {
      // replicate the op's order-free decimal(18,9) sum → double → /n
      val t = xs.sorted.reverse.take(2)
      t.map(v => BigDecimal(v).setScale(9, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble / t.length
    }
    val ax = aS.map { case (ai, _) => ai -> topAvg(bS.map(b => cosMap((ai, b._1)))) }.toMap
    val ay = bS.map { case (bi, _) => bi -> topAvg(aS.map(a => cosMap((a._1, bi)))) }.toMap
    val expected = aS.map { case (ai, _) =>
      val best = bS.map { case (bi, _) =>
        val mg = BigDecimal(cosMap((ai, bi)) / ((ax(ai) + ay(bi)) / 2.0))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (bi, mg)
      }.maxBy { case (bi, mg) => (mg, -bi) }
      (ai, best._1, best._2)
    }
    assert(got === expected)
    // the margin rule must pair each specific vector with its specific
    // partner, not the hub
    assert(got.find(_._1 == 1L).get._2 === 11L)
    assert(got.find(_._1 == 2L).get._2 === 12L)
    llm.CacheScope.global.release()
  }

  test("nfc native: composes decomposed accents, idempotent, null-safe, ascii fast path") {
    val s = spark
    import s.implicits._
    graft.GraftExtensions.install(s)
    val df = Seq(
      (0L, "café"),          // decomposed é
      (1L, "café"),           // precomposed é
      (2L, "plain ascii"),
      (3L, null.asInstanceOf[String]),
    ).toDF("id", "t")
    val out = df.selectExpr("id", "nfc_normalize(t) AS n",
        "length(t) AS lt", "length(nfc_normalize(t)) AS ln")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(out(0L) === "café") // composed
    assert(out(1L) === "café") // unchanged
    assert(out(2L) === "plain ascii")
    assert(out(3L) === null)
    // the two forms now hash identically — the dedup motivation
    val hashes = df.where(sc("id") < 2)
      .selectExpr("md5(cast(nfc_normalize(t) AS binary)) AS h")
      .collect().map(_.getString(0)).distinct
    assert(hashes.length === 1)
    // idempotence
    val twice = df.where(sc("id") === 0)
      .selectExpr("nfc_normalize(nfc_normalize(t)) = nfc_normalize(t) AS eq")
      .collect().head.getBoolean(0)
    assert(twice)
  }

  test("unigram segmentCounts: frequent words go whole, rare words split, long words unk") {
    val s = spark
    import s.implicits._
    // 'data' dominates → must enter the vocab as a whole piece and
    // segment as ONE piece; 'zq' appears once (substring counts too low
    // for the top cut beyond chars) → two single-char pieces; the
    // 13-char word exceeds maxWordLen → exactly the unk cost
    val docs = (Seq.fill(30)("data data") ++ Seq("zq", "abcdefghijklm"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val out = graft.llm.Unigram.segmentCounts(docs, "doc_id", "text",
        vocabSize = 8, maxPieceLen = 4, maxWordLen = 12,
        unkCostMicrobits = 30000000L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(0L)._1 === 2L) // two 'data' words, one piece each
    assert(out(30L)._1 === 2L) // 'zq' → 'z' + 'q'
    assert(out(31L) === ((1L, 30000000L))) // unk: one piece, unk cost
    // vocab inventory includes every single character seen
    val vocab = graft.llm.Unigram.fitVocab(docs, "text", 8, 4)
      .collect().map(_.getString(0)).toSet
    assert("datazq".forall(ch => vocab.contains(ch.toString)))
    assert(vocab.contains("data"))
  }

  test("weightedSample replays the ES priority rule exactly; weight scales inclusion") {
    val s = spark
    import s.implicits._
    val rows = (1L to 200L).map(i => (i, if (i <= 10) 5000L else 50L))
    val df = rows.toDF("doc_id", "w")
    val got = graft.llm.TextOps.weightedSample(df, "doc_id", "w", k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    // plain-Scala re-derivation of priority = round(ln((h+1)/2^32)/w, 6)
    def prio(id: Long, w: Long): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .take(4).map(b => f"${b & 0xff}%02x").mkString
      val u = (java.lang.Long.parseLong(hex, 16) + 1).toDouble / 4294967296.0
      BigDecimal(math.log(u) / w)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = rows.map { case (i, w) => (i, prio(i, w)) }
      .sortBy { case (i, p) => (-p, i) }.take(20)
    assert(got === expected)
    // 100× weight: the 10 heavy docs all make the top 20 — weight
    // proportionality in action, deterministically
    assert((1L to 10L).forall(i => got.exists(_._1 == i)))
    // zero/NULL weights are excluded, not divide-by-zero'd
    val withZero = (Seq((0L, 0L)) ++ rows).toDF("doc_id", "w")
    assert(!graft.llm.TextOps.weightedSample(withZero, "doc_id", "w", 20)
      .collect().exists(_.getLong(0) == 0L))
  }

  test("compressionRatio orders repetition < prose < hash noise; null-safe") {
    val s = spark
    import s.implicits._
    graft.GraftExtensions.install(s)
    val prose = "the quick brown fox jumps over the lazy dog while the " +
      "hunter waits by the river bank watching clouds drift slowly east " +
      "under a pale morning sky as birds scatter from the tall dry grass"
    val spam = ("buy cheap widgets " * 12).trim
    // noise over a WIDE printable alphabet (hex would be only 16 symbols
    // — 4 bits/char — which deflate compresses BELOW prose): map md5
    // bytes onto 90 printable chars ≈ 6.5 bits/char entropy
    val noise = (1 to 12).flatMap(i =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"n$i".getBytes("UTF-8")).map(b => (33 + ((b & 0xff) % 90)).toChar))
      .mkString
    val df = Seq((0L, prose), (1L, spam), (2L, noise), (3L, ""),
      (4L, null.asInstanceOf[String])).toDF("id", "text")
    val out = df.select(sc("id"),
        graft.llm.TextOps.compressionRatio("text").as("r"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else Double.box(r.getDouble(1)))).toMap
    assert(out(3L) === null && out(4L) === null)
    val (p, sp, nz) = (out(0L).doubleValue, out(1L).doubleValue, out(2L).doubleValue)
    assert(sp < p, s"spam $sp should compress below prose $p")
    assert(p < nz, s"prose $p should compress below noise $nz")
    assert(sp > 0 && nz < 1.5)
    // deterministic within a run
    val again = df.where(sc("id") === 0)
      .select(graft.llm.TextOps.compressionRatio("text"))
      .collect().head.getDouble(0)
    assert(again === p)
  }

  test("splitByCluster keeps near-dup clusters on one side of the boundary") {
    val s = spark
    import s.implicits._
    val docs = (1L to 40L).map(i => (i, s"doc text $i")).toDF("doc_id", "text")
    // two chains: {1,2,3} and {7,9}; everything else unclustered
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc_a", "doc_b")
    val clusters = Dedup.clusterPairs(pairs, "doc_a", "doc_b")
    val out = Dedup.splitByCluster(docs, "doc_id", clusters, trainPercent = 60.0)
    assert(out.count() === 40) // left join: no row loss, no duplication
    // invariant: every cluster lands whole on one side
    val bySplit = out.join(clusters, Seq("doc_id"))
      .groupBy(sc("cluster_id"))
      .agg(org.apache.spark.sql.functions.countDistinct(sc("split")).as("k"))
      .collect()
    assert(bySplit.nonEmpty && bySplit.forall(_.getLong(1) === 1L))
    // determinism: rerun gives the identical assignment
    val a = out.select(sc("doc_id"), sc("split")).collect().map(_.toSeq).toSet
    val b = Dedup.splitByCluster(docs, "doc_id", clusters, trainPercent = 60.0)
      .select(sc("doc_id"), sc("split")).collect().map(_.toSeq).toSet
    assert(a === b)
  }

  test("charEntropy matches closed-form Shannon values") {
    val s = spark
    import s.implicits._
    graft.GraftExtensions.install(s)
    val docs = Seq((1L, "aaaa"), (2L, "ab"), (3L, "abcd"), (4L, "aab"), (5L, ""))
      .toDF("doc_id", "text")
    val out = docs.select(sc("doc_id"), TextOps.charEntropy("text").as("e"))
      .orderBy(sc("doc_id")).collect().map(_.getDouble(1))
    assert(out(0) === 0.0) // one symbol: zero bits (and +0.0, not -0.0)
    assert(out(1) === 1.0) // two equiprobable symbols
    assert(out(2) === 2.0) // four equiprobable symbols
    assert(out(3) === 0.918296) // H(2/3, 1/3) to 6 dp
    assert(out(4) === 0.0) // empty text
    assert(!out(0).toString.startsWith("-")) // -0.0 canonicalized
  }

  test("native char_entropy is value-identical to the oracle HOF formulation") {
    val s = spark
    graft.GraftExtensions.install(s)
    // real corpus text plus adversarial edges (repeats, unicode, spaces)
    val corpus = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(sc("text"))
    import s.implicits._
    val edges = Seq("zzzzzz", "a b a b ", "héllo wörld", "0123456789" * 30,
      "x", "  ", "日本語テキスト日本").toDF("text")
    for (df <- Seq(corpus, edges)) {
      val mismatches = df
        .select(TextOps.charEntropy("text").as("nat"),
          TextOps.charEntropyHof("text").as("hof"))
        .where(sc("nat") =!= sc("hof"))
        .count()
      assert(mismatches === 0L)
    }
  }

  test("bpeTrain learns deterministic merges with exact greedy semantics") {
    val s = spark
    import s.implicits._
    // word freqs: aa×3, abab×2, the×1 (with '_' end-of-word markers)
    val df = Seq("aa aa aa", "abab abab", "the").toDF("text")
    val out = TextOps.bpeTrain(df, "text", merges = 4)
      .orderBy(sc("merge_ix")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    // hand-derived sequence: 'a b' (4 from abab×2) → tie at 3 between
    // 'a a' and 'a _' breaks to 'a _' ('_' < 'a') → 'a a_' (3) → 'ab _' (2)
    assert(out.toSeq === Seq(
      (1, "a b", 4L), (2, "a _", 3L), (3, "a a_", 3L), (4, "ab _", 2L)))

    // genuine overlap: (a,a) in 'aaa' merges once per pass (greedy
    // left-to-right non-overlapping), not twice
    val df2 = Seq("aaa aaa").toDF("text")
    val out2 = TextOps.bpeTrain(df2, "text", merges = 2)
      .orderBy(sc("merge_ix")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(out2.toSeq === Seq((1, "a a", 4L), (2, "a _", 2L)))
  }

  test("bpeTrain: bounded lineage at merges=200, prefix-stable, early stop") {
    val s = spark
    import s.implicits._
    // Synthetic corpus with a deep merge supply: 120 distinct 12-letter
    // words over a 6-letter alphabet at Zipf-ish frequencies → thousands
    // of distinct pairs, comfortably more than 200 merges.
    val rnd = new scala.util.Random(42)
    val alpha = "abcdef"
    val words = (0 until 120).map { i =>
      val w = (0 until 12).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      Array.fill(1 + 600 / (i + 5))(w).mkString(" ")
    }
    val df = words.toDF("text")
    // merges=200 crosses six localCheckpoint boundaries (every 32); before
    // the lineage bound this plan was 200 nested replace()s deep and
    // analysis alone was O(M^2). The wall bound is a plan-blowup tripwire,
    // generous enough for a churning host.
    val t0 = System.nanoTime()
    val deep = TextOps.bpeTrain(df, "text", merges = 200)
      .orderBy(sc("merge_ix")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    val secs = (System.nanoTime() - t0) / 1e9
    assert(deep.length === 200)
    assert(secs < 240.0, f"bpeTrain(200) took $secs%.0f s — lineage blowup?")
    // greedy BPE is prefix-deterministic: a merges=50 run (crossing one
    // checkpoint) must equal the first 50 rules of the merges=200 run —
    // pins that checkpointing changes no values, only the plan
    val fifty = TextOps.bpeTrain(df, "text", merges = 50)
      .orderBy(sc("merge_ix")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(fifty.toSeq === deep.toSeq.take(50))
    // pair exhaustion: 'ab' fully merges in 3 rules (a b, ab _, the tie
    // chain) — asking for 50 stops early instead of throwing on the
    // empty argmax
    val tiny = TextOps.bpeTrain(Seq("ab ab").toDF("text"), "text", merges = 50)
      .orderBy(sc("merge_ix")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(tiny.length < 50 && tiny.nonEmpty)
    assert(tiny.head === ((1, "a b", 2L)))
  }

  test("bpeTrainIncremental is rule-for-rule identical to the naive trainer") {
    val s = spark
    import s.implicits._
    // same deep-merge corpus as the lineage spec; 60 merges cross a
    // checkpoint boundary AND exercise hundreds of delta updates
    val rnd = new scala.util.Random(42)
    val alpha = "abcdef"
    val words = (0 until 120).map { i =>
      val w = (0 until 12).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      Array.fill(1 + 600 / (i + 5))(w).mkString(" ")
    }
    val df = words.toDF("text")
    def rules(out: org.apache.spark.sql.DataFrame) = out
      .orderBy(sc("merge_ix")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    val naive = rules(TextOps.bpeTrain(df, "text", merges = 60))
    val incr = rules(TextOps.bpeTrainIncremental(df, "text", merges = 60))
    assert(incr === naive)
    // exhaustion parity: both stop at the same early rule count
    val t1 = rules(TextOps.bpeTrain(Seq("ab ab").toDF("text"), "text", 50))
    val t2 = rules(TextOps.bpeTrainIncremental(Seq("ab ab").toDF("text"), "text", 50))
    assert(t2 === t1)
  }

  test("minhashJoinIndexed over a persisted bucketed index: value-identical to minhashJoin, index side never reshuffles") {
    val s = spark
    val docs = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val evens = docs.where(sc("doc_id") % 2 === 0)
    val odds = docs.where(sc("doc_id") % 2 === 1)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val direct = pairs(graft.llm.Dedup.minhashJoin(
      evens, "doc_id", "text", odds, "doc_id", "text"))
    // build + persist the index (the once-per-snapshot ingest step)
    graft.sources.ParquetIO.writeBucketed(
      graft.llm.Dedup.minhashIndex(odds, "doc_id", "text"),
      "mh_idx_spec", "/tmp/graft_minhash_idx/spec", "__bkey__", 4)
    try {
      val joined = graft.llm.Dedup.minhashJoinIndexed(
        evens, "doc_id", "text", s.table("mh_idx_spec"))
      assert(pairs(joined) === direct)
      assert(direct.nonEmpty) // the fixture actually contains near-dups
      // plan shape: with broadcast off, the bucketed index scan feeds the
      // band join WITHOUT a ShuffleExchange above it — only the new slice
      // pays a shuffle (the production claim: index-side cost at query
      // time is a scan, however big the corpus grows)
      import org.apache.spark.sql.execution._
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        def hasScan(p: SparkPlan): Boolean = p match {
          case f: FileSourceScanExec => f.relation.location.rootPaths
            .exists(_.toString.contains("graft_minhash_idx/spec"))
          case a: AdaptiveSparkPlanExec => hasScan(a.executedPlan)
          case w: WholeStageCodegenExec => hasScan(w.child)
          case other => other.children.exists(hasScan)
        }
        def hasJoin(p: SparkPlan): Boolean = p match {
          case a: AdaptiveSparkPlanExec => hasJoin(a.executedPlan)
          case w: WholeStageCodegenExec => hasJoin(w.child)
          case other => other.nodeName.contains("Join") ||
            other.children.exists(hasJoin)
        }
        // offending = a shuffle BETWEEN the index scan and the band join
        // (post-join shuffles — the distinct — are expected and re-shuffle
        // only the already-shrunk candidate pairs, not the index)
        def hasShuffleAbove(p: SparkPlan): Boolean = p match {
          case sh: ShuffleExchangeExec =>
            (hasScan(sh.child) && !hasJoin(sh.child)) ||
              hasShuffleAbove(sh.child)
          case a: AdaptiveSparkPlanExec => hasShuffleAbove(a.executedPlan)
          case w: WholeStageCodegenExec => hasShuffleAbove(w.child)
          case other => other.children.exists(hasShuffleAbove)
        }
        val plan = graft.llm.Dedup.minhashJoinIndexed(
            evens, "doc_id", "text", s.table("mh_idx_spec"))
          .queryExecution.executedPlan
        assert(hasScan(plan), "expected the bucketed index scan in the plan")
        assert(!hasShuffleAbove(plan),
          s"index side re-shuffled — bucketed layout not riding free:\n$plan")
      } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally s.sql("DROP TABLE IF EXISTS mh_idx_spec")
  }

  test("imageNearDupJoinIndexed over a persisted bucketed dHash index: cross-slice parity, index side never reshuffles") {
    val s = spark
    import s.implicits._
    // 4 patterns × 3 jitters, split: index = ids 6..11, new slice = 0..5
    val rows = (0L until 12L).map { id =>
      (id, dhashFixture((id % 4).toInt, (id / 4).toInt))
    }
    val all = rows.toDF("doc_id", "payload")
    val idxSide = all.where(sc("doc_id") >= 6)
    val newSide = all.where(sc("doc_id") < 6)
    def trip(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // ground truth: uncapped within-corpus pairs crossing the slice split
    val direct = trip(graft.llm.Multimodal.imageNearDupPairs(
        all, "doc_id", "payload", maxHamming = 6))
      .filter { case (a, b, _) => a < 6 && b >= 6 }
    assert(direct.nonEmpty)
    graft.sources.ParquetIO.writeBucketed(
      graft.llm.Multimodal.dhashIndex(idxSide, "doc_id", "payload"),
      "dhash_idx_spec", "/tmp/graft_dhash_idx/spec", "__bkey__", 4)
    try {
      val joined = graft.llm.Multimodal.imageNearDupJoinIndexed(
        newSide, "doc_id", "payload", s.table("dhash_idx_spec"),
        maxHamming = 6)
      assert(trip(joined) === direct)
      // plan shape: with broadcast off, the bucketed index scan feeds the
      // band join WITHOUT a ShuffleExchange above it — only the new slice
      // pays a shuffle (index-side query cost = the scan, at any corpus
      // size). Same pin as the minhashJoinIndexed spec.
      import org.apache.spark.sql.execution._
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        def hasScan(p: SparkPlan): Boolean = p match {
          case f: FileSourceScanExec => f.relation.location.rootPaths
            .exists(_.toString.contains("graft_dhash_idx/spec"))
          case a: AdaptiveSparkPlanExec => hasScan(a.executedPlan)
          case w: WholeStageCodegenExec => hasScan(w.child)
          case other => other.children.exists(hasScan)
        }
        def hasJoin(p: SparkPlan): Boolean = p match {
          case a: AdaptiveSparkPlanExec => hasJoin(a.executedPlan)
          case w: WholeStageCodegenExec => hasJoin(w.child)
          case other => other.nodeName.contains("Join") ||
            other.children.exists(hasJoin)
        }
        def hasShuffleAbove(p: SparkPlan): Boolean = p match {
          case sh: ShuffleExchangeExec =>
            (hasScan(sh.child) && !hasJoin(sh.child)) ||
              hasShuffleAbove(sh.child)
          case a: AdaptiveSparkPlanExec => hasShuffleAbove(a.executedPlan)
          case w: WholeStageCodegenExec => hasShuffleAbove(w.child)
          case other => other.children.exists(hasShuffleAbove)
        }
        val plan = graft.llm.Multimodal.imageNearDupJoinIndexed(
            newSide, "doc_id", "payload", s.table("dhash_idx_spec"),
            maxHamming = 6)
          .queryExecution.executedPlan
        assert(hasScan(plan), "expected the bucketed index scan in the plan")
        assert(!hasShuffleAbove(plan),
          s"index side re-shuffled — bucketed layout not riding free:\n$plan")
      } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally s.sql("DROP TABLE IF EXISTS dhash_idx_spec")
  }

  test("ivfTopKIndexed over a persisted bucketed cell index: trained-path parity, postings never reshuffle") {
    val s = spark
    val emb = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = graft.llm.Embeddings.kmeansFitSqrtK(
      emb, "vec_id", "embedding", iters = 2)
    def quad(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    val trained = quad(graft.llm.Embeddings.ivfTopKTrained(
      emb, "vec_id", "embedding", cents, sc("vec_id") < 3, k = 5))
    assert(trained.nonEmpty)
    graft.llm.Embeddings.ivfIndexSave(emb, "vec_id", "embedding", cents,
      "ivf_idx_spec", "/tmp/graft_ivf_idx/spec", buckets = 4)
    try {
      val served = graft.llm.Embeddings.ivfTopKIndexed(
        emb.where(sc("vec_id") < 3), "vec_id", "embedding",
        "/tmp/graft_ivf_idx/spec", s.table("ivf_idx_spec"), k = 5)
      assert(quad(served) === trained)
      // nprobe > 1 agrees too (query-side expansion only)
      assert(quad(graft.llm.Embeddings.ivfTopKIndexed(
          emb.where(sc("vec_id") < 3), "vec_id", "embedding",
          "/tmp/graft_ivf_idx/spec", s.table("ivf_idx_spec"), k = 5,
          nprobe = 2)) ===
        quad(graft.llm.Embeddings.ivfTopKTrained(
          emb, "vec_id", "embedding", cents, sc("vec_id") < 3, k = 5,
          nprobe = 2)))
      // plan shape: the bucketed postings scan feeds the probe-cell join
      // with NO ShuffleExchange above it
      import org.apache.spark.sql.execution._
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      def hasScan(p: SparkPlan): Boolean = p match {
        case f: FileSourceScanExec => f.relation.location.rootPaths
          .exists(_.toString.contains("graft_ivf_idx/spec/postings"))
        case a: AdaptiveSparkPlanExec => hasScan(a.executedPlan)
        case w: WholeStageCodegenExec => hasScan(w.child)
        case other => other.children.exists(hasScan)
      }
      def hasJoin(p: SparkPlan): Boolean = p match {
        case a: AdaptiveSparkPlanExec => hasJoin(a.executedPlan)
        case w: WholeStageCodegenExec => hasJoin(w.child)
        case other => other.nodeName.contains("Join") ||
          other.children.exists(hasJoin)
      }
      def hasShuffleAbove(p: SparkPlan): Boolean = p match {
        case sh: ShuffleExchangeExec =>
          (hasScan(sh.child) && !hasJoin(sh.child)) ||
            hasShuffleAbove(sh.child)
        case a: AdaptiveSparkPlanExec => hasShuffleAbove(a.executedPlan)
        case w: WholeStageCodegenExec => hasShuffleAbove(w.child)
        case other => other.children.exists(hasShuffleAbove)
      }
      val plan = graft.llm.Embeddings.ivfTopKIndexed(
          emb.where(sc("vec_id") < 3), "vec_id", "embedding",
          "/tmp/graft_ivf_idx/spec", s.table("ivf_idx_spec"), k = 5)
        .queryExecution.executedPlan
      assert(hasScan(plan), "expected the bucketed postings scan")
      assert(!hasShuffleAbove(plan),
        s"postings re-shuffled — bucketed layout not riding free:\n$plan")
    } finally s.sql("DROP TABLE IF EXISTS ivf_idx_spec")
    graft.llm.CacheScope.global.release()
  }

  test("ivfIndexAppend: query-after-append equals rebuilt index (frozen centroids)") {
    val s = spark
    val emb = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val a = emb.where(sc("vec_id") % 3 === 0) // initial index build
    val b = emb.where(sc("vec_id") % 3 === 1) // appended slice
    val q = emb.where(sc("vec_id") % 3 === 2).limit(4) // querying slice
    // centroids are fit ONCE on the initial slice and FROZEN — append
    // never refits, so the rebuilt twin must use the same centroids
    val cents = graft.llm.Embeddings.kmeansFitSqrtK(
      a, "vec_id", "embedding", iters = 2)
    graft.llm.Embeddings.ivfIndexSave(
      a, "vec_id", "embedding", cents, "ivf_idx_app",
      "/tmp/graft_ivf_idx/app", buckets = 4)
    graft.llm.Embeddings.ivfIndexSave(
      a.unionByName(b), "vec_id", "embedding", cents, "ivf_idx_full",
      "/tmp/graft_ivf_idx/full", buckets = 4)
    def top(tbl: String, dir: String) = graft.llm.Embeddings.ivfTopKIndexed(
        q, "vec_id", "embedding", dir, s.table(tbl), k = 5)
      .collect().map(_.mkString(",")).toSet // (query_id,neighbor_id,cosine,rank)
    try {
      graft.llm.Embeddings.ivfIndexAppend(
        b, "vec_id", "embedding", "/tmp/graft_ivf_idx/app", "ivf_idx_app",
        buckets = 4)
      val grown = top("ivf_idx_app", "/tmp/graft_ivf_idx/app")
      val rebuilt = top("ivf_idx_full", "/tmp/graft_ivf_idx/full")
      assert(grown === rebuilt)
      assert(grown.nonEmpty, "fixture produced no IVF results")
      // the grown table keeps its bucket spec (the zero-exchange serve
      // path survives the append) and holds exactly the rebuilt postings
      val cat = s.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("ivf_idx_app"))
      assert(cat.bucketSpec.exists(_.numBuckets == 4))
      assert(s.table("ivf_idx_app").count() === s.table("ivf_idx_full").count())
    } finally {
      s.sql("DROP TABLE IF EXISTS ivf_idx_app")
      s.sql("DROP TABLE IF EXISTS ivf_idx_full")
    }
    graft.llm.CacheScope.global.release()
  }

  test("ivfPqTopKIndexed: stored-code ADC parity with inline ivfPqTopK, exact rerank tail, cell pushdown value-neutral and pushed to the scan") {
    val s = spark
    val emb = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val coarse = graft.llm.Embeddings.kmeansFitSqrtK(
      emb, "vec_id", "embedding", iters = 2)
    val cb = graft.llm.Embeddings.pqCodebooks(
      emb, "vec_id", "embedding", dim = 64, m = 2,
      initPred = sc("vec_id") < 4, iters = 2)
    val inline_ = graft.llm.Embeddings.ivfPqTopK(
      emb, "vec_id", "embedding", coarse, cb, dim = 64, m = 2,
      queryId = 0L, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSet
    assert(inline_.nonEmpty)
    graft.llm.Embeddings.ivfPqIndexSave(
      emb, "vec_id", "embedding", coarse, cb, dim = 64, m = 2,
      "ivfpq_idx_spec", "/tmp/graft_ivfpq_idx/spec", buckets = 4)
    try {
      val q0 = emb.where(sc("vec_id") === 0)
      def served(pushCells: Boolean) = graft.llm.Embeddings.ivfPqTopKIndexed(
        q0, "vec_id", "embedding", "/tmp/graft_ivfpq_idx/spec",
        s.table("ivfpq_idx_spec"), dim = 64, m = 2, k = 10,
        pushCells = pushCells)
      // stored codes replay the inline ADC bit-for-bit
      def triple(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      assert(triple(served(pushCells = true)) === inline_)
      // cell pushdown is value-neutral vs the plain probe join...
      assert(triple(served(pushCells = false)) === inline_)
      // ...and actually reaches the postings scan as a pushed IN filter
      import org.apache.spark.sql.execution._
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      def scanMeta(p: SparkPlan): Seq[String] = p match {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths
            .exists(_.toString.contains("graft_ivfpq_idx/spec/postings")) =>
          Seq(f.metadata.getOrElse("PushedFilters", ""))
        case a: AdaptiveSparkPlanExec => scanMeta(a.executedPlan)
        case w: WholeStageCodegenExec => scanMeta(w.child)
        case other => other.children.flatMap(scanMeta)
      }
      // one probed cell folds the IN to an EqualTo — accept either form
      val pushed = scanMeta(served(pushCells = true).queryExecution.executedPlan)
      assert(pushed.exists(p => p.contains("In(__cell__") ||
          p.contains("EqualTo(__cell__")),
        s"probed-cell predicate did not reach the postings scan: $pushed")
      // exact rerank tail: final ranking = exact cosine over the ADC
      // candFactor·k shortlist, by (cosine desc, id)
      val shortIds = graft.llm.Embeddings.ivfPqTopKIndexed(
        q0, "vec_id", "embedding", "/tmp/graft_ivfpq_idx/spec",
        s.table("ivfpq_idx_spec"), dim = 64, m = 2, k = 40)
        .collect().map(_.getLong(1)).toSet
      val qv = emb.where(sc("vec_id") === 0).collect().head
        .getSeq[Float](1).toArray
      val qn = math.sqrt(qv.map(x => x.toDouble * x.toDouble).sum)
      val want = emb.where(sc("vec_id").isInCollection(shortIds.toSeq))
        .collect().map { r =>
          val v = r.getSeq[Float](1).toArray
          var d = 0.0
          var i = 0
          while (i < v.length) { d += v(i).toDouble * qv(i).toDouble; i += 1 }
          val n = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
          (r.getLong(0),
            BigDecimal(d / (n * qn)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
              .toDouble)
        }.sortBy { case (id, c) => (-c, id) }.take(10)
      val got = graft.llm.Embeddings.ivfPqTopKIndexed(
        q0, "vec_id", "embedding", "/tmp/graft_ivfpq_idx/spec",
        s.table("ivfpq_idx_spec"), dim = 64, m = 2, k = 10,
        candFactor = 4, rerank = Some(emb))
        .orderBy(sc("rank")).collect()
        .map(r => (r.getLong(1), r.getDouble(3)))
      assert(got.toSeq === want.toSeq)
      // plan shape: the coded postings scan feeds the probe join with no
      // shuffle above it (bucketed layout rides free)
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      def hasScan(p: SparkPlan): Boolean = p match {
        case f: FileSourceScanExec => f.relation.location.rootPaths
          .exists(_.toString.contains("graft_ivfpq_idx/spec/postings"))
        case a: AdaptiveSparkPlanExec => hasScan(a.executedPlan)
        case w: WholeStageCodegenExec => hasScan(w.child)
        case other => other.children.exists(hasScan)
      }
      def hasJoin(p: SparkPlan): Boolean = p match {
        case a: AdaptiveSparkPlanExec => hasJoin(a.executedPlan)
        case w: WholeStageCodegenExec => hasJoin(w.child)
        case other => other.nodeName.contains("Join") ||
          other.children.exists(hasJoin)
      }
      def hasShuffleAbove(p: SparkPlan): Boolean = p match {
        case sh: ShuffleExchangeExec =>
          (hasScan(sh.child) && !hasJoin(sh.child)) ||
            hasShuffleAbove(sh.child)
        case a: AdaptiveSparkPlanExec => hasShuffleAbove(a.executedPlan)
        case w: WholeStageCodegenExec => hasShuffleAbove(w.child)
        case other => other.children.exists(hasShuffleAbove)
      }
      val plan = served(pushCells = true).queryExecution.executedPlan
      assert(hasScan(plan), "expected the coded postings scan")
      assert(!hasShuffleAbove(plan),
        s"coded postings re-shuffled — bucketed layout not riding free:\n$plan")
    } finally s.sql("DROP TABLE IF EXISTS ivfpq_idx_spec")
    graft.llm.CacheScope.global.release()
  }

  test("ivfIndexRefit: refit-from-postings equals a fresh fit over the grown corpus; the full append->refit->swap lifecycle composes") {
    val s = spark
    val emb = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val a = emb.where(sc("vec_id") % 3 === 0)
    val b = emb.where(sc("vec_id") % 3 === 1)
    val q = emb.where(sc("vec_id") % 3 === 2).limit(4)
    val scope = new graft.llm.CacheScope
    def quad(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(_.mkString(",")).toSet
    // v1 fit on a, then append b (frozen centroids — the drift state)
    val cents = graft.llm.Embeddings.kmeansFitSqrtK(
      a, "vec_id", "embedding", iters = 2, scope = scope)
    graft.llm.Embeddings.ivfIndexSave(a, "vec_id", "embedding", cents,
      "ivf_rf1", "/tmp/graft_ivf_idx/rf1", buckets = 4)
    try {
      graft.llm.Embeddings.ivfIndexAppend(
        b, "vec_id", "embedding", "/tmp/graft_ivf_idx/rf1", "ivf_rf1",
        buckets = 4)
      // refit from the stored postings = a fresh save over a ∪ b with
      // centroids fit on a ∪ b (the restored optimum), bit-identical
      graft.llm.Embeddings.ivfIndexRefit(s, "/tmp/graft_ivf_idx/rf1",
        "vec_id", "embedding", "ivf_rf2", "/tmp/graft_ivf_idx/rf2",
        buckets = 4, scope = scope)
      val centsFull = graft.llm.Embeddings.kmeansFitSqrtK(
        a.unionByName(b), "vec_id", "embedding", iters = 2, scope = scope)
      graft.llm.Embeddings.ivfIndexSave(
        a.unionByName(b), "vec_id", "embedding", centsFull,
        "ivf_rf_truth", "/tmp/graft_ivf_idx/rf_truth", buckets = 4)
      def top(tbl: String, dir: String) = quad(
        graft.llm.Embeddings.ivfTopKIndexed(
          q, "vec_id", "embedding", dir, s.table(tbl), k = 5))
      val refit = top("ivf_rf2", "/tmp/graft_ivf_idx/rf2")
      assert(refit === top("ivf_rf_truth", "/tmp/graft_ivf_idx/rf_truth"))
      assert(refit.nonEmpty)
      // centroid tables identical (the fit init is id-ordered, so the
      // refit cannot diverge from the direct fit)
      assert(quad(s.read.parquet("/tmp/graft_ivf_idx/rf2/centroids")) ===
        quad(s.read.parquet("/tmp/graft_ivf_idx/rf_truth/centroids")))
      // the lifecycle closes with the atomic swap: serve name moves to
      // the refit version, the drifted one retires
      graft.sources.ParquetIO.promoteVersion(s, "ivf_rf_serve", "ivf_rf2")
      assert(quad(graft.llm.Embeddings.ivfTopKIndexed(
        q, "vec_id", "embedding", "/tmp/graft_ivf_idx/rf2",
        s.table("ivf_rf_serve"), k = 5)) === refit)
      // retirement GCs the TABLE's files (the postings); the centroids
      // sibling is a dir-level artifact the caller removes with the dir
      graft.sources.ParquetIO.retireVersion(s, "ivf_rf1")
      assert(!new java.io.File("/tmp/graft_ivf_idx/rf1/postings").exists())
    } finally {
      s.sql("DROP VIEW IF EXISTS ivf_rf_serve")
      Seq("ivf_rf1", "ivf_rf2", "ivf_rf_truth")
        .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
      scope.release()
    }
    graft.llm.CacheScope.global.release()
  }

  test("ivfIndexRefit(sampleCap): cap-bounded training replays the sampled fit exactly") {
    val s = spark
    val emb = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .where(sc("vec_id") < 120)
    val scope = new graft.llm.CacheScope
    def quad(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(_.mkString(",")).toSet
    val cents = graft.llm.Embeddings.kmeansFitSqrtK(
      emb, "vec_id", "embedding", iters = 2, scope = scope)
    graft.llm.Embeddings.ivfIndexSave(emb, "vec_id", "embedding", cents,
      "ivf_sc1", "/tmp/graft_ivf_sc/v1", buckets = 4)
    try {
      // refit with a training cap: centroids must equal kmeansFitSampled
      // at the derived pct (k = floor(sqrt(n)), pct = cap/n) — the
      // deterministic replay the oracle discipline depends on
      graft.llm.Embeddings.ivfIndexRefit(s, "/tmp/graft_ivf_sc/v1",
        "vec_id", "embedding", "ivf_sc2", "/tmp/graft_ivf_sc/v2",
        buckets = 4, scope = scope, sampleCap = Some(60L))
      val n = emb.count()
      val k = math.floor(math.sqrt(n.toDouble)).toInt
      val want = graft.llm.Embeddings.kmeansFitSampled(
        emb, "vec_id", "embedding", k = k, iters = 2,
        samplePct = 60.0 * 100.0 / n, scope = scope)
      assert(quad(s.read.parquet("/tmp/graft_ivf_sc/v2/centroids")) ===
        quad(want))
      // and the refit index still serves (assignment covered the FULL
      // corpus even though training saw only the sample)
      assert(s.read.parquet("/tmp/graft_ivf_sc/v2/postings").count() === n)
    } finally {
      Seq("ivf_sc1", "ivf_sc2").foreach(t =>
        s.sql(s"DROP TABLE IF EXISTS $t"))
      scope.release()
    }
    graft.llm.CacheScope.global.release()
  }

  test("ivfPqIndexRefit: coded refit from the raw store equals a direct sampled-fit save; residual marker rides") {
    val s = spark
    val emb = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .where(sc("vec_id") < 120)
    val scope = new graft.llm.CacheScope
    def quad(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(_.mkString(",")).toSet
    val cents = graft.llm.Embeddings.kmeansFitSqrtK(
      emb, "vec_id", "embedding", iters = 2, scope = scope)
    graft.llm.Embeddings.ivfIndexSave(emb, "vec_id", "embedding", cents,
      "pq_rf_raw", "/tmp/graft_pq_rf/raw", buckets = 4)
    try {
      // sampleCap >= n → pct = 100: the refit must replay the direct
      // sampled-fit save bit-for-bit (coarse, codebooks, coded postings)
      graft.llm.Embeddings.ivfPqIndexRefit(s, "/tmp/graft_pq_rf/raw",
        "vec_id", "embedding", "pq_rf_v2", "/tmp/graft_pq_rf/v2",
        dim = 64, m = 2, kCodebook = 4, buckets = 4,
        sampleCap = Some(1000L), residual = true, scope = scope)
      val coarse = graft.llm.Embeddings.kmeansFitSqrtKSampled(
        emb, "vec_id", "embedding", iters = 2, samplePct = 100.0,
        scope = scope)
      val cbs = graft.llm.Embeddings.pqResidualCodebooksSampled(
        emb, "vec_id", "embedding", coarse, dim = 64, m = 2, k = 4,
        iters = 2, samplePct = 100.0, scope = scope)
      graft.llm.Embeddings.ivfPqIndexSave(emb, "vec_id", "embedding",
        coarse, cbs, dim = 64, m = 2, table = "pq_rf_truth",
        dir = "/tmp/graft_pq_rf/truth", buckets = 4, residual = true)
      assert(quad(s.read.parquet("/tmp/graft_pq_rf/v2/centroids")) ===
        quad(s.read.parquet("/tmp/graft_pq_rf/truth/centroids")))
      assert(quad(s.read.parquet("/tmp/graft_pq_rf/v2/codebooks")) ===
        quad(s.read.parquet("/tmp/graft_pq_rf/truth/codebooks")))
      assert(quad(s.read.parquet("/tmp/graft_pq_rf/v2/postings")) ===
        quad(s.read.parquet("/tmp/graft_pq_rf/truth/postings")))
      // the refit artifact self-describes as residual and serves
      assert(new java.io.File("/tmp/graft_pq_rf/v2/_pq_residual").exists())
      val served = graft.llm.Embeddings.ivfPqTopKIndexed(
        emb.where(sc("vec_id") < 2), "vec_id", "embedding",
        "/tmp/graft_pq_rf/v2", s.table("pq_rf_v2"), dim = 64, m = 2,
        k = 5)
      assert(served.count() > 0)
    } finally {
      Seq("pq_rf_raw", "pq_rf_v2", "pq_rf_truth").foreach(t =>
        s.sql(s"DROP TABLE IF EXISTS $t"))
      scope.release()
    }
    graft.llm.CacheScope.global.release()
  }

  test("ivfPqIndexAppend: query-after-append equals rebuilt coded index (frozen coarse + codebooks); filtered coded search ranks after filter") {
    val s = spark
    val emb = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val a = emb.where(sc("vec_id") % 3 === 0) // initial index build
    val b = emb.where(sc("vec_id") % 3 === 1) // appended slice
    val q = emb.where(sc("vec_id") % 3 === 2).limit(3)
    // coarse + codebooks fit ONCE on the initial slice and FROZEN
    val coarse = graft.llm.Embeddings.kmeansFitSqrtK(
      a, "vec_id", "embedding", iters = 2)
    val cb = graft.llm.Embeddings.pqCodebooks(
      a, "vec_id", "embedding", dim = 64, m = 2,
      initPred = sc("vec_id") < 7, iters = 2)
    graft.llm.Embeddings.ivfPqIndexSave(
      a, "vec_id", "embedding", coarse, cb, dim = 64, m = 2,
      "ivfpq_app", "/tmp/graft_ivfpq_idx/app", buckets = 4,
      attrs = Seq("label"))
    graft.llm.Embeddings.ivfPqIndexSave(
      a.unionByName(b), "vec_id", "embedding", coarse, cb, dim = 64, m = 2,
      "ivfpq_full", "/tmp/graft_ivfpq_idx/full", buckets = 4,
      attrs = Seq("label"))
    def top(tbl: String, dir: String,
        filter: Option[org.apache.spark.sql.Column] = None) =
      graft.llm.Embeddings.ivfPqTopKIndexed(
          q, "vec_id", "embedding", dir, s.table(tbl), dim = 64, m = 2,
          k = 5, filter = filter)
        .collect().map(_.mkString(",")).toSet
    try {
      graft.llm.Embeddings.ivfPqIndexAppend(
        b, "vec_id", "embedding", "/tmp/graft_ivfpq_idx/app", "ivfpq_app",
        dim = 64, m = 2, buckets = 4, attrs = Seq("label"))
      val grown = top("ivfpq_app", "/tmp/graft_ivfpq_idx/app")
      assert(grown === top("ivfpq_full", "/tmp/graft_ivfpq_idx/full"))
      assert(grown.nonEmpty, "fixture produced no coded results")
      // bucket spec + posting count survive the append
      val cat = s.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("ivfpq_app"))
      assert(cat.bucketSpec.exists(_.numBuckets == 4))
      assert(s.table("ivfpq_app").count() === s.table("ivfpq_full").count())
      // filtered coded search ≡ a coded index that only ever held the
      // passing rows (rank-after-filter, dense ranks)
      graft.llm.Embeddings.ivfPqIndexSave(
        a.unionByName(b).where(sc("label") < 5),
        "vec_id", "embedding", coarse, cb, dim = 64, m = 2,
        "ivfpq_flt", "/tmp/graft_ivfpq_idx/flt", buckets = 4)
      assert(top("ivfpq_app", "/tmp/graft_ivfpq_idx/app",
          filter = Some(sc("label") < 5)) ===
        top("ivfpq_flt", "/tmp/graft_ivfpq_idx/flt"))
    } finally Seq("ivfpq_app", "ivfpq_full", "ivfpq_flt")
      .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    graft.llm.CacheScope.global.release()
  }

  test("residual IVF-PQ: per-vector residual codebooks reconstruct exactly, append derives residual mode from the marker, __xn__ guard fails loudly") {
    val s = spark
    val emb = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val coarse = graft.llm.Embeddings.kmeansFitSqrtK(
      emb, "vec_id", "embedding", iters = 1)
    // DEGENERATE GATE (the pqTopK m=1 discipline, residual edition):
    // per-vector residual codebooks (every id seeds, zero iterations)
    // hold each residual exactly, so reconstruction ĉ+r̂ returns x up to
    // one correctly-rounded subtract+add per element and the ADC score
    // must equal the exact cosine to well inside the 6-dp round.
    val cbAll = graft.llm.Embeddings.pqResidualCodebooks(
      emb, "vec_id", "embedding", coarse, dim = 64, m = 2,
      initPred = org.apache.spark.sql.functions.lit(true), iters = 0)
    graft.llm.Embeddings.ivfPqIndexSave(
      emb, "vec_id", "embedding", coarse, cbAll, dim = 64, m = 2,
      "ivfpqr_exact", "/tmp/graft_ivfpqr/exact", buckets = 4,
      residual = true)
    try {
      val q0 = emb.where(sc("vec_id") === 0)
      val adc = graft.llm.Embeddings.ivfPqTopKIndexed(
        q0, "vec_id", "embedding", "/tmp/graft_ivfpqr/exact",
        s.table("ivfpqr_exact"), dim = 64, m = 2, k = 10)
        .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
      assert(adc.nonEmpty, "residual ADC returned no candidates")
      val qv = q0.collect().head.getSeq[Float](1).toArray
      val qn = math.sqrt(qv.map(x => x.toDouble * x.toDouble).sum)
      val exact = emb.where(sc("vec_id").isInCollection(adc.keys.toSeq))
        .collect().map { r =>
          val v = r.getSeq[Float](1).toArray
          var d = 0.0
          var i = 0
          while (i < v.length) { d += v(i).toDouble * qv(i).toDouble; i += 1 }
          (r.getLong(0),
            d / (math.sqrt(v.map(x => x.toDouble * x.toDouble).sum) * qn))
        }.toMap
      adc.foreach { case (id, got) =>
        assert(math.abs(got - exact(id)) < 2e-6,
          s"vec $id: residual ADC $got vs exact cosine ${exact(id)}")
      }
      // misuse guard: a residual-marked dir served with a postings frame
      // missing __xn__ (wrong table) fails loudly, not silently wrong
      val err = intercept[IllegalArgumentException] {
        graft.llm.Embeddings.ivfPqTopKIndexed(
          q0, "vec_id", "embedding", "/tmp/graft_ivfpqr/exact",
          s.table("ivfpqr_exact").drop("__xn__"), dim = 64, m = 2, k = 10)
      }
      assert(err.getMessage.contains("__xn__"))
    } finally s.sql("DROP TABLE IF EXISTS ivfpqr_exact")
    // APPEND derives residual mode from the artifact's marker (no flag):
    // save half residual-coded, append the other half, serve ≡ full save
    val a = emb.where(sc("vec_id") % 3 === 0)
    val b = emb.where(sc("vec_id") % 3 === 1)
    val q = emb.where(sc("vec_id") % 3 === 2).limit(3)
    val coarseA = graft.llm.Embeddings.kmeansFitSqrtK(
      a, "vec_id", "embedding", iters = 1)
    val cbA = graft.llm.Embeddings.pqResidualCodebooks(
      a, "vec_id", "embedding", coarseA, dim = 64, m = 2,
      initPred = sc("vec_id") < 7, iters = 1)
    graft.llm.Embeddings.ivfPqIndexSave(
      a, "vec_id", "embedding", coarseA, cbA, dim = 64, m = 2,
      "ivfpqr_app", "/tmp/graft_ivfpqr/app", buckets = 4, residual = true)
    graft.llm.Embeddings.ivfPqIndexSave(
      a.unionByName(b), "vec_id", "embedding", coarseA, cbA, dim = 64, m = 2,
      "ivfpqr_full", "/tmp/graft_ivfpqr/full", buckets = 4, residual = true)
    try {
      graft.llm.Embeddings.ivfPqIndexAppend(
        b, "vec_id", "embedding", "/tmp/graft_ivfpqr/app", "ivfpqr_app",
        dim = 64, m = 2, buckets = 4)
      def top(tbl: String, dir: String) = graft.llm.Embeddings
        .ivfPqTopKIndexed(q, "vec_id", "embedding", dir, s.table(tbl),
          dim = 64, m = 2, k = 5, nprobe = 2)
        .collect().map(_.mkString(",")).toSet
      val grown = top("ivfpqr_app", "/tmp/graft_ivfpqr/app")
      assert(grown === top("ivfpqr_full", "/tmp/graft_ivfpqr/full"))
      assert(grown.nonEmpty, "residual append fixture produced no results")
      // appended rows carry the stored reconstructed norm too
      assert(s.table("ivfpqr_app").columns.contains("__xn__"))
      assert(s.table("ivfpqr_app").where(sc("__xn__").isNull).count() === 0L)
    } finally Seq("ivfpqr_app", "ivfpqr_full")
      .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    graft.llm.CacheScope.global.release()
  }

  test("knnLabelIndexed: majority label of the served top-k with deterministic tie-break; missing-label guard") {
    val s = spark
    val emb = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = graft.llm.Embeddings.kmeansFitSqrtK(
      emb, "vec_id", "embedding", iters = 2)
    graft.llm.Embeddings.ivfIndexSave(emb, "vec_id", "embedding", cents,
      "knn_idx", "/tmp/graft_knn/idx", buckets = 4, attrs = Seq("label"))
    try {
      val q = emb.where(sc("vec_id") < 5)
      val got = graft.llm.Embeddings.knnLabelIndexed(
        q, "vec_id", "embedding", "/tmp/graft_knn/idx", s.table("knn_idx"),
        "label", k = 5, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(got.nonEmpty)
      assert(got.map(_._1) === Set(0L, 1L, 2L, 3L, 4L),
        "every query gets exactly one verdict")
      // independent vote over the PUBLIC top-k surface (same index, same
      // knobs) — the label op must agree with hand-counting its output
      val lbl = emb.select(sc("vec_id"), sc("label")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val want = graft.llm.Embeddings.ivfTopKIndexed(
        q, "vec_id", "embedding", "/tmp/graft_knn/idx", s.table("knn_idx"),
        k = 5, nprobe = 2)
        .collect().groupBy(_.getLong(0)).map { case (qid, rows) =>
          val votes = rows.groupBy(r => lbl(r.getLong(1)))
            .map { case (l, rs) => (l, rs.length.toLong) }.toSeq
          val (l, v) = votes.minBy { case (l2, v2) => (-v2, l2) }
          (qid, l, v)
        }.toSet
      assert(got === want)
      // a postings frame without the label column fails loudly
      val err = intercept[IllegalArgumentException] {
        graft.llm.Embeddings.knnLabelIndexed(
          q, "vec_id", "embedding", "/tmp/graft_knn/idx",
          s.table("knn_idx").drop("label"), "label", k = 5)
      }
      assert(err.getMessage.contains("label"))
      // the numeric twin: the cosine-weighted mean must agree with
      // hand-computing it from the public top-k surface using the same
      // decimal-sum-of-rounded-terms fold
      val gotScore = graft.llm.Embeddings.knnScoreIndexed(
        q, "vec_id", "embedding", "/tmp/graft_knn/idx", s.table("knn_idx"),
        "label", k = 5, nprobe = 2)
        .collect().map(r => r.getLong(0) ->
          ((if (r.isNullAt(1)) None else Some(r.getDouble(1)),
            r.getLong(2)))).toMap
      val wantScore = graft.llm.Embeddings.ivfTopKIndexed(
        q, "vec_id", "embedding", "/tmp/graft_knn/idx", s.table("knn_idx"),
        k = 5, nprobe = 2)
        .collect().groupBy(_.getLong(0)).map { case (qid, rows) =>
          def r6(x: Double) = BigDecimal(x)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          val num = rows.map(r => BigDecimal(r6(
              r.getDouble(2) * lbl(r.getLong(1)).toDouble)).setScale(8))
            .sum.toDouble
          val den = rows.map(r => BigDecimal(r.getDouble(2)).setScale(8))
            .sum.toDouble
          qid -> ((if (den == 0.0) None else Some(r6(num / den))),
            rows.length.toLong)
        }
      assert(gotScore === wantScore)
    } finally s.sql("DROP TABLE IF EXISTS knn_idx")
    graft.llm.CacheScope.global.release()
  }

  test("ivfTopKIndexed cell pushdown: value parity with the plain join, predicate reaches PushedFilters") {
    val s = spark
    val emb = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = graft.llm.Embeddings.kmeansFitSqrtK(
      emb, "vec_id", "embedding", iters = 2)
    graft.llm.Embeddings.ivfIndexSave(emb, "vec_id", "embedding", cents,
      "ivf_idx_push", "/tmp/graft_ivf_idx/push", buckets = 4)
    try {
      def quad(pushCells: Boolean, nprobe: Int) = graft.llm.Embeddings
        .ivfTopKIndexed(emb.where(sc("vec_id") < 3), "vec_id", "embedding",
          "/tmp/graft_ivf_idx/push", s.table("ivf_idx_push"), k = 5,
          nprobe = nprobe, pushCells = pushCells)
      for (np <- Seq(1, 2))
        assert(quad(true, np).collect().map(_.mkString(",")).toSet ===
          quad(false, np).collect().map(_.mkString(",")).toSet,
          s"pushdown changed values at nprobe=$np")
      import org.apache.spark.sql.execution._
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      def scanMeta(p: SparkPlan): Seq[String] = p match {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths
            .exists(_.toString.contains("graft_ivf_idx/push/postings")) =>
          Seq(f.metadata.getOrElse("PushedFilters", ""))
        case a: AdaptiveSparkPlanExec => scanMeta(a.executedPlan)
        case w: WholeStageCodegenExec => scanMeta(w.child)
        case other => other.children.flatMap(scanMeta)
      }
      // one probed cell folds the IN to an EqualTo — accept either form
      val pushed = scanMeta(quad(true, 1).queryExecution.executedPlan)
      assert(pushed.exists(p => p.contains("In(__cell__") ||
          p.contains("EqualTo(__cell__")),
        s"probed-cell predicate did not reach the postings scan: $pushed")
      // admission path: same parity
      val newEmb = emb.where(sc("vec_id") < 20)
        .select((sc("vec_id") + 10000).as("vec_id"), sc("embedding"))
      def admit(pushCells: Boolean) = graft.llm.Embeddings
        .ivfNearDupJoinIndexed(newEmb, "vec_id", "embedding",
          "/tmp/graft_ivf_idx/push", s.table("ivf_idx_push"),
          threshold = 0.8, pushCells = pushCells)
        .collect().map(_.mkString(",")).toSet
      assert(admit(true) === admit(false))
      assert(admit(true).nonEmpty, "admission fixture produced no pairs")
    } finally s.sql("DROP TABLE IF EXISTS ivf_idx_push")
    graft.llm.CacheScope.global.release()
  }

  test("ivfProbe ranks probe cells in the (sim desc, cid) row_number window's order") {
    // the reference is the window the batch serve ranked with before the
    // projection replaced it: ties, NULL vector elements, nprobe at and
    // past the centroid count, and nprobe = 1 against the argmax
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{expr, row_number}
    graft.GraftExtensions.install(s)
    // cids 3 and 5 hold equal vectors, so their cosines tie for every
    // query; cid 6 carries a NULL element
    val cents = s.sql("""SELECT cid, CAST(cv AS ARRAY<FLOAT>) AS cv FROM VALUES
        (1L, array(1, 0, 0)), (2L, array(0, 1, 0)), (5L, array(1, 1, 0)),
        (3L, array(1, 1, 0)), (4L, array(0, 0, 1)), (6L, array(NULL, 1, 1))
        AS t(cid, cv)""")
    val queries = s.sql("""SELECT id, CAST(vec AS ARRAY<FLOAT>) AS vec FROM VALUES
        (0L, array(1, 1, 0)), (1L, array(1, 0.5, 0.2)), (2L, array(0, 0, -1)),
        (3L, array(1, NULL, 0)), (4L, array(0.3, 0.3, 0.3)),
        (5L, array(NULL, 2, 1)) AS t(id, vec)""")
    val ranked = queries.crossJoin(cents)
      .withColumn("sim", expr("round(float_vec_dot(vec, cv) / " +
        "(sqrt(float_vec_dot(vec, vec)) * sqrt(float_vec_dot(cv, cv))), 6)"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(sc("id")).orderBy(sc("sim").desc, sc("cid"))))
    def window(nprobe: Int): Seq[(Long, Long)] = ranked
      .where(sc("rk") <= nprobe).select("id", "cid").as[(Long, Long)]
      .collect().toSeq.sorted
    def probed(nprobe: Int): Seq[(Long, Long)] = Embeddings
      .ivfProbe(queries, "id", "vec", cents, nprobe)
      .select("query_id", "__qcell__").as[(Long, Long)].collect().toSeq.sorted
    // the tie sits on the nprobe = 2 and 3 boundaries of queries 0 and 4
    assert(window(2).filter(_._1 == 0L).map(_._2) === Seq(3L, 5L))
    for (nprobe <- Seq(1, 2, 3, 6, 9))
      assert(probed(nprobe) === window(nprobe), s"nprobe=$nprobe")
    assert(probed(9).length === 6 * 6, "each cell probed once")
    val argmax = Embeddings
      .withCell(queries.withColumn("__n__", expr("sqrt(float_vec_dot(vec, vec))")),
        "vec", cents)
      .select("id", "__cell__").as[(Long, Long)].collect().toSeq.sorted
    assert(probed(1) === argmax)
  }

  test("a warm persisted IVF serve builds with no Spark job and ranks probe cells without a window") {
    val s = spark
    val emb = s.range(60).selectExpr("id AS vec_id",
      "transform(sequence(0, 7), d -> CAST(sin(id * 7 + d) AS FLOAT)) AS embedding")
    val dir = "/tmp/graft_ivf_idx/warm"
    graft.llm.Embeddings.ivfIndexSave(emb, "vec_id", "embedding",
      emb.where(sc("vec_id") < 6).select(sc("vec_id").as("cid"),
        sc("embedding").as("cv")),
      "ivf_idx_warm", dir, buckets = 4)
    try {
      def serve(nprobe: Int) = graft.llm.Embeddings.ivfTopKIndexed(
        emb.where(sc("vec_id") < 3), "vec_id", "embedding", dir,
        s.table("ivf_idx_warm"), k = 5, nprobe = nprobe, pushCells = false)
      val cold = serve(1) // resolves the centroid table's schema
      val (warm, jobs) = withJobs(serve(1))
      assert(jobs === 0, "a warm serve re-read the centroids' schema")
      val rows = warm.collect().map(_.toString).toSet
      assert(rows.nonEmpty && rows === cold.collect().map(_.toString).toSet)
      import org.apache.spark.sql.execution._
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      import org.apache.spark.sql.execution.window.WindowExec
      def flatten(p: SparkPlan): Seq[SparkPlan] =
        p +: (p.children ++ (p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case w: WholeStageCodegenExec => Seq(w.child)
          case _ => Seq.empty
        })).flatMap(flatten)
      val plan = serve(2).queryExecution.executedPlan
      assert(!flatten(plan).exists(_.isInstanceOf[WindowExec]),
        s"nprobe = 2 serve ranks with a window:\n$plan")
    } finally s.sql("DROP TABLE IF EXISTS ivf_idx_warm")
    graft.llm.CacheScope.global.release()
  }

  test("a warm persisted OPQ serve runs no schema-inference job") {
    val s = spark
    import s.implicits._
    val emb = (0L until 40L).map { i =>
      val x0 = (i % 7).toFloat * 0.125f + 0.25f
      val x1 = (i % 5).toFloat * 0.25f - 0.5f
      (i, Array(x0, x1, x0 * 0.75f + 0.125f * (i % 3), x1 * 0.5f - 0.25f))
    }.toDF("vec_id", "embedding")
    val dir = "/tmp/graft_opq_model/warm"
    Embeddings.opqFitSave(emb, "vec_id", "embedding", dim = 4, m = 2,
      initPred = sc("vec_id") < 2, iters = 1, dir = dir, minAbsRho = 0.0)
    def serve() = Embeddings.opqTopKWithModel(emb, "vec_id", "embedding",
      dir, dim = 4, m = 2, queryId = 1L, k = 5)
    // a job's stages are named after the call that submitted it: a
    // schema inference is "parquet at …" for a bare read and "load at
    // ParquetIO…" for a resolve through ParquetIO
    val tracker = s.sparkContext.statusTracker
    def schemaReads(ids: Seq[Int]): Seq[String] = ids
      .flatMap(tracker.getJobInfo(_)).flatMap(_.stageIds.toSeq)
      .flatMap(tracker.getStageInfo(_)).map(_.name)
      .filter(n => n.startsWith("parquet at ") || n.startsWith("load at "))
    val (cold, coldIds) = withJobIds(serve())
    assert(schemaReads(coldIds).length === 2,
      "the cold serve resolves the rotation's and codebooks' schemas once each")
    val (warm, warmIds) = withJobIds(serve())
    assert(schemaReads(warmIds).isEmpty, "a warm serve re-read a model table's schema")
    // the rotation and the codebooks are pinned by one collect each; the
    // codebook shape check runs on the pinned rows, and nothing caches
    // them, so no later job reads them back
    assert(warmIds.length === 2,
      s"warm serve stages: ${warmIds.flatMap(tracker.getJobInfo(_))
        .flatMap(_.stageIds.toSeq).flatMap(tracker.getStageInfo(_)).map(_.name)}")
    assert(warm.collect().toSeq === cold.collect().toSeq)
    graft.llm.CacheScope.global.release()
  }

  test("PQ serves refuse codebooks of the wrong segment count or entry dim") {
    val s = spark
    import s.implicits._
    val emb = (0L until 12L).map(i =>
      (i, Array.tabulate(4)(d => ((i * 7 + d * 3) % 11).toFloat - 5f)))
      .toDF("vec_id", "embedding")
    val cb = Embeddings.pqCodebooks(emb, "vec_id", "embedding",
      dim = 4, m = 2, initPred = sc("vec_id") < 3L, iters = 1)
    def serve(codebooks: org.apache.spark.sql.DataFrame, dim: Int, m: Int) =
      Embeddings.pqTopK(emb, "vec_id", "embedding", codebooks, dim, m,
        queryId = 0L, k = 3)
    assert(serve(cb, 4, 2).collect().length === 3)
    val wrongM = intercept[IllegalArgumentException](serve(cb, 4, 1))
    assert(wrongM.getMessage.contains("codebooks cover segments 0,1; expected 0..0"),
      wrongM.getMessage)
    val wrongDim = intercept[IllegalArgumentException](serve(cb, 6, 2))
    assert(wrongDim.getMessage.contains(
      "codebook segment 0 has 2-dim entries; expected 3"), wrongDim.getMessage)
    graft.llm.CacheScope.global.release()
  }

  test("pqTopK plans no InMemoryRelation: its pinned codebooks are read as driver literals") {
    val s = spark
    import s.implicits._
    val emb = (0L until 12L).map(i =>
      (i, Array.tabulate(4)(d => ((i * 7 + d * 3) % 11).toFloat - 5f)))
      .toDF("vec_id", "embedding")
    val cb = Embeddings.pqCodebooks(emb, "vec_id", "embedding",
      dim = 4, m = 2, initPred = sc("vec_id") < 3L, iters = 1)
    val served = Embeddings.pqTopK(emb, "vec_id", "embedding", cb, dim = 4,
      m = 2, queryId = 0L, k = 3)
    val plan = served.queryExecution.executedPlan.toString
    assert(!plan.contains("InMemoryRelation") && !plan.contains("InMemoryTableScan"),
      s"pqTopK caches rows the driver already holds:\n$plan")
    assert(served.collect().length === 3)
    graft.llm.CacheScope.global.release()
  }

  test("ivfPqIndexRefit(sampleCap) counts the corpus once for both k and the sample") {
    val s = spark
    val emb = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .where(sc("vec_id") < 60)
    val scope = new graft.llm.CacheScope
    val cents = Embeddings.kmeansFitSqrtK(emb, "vec_id", "embedding",
      iters = 1, scope = scope)
    Embeddings.ivfIndexSave(emb, "vec_id", "embedding", cents,
      "pq_cnt_raw", "/tmp/graft_pq_cnt/raw", buckets = 2)
    // adaptive execution runs stages from a pool thread and names them
    // after it; without it a job's stages carry the call that submitted it
    val aqe = s.conf.get("spark.sql.adaptive.enabled")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val (_, ids) = withJobIds(Embeddings.ivfPqIndexRefit(s,
        "/tmp/graft_pq_cnt/raw", "vec_id", "embedding", "pq_cnt_v2",
        "/tmp/graft_pq_cnt/v2", dim = 64, m = 2, kCodebook = 4, buckets = 2,
        iters = 1, sampleCap = Some(30L), scope = scope))
      val tracker = s.sparkContext.statusTracker
      val countJobs = ids.flatMap(tracker.getJobInfo(_)).filter(_.stageIds.exists(
        tracker.getStageInfo(_).exists(_.name.startsWith("count at Embeddings.scala"))))
      assert(countJobs.length === 1,
        s"corpus count jobs: ${countJobs.map(_.jobId).mkString(", ")}")
    } finally {
      s.conf.set("spark.sql.adaptive.enabled", aqe)
      Seq("pq_cnt_raw", "pq_cnt_v2").foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
      scope.release()
    }
    graft.llm.CacheScope.global.release()
  }

  test("band-posting index schemas: names, order and types of every persisted index") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.types._
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c d e g")).toDF("doc_id", "text")
    val images = Seq((1L, Multimodal.spectralPng(0, 0))).toDF("doc_id", "payload")
    val clips = Seq((1L, Multimodal.spectralWav(0, 0))).toDF("doc_id", "payload")
    val video = Seq((1L, Multimodal.encodeAnimatedGif(72, 64, 4,
      (f, x, y) => (3 * x + 5 * y + 7 * f) % 97))).toDF("doc_id", "payload")
    def fields(df: org.apache.spark.sql.DataFrame): Seq[(String, DataType)] =
      df.schema.fields.toSeq.map(f => (f.name, f.dataType))
    val hash = ArrayType(IntegerType, containsNull = false)
    val posting = Seq("__id__" -> LongType, "__bkey__" -> StringType,
      "__dhash__" -> hash)
    assert(fields(Dedup.minhashIndex(docs, "doc_id", "text")) === Seq(
      "__id__" -> LongType, "__bkey__" -> StringType,
      "__toks__" -> ArrayType(StringType, containsNull = false)))
    assert(fields(Multimodal.dhashIndex(images, "doc_id", "payload")) === posting)
    assert(fields(Multimodal.imageSpectralIndex(images, "doc_id", "payload")) ===
      posting)
    assert(fields(Multimodal.audioDhashIndex(clips, "doc_id", "payload")) ===
      posting)
    assert(fields(Multimodal.audioSpectralIndex(clips, "doc_id", "payload",
      maxPerBucketSide = 2)) === posting)
    assert(fields(Multimodal.videoDhashIndex(video, "doc_id", "payload",
      maxPerBucketSide = 2)) === posting :+ ("__nf__" -> LongType))
  }

  test("minhashIndexAppend: query-after-append equals query-against-rebuilt-index") {
    val s = spark
    val docs = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val a = docs.where(sc("doc_id") % 3 === 0) // initial index build
    val b = docs.where(sc("doc_id") % 3 === 1) // appended slice
    val q = docs.where(sc("doc_id") % 3 === 2) // querying crawl
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    graft.sources.ParquetIO.writeBucketed(
      graft.llm.Dedup.minhashIndex(a, "doc_id", "text"),
      "mh_idx_app", "/tmp/graft_minhash_idx/app", "__bkey__", 4)
    graft.sources.ParquetIO.writeBucketed(
      graft.llm.Dedup.minhashIndex(
        a.unionByName(b), "doc_id", "text"),
      "mh_idx_full", "/tmp/graft_minhash_idx/full", "__bkey__", 4)
    try {
      graft.llm.Dedup.minhashIndexAppend(b, "doc_id", "text", "mh_idx_app",
        buckets = 4)
      val grown = pairs(graft.llm.Dedup.minhashJoinIndexed(
        q, "doc_id", "text", s.table("mh_idx_app")))
      val rebuilt = pairs(graft.llm.Dedup.minhashJoinIndexed(
        q, "doc_id", "text", s.table("mh_idx_full")))
      assert(grown === rebuilt)
      assert(grown.nonEmpty, "fixture found no cross-slice near-dups")
      // clustering survives the append: the grown table still reports its
      // bucket spec, so the band join's index side needs no exchange
      val cat = s.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("mh_idx_app"))
      assert(cat.bucketSpec.exists(_.numBuckets == 4))
      // and the grown table holds exactly the rebuilt table's postings
      assert(s.table("mh_idx_app").count() === s.table("mh_idx_full").count())
    } finally {
      s.sql("DROP TABLE IF EXISTS mh_idx_app")
      s.sql("DROP TABLE IF EXISTS mh_idx_full")
    }
  }

  test("compactBucketed: one file per bucket, query-identical, clustering preserved") {
    val s = spark
    val docs = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def slice(r: Int) = docs.where(sc("doc_id") % 4 === r)
    val q = slice(3)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def parquetFiles(p: String): Int = {
      val d = new java.io.File(p)
      d.listFiles().count(f => f.getName.endsWith(".parquet") &&
        !f.getName.startsWith("_"))
    }
    graft.sources.ParquetIO.writeBucketed(
      graft.llm.Dedup.minhashIndex(slice(0), "doc_id", "text"),
      "mh_idx_cmp", "/tmp/graft_minhash_idx/cmp", "__bkey__", 4)
    try {
      // three maintenance appends: each adds files per bucket
      (1 to 2).foreach(r => graft.llm.Dedup.minhashIndexAppend(
        slice(r), "doc_id", "text", "mh_idx_cmp", buckets = 4))
      graft.llm.Dedup.minhashIndexAppend(
        slice(0).limit(50), "doc_id", "text", "mh_idx_cmp", buckets = 4)
      val before = pairs(graft.llm.Dedup.minhashJoinIndexed(
        q, "doc_id", "text", s.table("mh_idx_cmp")))
      val filesBefore = parquetFiles("/tmp/graft_minhash_idx/cmp")
      assert(filesBefore > 4, s"appends should multiply files, got $filesBefore")
      graft.sources.ParquetIO.compactBucketed(s, "mh_idx_cmp",
        "mh_idx_cmp2", "/tmp/graft_minhash_idx/cmp2", "__bkey__", 4)
      // exactly one file per bucket after compaction
      assert(parquetFiles("/tmp/graft_minhash_idx/cmp2") === 4)
      // the serve query is value-identical against the compacted table
      val after = pairs(graft.llm.Dedup.minhashJoinIndexed(
        q, "doc_id", "text", s.table("mh_idx_cmp2")))
      assert(after === before)
      assert(after.nonEmpty, "fixture found no cross-slice near-dups")
      assert(s.table("mh_idx_cmp2").count() === s.table("mh_idx_cmp").count())
      // the compacted table still reports the bucket spec the serve
      // join's clustering rides
      val cat = s.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("mh_idx_cmp2"))
      assert(cat.bucketSpec.exists(_.numBuckets == 4))
    } finally {
      s.sql("DROP TABLE IF EXISTS mh_idx_cmp")
      s.sql("DROP TABLE IF EXISTS mh_idx_cmp2")
    }
    graft.llm.CacheScope.global.release()
  }

  test("removeFromBucketed: serve after takedown equals an index that never held the docs") {
    val s = spark
    val docs = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val keep = docs.where(sc("doc_id") % 2 === 1 && sc("doc_id") % 3 =!= 0)
    val q = docs.where(sc("doc_id") % 2 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    graft.sources.ParquetIO.writeBucketed(
      graft.llm.Dedup.minhashIndex(
        docs.where(sc("doc_id") % 2 === 1), "doc_id", "text"),
      "mh_idx_td", "/tmp/graft_minhash_idx/td", "__bkey__", 4)
    graft.sources.ParquetIO.writeBucketed(
      graft.llm.Dedup.minhashIndex(keep, "doc_id", "text"),
      "mh_idx_td_truth", "/tmp/graft_minhash_idx/td_truth", "__bkey__", 4)
    try {
      graft.sources.ParquetIO.removeFromBucketed(s, "mh_idx_td", "__id__",
        docs.where(sc("doc_id") % 2 === 1 && sc("doc_id") % 3 === 0)
          .select(sc("doc_id")),
        "mh_idx_td2", "/tmp/graft_minhash_idx/td2", "__bkey__", 4)
      val after = pairs(graft.llm.Dedup.minhashJoinIndexed(
        q, "doc_id", "text", s.table("mh_idx_td2")))
      val truth = pairs(graft.llm.Dedup.minhashJoinIndexed(
        q, "doc_id", "text", s.table("mh_idx_td_truth")))
      assert(after === truth)
      assert(after.nonEmpty, "fixture found no surviving near-dups")
      // the removed docs' postings are gone, not just filtered at read
      assert(s.table("mh_idx_td2")
        .where(sc("__id__") % 3 === 0).count() === 0)
      val cat = s.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("mh_idx_td2"))
      assert(cat.bucketSpec.exists(_.numBuckets == 4))
    } finally Seq("mh_idx_td", "mh_idx_td_truth", "mh_idx_td2")
      .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    graft.llm.CacheScope.global.release()
  }

  test("promoteVersion: atomic swap — in-flight readers keep the old version, new readers see the new, bucketed serve rides the view; retirement GCs the old files") {
    val s = spark
    val docs = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val q = docs.where(sc("doc_id") % 2 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // v1 = the odd slice's index; v2 = v1 with %3==0 docs taken down
    graft.sources.ParquetIO.writeBucketed(
      graft.llm.Dedup.minhashIndex(
        docs.where(sc("doc_id") % 2 === 1), "doc_id", "text"),
      "mh_pv1", "/tmp/graft_minhash_idx/pv1", "__bkey__", 4)
    try {
      graft.sources.ParquetIO.removeFromBucketed(s, "mh_pv1", "__id__",
        docs.where(sc("doc_id") % 2 === 1 && sc("doc_id") % 3 === 0)
          .select(sc("doc_id")),
        "mh_pv2", "/tmp/graft_minhash_idx/pv2", "__bkey__", 4)
      val v1 = pairs(graft.llm.Dedup.minhashJoinIndexed(
        q, "doc_id", "text", s.table("mh_pv1")))
      val v2 = pairs(graft.llm.Dedup.minhashJoinIndexed(
        q, "doc_id", "text", s.table("mh_pv2")))
      assert(v1 !== v2, "fixture versions must differ for the swap test")
      // serve name starts at v1
      assert(graft.sources.ParquetIO.promoteVersion(s, "mh_serve", "mh_pv1")
        .isEmpty)
      // an IN-FLIGHT reader: planned against the pre-swap view
      val inFlight = graft.llm.Dedup.minhashJoinIndexed(
        q, "doc_id", "text", s.table("mh_serve"))
      inFlight.queryExecution.analyzed // bind the old relation NOW
      // the swap: one catalog op; returns the superseded version
      assert(graft.sources.ParquetIO.promoteVersion(s, "mh_serve", "mh_pv2")
        === Some("mh_pv1"))
      // new readers see exactly v2; the in-flight plan still reads v1 —
      // never a mix of the two
      assert(pairs(graft.llm.Dedup.minhashJoinIndexed(
        q, "doc_id", "text", s.table("mh_serve"))) === v2)
      assert(pairs(inFlight) === v1)
      // the bucketed layout plans zero index-side exchanges THROUGH the
      // view (a view is a logical alias, not a re-shuffle)
      import org.apache.spark.sql.execution._
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      def hasScan(p: SparkPlan): Boolean = p match {
        case f: FileSourceScanExec => f.relation.location.rootPaths
          .exists(_.toString.contains("graft_minhash_idx/pv2"))
        case a: AdaptiveSparkPlanExec => hasScan(a.executedPlan)
        case w: WholeStageCodegenExec => hasScan(w.child)
        case other => other.children.exists(hasScan)
      }
      def hasJoin(p: SparkPlan): Boolean = p match {
        case a: AdaptiveSparkPlanExec => hasJoin(a.executedPlan)
        case w: WholeStageCodegenExec => hasJoin(w.child)
        case other => other.nodeName.contains("Join") ||
          other.children.exists(hasJoin)
      }
      def hasShuffleAbove(p: SparkPlan): Boolean = p match {
        case sh: ShuffleExchangeExec =>
          (hasScan(sh.child) && !hasJoin(sh.child)) ||
            hasShuffleAbove(sh.child)
        case a: AdaptiveSparkPlanExec => hasShuffleAbove(a.executedPlan)
        case w: WholeStageCodegenExec => hasShuffleAbove(w.child)
        case other => other.children.exists(hasShuffleAbove)
      }
      val plan = graft.llm.Dedup.minhashJoinIndexed(
        q, "doc_id", "text", s.table("mh_serve"))
        .queryExecution.executedPlan
      assert(hasScan(plan), "expected the v2 postings scan through the view")
      assert(!hasShuffleAbove(plan),
        s"postings re-shuffled through the view:\n$plan")
      // misuse fails loudly: retiring the serving VIEW, or promoting a
      // serve name that is already a data TABLE
      assert(intercept[IllegalArgumentException] {
        graft.sources.ParquetIO.retireVersion(s, "mh_serve")
      }.getMessage.contains("view"))
      assert(intercept[IllegalArgumentException] {
        graft.sources.ParquetIO.promoteVersion(s, "mh_pv2", "mh_pv1")
      }.getMessage.contains("view"))
      // retirement: the old version's table AND files are gone
      graft.sources.ParquetIO.retireVersion(s, "mh_pv1")
      assert(!s.catalog.tableExists("mh_pv1"))
      assert(!new java.io.File("/tmp/graft_minhash_idx/pv1").exists())
    } finally {
      s.sql("DROP VIEW IF EXISTS mh_serve")
      Seq("mh_pv1", "mh_pv2").foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    }
    graft.llm.CacheScope.global.release()
  }

  test("filtered IVF search: rank-after-filter semantics, predicate reaches the postings scan") {
    val s = spark
    val emb = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val scope = new graft.llm.CacheScope
    val cents = graft.llm.Embeddings.kmeansFitSqrtK(
      emb, "vec_id", "embedding", iters = 2, scope = scope)
    graft.llm.Embeddings.ivfIndexSave(emb, "vec_id", "embedding", cents,
      "ivf_flt", "/tmp/graft_ivf_idx/flt", buckets = 4, attrs = Seq("label"))
    try {
      val q = emb.where(sc("vec_id") < 3)
      val served = graft.llm.Embeddings.ivfTopKIndexed(
        q, "vec_id", "embedding", "/tmp/graft_ivf_idx/flt",
        s.table("ivf_flt"), k = 5, filter = Some(sc("label") < 5))
      val rows = served.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
      // every neighbor passes the predicate (rank-after-filter: filtered
      // candidates are replaced by the next best, never emitted)
      val labels = emb.select(sc("vec_id"), sc("label")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(rows.nonEmpty)
      assert(rows.forall { case (_, n, _) => labels(n) < 5 },
        "a filtered-out neighbor leaked into the result")
      // ranks are dense 1..k per query (no gaps where filtered rows were)
      rows.groupBy(_._1).foreach { case (qid, rs) =>
        assert(rs.map(_._3).sorted.toSeq === (1 to rs.size).toSeq,
          s"query $qid ranks not dense: ${rs.map(_._3).sorted.toSeq}")
      }
      // ground truth: an index that only ever held the label<5 corpus
      // (same frozen centroids) serves the same top-k unfiltered
      graft.llm.Embeddings.ivfIndexSave(
        emb.where(sc("label") < 5), "vec_id", "embedding", cents,
        "ivf_flt_truth", "/tmp/graft_ivf_idx/flt_truth", buckets = 4)
      val truth = graft.llm.Embeddings.ivfTopKIndexed(
        q, "vec_id", "embedding", "/tmp/graft_ivf_idx/flt_truth",
        s.table("ivf_flt_truth"), k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      assert(rows.toSet === truth)
      // the predicate reaches the POSTINGS parquet scan as a pushed filter
      val plan = served.queryExecution.executedPlan.toString
      assert(plan.contains("LessThan(label,5)"),
        "label predicate must push into the postings scan")
    } finally {
      Seq("ivf_flt", "ivf_flt_truth")
        .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
      scope.release()
    }
    graft.llm.CacheScope.global.release()
  }

  test("removeFromBucketed is posting-shape generic: IVF takedown serves as never-indexed") {
    val s = spark
    val emb = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val scope = new graft.llm.CacheScope
    val cents = graft.llm.Embeddings.kmeansFitSqrtK(
      emb, "vec_id", "embedding", iters = 2, scope = scope)
    graft.llm.Embeddings.ivfIndexSave(emb, "vec_id", "embedding", cents,
      "ivf_td", "/tmp/graft_ivf_idx/td", buckets = 4)
    // ground truth: the same centroids over the corpus minus the
    // takedown set (frozen-centroid contract — assignment unchanged)
    graft.llm.Embeddings.ivfIndexSave(
      emb.where(sc("vec_id") % 5 =!= 0 || sc("vec_id") < 3),
      "vec_id", "embedding", cents,
      "ivf_td_truth", "/tmp/graft_ivf_idx/td_truth", buckets = 4)
    try {
      graft.sources.ParquetIO.removeFromBucketed(s, "ivf_td", "vec_id",
        emb.where(sc("vec_id") % 5 === 0 && sc("vec_id") >= 3)
          .select(sc("vec_id")),
        "ivf_td2", "/tmp/graft_ivf_idx/td2", "__cell__", 4)
      def serve(tbl: String, dir: String) = graft.llm.Embeddings
        .ivfTopKIndexed(emb.where(sc("vec_id") < 3), "vec_id", "embedding",
          dir, s.table(tbl), k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3))).toSet
      val after = serve("ivf_td2", "/tmp/graft_ivf_idx/td")
      val truth = serve("ivf_td_truth", "/tmp/graft_ivf_idx/td_truth")
      assert(after === truth)
      assert(after.nonEmpty)
    } finally {
      Seq("ivf_td", "ivf_td_truth", "ivf_td2")
        .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
      scope.release()
    }
    graft.llm.CacheScope.global.release()
  }

  test("corpusDiff: added/removed/changed/unchanged statuses by exact content hash") {
    val s = spark
    import s.implicits._
    // ids 5-7 exercise NULL texts: status must come from join-side
    // PRESENCE, never hash nullness (md5(NULL) is NULL on both sides)
    val old = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"),
      (5L, null: String), (6L, null: String), (7L, "eta"))
      .toDF("doc_id", "text")
    val nw = Seq((2L, "beta"), (3L, "GAMMA v2"), (4L, "delta"),
      (5L, "now present"), (7L, null: String)).toDF("doc_id", "text")
    val got = graft.llm.Dedup.corpusDiff(old, nw, "doc_id", "text")
      .orderBy(sc("doc_id")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)).isDefined, Option(r.getString(3)).isDefined))
    assert(got.toSeq === Seq(
      (1L, "removed", true, false),
      (2L, "unchanged", true, true),
      (3L, "changed", true, true),
      (4L, "added", false, true),
      (5L, "changed", false, true),   // null -> text: changed, not added
      (6L, "removed", false, false),  // null-text row removed, not added
      (7L, "changed", true, false)))  // text -> null: changed
  }

  test("corpusDiff over id-bucketed snapshots plans ZERO shuffles") {
    // the 100 TB layout contract: snapshots stored bucketed+sorted on id
    // satisfy the full outer join's distribution AND ordering, so the
    // per-version diff is two co-located scans — no exchange anywhere
    val s = spark
    val docs = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(sc("doc_id"), sc("text"))
    graft.sources.ParquetIO.writeBucketed(
      docs.where(sc("doc_id") % 7 =!= 0), "snap_old",
      "/tmp/graft_snap/old", "doc_id", 4)
    graft.sources.ParquetIO.writeBucketed(
      docs.where(sc("doc_id") % 5 =!= 0), "snap_new",
      "/tmp/graft_snap/new", "doc_id", 4)
    try {
      val diff = graft.llm.Dedup.corpusDiff(
        s.table("snap_old"), s.table("snap_new"), "doc_id", "text")
      import org.apache.spark.sql.execution._
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      def flatten(p: SparkPlan): Seq[SparkPlan] =
        p +: (p.children ++ (p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case w: WholeStageCodegenExec => Seq(w.child)
          case _ => Seq.empty
        })).flatMap(flatten)
      val nShuffles = flatten(diff.queryExecution.executedPlan)
        .count(_.isInstanceOf[ShuffleExchangeExec])
      assert(nShuffles === 0,
        s"bucketed snapshot diff planned $nShuffles exchanges")
      // and the statuses are still right on the layout
      val counts = diff.groupBy(sc("status")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts.keySet === Set("added", "removed", "unchanged"))
    } finally Seq("snap_old", "snap_new")
      .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("autoBits: exact integer ceil-log2 with clamping") {
    import graft.llm.Embeddings.autoBits
    // smallest b with 2^b >= ceil(n / target), clamped to [min, max]
    assert(autoBits(0, 50) === 4) // empty corpus -> minBits
    assert(autoBits(50, 50) === 4) // q = 1 -> minBits
    assert(autoBits(500, 50) === 4) // q = 10 -> 4 (2^4 = 16 >= 10)
    assert(autoBits(800, 50) === 4) // q = 16 -> exactly 4 (power of two)
    assert(autoBits(801, 50) === 5) // q = 17 -> 5
    assert(autoBits(2000, 50) === 6) // q = 40 -> 6
    assert(autoBits(20000, 50) === 9) // 10x -> +3.3 bits, buckets stay flat
    assert(autoBits(1L << 40, 1) === 24) // clamped at maxBits
    assert(autoBits(1L << 40, 1, maxBits = 30) === 30)
  }

  test("unigram emRefit matches a plain-Scala hard-EM re-derivation") {
    val s = spark
    import s.implicits._

    // independent plain-Scala re-derivation of the whole round:
    // fitVocab seed → backpointer Viterbi (shortest-last-piece ties) →
    // freq-weighted counts → top-V prune → char floor → re-costing
    def microCost(t: Long, n: Long): Long =
      BigDecimal((StrictMath.log(t.toDouble) - StrictMath.log(n.toDouble))
        * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def scalaEm(corpus: Seq[String], v: Int, mpl: Int, mwl: Int)
        : Seq[(String, Long, Long)] = {
      val words = corpus.flatMap(
        _.toLowerCase.replaceAll("[^a-z]+", " ").trim.split("\\s+"))
        .filter(_.nonEmpty)
      val wf = words.groupBy(identity).map { case (w, g) => w -> g.size.toLong }
      val cand = scala.collection.mutable.HashMap.empty[String, Long]
      wf.foreach { case (w, f) =>
        for (i <- 0 until w.length; l <- 1 to math.min(mpl, w.length - i)) {
          val p = w.substring(i, i + l)
          cand(p) = cand.getOrElse(p, 0L) + f
        }
      }
      val seedTop = cand.toSeq.sortBy { case (p, n) => (-n, p) }.take(v)
      val seed = (seedTop ++ cand.toSeq.filter(_._1.length == 1))
        .distinctBy(_._1)
      val seedT = seed.map(_._2).sum
      val costs = seed.map { case (p, n) => p -> microCost(seedT, n) }.toMap
      // backpointer Viterbi over composites cost*64+1
      def viterbi(w: String): Option[Seq[String]] = {
        val dp = Array.fill(w.length + 1)(Long.MaxValue)
        val bp = new Array[Int](w.length + 1)
        dp(0) = 0L
        for (i <- 1 to w.length; l <- 1 to math.min(mpl, i)) {
          val j = i - l
          if (dp(j) != Long.MaxValue) costs.get(w.substring(j, i)).foreach {
            c =>
              if (dp(j) + c * 64 + 1 < dp(i)) { dp(i) = dp(j) + c * 64 + 1; bp(i) = l }
          }
        }
        if (dp(w.length) == Long.MaxValue) None
        else {
          var p = w.length
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          while (p > 0) { out += w.substring(p - bp(p), p); p -= bp(p) }
          Some(out.reverse.toSeq)
        }
      }
      val cnt = scala.collection.mutable.HashMap.empty[String, Long]
      wf.foreach { case (w, f) =>
        if (w.length <= mwl) viterbi(w).foreach(_.foreach(p =>
          cnt(p) = cnt.getOrElse(p, 0L) + f))
      }
      val top = cnt.toSeq.sortBy { case (p, n) => (-n, p) }.take(v)
      val topSet = top.map(_._1).toSet
      val floor = seed.map(_._1).filter(_.length == 1).distinct
        .filterNot(topSet)
        .map(c => (c, math.max(cnt.getOrElse(c, 0L), 1L)))
      val kept = (top ++ floor).sortBy(_._1)
      val t = kept.map(_._2).sum
      kept.map { case (p, n) => (p, n, microCost(t, n)) }
    }

    // deterministic corpus with repeated structure (forces real merges,
    // pruning at v=12, and an unused floor char via a rare word) plus a
    // randomized corpus per run seedless determinism isn't required for
    val rnd = new scala.util.Random(7)
    val fixed = Seq("abab abab banana banana banana bandana", "aq")
    val random = (0 until 40).map { _ =>
      (0 until (1 + rnd.nextInt(6))).map { _ =>
        val len = 1 + rnd.nextInt(9)
        (0 until len).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
      }.mkString(" ")
    }
    for ((corpus, v) <- Seq((fixed, 12), (random, 10), (random, 50))) {
      val got = graft.llm.Unigram.emRefit(corpus.toDF("text"), "text",
          vocabSize = v, maxPieceLen = 3, maxWordLen = 8)
        .orderBy(sc("piece")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got === scalaEm(corpus, v, 3, 8))
    }

    // ROUND CHAINING: feeding round 1's (piece, cost) back through
    // emRefitWithVocab is EM round 2 — verified against a plain-Scala
    // second round over round 1's derived model (re-using the same
    // Viterbi/prune/floor/cost derivation with the round-1 costs)
    def scalaRound(corpus: Seq[String], seed: Seq[(String, Long)], v: Int,
        mpl: Int, mwl: Int): Seq[(String, Long, Long)] = {
      val words = corpus.flatMap(
        _.toLowerCase.replaceAll("[^a-z]+", " ").trim.split("\\s+"))
        .filter(_.nonEmpty)
      val wf = words.groupBy(identity).map { case (w, g) => w -> g.size.toLong }
      val costs = seed.toMap
      def viterbi(w: String): Option[Seq[String]] = {
        val dp = Array.fill(w.length + 1)(Long.MaxValue)
        val bp = new Array[Int](w.length + 1)
        dp(0) = 0L
        for (i <- 1 to w.length; l <- 1 to math.min(mpl, i)) {
          val j = i - l
          if (dp(j) != Long.MaxValue) costs.get(w.substring(j, i)).foreach {
            c =>
              if (dp(j) + c * 64 + 1 < dp(i)) { dp(i) = dp(j) + c * 64 + 1; bp(i) = l }
          }
        }
        if (dp(w.length) == Long.MaxValue) None
        else {
          var p = w.length
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          while (p > 0) { out += w.substring(p - bp(p), p); p -= bp(p) }
          Some(out.reverse.toSeq)
        }
      }
      val cnt = scala.collection.mutable.HashMap.empty[String, Long]
      wf.foreach { case (w, f) =>
        if (w.length <= mwl) viterbi(w).foreach(_.foreach(p =>
          cnt(p) = cnt.getOrElse(p, 0L) + f))
      }
      val top = cnt.toSeq.sortBy { case (p, n) => (-n, p) }.take(v)
      val topSet = top.map(_._1).toSet
      val floor = seed.map(_._1).filter(_.length == 1).distinct
        .filterNot(topSet)
        .map(c => (c, math.max(cnt.getOrElse(c, 0L), 1L)))
      val kept = (top ++ floor).sortBy(_._1)
      val t = kept.map(_._2).sum
      kept.map { case (p, n) => (p, n, microCost(t, n)) }
    }
    val r1 = graft.llm.Unigram.emRefit(fixed.toDF("text"), "text",
        vocabSize = 12, maxPieceLen = 3, maxWordLen = 8)
      .collect().map(r => (r.getString(0), r.getLong(2))).toSeq
    val r2got = graft.llm.Unigram.emRefitWithVocab(fixed.toDF("text"), "text",
        r1, vocabSize = 12, maxPieceLen = 3, maxWordLen = 8)
      .orderBy(sc("piece")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(r2got === scalaRound(fixed, r1, 12, 3, 8))
    assert(r2got.nonEmpty)
  }

  test("boilerplate native is value-identical to the HOF anchor") {
    val s = spark
    import s.implicits._
    graft.GraftExtensions.install(s)
    val stops = Seq("the", "a", "of", "and", "is", "to", "in")
    val corpus = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("concat_ws('\\n', 'Nav | Bar', text, substring(text, 1, 40), '') AS text")
    val edges = Seq(
      "", " ", "\t", "a\tb\tthe words of the land are a test here",
      "x\n\ny\n", "héllo wörld the of and is to in extra words here",
      "  padded the a of and is line with many words  ").toDF("text")
    for (df <- Seq(corpus, edges)) {
      val mismatches = df.select(
          TextOps.boilerplateLines("text", stops).as("nat"),
          TextOps.boilerplateLinesHof("text", stops).as("hof"))
        .where(sc("nat.clean") =!= sc("hof.clean") ||
          sc("nat.n_lines") =!= sc("hof.n_lines") ||
          sc("nat.n_content") =!= sc("hof.n_content") ||
          sc("nat.boilerplate_frac") =!= sc("hof.boilerplate_frac"))
        .count()
      assert(mismatches === 0L)
    }
  }

  test("boilerplateLines: jusText-style length + stopword-density rules") {
    val s = spark
    import s.implicits._
    graft.GraftExtensions.install(s)
    val stops = Seq("the", "a", "of", "and", "is", "to", "in")
    val doc = Seq(
      "Home | About | Contact",                                    // 4 toks
      "the quick brown fox jumps over the lazy dog near the bank", // 12 toks, 3 stops = 25%
      "buy now click here visit shop today deals sale discount",   // 10 toks, 0 stops, short
      "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor incididunt ut labore", // >= 80 chars, 0 stops: long-line escape
      "",                                                          // empty line
      "Copyright 2024 All rights reserved").mkString("\n")         // 5 toks
    val r = Seq(doc).toDF("text")
      .select(TextOps.boilerplateLines("text", stops).as("b"))
      .select(sc("b.clean"), sc("b.n_lines"), sc("b.n_content"),
        sc("b.boilerplate_frac"))
      .collect()(0)
    assert(r.getLong(1) === 6L)
    assert(r.getLong(2) === 2L) // the stopwordy line + the long line
    assert(r.getString(0) ===
      "the quick brown fox jumps over the lazy dog near the bank\n" +
        "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor incididunt ut labore")
    assert(r.getDouble(3) === 0.666667)
    // empty text: one empty line, no content, frac 1.0 (documented)
    val e = Seq("").toDF("text")
      .select(TextOps.boilerplateLines("text", stops).as("b"))
      .select(sc("b.n_lines"), sc("b.n_content"), sc("b.boilerplate_frac"))
      .collect()(0)
    assert((e.getLong(0), e.getLong(1), e.getDouble(2)) === ((1L, 0L, 1.0)))
    // density boundary is INTEGER-exact: 20% of 10 tokens = 2 stops keeps,
    // 1 stop drops (100*stops >= 20*words, never a float ratio)
    val b2 = Seq("the a x x x x x x x x", "the x x x x x x x x x")
      .toDF("text")
      .select(TextOps.boilerplateLines("text", stops, minWords = 6,
        minStopPct = 20, longLineChars = 200).as("b"))
      .select(sc("b.n_content")).collect().map(_.getLong(0))
    assert(b2.toSeq === Seq(1L, 0L))
  }

  test("knBigramScore matches a plain-Scala Kneser–Ney re-derivation") {
    val s = spark
    import s.implicits._
    def words(text: String): Seq[String] =
      java.text.Normalizer.normalize(text, java.text.Normalizer.Form.NFC)
        .toLowerCase.replaceAll("[^\\p{L}]+", " ").trim
        .split("\\s+").toSeq.filter(_.nonEmpty)
    def scalaKn(corpus: Seq[(Long, String)], trainPred: Long => Boolean)
        : Seq[(Long, Long, Double)] = {
      def bigrams(t: String): Seq[(String, String)] = {
        val w = words(t)
        if (w.length < 2) Seq.empty else w.zip(w.tail)
      }
      val tb = corpus.filter(d => trainPred(d._1)).flatMap(d => bigrams(d._2))
        .groupBy(identity).map { case (bg, g) => bg -> g.size.toLong }
      val c1 = tb.groupBy(_._1._1).map { case (w1, g) => w1 -> g.values.sum }
      val n1fw = tb.groupBy(_._1._1).map { case (w1, g) => w1 -> g.size.toLong }
      val n1bw = tb.groupBy(_._1._2).map { case (w2, g) => w2 -> g.size.toLong }
      val n12 = tb.size.toLong
      def term(bg: (String, String)): Long = {
        val contNum = n1bw.get(bg._2).map(_.toDouble).getOrElse(0.0)
        val p = (tb.get(bg), c1.get(bg._1)) match {
          case (Some(c12), Some(c)) =>
            ((c12.toDouble - 0.75) / c.toDouble) +
              ((0.75 * n1fw(bg._1).toDouble) / c.toDouble) *
                (contNum / n12.toDouble)
          case (None, Some(c)) =>
            ((0.75 * n1fw(bg._1).toDouble) / c.toDouble) *
              (contNum / n12.toDouble)
          case _ => contNum / n12.toDouble
        }
        if (p <= 0) 30000000L
        else BigDecimal(-(StrictMath.log(p) / StrictMath.log(2.0)) * 1e6)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }
      corpus.map { case (id, t) =>
        val bgs = bigrams(t)
        if (bgs.isEmpty) (id, 0L, 0.0)
        else {
          val sum = bgs.map(term).sum
          (id, bgs.size.toLong,
            BigDecimal(sum.toDouble / bgs.size.toDouble / 1e6)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
      }.sortBy(_._1)
    }
    // adversarial fixture: repeats (KN discount visible), unseen w2 (OOV
    // penalty), unseen w1 (continuation backoff), short docs (re-emit)
    val fixture = Seq(
      (0L, "the cat sat on the mat the cat ran"),
      (1L, "a cat sat"), (2L, "the dog sat on a log"),
      (3L, "zq zq unseenword the"), (4L, "one"), (5L, ""),
      (6L, "numbers 123 split words here"))
    val corpus = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(sc("doc_id"), sc("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    for ((data, pred) <- Seq(
        (fixture, (id: Long) => id <= 2L),
        (corpus, (id: Long) => id % 4 == 0L))) {
      val df = data.toDF("doc_id", "text")
      val got = graft.llm.LangModel.knNgramScore(
          df, df.where(sc("doc_id").isin(data.map(_._1).filter(pred): _*)),
          "doc_id", "text", order = 2)
        .orderBy(sc("doc_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(got === scalaKn(data, pred))
    }
  }

  test("knTrigramScore matches a plain-Scala recursive-KN re-derivation") {
    val s = spark
    import s.implicits._
    def words(text: String): Seq[String] =
      java.text.Normalizer.normalize(text, java.text.Normalizer.Form.NFC)
        .toLowerCase.replaceAll("[^\\p{L}]+", " ").trim
        .split("\\s+").toSeq.filter(_.nonEmpty)
    def scalaKn3(corpus: Seq[(Long, String)], trainPred: Long => Boolean)
        : Seq[(Long, Long, Double)] = {
      def trigrams(t: String): Seq[(String, String, String)] = {
        val w = words(t)
        if (w.length < 3) Seq.empty
        else w.sliding(3).map(g => (g(0), g(1), g(2))).toSeq
      }
      val tb3 = corpus.filter(d => trainPred(d._1)).flatMap(d => trigrams(d._2))
        .groupBy(identity).map { case (tg, g) => tg -> g.size.toLong }
      val ctx = tb3.groupBy(t => (t._1._1, t._1._2))
        .map { case (k, g) => k -> (g.values.sum, g.size.toLong) }
      val mid = tb3.groupBy(t => (t._1._2, t._1._3))
        .map { case (k, g) => k -> g.size.toLong } // N1+(. w2 w3)
      val midctx = mid.groupBy(_._1._1)
        .map { case (w2, g) => w2 -> (g.values.sum, g.size.toLong) }
      val uni3 = mid.groupBy(_._1._2).map { case (w3, g) => w3 -> g.size.toLong }
      val nuni = mid.size.toLong
      def term(tg: (String, String, String)): Long = {
        val pu = uni3.get(tg._3).map(_.toDouble).getOrElse(0.0) / nuni.toDouble
        val pb = (mid.get((tg._2, tg._3)), midctx.get(tg._2)) match {
          case (Some(nb), Some((nc2, nf))) =>
            ((nb.toDouble - 0.75) / nc2.toDouble) +
              ((0.75 * nf.toDouble) / nc2.toDouble) * pu
          case (None, Some((nc2, nf))) =>
            ((0.75 * nf.toDouble) / nc2.toDouble) * pu
          case _ => pu
        }
        val p = (tb3.get(tg), ctx.get((tg._1, tg._2))) match {
          case (Some(c123), Some((c12, nf12))) =>
            ((c123.toDouble - 0.75) / c12.toDouble) +
              ((0.75 * nf12.toDouble) / c12.toDouble) * pb
          case (None, Some((c12, nf12))) =>
            ((0.75 * nf12.toDouble) / c12.toDouble) * pb
          case _ => pb
        }
        if (p <= 0) 30000000L
        else BigDecimal(-(StrictMath.log(p) / StrictMath.log(2.0)) * 1e6)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }
      corpus.map { case (id, t) =>
        val tgs = trigrams(t)
        if (tgs.isEmpty) (id, 0L, 0.0)
        else {
          val sum = tgs.map(term).sum
          (id, tgs.size.toLong,
            BigDecimal(sum.toDouble / tgs.size.toDouble / 1e6)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
      }.sortBy(_._1)
    }
    // adversarial fixture: repeated trigrams (discount visible), unseen
    // w3 (OOV), SEEN words in an unseen context (trigram->middle
    // backoff), unseen middle word (middle->unigram backoff), edge-only
    // bigrams (no enclosing trigram), 2-word and empty docs (re-emit)
    val fixture = Seq(
      (0L, "the cat sat on the mat the cat sat on a log"),
      (1L, "a cat sat on the mat"), (2L, "the dog ran over the mat"),
      (3L, "mat the cat unseenword on the"), (4L, "cat zq sat"),
      (5L, "one two"), (6L, ""), (7L, "sat on"))
    val corpus = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(sc("doc_id"), sc("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    for ((data, pred) <- Seq(
        (fixture, (id: Long) => id <= 2L),
        (corpus, (id: Long) => id % 4 == 0L))) {
      val df = data.toDF("doc_id", "text")
      val got = graft.llm.LangModel.knNgramScore(
          df, df.where(sc("doc_id").isin(data.map(_._1).filter(pred): _*)),
          "doc_id", "text", order = 3)
        .orderBy(sc("doc_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(got === scalaKn3(data, pred))
    }
  }

  test("pruneVocab: char floor survives, keep budget honored, ranking nested") {
    val s = spark
    val docs = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val r1 = graft.llm.Unigram.emRefit(docs, "text", vocabSize = 120)
      .collect().map(r => (r.getString(0), r.getLong(2))).toSeq
    def pruned(keep: Int): Seq[(String, Long, Long)] =
      graft.llm.Unigram.pruneVocab(docs, "text", r1, keepPieces = keep)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val p10 = pruned(10)
    val pieces10 = p10.map(_._1).toSet
    // the segmentability floor: every seed single char survives pruning
    val seedChars = r1.map(_._1).filter(_.length == 1).toSet
    assert(seedChars.subsetOf(pieces10))
    // the keep budget bounds the multi-char inventory
    assert(pieces10.count(_.length >= 2) <= 10)
    assert(pieces10.exists(_.length >= 2), "nothing kept — fixture degenerate")
    // ranking is nested: a larger budget keeps a superset of multi pieces
    val p20multi = pruned(20).map(_._1).filter(_.length >= 2).toSet
    assert(pieces10.filter(_.length >= 2).subsetOf(p20multi))
    // output is chainable (fitVocab schema): another EM round accepts it
    val chained = graft.llm.Unigram.emRefitWithVocab(
      docs, "text", p10.map(t => (t._1, t._3)), vocabSize = 120)
    assert(chained.count() > 0)
  }

  test("byte-level BPE is total: any script segments losslessly, no [UNK] ever") {
    val s = spark
    import s.implicits._
    val train = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val rules = graft.llm.TextOps.bpeTrainBytes(train, "text", merges = 12)
      .orderBy(sc("merge_ix")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(rules.size === 12)
    // every learned symbol is hex pairs — byte concatenations, never a
    // char the base alphabet lacks
    rules.foreach { case (_, pair, _) =>
      pair.split(' ').foreach(sym => // hex-pair runs, optionally merged
        assert(sym.matches("(?:[0-9a-f]{2})*_?") && sym.nonEmpty, // with _
          s"non-byte symbol $sym"))
    }
    // adversarial encode corpus the CHAR-level trainers would need [UNK]
    // for: emoji, CJK, combining accents, punctuation, digits, mixed
    val weird = Seq("héllo wörld", "日本語のテキスト", "🚀🚀 emoji!! a\tb\nc",
      "....", "mixed漢字and-latin 12345", "́combining")
    graft.GraftExtensions.install(s)
    val wf = graft.llm.TextOps.byteWordFrame(
      weird.toDF("text"), "text", graft.llm.CacheScope.global)
    var enc = wf
    rules.foreach { case (_, pair, _) =>
      val Array(a, b) = pair.split(' ')
      enc = enc.withColumn("__e__",
        org.apache.spark.sql.functions.expr(
          s"replace(__e__, ';$a;;$b;', ';$a$b;')"))
    }
    val out = enc.select(sc("__w__"), sc("__e__")).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val w = r.getString(0)
      val e = r.getString(1)
      val syms = e.stripPrefix(";").stripSuffix(";").split(";;").toSeq
      // (a) total segmentation: every symbol is base bytes (or the
      // end-of-word marker) — no [UNK] exists to fall back to
      syms.foreach(sym =>
        assert(sym.matches("(?:[0-9a-f]{2})*_?") && sym.nonEmpty,
          s"$w segmented to $sym"))
      // (b) lossless: concatenated symbols re-decode to the word's bytes
      val hexCat = syms.mkString.filterNot(_ == '_')
      val expectHex = w.getBytes("UTF-8").map("%02x".format(_)).mkString
      assert(hexCat === expectHex, s"round-trip broke for $w")
    }
    graft.llm.CacheScope.global.release()
  }

  test("persisted byte-BPE rules serve with no retraining: self-corpus parity and OOV words segment") {
    val s = spark
    import s.implicits._
    val docs = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
    graft.llm.TextOps.bpeFitBytesSave(docs, "text", merges = 4,
      "/tmp/graft_bpe_rules_spec")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    // serving the training corpus from the artifact reproduces the
    // inline trainer's counts exactly (rules replay = training's own
    // per-iteration replace-all)
    assert(
      rows(graft.llm.TextOps.bpeSubwordCountsWithRules(
        docs, "doc_id", "text", "/tmp/graft_bpe_rules_spec")) ===
      rows(graft.llm.TextOps.bpeSubwordCountsBytes(
        docs, "doc_id", "text", merges = 4)))
    // OOV coverage: a corpus of words the trainer NEVER saw still
    // tokenizes (byte seeding is total — no join loss, no [UNK])
    val oov = Seq((1L, "zzzqqq 日本語"), (2L, "🚀🚀")).toDF("doc_id", "text")
    val served = rows(graft.llm.TextOps.bpeSubwordCountsWithRules(
      oov, "doc_id", "text", "/tmp/graft_bpe_rules_spec"))
    assert(served.map(_._1) === Seq(1L, 2L))
    assert(served.forall(_._2 > 0))
    graft.llm.CacheScope.global.release()
  }

  test("GPT-2 pre-tokenizer: matches PARTITION the input (lossless), contractions and space-prefixed runs split as documented") {
    val s = spark
    import s.implicits._
    val pat = graft.llm.TextOps.Gpt2PretokPattern
    def toks(t: String): Seq[String] = {
      val m = java.util.regex.Pattern.compile(pat).matcher(t)
      val out = Seq.newBuilder[String]
      while (m.find()) out += m.group()
      out.result()
    }
    // the alternatives cover every character class → matches partition
    // the string: concat(tokens) == input, for adversarial inputs too
    val inputs = Seq("don't stop, won't  stop!", "I'll pay $12.50 now",
      "日本語 text🚀", "  leading and trailing  ", "a\t\tb\nc", "",
      "a   b", "x \tword", "mix\t \nx y", "tail\n")
    inputs.foreach(t => assert(toks(t).mkString === t, s"lossy on <$t>"))
    // hand-derived tiktoken splits (the EXACT GPT-2 pattern, lookahead
    // included): contraction peels, punctuation separates, numbers
    // separate, tokens keep ONE leading space — and a multi-space run
    // before a visible token donates its LAST space to that token
    assert(toks("don't stop, won't  stop!") ===
      Seq("don", "'t", " stop", ",", " won", "'t", " ", " stop", "!"))
    assert(toks("I'll pay $12.50 now") ===
      Seq("I", "'ll", " pay", " $", "12", ".", "50", " now"))
    // interior whitespace runs: n−1 chars split off, last space attaches;
    // a non-space last char (tab) stands alone (` ?` only matches 0x20)
    assert(toks("a   b") === Seq("a", "  ", " b"))
    assert(toks("a  b") === Seq("a", " ", " b"))
    assert(toks("x \tword") === Seq("x", " ", "\t", "word"))
    assert(toks("a\t\tb") === Seq("a", "\t", "\t", "b"))
    // trailing whitespace run stays whole (`\s+(?!\S)` at end of input)
    assert(toks("tail  \n") === Seq("tail", "  \n"))
    assert(toks("  leading") === Seq(" ", " leading"))
    // the Spark lowering splits identically to the JVM regex (same
    // pattern through regexp_extract_all)
    val sparkToks = Seq("don't stop, won't  stop!").toDF("text")
      .select(org.apache.spark.sql.functions.regexp_extract_all(
        sc("text"), org.apache.spark.sql.functions.lit(pat),
        org.apache.spark.sql.functions.lit(0)))
      .collect().head.getSeq[String](0)
    assert(sparkToks === toks("don't stop, won't  stop!"))
    // GPT-2 trainer over the pre-tokenized stream: still byte-total
    val train = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val rules = graft.llm.TextOps.bpeTrainBytesGpt2(train, "text", merges = 6)
      .orderBy(sc("merge_ix")).collect()
    assert(rules.length === 6)
    rules.foreach(r => r.getString(1).split(' ').foreach(sym =>
      assert(sym.matches("(?:[0-9a-f]{2})*_?") && sym.nonEmpty)))
    graft.llm.CacheScope.global.release()
  }

  test("sbNgramScore matches a plain-Scala Stupid Backoff re-derivation (order 2)") {
    val s = spark
    import s.implicits._
    def words(text: String): Seq[String] =
      java.text.Normalizer.normalize(text, java.text.Normalizer.Form.NFC)
        .toLowerCase.replaceAll("[^\\p{L}]+", " ").trim
        .split("\\s+").toSeq.filter(_.nonEmpty)
    def scalaSb(corpus: Seq[(Long, String)], trainPred: Long => Boolean)
        : Seq[(Long, Long, Double)] = {
      def bigrams(t: String): Seq[(String, String)] = {
        val w = words(t)
        if (w.length < 2) Seq.empty else w.zip(w.tail)
      }
      val tb = corpus.filter(d => trainPred(d._1)).flatMap(d => bigrams(d._2))
        .groupBy(identity).map { case (bg, g) => bg -> g.size.toLong }
      // suffix-sum unigram counts (the one-pass sliding-window def)
      val c1 = tb.groupBy(_._1._2).map { case (w2, g) => w2 -> g.values.sum }
      val ctx2 = tb.groupBy(_._1._1).map { case (w1, g) => w1 -> g.values.sum }
      val tot1 = tb.values.sum
      def term(bg: (String, String)): Long = {
        val p = tb.get(bg) match {
          case Some(c) => c.toDouble / ctx2(bg._1).toDouble
          case None =>
            0.4 * (c1.get(bg._2).map(_.toDouble).getOrElse(0.0) /
              tot1.toDouble)
        }
        if (p <= 0) 30000000L
        else BigDecimal(-(StrictMath.log(p) / StrictMath.log(2.0)) * 1e6)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }
      corpus.map { case (id, t) =>
        val bgs = bigrams(t)
        if (bgs.isEmpty) (id, 0L, 0.0)
        else {
          val sum = bgs.map(term).sum
          (id, bgs.size.toLong,
            BigDecimal(sum.toDouble / bgs.size.toDouble / 1e6)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
      }.sortBy(_._1)
    }
    val fixture = Seq(
      (0L, "the cat sat on the mat the cat ran"),
      (1L, "a cat sat"), (2L, "the dog sat on a log"),
      (3L, "zq zq unseenword the"), (4L, "one"), (5L, ""),
      (6L, "numbers 123 split words here"))
    val corpus = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(sc("doc_id"), sc("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val trainCols: Seq[org.apache.spark.sql.Column] =
      Seq(sc("doc_id") <= 2, sc("doc_id") % 4 === 0)
    for (((data, pred), trainCol) <- Seq(
        (fixture, (id: Long) => id <= 2L),
        (corpus, (id: Long) => id % 4 == 0L)).zip(trainCols)) {
      val df = data.toDF("doc_id", "text")
      val got = graft.llm.LangModel.sbNgramScore(
          df, df.where(trainCol), "doc_id", "text", order = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
      val want = scalaSb(data, pred)
      assert(got === want)
      graft.llm.CacheScope.global.release()
    }
  }

  test("knNgramScore generalizes the dedicated ops: order 2 = bigram, order 3 = trigram, order 5 sane") {
    val s = spark
    val docs = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val train = docs.where(sc("doc_id") % 4 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy(sc("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // orders 2 and 3 are pinned against plain-Scala bigram and trigram
    // KN re-derivations in their own tests; order 5 (the KenLM default): scores exist, are finite, and training
    // docs compress better than the OOV ceiling
    val kn5 = rows(graft.llm.LangModel.knNgramScore(
      docs, train, "doc_id", "text", order = 5))
    assert(kn5.size === docs.count())
    assert(kn5.exists(_._2 > 0))
    kn5.filter(_._2 > 0).foreach { case (id, _, bits) =>
      assert(bits > 0.0 && bits <= 30.0, s"doc $id bits=$bits out of range")
    }
    // train-once / score-many: the persisted model scores IDENTICALLY —
    // no retraining pass over the trusted slice
    graft.llm.LangModel.knNgramFit(train, "text", "/tmp/graft_kn5_model",
      order = 5)
    assert(rows(graft.llm.LangModel.knNgramScoreWithModel(
      docs, "doc_id", "text", "/tmp/graft_kn5_model", order = 5)) === kn5)
    // KenLM-style count pruning: zero thresholds are the IDENTITY, and a
    // singleton-pruned model still scores every doc (pruned grams route
    // through backoff like unseen ones — scores finite, same doc set)
    assert(rows(graft.llm.LangModel.knNgramScore(
      docs, train, "doc_id", "text", order = 5,
      prune = Seq(0L, 0L, 0L, 0L, 0L))) === kn5)
    val knPruned = rows(graft.llm.LangModel.knNgramScore(
      docs, train, "doc_id", "text", order = 5,
      prune = Seq(0L, 1L, 1L, 1L, 1L)))
    assert(knPruned.map(r => (r._1, r._2)) === kn5.map(r => (r._1, r._2)))
    knPruned.filter(_._2 > 0).foreach { case (id, _, bits) =>
      assert(bits > 0.0 && bits <= 30.0, s"pruned doc $id bits=$bits")
    }
    graft.llm.CacheScope.global.release()
  }

  test("distinct-gram scoring gate: always ≡ never bit-for-bit (KN and SB); fit persists ctx tables") {
    val s = spark
    val docs = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val train = docs.where(sc("doc_id") % 4 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy(sc("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // the default broadcast threshold holds the sf0.001 model, so the
    // chain runs per occurrence; threshold -1 turns broadcasts off and
    // the gate scores each distinct gram once, re-attaching per-doc
    // occurrence counts (`__occ__`). The analyzed plan shows which ran.
    def gated(threshold: Option[String],
        lm: => org.apache.spark.sql.DataFrame) = {
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val prev = s.conf.get(key)
      threshold.foreach(s.conf.set(key, _))
      try {
        val df = lm
        assert(df.queryExecution.analyzed.toString.contains("__occ__") ===
          threshold.isDefined)
        rows(df)
      } finally {
        s.conf.set(key, prev)
        graft.llm.CacheScope.global.release()
      }
    }
    // the 100 TB rewrite (score each distinct gram once, re-attach
    // per-doc occurrence counts) must be BIT-identical to the
    // occurrence-chain: integer micro-bits make Σ_occ mb ≡ Σ_dist occ·mb
    def kn4 = graft.llm.LangModel.knNgramScore(
      docs, train, "doc_id", "text", order = 4)
    def sb4 = graft.llm.LangModel.sbNgramScore(
      docs, train, "doc_id", "text", order = 4)
    val knNever = gated(None, kn4)
    assert(gated(Some("-1"), kn4) === knNever)
    assert(gated(Some("-1"), sb4) === gated(None, sb4))
    // the fit writes the per-level context aggregates next to the level
    // tables (pure-scan serving); scoring through the artifact stays
    // value-identical (the order-5 parity test covers values — here we
    // pin that the ctx dirs actually exist so serves don't silently
    // fall back to re-aggregation)
    graft.llm.LangModel.knNgramFit(train, "text", "/tmp/graft_kn4_ctx",
      order = 4)
    for (k <- 2 to 4)
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"/tmp/graft_kn4_ctx/ctx$k")),
        s"fit did not persist ctx$k")
    assert(rows(graft.llm.LangModel.knNgramScoreWithModel(
      docs, "doc_id", "text", "/tmp/graft_kn4_ctx", order = 4)) === knNever)
    graft.llm.CacheScope.global.release()
  }

  test("a warm persisted KN serve builds with no Spark job") {
    val s = spark
    val docs = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = "/tmp/graft_kn5_warm"
    graft.llm.LangModel.knNgramFit(docs.where(sc("doc_id") % 4 === 0),
      "text", dir, order = 5)
    def serve() = graft.llm.LangModel.knNgramScoreWithModel(
      docs, "doc_id", "text", dir, order = 5)
    val cold = serve() // resolves the level, ctx and tot1 schemas
    val (warm, jobs) = withJobs(serve())
    assert(jobs === 0, "a warm serve re-read a model table's schema")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSet
    assert(rows(warm) === rows(cold))
    graft.llm.CacheScope.global.release()
  }

  test("knNgramFitDelta merges a shard bit-identically to a full refit; profile serves from the stored artifact") {
    val s = spark
    val docs = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val base = docs.where(sc("doc_id") % 8 === 0)
    val delta = docs.where(sc("doc_id") % 8 === 4)
    val full = docs.where(sc("doc_id") % 4 === 0) // = base ∪ delta
    graft.llm.LangModel.knNgramFit(base, "text", "/tmp/graft_kn5_base",
      order = 5)
    graft.llm.LangModel.knNgramFitDelta(delta, "text",
      "/tmp/graft_kn5_base", "/tmp/graft_kn5_dmerged", order = 5)
    graft.llm.LangModel.knNgramFit(full, "text", "/tmp/graft_kn5_full",
      order = 5)
    // every level table identical: raw level-5 counts are additive across
    // a document-disjoint union, lower adjusted levels re-derive
    for (k <- 1 to 5) {
      val got = s.read.parquet(s"/tmp/graft_kn5_dmerged/level$k")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val want = s.read.parquet(s"/tmp/graft_kn5_full/level$k")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got === want, s"level $k diverges after delta merge")
    }
    assert(s.read.parquet("/tmp/graft_kn5_dmerged/tot1").head.getLong(0) ===
      s.read.parquet("/tmp/graft_kn5_full/tot1").head.getLong(0))
    // scoring through the delta-merged model ≡ the inline full trainer
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy(sc("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows(graft.llm.LangModel.knNgramScoreWithModel(
        docs, "doc_id", "text", "/tmp/graft_kn5_dmerged", order = 5)) ===
      rows(graft.llm.LangModel.knNgramScore(
        docs, full, "doc_id", "text", order = 5)))
    // the stored-artifact profile ≡ the corpus-deriving profile
    def prows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy(sc("level")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(prows(graft.llm.LangModel.knModelProfileFromDir(
        s, "/tmp/graft_kn5_full", order = 5)) ===
      prows(graft.llm.LangModel.knModelProfile(full, "text", order = 5)))
    // CHAINED deltas (the versioned-update loop): applying a second
    // shard to the delta-merged model still equals the full refit
    val delta2 = docs.where(sc("doc_id") % 8 === 2)
    graft.llm.LangModel.knNgramFitDelta(delta2, "text",
      "/tmp/graft_kn5_dmerged", "/tmp/graft_kn5_dmerged2", order = 5)
    graft.llm.LangModel.knNgramFit(
      docs.where(sc("doc_id") % 8 === 0 || sc("doc_id") % 8 === 4 ||
        sc("doc_id") % 8 === 2),
      "text", "/tmp/graft_kn5_full3", order = 5)
    for (k <- 1 to 5) {
      val got = s.read.parquet(s"/tmp/graft_kn5_dmerged2/level$k")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val want = s.read.parquet(s"/tmp/graft_kn5_full3/level$k")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got === want, s"level $k diverges after the second delta")
    }
    graft.llm.CacheScope.global.release()
  }

  test("knNgramFitDelta refuses pruned and unmarked source models") {
    val s = spark
    val docs = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val base = docs.where(sc("doc_id") % 16 === 0)
    val delta = docs.where(sc("doc_id") % 16 === 8)
    // pruned artifact: the additive level-N merge would silently corrupt
    // it (the singleton tail is gone), so the marker must fail it loudly
    graft.llm.LangModel.knNgramFit(base, "text", "/tmp/graft_kn5_pruned_src",
      order = 5, prune = Seq(0L, 1L, 1L, 1L, 1L))
    val exPruned = intercept[IllegalArgumentException] {
      graft.llm.LangModel.knNgramFitDelta(delta, "text",
        "/tmp/graft_kn5_pruned_src", "/tmp/graft_kn5_pruned_dst", order = 5)
    }
    assert(exPruned.getMessage.contains("UNPRUNED"))
    // marker-less dir (pre-marker artifact / not a model): also refused
    val bare = java.nio.file.Files.createTempDirectory("graft_kn_bare")
    val exBare = intercept[IllegalArgumentException] {
      graft.llm.LangModel.knNgramFitDelta(delta, "text",
        bare.toString, "/tmp/graft_kn5_bare_dst", order = 5)
    }
    assert(exBare.getMessage.contains("_prune_spec"))
    graft.llm.CacheScope.global.release()
  }

  test("wordpieceTrainIncremental is rule-for-rule identical to the naive trainer") {
    val s = spark
    import s.implicits._
    // the BPE deep-merge corpus: 120 distinct 12-letter words over a
    // 6-letter alphabet at Zipf-ish frequencies; 60 merges cross a
    // checkpoint boundary AND exercise hundreds of delta updates of BOTH
    // driver maps (pair counts and the score denominators' symbol counts)
    val rnd = new scala.util.Random(42)
    val alpha = "abcdef"
    val words = (0 until 120).map { i =>
      val w = (0 until 12).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      Array.fill(1 + 600 / (i + 5))(w).mkString(" ")
    }
    val df = words.toDF("text")
    def rules(out: org.apache.spark.sql.DataFrame) = out
      .orderBy(sc("merge_ix")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    // scores are compared in exact integer micro-bits: StrictMath.log +
    // HALF_UP rounding on the driver must reproduce Spark's ln/round
    val naive = rules(graft.llm.Wordpiece.wordpieceTrain(df, "text", merges = 60))
    val incr = rules(graft.llm.Wordpiece.wordpieceTrainIncremental(df, "text", merges = 60))
    assert(incr === naive)
    // exhaustion parity: both stop at the same early rule count
    val t1 = rules(graft.llm.Wordpiece.wordpieceTrain(Seq("ab ab").toDF("text"), "text", 50))
    val t2 = rules(graft.llm.Wordpiece.wordpieceTrainIncremental(Seq("ab ab").toDF("text"), "text", 50))
    assert(t2 === t1)
  }

  test("wordpieceTrainIncremental: bounded lineage and cost at merges=200") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    val alpha = "abcdef"
    val words = (0 until 120).map { i =>
      val w = (0 until 12).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      Array.fill(1 + 600 / (i + 5))(w).mkString(" ")
    }
    val df = words.toDF("text")
    // merges=200 crosses six localCheckpoint boundaries; the wall bound is
    // a plan-blowup/cost-shape tripwire (one delta job per merge — the
    // naive trainer's two-full-aggregates-plus-join per merge would not
    // fit), generous enough for a churning host.
    val t0 = System.nanoTime()
    val deep = graft.llm.Wordpiece.wordpieceTrainIncremental(df, "text", merges = 200)
      .orderBy(sc("merge_ix")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val secs = (System.nanoTime() - t0) / 1e9
    assert(deep.length === 200)
    assert(secs < 240.0,
      f"wordpieceTrainIncremental(200) took $secs%.0f s — lineage blowup?")
    // greedy training is prefix-deterministic: merges=50 must equal the
    // first 50 rules of the merges=200 run (checkpointing changes no
    // values, only the plan)
    val fifty = graft.llm.Wordpiece.wordpieceTrainIncremental(df, "text", merges = 50)
      .orderBy(sc("merge_ix")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(fifty.toSeq === deep.toSeq.take(50))
  }

  test("dedupLines keeps first occurrences in order, including empty lines") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "nav bar\nreal content\nnav bar\nmore content\nreal content"),
      (2L, "a\n\nb\n\na"), // duplicate EMPTY lines collapse too
      (3L, "no repeats here"),
      (4L, "")).toDF("doc_id", "text")
    val out = docs.select(sc("doc_id"),
        TextOps.dedupLines(sc("text")).as("dd"))
      .orderBy(sc("doc_id")).collect().map(_.getString(1))
    assert(out(0) === "nav bar\nreal content\nmore content")
    assert(out(1) === "a\n\nb")
    assert(out(2) === "no repeats here")
    assert(out(3) === "")
    // custom delimiter (regex metachar: must be quoted internally)
    val custom = docs.where(sc("doc_id") === 1L)
      .select(TextOps.dedupLines(
        org.apache.spark.sql.functions.translate(sc("text"), "\n", "|"), "|"))
      .collect().head.getString(0)
    assert(custom === "nav bar|real content|more content")
  }

  test("temperatureMix: alpha=1 keeps natural proportions, alpha<1 boosts rare groups") {
    val s = spark
    import s.implicits._
    val docs = ((1 to 300).map(i => (s"k$i", "big")) ++
      (1 to 30).map(i => (s"r$i", "rare"))).toDF("key", "grp")
    // alpha = 1 → every group's rate is exactly keepFrac (w_g ∝ n_g
    // cancels): the mix degenerates to a plain hash sample
    val flat = TextOps.temperatureMix(docs, "grp", "key", alpha = 1.0, keepFrac = 0.5)
    val flatRates = flat.select(sc("grp"), sc("rate")).distinct().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(flatRates.values.forall(_ === 0.5), flatRates)
    // alpha = 0.5 → the rare group's rate strictly exceeds the big one's
    val mixed = TextOps.temperatureMix(docs, "grp", "key", alpha = 0.5, keepFrac = 0.5)
    val rates = mixed.select(sc("grp"), sc("rate")).distinct().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rates("rare") > rates("big"), rates)
    // rates cap at 1 (a filter cannot over-sample)
    assert(rates.values.forall(r => r > 0 && r <= 1.0), rates)
    // kept membership is deterministic and NESTED in the hash space: the
    // alpha=1/kf=0.5 kept set contains the alpha=1/kf=0.25 one
    val k50 = flat.select(sc("key")).collect().map(_.getString(0)).toSet
    val k25 = TextOps.temperatureMix(docs, "grp", "key", alpha = 1.0, keepFrac = 0.25)
      .select(sc("key")).collect().map(_.getString(0)).toSet
    assert(k25.subsetOf(k50), s"${k25.size} vs ${k50.size}")
  }

  test("hashSample is deterministic and roughly proportional") {
    val s = spark
    import s.implicits._
    val df = spark.range(2000).toDF("id")
      .withColumn("key", sc("id").cast("string"))
    val n1 = df.where(TextOps.hashSample(sc("key"), 25.0)).count()
    val n2 = df.where(TextOps.hashSample(sc("key"), 25.0)).count()
    assert(n1 === n2) // repeatable
    assert(n1 > 2000 * 0.15 && n1 < 2000 * 0.35) // ~25%
  }

  test("word shingles guard short documents") {
    val s = spark
    import s.implicits._
    val d = Seq("one two").toDF("text")
      .withColumn("__toks__", TextOps.tokens(sc("text")))
    val out = d.select(TextOps.wordShingles("__toks__", 3)).collect()
    assert(out.head.getSeq[String](0).isEmpty)
  }

  test("hllDistinct: bounded relative error, duplicate-invariant, linear-count small sets") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.{functions => F}
    val big = spark.range(5000)
      .select(F.concat(F.lit("v"), F.col("id")).as("v"), F.lit("g").as("g"))
    def est(df: org.apache.spark.sql.DataFrame): Double =
      graft.llm.Sketch.hllDistinct(df, Seq("g"), F.col("v"))
        .collect().head.getAs[Double]("hll_estimate")
    val e1 = est(big)
    // m=256 → RSE ≈ 1.04/√256 = 6.5%; 3σ bound
    assert(math.abs(e1 - 5000.0) / 5000.0 < 0.20, s"estimate $e1 too far from 5000")
    // duplicates never move a register: 3× the same values, same estimate
    assert(est(big.union(big).union(big)) === e1)
    // tiny set rides the linear-counting branch: near-exact
    val small = spark.range(10)
      .select(F.concat(F.lit("w"), F.col("id")).as("v"), F.lit("g").as("g"))
    val e2 = est(small)
    assert(math.abs(e2 - 10.0) < 1.0, s"small-set estimate $e2 not ~10")
  }

  test("cms: one-sided error, exact under no-collision, merge = counter sum") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.{functions => F}
    val vals = spark.range(2000)
      .select(F.concat(F.lit("k"), F.pmod(F.col("id"), F.lit(100L))).as("v"))
    val probes = (0 until 100 by 7).map(i => s"k$i").toDF("v")
    val est = graft.llm.Sketch
      .cmsEstimate(graft.llm.Sketch.cmsCounters(vals, F.col("v")), probes, "v")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // every key appears exactly 20×; CMS never undercounts
    assert(est.values.forall(_ >= 20L), s"undercount in $est")
    // w=512 ≫ 100 distinct keys → overcounts are collision-bounded small
    assert(est.values.forall(_ <= 60L), s"implausible overcount in $est")
    // absent key: min over its buckets, still one-sided (>= 0)
    val miss = graft.llm.Sketch
      .cmsEstimate(graft.llm.Sketch.cmsCounters(vals, F.col("v")),
        Seq("nope").toDF("v"), "v")
      .collect().head.getLong(1)
    assert(miss >= 0L && miss <= 40L)
    // mergeability: counters(A ∪ B) == counters(A) + counters(B) per cell
    val a = vals.where(F.col("v") < "k5")
    val b = vals.where(F.col("v") >= "k5")
    def cmap(df: org.apache.spark.sql.DataFrame): Map[(Int, Long), Long] =
      graft.llm.Sketch.cmsCounters(df, F.col("v")).collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val merged = (cmap(a).toSeq ++ cmap(b).toSeq)
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sum }
    assert(merged === cmap(vals))
  }

  test("hllOverlap: union sketch = sketch of union; inclusion-exclusion sane") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.{functions => F}
    // A = 0..2999, B = 2000..4999 → exact |A∩B| = 1000, |A∪B| = 5000
    val a = spark.range(0, 3000).select(F.concat(F.lit("x"), F.col("id")).as("v"))
    val b = spark.range(2000, 5000).select(F.concat(F.lit("x"), F.col("id")).as("v"))
    val row = graft.llm.Sketch.hllOverlap(a, b, F.col("v")).collect().head
    val (ea, eb, eu, ei) = (row.getAs[Double]("est_a"), row.getAs[Double]("est_b"),
      row.getAs[Double]("est_union"), row.getAs[Double]("est_intersect"))
    assert(math.abs(ea - 3000) / 3000.0 < 0.20, s"est_a $ea")
    assert(math.abs(eb - 3000) / 3000.0 < 0.20, s"est_b $eb")
    assert(math.abs(eu - 5000) / 5000.0 < 0.20, s"est_union $eu")
    // intersection inherits both sketches' error — loose bound, sign + scale
    assert(ei > 0 && ei < 2500, s"est_intersect $ei")
    // the union sketch IS the sketch of the union (register-exact): the
    // union estimate equals hllDistinct over the concatenated input
    val direct = graft.llm.Sketch
      .hllDistinct(a.unionAll(b).select(F.lit("g").as("g"), F.col("v")),
        Seq("g"), F.col("v"))
      .collect().head.getAs[Double]("hll_estimate")
    assert(eu === direct)
  }

  test("hllRollup: cube rollup is register-exact — equals the direct sketch") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.{functions => F}
    val df = spark.range(5000).select(
      F.concat(F.lit("g"), F.pmod(F.col("id"), F.lit(3L))).as("g"),
      F.pmod(F.col("id"), F.lit(7L)).as("slice"),
      F.concat(F.lit("v"), F.pmod(F.col("id"), F.lit(1200L))).as("v"))
    val regs = graft.llm.Sketch.hllRegisters(df, Seq("g", "slice"), F.col("v"), 8)
    val rolled = graft.llm.Sketch.hllRollup(regs, Seq("g"), 8)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("hll_estimate")).toMap
    val direct = graft.llm.Sketch.hllDistinct(df, Seq("g"), F.col("v"))
      .collect().map(r => r.getString(0) -> r.getAs[Double]("hll_estimate")).toMap
    assert(rolled === direct)
  }

  test("sampledQuantiles: exact identity at target >= n; bounded error sampled") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.{functions => F}
    val df = spark.range(500).select(F.lit("g").as("g"), F.col("id").as("k"),
      (F.col("id") * F.col("id")).cast("double").as("v"))
    val q = graft.llm.Sketch.sampledQuantiles(df, Seq("g"), F.col("k"),
      F.col("v"), Seq("p50" -> 0.5, "p90" -> 0.9), 2000L).collect().head
    assert(q.getAs[Long]("n") === 500L)
    // target >= n → the cutoff keeps EVERY row → exact percentiles
    assert(q.getAs[Long]("n_sample") === 500L)
    val ex = df.agg(
      F.round(F.percentile(F.col("v"), F.lit(0.5)) + F.lit(0.0), 6),
      F.round(F.percentile(F.col("v"), F.lit(0.9)) + F.lit(0.0), 6))
      .collect().head
    assert(q.getAs[Double]("p50") === ex.getDouble(0))
    assert(q.getAs[Double]("p90") === ex.getDouble(1))
    // genuine sampling: 50k uniform values, ~2000 survive; the median
    // estimate lands within ~3.6 sd of the true median, deterministically
    val big = spark.range(50000).select(F.lit("g").as("g"),
      F.col("id").as("k"), F.col("id").cast("double").as("v"))
    def run(): org.apache.spark.sql.Row =
      graft.llm.Sketch.sampledQuantiles(big, Seq("g"), F.col("k"),
        F.col("v"), Seq("p50" -> 0.5), 2000L).collect().head
    val r1 = run()
    assert(r1 === run()) // pure-filter determinism
    val ns = r1.getAs[Long]("n_sample")
    assert(ns > 1200L && ns < 3000L, s"sample size $ns far off target 2000")
    assert(math.abs(r1.getAs[Double]("p50") - 25000.0) < 2000.0,
      s"sampled median ${r1.getAs[Double]("p50")} too far from 25000")
  }

  test("hits: hand-computed max-normalized iteration; no-in-link auth 0") {
    val s = spark
    import s.implicits._
    // 0→2, 1→2, 2→0: node 2 is the authority AND the only hub into 0;
    // node 1 has no in-links (auth 0)
    val edges = Seq((0L, 2L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    val r1 = graft.llm.Graph.hits(edges, "src", "dst", iterations = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // iter 1: aRaw(2)=h(0)+h(1)=2e6, aRaw(0)=h(2)=1e6; max=2e6
    //   → a(2)=1e6, a(0)=500000
    // hRaw(0)=a(2)=1e6, hRaw(1)=a(2)=1e6, hRaw(2)=a(0)=500000; max=1e6
    //   → h(0)=1e6, h(1)=1e6, h(2)=500000
    assert(r1 === Map(
      0L -> ((1000000L, 500000L)),
      1L -> ((1000000L, 0L)),
      2L -> ((500000L, 1000000L))))
    // determinism across invocations (integer sums + max normalization)
    val r3a = graft.llm.Graph.hits(edges, "src", "dst", iterations = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val r3b = graft.llm.Graph.hits(edges, "src", "dst", iterations = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(r3a === r3b)
  }

  test("pageRank: hand-computed integer fixed-point iterations, dangling ok") {
    val s = spark
    import s.implicits._
    // 0→1, 0→2, 1→2; node 2 dangling (its mass evaporates)
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L)).toDF("src", "dst")
    def ranks(iters: Int): Map[Long, Long] =
      graft.llm.Graph.pageRank(edges, "src", "dst", iterations = iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // iter 1: shares from 0 = floor(1e6*0.85/2) = 425000 to each of 1,2;
    // from 1 = 850000 to 2; base = 150000
    assert(ranks(1) === Map(0L -> 150000L, 1L -> 575000L, 2L -> 1425000L))
    // iter 2: from 0 = floor(150000*0.85/2) = 63750; from 1 =
    // floor(575000*0.85) = 488750
    assert(ranks(2) === Map(0L -> 150000L, 1L -> 213750L, 2L -> 702500L))
    // a 5-round run is deterministic across invocations (integer sums
    // are merge-order independent)
    assert(ranks(5) === ranks(5))
  }

  test("pageRank warm start reaches the appended graph's fixed point in fewer rounds than the cold refit") {
    val s = spark
    import s.implicits._
    // chain DAG 0→1→2→3→4: influence of the seed values dies after the
    // longest path, so pageRank converges EXACTLY in 5 cold rounds
    val base = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    def rk(df: org.apache.spark.sql.DataFrame, it: Int,
        init: Option[org.apache.spark.sql.DataFrame] = None): Map[Long, Long] =
      graft.llm.Graph.pageRankFrom(df, "src", "dst", init, iterations = it)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fixedBase = rk(base, 6)
    assert(fixedBase === rk(base, 7), "base graph settled")
    val prev = fixedBase.toSeq.toDF("node", "rank_micro")
    // warm start AT the fixed point of the unchanged graph: one round is
    // a no-op (f(r*) = r*)
    assert(rk(base, 1, Some(prev)) === fixedBase)
    // append a leaf edge 2→5: node 2's out-shares halve, so ranks of 3,
    // 4 shift and new node 5 appears — the delta's influence is 2 hops
    val merged = base.unionByName(Seq((2L, 5L)).toDF("src", "dst"))
    val fixedMerged = rk(merged, 7)
    assert(fixedMerged === rk(merged, 8), "merged graph settled")
    // warm start from yesterday's ranks: 3 rounds reach the NEW fixed
    // point (new node 5 seeded cold), where the cold refit at 3 rounds
    // is still wrong — the rounds saved are the whole economics
    assert(rk(merged, 3, Some(prev)) === fixedMerged)
    assert(rk(merged, 3) !== fixedMerged)
  }

  test("pageRank index save/append/warm-refresh round-trips the versioned artifact") {
    val s = spark
    import s.implicits._
    val dir = "/tmp/graft_pr_idx/v1"
    val dst = "/tmp/graft_pr_idx/v2"
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("/tmp/graft_pr_idx"))
    val base = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    graft.llm.Graph.pageRankIndexSave(base, "src", "dst",
      iterations = 6, dir)
    val stored = s.read.parquet(s"$dir/ranks")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stored === graft.llm.Graph.pageRank(base, "src", "dst", 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    // append a delta, warm-refresh: equals the full recompute on the
    // merged edge set (both settled)
    graft.llm.Graph.pageRankIndexAppend(
      Seq((2L, 5L)).toDF("src", "dst"), "src", "dst", dir)
    val warm = graft.llm.Graph.pageRankWarmRanks(s, dir, iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val merged = base.unionByName(Seq((2L, 5L)).toDF("src", "dst"))
    assert(warm === graft.llm.Graph.pageRank(merged, "src", "dst", 7)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    // version refresh writes a self-consistent new artifact
    graft.llm.Graph.pageRankIndexRefresh(s, dir, dst, iterations = 3)
    val v2 = s.read.parquet(s"$dst/ranks")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(v2 === warm)
    assert(s.read.parquet(s"$dst/edges").count() === 5L)
  }
}
