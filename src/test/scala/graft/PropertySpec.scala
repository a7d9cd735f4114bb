package graft

import java.sql.Timestamp

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.funcs._
import graft.model.{Model, StepSpec}

/** ScalaCheck properties over small random inputs (SURVEY.md §5 strategy):
  * NULL-aware membership, fold row multiplication, funnel monotonicity.
  * Each case runs a real Spark job, so minSuccessfulTests stays small. */
class PropertySpec extends GraftSuite {

  private def check(prop: Prop, cases: Int = 8): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(cases), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: streamingLineDedup (batch mode) == corpusLineDedup keep set") {
    // Random corpora from a tiny line alphabet (forcing heavy cross-doc
    // duplication, empty lines, and single-line docs): the streaming
    // operator run over full history must keep EXACTLY the batch
    // operator's first-occurrence set — reassembling its kept lines
    // per doc reproduces corpusLineDedup's (n_kept, clean_md5).
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col => c, _}
    val lineGen = Gen.oneOf("nav", "footer", "body text", "", "x y z", "q")
    val docGen = Gen.chooseNum(1, 5).flatMap(n => Gen.listOfN(n, lineGen))
    val corpusGen = Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, docGen))
    check(Prop.forAll(corpusGen) { docsLines =>
      val docs = docsLines.zipWithIndex
        .map { case (ls, i) => (i.toLong, ls.mkString("\n")) }
        .toDF("doc_id", "text")
      val streamed = graft.streaming.Streams
        .streamingLineDedup(docs, "doc_id", "text")
        .groupBy(c("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          md5(concat_ws("\n", expr(
            """transform(array_sort(collect_list(struct(line_ix, line))),
                 x -> x.line)""")).cast("binary")).as("clean_md5"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      val batch = graft.llm.Dedup.corpusLineDedup(docs, "doc_id", "text")
        .where(c("n_kept") > 0)
        .select(c("doc_id"), c("n_kept"), c("clean_md5"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      streamed == batch
    }, cases = 6)
  }

  test("property: streamingMinhashNearDup (backfill) == minhashJoinIndexed pair set") {
    // Random word-sequence corpora with planted exact duplicates (every
    // corpus doc re-appears in the new slice under id 50+i, so matches
    // are guaranteed) plus independent random docs: the streaming
    // admission over full history must emit EXACTLY the batch indexed
    // join's (left_id, right_id, jaccard) set — the keyed dedupe state
    // may never drop a pair (distinct right ids) or duplicate one
    // (multi-band collisions).
    val s = spark
    import s.implicits._
    val wordGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps",
      "zeta", "eta", "theta")
    val docGen = Gen.chooseNum(5, 12)
      .flatMap(n => Gen.listOfN(n, wordGen)).map(_.mkString(" "))
    val corpusGen = Gen.chooseNum(2, 6).flatMap(n => Gen.listOfN(n, docGen))
    check(Prop.forAll(corpusGen, corpusGen) { (corpusDocs, freshDocs) =>
      val corpus = corpusDocs.zipWithIndex
        .map { case (t, i) => (100L + i, t) }.toDF("doc_id", "text")
      val nw = (freshDocs.zipWithIndex.map { case (t, i) => (i.toLong, t) } ++
        corpusDocs.zipWithIndex.map { case (t, i) => (50L + i, t) })
        .toDF("doc_id", "text")
      val idx = graft.llm.Dedup.minhashIndex(corpus, "doc_id", "text")
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val streamed = rows(graft.streaming.Streams.streamingMinhashNearDup(
        nw, "doc_id", "text", idx))
      val batch = rows(graft.llm.Dedup.minhashJoinIndexed(
        nw, "doc_id", "text", idx))
      graft.llm.CacheScope.global.release()
      streamed == batch && batch.nonEmpty
    }, cases = 5)
  }

  test("property: in_(values) matches the reference NULL semantics") {
    val s = spark
    import s.implicits._
    val colGen = Gen.listOfN(8, Gen.option(Gen.choose(0L, 4L)))
    val memberGen = Gen.listOfN(3, Gen.option(Gen.choose(0L, 4L)))
    check(Prop.forAll(colGen, memberGen) { (values, members) =>
      val df = values.toDF("v")
      val memberList: Seq[Any] = members.map(_.map(Long.box).orNull)
      val got = Model.fromDF(df).filter(col("v").in(memberList))
        .run(spark).count()
      val nonNull = members.flatten.toSet
      val hasNull = members.contains(None)
      val expected = values.count {
        case Some(v) => nonNull.contains(v)
        case None    => hasNull // NULL matches iff the list contains NULL
      }
      got == expected.toLong
    })
  }

  test("property: topk_by state merges are order-independent and match a full sort") {
    // Drives TopKState directly (the ChainState pattern): any random
    // binary merge tree over any partitioning of the rows — with a
    // serialize round-trip per partial, like a real exchange — must
    // produce exactly the first k rows of the full (score desc NULLS
    // LAST, id asc) sort. Top-k is a semilattice, but only if the
    // bounded trim never drops a row a later merge could promote; this
    // is the contract Spark's partial aggregation relies on.
    import graft.expr.TopKBy
    val K = 4
    val agg = TopKBy(
      org.apache.spark.sql.catalyst.expressions.BoundReference(0,
        org.apache.spark.sql.types.DoubleType, nullable = true),
      org.apache.spark.sql.catalyst.expressions.BoundReference(1,
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.catalyst.expressions.BoundReference(2,
        org.apache.spark.sql.types.LongType, nullable = true), K)
    // few distinct scores force ties at the k boundary; some NULL scores
    // and NULL tags; unique ids via zipWithIndex
    val rowsGen = Gen.listOf(Gen.zip(
      Gen.oneOf(Gen.choose(0, 4).map(d => Some(d / 2.0)), Gen.const(None)),
      Gen.oneOf(Gen.choose(0L, 9L).map(Some(_)), Gen.const(None))))
      .map(_.zipWithIndex.map { case ((s, t), i) => (i.toLong, s, t) })
    check(Prop.forAll(rowsGen, Gen.long) { (rows, seed) =>
      val rnd = new scala.util.Random(seed)
      val chunks =
        if (rows.isEmpty) Seq(Seq.empty)
        else rnd.shuffle(rows).grouped(
          math.max(1, rows.size / (1 + rnd.nextInt(5)))).toSeq
      val states = chunks.map { chunk =>
        val st = agg.createAggregationBuffer()
        chunk.foreach { case (id, s, t) =>
          agg.update(st, org.apache.spark.sql.catalyst.InternalRow(
            s.map(Double.box).orNull, id, t.map(Long.box).orNull))
        }
        agg.deserialize(agg.serialize(st))
      }
      val merged = rnd.shuffle(states).reduce { (a, b) => agg.merge(a, b) }
      val got = agg.eval(merged)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.GenericArrayData]
        .array.toSeq.map { r =>
          val row = r.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
          (if (row.isNullAt(0)) None else Some(row.getDouble(0)),
            row.getLong(1),
            if (row.isNullAt(2)) None else Some(row.getLong(2)))
        }
      // reference: full sort, nulls last, score desc, id asc, take k
      val expected = rows
        .sortBy { case (id, s, _) =>
          (s.isEmpty, s.map(-_).getOrElse(0.0), id) }
        .take(K)
        .map { case (id, s, t) => (s, id, t) }
      got == expected
    })
  }

  test("property: greedy_chain state merges are order-independent and match a sorted scan") {
    // Drives ChainState directly (no Spark): any random binary merge tree
    // over any partitioning of the event list must evaluate to the greedy
    // chain a sequential sorted scan produces — this is the exact
    // contract Spark's partial aggregation relies on, and the pruning
    // math is only sound if it holds for EVERY merge order.
    import graft.expr.GreedyChain
    val K = 3
    val agg = GreedyChain(
      org.apache.spark.sql.catalyst.expressions.BoundReference(0,
        org.apache.spark.sql.types.TimestampType, nullable = true),
      org.apache.spark.sql.catalyst.expressions.BoundReference(1,
        org.apache.spark.sql.types.LongType, nullable = true), K)
    val eventGen = Gen.listOfN(60,
      Gen.zip(Gen.choose(0L, 25L), Gen.choose(1, 7))) // (time, mask 1..7)
    check(Prop.forAll(eventGen, Gen.long) { (events, seed) =>
      val rnd = new scala.util.Random(seed)
      // random merge tree: split shuffled events into 1-6 chunks, update
      // each into its own state, fold-merge in random order
      val chunks = rnd.shuffle(events).grouped(
        math.max(1, events.size / (1 + rnd.nextInt(6)))).toSeq
      val states = chunks.map { chunk =>
        val st = agg.createAggregationBuffer()
        chunk.foreach { case (t, m) =>
          agg.update(st, org.apache.spark.sql.catalyst.InternalRow(t, m.toLong))
        }
        // round-trip serialization like a real exchange would
        agg.deserialize(agg.serialize(st))
      }
      val merged = rnd.shuffle(states).reduce { (a, b) => agg.merge(a, b) }
      val got = agg.eval(merged)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.GenericArrayData]
        .array.toSeq

      // reference: greedy first-strictly-after over the sorted list
      var prev: Option[Long] = None
      val expected = (0 until K).map { k =>
        val cands = events.collect { case (t, m) if (m & (1 << k)) != 0 => t }
        val r = (k, prev) match {
          case (0, _) => cands.sorted.headOption
          case (_, Some(x)) => cands.filter(_ > x).sorted.headOption
          case (_, None) => None
        }
        prev = r
        r.map(Long.box).orNull
      }
      got == expected
    }, cases = 40)
  }

  test("property: CDC chunk boundaries are edit-local (insertion shifts only one chunk region)") {
    // The property content-defined chunking EXISTS for: insert one word at
    // a random position — every chunk starting at a boundary beyond the
    // edit's gram window must survive with an identical content hash
    // (start shifted by exactly one). Fixed-size chunking fails this.
    val s = spark
    import s.implicits._
    val k = 4
    val wordGen = Gen.oneOf((0 until 30).map(i => s"w$i"))
    val docGen = Gen.chooseNum(20, 120).flatMap(n => Gen.listOfN(n, wordGen))
    check(Prop.forAll(docGen, Gen.chooseNum(0, 1000), Gen.long) { (words, posRaw, _) =>
      val pos = posRaw % words.size // insert before 0-based position pos
      val edited = words.take(pos) ::: List("INSERTED") ::: words.drop(pos)
      val docs = Seq((0L, words.mkString(" ")), (1L, edited.mkString(" ")))
        .toDF("doc_id", "text")
      val chunks = graft.llm.Search
        .cdcChunks(docs, "doc_id", "text", k = k, modulus = 8)
        .collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getString(4)))
      val orig = chunks.filter(_._1 == 0L).sortBy(_._2)
      val ed = chunks.filter(_._1 == 1L).sortBy(_._2)
      // first original boundary start strictly past the edit's gram reach:
      // grams containing the inserted word start at positions > pos-k+1
      // (1-based: pos+1), so boundaries at start > pos + k are untouched
      val stable = orig.map(_._2).filter(st => st >= 2 && st > pos + k)
      stable.isEmpty || {
        val origTail = orig.filter(c => c._2 >= stable.min).map(c => (c._3, c._4))
        val edTail = ed.filter(c => c._2 >= stable.min + 1).map(c => (c._3, c._4))
        origTail.toSeq == edTail.toSeq
      }
    }, cases = 20)
  }

  test("property: Aho-Corasick count equals brute-force positional matching") {
    // Random texts and dictionaries over a tiny alphabet (maximizing
    // overlaps, shared prefixes, and phrases-inside-phrases): the
    // automaton's total must equal the quadratic per-(position, entry)
    // scan for every input.
    import graft.expr.AcAutomaton
    val charGen = Gen.oneOf('a', 'b', ' ')
    val textGen = Gen.chooseNum(0, 40).flatMap(n =>
      Gen.listOfN(n, charGen).map(_.mkString))
    val phraseGen = Gen.chooseNum(1, 4).flatMap(n =>
      Gen.listOfN(n, charGen).map(_.mkString))
    val dictGen = Gen.chooseNum(1, 6).flatMap(n =>
      Gen.listOfN(n, phraseGen).map(_.distinct))
    check(Prop.forAll(textGen, dictGen) { (text, dict) =>
      dict.isEmpty || {
        val ac = new AcAutomaton(dict)
        val brute = dict.map(kw =>
          (0 to text.length - kw.length).count(i =>
            text.regionMatches(i, kw, 0, kw.length)).toLong).sum
        ac.count(text) == brute
      }
    }, cases = 60)
  }

  test("property: unigram Viterbi equals brute-force min over ALL segmentations") {
    // Random short words over a 4-letter alphabet, random piece vocab
    // (always including the single chars): the native integer DP must
    // return exactly min over every possible segmentation of
    // (total cost × 64 + piece count) — the lexicographic (cost, pieces)
    // optimum — and the unk composite when the word exceeds maxWordLen.
    import graft.expr.UnigramModel
    val alpha = "abcd"
    val wordGen = Gen.chooseNum(1, 9).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(alpha.toSeq)).map(_.mkString))
    val pieceGen = Gen.chooseNum(2, 4).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(alpha.toSeq)).map(_.mkString))
    val vocabGen = for {
      pieces <- Gen.listOfN(6, pieceGen)
      costs <- Gen.listOfN(6 + alpha.length, Gen.chooseNum(1L, 50L))
    } yield (alpha.map(_.toString) ++ pieces).distinct
      .zip(costs).toSeq
    check(Prop.forAll(wordGen, vocabGen) { (word, vocab) =>
      val L = 4
      val model = UnigramModel.decode(
        UnigramModel.encode(vocab, L, 6, 999L))
      val got = UnigramModel.viterbi(word, model)
      def segmentations(w: String): Seq[Seq[String]] =
        if (w.isEmpty) Seq(Seq.empty)
        else (1 to math.min(L, w.length)).flatMap(l =>
          segmentations(w.drop(l)).map(w.take(l) +: _))
      val vm = vocab.toMap
      val comps = segmentations(word)
        .filter(_.forall(vm.contains))
        .map(seg => seg.map(p => vm(p) * 64L + 1L).sum)
      val expected =
        if (word.length > 6) 999L * 64L + 1L
        else if (comps.isEmpty) 999L * 64L + 1L
        else comps.min
      got == expected
    }, cases = 60)
  }

  test("property: exclusion Viterbi equals brute-force min over x-free segmentations") {
    // Same setup as the plain-Viterbi property, plus a random excluded
    // piece: viterbiExcl must equal min over every segmentation that
    // never uses x (and the plain optimum whenever x is not on any
    // optimal path's support — subsumed by the brute force).
    import graft.expr.UnigramModel
    val alpha = "abcd"
    val wordGen = Gen.chooseNum(1, 9).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(alpha.toSeq)).map(_.mkString))
    val pieceGen = Gen.chooseNum(2, 4).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(alpha.toSeq)).map(_.mkString))
    val vocabGen = for {
      pieces <- Gen.listOfN(6, pieceGen)
      costs <- Gen.listOfN(6 + alpha.length, Gen.chooseNum(1L, 50L))
    } yield (alpha.map(_.toString) ++ pieces).distinct
      .zip(costs).toSeq
    check(Prop.forAll(wordGen, vocabGen, pieceGen) { (word, vocab, x) =>
      val L = 4
      val model = UnigramModel.decode(
        UnigramModel.encode(vocab, L, 6, 999L))
      val got = UnigramModel.viterbiExcl(word, model, x)
      def segmentations(w: String): Seq[Seq[String]] =
        if (w.isEmpty) Seq(Seq.empty)
        else (1 to math.min(L, w.length)).flatMap(l =>
          segmentations(w.drop(l)).map(w.take(l) +: _))
      val vm = vocab.toMap
      val comps = segmentations(word)
        .filter(seg => seg.forall(vm.contains) && !seg.contains(x))
        .map(seg => seg.map(p => vm(p) * 64L + 1L).sum)
      val expected =
        if (word.length > 6) 999L * 64L + 1L
        else if (comps.isEmpty) 999L * 64L + 1L
        else comps.min
      got == expected
    }, cases = 60)
  }

  test("property: wordpiece greedy equals an independent longest-match re-derivation") {
    // Random words and random vocabularies (plain + ## continuation
    // pieces): the native must equal a from-scratch greedy reference —
    // longest match at each position, commit without backtracking, any
    // dead end or overlong word → [UNK] — and every non-UNK output must
    // reconstruct the word with its ## markers stripped.
    import graft.expr.WordpieceModel
    val alpha = "abc"
    val wordGen = Gen.chooseNum(1, 10).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(alpha.toSeq)).map(_.mkString))
    val bodyGen = Gen.chooseNum(1, 3).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(alpha.toSeq)).map(_.mkString))
    val vocabGen = for {
      plains <- Gen.listOfN(5, bodyGen)
      conts <- Gen.listOfN(5, bodyGen)
    } yield (plains ++ conts.map("##" + _)).distinct
    check(Prop.forAll(wordGen, vocabGen) { (word, vocab) =>
      val m = WordpieceModel.decode(WordpieceModel.encode(vocab.sorted, 8))
      val got = WordpieceModel.greedy(word, m).toString
      val vs = vocab.toSet
      def ref(pos: Int, acc: List[String]): Option[List[String]] =
        if (pos >= word.length) Some(acc.reverse)
        else (math.min(word.length - pos, 10) to 1 by -1).view
          .map { l =>
            if (pos == 0) word.substring(0, l)
            else "##" + word.substring(pos, pos + l)
          }
          .find(vs.contains) match {
            case Some(p) =>
              val body = if (p.startsWith("##")) p.length - 2 else p.length
              ref(pos + body, p :: acc)
            case None => None
          }
      val expect =
        if (word.length > 8) "[UNK]"
        else ref(0, Nil).map(_.mkString(" ")).getOrElse("[UNK]")
      val reconOk = got == "[UNK]" ||
        got.split(' ').map(_.stripPrefix("##")).mkString == word
      got == expect && reconOk
    }, cases = 80)
  }

  test("property: repetitionSignals equals a plain-Scala recomputation") {
    // Random multi-doc corpora from a tiny word alphabet (forcing heavy
    // n-gram repetition and sub-n-length docs): the operator's pipeline
    // (tagged explode → count → struct-min argmax + conditional sum →
    // pivot → left join) must equal a from-scratch per-doc fold.
    val s = spark
    import s.implicits._
    def r6(v: Double) = java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val wordGen = Gen.oneOf("aa", "b", "ccc", "aa") // skew toward repeats
    val docGen = Gen.chooseNum(1, 10).flatMap(n =>
      Gen.listOfN(n, wordGen).map(_.mkString(" ")))
    check(Prop.forAll(Gen.listOfN(12, docGen)) { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val out = graft.llm.TextOps.repetitionSignals(
          df, "doc_id", "text", topNs = Seq(2), dupNs = Seq(2, 3))
        .collect().map(r => r.getLong(0) -> (
          r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
      def ref(text: String, n: Int): (Double, Double) = {
        val t = text.trim
        val toks = t.split("\\s+").toSeq
        if (toks.size < n) (0.0, 0.0)
        else {
          val grams = toks.sliding(n).map(_.mkString(" ")).toSeq
          val counts = grams.groupBy(identity).map { case (g, o) => g -> o.size }
          val (tg, tc) = counts.toSeq.minBy { case (g, c) => (-c, g) }
          val dup = counts.collect { case (g, c) if c >= 2 => c.toLong * g.length }.sum
          (r6(tc.toLong * tg.length / t.length.toDouble),
            r6(dup / t.length.toDouble))
        }
      }
      docs.zipWithIndex.forall { case (t, i) =>
        val (top2, dup2) = ref(t, 2)
        val (_, dup3) = ref(t, 3)
        out(i.toLong) == ((top2, dup2, dup3))
      }
    }, cases = 10)
  }

  test("property: exactCanonical conserves copies and always beats the losers") {
    // For any corpus: kept ids ⊆ input ids, Σ n_copies = |input|, one
    // kept row per distinct normalized text, and every kept row's
    // (priority, -id) weakly dominates every same-hash loser's.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col => c}
    val rowGen = for {
      id <- Gen.chooseNum(0L, 300L)
      txt <- Gen.oneOf("a b", "A  b", "c d", "e", "C   D")
      prio <- Gen.chooseNum(0, 9).map(_ / 10.0)
    } yield (id, txt, prio)
    check(Prop.forAll(Gen.listOfN(25, rowGen)) { rowsRaw =>
      val rows = rowsRaw.distinctBy(_._1)
      val d = rows.toDF("doc_id", "text", "prio")
      val out = graft.llm.Dedup.exactCanonical(d, "doc_id", "text", "prio")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      def norm(t: String) = t.trim.toLowerCase.replaceAll("\\s+", " ")
      val byHash = rows.groupBy(r => norm(r._2))
      out.length == byHash.size &&
        out.map(_._3).sum == rows.length &&
        out.forall { case (id, p, _) =>
          val grp = byHash(norm(rows.find(_._1 == id).get._2))
          grp.forall(g => p > g._3 || (p == g._3 && id <= g._1))
        }
    }, cases = 8)
  }

  test("property: domainCap kept sets are prefix-stable as cap grows") {
    // The per-domain cut orders by (md5(id), id), so the kept set at cap
    // k must be a SUBSET of the kept set at any larger cap — the
    // membership-stability property hashSample has for fractions,
    // here for per-group counts (growing a crawl budget must never
    // evict previously kept pages).
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col => c}
    val rowGen = for {
      id <- Gen.chooseNum(0L, 500L)
      dom <- Gen.oneOf("a.com", "b.org", "c.net")
    } yield (id, dom)
    check(Prop.forAll(Gen.listOfN(60, rowGen),
      Gen.chooseNum(1, 8), Gen.chooseNum(1, 8)) { (rows, k1, k2) =>
      val d = rows.distinct.toDF("doc_id", "domain")
      val lo = math.min(k1, k2); val hi = math.max(k1, k2)
      def kept(k: Int) = graft.llm.TextOps.domainCap(d, "domain", "doc_id", k)
        .select(c("doc_id")).collect().map(_.getLong(0)).toSet
      kept(lo).subsetOf(kept(hi))
    }, cases = 8)
  }

  test("property: MgState retains every token above n/(width+1) under any merge tree") {
    // Drives MgState directly (ChainState pattern): for any token stream,
    // any partitioning, any random merge order, and serialize round-trips,
    // the merged summary must contain EVERY token whose true frequency
    // exceeds n/(width+1) — the precondition heavyHitters' exactness rests
    // on — and every retained count must be a lower bound on the truth.
    import graft.expr.MgSummary
    val width = 4
    val agg = MgSummary(
      org.apache.spark.sql.catalyst.expressions.BoundReference(0,
        org.apache.spark.sql.types.StringType, nullable = true), width)
    val tokGen = Gen.frequency(
      (6, Gen.const("the")), (3, Gen.const("of")), (2, Gen.const("and")),
      (1, Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta")))
    val streamGen = Gen.chooseNum(1, 120).flatMap(n => Gen.listOfN(n, tokGen))
    check(Prop.forAll(streamGen, Gen.long) { (toks, seed) =>
      val rnd = new scala.util.Random(seed)
      val chunks = rnd.shuffle(toks).grouped(
        math.max(1, toks.size / (1 + rnd.nextInt(5)))).toSeq
      val states = chunks.map { chunk =>
        val st = agg.createAggregationBuffer()
        chunk.foreach { t =>
          agg.update(st, org.apache.spark.sql.catalyst.InternalRow(
            org.apache.spark.unsafe.types.UTF8String.fromString(t)))
        }
        agg.deserialize(agg.serialize(st))
      }
      val merged = rnd.shuffle(states).reduce { (a, b) => agg.merge(a, b) }
      val truth = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val thresh = toks.size.toDouble / (width + 1)
      val kept = merged.counts.toMap
      truth.forall { case (t, c) =>
        (c <= thresh || kept.contains(t)) &&
          kept.get(t).forall(lb => lb <= c)
      }
    }, cases = 40)
  }

  test("property: fold multiplies rows by the number of value columns") {
    val s = spark
    import s.implicits._
    val rowsGen = Gen.choose(0, 12)
    val kGen = Gen.choose(1, 4)
    check(Prop.forAll(rowsGen, kGen) { (n, k) =>
      val cols = (1 to k).map(i => s"v$i")
      val df = spark.range(n.toLong).toDF("id")
      val wide = cols.foldLeft(df)((d, c) =>
        d.withColumn(c, org.apache.spark.sql.functions.col("id") * 2))
      val folded = Model.fromDF(wide)
        .fold(ids = Seq(col("id")), values = cols.map(c => col(c)))
        .run(spark)
      folded.count() == n.toLong * k &&
        (n == 0 || folded.groupBy("key").count().collect()
          .forall(_.getLong(1) == n.toLong))
    }, cases = 6)
  }

  test("property: funnel step counts decrease monotonically") {
    val s = spark
    import s.implicits._
    val eventGen = for {
      user <- Gen.choose(0L, 4L)
      kind <- Gen.oneOf("a", "b", "c", "x")
      tick <- Gen.choose(0, 1000)
    } yield (user, kind, new Timestamp(1700000000000L + tick * 60000L))
    val eventsGen = Gen.nonEmptyListOf(eventGen)
    check(Prop.forAll(eventsGen) { events =>
      val df = events.toDF("user_id", "event", "ts")
      val rows = Model.fromDF(df)
        .withActivitySchema(col("user_id"), col("ts"), col("event"))
        .funnel(Seq[StepSpec]("a", "b", "c"), topOfFunnel = "users")
        .run(spark).collect()
      val counts = rows.map(_.getLong(1)).toSeq
      counts.size == 4 &&
        counts.zip(counts.tail).forall { case (hi, lo) => hi >= lo }
    }, cases = 6)
  }

  test("property: sessionize partitions events exactly (counts sum, bounds hold)") {
    val s = spark
    import s.implicits._
    val eventsGen = Gen.listOfN(12, Gen.zip(
      Gen.choose(1L, 3L), Gen.choose(0L, 20000L)))
    check(Prop.forAll(eventsGen) { evs =>
      val df = evs.map { case (u, off) =>
        (u, new Timestamp(1700000000000L + off * 1000L))
      }.toDF("user_id", "ts")
      val out = Model.fromDF(df)
        .withActivitySchema(col("user_id"), col("ts"), col("user_id"))
        .sessionize(gapSeconds = 1800)
        .run(spark).collect()
      val nEvents = out.map(_.getAs[Long]("n_events")).sum
      // every event lands in exactly one session; sessions are well-formed
      nEvents == evs.size.toLong && out.forall { r =>
        val st = r.getTimestamp(1).getTime
        val en = r.getAs[Timestamp]("session_end").getTime
        st <= en
      }
    }, cases = 6)
  }

  test("property: fold inverts pivot (per-group per-key sums recovered)") {
    val s = spark
    import s.implicits._
    val rowsGen = Gen.listOfN(10, Gen.zip(
      Gen.oneOf("x", "y"), Gen.oneOf("a", "b"), Gen.choose(1L, 9L)))
    check(Prop.forAll(rowsGen) { rows =>
      val df = rows.toDF("g", "k", "v")
      // pivot to wide, fold back to long: recovers sum(v) per (g, k) for
      // keys that appear in the group (fold keeps NULLs for absent keys)
      val roundTrip = Model.fromDF(df)
        .pivot(Seq(col("g")), col("k"), col("v"), Seq("a", "b"))
        .fold(ids = Seq(col("g")), values = Seq(col("a"), col("b")),
          keyName = "k", valueName = "v")
        .run(spark).collect()
        .flatMap(r => Option(r.get(2)).map(v =>
          (r.getString(0), r.getString(1)) -> v.asInstanceOf[Long]))
        .toMap
      val expected = rows.groupBy(t => (t._1, t._2))
        .map { case (gk, ts) => gk -> ts.map(_._3).sum }
      roundTrip == expected
    }, cases = 6)
  }

  test("property: stratified sample at a uniform rate equals hashSample") {
    val s = spark
    import s.implicits._
    val docsGen = Gen.listOfN(20, Gen.alphaNumStr.suchThat(_.nonEmpty))
    check(Prop.forAll(docsGen, Gen.choose(1, 99)) { (texts, pct) =>
      val df = texts.zipWithIndex.map { case (t, i) =>
        (t + i, if (i % 2 == 0) "en" else "de")
      }.toDF("text", "lang")
      import org.apache.spark.sql.functions.{col => sc}
      val strat = df.where(graft.llm.TextOps.stratifiedSample(
        sc("text"), sc("lang"), Map.empty, defaultPercent = pct)).count()
      val plain = df.where(graft.llm.TextOps.hashSample(sc("text"), pct))
        .count()
      strat == plain // same hash space + same cutoff → identical subset
    }, cases = 6)
  }

  test("property: topK keeps at most k contiguously-ranked rows per group") {
    val s = spark
    import s.implicits._
    import graft.ir.SortKey
    val rowsGen = Gen.listOfN(14, Gen.zip(
      Gen.oneOf("g1", "g2", "g3"), Gen.choose(0L, 100L)))
    check(Prop.forAll(rowsGen, Gen.choose(1L, 4L)) { (rows, k) =>
      val df = rows.zipWithIndex.map { case ((g, v), i) => (g, v, i.toLong) }
        .toDF("g", "v", "id")
      val out = Model.fromDF(df)
        .topK(Seq(col("g")),
          Seq(SortKey(col("v"), asc = false), SortKey(col("id"))), k)
        .run(spark).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getAs[Int]("rank")))
      val byGroup = out.groupBy(_._1)
      byGroup.forall { case (g, rs) =>
        val expected = rows.zipWithIndex.collect { case ((`g`, v), i) => (v, i) }
          .sortBy { case (v, i) => (-v, i) }.take(k.toInt).map(_._1)
        rs.size <= k &&
          rs.sortBy(_._3).map(_._3).toSeq == (1 to rs.size).toSeq &&
          rs.sortBy(_._3).map(_._2).toSeq == expected
      }
    }, cases = 6)
  }

  test("property: asofJoin equals the brute-force latest-eligible right row") {
    val s = spark
    import s.implicits._
    val leftGen = Gen.listOfN(8, Gen.zip(Gen.choose(0, 2), Gen.choose(0L, 12L)))
    val rightGen = Gen.listOfN(6, Gen.zip(Gen.choose(0, 2), Gen.choose(0L, 12L)))
    check(Prop.forAll(leftGen, rightGen, Gen.oneOf(true, false)) {
      (ls, rs, strict) =>
        val left = ls.zipWithIndex
          .map { case ((k, t), i) => (i.toLong, k.toString, new Timestamp(t * 1000)) }
          .toDF("id", "k", "ts")
        // right value = its own index; ts collisions exercise the seq tie
        val right = rs.zipWithIndex
          .map { case ((k, t), i) => (k.toString, new Timestamp(t * 1000), i.toLong) }
          .toDF("k", "ts", "seq")
        val got = Model.fromDF(left)
          .asofJoin(Model.fromDF(right),
            on = (col("k"), col("k")), ts = (col("ts"), col("ts")),
            pick = Seq(col("seq").named("rseq")), seq = col("seq"),
            strict = strict)
          .run(spark).collect()
          .map(r => r.getAs[Long]("id") ->
            Option(r.getAs[Any]("rseq")).map(_.asInstanceOf[Long]))
          .toMap
        val expected = ls.zipWithIndex.map { case ((k, t), i) =>
          val elig = rs.zipWithIndex.filter { case ((rk, rt), _) =>
            rk == k && (if (strict) rt < t else rt <= t)
          }
          i.toLong -> (if (elig.isEmpty) None
          else Some(elig.maxBy { case ((_, rt), ri) => (rt, ri) }._2.toLong))
        }.toMap
        got == expected
    }, cases = 6)
  }

  test("property: running_sum matches the per-key prefix sum") {
    val s = spark
    import s.implicits._
    import graft.ir.{SortKey, Source}
    val gen = Gen.listOfN(10, Gen.zip(Gen.choose(0, 2), Gen.choose(-5L, 5L)))
    check(Prop.forAll(gen) { xs =>
      val df = xs.zipWithIndex
        .map { case ((k, v), i) => (k.toString, i.toLong, v) }
        .toDF("k", "seq", "v")
      val got = Model.fromDF(df)
        .withWindow(Seq(col("k")), Seq(SortKey(col("seq"))),
          Seq(Source.WinCol("rs", "running_sum", Some(col("v")))))
        .run(spark).collect()
        .map(r => (r.getAs[String]("k"), r.getAs[Long]("seq"), r.getAs[Long]("rs")))
      got.forall { case (k, seq, rs) =>
        rs == xs.zipWithIndex
          .filter { case ((xk, _), i) => xk.toString == k && i <= seq }
          .map(_._1._2).sum
      }
    }, cases = 6)
  }

  test("property: dedupLines is idempotent and preserves the distinct line set") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col => sc}
    val lineGen = Gen.listOfN(10, Gen.oneOf("a", "bb", "ccc", "", "dd d"))
    check(Prop.forAll(lineGen) { lines =>
      val df = Seq(lines.mkString("\n")).toDF("text")
      val once = df.select(graft.llm.TextOps.dedupLines(sc("text")).as("d"))
      val d1 = once.collect().head.getString(0)
      val d2 = once.select(graft.llm.TextOps.dedupLines(sc("d")))
        .collect().head.getString(0)
      val expected = {
        val seen = scala.collection.mutable.LinkedHashSet[String]()
        lines.foreach(seen += _)
        seen.mkString("\n")
      }
      d1 == expected && d2 == d1 // first-occurrence order + idempotence
    }, cases = 8)
  }

  test("property: substringSpans equals the brute-force span derivation") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col => sc}
    // tiny vocabulary forces duplicated k-grams at random alignments
    val k = 3
    val docGen = Gen.listOfN(3,
      Gen.chooseNum(3, 14).flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "c"))))
    check(Prop.forAll(docGen) { docsW =>
      val df = docsW.zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      val got = graft.llm.Dedup
        .substringSpans(df, "doc_id", "text", minSpanWords = k, minCopies = 2)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      // brute force: count every k-gram occurrence corpus-wide, mark
      // covered word positions, read spans off the coverage bitmap
      val all = docsW.zipWithIndex.flatMap { case (ws, i) =>
        ws.sliding(k).zipWithIndex.collect {
          case (g, p) if g.length == k => (i.toLong, p, g.mkString(" "))
        }
      }
      val counts = all.groupBy(_._3).map { case (g, xs) => g -> xs.size }
      val expected = docsW.zipWithIndex.flatMap { case (ws, i) =>
        val covered = Array.fill(ws.length)(false)
        for ((id, p, g) <- all if id == i.toLong && counts(g) >= 2;
             j <- p until (p + k)) covered(j) = true
        val spans = scala.collection.mutable.ArrayBuffer.empty[Int]
        var run = 0
        (covered :+ false).foreach { c =>
          if (c) run += 1 else { if (run > 0) spans += run; run = 0 }
        }
        if (spans.isEmpty) None
        else Some(i.toLong ->
          ((spans.size.toLong, spans.sum.toLong, spans.max.toLong)))
      }.toMap
      got == expected
    }, cases = 8)
  }

  test("property: splitByCluster covers every doc exactly once, clusters never straddle") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col => sc, countDistinct}
    val pairGen = Gen.listOfN(6,
      Gen.zip(Gen.choose(1L, 12L), Gen.choose(1L, 12L)).suchThat(p => p._1 != p._2))
    check(Prop.forAll(pairGen) { ps =>
      val docs = (1L to 15L).map(i => (i, s"t$i")).toDF("doc_id", "text")
      val clusters = graft.llm.Dedup.clusterPairs(
        ps.toDF("doc_a", "doc_b"), "doc_a", "doc_b")
      val out = graft.llm.Dedup.splitByCluster(docs, "doc_id", clusters, 70.0)
      val total = out.count()
      val straddlers = out.join(clusters, Seq("doc_id"))
        .groupBy(sc("cluster_id")).agg(countDistinct(sc("split")).as("k"))
        .where(sc("k") > 1L).count()
      total == 15L && straddlers == 0L
    }, cases = 6)
  }

  test("property: scrubPii never alters text without @, +, or dotted digits") {
    val s = spark
    import s.implicits._
    val safeGen = Gen.listOfN(6,
      Gen.alphaStr.map(_.take(20)).suchThat(_.nonEmpty))
    check(Prop.forAll(safeGen) { texts =>
      val df = texts.toDF("text")
      import org.apache.spark.sql.functions.{col => sc}
      df.select(graft.llm.TextOps.scrubPii(sc("text")).as("s"), sc("text"))
        .collect().forall(r => r.getString(0) == r.getString(1))
    }, cases = 6)
  }

  test("property: animated GIF encode/sample round-trips at any sampling stride") {
    // Pure-JVM codec property (no Spark job, so many cases are cheap):
    // random dims / frame counts / pixel functions / strides — the
    // sampler must report exactly the strided frame indices with stats
    // equal to the generating function's, and the meta walk must count
    // every frame.
    val gen = for {
      w <- Gen.choose(1, 20); h <- Gen.choose(1, 16)
      nf <- Gen.choose(1, 6); seed <- Gen.choose(0L, 1L << 30)
      every <- Gen.choose(1, 3)
    } yield (w, h, nf, seed, every)
    check(Prop.forAll(gen) { case (w, h, nf, seed, every) =>
      def pix(f: Int, x: Int, y: Int): Int =
        ((x * 31L + y * 57L + f * 101L + seed) % 256L).toInt
      val bytes = graft.llm.Multimodal.encodeAnimatedGif(w, h, nf, pix)
      val meta = graft.llm.Multimodal.decodeMeta(bytes)
      val frames = graft.llm.Multimodal.sampleGifFrames(bytes, every)
      val okMeta = meta.getString(0) == "gif" && meta.getInt(1) == w &&
        meta.getInt(2) == h && meta.getInt(3) == nf
      val okIx = frames != null &&
        frames.map(_.getInt(0)) == (0 until nf by every)
      okMeta && okIx && frames.forall { r =>
        val f = r.getInt(0)
        (0 until 3).forall { c =>
          val vs = for (y <- 0 until h; x <- 0 until w)
            yield ((pix(f, x, y) * (c + 1)) % 256).toLong
          r.getSeq[Long](4)(c) == vs.sum &&
            r.getSeq[Long](5)(c) == vs.min && r.getSeq[Long](6)(c) == vs.max
        }
      }
    }, cases = 30)
  }

  test("property: sceneDiffs equals the brute-force adjacent-frame difference") {
    val gen = for {
      w <- Gen.choose(1, 16); h <- Gen.choose(1, 12)
      nf <- Gen.choose(1, 6); seed <- Gen.choose(0L, 1L << 30)
    } yield (w, h, nf, seed)
    check(Prop.forAll(gen) { case (w, h, nf, seed) =>
      def pix(f: Int, x: Int, y: Int): Int =
        ((x * 13L + y * 29L + f * f * 47L + seed) % 256L).toInt
      def chan(v: Int, c: Int): Int = (v * (c + 1)) % 256
      val diffs = graft.llm.Multimodal.sceneDiffs(
        graft.llm.Multimodal.encodeAnimatedGif(w, h, nf, pix))
      diffs != null && diffs.size == nf - 1 && diffs.zipWithIndex.forall {
        case (r, k) =>
          val f = k + 1
          val exp = (for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
            yield math.abs(chan(pix(f, x, y), c)
              - chan(pix(f - 1, x, y), c)).toLong).sum
          r.getInt(0) == f && r.getLong(1) == w.toLong * h && r.getLong(2) == exp
      }
    }, cases = 30)
  }

  test("GIF decoders: every prefix and block-byte flip of the fixtures decodes as recorded") {
    // Pins the GIF container walk of every consumer (decodeMeta,
    // decodeGifPixels, sampleGifFrames, videoFrameDhashes, sceneDiffs)
    // on truncations at every length and on single-byte flips at each
    // block introducer, descriptor packed byte, LZW min-code byte and
    // sub-block length byte: no call may throw, and the rendered
    // outputs hash to the digest recorded before the walks were merged.
    // The header's table-size byte is left out (LlmSpec's cut-palette
    // cases cover a short global table).
    import graft.llm.Multimodal._
    /** Offsets of the bytes to flip, from the encoder's block layout. */
    def blockBytes(gif: Array[Byte]): Seq[Int] = {
      def u8(i: Int): Int = gif(i) & 0xff
      val out = scala.collection.mutable.ArrayBuffer.empty[Int]
      def chain(start: Int): Int = {
        var i = start
        while (u8(i) != 0) { out += i; i += 1 + u8(i) }
        out += i
        i + 1
      }
      var i = 13 + 768
      while (u8(i) != 0x3b) {
        out += i
        if (u8(i) == 0x21) i = chain(i + 2)
        else { out += i + 9; out += i + 10; i = chain(i + 11) }
      }
      out += i
      out.toSeq
    }
    def render(v: Any): String = v match {
      case null => "null"
      case r: org.apache.spark.sql.Row => r.toSeq.map(render).mkString("(", ",", ")")
      case s: Seq[_] => s.map(render).mkString("[", ",", "]")
      case a: Array[_] => a.toSeq.map(render).mkString("[", ",", "]")
      case (f, h) => s"${render(f)}:${render(h)}"
      case l: Long => s"${l}L"
      case x => x.toString
    }
    def outputs(p: Array[Byte]): String =
      Seq(decodeMeta(p), decodeGifPixels(p), sampleGifFrames(p, 1),
        sampleGifFrames(p, 2), videoFrameDhashes(p, 1),
        videoFrameDhashes(p, 2), sceneDiffs(p)).map(render).mkString(";")
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    var cases = 0
    for (id <- 1L to 3L;
         gif <- Seq(gifFixture(id), gifAnimFixture(id), gifSceneFixture(id))) {
      val truncated = (0 to gif.length).map(n => gif.take(n))
      val flipped = for (at <- blockBytes(gif);
                         mask <- Seq(0x01, 0x0a, 0x0c, 0x80, 0xff)) yield {
        val p = gif.clone(); p(at) = (p(at) ^ mask).toByte; p
      }
      for (p <- truncated ++ flipped) {
        sha.update(outputs(p).getBytes("UTF-8")); sha.update('\n'.toByte)
        cases += 1
      }
    }
    val digest = sha.digest().map("%02x".format(_)).mkString
    assert(digest ===
      "9c627947aa6fd2af42aa6f7dccff283980b23603ef41e886d4b982d8adad00f6",
      s"$cases cases")
  }

  test("property: WAV encode/decode round-trips arbitrary 16-bit PCM, honest under truncation") {
    val gen = for {
      sr <- Gen.choose(8000, 48000); ch <- Gen.choose(1, 3)
      n <- Gen.choose(0, 400); junk <- Gen.choose(0, 9)
      seed <- Gen.choose(0L, 1L << 30); cut <- Gen.choose(0, 64)
    } yield (sr, ch, n, junk, seed, cut)
    check(Prop.forAll(gen) { case (sr, ch, n, junk, seed, cut) =>
      val samples = Array.tabulate(n)(i =>
        (((seed * 31 + i * 7919L) % 65536L) - 32768L).toShort)
      val bytes = graft.llm.Multimodal.encodeWav(sr, ch, samples, junk)
      val pcm = graft.llm.Multimodal.decodeWavPcm(bytes)
      val okFull = pcm != null && pcm.sampleRate == sr && pcm.channels == ch &&
        pcm.samples.toSeq == samples.toSeq
      // truncating inside the data chunk decodes the exact sample prefix
      val cut2 = math.min(cut, 2 * n)
      val cutPcm = graft.llm.Multimodal.decodeWavPcm(bytes.dropRight(cut2))
      val okCut = cutPcm != null &&
        cutPcm.samples.toSeq == samples.take((2 * n - cut2) / 2).toSeq
      okFull && okCut
    }, cases = 40)
  }

  test("property: spectral audio hash is EXACT under gain, DC shift, and k-fold repeat") {
    // For ANY PCM clip (not just the oracle fixtures): scaling every
    // sample by a positive gain, adding a constant DC offset (within
    // 16-bit headroom), and repeating each sample k times all leave the
    // spectral hash bit-identical — the zero-sum table rows, the a^2
    // energy scaling, and the global-tap-grid floor identity are exact
    // claims, so they must hold on random audio, not fixtures.
    import graft.llm.Multimodal.{audioSpectralHashBytes, encodeWav}
    val clipGen = for {
      n <- Gen.chooseNum(65, 400)
      seed <- Gen.chooseNum(1, 1 << 20)
    } yield Array.tabulate(n)(i =>
      ((seed.toLong * 31 + 13L * i * i + 7L * i) % 4001L - 2000L).toShort)
    check(Prop.forAll(clipGen, Gen.chooseNum(2, 4), Gen.chooseNum(1, 5),
      Gen.chooseNum(-40, 40)) { (base, k, gain, dc) =>
      val h = audioSpectralHashBytes(encodeWav(8000, 1, base)).toSeq
      val gained = base.map(v => (v.toLong * gain + dc).toShort)
      val repeated = Array.tabulate(base.length * k)(i => base(i / k))
      audioSpectralHashBytes(encodeWav(8000, 1, gained)).toSeq == h &&
        audioSpectralHashBytes(encodeWav(8000, 1, repeated)).toSeq == h &&
        audioSpectralHashBytes(encodeWav(8000, 1,
          repeated.map(v => (v.toLong * gain + dc).toShort))).toSeq == h
    }, cases = 30)
  }

  test("property: extractLinks equals the href construction it parsed") {
    // Random anchor soup: generated pages carry known absolute links in
    // both quote styles plus relative/js/mailto noise and stray text;
    // extraction must return exactly the distinct non-self domain edges.
    val s = spark
    import s.implicits._
    val domGen = Gen.oneOf("alpha.com", "beta.org", "gamma.net", "delta.io")
    val pageGen = for {
      srcDom <- domGen
      links <- Gen.listOf(Gen.zip(domGen, Gen.oneOf(true, false)))
      noise <- Gen.oneOf("", "<a href=\"/rel\">r</a>",
        "<a href='javascript:void(0)'>j</a>", "<a href=\"mailto:x@y.z\">m</a>",
        "<p>plain &amp; text</p>")
    } yield {
      val anchors = links.map { case (d, dq) =>
        if (dq) s"""<a class="x" href="https://$d/p">l</a>"""
        else s"<a href='https://$d/p'>l</a>"
      }.mkString
      (s"https://$srcDom/page", s"<html><body>$noise$anchors</body></html>",
        links.map(_._1).filter(_ != srcDom).toSet.map((d: String) => (srcDom, d)))
    }
    check(Prop.forAll(Gen.listOfN(6, pageGen)) { pages =>
      val df = pages.map(p => (p._1, p._2)).toDF("url", "html")
      val got = graft.llm.Graph.extractLinks(df, "url", "html")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      got == pages.flatMap(_._3).toSet
    }, cases = 12)
  }

  test("property: diversitySample keeps canonicals, and kept sets shrink as alpha grows") {
    // For any clustering: every cluster's min id always survives; the
    // kept set at alpha2 >= alpha1 is a SUBSET of the alpha1 set (same
    // hash, smaller cutoff — membership stability, the domainCap/
    // hashSample contract); alpha = 0 keeps everything; singletons
    // always survive.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col => c}
    val rowGen = for {
      id <- Gen.chooseNum(0L, 400L)
      cl <- Gen.chooseNum(0L, 5L)
    } yield (id, cl * 1000L)
    check(Prop.forAll(Gen.listOfN(40, rowGen),
      Gen.chooseNum(1, 6), Gen.chooseNum(1, 6)) { (rowsRaw, a1i, a2i) =>
      val rows = rowsRaw.distinctBy(_._1)
      val docs = rows.map(_._1).toDF("doc_id")
      // clusterPairs-shaped input: cluster_id = min member id
      val byCl = rows.groupBy(_._2).values.toSeq
      val clusters = byCl.flatMap { ms =>
        val canon = ms.map(_._1).min
        ms.map(m => (m._1, canon))
      }.toDF("doc_id", "cluster_id")
      val (a1, a2) = (math.min(a1i, a2i) * 0.25, math.max(a1i, a2i) * 0.25)
      def kept(alpha: Double): Set[Long] =
        graft.llm.Dedup.diversitySample(docs, "doc_id", clusters, alpha)
          .collect().map(_.getLong(0)).toSet
      val k0 = kept(0.0)
      val k1 = kept(a1)
      val k2 = kept(a2)
      val canons = byCl.map(_.map(_._1).min).toSet
      k0 == rows.map(_._1).toSet &&
        canons.subsetOf(k2) && k2.subsetOf(k1) && k1.subsetOf(k0)
    }, cases = 8)
  }
}
