package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

import graft.expr.{AcCount, BloomAnyContain, BoilerplateStripExpr, CdcStarts, CharBigramCounts, CharEntropy, CharNgramBottomK, CharNgramJaccard, CharNgramMin, DeflateLen, FloatVecDot, GreedyChain, LmBits, MgSummary, MinHashSig, MinHashSigWords, NfcNormalize, SimhashBigrams, Sq8Code, Sq8Dot, Sq8Norm2, TopKBy, UnigramViterbi, UnigramViterbiExcl, UnigramViterbiPieces, VecArgmaxCell, WordKgramMd5s, WordNgramJaccard, WordNgrams, WordpieceEncode}

/** Session extension registering graft's native Catalyst expressions:
  * `float_vec_dot` (codegen'd array<float> dot product), `char_ngram_min`
  * (winnowing fingerprint), `minhash_sig` (MinHash signature) — each
  * replaces a CodegenFallback higher-order-function hot loop with plain
  * JVM code producing bit-identical values. Enable with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` or
  * imperatively via `GraftExtensions.install(spark)`.
  *
  * The config path also sizes Spark's compiled-code cache for graft's
  * plans ([[codegenCacheDefault]] on the live SparkContext's conf, before
  * the session's SharedState copies it); an explicit value wins. The size
  * is read once per JVM, when `CodeGenerator` first initializes, so it
  * only takes effect for a session built before the JVM's first codegen. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    org.apache.spark.GraftConfBridge.activeConf.foreach(GraftExtensions.codegenCacheDefault)
    GraftExtensions.functions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {
  /** Spark keys its compiled-code cache by (context class loader, code), so
    * in local mode each whole-stage class takes a driver key and an
    * executor key. Spark's default of 100 entries holds neither perfbench
    * pool, and every deck recompiled every class. 1000 holds the larger
    * pool five times over; a sweep runs every op once, so a cache holding
    * all of its keys would only serve a second sweep in the same JVM. */
  // keys: bi_dashboard deck 138, cold llm_pipeline deck 189, one pass of all 292 ops (sf0.01) 3161
  private val CodegenCacheEntries = 1000
  private val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"

  /** The codegen cache pair graft's sessions start with: a JVM system
    * property of the key wins over graft's default. */
  def codegenCache: (String, String) =
    CodegenCacheKey -> sys.props.getOrElse(CodegenCacheKey, CodegenCacheEntries.toString)

  /** Sets graft's codegen cache size on `conf` unless it carries one. */
  def codegenCacheDefault(conf: SparkConf): SparkConf = {
    val (key, size) = codegenCache
    conf.setIfMissing(key, size)
  }

  private type FnReg = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def intLit(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal int parameter, got $other")
  }

  /** One registration: `name` resolves to `cls` through `build`, which
    * receives the arguments and a reader of the int literal at an index.
    * A call with other than `arity` arguments fails before `build`. */
  private def fn(name: String, cls: Class[_], arity: Int)(
      build: (Seq[Expression], Int => Int) => Expression): FnReg =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      (args: Seq[Expression]) => {
        require(args.length == arity,
          s"$name takes exactly $arity argument${if (arity == 1) "" else "s"}")
        build(args, i => intLit(args(i), name))
      })

  private val functions: Seq[FnReg] = Seq(
    fn("float_vec_dot", classOf[FloatVecDot], 2)((a, _) => FloatVecDot(a.head, a(1))),
    fn("char_ngram_min", classOf[CharNgramMin], 2)(
      (a, int) => CharNgramMin(a.head, int(1))),
    fn("minhash_sig", classOf[MinHashSig], 2)((a, int) => MinHashSig(a.head, int(1))),
    fn("char_ngram_bottomk", classOf[CharNgramBottomK], 3)(
      (a, int) => CharNgramBottomK(a.head, int(1), int(2))),
    fn("char_ngram_jaccard", classOf[CharNgramJaccard], 3)(
      (a, int) => CharNgramJaccard(a.head, a(1), int(2))),
    fn("char_entropy", classOf[CharEntropy], 1)((a, _) => CharEntropy(a.head)),
    fn("simhash_bigrams", classOf[SimhashBigrams], 1)(
      (a, _) => SimhashBigrams(a.head)),
    fn("minhash_sig_words", classOf[MinHashSigWords], 3)(
      (a, int) => MinHashSigWords(a.head, int(1), int(2))),
    fn("word_kgram_md5s", classOf[WordKgramMd5s], 2)(
      (a, int) => WordKgramMd5s(a.head, int(1))),
    fn("bloom_any_contain", classOf[BloomAnyContain], 2)(
      (a, _) => BloomAnyContain(a.head, a(1))),
    fn("greedy_chain", classOf[GreedyChain], 3)(
      (a, int) => GreedyChain(a.head, a(1), int(2))),
    // bounded top-k by (score desc NULLS LAST, id asc) with map-side
    // combine — the k-bounded-state replacement for a row_number window
    fn("topk_by", classOf[TopKBy], 4)((a, int) => TopKBy(a.head, a(1), a(2), int(3))),
    fn("char_bigram_counts", classOf[CharBigramCounts], 1)(
      (a, _) => CharBigramCounts(a.head)),
    fn("lm_bits", classOf[LmBits], 2)((a, _) => LmBits(a.head, a(1))),
    fn("word_ngram_jaccard", classOf[WordNgramJaccard], 3)(
      (a, int) => WordNgramJaccard(a.head, a(1), int(2))),
    fn("ac_count", classOf[AcCount], 2)((a, _) => AcCount(a.head, a(1))),
    fn("unigram_viterbi", classOf[UnigramViterbi], 2)(
      (a, _) => UnigramViterbi(a.head, a(1))),
    fn("unigram_viterbi_pieces", classOf[UnigramViterbiPieces], 2)(
      (a, _) => UnigramViterbiPieces(a.head, a(1))),
    fn("unigram_viterbi_excl", classOf[UnigramViterbiExcl], 3)(
      (a, _) => UnigramViterbiExcl(a.head, a(1), a(2))),
    fn("deflate_len", classOf[DeflateLen], 1)((a, _) => DeflateLen(a.head)),
    fn("cdc_starts", classOf[CdcStarts], 2)((a, int) => CdcStarts(a.head, int(1))),
    fn("boilerplate_strip", classOf[BoilerplateStripExpr], 2)(
      (a, _) => BoilerplateStripExpr(a.head, a(1))),
    fn("nfc_normalize", classOf[NfcNormalize], 1)((a, _) => NfcNormalize(a.head)),
    fn("mg_summary", classOf[MgSummary], 2)((a, int) => MgSummary(a.head, int(1))),
    fn("word_ngrams", classOf[WordNgrams], 2)((a, int) => WordNgrams(a.head, int(1))),
    fn("wordpiece_encode", classOf[WordpieceEncode], 2)(
      (a, _) => WordpieceEncode(a.head, a(1))),
    fn("vec_argmax_cell", classOf[VecArgmaxCell], 3)(
      (a, _) => VecArgmaxCell(a.head, a(1), a(2))),
    // SQ8 scalar quantization (per-dim 8-bit affine codes): encode +
    // codegen'd dequantized dot/norm — the serving hot loop
    fn("vec_sq8_code", classOf[Sq8Code], 3)((a, _) => Sq8Code(a.head, a(1), a(2))),
    fn("vec_sq8_dot", classOf[Sq8Dot], 4)((a, _) => Sq8Dot(a.head, a(1), a(2), a(3))),
    fn("vec_sq8_norm2", classOf[Sq8Norm2], 3)((a, _) => Sq8Norm2(a.head, a(1), a(2))),
    // L2-argmin assignment (residual quantizers): score = vec·cv − cn/2
    // with ‖cv‖² in the struct's third field; norm operand ignored
    fn("vec_argmax_cell_l2", classOf[VecArgmaxCell], 3)(
      (a, _) => VecArgmaxCell(a.head, a(1), a(2), l2 = true)),
  )

  /** Imperative registration for sessions built without the extensions
    * config (e.g. a caller-provided SparkSession). Idempotent. */
  def install(spark: SparkSession): Unit =
    functions.foreach { case (id, info, builder) =>
      org.apache.spark.sql.GraftFunctionBridge.register(spark, id, info, builder)
    }

  /** True when the graft functions resolve in this session. */
  def installed(spark: SparkSession): Boolean =
    spark.catalog.functionExists("float_vec_dot")
}
