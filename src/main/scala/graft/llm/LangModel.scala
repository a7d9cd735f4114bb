package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expr.BigramLm
import graft.sources.ParquetIO

/** CCNet-style language-model perplexity quality filter
  * (Wenzek et al., "CCNet: Extracting High Quality Monolingual Datasets
  * from Web Crawl Data", 2020): score every document by how surprising
  * its character sequence is under a language model trained on a trusted
  * slice of the corpus, then keep/bucket by the score. CCNet uses a
  * word-level KenLM; the engine ships the same pipeline shape with a
  * char-bigram add-α model, which is closed-form, oracle-replayable, and
  * dense (27² = 729 parameters).
  *
  * Scale anatomy (the 100 TB story):
  *   - TRAINING is one map-side-combined aggregate: a codegen'd native
  *     (`char_bigram_counts`) reduces each document to its ≤729-entry
  *     bigram histogram, so the explode+groupBy runs on vocabulary-bounded
  *     rows — never corpus characters. The model collect is ≤729 rows
  *     (model parameters, same defense as the k-means centroid pin).
  *   - SERVING is a pure per-row projection: the dense model freezes into
  *     the plan as a 5.7 KB binary literal probed by the codegen'd
  *     `lm_bits` native — zero joins, zero shuffles, composes with any
  *     downstream filter.
  *
  * Determinism contract (shared with the DuckDB oracle):
  *   - normalization: `trim(regexp_replace(lower(text), '[^a-z]+', ' '))`
  *     on both engines (ASCII corpus; byte-identical results).
  *   - each model term is round(log2((n+α)/(m+αV)), 6) with α = 0.5 —
  *     6-dp rounding absorbs the ≤1-ulp log2 divergence across engines.
  *   - a document's score folds count·term over bigrams in ascending
  *     slot order = `ORDER BY bigram` binary order; every term is
  *     strictly negative so the 0.0 seed is IEEE-identical to DuckDB's
  *     first-element-seeded `list_reduce`.
  */
object LangModel {

  /** α of the add-α smoothing; αV = 13.5 appears in the oracle SQL. */
  val Alpha = 0.5

  /** Lowercase, collapse non-letters to single spaces, trim. */
  def normText(c: Column): Column =
    trim(regexp_replace(lower(c), "[^a-z]+", " "))

  private def normSql(textCol: String): String =
    s"trim(regexp_replace(lower($textCol), '[^a-z]+', ' '))"

  /** Train the dense bigram model on `train`'s text column: one
    * vocabulary-bounded aggregate, a ≤729-row collect, and add-α terms
    * computed with Spark's own log2 (StrictMath) + HALF_UP 6-dp round so
    * the DuckDB oracle's `round(log2(...), 6)` replays them exactly.
    * Slots never seen in training get the smoothed fallback
    * (α / (m(c1) + αV), degenerating to 1/V when c1 is unseen), so the
    * returned array is fully dense and scoring needs no backoff logic. */
  def fitBigramLm(train: DataFrame, textCol: String): Array[Double] = {
    graft.GraftExtensions.install(train.sparkSession)
    val rows = train
      .select(normText(col(textCol)).as("__t__"))
      .where(col("__t__").isNotNull)
      .select(explode(call_function("char_bigram_counts", col("__t__"))))
      .groupBy(col("key")).agg(sum("value").as("n"))
      .collect()
    val counts = new Array[Long](BigramLm.Slots)
    rows.foreach { r => counts(BigramLm.slotOf(r.getString(0))) = r.getLong(1) }
    val marg = Array.tabulate(BigramLm.V) { c1 =>
      var m = 0L; var c2 = 0
      while (c2 < BigramLm.V) { m += counts(c1 * BigramLm.V + c2); c2 += 1 }
      m
    }
    val aV = Alpha * BigramLm.V
    Array.tabulate(BigramLm.Slots) { s =>
      val p = (counts(s) + Alpha) / (marg(s / BigramLm.V) + aV)
      // Spark's Log2 evaluates via StrictMath.log (see TextEntropy) —
      // required for parity with the oracle's round(log2(x), 6)
      val t = java.lang.StrictMath.log(p) / java.lang.StrictMath.log(2.0)
      java.math.BigDecimal.valueOf(t + 0.0)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    }
  }

  /** Per-row bits-per-bigram score (normalizes internally). NULL text →
    * NULL; empty/1-char normalized text → 0.0. */
  def bitsPerChar(textCol: Column, model: Array[Double]): Column =
    call_function("lm_bits", normText(textCol), lit(BigramLm.encode(model)))

  /** Per-gram integer micro-bits: −log₂(p)·1e6 rounded, with the
    * deterministic 30-bit OOV penalty when the continuation mass is zero
    * (unseen last word). Same literal on both engines. */
  private[graft] val KnTermSql: String =
    """CASE WHEN p <= 0 THEN 30000000
       ELSE CAST(round((-log2(p)) * 1000000) AS BIGINT) END"""

  /** Per-level interpolated-KN probability formula, GENERATED (one
    * source of truth for the Spark lowering AND the oracle): level 1 is
    * the continuation-unigram base, level k ≥ 2 interpolates its
    * (adjusted-)count estimate with the already-computed level-(k−1)
    * probability `p{k-1}`. Columns per level: cnt$k (gram count at the
    * level, NULL if unseen), tot$k / nfw$k (context mass / distinct
    * continuations, NULL if the context is unseen). Fixed D = 0.75. */
  private[graft] def knLevelPSql(k: Int): String =
    if (k == 1)
      """coalesce(CAST(cnt1 AS DOUBLE), CAST(0 AS DOUBLE))
         / CAST(tot1 AS DOUBLE)"""
    else
      s"""CASE
         WHEN cnt$k IS NOT NULL THEN
           ((CAST(cnt$k AS DOUBLE) - 0.75) / CAST(tot$k AS DOUBLE))
           + ((0.75 * CAST(nfw$k AS DOUBLE)) / CAST(tot$k AS DOUBLE))
             * p${k - 1}
         WHEN tot$k IS NOT NULL THEN
           ((0.75 * CAST(nfw$k AS DOUBLE)) / CAST(tot$k AS DOUBLE))
             * p${k - 1}
         ELSE p${k - 1}
       END"""

  /** Interpolated Kneser–Ney word N-GRAM perplexity for any order 2..8
    * (Kneser & Ney 1995; Chen & Goodman 1998's interpolated form, fixed
    * discount D = 0.75) — the word-level LM quality scorer the CCNet
    * pipeline runs (KenLM is KN-smoothed and ships order 5):
    *
    *   P(wₖ|ctx) = (c(ctx wₖ) − D)/c(ctx)
    *             + (D·N1+(ctx •)/c(ctx)) · P_KN(wₖ|shorter ctx)
    *
    * down to the continuation distribution N1+(•w)/N1+(••) as the
    * unigram base (the "how many contexts" estimate that makes KN beat
    * raw counts). One raw N-gram-count pass over the trusted slice, then
    * every lower level's adjusted-count table derives by the Kneser–Ney
    * rule (level-k count of gram u = number of DISTINCT left extensions
    * of u among level-(k+1) SEEN grams), contexts aggregate per level,
    * and scoring LEFT-joins the 2(N−1)+1 vocabulary-bounded model tables
    * (AQE broadcasts them) before folding the probability chain
    * p1 → … → pN with the per-level generated formula ([[knLevelPSql]],
    * shared verbatim with the oracle, so the IEEE op order is identical
    * on both engines). Unseen contexts back off entirely; an unseen last
    * word takes a flat 30-bit OOV penalty. Tokenization = the shared
    * Unicode tokenizer norm ([[TextOps.letterWords]]); no sentence
    * markers (KenLM's <s> padding is a corpus prep choice). Integer
    * micro-bit terms ([[KnTermSql]]) keep per-doc sums order-free; short
    * docs (< order words) re-emit as (0, 0.0). Orders 2 and 3 serve
    * q_lm_kn and q_lm_kn3, whose oracles replay the dedicated bigram and
    * trigram formulas value-for-value.
    * Output: (idCol, n_ngrams, bits_per_ngram). */
  def knNgramScore(
      docs: DataFrame,
      train: DataFrame,
      idCol: String,
      textCol: String,
      order: Int = 5,
      scope: CacheScope = CacheScope.global,
      prune: Seq[Long] = Seq.empty): DataFrame = {
    val seen = knPruned(levelTables(train, textCol, order, scope, knCount),
      prune)
    // per-level ctx aggregates over the cached level tables, as in r17:
    // a fused all-levels ctx aggregate (union + one groupBy + cache) was
    // built and MEASURED this round — the extra InMemoryRelation encode
    // of the model-sized union cost more than the removed stages
    // (q_lm_kn5 4.3 → 5.3 s steady) and was reverted per guide §1.1
    knScoreFromTables(docs, idCol, textCol, order, seen(_),
      Some(k => knCtxTable(seen(k), k)), tot1Of(seen(1)))
  }

  /** KenLM-style count PRUNING (`--prune` thresholds, one per level
    * 1..N; missing/0 = keep all): the model STORES only grams whose
    * level count exceeds the level's threshold. Thresholding happens
    * AFTER the full adjusted-count derivation (the KenLM rule — lower
    * levels derive from the unpruned level above, so pruning level k
    * never changes level k−1's counts); everything downstream of the
    * stored tables — context aggregates, the unigram total, scoring
    * joins — sees only kept grams, and a pruned gram scores through
    * backoff exactly like an unseen one. */
  private def knPruned(
      seen: Array[DataFrame], prune: Seq[Long]): Array[DataFrame] =
    if (prune.forall(_ <= 0)) seen
    else seen.zipWithIndex.map { case (df, k) =>
      val t = if (k >= 1 && k <= prune.length) prune(k - 1) else 0L
      if (df == null || t <= 0) df else df.where(col(s"cnt$k") > t)
    }

  /** Per-level STUPID BACKOFF score (Brants et al. 2007 §3, the LM
    * smoothing built FOR distributed web-scale training — no
    * discounting, no continuation counts, fixed backoff α = 0.4, scores
    * unnormalized by design): level 1 is the raw relative frequency,
    * level k ≥ 2 uses the raw count ratio when the gram is seen and
    * α·S(level k−1) otherwise. GENERATED and shared verbatim with the
    * oracle, like [[knLevelPSql]]. */
  private[graft] def sbLevelPSql(k: Int): String =
    if (k == 1)
      """coalesce(CAST(cnt1 AS DOUBLE), CAST(0 AS DOUBLE))
         / CAST(tot1 AS DOUBLE)"""
    else
      s"""CASE WHEN cnt$k IS NOT NULL THEN
           CAST(cnt$k AS DOUBLE) / CAST(tot$k AS DOUBLE)
         ELSE 0.4 * p${k - 1} END"""

  /** STUPID BACKOFF word N-gram scoring (Brants et al. 2007 — "Large
    * Language Models in Machine Translation", the Google MapReduce LM):
    * the smoothing a 100 TB corpus actually trains, because every model
    * table is a plain COUNT — one raw N-gram pass, lower levels derive
    * by SUFFIX-SUM (level-k count of gram u = Σ counts of level-(k+1)
    * grams ending in u — the sliding-window suffix definition, one
    * corpus pass total, documented deviation from per-level recounting
    * which differs only at document-boundary windows), contexts reuse
    * the same aggregate shape as KN, and the score chain is the shared
    * generated formula ([[sbLevelPSql]]). S is intentionally NOT a
    * probability (Brants: "we do not normalize"); the micro-bit fold
    * treats it as one, which is the standard bits-proxy use. Output:
    * (idCol, n_ngrams, bits_per_ngram). */
  def sbNgramScore(
      docs: DataFrame,
      train: DataFrame,
      idCol: String,
      textCol: String,
      order: Int = 5,
      scope: CacheScope = CacheScope.global): DataFrame = {
    val seen = levelTables(train, textCol, order, scope, sbSuffixSum)
    // SB's formula reads tot_k only on gram-HIT rows, so each level's
    // context total pre-merges onto the gram rows at the model layer
    // (vocabulary-bounded join; every gram's context exists by
    // construction) and scoring probes N tables instead of 2N−1 —
    // identical values, half the broadcast builds per scored corpus.
    // Collapsing these per-level joins into one window over the fused
    // level union was MEASURED and regressed: it pays a model-sized
    // extra InMemoryRelation encode (q_lm_sb5 3.7 → 3.95 s steady,
    // cpu 28 → 37 s at sf0.1), reverted per guide §1.1.
    def seenTot(k: Int): DataFrame =
      if (k == 1) seen(1)
      else seen(k)
        .join(knCtxTable(seen(k), k),
          substring_index(col("g"), " ", k - 1) === col(s"c$k"))
        .select(col("g"), col(s"cnt$k"), col(s"tot$k"))
    knScoreFromTables(docs, idCol, textCol, order, seenTot, None,
      tot1Of(seen(1)), sbLevelPSql)
  }

  /** Model-size PROFILE of the order-N KN model — the artifact report a
    * pruning decision reads (rows per level ≈ parquet size per level;
    * the singleton tail this exposes is what [[knNgramScore]]'s `prune`
    * removes): one row per level with its gram count and total mass.
    * Output: (level, n_grams, total_count), level ascending. */
  def knModelProfile(
      train: DataFrame,
      textCol: String,
      order: Int = 5,
      scope: CacheScope = CacheScope.global): DataFrame = {
    val seen = levelTables(train, textCol, order, scope, knCount)
    levelProfile(order, seen(_))
  }

  /** [[knModelProfile]] read from a PERSISTED [[knNgramFit]] artifact —
    * the serve-side profile: the report a pruning/sizing decision reads
    * is a property of the STORED model, so production computes it from
    * the level tables the fit already wrote (vocabulary-bounded scans),
    * never by re-deriving the tables from the corpus. Output contract
    * identical to [[knModelProfile]] (LlmSpec pins value-parity). */
  def knModelProfileFromDir(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      order: Int = 5): DataFrame = {
    requireOrder(order)
    levelProfile(order, k => ParquetIO.read(spark, s"$dir/level$k"))
  }

  /** One (level, n_grams, total_count) row per level 1..order. */
  private def levelProfile(order: Int, level: Int => DataFrame): DataFrame =
    (1 to order).map { k =>
      level(k).agg(
        count(lit(1)).as("n_grams"),
        sum(col(s"cnt$k")).as("total_count"))
        .select(lit(k.toLong).as("level"), col("n_grams"),
          col("total_count"))
    }.reduce(_.unionByName(_))

  /** INCREMENTAL maintenance of a persisted UNPRUNED [[knNgramFit]]
    * model — the 100 TB production shape: adding a crawl shard must not
    * refit over yesterday's petabytes. The only corpus pass is over the
    * DELTA shard (its raw order-N gram counts); the stored level-N
    * table merges by count addition (raw window counts are exactly
    * additive across a document-disjoint shard union — grams never
    * cross document boundaries), and every lower adjusted-count level
    * re-derives from the merged level-N table by the same level step
    * ([[lowerLevel]]) the full fit uses — a gram-table-sized
    * (Heaps-bounded) aggregation chain, not a corpus pass. Writes the
    * updated model to `dstDir` (versioned-artifact update — never
    * in-place, so a crash mid-write cannot corrupt the serving model and
    * readers of `srcDir` are undisturbed). The result is bit-identical
    * to a full refit on the combined corpus (spec-pinned). NOT valid on
    * a count-pruned model: pruning discards the singleton tail the merge
    * needs. */
  def knNgramFitDelta(
      newDocs: DataFrame,
      textCol: String,
      srcDir: String,
      dstDir: String,
      order: Int = 5): Unit = {
    requireOrder(order)
    require(srcDir != dstDir,
      "delta fit writes a new model version; srcDir must differ from dstDir")
    graft.GraftExtensions.install(newDocs.sparkSession)
    val spark = newDocs.sparkSession
    readPruneMarker(spark, srcDir) match {
      case Some("none") => // unpruned: the additive level-N merge is sound
      case Some(spec) => throw new IllegalArgumentException(
        s"knNgramFitDelta requires an UNPRUNED source model, but $srcDir " +
          s"was fit with prune=[$spec]: pruning discards the singleton " +
          "tail the additive level-N merge needs. Refit unpruned, or " +
          "apply pruning at score time via knNgramScore(prune=...).")
      case None => throw new IllegalArgumentException(
        s"$srcDir carries no _prune_spec marker (predates it, or is not " +
          "a knNgramFit artifact); refit with knNgramFit to enable delta " +
          "maintenance.")
    }
    val n = order
    ParquetIO.read(spark, s"$srcDir/level$n")
      .unionByName(topLevel(newDocs, textCol, n))
      .groupBy(col("g")).agg(sum(col(s"cnt$n")).as(s"cnt$n"))
      .write.mode("overwrite").parquet(s"$dstDir/level$n")
    // derive from the WRITTEN upper level (read back) so the lineage
    // per level is one scan + one aggregate, not a re-derivation chain
    for (k <- (n - 1) to 1 by -1)
      lowerLevel(ParquetIO.read(spark, s"$dstDir/level${k + 1}"), k, knCount)
        .write.mode("overwrite").parquet(s"$dstDir/level$k")
    tot1Of(ParquetIO.read(spark, s"$dstDir/level1"))
      .write.mode("overwrite").parquet(s"$dstDir/tot1")
    // ctx tables are deliberately NOT materialized here: the serve path
    // derives them on the fly when absent (value-identical), and
    // measurement showed the 4 extra aggregate+write jobs cost the
    // maintenance op ~1.3 s at sf0.1 — serve-side amortization belongs
    // to the fit/promote step, not the delta critical path.
    // the merged model is itself unpruned — mark it so deltas chain
    writePruneMarker(spark, dstDir, Seq.empty)
  }

  private def requireOrder(order: Int): Unit =
    require(order >= 2 && order <= 8, "order must be in [2, 8]")

  /** Level derivation aggregates for [[lowerLevel]]: Kneser–Ney counts
    * the DISTINCT left extensions of a gram among the level above;
    * Stupid Backoff sums the counts of the grams it is a suffix of. */
  private val knCount: Int => Column = _ => count(lit(1))
  private val sbSuffixSum: Int => Column = k => sum(col(s"cnt${k + 1}"))

  /** Level k from level k + 1: one row per k-word suffix of the upper
    * level's grams, counted by `agg(k)`. */
  private def lowerLevel(
      upper: DataFrame, k: Int, agg: Int => Column): DataFrame = upper
    .groupBy(substring_index(col("g"), " ", -k).as("g"))
    .agg(agg(k).as(s"cnt$k"))

  /** The raw order-n level: one row per n-gram of `df` with its count. */
  private def topLevel(df: DataFrame, textCol: String, n: Int): DataFrame =
    knGramsOf(df, textCol, n)
      .groupBy(col("tg").as("g")).agg(count(lit(1)).as(s"cnt$n"))

  /** The 1-row unigram total the level-1 formula divides by. */
  private def tot1Of(level1: DataFrame): DataFrame =
    level1.agg(sum(col("cnt1")).as("tot1"))

  /** The order-N model's level tables: seen(k) = one row per SEEN k-gram
    * with its level-k count — raw at k = N, derived below by
    * [[lowerLevel]] with `agg` ([[knCount]] or [[sbSuffixSum]]).
    * Index 1..N. */
  private def levelTables(
      train: DataFrame,
      textCol: String,
      order: Int,
      scope: CacheScope,
      agg: Int => Column): Array[DataFrame] = {
    requireOrder(order)
    graft.GraftExtensions.install(train.sparkSession)
    val seen = new Array[DataFrame](order + 1)
    // Sequential level chain, deliberately: two fused derivations were
    // built and MEASURED — every N-gram exploded into its lower-level
    // suffixes and aggregated once (KN needs a distinct, then a count)
    // shuffles the 4×-exploded suffix set where the chain shuffles each
    // shrinking level once; q_lm_kn5 regressed 4.3 → 5.8 s wall /
    // 28 → 42 s cpu at sf0.1, and the telescoped SB suffix sum regressed
    // q_lm_sb5 the same way. Both were reverted per guide §1.1.
    seen(order) = scope.cache(topLevel(train, textCol, order))
    for (k <- (order - 1) to 1 by -1)
      seen(k) = scope.cache(lowerLevel(seen(k + 1), k, agg))
    seen
  }

  /** Level-k context aggregate (first k−1 words): mass + distinct
    * continuations. */
  private def knCtxTable(seenK: DataFrame, k: Int): DataFrame = seenK
    .groupBy(substring_index(col("g"), " ", k - 1).as(s"c$k"))
    .agg(sum(col(s"cnt$k")).as(s"tot$k"), count(lit(1)).as(s"nfw$k"))

  /** The n-word shingles of `df`'s text column, one row per occurrence
    * in `tg`, next to `cols`; documents shorter than n words emit none. */
  private def knGramsOf(
      df: DataFrame, textCol: String, n: Int, cols: Column*): DataFrame = df
    .withColumn("__toks__", TextOps.letterWords(textCol))
    .where(size(col("__toks__")) >= n &&
      element_at(col("__toks__"), 1) =!= "")
    .select(cols :+ explode(TextOps.wordShingles("__toks__", n)).as("tg"): _*)

  /** PERSIST the order-N KN model — the train-once / score-many shape a
    * production LM filter runs (KenLM serializes its model the same
    * way, as a probing table per level): the N seen-gram level tables
    * and the 1-row total written as plain parquet under `dir`
    * (`level<k>/`, `tot1/`). Every table is vocabulary-bounded
    * (Heaps-law gram counts), so the artifact is small relative to the
    * corpus and re-reading it is a scan, not a recount. */
  def knNgramFit(
      train: DataFrame,
      textCol: String,
      dir: String,
      order: Int = 5,
      scope: CacheScope = CacheScope.global,
      prune: Seq[Long] = Seq.empty): Unit = {
    val seen = knPruned(levelTables(train, textCol, order, scope, knCount),
      prune)
    for (k <- 1 to order)
      seen(k).write.mode("overwrite").parquet(s"$dir/level$k")
    tot1Of(seen(1)).write.mode("overwrite").parquet(s"$dir/tot1")
    // persist the context aggregates (post-prune, exactly what scoring
    // probes) so serves are pure scans — the KenLM stored-backoff shape
    for (k <- 2 to order)
      knCtxTable(seen(k), k).write.mode("overwrite").parquet(s"$dir/ctx$k")
    writePruneMarker(train.sparkSession, dir, prune)
  }

  /** Prune-spec marker written next to the level tables: delta
    * maintenance ([[knNgramFitDelta]]) is only sound on UNPRUNED models
    * (pruning drops the singleton tail the additive level-N merge
    * needs), so the artifact records how it was fit and the delta op
    * refuses anything else — misuse fails loudly instead of silently
    * producing a corrupted merged model. Hadoop FS API so the marker
    * travels with the artifact on any storage the model lives on. */
  private def writePruneMarker(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      prune: Seq[Long]): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_prune_spec")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write((if (prune.forall(_ <= 0)) "none"
                   else prune.mkString(",")).getBytes("UTF-8"))
    finally out.close()
  }

  private def readPruneMarker(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_prune_spec")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim)
      finally in.close()
    }
  }

  /** Score through a PERSISTED [[knNgramFit]] model — no retraining,
    * no corpus pass over the trusted slice: the level tables read back
    * as-is and the identical scoring join + generated formula chain
    * runs (LlmSpec pins value-identity with [[knNgramScore]]). */
  def knNgramScoreWithModel(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      dir: String,
      order: Int = 5): DataFrame = {
    requireOrder(order)
    val spark = docs.sparkSession
    def seen(k: Int): DataFrame = ParquetIO.read(spark, s"$dir/level$k")
    // the fit persists the context aggregates next to the level tables
    // (KenLM stores its backoff tables the same way) so every serve is
    // pure scans — re-aggregating them per serve was N−1 shuffles per
    // score run. Older artifacts without ctx dirs derive on the fly.
    val ctxPersisted = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/ctx2")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    def ctx(k: Int): DataFrame =
      if (ctxPersisted) ParquetIO.read(spark, s"$dir/ctx$k")
      else knCtxTable(seen(k), k)
    // re-aggregate the 1-row artifact so the cross join's build side is
    // PROVABLY single-row in the plan (a bare file scan is not — the
    // whole-suite BNLJ lint rejects it), at the cost of nothing: the
    // file holds exactly one row, max = the value
    val tot1 =
      ParquetIO.read(spark, s"$dir/tot1").agg(max(col("tot1")).as("tot1"))
    knScoreFromTables(docs, idCol, textCol, order, seen, Some(ctx), tot1)
  }

  /** The shared scoring half: explode doc N-grams, LEFT-join the level
    * and context tables, fold the generated per-level probability
    * chain.
    *
    * `ctx = None` means the level tables already CARRY their context
    * aggregates (the Stupid-Backoff merge: its formula reads tot_k only
    * when cnt_k hit, so seen⋈ctx pre-merges at the vocabulary-bounded
    * model layer and scoring probes N tables instead of 2N−1 — half the
    * broadcast builds shipped to every executor. KN cannot merge: its
    * backoff branch reads tot_k/nfw_k on gram-MISS rows).
    *
    * DISTINCT-GRAM gate (guide §2.3 "aggregate before you shuffle", the
    * 100 TB variant recorded in round 17): when the level-N model table
    * is estimated to EXCEED the session's broadcast threshold, the model
    * joins will shuffle the doc-gram frame 2N−1 times — so instead each
    * distinct gram text scores ONCE through the chain and per-doc
    * occurrence counts (`__occ__`) re-attach after (integer micro-bits
    * make Σ_occ mb ≡ Σ_distinct occ·mb bit-identical). Below the
    * threshold the chain is all broadcast probes and the two
    * occurrence-scale shuffles the rewrite adds are a measured local
    * REGRESSION (r17) — so the gate follows the join strategy the
    * planner will pick. */
  private def knScoreFromTables(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      seen: Int => DataFrame,
      ctx: Option[Int => DataFrame],
      tot1: DataFrame,
      pSql: Int => String = knLevelPSql): DataFrame = {
    graft.GraftExtensions.install(docs.sparkSession)
    // attach the model to a frame carrying gram texts in `tg` and fold
    // the probability chain into integer micro-bits (`__mb__`)
    def attachModel(grams: DataFrame): DataFrame = {
      var scored = grams
      for (k <- n to 1 by -1) {
        val gk = if (k == n) col("tg") else substring_index(col("tg"), " ", -k)
        scored = scored
          .join(seen(k).withColumnRenamed("g", s"__g$k"),
            gk === col(s"__g$k"), "left")
          .drop(s"__g$k")
        ctx match {
          case Some(c) if k >= 2 =>
            scored = scored
              .join(c(k), substring_index(gk, " ", k - 1) === col(s"c$k"),
                "left")
              .drop(s"c$k")
          case _ =>
        }
      }
      scored = scored.crossJoin(broadcast(tot1)) // 1-row model attach
      for (k <- 1 to n)
        scored = scored.withColumn(s"p$k", expr(pSql(k)))
      scored
        .withColumn("p", col(s"p$n"))
        .withColumn("__mb__", expr(KnTermSql))
    }
    // threshold < 0 disables auto-broadcast: the model joins shuffle
    // either way, so the distinct-gram probe-side cut always pays
    val thresh = docs.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val distinctGrams = thresh < 0 ||
      seen(n).queryExecution.optimizedPlan.stats.sizeInBytes
        .toDouble > thresh.toDouble
    val agg0 =
      if (!distinctGrams)
        attachModel(knGramsOf(docs, textCol, n, col(idCol)))
          .groupBy(col(idCol))
          .agg(count(lit(1)).as("n_ngrams"), sum(col("__mb__")).as("__s__"))
      else {
        val perDoc = knGramsOf(docs, textCol, n, col(idCol))
          .groupBy(col(idCol), col("tg")).agg(count(lit(1)).as("__occ__"))
        val gramBits = attachModel(perDoc.select(col("tg")).distinct())
          .select(col("tg").as("__tg__"), col("__mb__"))
        perDoc.join(gramBits, col("tg") === col("__tg__"))
          .groupBy(col(idCol))
          .agg(sum(col("__occ__")).as("n_ngrams"),
            sum(col("__occ__") * col("__mb__")).as("__s__"))
      }
    val agg = agg0
      .select(col(idCol), col("n_ngrams"),
        round(col("__s__").cast("double") / col("n_ngrams").cast("double")
          / lit(1000000.0), 6).as("bits_per_ngram"))
    docs.select(col(idCol)).distinct()
      .join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        coalesce(col("bits_per_ngram"), lit(0.0)).as("bits_per_ngram"))
  }

  /** Interpreted HOF formulation of [[bitsPerChar]] over an inline
    * map<bigram,double> literal — the cross-engine semantic definition
    * the LangModelSpec pins the native against (the same native≡HOF
    * anchor pattern as TextOps.charEntropyHof), not the production path.
    * `textCol` is a column NAME (expr-string formulation, as the HOF
    * lambdas and the 729-entry map literal only compose in SQL text). */
  private[graft] def bitsPerCharHof(textCol: String, model: Array[Double]): Column = {
    val mapLit = model.zipWithIndex
      .map { case (v, slot) => s"'${BigramLm.bigramOf(slot)}', ${"%.6f".format(v)}D" }
      .mkString("map(", ", ", ")")
    val t = normSql(textCol)
    val grams = s"transform(sequence(1, length($t) - 1), i -> substring($t, i, 2))"
    expr(s"""CASE WHEN $textCol IS NULL THEN CAST(NULL AS DOUBLE)
        WHEN length($t) < 2 THEN 0.0D ELSE
        round(-(aggregate(array_sort(array_distinct($grams)), 0D,
          (acc, b) -> acc + CAST(size(filter($grams, x -> x = b)) AS DOUBLE)
                            * element_at($mapLit, b)))
          / CAST(length($t) - 1 AS DOUBLE) + 0D, 6) END""")
  }
}
