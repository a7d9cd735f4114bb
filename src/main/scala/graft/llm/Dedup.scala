package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Corpus deduplication operators (beyond-reference surface; SURVEY.md
  * §2.7). Every near-dup variant is CANDIDATE-GENERATION-BY-BUCKET-JOIN →
  * within-bucket verification: there is never an all-pairs comparison, so
  * the shuffle volume is O(docs × buckets-per-doc) and each reduce group is
  * one LSH bucket. At 100 TB the only skew risk is a hot bucket (e.g. the
  * empty-ish document); the verification join carries only (id, id) pairs
  * plus a second join back to shingle sets, so a salted repartition of one
  * hot bucket is a local fix, not a redesign.
  */
object Dedup {

  /** Exact dedup: one row per distinct normalized text, keeping the lowest
    * id — a single hash aggregate (map-side partial combine; no sort). */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .withColumn("__h__", md5(TextOps.normalize(col(textCol)).cast("binary")))
      .groupBy(col("__h__"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** Corpus SNAPSHOT DIFF — the data-lineage report an incremental
    * pipeline publishes with every corpus version: per id, `added` /
    * `removed` / `changed` / `unchanged` between two snapshots by EXACT
    * content hash (raw md5 — a diff reports what changed, so no
    * normalization), plus both hashes for downstream audit. One full
    * outer join on id: at 100 TB that is two scans and one shuffle per
    * side — or ZERO shuffles when snapshots are stored id-bucketed, the
    * same layout contract the posting indexes ride. Output:
    * (idCol, status, old_md5, new_md5). */
  def corpusDiff(
      oldDocs: DataFrame,
      newDocs: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    // explicit per-side PRESENCE flags: status must come from which side
    // of the full outer join matched, never from hash nullness — a NULL
    // text hashes to NULL and would misreport removed/changed as 'added'
    val o = oldDocs.select(col(idCol),
      md5(col(textCol).cast("binary")).as("old_md5"),
      lit(true).as("__in_old__"))
    val n = newDocs.select(col(idCol),
      md5(col(textCol).cast("binary")).as("new_md5"),
      lit(true).as("__in_new__"))
    o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__in_old__").isNull, "added")
          .when(col("__in_new__").isNull, "removed")
          .when(col("old_md5") <=> col("new_md5"), "unchanged")
          .otherwise("changed").as("status"),
        col("old_md5"), col("new_md5"))
  }

  /** Exact dedup with CANONICAL selection: among exact duplicates keep
    * the copy maximizing `priorityCol` (ties → lowest id) instead of
    * [[exact]]'s lowest-id-wins — the policy real pipelines want when
    * duplicate crawls differ in extraction quality, recency, or source
    * trust (keep the BEST copy, drop the rest). The priority must be
    * deterministic (6-dp-rounded scores, timestamps, source ranks…) or
    * the kept set isn't replayable.
    *
    * One map-side-combined aggregate on the content hash: the canonical
    * row is a struct-min of (priority-IS-NULL, −priority-ordering, id) —
    * no window, no second pass. Output: (idCol, priorityCol, n_copies),
    * one row per distinct normalized text. Priority NULLs LOSE to any
    * non-NULL copy (the leading boolean sorts false < true, so a
    * null-priority row can only win a group whose priorities are ALL
    * NULL — in which case ties fall to the lowest id and the emitted
    * priority is honestly NULL). */
  def exactCanonical(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      priorityCol: String): DataFrame =
    docs
      .withColumn("__h__", md5(TextOps.normalize(col(textCol)).cast("binary")))
      .withColumn("__k__",
        struct(col(priorityCol).isNull.as("pn"),
          (-col(priorityCol)).as("np"), col(idCol).as("id")))
      .groupBy(col("__h__"))
      .agg(min(col("__k__")).as("__best__"), count(lit(1)).as("n_copies"))
      .select(col("__best__.id").as(idCol),
        (-col("__best__.np")).as(priorityCol), col("n_copies"))

  /** Per-document n-gram NOVELTY — the memorization-risk / freshness
    * score dual to the dedup detectors: the fraction of a document's
    * positional word k-grams that occur exactly ONCE in the whole corpus
    * (a repeated gram anywhere — another doc or the same one — is not
    * novel). Low novelty = boilerplate/template/memorized content; the
    * per-doc SCORE complements [[substringSpans]]' span-level findings.
    *
    * Scale shape (the substringSpans skeleton): token-linear positional
    * gram hashing via the codegen'd `word_kgram_md5s` native on a
    * CACHED position frame (one hashing pass serves both the global
    * count and the per-doc join), ONE map-side-combined gram-count
    * aggregate, duplicated-gram dictionary equi-join (corpus-SHRUNK —
    * AQE broadcasts it), thin left join re-emitting sub-k docs as
    * zero-gram rows. Output: (idCol, n_grams, n_novel, novelty_frac
    * 6-dp; 0.0 when no grams). */
  def ngramNovelty(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      scope: CacheScope = CacheScope.global): DataFrame = {
    require(k >= 1, "k must be positive")
    graft.GraftExtensions.install(docs.sparkSession)
    val pos = scope.cache(docs
      .select(col(idCol), TextOps.tokens(col(textCol)).as("__toks__"))
      .select(col(idCol),
        explode(call_function("word_kgram_md5s", col("__toks__"), lit(k)))
          .as("__gh__")))
    val dupg = pos.groupBy(col("__gh__"))
      .agg(count(lit(1)).as("__c__"))
      .where(col("__c__") >= 2)
      .select(col("__gh__"))
    val perDoc = pos
      .join(dupg.withColumn("__dup__", lit(1)), Seq("__gh__"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__dup__").isNull, 1L).otherwise(0L)).as("n_novel"))
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        coalesce(round(col("n_novel").cast("double") / col("n_grams"), 6),
          lit(0.0)).as("novelty_frac"))
  }

  /** Per-group exact-dup statistics (docs vs distinct normalized hashes). */
  def exactStats(docs: DataFrame, groupCol: String, textCol: String): DataFrame =
    docs
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(TextOps.normalize(col(textCol)).cast("binary")))
          .as("n_unique"))

  /** The (`id`, `toks`) token rows of `docs`: each document's id and
    * whitespace tokens, documents with fewer than `minTokens` tokens
    * dropped (they hold no shingle). */
  private def tokenRows(
      docs: DataFrame, idCol: String, textCol: String, minTokens: Int,
      id: String = "__id__", toks: String = "__toks__"): DataFrame =
    docs
      .select(col(idCol).as(id), col(textCol).as("__text__"))
      .withColumn(toks, TextOps.tokens(col("__text__")))
      .where(size(col(toks)) >= minTokens)

  /** The one MinHash LSH band-row builder: one row per band of each row
    * of `tokens` — its `keep` columns plus (`__band__`, `__bh__`), the
    * band's hash over the MinHash signature of the tokens in `toks`. The
    * signature is the fused native graft.expr.MinHashSigWords
    * (value-identical to the CodegenFallback HOF chain). */
  private def bandRows(
      tokens: DataFrame, toks: String, keep: Seq[String],
      shingleSize: Int, numHashes: Int, rowsPerBand: Int): DataFrame = {
    require(numHashes == rowsPerBand * (numHashes / rowsPerBand),
      "numHashes must be a multiple of rowsPerBand")
    graft.GraftExtensions.install(tokens.sparkSession)
    tokens
      .withColumn("__sig__",
        expr(s"minhash_sig_words($toks, $shingleSize, $numHashes)"))
      .select(keep.map(col) :+
        posexplode(TextOps.bandHashes("__sig__", numHashes / rowsPerBand,
          rowsPerBand)).as(Seq("__band__", "__bh__")): _*)
  }

  /** The band-posting key `__bkey__`: the `parts` joined by ':' — equal
    * iff every part is equal, as no part (an int or an md5 hex) holds a
    * ':'. Every persisted band-posting index is keyed by it. */
  private[llm] def bandKey(parts: String*): Column =
    concat(parts.map(col).flatMap(c => Seq(lit(":"), c)).tail: _*)
      .as("__bkey__")

  /** The 6-dp word-`shingleSize`-gram Jaccard every candidate verifies. */
  private def jaccard(a: String, b: String, shingleSize: Int): Column =
    round(expr(s"word_ngram_jaccard($a, $b, $shingleSize)"), 6)

  /** One corpus side of the MinHash band join: the cached (`__id__`,
    * `__toks__`) token rows the verification reads back, and the id-only
    * band rows (`__id__`, `__band__`, `__bh__`) the band join shuffles.
    *
    * Hot-bucket guard (off by default, maxBucketSize <= 0): a degenerate
    * bucket — every near-empty doc hashing to one band value — makes the
    * band join quadratic IN THAT BUCKET. Production corpora cap or drop
    * such buckets (the docs inside are boilerplate, not near-dups of
    * interest); this is the skew fix for the one O(n²) risk in the
    * pipeline, applied per (band, hash) key via one windowed count under
    * the same partitioning the join needs anyway. Driver-gated queries
    * that set a cap must use the equally-parameterized oracle
    * (ops.Shared.minhashPairsCtes(maxBucketSize)) — it replays this exact
    * windowed count, so query and oracle can't desynchronize. */
  private def bandSide(
      docs: DataFrame, idCol: String, textCol: String, shingleSize: Int,
      numHashes: Int, rowsPerBand: Int, scope: CacheScope,
      maxBucketSize: Int): (DataFrame, DataFrame) = {
    // persisted: tokenization runs once for the band join AND the
    // verification joins (the materialize-features-first phase)
    val base = scope.cache(tokenRows(docs, idCol, textCol, shingleSize)
      .select(col("__id__"), col("__toks__")))
    val bandedAll = bandRows(base, "__toks__", Seq("__id__"), shingleSize,
      numHashes, rowsPerBand)
    val banded =
      if (maxBucketSize <= 0) bandedAll
      else bandedAll
        .withColumn("__bn__",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("__band__"), col("__bh__"))))
        .where(col("__bn__") <= maxBucketSize)
        .drop("__bn__")
    (base, banded)
  }

  /** The band join of two [[bandSide]]s on (band, hash) — a self-join
    * keeps a < b — as distinct (`aName`, `bName`) id pairs, with both
    * token sets joined back and the pairs at Jaccard ≥ `threshold`
    * kept: (`aName`, `bName`, jaccard). */
  private def verifiedBandJoin(
      l: (DataFrame, DataFrame), r: (DataFrame, DataFrame), aName: String,
      bName: String, shingleSize: Int, threshold: Double,
      selfJoin: Boolean): DataFrame = {
    val ((lBase, lBanded), (rBase, rBanded)) = (l, r)
    val onBand = col("a.__band__") === col("b.__band__") &&
      col("a.__bh__") === col("b.__bh__")
    lBanded.as("a")
      .join(rBanded.as("b"),
        if (selfJoin) onBand && col("a.__id__") < col("b.__id__") else onBand)
      .select(col("a.__id__").as(aName), col("b.__id__").as(bName))
      .distinct()
      .join(lBase.as("x"), col(aName) === col("x.__id__"))
      .join(rBase.as("y"), col(bName) === col("y.__id__"))
      .withColumn("jaccard", jaccard("x.__toks__", "y.__toks__", shingleSize))
      .where(col("jaccard") >= threshold)
      .select(col(aName), col(bName), col("jaccard"))
  }

  /** MinHash + LSH near-duplicate pairs.
    *
    * Pipeline: tokenize → distinct word n-gram shingles → MinHash signature
    * (numHashes) → band hashes (numBands × rowsPerBand) → posexplode +
    * self-equi-join on (band, hash) for candidates → exact Jaccard
    * verification WITHIN candidates only. Pairs with Jaccard ≥ threshold
    * survive. Candidate pairs carry only ids through the band join; shingle
    * sets are joined back for verification, keeping band-join shuffle rows
    * narrow ([[bandSide]], which also holds the `maxBucketSize` cap).
    *
    * With rowsPerBand=r, numBands=b, a pair of true Jaccard j collides in
    * ≥1 band with probability 1-(1-j^r)^b (e.g. j=0.9, r=2, b=4 → 99.87%).
    */
  def minhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      threshold: Double = 0.8,
      scope: CacheScope = CacheScope.global,
      maxBucketSize: Int = 0,
  ): DataFrame = {
    val side = bandSide(docs, idCol, textCol, shingleSize, numHashes,
      rowsPerBand, scope, maxBucketSize)
    verifiedBandJoin(side, side, "doc_a", "doc_b", shingleSize, threshold,
      selfJoin = true)
  }

  /** Cross-corpus MinHash near-dup JOIN — the "dedupe the new crawl
    * against the existing cleaned corpus" shape every incremental
    * training pipeline runs. Same LSH machinery as [[minhashPairs]] but
    * the band equi-join runs BETWEEN two corpora instead of within one:
    * never all-pairs, and the already-clean side's features could be a
    * precomputed table at 100 TB (band hashes are a pure function of the
    * text). Returns one row per near-dup (left_id, right_id) pair above
    * `threshold`.
    *
    * `maxBucketSize` caps each side's (band, hash) population
    * independently — a boilerplate bucket on EITHER side makes the join
    * product quadratic, and capping per side keeps the cap's oracle
    * replayable without a cross-side count. */
  def minhashJoin(
      left: DataFrame,
      leftId: String,
      leftText: String,
      right: DataFrame,
      rightId: String,
      rightText: String,
      shingleSize: Int = 3,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      threshold: Double = 0.8,
      scope: CacheScope = CacheScope.global,
      maxBucketSize: Int = 0,
  ): DataFrame = {
    def side(df: DataFrame, id: String, text: String) =
      bandSide(df, id, text, shingleSize, numHashes, rowsPerBand, scope,
        maxBucketSize)
    verifiedBandJoin(side(left, leftId, leftText),
      side(right, rightId, rightText), "left_id", "right_id", shingleSize,
      threshold, selfJoin = false)
  }

  /** Persistable MinHash INDEX of a cleaned corpus — the artifact the
    * production 100 TB dedup loop builds ONCE per corpus snapshot and
    * then queries with every new crawl slice, instead of re-hashing
    * yesterday's petabytes per crawl: one row per band posting, keyed by
    * the SINGLE composite [[bandKey]] "<band>:<band-hash>" (equality on
    * it ⟺ the (band, hash) pair equality the band join needs), with the
    * verification token set DENORMALIZED onto the posting (bands are
    * few — default 4 — and carrying tokens here means querying needs NO
    * second join back to the corpus: a candidate row already holds both
    * token sets). Columns: (`__id__`, `__bkey__`, `__toks__`).
    *
    * Persist with `ParquetIO.writeBucketed(index, table, path,
    * "__bkey__", buckets)`: the saved hash-on-join-key layout satisfies
    * the band join's required distribution, so a query against the
    * saved table plans ZERO exchanges on the index side — its shuffle
    * is paid once at index build (LlmSpec pins the plan shape). */
  def minhashIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
  ): DataFrame =
    bandRows(tokenRows(docs, idCol, textCol, shingleSize), "__toks__",
        Seq("__id__", "__toks__"), shingleSize, numHashes, rowsPerBand)
      .select(col("__id__"), bandKey("__band__", "__bh__"), col("__toks__"))

  /** Index MAINTENANCE — append a new slice's band postings into a
    * persisted [[minhashIndex]] bucketed table, closing the incremental
    * dedup loop so it NEVER rebuilds: crawl N queries the index
    * ([[minhashJoinIndexed]]), admits its survivors, appends them here
    * (a bucket-aligned write — the hash clustering the band join rides
    * is preserved, each append just adds a file per bucket), and crawl
    * N+1 queries the grown index. At 100 TB this turns index upkeep
    * from a full corpus re-hash per crawl into a slice-sized append.
    * `buckets` must match the table's original bucket count. */
  def minhashIndexAppend(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      table: String,
      shingleSize: Int = 3,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      buckets: Int = 8,
  ): Unit =
    graft.sources.ParquetIO.appendBucketed(
      minhashIndex(newDocs, idCol, textCol, shingleSize, numHashes,
        rowsPerBand),
      table, "__bkey__", buckets)

  /** The candidate frame of an indexed MinHash join, batch or streaming:
    * `newDocs`' keyed band rows (`__nid__`, `__ntoks__`, `__bkey__`),
    * wrapped by `persist`, joined to a [[minhashIndex]] on `__bkey__`,
    * Jaccard-verified inline, rows ≥ `threshold`. A pair colliding in
    * several bands repeats: the batch join adds a distinct, the streaming
    * gate dedupes in keyed state. */
  private[graft] def minhashIndexedCandidates(
      newDocs: DataFrame, idCol: String, textCol: String, index: DataFrame,
      shingleSize: Int, numHashes: Int, rowsPerBand: Int, threshold: Double,
      persist: DataFrame => DataFrame = identity): DataFrame = {
    val tokens = tokenRows(newDocs, idCol, textCol, shingleSize,
      "__nid__", "__ntoks__")
    persist(bandRows(tokens, "__ntoks__", Seq("__nid__", "__ntoks__"),
        shingleSize, numHashes, rowsPerBand)
      .select(col("__nid__"), col("__ntoks__"), bandKey("__band__", "__bh__")))
      .join(index, Seq("__bkey__"))
      .withColumn("jaccard", jaccard("__ntoks__", "__toks__", shingleSize))
      .where(col("jaccard") >= threshold)
  }

  /** INCREMENTAL cross-corpus near-dup join: [[minhashJoin]]'s output
    * with the right side a pre-built [[minhashIndex]] frame (typically
    * read back from its bucketed table). Signatures are computed ONLY
    * for the new slice; the index side is scanned as stored — with the
    * bucketed layout, corpus-side cost at query time is the scan, no
    * hashing and no shuffle, so growing the index does not grow the
    * per-crawl shuffle. Verification runs inline on the candidate rows
    * (both token sets are already present — no join back), de-duplicated
    * across bands by a distinct on the scored pair. The new-slice band
    * rows are cached, so the slice is hashed once even when a caller
    * materializes the result more than once. Returns
    * (left_id, right_id, jaccard) — [[minhashJoin]]'s exact contract,
    * so the q_dedup_cross oracle transfers. */
  def minhashJoinIndexed(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      index: DataFrame,
      shingleSize: Int = 3,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      threshold: Double = 0.8,
      scope: CacheScope = CacheScope.global,
  ): DataFrame =
    minhashIndexedCandidates(newDocs, idCol, textCol, index, shingleSize,
        numHashes, rowsPerBand, threshold, scope.cache)
      .select(col("__nid__").as("left_id"), col("__id__").as("right_id"),
        col("jaccard"))
      .distinct()

  /** EXACT Jaccard-threshold self-join via prefix filtering (public
    * AllPairs / PPJoin family: Bayardo et al. WWW'07, Xiao et al. WWW'08):
    * every pair of documents whose word-`shingleSize`-gram sets have
    * Jaccard ≥ `threshold`, with NO false negatives — the exact
    * complement of [[minhashJoin]], whose banding is probabilistic and
    * misses borderline pairs. Candidate generation never goes all-pairs:
    * under a global canonical gram order (corpus frequency ascending,
    * gram ascending — rarest first), two sets with J ≥ τ must share a
    * gram within their (|G| − ceil(τ·|G|) + 1)-prefix [the
    * prefix-filtering principle], so only prefix postings self-join —
    * per doc ≈(1−τ)·|G|+1 of its RAREST grams, and rare grams have small
    * postings lists. A length filter (τ·max(|Ga|,|Gb|) ≤ min) prunes
    * before the exact verification native scores each candidate pair.
    * Output: (left_id, right_id, jaccard[6dp]), left < right.
    *
    * Scale: two linear shuffles (gram-frequency join, per-doc regroup)
    * plus the prefix-posting self-join whose fan-out is bounded by
    * prefix rarity, not corpus size. On a corpus whose duplicate OUTPUT
    * is itself quadratic (everything ≈ everything) no exact join can be
    * sub-quadratic — that regime is what [[minhashJoin]]'s caps are for.
    */
  def jaccardJoinExact(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      threshold: Double = 0.8,
      scope: CacheScope = CacheScope.global,
  ): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    graft.GraftExtensions.install(docs.sparkSession)
    val grams = tokenRows(docs, idCol, textCol, shingleSize)
      .withColumn("__grams__",
        array_distinct(expr(s"word_ngrams(__toks__, $shingleSize)")))
      .withColumn("__sz__", size(col("__grams__")))
      .select("__id__", "__toks__", "__grams__", "__sz__")
    val gramsC = scope.cache(grams)
    val freq = gramsC
      .select(explode(col("__grams__")).as("__gram__"))
      .groupBy("__gram__").agg(count(lit(1)).as("__gf__"))
    // rarest-first prefix, p = |G| − ceil(τ·|G|) + 1; the ceil is biased
    // DOWN a hair: an over-long prefix only adds candidates, a short one
    // would break the no-false-negative guarantee
    // Prefix postings carry ONLY (gram, id, size) — the token-array
    // payload stays out of the self-join (guide §2.3/§8: shuffle keys and
    // metadata, attach heavy rows once the decision set is known). The
    // previous shape shipped each doc's token array once per prefix gram
    // on BOTH join sides and ran the exact verifier once per SHARED gram
    // (a pair sharing k prefix grams verified k times, deduplicated only
    // at the end) — measured 125 s process-CPU for a 6.7 s wall at sf0.1.
    val posting = gramsC
      .select(col("__id__"), col("__sz__"),
        explode(col("__grams__")).as("__gram__"))
      .join(freq, Seq("__gram__"))
      .groupBy("__id__")
      .agg(any_value(col("__sz__")).as("__sz__"),
        collect_list(struct(col("__gf__"), col("__gram__"))).as("__gl__"))
      .withColumn("__pref__",
        expr(s"""transform(
            slice(array_sort(__gl__), 1,
              __sz__ - CAST(ceil($threshold * __sz__ - 1e-9) AS INT) + 1),
            x -> x.__gram__)"""))
      .select(col("__id__"), col("__sz__"),
        explode(col("__pref__")).as("__gram__"))
    val postingC = scope.cache(posting)
    val left = postingC.select(col("__gram__"), col("__id__").as("__lid__"),
      col("__sz__").as("__lsz__"))
    val right = postingC.select(col("__gram__"), col("__id__").as("__rid__"),
      col("__sz__").as("__rsz__"))
    val cand = left.join(right, Seq("__gram__"))
      .where(col("__lid__") < col("__rid__") &&
        least(col("__lsz__"), col("__rsz__")).cast("double") >=
          lit(threshold) * greatest(col("__lsz__"), col("__rsz__")) - lit(1e-9))
      .select(col("__lid__"), col("__rid__"))
      .distinct() // one exact verification per candidate PAIR
    val toks = gramsC.select(col("__id__"), col("__toks__"))
    cand
      .join(toks.select(col("__id__").as("__lid__"),
        col("__toks__").as("__ltoks__")), Seq("__lid__"))
      .join(toks.select(col("__id__").as("__rid__"),
        col("__toks__").as("__rtoks__")), Seq("__rid__"))
      .withColumn("jaccard",
        round(expr(s"word_ngram_jaccard(__ltoks__, __rtoks__, $shingleSize)"), 6))
      .where(col("jaccard") >= threshold)
      // PRECONDITION (load-bearing since the r17 pair-distinct rewrite):
      // ids are unique per input row. The pair set is deduplicated ABOVE
      // the token attach, so a duplicated id would fan each pair out
      // per duplicate row here where the old verify-per-gram shape
      // collapsed them; every corpus feeding this op keys docs by a
      // unique id (the driver tables do by construction).
      .select(col("__lid__").as("left_id"), col("__rid__").as("right_id"),
        col("jaccard"))
  }

  /** EXACT containment-threshold join — [[jaccardJoinExact]]'s
    * asymmetric sibling: pairs where C(L→R) = |G_L ∩ G_R| / |G_L| ≥ τ,
    * i.e. L's gram set is (near-)contained in R's. Jaccard misses these
    * by construction (a 200-word doc fully quoted inside a 2000-word doc
    * has J ≈ 0.1 but C = 1.0); containment is the right test for
    * truncated scrapes, wrapper pages, and quote-heavy near-dups.
    * Candidate rule: |G_L ∩ G_R| ≥ ceil(τ·|G_L|) forces a gram of L's
    * (|G_L| − ceil(τ·|G_L|) + 1)-prefix (global rarest-first order) to
    * appear ANYWHERE in R, so L-prefix postings join R's FULL postings —
    * still never all-pairs, and the R side is a plain linear posting
    * list. Verification is exact set intersection over the cached gram
    * arrays. Output: (contained_id, container_id, containment[6dp]),
    * both orientations of an identical pair. */
  def containmentJoinExact(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      threshold: Double = 0.9,
      scope: CacheScope = CacheScope.global,
  ): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    graft.GraftExtensions.install(docs.sparkSession)
    val grams = tokenRows(docs, idCol, textCol, shingleSize)
      .withColumn("__grams__",
        array_distinct(expr(s"word_ngrams(__toks__, $shingleSize)")))
      .withColumn("__sz__", size(col("__grams__")))
      .select("__id__", "__grams__", "__sz__")
    val gramsC = scope.cache(grams)
    val freq = gramsC
      .select(explode(col("__grams__")).as("__gram__"))
      .groupBy("__gram__").agg(count(lit(1)).as("__gf__"))
    val full = gramsC
      .select(explode(col("__grams__")).as("__gram__"),
        col("__id__").as("__rid__"))
    val prefix = gramsC
      .select(col("__id__"), col("__sz__"),
        explode(col("__grams__")).as("__gram__"))
      .join(freq, Seq("__gram__"))
      .groupBy("__id__")
      .agg(any_value(col("__sz__")).as("__sz__"),
        collect_list(struct(col("__gf__"), col("__gram__"))).as("__gl__"))
      .select(col("__id__").as("__lid__"),
        explode(expr(s"""transform(
            slice(array_sort(__gl__), 1,
              __sz__ - CAST(ceil($threshold * __sz__ - 1e-9) AS INT) + 1),
            x -> x.__gram__)""")).as("__gram__"))
    prefix.join(full, Seq("__gram__"))
      .where(col("__lid__") =!= col("__rid__"))
      .select("__lid__", "__rid__").distinct()
      .join(gramsC.select(col("__id__").as("__lid__"),
        col("__grams__").as("__lg__"), col("__sz__").as("__lsz__")),
        Seq("__lid__"))
      .join(gramsC.select(col("__id__").as("__rid__"),
        col("__grams__").as("__rg__")), Seq("__rid__"))
      .withColumn("containment",
        round(size(array_intersect(col("__lg__"), col("__rg__")))
          .cast("double") / col("__lsz__"), 6))
      .where(col("containment") >= threshold)
      .select(col("__lid__").as("contained_id"),
        col("__rid__").as("container_id"), col("containment"))
  }

  /** SimHash near-duplicate pairs.
    *
    * 32-bit SimHash over distinct word BIGRAMS (bigrams, not unigrams:
    * narrow-vocabulary corpora make unigram token sets nearly identical
    * across unrelated documents, collapsing every fingerprint); candidates
    * = pairs sharing at least one of the 4 fingerprint bytes at the same
    * position (pigeonhole: Hamming distance ≤ 3 over 4 bytes GUARANTEES a
    * shared byte, so unlike MinHash-LSH this blocking is exact, not
    * probabilistic); verification = popcount of XOR ≤ maxHamming. */
  def simhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      scope: CacheScope = CacheScope.global,
  ): DataFrame = {
    graft.GraftExtensions.install(docs.sparkSession)
    val base = scope.cache(tokenRows(docs, idCol, textCol, 2)
      // native fused bigram-simhash (graft.expr.SimhashBigrams) — value-
      // identical to the wordShingles→hashedTokens→simhash32 HOF chain
      .withColumn("__fp__", expr("simhash_bigrams(__toks__)"))
      // both band-join sides read the fingerprints — hash once
      .select(col("__id__"), col("__fp__")))
    val banded = base.select(col("__id__"), col("__fp__"),
      posexplode(expr(
        "transform(sequence(0, 3), j -> (__fp__ >> (8 * j)) & 255)"))
        .as(Seq("__j__", "__byte__")))
    banded.as("a")
      .join(banded.as("b"),
        col("a.__j__") === col("b.__j__") &&
          col("a.__byte__") === col("b.__byte__") &&
          col("a.__id__") < col("b.__id__"))
      .select(col("a.__id__").as("doc_a"), col("b.__id__").as("doc_b"),
        col("a.__fp__").as("__fa__"), col("b.__fp__").as("__fb__"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("__fa__").bitwiseXOR(col("__fb__"))))
      .where(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Transitive closure of near-dup pairs into clusters: label every
    * involved document with the minimum doc id of its connected component
    * (the "keep one representative per duplicate cluster" step that
    * follows any pairwise near-dup detector — pairs alone over-delete when
    * duplicates chain A~B~C).
    *
    * Algorithm: iterative min-label propagation over the undirected edge
    * list — each round joins labels to edges and takes the per-node min of
    * (own label, neighbor labels) until a fixpoint. Rounds needed = graph
    * diameter; each round is ONE hash join + ONE aggregate, fully
    * distributed: the node's own label enters the aggregate as a tagged
    * self-row unioned under the joined neighbor rows (no join needed — it
    * comes straight from the label frame), and the same aggregate derives
    * both the new label (min over all rows) and the old label (min over
    * the self rows, of which there is exactly one per node) — so the
    * change flag costs zero extra joins and works for ids of any
    * orderable type.
    *
    * Why ONE hop per round and not pointer jumping: a measured A/B (sf0.1,
    * local[32]) showed the O(log d) pointer-jumping variant (adopt the
    * label of your label via a labels⋈labels self-join each round) is a
    * 3.9-6× NET LOSS here — near-dup graphs have diameter 2-4, so saving
    * rounds cannot pay for the extra persisted frame, the extra self-join,
    * and the extra checkpoint jobs each round carries. Pointer jumping
    * (or large-star/small-star, same join shapes) only wins on genuinely
    * deep graphs; if a caller ever feeds one, the non-convergence warning
    * below is the signal to switch, not a silent default.
    *
    * Loop hygiene (the scale-critical part of an iterative Spark job):
    *   - ONE action per round: the change count rides along as a 0/1
    *     column on the new label frame, so the same aggregate job that
    *     materializes the round's cache also decides convergence — no
    *     second labels⋈labels comparison join.
    *   - `localCheckpoint` every 3 rounds truncates the logical plan, so
    *     analysis/planning stays O(1) per round instead of compounding by
    *     a join+aggregate each iteration (skipped on the converged round —
    *     the returned result carries its own checkpoint).
    *   - every superseded frame is unpersisted; the RESULT is
    *     `localCheckpoint`ed (self-contained partitions), which lets the
    *     internal pair/edge/label caches be dropped before returning. */
  def clusterPairs(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIterations: Int = 20,
  ): DataFrame = {
    // pairs is typically an expensive detector output and is read twice
    // (both edge directions) — materialize it once (internal-only persist:
    // dropped before return, the result no longer references it)
    val p = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    // no distinct(): detectors emit each pair once, and min-aggregation is
    // duplicate-tolerant anyway — a dedup shuffle of the full edge list
    // would cost more than the duplicates it removes
    val edges = p.select(col(aCol).as("__src__"), col(bCol).as("__dst__"))
      .union(p.select(col(bCol).as("__src__"), col(aCol).as("__dst__")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // round 0 fused into the seed: every node starts at min(self, direct
    // neighbors) — identical to one propagation round from the identity
    // labeling, for the cost of the node-dedup aggregate the seed needs
    // anyway (edges is symmetric, so every node appears as __src__)
    var labels = edges
      .select(col("__src__").as("__id__"),
        least(col("__src__"), col("__dst__")).as("__lbl__"))
      .groupBy(col("__id__")).agg(min(col("__lbl__")).as("__lbl__"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIterations) {
      // neighbor labels arrive via the one join; the node's OWN label
      // rides in as a tagged self-row (straight from the label frame, no
      // join), so a single aggregate yields both min-over-all (the new
      // label) and min-over-self (the old label → change flag)
      val contrib = edges
        .join(labels, col("__src__") === col("__id__"))
        .select(col("__dst__"), col("__lbl__"), lit(false).as("__own__"))
        .union(labels.select(col("__id__").as("__dst__"), col("__lbl__"),
          lit(true).as("__own__")))
      val next = contrib
        .groupBy(col("__dst__"))
        .agg(min(col("__lbl__")).as("__nl__"),
          min(when(col("__own__"), col("__lbl__"))).as("__ol__"))
        .select(col("__dst__").as("__id__"), col("__nl__").as("__lbl__"),
          when(col("__nl__") < col("__ol__"), 1L).otherwise(0L).as("__chg__"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // the ONE action of the round: materializes `next` into cache and
      // returns the number of labels that moved
      val changedRow = next.agg(sum(col("__chg__"))).first()
      val changed = if (changedRow.isNullAt(0)) 0L else changedRow.getLong(0)
      converged = changed == 0
      val prev = labels
      labels =
        if (!converged && iter % 3 == 2) {
          // truncate lineage (cheap: reads the cache just written) — but
          // never on the final round: the result below gets its own
          // checkpoint, so one here would be a wasted eager job
          val cp = next.localCheckpoint(true)
          next.unpersist(blocking = false)
          cp
        } else next
      prev.unpersist(blocking = false)
      iter += 1
    }
    if (!converged)
      // partially-merged clusters are WRONG output — make it observable.
      // A graph deep enough to hit this is also the signal to switch to a
      // doubling scheme (pointer jumping / large-star): see scaladoc.
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"clusterPairs did not converge in $maxIterations rounds; " +
          "cluster_ids may be partially merged (raise maxIterations or " +
          "switch to a doubling propagation for high-diameter graphs)")
    // self-contained result: after this checkpoint the output references
    // no internal cache, so everything above can be dropped eagerly
    val out = labels
      .select(col("__id__").as("doc_id"), col("__lbl__").as("cluster_id"))
      .localCheckpoint(true)
    labels.unpersist(blocking = false)
    edges.unpersist(blocking = false)
    p.unpersist(blocking = false)
    out
  }

  /** Near-dup-aware train/validation split: assign every document a
    * split by hashing its CLUSTER representative (its [[clusterPairs]]
    * cluster_id; unclustered docs represent themselves), so near-
    * duplicate documents can never straddle the train/val boundary — the
    * leakage mode a per-document random split silently commits at corpus
    * scale (a val doc whose near-twin sits in train is a leaked label).
    *
    * Deterministic: the split decision is the [[TextOps.hashSample]]
    * md5-prefix rule on the representative id RENDERED AS A STRING
    * (engine-portable bytes — casting a bigint to binary is
    * engine-specific), so the assignment is stable across runs, engines,
    * and partitionings.
    *
    * Scale shape: `clusters` is the (small) set of documents touched by
    * any near-dup pair — orders of magnitude smaller than the corpus —
    * so the join broadcasts under AQE; the corpus side flows map-side
    * with a per-row hash predicate. Adds a `split` column ("train" /
    * "val"). */
  def splitByCluster(
      df: DataFrame,
      idCol: String,
      clusters: DataFrame,
      trainPercent: Double = 90.0,
  ): DataFrame = {
    require(trainPercent > 0 && trainPercent < 100,
      s"trainPercent must be in (0,100), got $trainPercent")
    // `clusters` must be clusterPairs output: keyed (doc_id, cluster_id)
    // regardless of what the corpus frame calls its id column. Fail loudly
    // on anything else rather than silently misaligning the join.
    require(clusters.columns.contains("doc_id") &&
        clusters.columns.contains("cluster_id"),
      s"clusters must be clusterPairs output with (doc_id, cluster_id) " +
        s"columns; got [${clusters.columns.mkString(", ")}]")
    val cutoff = (trainPercent / 100.0 * 4294967296.0).toLong
    val rep = clusters.select(col("doc_id").as(idCol),
      col("cluster_id").as("__rep__"))
    df.join(rep, Seq(idCol), "left_outer")
      .withColumn("__rid__",
        coalesce(col("__rep__"), col(idCol)).cast("string"))
      .withColumn("split",
        when(conv(substring(md5(col("__rid__").cast("binary")), 1, 8), 16, 10)
          .cast("bigint") < cutoff, "train").otherwise("val"))
      .drop("__rep__", "__rid__")
  }

  /** Cluster-size-aware DIVERSITY sampling — the dedup-then-diversify
    * step of a D4/SemDeDup-style pipeline: rather than dropping every
    * non-canonical near-dup outright (which over-prunes genuinely
    * informative paraphrase clusters) or keeping all (which over-weights
    * boilerplate), each cluster keeps its canonical representative
    * (min id) ALWAYS and samples the remaining members at rate
    * size^(−alpha) — big clusters (templated/boilerplate families)
    * thin aggressively, small clusters barely (alpha=0 keeps all,
    * alpha→∞ → pure dedup-apply; singletons always survive at rate 1).
    *
    * Determinism (the hashSample contract): rate = round(pow(m, −α), 6)
    * with the 6-dp cross-engine pow discipline, cutoff =
    * floor(rate·2³²), keep iff md5-u32("div:" ‖ id) < cutoff — kept
    * SETS replay bit-for-bit and are membership-stable as α shrinks.
    * One window over cluster_id (size + canonical in the same pass),
    * zero additional shuffles past the cluster join.
    * Returns (idCol, cluster_id, cluster_size) for kept rows. */
  def diversitySample(
      df: DataFrame,
      idCol: String,
      clusters: DataFrame,
      alpha: Double,
      saltPrefix: String = "div",
  ): DataFrame = {
    require(alpha >= 0.0 && alpha <= 8.0,
      s"alpha must be in [0, 8], got $alpha")
    require(clusters.columns.contains("doc_id") &&
        clusters.columns.contains("cluster_id"),
      s"clusters must be clusterPairs output with (doc_id, cluster_id) " +
        s"columns; got [${clusters.columns.mkString(", ")}]")
    val rep = clusters.select(col("doc_id").as(idCol), col("cluster_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
    val sized = df.select(col(idCol))
      .join(rep, Seq(idCol), "left_outer")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .withColumn("__canon__", min(col(idCol)).over(w))
    val rate = round(
      pow(col("cluster_size").cast("double"), lit(-alpha)) + lit(0.0), 6)
    val cutoff = floor(rate * lit(4294967296.0)).cast("long")
    val u32 = conv(substring(md5(
        concat(lit(saltPrefix + ":"), col(idCol).cast("string"))
          .cast("binary")), 1, 8), 16, 10)
      .cast("long")
    sized
      .where(col(idCol) === col("__canon__") || u32 < cutoff)
      .select(col(idCol), col("cluster_id"), col("cluster_size"))
  }

  /** Benchmark decontamination: find training documents sharing any word
    * n-gram with an evaluation suite (the standard n-gram-overlap test a
    * training pipeline runs before shipping a corpus — contaminated docs
    * leak eval answers into the model).
    *
    * Scale shape: BOTH sides explode to (md5(ngram), id); the EVAL side is
    * tiny (a benchmark is a few thousand docs) and deduped, so the join
    * broadcasts it — the exploded train side never shuffles except for
    * the final per-doc aggregate. Returns one row per contaminated train
    * doc: distinct shared n-grams + distinct eval docs hit. */
  def contamination(
      train: DataFrame,
      trainId: String,
      trainText: String,
      eval: DataFrame,
      evalId: String,
      evalText: String,
      n: Int = 3,
  ): DataFrame = {
    graft.GraftExtensions.install(train.sparkSession)
    // shingle construction + hashing fused in the codegen'd
    // word_kgram_md5s native (same md5-hex values as the HOF
    // shingle+md5 formulation — spec-pinned), distinct'd per doc
    def grams(df: DataFrame, id: String, text: String, outId: String) = df
      .select(col(id).as(outId), TextOps.tokens(col(text)).as("__toks__"))
      .where(size(col("__toks__")) >= n)
      .select(col(outId), explode(array_distinct(
        call_function("word_kgram_md5s", col("__toks__"), lit(n)))).as("__gh__"))
    grams(train, trainId, trainText, "__tid__")
      .join(broadcast(grams(eval, evalId, evalText, "__eid__").distinct()), "__gh__")
      .groupBy(col("__tid__"))
      .agg(countDistinct(col("__gh__")).as("n_shared_ngrams"),
        countDistinct(col("__eid__")).as("n_eval_docs"))
      .select(col("__tid__").as(trainId), col("n_shared_ngrams"),
        col("n_eval_docs"))
  }

  /** Character n-gram Jaccard near-duplicates with fingerprint blocking:
    * candidates share their winnowing fingerprint (min md5 of char
    * `blockNgram`-gram windows — TextOps.charNgramFingerprint), then exact
    * char `verifyNgram`-gram Jaccard ≥ threshold verifies. Blocking is a
    * plain groupBy bucket join; near-identical docs share the min window
    * with probability ≈ their char-ngram Jaccard. The block window must be
    * long enough to be rare (default 16 chars ≈ 3 words): short windows on
    * a narrow-vocabulary corpus put a large fraction of documents in one
    * bucket and the within-bucket verification degenerates toward
    * all-pairs. `numFingerprints` > 1 switches to a bottom-k sketch of
    * window hashes (w-window winnowing): recall grows monotonically with
    * k (the k=1 candidate set is always contained) at ≤ k× candidate
    * cost — a parameter, not a redesign (SCALE.md). */
  def charNgramPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockNgram: Int = 16,
      verifyNgram: Int = 3,
      threshold: Double = 0.7,
      scope: CacheScope = CacheScope.global,
      numFingerprints: Int = 1,
  ): DataFrame = {
    require(numFingerprints >= 1, "numFingerprints must be at least 1")
    graft.GraftExtensions.install(docs.sparkSession)
    // both branches verify per-pair with the native CharNgramJaccard
    // expression: same distinct n-gram sets as charShingles +
    // array_intersect/union, computed straight from the two strings —
    // no shingle arrays materialized
    if (numFingerprints == 1) {
      // single min window hash (native codegen'd expression): direct
      // fingerprint self-join with the verify fused into the join — the
      // cheapest plan when one fingerprint's recall suffices
      val base = scope.cache(docs
        .select(col(idCol).as("__id__"), col(textCol).as("__text__"))
        .withColumn("__fp__", expr(s"char_ngram_min(__text__, $blockNgram)")))
      base.as("a")
        .join(base.as("b"),
          col("a.__fp__") === col("b.__fp__") && col("a.__id__") < col("b.__id__"))
        .withColumn("jaccard",
          round(expr(s"char_ngram_jaccard(a.__text__, b.__text__, $verifyNgram)"), 6))
        .where(col("jaccard") >= threshold)
        .select(col("a.__id__").as("doc_a"), col("b.__id__").as("doc_b"),
          col("jaccard"))
    } else {
      // w-window winnowing recall knob: the k smallest DISTINCT window
      // hashes (a bottom-k sketch) as block keys. Candidates are pairs
      // whose bottom-k sets INTERSECT — a strict superset of the k=1
      // candidates (the min hash is always in the bottom-k) at ≤ k×
      // candidate/shuffle cost, same equi-join shape, no all-pairs risk.
      // native one-pass bottom-k (graft.expr.CharNgramBottomK) — value-
      // identical to the slice(array_sort(array_distinct(transform(...))))
      // HOF chain (spec-asserted), without materializing and sorting every
      // window hash per doc
      val base = scope.cache(docs
        .select(col(idCol).as("__id__"), col(textCol).as("__text__"))
        .withColumn("__fps__",
          expr(s"char_ngram_bottomk(__text__, $blockNgram, $numFingerprints)")))
      val banded = base.select(col("__id__"), explode(col("__fps__")).as("__fp__"))
      banded.as("a")
        .join(banded.as("b"),
          col("a.__fp__") === col("b.__fp__") && col("a.__id__") < col("b.__id__"))
        .select(col("a.__id__").as("doc_a"), col("b.__id__").as("doc_b"))
        .distinct()
        .join(base.as("x"), col("doc_a") === col("x.__id__"))
        .join(base.as("y"), col("doc_b") === col("y.__id__"))
        .withColumn("jaccard",
          round(expr(s"char_ngram_jaccard(x.__text__, y.__text__, $verifyNgram)"), 6))
        .where(col("jaccard") >= threshold)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
    }
  }

  /** Block-level (paragraph-style) dedup: remove corpus-REPEATED token
    * blocks from every document while keeping the documents themselves —
    * the CCNet/RefinedWeb boilerplate-removal step (navigation chrome,
    * cookie banners, repeated headers appear across thousands of pages).
    *
    * Documents split into NON-overlapping `blockSize`-token blocks
    * ([[Search.chunkWords]] with stride = blockSize); a block whose exact
    * text occurs in more than `maxCopies` blocks corpus-wide is dropped
    * from every document; surviving blocks reassemble in order. Returns
    * (id, n_blocks, n_dropped, clean_text) — clean_text is '' when every
    * block was boilerplate.
    *
    * Scale: blocks are linear in corpus tokens; the copy-count is one hash
    * aggregate (map-side combine); the repeated-block DICTIONARY (count >
    * maxCopies) is orders of magnitude smaller than the corpus, so the
    * flagging join is an equi-join Spark can broadcast (AQE decides);
    * reassembly is one aggregate whose collect_list is bounded by a single
    * document's block count — never corpus-scale state. */
  def blockDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockSize: Int = 8,
      maxCopies: Int = 2,
      scope: CacheScope = CacheScope.global,
  ): DataFrame = {
    require(maxCopies >= 1, "maxCopies must be >= 1")
    val blocks = scope.cache(
      Search.chunkWords(docs, idCol, textCol, blockSize, blockSize)
        .withColumn("__bh__", md5(col("chunk_text").cast("binary"))))
    val repeated = blocks
      .groupBy(col("__bh__"))
      .agg(count(lit(1)).as("__copies__"))
      .where(col("__copies__") > maxCopies)
    blocks
      .join(repeated, Seq("__bh__"), "left_outer")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_blocks"),
        sum(when(col("__copies__").isNotNull, 1L).otherwise(0L)).as("n_dropped"),
        concat_ws(" ", expr(
          """transform(
               array_sort(collect_list(
                 CASE WHEN __copies__ IS NULL
                      THEN struct(chunk_ix, chunk_text) END)),
               s -> s.chunk_text)""")).as("clean_text"))
  }

  /** Corpus-LEVEL line dedup — CCNet's shard-dedup stage: boilerplate
    * lines (cookie banners, navigation, footers) repeat across PAGES,
    * which the within-document [[TextOps.dedupLines]] cannot see. Every
    * distinct line keeps exactly its first corpus occurrence in
    * (id, line-index) order; later copies anywhere in the corpus drop.
    *
    * Scale shape: line rows are corpus-linear; first-occurrence detection
    * is ONE shuffle on the line hash (a window min of the (id, ix) struct
    * — no separate dictionary aggregate + join pass); reassembly is one
    * per-doc aggregate whose collect_list is bounded by a single
    * document's line count. Emits every document: n_lines, n_kept, and
    * the md5 of the surviving text. */
  def corpusLineDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      delim: String = "\n",
  ): DataFrame = {
    val lines = docs.select(col(idCol),
      posexplode(split(col(textCol),
        java.util.regex.Pattern.quote(delim), -1)).as(Seq("__ix__", "__ln__")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("__lh__"))
    lines
      .withColumn("__lh__", md5(col("__ln__").cast("binary")))
      .withColumn("__keep__",
        struct(col(idCol), col("__ix__")) ===
          min(struct(col(idCol), col("__ix__"))).over(w))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("__keep__"), 1L).otherwise(0L)).as("n_kept"),
        md5(concat_ws(delim, expr(
          """transform(array_sort(collect_list(
               CASE WHEN __keep__ THEN struct(__ix__, __ln__) END)),
             s -> s.__ln__)""")).cast("binary")).as("clean_md5"))
  }

  /** Word positions whose k-gram (the k words starting there) occurs at
    * least `minCopies` times anywhere in the corpus — the shared first
    * stage of [[substringSpans]] / [[substringClean]], memoized in the
    * scope so both consumers in one query read a single cached frame.
    *
    * Scale shape: the position explode is token-linear (one row per word
    * position, never per character); gram counting is ONE map-side-combined
    * hash aggregate; the duplicated-gram dictionary (count >= minCopies)
    * is corpus-shrunk, so the flag join back to positions is an equi-join
    * AQE broadcasts when it fits. Returns (idCol, __pos__) with 1-based
    * word positions. */
  private def dupGramPositions(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      minCopies: Int,
      scope: CacheScope,
  ): DataFrame =
    scope.cacheKeyed(("graft.llm.substrpos",
      docs.queryExecution.analyzed.canonicalized, idCol, textCol, k,
      minCopies)) {
      // positional gram hashing runs through the codegen'd native (the
      // HOF formulation `md5(posexplode(wordShingles(...)))` is the
      // value-identity anchor — LlmSpec pins native ≡ HOF)
      graft.GraftExtensions.install(docs.sparkSession)
      val pos = docs
        .select(col(idCol), TextOps.tokens(col(textCol)).as("__toks__"))
        .where(size(col("__toks__")) >= k)
        .select(col(idCol),
          posexplode(expr(s"word_kgram_md5s(__toks__, $k)"))
            .as(Seq("__p0__", "__gh__")))
        .select(col(idCol), (col("__p0__") + 1).cast("long").as("__pos__"),
          col("__gh__"))
      val dup = pos
        .groupBy(col("__gh__"))
        .agg(count(lit(1)).as("__copies__"))
        .where(col("__copies__") >= minCopies)
        .select(col("__gh__"))
      pos.join(dup, "__gh__").select(col(idCol), col("__pos__"))
    }

  /** Duplicated-substring SPAN detection — the rolling-window complement of
    * [[blockDedup]] (which only sees its fixed non-overlapping block grid):
    * any word span of >= `minSpanWords` words occurring at least
    * `minCopies` times anywhere in the corpus (any offset, any document,
    * within-document repeats included) is flagged at EVERY alignment.
    * This is the fixed-granularity equivalent of suffix-array exact
    * substring dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better"): a duplicated >= k-word span is exactly a
    * maximal run of duplicated-k-gram starting positions, so merging
    * consecutive flagged positions (coverage touches while
    * pos <= prev_pos + k) reconstructs the maximal spans.
    *
    * Island merging runs inside per-document windows — state is bounded by
    * one document's positions, never corpus-scale. Returns one row per
    * document with at least one span: n_spans, dup_words (covered word
    * count), max_span_words. */
  def substringSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minSpanWords: Int = 8,
      minCopies: Int = 2,
      scope: CacheScope = CacheScope.global,
  ): DataFrame = {
    require(minSpanWords >= 2 && minCopies >= 2,
      "minSpanWords and minCopies must be >= 2")
    val k = minSpanWords
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__pos__"))
    dupGramPositions(docs, idCol, textCol, k, minCopies, scope)
      .withColumn("__new__",
        when(col("__pos__") >
          coalesce(lag(col("__pos__"), 1).over(w) + k, lit(-1L)), 1L)
          .otherwise(0L))
      .withColumn("__seg__", sum(col("__new__")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("__seg__"))
      .agg(min(col("__pos__")).as("__s__"),
        (max(col("__pos__")) + k - 1).as("__e__"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("__e__") - col("__s__") + 1).as("dup_words"),
        max(col("__e__") - col("__s__") + 1).cast("long").as("max_span_words"))
  }

  /** MAXIMAL duplicated-substring spans — the suffix-array semantics of
    * Lee et al. 2022 (exact substrings of ANY length ≥ `minMatchWords`
    * occurring ≥ 2 times), where [[substringSpans]] is the fixed-k
    * run-merge approximation. The difference that matters: the run-merge
    * CHAINS overlapping k-grams duplicated against DIFFERENT partners
    * into one long "span" no single copy of which exists anywhere; this
    * op recovers each true pairwise maximal match exactly.
    *
    * Method (the diagonal-run identity, same output as per-partition
    * suffix arrays without materializing them): a common substring of m
    * ≥ k words between two occurrences shares all m−k+1 of its k-grams
    * at a CONSTANT position offset, so grouping k-gram co-occurrences by
    * (docA, docB, posA−posB) and merging consecutive posA runs yields
    * precisely the maximal pairwise matches ≥ k. Gram co-occurrence is
    * an equi-join on the gram hash ANCHORED like the LSH families —
    * grams with more than `maxGramCopies` occurrences are dropped (the
    * hot-bucket cap; pair fan-out is bounded by cap·positions, never
    * quadratic in the corpus). Within-doc self-repeats match through
    * diag ≠ 0; the trivial self-alignment (same doc, same position) is
    * excluded.
    *
    * Per doc emits merged-coverage stats in [[substringSpans]]' shape —
    * n_spans, dup_words, max_span_words (adjacent/overlapping matches
    * union-merged) — plus `max_match_words`, the longest SINGLE maximal
    * match: on the chained fixture above the run-merge claims one
    * 9-word span while max_match_words honestly reports 8 (spec-pinned).
    * All windows are per-(docA, docB, diag) or per-doc — state bounded
    * by one document pair's positions, never corpus-scale. */
  def substringMaximalSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minMatchWords: Int = 8,
      maxGramCopies: Int = 64,
      scope: CacheScope = CacheScope.global,
  ): DataFrame = {
    require(minMatchWords >= 2, "minMatchWords must be >= 2")
    require(maxGramCopies >= 2, "maxGramCopies must be >= 2")
    graft.GraftExtensions.install(docs.sparkSession)
    val k = minMatchWords
    val W = org.apache.spark.sql.expressions.Window
    val pos = scope.cacheKeyed(("graft.llm.maxsubstrpos",
      docs.queryExecution.analyzed.canonicalized, idCol, textCol, k)) {
      docs
        .select(col(idCol).as("__did__"),
          TextOps.tokens(col(textCol)).as("__toks__"))
        .where(size(col("__toks__")) >= k)
        .select(col("__did__"),
          posexplode(expr(s"word_kgram_md5s(__toks__, $k)"))
            .as(Seq("__p0__", "__gh__")))
        .select(col("__did__"), (col("__p0__") + 1).cast("long").as("__pos__"),
          col("__gh__"))
    }
    val shared = pos
      .groupBy(col("__gh__"))
      .agg(count(lit(1)).as("__f__"))
      .where(col("__f__") >= 2 && col("__f__") <= maxGramCopies)
      .select(col("__gh__"))
    val occ = pos.join(shared, "__gh__")
    val pairs = occ
      .select(col("__gh__"), col("__did__").as("__aid__"),
        col("__pos__").as("__apos__"))
      .join(occ.select(col("__gh__"), col("__did__").as("__bid__"),
        col("__pos__").as("__bpos__")), Seq("__gh__"))
      .where(!(col("__aid__") === col("__bid__") &&
        col("__apos__") === col("__bpos__")))
      .select(col("__aid__"), col("__apos__"), col("__bid__"),
        (col("__apos__") - col("__bpos__")).as("__diag__"))
    val wd = W.partitionBy(col("__aid__"), col("__bid__"), col("__diag__"))
      .orderBy(col("__apos__"))
    val matches = pairs
      .withColumn("__new__",
        when(col("__apos__") >
          coalesce(lag(col("__apos__"), 1).over(wd) + 1L, lit(-1L)), 1L)
          .otherwise(0L))
      .withColumn("__seg__", sum(col("__new__")).over(
        wd.rowsBetween(W.unboundedPreceding, 0)))
      .groupBy(col("__aid__"), col("__bid__"), col("__diag__"), col("__seg__"))
      .agg(min(col("__apos__")).as("__s__"),
        (max(col("__apos__")) + (k - 1)).as("__e__"))
    val iv = matches.select(col("__aid__"), col("__s__"), col("__e__"))
      .distinct()
    val wm = W.partitionBy(col("__aid__")).orderBy(col("__s__"), col("__e__"))
    val merged = iv
      .withColumn("__new__",
        when(col("__s__") > coalesce(
          max(col("__e__")).over(wm.rowsBetween(W.unboundedPreceding, -1))
            + 1L, lit(-1L)), 1L)
          .otherwise(0L))
      .withColumn("__seg__", sum(col("__new__")).over(
        wm.rowsBetween(W.unboundedPreceding, 0)))
      .groupBy(col("__aid__"), col("__seg__"))
      .agg(min(col("__s__")).as("__cs__"), max(col("__e__")).as("__ce__"))
    val matchMax = matches.groupBy(col("__aid__"))
      .agg(max(col("__e__") - col("__s__") + 1).cast("long")
        .as("max_match_words"))
    merged
      .groupBy(col("__aid__"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("__ce__") - col("__cs__") + 1).as("dup_words"),
        max(col("__ce__") - col("__cs__") + 1).cast("long")
          .as("max_span_words"))
      .join(matchMax, "__aid__")
      .select(col("__aid__").as(idCol), col("n_spans"), col("dup_words"),
        col("max_span_words"), col("max_match_words"))
  }

  /** PERSIST the corpus GRAM-POSTING index for incremental substring
    * admission — the exact-span family's train-once artifact next to
    * the MinHash band postings: one row per k-gram occurrence
    * (`__id__`, `__pos__`, `__gh__`) with the gram's corpus frequency
    * `__gf__` DENORMALIZED on every row (the filtered-search layout:
    * the hot-gram cap then applies AT THE POSTINGS SCAN as a pushed
    * predicate, never a frequency join at query time), bucketed on
    * `__gh__` so the admission join reads stored buckets with zero
    * index-side exchange. */
  def substringIndexSave(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minMatchWords: Int,
      table: String,
      dir: String,
      buckets: Int = 8,
      maxGramCopies: Int = 64): Unit = {
    val spark = docs.sparkSession
    graft.GraftExtensions.install(spark)
    val k = minMatchWords
    val pos = substringGramPositions(docs, idCol, textCol, k)
    val freq = pos.groupBy(col("__gh__")).agg(count(lit(1)).as("__gf__"))
      .persist()
    graft.sources.ParquetIO.writeBucketed(
      pos.join(freq, "__gh__")
        .select(col("__gh__"), col("__id__"), col("__pos__"), col("__gf__")),
      table, s"$dir/postings", "__gh__", buckets)
    // segment-0 freq sidecar: cumulative corpus frequency per gram AS OF
    // this segment — appends read `freq/seg-` (never the postings) to learn
    // a touched gram's prior total
    freq.write.mode("overwrite").parquet(s"$dir/freq/seg0")
    freq.unpersist()
    // crossed-gram set starts empty (schema-bearing file so reads never
    // fail); appends add grams whose stale old-segment rows would leak
    // past the pushed cap
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__gh__",
          org.apache.spark.sql.types.StringType))))
      .write.mode("overwrite").parquet(s"$dir/hot")
    writeSubstrMeta(dir, k, maxGramCopies, buckets, segments = 1)
  }

  /** The shared (id, pos, gram-hash) explode behind save and append. */
  private def substringGramPositions(
      docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    docs
      .select(col(idCol).cast("long").as("__id__"),
        TextOps.tokens(col(textCol)).as("__toks__"))
      .where(col("__id__").isNotNull && size(col("__toks__")) >= k)
      .select(col("__id__"),
        posexplode(expr(s"word_kgram_md5s(__toks__, $k)"))
          .as(Seq("__p0__", "__gh__")))
      .select(col("__id__"), (col("__p0__") + 1).cast("long").as("__pos__"),
        col("__gh__"))

  private def writeSubstrMeta(dir: String, k: Int, cap: Int, buckets: Int,
      segments: Int): Unit =
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_substr_meta.json"),
      s"""{"k":$k,"cap":$cap,"buckets":$buckets,"segments":$segments}"""
        .getBytes("UTF-8"))

  private[graft] def readSubstrMeta(
      dir: String): Option[(Int, Int, Int, Int)] = {
    val p = java.nio.file.Paths.get(dir, "_substr_meta.json")
    if (!java.nio.file.Files.exists(p)) None
    else {
      val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      def f(n: String) =
        s""""$n":\\s*(\\d+)""".r.findFirstMatchIn(txt).get.group(1).toInt
      Some((f("k"), f("cap"), f("buckets"), f("segments")))
    }
  }

  /** APPEND maintenance for a persisted [[substringIndexSave]] artifact —
    * the delta loop MinHash and IVF indexes already have, closing the
    * last rebuild-per-corpus-version gap: new docs' gram postings join
    * the index WITHOUT re-tokenizing or re-shuffling the stored corpus.
    *
    * The denormalized `__gf__` (the pushed cap predicate's column) is
    * kept correct under appends by the CUMULATIVE-frequency discipline:
    * new rows carry `old_total + new_count`; old rows of a touched gram
    * keep their stale smaller value — which still filters IDENTICALLY to
    * a rebuild (freq only grows, so stale ≤ current: a gram under the
    * cap passes on every row; a gram already over it was written over it)
    * — EXCEPT grams that CROSS the cap on this append (old ≤ cap <
    * new total): their old rows would leak past the pushed predicate, so
    * they are recorded in the tiny `hot/` set, which
    * [[substringIndexPostings]] anti-joins (broadcast) at serve. Append
    * cost: one scan of the new slice + one column-pruned scan of the
    * `freq/seg-` sidecars (the gram dictionary, never the postings) — no
    * corpus re-hash, no index rewrite, no shuffle of stored rows. */
  def substringIndexAppend(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      table: String,
      dir: String): Unit = {
    val spark = newDocs.sparkSession
    graft.GraftExtensions.install(spark)
    val (k, cap, buckets, segments) = readSubstrMeta(dir).getOrElse(
      throw new IllegalArgumentException(
        s"$dir has no _substr_meta.json — not a substringIndexSave " +
          "artifact (legacy root-layout indexes must be re-saved before " +
          "appending)"))
    val pos = substringGramPositions(newDocs, idCol, textCol, k).persist()
    val newFreq = pos.groupBy(col("__gh__")).agg(count(lit(1)).as("__nf__"))
    val oldFreq = spark.read.parquet(s"$dir/freq/*")
      .groupBy(col("__gh__")).agg(max(col("__gf__")).as("__of__"))
    val touched = newFreq
      .join(oldFreq, Seq("__gh__"), "left")
      .select(col("__gh__"), coalesce(col("__of__"), lit(0L)).as("__of__"),
        (coalesce(col("__of__"), lit(0L)) + col("__nf__")).as("__gf__"))
      .persist()
    touched.select(col("__gh__"), col("__gf__"))
      .write.mode("overwrite").parquet(s"$dir/freq/seg$segments")
    // grams crossing the cap ON THIS APPEND: old rows exist (of ≥ 1) and
    // were written under the cap, but the new total is over it
    touched
      .where(col("__of__") >= 1L && col("__of__") <= cap &&
        col("__gf__") > cap)
      .select(col("__gh__"))
      .write.mode("append").parquet(s"$dir/hot")
    graft.sources.ParquetIO.appendBucketed(
      pos.join(touched.select(col("__gh__"), col("__gf__")), "__gh__")
        .select(col("__gh__"), col("__id__"), col("__pos__"), col("__gf__")),
      table, "__gh__", buckets)
    pos.unpersist(); touched.unpersist()
    writeSubstrMeta(dir, k, cap, buckets, segments + 1)
  }

  /** Serving frame for a (possibly appended) [[substringIndexSave]]
    * artifact: the bucketed postings table with the crossed-gram `hot/`
    * set anti-joined (broadcast — the set is bounded by grams that
    * crossed the cap, a vanishing fraction). Value-identical to a
    * fresh rebuild's postings under the recorded cap, which the caller's
    * `maxGramCopies` must match (the hot set was computed FOR that cap —
    * serving a different cap against an appended index would silently
    * diverge, so it refuses loudly). */
  def substringIndexPostings(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      dir: String,
      maxGramCopies: Int = 64): DataFrame = {
    val postings = spark.table(table)
    readSubstrMeta(dir) match {
      case None => postings // legacy root-layout index: never appended
      case Some((_, cap, _, _)) =>
        require(cap == maxGramCopies,
          s"index at $dir was saved with cap $cap; serving with " +
            s"maxGramCopies=$maxGramCopies would diverge from a rebuild")
        val hot = graft.sources.ParquetIO.read(spark, s"$dir/hot")
        if (hot.isEmpty) postings
        else postings.join(broadcast(hot), Seq("__gh__"), "left_anti")
    }
  }

  /** INCREMENTAL maximal-substring admission against a persisted
    * [[substringIndexSave]] artifact — [[substringMaximalSpans]]'
    * new-data half (does this arriving document share any exact
    * ≥ k-word span with the indexed corpus? — the Lee et al. dedup
    * question asked at ingest, and the exact-overlap decontamination
    * gate): the new docs' grams equi-join the stored postings (hot
    * grams dropped by the PUSHED `__gf__` ≤ cap predicate — bounded
    * fan-out, the cap rides the index rows), diagonal runs reconstruct
    * each pairwise maximal match. Emits one row per maximal match —
    * (left_id, right_id, match_start, match_words): left = arriving
    * doc, start 1-based on its word grid. Windows are per
    * (pair, diagonal) — state bounded by one document pair. */
  def substringMatchesIndexed(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      postings: DataFrame,
      minMatchWords: Int,
      maxGramCopies: Int = 64,
  ): DataFrame = {
    require(minMatchWords >= 2, "minMatchWords must be >= 2")
    require(maxGramCopies >= 1, "maxGramCopies must be >= 1")
    graft.GraftExtensions.install(newDocs.sparkSession)
    val k = minMatchWords
    val W = org.apache.spark.sql.expressions.Window
    val wd = W.partitionBy(col("__nid__"), col("__id__"), col("__diag__"))
      .orderBy(col("__npos__"))
    substringAdmissionJoin(newDocs, idCol, textCol, postings, k,
      maxGramCopies)
      .withColumn("__new__",
        when(col("__npos__") >
          coalesce(lag(col("__npos__"), 1).over(wd) + 1L, lit(-1L)), 1L)
          .otherwise(0L))
      .withColumn("__seg__", sum(col("__new__")).over(
        wd.rowsBetween(W.unboundedPreceding, 0)))
      .groupBy(col("__nid__"), col("__id__"), col("__diag__"), col("__seg__"))
      .agg(min(col("__npos__")).as("__s__"),
        (max(col("__npos__")) + (k - 1) - min(col("__npos__")) + 1)
          .as("__l__"))
      .select(col("__nid__").as("left_id"), col("__id__").as("right_id"),
        col("__s__").as("match_start"), col("__l__").as("match_words"))
  }

  /** The shared gram join behind batch and streaming substring
    * admission: new docs' k-gram positions against the stored postings,
    * hot grams cut by the pushed `__gf__` cap. Yields one row per gram
    * co-occurrence: (__nid__, __npos__, __id__, __diag__). */
  private[graft] def substringAdmissionJoin(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      postings: DataFrame,
      k: Int,
      maxGramCopies: Int): DataFrame =
    newDocs
      .select(col(idCol).cast("long").as("__nid__"),
        TextOps.tokens(col(textCol)).as("__ntoks__"))
      .where(col("__nid__").isNotNull && size(col("__ntoks__")) >= k)
      .select(col("__nid__"),
        posexplode(expr(s"word_kgram_md5s(__ntoks__, $k)"))
          .as(Seq("__np0__", "__gh__")))
      .select(col("__nid__"), (col("__np0__") + 1).cast("long").as("__npos__"),
        col("__gh__"))
      .join(postings.where(col("__gf__") <= maxGramCopies), Seq("__gh__"))
      .select(col("__nid__"), col("__npos__"), col("__id__"),
        (col("__npos__") - col("__pos__")).as("__diag__"))

  /** Apply [[substringSpans]]: strip every covered word, reassemble the
    * survivors in order. Covered positions come from exploding each
    * flagged start into its k-word interval (<= k rows per flagged
    * position, distinct-folded before the join); reassembly is one
    * aggregate whose collect_list is bounded by a single document's word
    * count. Emits every document with NON-NULL text (>= minSpanWords
    * words or not): a NULL-text document has a NULL token array, so
    * posexplode produces no position rows and the doc is absent from the
    * output — the DuckDB oracle's unnest drops it identically. Output:
    * n_words, n_removed, and the md5 of the cleaned text (compact,
    * engine-portable). */
  def substringClean(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minSpanWords: Int = 8,
      minCopies: Int = 2,
      scope: CacheScope = CacheScope.global,
  ): DataFrame = {
    val k = minSpanWords
    val covered = dupGramPositions(docs, idCol, textCol, k, minCopies, scope)
      .select(col(idCol),
        explode(sequence(col("__pos__"), col("__pos__") + k - 1)).as("__wp__"))
      .distinct()
    docs
      .select(col(idCol), posexplode(TextOps.tokens(col(textCol))).as(Seq("__p0__", "__w__")))
      .select(col(idCol), (col("__p0__") + 1).cast("long").as("__wp__"), col("__w__"))
      .join(covered.withColumn("__cov__", lit(1)), Seq(idCol, "__wp__"), "left_outer")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_words"),
        sum(when(col("__cov__").isNotNull, 1L).otherwise(0L)).as("n_removed"),
        md5(concat_ws(" ", expr(
          """transform(
               array_sort(collect_list(
                 CASE WHEN __cov__ IS NULL THEN struct(__wp__, __w__) END)),
               s -> s.__w__)""")).cast("binary")).as("clean_md5"))
  }
}
