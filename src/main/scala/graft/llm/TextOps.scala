package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column-level text primitives for large-scale training-data pipelines
  * (beyond-reference surface; the reference has no text-analysis operators —
  * SURVEY.md §2.7). Everything is built from codegen'd Catalyst built-ins
  * and higher-order functions: no UDFs, no driver-side loops, so each
  * primitive is a per-row expression that scales linearly with the scan.
  *
  * Functions that need *nested* lambdas take a column NAME and build a SQL
  * `expr(...)` with explicitly named lambda variables — the Scala
  * higher-order-function API auto-names every lambda variable `x`, so inner
  * lambdas would shadow outer ones.
  *
  * Hashing note: primitives that feed a DuckDB-replayable oracle use md5
  * (identical hex output in every engine). A production deployment on
  * Spark-only infrastructure would swap md5 for `xxhash64` (cheaper,
  * non-cryptographic) — the pipeline shape is unchanged.
  */
object TextOps {

  /** Whitespace-collapsed, lowercased text — the canonical form for exact
    * dedup. */
  def normalize(text: Column): Column =
    lower(regexp_replace(trim(text), "\\s+", " "))

  /** Whitespace tokenization. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Unicode-aware tokenizer word normalization, shared by the three
    * subword-trainer families (BPE / WordPiece / unigram-LM): NFC-compose
    * (crawl text is full of decomposed sequences — the `nfc_normalize`
    * native), lowercase, and split on runs of NON-LETTERS (`\p{L}`, any
    * Unicode letter), so a multilingual corpus trains on its real words
    * instead of the ASCII residue a `[^a-z]` norm keeps. On pure-ASCII
    * text this is value-identical to the old norm (NFC is the identity,
    * digits/punctuation separate in both). Callers must install
    * GraftExtensions first (every operator entry point does). DuckDB
    * oracles replay it as
    * `regexp_replace(lower(nfc_normalize(text)), '[^\p{L}]+', ' ', 'g')`. */
  private[graft] def letterNorm(textCol: String): Column =
    trim(regexp_replace(
      lower(call_function("nfc_normalize", col(textCol))), "[^\\p{L}]+", " "))

  private[graft] def letterWords(textCol: String): Column =
    split(letterNorm(textCol), "\\s+")

  /** "BPE-ish" regex token count: letter runs, digit runs, and single
    * punctuation marks each count as one token (a cheap, deterministic
    * approximation of subword tokenizer output length). */
  def regexTokenCount(textCol: String): Column =
    expr(s"size(regexp_extract_all($textCol, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]', 0))")

  /** Adjacent-character pair counts over the corpus vocabulary — the
    * statistic one BPE tokenizer-training iteration maximizes (merge the
    * most frequent symbol pair). Returns the top-`k` pairs as
    * (`pair` "a b", `n` total occurrences), ties broken by pair text so
    * the cut is deterministic.
    *
    * Scale shape: the corpus collapses to the VOCABULARY first (one hash
    * aggregate with map-side combine — word frequency), and the
    * character-pair explode runs over vocab entries weighted by
    * frequency, never over raw text. Vocabulary is sublinear in corpus
    * size (Heaps' law), so the expensive step shrinks relative to the
    * data as the corpus grows — the standard trick that makes BPE
    * training feasible at corpus scale. Top-k is a TakeOrdered, no
    * global sort. */
  def bpePairCounts(docs: DataFrame, textCol: String, k: Int = 20): DataFrame =
    docs
      .select(explode(tokens(col(textCol))).as("__w__"))
      .where(length(col("__w__")) >= 2)
      .groupBy(col("__w__")).agg(count(lit(1)).as("__f__"))
      .select(col("__f__"), explode(expr(
        """transform(sequence(1, length(__w__) - 1),
             i -> concat(substring(__w__, i, 1), ' ', substring(__w__, i + 1, 1)))"""))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("__f__")).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)

  /** BPE tokenizer TRAINING (Sennrich et al. 2016): learn the first
    * `merges` merge rules by repeatedly merging the corpus's most frequent
    * adjacent symbol pair. Returns one row per learned merge:
    * (`merge_ix` 1-based, `pair` "a b", `n` weighted occurrence count at
    * the time of the merge). Ties break to the lexicographically smallest
    * pair, so the whole merge sequence is deterministic.
    *
    * Scale shape: everything runs on the WORD-FREQUENCY table (Heaps'-law
    * sublinear in corpus size, like [[bpePairCounts]]) — one corpus pass
    * builds it, then each iteration is one vocabulary-sized aggregate +
    * a 1-row argmax collect (the learned rule is a model parameter, the
    * same defense as the k-means centroid pin) + one per-word projection.
    * Words are normalized by [[letterNorm]] (NFC + lowercase + split on
    * non-letters — full Unicode), with a `_` end-of-word marker symbol.
    *
    * The greedy left-to-right non-overlapping merge is applied with plain
    * string `replace` over a delimiter encoding that makes it exact on
    * BOTH engines (the property the DuckDB oracle needs): a word's symbol
    * list [a, b, c] is encoded `;a;;b;;c;`, so the pattern `;a;;b;`
    * matches exactly at symbol boundaries (no symbol contains `;`), and
    * replacing it with `;ab;` leaves the `;` that opens the NEXT symbol
    * untouched — consecutive disjoint occurrences all merge in one pass,
    * while a genuinely overlapping `a a a` merges once, exactly the
    * reference BPE semantics. */
  def bpeTrain(
      docs: DataFrame,
      textCol: String,
      merges: Int,
      scope: CacheScope = CacheScope.global): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeFit(docs, textCol, merges, scope)._1.toDF("merge_ix", "pair", "n")
  }

  /** BPE ENCODING: tokenize with the first `merges` learned rules and
    * return per-document subword token counts (`doc_id`, `n_subwords`).
    * The corpus tokenizes through its vocabulary: the merged symbol
    * count is computed once per DISTINCT word (Heaps-bounded frame, the
    * same `;sym;` encoding the trainer maintains) and broadcast-joined
    * back to the per-document words — per-document work is a word lookup,
    * never a re-merge. */
  def bpeSubwordCounts(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Int,
      scope: CacheScope = CacheScope.global): DataFrame = {
    val (_, vocab) = bpeFit(docs, textCol, merges, scope)
    val syms = "split(trim(BOTH ';' FROM __e__), ';;')"
    val sizes = vocab.select(col("__w__"),
      expr(s"size($syms)").cast("long").as("__n__"))
    graft.GraftExtensions.install(docs.sparkSession)
    val norm = letterNorm(textCol)
    docs
      .select(col(idCol), explode(split(norm, "\\s+")).as("__w__"))
      .where(length(col("__w__")) >= 1)
      .join(broadcast(sizes), Seq("__w__"))
      .groupBy(col(idCol))
      .agg(sum(col("__n__")).as("n_subwords"))
  }

  /** Shared BPE training loop: returns the learned merge rules and the
    * final vocabulary frame (`__w__` raw word, `__e__` merged-symbol
    * encoding, `__f__` frequency).
    *
    * Lineage bound: each merge appends one `replace(__e__, ...)` to the
    * vocab plan, so an unbounded loop would hand Catalyst an M-deep
    * expression tree (O(M) analysis per iteration, O(M²) total — fatal at
    * a realistic M≈30k vocab). Every [[BpeCheckpointEvery]] merges the
    * vocab frame is re-materialized with an eager `localCheckpoint`,
    * flattening the replace chain: analysis cost stays O(1) amortized and
    * the deepest plan ever compiled has ≤[[BpeCheckpointEvery]] replaces.
    * Superseded checkpoint blocks are Heaps-bounded (vocab-sized, ≤M/32 of
    * them) and are released by the ContextCleaner once unreferenced. The
    * honest remaining bound: training is inherently M sequential 1-row
    * argmax round-trips (each merge depends on the counts AFTER the
    * previous one — same sequential structure as reference BPE), and each
    * iteration re-counts pairs over the vocab, O(M·|vocab|) total; at
    * M≈30k production scale you'd incrementalize pair counts (only words
    * containing the merged pair change), which this trainer does not do.
    *
    * If the corpus runs out of mergeable pairs before `merges` (every word
    * fully merged), training stops early and returns the rules learned so
    * far, mirroring reference BPE termination. */
  private[llm] val BpeCheckpointEvery = 32

  private def bpeFit(
      docs: DataFrame,
      textCol: String,
      merges: Int,
      scope: CacheScope): (Seq[(Int, String, Long)], DataFrame) = {
    graft.GraftExtensions.install(docs.sparkSession)
    val norm = letterNorm(textCol)
    val wf = scope.cache(docs
      .select(explode(split(norm, "\\s+")).as("__w__"))
      .where(length(col("__w__")) >= 1)
      .groupBy(col("__w__")).agg(count(lit(1)).as("__f__"))
      .select(col("__w__"),
        concat(lit(";"), concat_ws(";;", split(col("__w__"), "")), lit(";;_;"))
          .as("__e__"),
        col("__f__")))
    bpeFitFrom(wf, merges)
  }

  /** BYTE-level word frame: raw whitespace-split words (NO unicode
    * normalization, NO letter filter — the GPT-2 family does neither),
    * each seeded as its UTF-8 byte sequence rendered as fixed-width
    * LOWERCASE HEX pairs. Hex symbols live in [0-9a-f], so the `;sym;`
    * delimiter machinery — and every oracle built on it — transfers
    * unchanged; the `_` end-of-word marker is non-hex, no collision. */
  private[graft] def byteWordFrame(
      docs: DataFrame,
      textCol: String,
      scope: CacheScope): DataFrame = byteSeedFrame(
    docs.select(explode(split(col(textCol), "\\s+")).as("__w__")), scope)

  /** The EXACT GPT-2 pre-tokenizer pattern (the published tiktoken /
    * openai-gpt2 rule set, lookahead included): apostrophe contractions,
    * optionally-space-prefixed letter / digit / punctuation runs, then
    * `\s+(?!\S)` — a whitespace run donates its LAST character to the
    * following token's ` ?` prefix when that character is a space (the
    * run's n−1 prefix matches here), else `\s+` takes the rest. Java
    * regex (the Spark lowering) supports the lookahead directly; the
    * alternatives cover every character class, so matches PARTITION the
    * input (lossless pre-tokenization — spec-pinned against hand-derived
    * tiktoken splits including interior/trailing whitespace runs).
    *
    * The DuckDB oracle engine (RE2) has NO lookahead, so oracles replay
    * the same token MULTISET with an RE2-safe three-part construction
    * (see ops.TokenizerOps.Gpt2WordsSql): ` ?\S+` word pieces re-tokenized by
    * [[Gpt2PretokPatternNoLookahead]] (within a piece the two patterns
    * agree — no interior whitespace), plus for each interior whitespace
    * run `(\s+)\S` its n−1 prefix and, when the last character is not a
    * literal space, that character alone, plus the trailing `(\s+)$`
    * run whole. Token ORDER differs from the sequential walk, which is
    * irrelevant downstream: training and per-doc counts consume
    * frequencies only. */
  val Gpt2PretokPattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+(?!\\S)|\\s+"

  /** [[Gpt2PretokPattern]] minus the lookahead branch — RE2-safe, used
    * by oracles ONLY on pieces with no interior whitespace (where the
    * two patterns provably agree). */
  val Gpt2PretokPatternNoLookahead: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** [[byteWordFrame]] with GPT-2 pre-tokenization instead of bare
    * whitespace words: tokens KEEP their leading space (GPT-2's
    * space-marker convention — the space is just byte 0x20 in the hex
    * seeding), punctuation splits from words, contractions split at the
    * apostrophe. */
  private[graft] def gpt2ByteWordFrame(
      docs: DataFrame,
      textCol: String,
      scope: CacheScope): DataFrame = byteSeedFrame(
    docs.select(explode(regexp_extract_all(col(textCol),
      lit(Gpt2PretokPattern), lit(0))).as("__w__")), scope)

  /** Shared byte seeding over a one-column (`__w__`) token frame:
    * distinct-token frequencies, each token rendered as its UTF-8 bytes
    * in fixed-width lowercase hex pairs under the `;sym;` machinery. */
  private def byteSeedFrame(
      words: DataFrame,
      scope: CacheScope): DataFrame = scope.cache(words
    .where(length(col("__w__")) >= 1)
    .groupBy(col("__w__")).agg(count(lit(1)).as("__f__"))
    .select(col("__w__"),
      concat(lit(";"),
        concat_ws(";;", expr(
          "regexp_extract_all(lower(hex(encode(__w__, 'UTF-8'))), '[0-9a-f]{2}', 0)")),
        lit(";;_;")).as("__e__"),
      col("__f__")))

  /** BYTE-LEVEL BPE training — the GPT-2 tokenizer family, the fourth
    * production trainer next to char-level BPE / WordPiece / unigram-LM:
    * the base alphabet is the 256 BYTES of each word's UTF-8 encoding,
    * which makes the tokenizer TOTAL — any string over any script
    * segments into base symbols, so there is no `[UNK]` BY CONSTRUCTION
    * (the char-level trainers need an unknown token for any character
    * outside the training alphabet; reference GPT-2 bpe chose bytes for
    * exactly this reason). Merge semantics, determinism contract
    * ((count desc, pair asc) argmax), early exhaustion, and the
    * checkpointed lineage bound are [[bpeTrain]]'s — the loop is
    * literally shared ([[bpeFitFrom]]); only the seeding differs
    * ([[byteWordFrame]]: raw whitespace words, hex-pair byte symbols).
    * Output rows: (merge_ix, pair, n) with pair = "<hexsym> <hexsym>". */
  def bpeTrainBytes(
      docs: DataFrame,
      textCol: String,
      merges: Int,
      scope: CacheScope = CacheScope.global): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.GraftExtensions.install(spark)
    bpeFitFrom(byteWordFrame(docs, textCol, scope), merges)._1
      .toDF("merge_ix", "pair", "n")
  }

  /** BYTE-level BPE ENCODING — [[bpeSubwordCounts]] for the GPT-2 family:
    * tokenize the corpus through the byte-level rules and return per-doc
    * subword counts. Same Heaps-bounded distinct-word broadcast shape;
    * because the base alphabet is bytes, EVERY word tokenizes (no OOV
    * path to account for). */
  def bpeSubwordCountsBytes(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Int,
      scope: CacheScope = CacheScope.global): DataFrame =
    byteSubwordCountsFrom(docs, idCol,
      byteWordFrame(docs, textCol, scope), merges,
      explode(split(col(textCol), "\\s+")))

  /** [[bpeTrainBytes]] behind the GPT-2 pre-tokenizer
    * ([[Gpt2PretokPattern]]) — the full production GPT-2 recipe:
    * regex pre-tokenization (contractions, space-prefixed word /
    * number / punctuation runs), then byte-level merges. Merge loop,
    * determinism contract and output shape are [[bpeTrainBytes]]'s. */
  def bpeTrainBytesGpt2(
      docs: DataFrame,
      textCol: String,
      merges: Int,
      scope: CacheScope = CacheScope.global): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.GraftExtensions.install(spark)
    bpeFitFrom(gpt2ByteWordFrame(docs, textCol, scope), merges)._1
      .toDF("merge_ix", "pair", "n")
  }

  /** [[bpeSubwordCountsBytes]] behind the GPT-2 pre-tokenizer: per-doc
    * subword counts through the GPT-2-pre-tokenized byte rules. */
  def bpeSubwordCountsBytesGpt2(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Int,
      scope: CacheScope = CacheScope.global): DataFrame =
    byteSubwordCountsFrom(docs, idCol,
      gpt2ByteWordFrame(docs, textCol, scope), merges,
      explode(regexp_extract_all(col(textCol),
        lit(Gpt2PretokPattern), lit(0))))

  /** PERSIST the byte-BPE tokenizer artifact — train-once / serve-many
    * (the knNgramFit shape for tokenizers): the ranked merge-rule table
    * written as plain parquet under `dir/rules`. Rules are the WHOLE
    * model for a byte-level tokenizer: any string — including words the
    * training corpus never saw — tokenizes by seeding to bytes and
    * replaying the rules in rank order, so the artifact serves open
    * vocabulary by construction. */
  def bpeFitBytesSave(
      docs: DataFrame,
      textCol: String,
      merges: Int,
      dir: String,
      scope: CacheScope = CacheScope.global): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.GraftExtensions.install(spark)
    bpeFitFrom(byteWordFrame(docs, textCol, scope), merges)._1
      .toDF("merge_ix", "pair", "n")
      .write.mode("overwrite").parquet(s"$dir/rules")
  }

  /** Serve per-doc subword counts from a PERSISTED [[bpeFitBytesSave]]
    * artifact, with NO retraining and full OOV coverage: the bounded
    * rule table loads driver-side (model parameter, size = merges), the
    * serving corpus' DISTINCT words seed to bytes, and the rules replay
    * in rank order as a codegen'd replace chain — replace-all per rule,
    * the exact operation training applied, so seen words reproduce
    * their training segmentation and unseen words segment greedily by
    * rule rank (standard BPE apply). Heaps-bounded per-distinct-word
    * work, broadcast join back to the token stream. */
  def bpeSubwordCountsWithRules(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      dir: String,
      scope: CacheScope = CacheScope.global): DataFrame = {
    graft.GraftExtensions.install(docs.sparkSession)
    val rules = graft.sources.ParquetIO.read(docs.sparkSession, s"$dir/rules")
      .orderBy(col("merge_ix"))
      .collect().map(_.getString(1)) // bounded: one row per merge
    val seeded = byteSeedFrame(
      docs.select(explode(split(col(textCol), "\\s+")).as("__w__")), scope)
    val applied = rules.foldLeft(seeded) { (df, pair) =>
      val Array(a, b) = pair.split(' ')
      // plain string replace-all — the exact operation training applied
      // (symbols are hex pairs + '_': no quoting hazards)
      df.withColumn("__e__", expr(s"replace(__e__, ';$a;;$b;', ';$a$b;')"))
    }
    val syms = "split(trim(BOTH ';' FROM __e__), ';;')"
    val sizes = applied.select(col("__w__"),
      expr(s"size($syms)").cast("long").as("__n__"))
    docs
      .select(col(idCol), explode(split(col(textCol), "\\s+")).as("__w__"))
      .where(length(col("__w__")) >= 1)
      .join(broadcast(sizes), Seq("__w__"))
      .groupBy(col(idCol))
      .agg(sum(col("__n__")).as("n_subwords"))
  }

  /** Shared byte-BPE serving path: fit on the seeded token frame, then
    * broadcast-join per-token subword sizes back to the documents'
    * token stream (`wordsOf` must re-produce the SAME tokenization the
    * seed frame was built from). */
  private def byteSubwordCountsFrom(
      docs: DataFrame,
      idCol: String,
      seed: DataFrame,
      merges: Int,
      wordsOf: Column): DataFrame = {
    graft.GraftExtensions.install(docs.sparkSession)
    val (_, vocab) = bpeFitFrom(seed, merges)
    val syms = "split(trim(BOTH ';' FROM __e__), ';;')"
    val sizes = vocab.select(col("__w__"),
      expr(s"size($syms)").cast("long").as("__n__"))
    docs
      .select(col(idCol), wordsOf.as("__w__"))
      .where(length(col("__w__")) >= 1)
      .join(broadcast(sizes), Seq("__w__"))
      .groupBy(col(idCol))
      .agg(sum(col("__n__")).as("n_subwords"))
  }

  /** The shared BPE merge loop over a prepared word frame
    * (`__w__`, `__e__` `;sym;`-encoded symbols, `__f__` frequency). */
  private def bpeFitFrom(
      wf: DataFrame,
      merges: Int): (Seq[(Int, String, Long)], DataFrame) = {
    val syms = "split(trim(BOTH ';' FROM __e__), ';;')"
    // CASE guard: a fully-merged word has ONE symbol and Spark's
    // sequence(1, 0) counts DOWN ([1,0] → element_at out of bounds);
    // DuckDB's range(1, 1) is already empty, so values are unaffected
    val pairsOf = expr(
      s"""CASE WHEN size($syms) < 2 THEN CAST(array() AS array<string>)
          ELSE transform(sequence(1, size($syms) - 1),
            i -> concat(element_at($syms, i), ' ', element_at($syms, i + 1)))
          END""")
    var words = wf
    val learned = Seq.newBuilder[(Int, String, Long)]
    var ix = 1
    var exhausted = false
    while (ix <= merges && !exhausted) {
      val best = words
        .select(col("__f__"), explode(pairsOf).as("pair"))
        .groupBy(col("pair")).agg(sum(col("__f__")).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val pair = best(0).getString(0)
        learned += ((ix, pair, best(0).getLong(1)))
        val Array(a, b) = pair.split(' ')
        words = words.select(col("__w__"),
          expr(s"replace(__e__, ';$a;;$b;', ';$a$b;')").as("__e__"),
          col("__f__"))
        // flatten the replace chain so plan depth stays bounded (scaladoc)
        if (ix % BpeCheckpointEvery == 0) words = words.localCheckpoint(true)
        ix += 1
      }
    }
    (learned.result(), words)
  }

  /** BPE training with INCREMENTAL pair counts — value-identical to
    * [[bpeTrain]] (LlmSpec pins rule-for-rule equality, so the oracle
    * argument transfers), but with the production cost shape the naive
    * trainer's scaladoc concedes it lacks:
    *
    *   - pair counts live in a driver-side map, updated by DELTAS — the
    *     design real tokenizer trainers use (HuggingFace tokenizers holds
    *     pair counts in trainer memory the same way): the pair space is
    *     vocabulary-bounded (distinct adjacent symbol pairs, ~|vocab|·len
    *     entries of a few tens of bytes), the same "model parameters on
    *     the driver" defense as the k-means centroid pin;
    *   - each merge touches only AFFECTED words: one substring-contains
    *     filter over the (Heaps-bounded, cached) vocab frame, a pair
    *     explode of just those words before+after the merge, and one
    *     small aggregated delta collect — the naive trainer re-explodes
    *     and re-aggregates EVERY word's pairs every iteration;
    *   - the replace-chain lineage is bounded by the same
    *     [[BpeCheckpointEvery]] re-materialization as [[bpeTrain]].
    *
    * The argmax is a linear scan of the driver map (deterministic
    * (n desc, pair asc), matching the naive trainer's ordering exactly);
    * a 30k-merge production run would keep a heap + dirty set instead of
    * rescanning — noted, not needed at harness scale. Training stops
    * early when no pairs remain, like [[bpeTrain]]. */
  def bpeTrainIncremental(
      docs: DataFrame,
      textCol: String,
      merges: Int,
      scope: CacheScope = CacheScope.global): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeFitIncremental(docs, textCol, merges, scope)._1
      .toDF("merge_ix", "pair", "n")
  }

  private def bpeFitIncremental(
      docs: DataFrame,
      textCol: String,
      merges: Int,
      scope: CacheScope): (Seq[(Int, String, Long)], DataFrame) = {
    graft.GraftExtensions.install(docs.sparkSession)
    val norm = letterNorm(textCol)
    val wf = scope.cache(docs
      .select(explode(split(norm, "\\s+")).as("__w__"))
      .where(length(col("__w__")) >= 1)
      .groupBy(col("__w__")).agg(count(lit(1)).as("__f__"))
      .select(col("__w__"),
        concat(lit(";"), concat_ws(";;", split(col("__w__"), "")), lit(";;_;"))
          .as("__e__"),
        col("__f__")))
    val syms = "split(trim(BOTH ';' FROM __e__), ';;')"
    val pairsOf = expr(
      s"""CASE WHEN size($syms) < 2 THEN CAST(array() AS array<string>)
          ELSE transform(sequence(1, size($syms) - 1),
            i -> concat(element_at($syms, i), ' ', element_at($syms, i + 1)))
          END""")

    // trainer state: pair -> weighted count, seeded by ONE full aggregate
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    wf.select(col("__f__"), explode(pairsOf).as("pair"))
      .groupBy(col("pair")).agg(sum(col("__f__")).as("n"))
      .collect().foreach(r => counts(r.getString(0)) = r.getLong(1))

    var words = wf
    val learned = Seq.newBuilder[(Int, String, Long)]
    var ix = 1
    while (ix <= merges && counts.nonEmpty) {
      // deterministic argmax: (count desc, pair asc) — bpeFit's ordering
      var bp: String = null
      var bn = Long.MinValue
      counts.foreach { case (p, n) =>
        if (n > bn || (n == bn && p < bp)) { bp = p; bn = n }
      }
      learned += ((ix, bp, bn))
      val Array(a, b) = bp.split(' ')
      val merged = expr(s"replace(__e__, ';$a;;$b;', ';$a$b;')")
      // delta = (after − before) pair multisets of ONLY the words that
      // contain the merged pair, aggregated cluster-side to a small frame
      val aff = words.where(col("__e__").contains(s";$a;;$b;"))
      aff.select((-col("__f__")).as("__d__"), explode(pairsOf).as("pair"))
        .unionByName(aff
          .withColumn("__e__", merged)
          .select(col("__f__").as("__d__"), explode(pairsOf).as("pair")))
        .groupBy(col("pair")).agg(sum(col("__d__")).as("d"))
        .collect().foreach { r =>
          val n = counts.getOrElse(r.getString(0), 0L) + r.getLong(1)
          if (n == 0L) counts.remove(r.getString(0))
          else counts(r.getString(0)) = n
        }
      words = words.select(col("__w__"), merged.as("__e__"), col("__f__"))
      if (ix % BpeCheckpointEvery == 0) words = words.localCheckpoint(true)
      ix += 1
    }
    (learned.result(), words)
  }

  /** Word n-gram shingles over a token-array column. Empty result when the
    * document has fewer than n tokens. */
  def wordShingles(toksCol: String, n: Int): Column =
    expr(s"""CASE WHEN size($toksCol) >= $n
        THEN transform(sequence(1, size($toksCol) - ${n - 1}),
                       i -> concat_ws(' ', slice($toksCol, i, $n)))
        ELSE CAST(array() AS array<string>) END""")

  /** MinHash signature over a shingle-array column: ONE portable 32-bit
    * md5-prefix hash per shingle, permuted through the affine family
    * h_k(x) = ((2k+1)·x + 1000000007·k) mod 2147483647 — the standard
    * one-hash MinHash construction (round 2 paid numHashes full md5s per
    * shingle). md5-derived base hash keeps it engine-portable, so the
    * DuckDB oracle replays it in plain BIGINT arithmetic; collision
    * behavior is the usual estimator (P[sig_a(k) == sig_b(k)] ≈ Jaccard). */
  def minhashSignature(shinglesCol: String, numHashes: Int): Column =
    expr(s"""transform(sequence(1, $numHashes),
        h -> array_min(transform($shinglesCol,
               s -> ((2 * h + 1) * cast(conv(substring(md5(s), 1, 8), 16, 10) AS bigint)
                     + 1000000007L * h) % 2147483647L)))""")

  /** LSH band hashes over a signature column: band b hashes signature rows
    * [(b-1)*r+1, b*r]. Near-dup candidates are pairs sharing ANY band —
    * found with a bucket equi-join, never an all-pairs comparison. */
  def bandHashes(sigCol: String, numBands: Int, rowsPerBand: Int): Column =
    expr(s"""transform(sequence(1, $numBands),
        b -> md5(concat_ws('|', transform(
               slice($sigCol, (b - 1) * $rowsPerBand + 1, $rowsPerBand),
               v -> cast(v AS string)))))""")

  /** 32-bit integer hash of each element of a string-array column (first 8
    * hex digits of md5 — portable across engines, unlike murmur/xxhash). */
  def hashedTokens(toksCol: String): Column =
    expr(s"transform($toksCol, t -> cast(conv(substring(md5(t), 1, 8), 16, 10) AS bigint))")

  /** 32-bit SimHash over a hashed-token array column (see [[hashedTokens]]):
    * bit b of the fingerprint is the majority vote of bit b across token
    * hashes (ties → 0). One pass over the tokens per row; no shuffle. */
  def simhash32(hashedToksCol: String): Column = {
    val counts =
      s"""aggregate($hashedToksCol,
             array_repeat(0, 32),
             (acc, t) -> zip_with(acc, sequence(0, 31),
               (a, b) -> a + IF(((t >> b) & 1) = 1, 1, -1)))"""
    expr(s"""aggregate(
        zip_with($counts, sequence(0, 31),
          (c, b) -> IF(c > 0, shiftleft(cast(1 AS bigint), b), cast(0 AS bigint))),
        cast(0 AS bigint), (x, y) -> x + y)""")
  }

  /** Rolling-hash document fingerprint: minimum md5 over all character
    * n-gram windows (a 1-fingerprint winnowing scheme). Near-identical
    * documents share their minimum window with probability ≈ their char
    * n-gram Jaccard, making this a cheap blocking key for near-dup
    * detection. Documents shorter than n hash whole. */
  def charNgramFingerprint(textCol: String, n: Int): Column =
    expr(s"""CASE WHEN length($textCol) >= $n
        THEN array_min(transform(sequence(1, length($textCol) - ${n - 1}),
                       i -> md5(substring($textCol, i, $n))))
        ELSE md5($textCol) END""")

  /** Character n-gram shingle set (for n-gram Jaccard verification). */
  def charShingles(textCol: String, n: Int): Column =
    expr(s"""CASE WHEN length($textCol) >= $n
        THEN array_distinct(transform(sequence(1, length($textCol) - ${n - 1}),
                            i -> substring($textCol, i, $n)))
        ELSE array($textCol) END""")

  /** Per-group deterministic sampling: keep a row iff its key hash lands
    * below its GROUP's cutoff (percent in (0,100], missing groups use
    * `defaultPercent`). The per-language / per-source rebalancing step of
    * a corpus mix — same md5-prefix hash space as [[hashSample]], so it is
    * repeatable across runs, engines, and cluster topology, and a row's
    * membership is stable when fractions change (nested samples). Pure
    * per-row predicate: no shuffle, pushes into the scan. */
  def stratifiedSample(
      keyCol: Column,
      groupCol: Column,
      percents: Map[String, Double],
      defaultPercent: Double = 0.0,
  ): Column = {
    require(percents.values.forall(p => p >= 0 && p <= 100) &&
      defaultPercent >= 0 && defaultPercent <= 100,
      "percents must be in [0, 100]")
    def cut(p: Double) = lit((p / 100.0 * 4294967296.0).toLong)
    val cutoff = percents.foldLeft(cut(defaultPercent)) {
      case (acc, (g, p)) => when(groupCol === lit(g), cut(p)).otherwise(acc)
    }
    conv(substring(md5(keyCol.cast("binary")), 1, 8), 16, 10)
      .cast("bigint") < cutoff
  }

  /** Character-distribution Shannon entropy in bits — the model-free
    * proxy for LM-perplexity quality filtering (CCNet uses a real LM;
    * when none is available, low char entropy is the same signal:
    * repetitive spam, padding, and binary-ish noise all sit far from
    * natural text's ~4.1 bits/char). Pure per-row closed form.
    *
    * Determinism discipline: the per-character terms are folded in
    * SORTED distinct-char order (binary collation on both engines), the
    * Spark 0.0 seed is exact against the oracle's first-element seed
    * (0.0 + t = t in IEEE), and a final `+ 0.0` canonicalizes the
    * single-distinct-char case's -0.0 before the 6-dp round.
    *
    * Production path: the codegen'd `char_entropy` native (one pass +
    * alphabet-sized fold; requires GraftExtensions). The HOF formulation
    * below ([[charEntropyHof]]) is what the DuckDB oracle replays; a
    * value-identity spec pins native ≡ HOF, so the oracle stays valid. */
  def charEntropy(textCol: String): Column =
    expr(s"""CASE WHEN $textCol IS NULL OR length($textCol) = 0 THEN 0.0D
        ELSE char_entropy($textCol) END""")

  /** Oracle-reference HOF formulation of [[charEntropy]] — interpreted
    * (CodegenFallback) lambdas re-scanning the text once per distinct
    * char; kept as the cross-engine semantic definition and spec anchor,
    * not the production path. */
  private[graft] def charEntropyHof(textCol: String): Column = {
    val t = textCol
    val chars = s"transform(sequence(1, length($t)), i -> substring($t, i, 1))"
    expr(s"""CASE WHEN length($t) = 0 OR $t IS NULL THEN 0.0D ELSE
        round(aggregate(
          array_sort(array_distinct($chars)), 0D,
          (acc, ch) -> acc - (CAST(size(filter($chars, x -> x = ch)) AS DOUBLE)
                              / CAST(length($t) AS DOUBLE))
                       * log2(CAST(size(filter($chars, x -> x = ch)) AS DOUBLE)
                              / CAST(length($t) AS DOUBLE))
        ) + 0D, 6) END""")
  }

  /** Within-document repeated-line removal — the RefinedWeb/CCNet line
    * dedup step (navigation, cookie banners, and footer boilerplate
    * repeat VERBATIM inside a page; corpus-level dedup can't see them):
    * keep the FIRST occurrence of each line, preserve document order,
    * rejoin. A pure per-row closed form — no shuffle, no state, composes
    * into any cleaning pipeline. Cost is O(lines²) string compares per
    * document worst-case, dwarfed by the scan at web-document line counts
    * (10²–10³); for corpus-level repeated blocks use [[Dedup.blockDedup]],
    * which this complements (within-doc vs across-docs). */
  def dedupLines(textCol: Column, delim: String = "\n"): Column = {
    val lines = split(textCol, java.util.regex.Pattern.quote(delim), -1)
    array_join(
      filter(lines, (l, i) => array_position(lines, l) === i + lit(1)),
      delim)
  }

  /** Corpus DATASHEET report — the per-slice summary a dataset release
    * publishes (Datasheets for Datasets / Dolma-style): docs, whitespace
    * tokens, characters, distinct texts by exact content hash, and the
    * duplicate rate, grouped by the given slice columns (language ×
    * source, license tier…). ONE aggregate over the corpus; the exact
    * `count(distinct md5)` is the replayable-oracle choice — at 100 TB
    * swap it for the HLL sketch ([[Sketch.hllDistinct]]) when ±2% is
    * acceptable, the shape is otherwise identical. */
  def corpusReport(
      docs: DataFrame,
      textCol: String,
      groupCols: Seq[String]): DataFrame =
    docs
      .withColumn("__h__", md5(col(textCol).cast("binary")))
      .withColumn("__nt__", size(tokens(col(textCol))).cast("long"))
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__nt__")).as("n_tokens"),
        sum(length(col(textCol)).cast("long")).as("n_chars"),
        countDistinct(col("__h__")).as("n_distinct"),
        round(lit(1.0) -
          countDistinct(col("__h__")).cast("double") /
            count(lit(1)).cast("double"), 6).as("dup_rate"))

  /** Temperature-weighted corpus mixing — the multilingual-pretraining
    * resampling step (Conneau et al. XLM-R §3.1 / Xue et al. mT5 §3.2):
    * group g's share of the kept corpus is re-weighted ∝ n_g^alpha, so
    * alpha < 1 up-samples rare languages/sources and alpha = 1 keeps
    * natural proportions. `keepFrac` sets the overall kept fraction;
    * per-group rates cap at 1 (a tiny group can't be over-sampled without
    * replication, which a filter can't do — callers wanting true
    * up-sampling union extra hash-slices).
    *
    * Scale shape: ONE group-count aggregate (map-side combined) — global
    * totals come from an unbounded window over that #groups-row frame, so
    * the corpus is scanned exactly once for statistics — and a broadcast
    * of the per-group rate table (rows = #groups, tiny by definition)
    * back onto the corpus; the keep decision
    * is then a pure per-row hash predicate in the same md5-prefix space
    * as [[hashSample]] — deterministic across engines, partitionings, and
    * reruns, and nested across keepFrac values. Nothing in the row path
    * shuffles.
    *
    * Determinism discipline (oracle-replayable): pow results and rates
    * round to 6 dp, the weight SUM runs in decimal (order-independent),
    * the double expression `keepFrac * N * w / S / n_g` keeps one fixed
    * association on both engines, and the cutoff is `floor(rate * 2^32)`
    * of the identical rounded double — so the kept SET is bit-identical,
    * not just statistically equal. */
  def temperatureMix(
      df: DataFrame,
      groupCol: String,
      keyCol: String,
      alpha: Double = 0.5,
      keepFrac: Double = 0.5,
  ): DataFrame = {
    require(alpha >= 0 && alpha <= 1, s"alpha must be in [0,1], got $alpha")
    require(keepFrac > 0 && keepFrac <= 1, s"keepFrac must be in (0,1], got $keepFrac")
    val stats = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("__ng__"))
      .withColumn("__wp__",
        round(pow(col("__ng__").cast("double"), alpha), 6))
    // global totals via an unbounded window OVER THE #groups-row stats
    // frame (not a second aggregate of the corpus: a separate `stats.agg`
    // branch would re-scan the full input — Spark does not share uncached
    // subplans — which at 100 TB is an extra full pass for two scalars)
    val w = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    val rates = stats
      .withColumn("__N__", sum(col("__ng__")).over(w))
      .withColumn("__S__",
        round(sum(col("__wp__").cast("decimal(27,6)")).over(w)
          .cast("double"), 6))
      .withColumn("rate", least(lit(1.0),
        round(lit(keepFrac) * col("__N__").cast("double") * col("__wp__")
          / col("__S__") / col("__ng__").cast("double"), 6)))
      .withColumn("__cut__",
        floor(col("rate") * lit(4294967296.0)).cast("bigint"))
      .select(col(groupCol), col("rate"), col("__cut__"))
    df.join(broadcast(rates), Seq(groupCol))
      .where(conv(substring(md5(col(keyCol).cast("binary")), 1, 8), 16, 10)
        .cast("bigint") < col("__cut__"))
      .drop("__cut__")
  }

  /** Deterministic per-group UPSAMPLING with fractional epoch weights —
    * the replication complement of [[temperatureMix]] (which can only keep
    * a subset). `weights` is a tiny (groupCol, weight>=0 double) frame —
    * DoReMi/PaLM-style domain mixture weights: rare domains repeat (w>1),
    * oversized domains thin out (w<1 degenerates to a keep-predicate).
    * Each row emits floor(w) copies plus one more iff its 32-bit md5
    * key-hash falls below floor(round(frac(w),6)·2^32): expected copies
    * = w, and the emitted multiset is a pure function of (key, weight),
    * so the DuckDB oracle replays it bit-for-bit. Copies carry a 0-based
    * `replica` index so downstream exact dedup can't collapse them.
    * Groups absent from `weights` drop (weight 0 by construction).
    *
    * Scale shape: weights broadcast; replication is a map-side explode of
    * sequence(0, n-1) — ZERO shuffles, output flows straight into the
    * next stage at scan parallelism. (Guard: `where n > 0` runs before
    * the explode — sequence(0, -1) would DESCEND, the Spark sharp edge.) */
  def upsampleMix(
      df: DataFrame,
      groupCol: String,
      keyCol: String,
      weights: DataFrame,
  ): DataFrame = {
    val wts = weights
      .select(col(groupCol), col("weight").cast("double").as("__wt__"))
      .withColumn("__base__", floor(col("__wt__")).cast("bigint"))
      .withColumn("__cut__",
        floor(round(col("__wt__") - floor(col("__wt__")), 6)
          * lit(4294967296.0)).cast("bigint"))
      .drop("__wt__")
    df.join(broadcast(wts), Seq(groupCol))
      .withColumn("__n__", col("__base__") +
        when(conv(substring(md5(col(keyCol).cast("binary")), 1, 8), 16, 10)
          .cast("bigint") < col("__cut__"), 1L).otherwise(0L))
      .where(col("__n__") > 0)
      .withColumn("replica", explode(sequence(lit(0L), col("__n__") - 1)))
      .drop("__base__", "__cut__", "__n__")
  }

  /** Token-budget corpus assembly: fill a total token budget across
    * groups by mixture weight — the final step that turns "domain
    * weights" into an actual training corpus of ~`budget` tokens. Each
    * group g gets quota_g = floor(budget · w_g + 0.5) tokens and keeps
    * the PREFIX of its documents, in deterministic md5(id) order, whose
    * inclusive running token count fits the quota (prefix rule: the
    * first overflowing doc and everything after it drop — replayable by
    * one window; a skip-and-continue packing would be inherently
    * sequential). Kept rows carry n_tokens and cum_tokens so downstream
    * sharding can cut on token offsets.
    *
    * Scale: token counts are a map-side projection; weights broadcast
    * (mixture tables are tiny); the running sum is ONE hash-partitioned
    * window on the group key — WindowExec spills, so a giant group is
    * disk-bounded, and the md5 order means re-filling with a larger
    * budget EXTENDS each group's kept prefix (stable membership, the
    * hashSample property). */
  def tokenBudgetFill(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      textCol: String,
      weights: DataFrame,
      budget: Long,
  ): DataFrame = {
    require(budget > 0, "budget must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col("__mk__"), col(idCol))
    df.where(col(textCol).isNotNull)
      .withColumn("__nt__", size(tokens(col(textCol))).cast("long"))
      .withColumn("__mk__",
        md5(col(idCol).cast("string").cast("binary")))
      .join(broadcast(weights
        .select(col(groupCol), col("weight").cast("double").as("__wt__"))),
        Seq(groupCol))
      .withColumn("__quota__",
        floor(col("__wt__") * budget + lit(0.5)).cast("bigint"))
      .withColumn("__cum__", sum(col("__nt__")).over(w))
      .where(col("__cum__") <= col("__quota__"))
      .select(col(idCol), col(groupCol), col("__nt__").as("n_tokens"),
        col("__cum__").as("cum_tokens"))
  }

  /** Within-document repetition ratio: fraction of word n-gram occurrences
    * that are repeats (1 − distinct/total), the classic boilerplate /
    * SEO-spam signal. Per-row closed form; 0.0 for docs shorter than n. */
  def repetitionRatio(toksCol: String, n: Int = 2): Column = {
    val sh = wordShingles(toksCol, n)
    when(size(sh) > 0,
      round(lit(1.0) - size(array_distinct(sh)).cast("double") / size(sh), 6))
      .otherwise(lit(0.0))
  }

  /** Gopher repetition-signal family (Rae et al. 2021, Table A1) — the
    * document-level repetition fractions the quality GATES
    * ([[gopherGates]]) deliberately left out:
    *
    *   - `top{n}gram_char_frac`: characters claimed by the single most
    *     frequent word n-gram (count × gram char length, single-space
    *     joined) over the trimmed text length — ties break to the
    *     lexicographically smallest gram so both engines pick the same
    *     winner;
    *   - `dup{n}gram_char_frac`: characters claimed by ALL n-grams that
    *     occur more than once (Σ count × length over duplicated grams —
    *     the published definition counts every occurrence, so overlap
    *     double-counting is intentional and the value can exceed 1 on
    *     degenerate spam).
    *
    * Numerators are exact INTEGER sums (order-independent under any
    * shuffle); the one division rounds to 6dp on both engines. Docs with
    * fewer than n tokens have no n-gram and report 0.0 (re-emitted via a
    * thin two-column left join).
    *
    * Scale shape: one tagged gram explode (corpus-token-linear, n-fold) →
    * map-side-combined count aggregate on (doc, n, gram) → per-(doc, n)
    * struct-min argmax + conditional integer sum → bounded-width
    * conditional pivot to one row per doc. No windows over the corpus, no
    * dictionary joins; every aggregate combines map-side, so a 100×
    * corpus costs 100× linear work on the same three exchanges. */
  def repetitionSignals(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      topNs: Seq[Int] = Seq(2, 3),
      dupNs: Seq[Int] = Seq(5)): DataFrame = {
    require(topNs.nonEmpty || dupNs.nonEmpty, "need at least one n")
    graft.GraftExtensions.install(docs.sparkSession)
    val ns = (topNs ++ dupNs).distinct.sorted
    val base = docs.select(col(idCol),
      length(trim(col(textCol))).as("__total__"),
      tokens(col(textCol)).as("__toks__"))
    // gram generation is the hot per-token loop → the codegen'd
    // word_ngrams native (wordShingles stays as the spec-pinned anchor)
    val tagged = base.select(col(idCol), col("__total__"),
      explode(array(ns.map(n =>
        struct(lit(n).as("n"), expr(s"word_ngrams(__toks__, $n)").as("gs"))): _*))
        .as("__e__"))
      .select(col(idCol), col("__total__"),
        col("__e__.n").as("__n__"), explode(col("__e__.gs")).as("__g__"))
    val counted = tagged
      .groupBy(col(idCol), col("__total__"), col("__n__"), col("__g__"))
      .agg(count(lit(1)).as("__c__"))
    val perN = counted
      .groupBy(col(idCol), col("__total__"), col("__n__"))
      .agg(
        min(struct((-col("__c__")).as("nc"), col("__g__").as("g"))).as("__top__"),
        sum(when(col("__c__") >= 2, col("__c__") * length(col("__g__")))
          .otherwise(lit(0L))).as("__dup__"))
      .select(col(idCol), col("__n__"),
        round(((-col("__top__.nc")) * length(col("__top__.g"))).cast("double")
          / col("__total__"), 6).as("__topf__"),
        round(col("__dup__").cast("double") / col("__total__"), 6).as("__dupf__"))
    val pivotCols =
      topNs.map(n => max(when(col("__n__") === n, col("__topf__")))
        .as(s"top${n}gram_char_frac")) ++
        dupNs.map(n => max(when(col("__n__") === n, col("__dupf__")))
          .as(s"dup${n}gram_char_frac"))
    val pivoted = perN.groupBy(col(idCol)).agg(pivotCols.head, pivotCols.tail: _*)
    val outCols = topNs.map(n => s"top${n}gram_char_frac") ++
      dupNs.map(n => s"dup${n}gram_char_frac")
    docs.select(col(idCol)).join(pivoted, Seq(idCol), "left")
      .select(col(idCol) +: outCols.map(c =>
        coalesce(col(c), lit(0.0)).as(c)): _*)
  }

  /** PII scrubbing: replace emails, international-format phone numbers,
    * and IPv4 addresses with typed placeholder tokens (the redaction pass
    * a training pipeline runs before a corpus ships). Patterns stay inside
    * the common Java-regex/RE2 subset — no backreferences or lookaround —
    * so the DuckDB oracle replays them byte-identically with
    * `regexp_replace(..., 'g')`. Per-row codegen'd `regexp_replace` chain:
    * no shuffle, scales with the scan. */
  def scrubPii(text: Column): Column = {
    val email = regexp_replace(text,
      lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"), lit("<EMAIL>"))
    val phone = regexp_replace(email, lit("\\+[0-9][0-9 -]{5,13}[0-9]"), lit("<PHONE>"))
    regexp_replace(phone,
      lit("\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"), lit("<IP>"))
  }

  /** URL decomposition for web-corpus curation — scheme, host (userinfo
    * and port stripped), path, and REGISTRABLE DOMAIN (the per-site key
    * that domain blocklists, per-site caps, and URL dedup all group on;
    * plain host grouping splits `a.example.com` from `b.example.com`).
    * The registrable domain follows the PUBLIC SUFFIX LIST algorithm
    * (publicsuffix.org — public data): among the rules matching the
    * host's tail, an exception rule prevails, else the longest; the
    * registrable domain is the prevailing suffix plus one label.
    * [[PslSuffix2]]/[[PslSuffix3]]/[[PslWildcard1]]/[[PslException2]]
    * hold the frozen snapshot (ICANN second-level registries + the
    * high-traffic private-domain entries like `github.io`); a
    * production deployment regenerates the four lists from the live
    * PSL file — the expression shape is unchanged. One documented
    * deviation: a host that IS a public suffix returns itself (PSL says
    * "no registrable domain"; curation wants a non-null grouping key).
    * Pure codegen'd regexp/split chain in the Java-regex/RE2 common
    * subset (non-capturing groups only — no lookaround/backrefs), so
    * the DuckDB oracle replays it byte-identically (the CASE is
    * GENERATED from these same lists — they cannot desynchronize).
    * Per-row, zero shuffle. */
  def urlParts(url: Column): Column = {
    val scheme = regexp_extract(url, "^([a-z][a-z0-9+.-]*)://", 1)
    val auth = regexp_extract(url, "^[a-z][a-z0-9+.-]*://([^/?#]*)", 1)
    val host = regexp_extract(auth, "^(?:[^@]*@)?([^:]*)", 1)
    val path = regexp_extract(url, "^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val labels = split(host, "\\.")
    val k = size(labels)
    val last1 = element_at(labels, -1)
    val two = concat_ws(".", slice(labels, k - 1, lit(2)))
    val three = concat_ws(".", slice(labels, k - 2, lit(3)))
    val four = concat_ws(".", slice(labels, k - 3, lit(4)))
    val domain =
      when(k >= 4 && three.isin(PslSuffix3: _*), four)
        .when(k >= 2 && two.isin(PslException2: _*), two) // !rule: itself
        .when(k >= 3 && last1.isin(PslWildcard1: _*), three) // *.tld
        .when(k >= 3 && two.isin(PslSuffix2: _*), three)
        // host IS a 3-label public suffix whose 2-label tail is not itself
        // a suffix (s3.amazonaws.com): return itself, matching the 2-label
        // and blogspot.co.uk-style host-is-suffix cases above
        .when(k >= 3 && three.isin(PslSuffix3: _*), three)
        .when(k >= 2, two)
        .otherwise(host)
    struct(scheme.as("scheme"), host.as("host"), path.as("path"),
      domain.as("domain"))
  }

  /** Public-suffix-list snapshot (publicsuffix.org, PUBLIC data), the
    * four rule classes [[urlParts]] consults. Two-label public suffixes:
    * ICANN ccTLD second-level registries plus the widely-used PRIVATE
    * section entries (user-content platforms — each user site is its
    * own "registrable" unit for curation purposes, which is exactly why
    * the platforms registered them). */
  private[graft] val PslSuffix2: Seq[String] = Seq(
    // ICANN ccTLD second-level registries
    "co.uk", "org.uk", "me.uk", "ac.uk", "gov.uk", "net.uk", "sch.uk",
    "nhs.uk", "ltd.uk", "plc.uk",
    "co.jp", "or.jp", "ne.jp", "ac.jp", "ad.jp", "ed.jp", "go.jp",
    "gr.jp", "lg.jp",
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au", "id.au",
    "com.br", "net.br", "org.br", "gov.br", "edu.br", "art.br",
    "co.in", "net.in", "org.in", "firm.in", "gen.in", "ind.in", "ac.in",
    "edu.in", "res.in", "gov.in",
    "co.nz", "net.nz", "org.nz", "govt.nz", "ac.nz", "school.nz",
    "geek.nz", "maori.nz",
    "co.za", "org.za", "net.za", "web.za", "ac.za", "gov.za", "edu.za",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "ac.cn",
    "co.kr", "or.kr", "ne.kr", "go.kr", "ac.kr", "re.kr", "pe.kr",
    "com.tw", "net.tw", "org.tw", "edu.tw", "gov.tw", "idv.tw",
    "com.hk", "net.hk", "org.hk", "edu.hk", "gov.hk", "idv.hk",
    "com.sg", "net.sg", "org.sg", "edu.sg", "gov.sg", "per.sg",
    "com.my", "net.my", "org.my", "edu.my", "gov.my",
    "com.mx", "net.mx", "org.mx", "gob.mx", "edu.mx",
    "com.ar", "net.ar", "org.ar", "gob.ar", "edu.ar", "int.ar", "mil.ar",
    "com.tr", "net.tr", "org.tr", "gov.tr", "edu.tr", "bel.tr", "pol.tr",
    "com.pl", "net.pl", "org.pl", "edu.pl", "gov.pl", "waw.pl",
    "co.il", "org.il", "net.il", "ac.il", "gov.il", "muni.il",
    "co.id", "or.id", "net.id", "ac.id", "go.id", "sch.id", "web.id",
    "co.th", "or.th", "net.th", "ac.th", "go.th", "in.th",
    "com.ua", "net.ua", "org.ua", "edu.ua", "gov.ua",
    // PRIVATE section: user-content platforms
    "github.io", "gitlab.io", "blogspot.com", "appspot.com",
    "herokuapp.com", "netlify.app", "vercel.app", "pages.dev",
    "workers.dev", "azurewebsites.net", "cloudfront.net",
    "firebaseapp.com", "web.app", "glitch.me", "onrender.com",
    "fly.dev", "surge.sh", "neocities.org", "wordpress.com")

  /** Three-label public suffixes (PRIVATE section entries). */
  private[graft] val PslSuffix3: Seq[String] = Seq(
    "blogspot.co.uk", "blogspot.com.au", "blogspot.com.br",
    "s3.amazonaws.com")

  /** Wildcard rules `*.tld`: EVERY two-label tail under these TLDs is a
    * public suffix. */
  private[graft] val PslWildcard1: Seq[String] = Seq(
    "bd", "ck", "er", "fk", "mm", "np", "pg")

  /** Exception rules (`!` in the PSL): registrable DESPITE a wildcard. */
  private[graft] val PslException2: Seq[String] = Seq("www.ck")

  /** Per-domain document cap — the Common Crawl curation step that stops
    * a handful of template-heavy sites from dominating a corpus: keep at
    * most `cap` documents per domain, chosen in deterministic
    * (md5(id), id) order so membership is stable across runs, engines,
    * and partitionings (the [[hashSample]] property, per-domain).
    *
    * Scale shape: ONE row_number window on the domain key. Spark plans a
    * partial WindowGroupLimit before the exchange (the `topK` operator's
    * verified shape), so each map task forwards at most `cap` rows per
    * domain — a million-page hot domain contributes `cap × n_maps`
    * candidates to the shuffle, not a million. */
  def domainCap(
      docs: DataFrame, domainCol: String, idCol: String, cap: Int): DataFrame = {
    require(cap >= 1, "cap must be >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(domainCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    docs.withColumn("__rn__", row_number().over(w))
      .where(col("__rn__") <= cap)
      .drop("__rn__")
  }

  /** URL CANONICALIZATION — the normalize-before-dedup key for exact
    * URL dedup (a crawl sees the same page as `HTTP://Host/p?b=2&a=1`,
    * `http://host/p?a=1&b=2&utm_source=feed#frag`, …): lowercase scheme
    * and host, strip userinfo and port, empty path → `/`, drop the
    * fragment, drop tracking parameters (`utm_*`, `fbclid`, `gclid`,
    * `ref`, `mc_cid`, `mc_eid` — the widely-published redundant set),
    * and SORT the surviving query parameters (binary order — parameter
    * order is almost always semantically irrelevant and is the top
    * source of spurious URL distinctness). Pure per-row expression in
    * the Java-regex/RE2 common subset; the DuckDB oracle replays it
    * byte-identically. */
  def urlCanonical(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    val auth = regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1)
    val host = lower(regexp_extract(auth, "^(?:[^@]*@)?([^:]*)", 1))
    val path0 =
      regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val path = when(path0 === "", lit("/")).otherwise(path0)
    val qs = regexp_extract(url, "\\?([^#]*)", 1)
    val kept = array_sort(org.apache.spark.sql.functions.filter(
      split(qs, "&"),
      p => !(p.rlike("^(utm_[a-zA-Z0-9_]*|fbclid|gclid|ref|mc_cid|mc_eid)=")
        || p === lit(""))))
    val q = array_join(kept, "&")
    concat(scheme, lit("://"), host, path,
      when(length(q) > 0, concat(lit("?"), q)).otherwise(lit("")))
  }

  /** Domain BLOCKLIST gate — [[domainCap]]'s negative twin and the other
    * half of production URL curation (UT1/adult/malware lists): drop
    * every document whose url's REGISTRABLE domain (PSL, [[urlParts]])
    * has a blocklist row. Blocklist-as-DataFrame anti-join is the scale
    * path: a multi-million-entry list shuffles like any dimension (AQE
    * broadcasts a small one) — no driver-side lookup, no literal
    * explosion into the plan; registrable-domain matching makes
    * subdomain wildcarding free (every host under a blocked site shares
    * its registrable domain). Returns `docs` rows whose domain is
    * unblocked, schema unchanged. */
  def domainBlocklistFilter(
      docs: DataFrame,
      urlCol: String,
      blocklist: DataFrame,
      domainCol: String = "domain"): DataFrame =
    docs
      .withColumn("__dom__", urlParts(col(urlCol)).getField("domain"))
      .join(blocklist.select(col(domainCol).as("__dom__")).distinct(),
        Seq("__dom__"), "left_anti")
      .drop("__dom__")

  /** HTML → text extraction, the first stage of every web-crawl corpus
    * pipeline (the WARC/HTML step the Gopher/CCNet filters assume already
    * happened): script/style/comment blocks drop wholesale (BEFORE the
    * generic tag pass — a `1 < 2` inside a script would otherwise eat
    * text to the next `>`), remaining tags drop, the six core character
    * entities decode (`&amp;` LAST so `&amp;lt;` yields the literal
    * `&lt;`, per the single-pass decoding rule), whitespace collapses.
    * Patterns stay inside the Java-regex/RE2 common subset (non-greedy +
    * inline `(?is)` flags, no lookaround/backrefs) so the DuckDB oracle
    * replays byte-identically. Per-row codegen'd chain: no shuffle,
    * scales with the scan. */
  def stripHtml(text: Column): Column = {
    val noScript = regexp_replace(text,
      lit("(?is)<script[^>]*>.*?</script>"), lit(" "))
    val noStyle = regexp_replace(noScript,
      lit("(?is)<style[^>]*>.*?</style>"), lit(" "))
    val noComment = regexp_replace(noStyle, lit("(?s)<!--.*?-->"), lit(" "))
    val noTags = regexp_replace(noComment, lit("(?s)<[^>]*>"), lit(" "))
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, v)) => replace(c, lit(e), lit(v)) }
    trim(regexp_replace(decoded, lit("\\s+"), lit(" ")))
  }

  /** Corpus drift detection: add-α-smoothed unigram KL divergence
    * D(P‖Q) between two corpus slices — the distribution-shift monitor a
    * pipeline runs between crawl snapshots, before/after a filter stage,
    * or across sources (a filter that silently skews the word
    * distribution shows up here before it shows up in model evals).
    *
    * Determinism: p and q are ratios of exact integers (+α), so the
    * divisions are single correctly-rounded IEEE ops on both engines;
    * the one transcendental (ln) is ~1ulp and each term rounds to
    * INTEGER nano-nats before the sum (the DSIR integer-log trick at
    * 1e9 scale — order-independent under any shuffle), with one final
    * 6-dp division. Smoothing domain = the UNION vocabulary, so q > 0
    * always and KL is finite.
    *
    * Scale shape: two map-side-combined word-count aggregates (corpus-
    * linear), one vocabulary-bounded full-outer join, totals via
    * unbounded windows over the already-aggregated vocab frame (the
    * temperatureMix one-scan trick — never a second corpus pass), one
    * integer-sum reduce. Output (1 row): kl_nats, n_vocab,
    * n_tokens_a, n_tokens_b. */
  def unigramKl(
      a: DataFrame,
      b: DataFrame,
      textCol: String,
      alpha: Double = 0.5): DataFrame =
    klTermFrame(a, b, textCol, alpha)
      .agg(
        sum(col("__t__")).as("__kl__"),
        max(col("__v__")).as("n_vocab"),
        max(col("__ta__")).as("n_tokens_a"),
        max(col("__tb__")).as("n_tokens_b"))
      .select(
        round(col("__kl__").cast("double") / 1e9, 6).as("kl_nats"),
        col("n_vocab"), col("n_tokens_a"), col("n_tokens_b"))

  /** Per-TERM drift attribution — the "which words drifted" report next
    * to [[unigramKl]]'s scalar: the k words with the largest
    * |contribution| to D(P‖Q) (ties break on the word), each with its
    * counts and signed nano-nat term (positive = over-represented in
    * `a`, negative = in `b`). Same exact arithmetic as the scalar (the
    * per-word terms SUM to it); TakeOrdered cut on the vocab-bounded
    * frame — no global sort. */
  def driftTerms(
      a: DataFrame,
      b: DataFrame,
      textCol: String,
      k: Int,
      alpha: Double = 0.5): DataFrame = {
    require(k >= 1, "k must be positive")
    klTermFrame(a, b, textCol, alpha)
      .select(col("__w__").as("word"), col("na"), col("nb"),
        col("__t__").as("term_nanonats"))
      .orderBy(abs(col("term_nanonats")).desc, col("word"))
      .limit(k)
  }

  /** Shared drift scoring frame: one row per UNION-vocabulary word with
    * counts, totals (unbounded windows over the tiny vocab frame — the
    * temperatureMix one-scan trick), and the integer nano-nat KL term. */
  private def klTermFrame(
      a: DataFrame,
      b: DataFrame,
      textCol: String,
      alpha: Double): DataFrame = {
    require(alpha > 0, "alpha must be positive (q must stay nonzero)")
    def counts(df: DataFrame, name: String) =
      df.select(explode(tokens(col(textCol))).as("__w__"))
        .where(length(col("__w__")) >= 1)
        .groupBy(col("__w__")).agg(count(lit(1)).as(name))
    val j = counts(a, "__na__")
      .join(counts(b, "__nb__"), Seq("__w__"), "full_outer")
      .select(col("__w__"),
        coalesce(col("__na__"), lit(0L)).as("na"),
        coalesce(col("__nb__"), lit(0L)).as("nb"))
    val w = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    j.withColumn("__ta__", sum(col("na")).over(w))
      .withColumn("__tb__", sum(col("nb")).over(w))
      .withColumn("__v__", count(lit(1)).over(w))
      .withColumn("__p__",
        (col("na").cast("double") + lit(alpha))
          / (col("__ta__").cast("double") + lit(alpha) * col("__v__")))
      .withColumn("__q__",
        (col("nb").cast("double") + lit(alpha))
          / (col("__tb__").cast("double") + lit(alpha) * col("__v__")))
      .withColumn("__t__",
        round(col("__p__") * (log(col("__p__")) - log(col("__q__")))
          * lit(1e9)).cast("long"))
  }

  /** Markdown → text extraction — [[stripHtml]]'s sibling for the
    * README/docs/code-adjacent corpora (GitHub, StackExchange dumps):
    * fenced code blocks drop WHOLESALE first (a `#` or `[` inside code
    * must not be parsed as markup — the stripHtml script-block rule),
    * then images and links reduce to their alt/anchor text (images
    * BEFORE links: the generic link pattern would otherwise leave the
    * `!` behind), inline-code backticks unwrap, ATX headings /
    * blockquote markers / horizontal rules drop at line starts
    * (`(?m)`), `*` emphasis markers drop, and whitespace collapses.
    * Underscore emphasis is deliberately NOT stripped: telling `_em_`
    * from `snake_case` needs lookaround, which RE2 lacks — the
    * documented common-subset price. Replacement backreferences use
    * `$1` (Java) here and `\\1` (RE2) in the oracle — different
    * spelling, same transform. Per-row codegen'd chain: no shuffle,
    * scales with the scan. */
  def stripMarkdown(text: Column): Column = {
    val noFence = regexp_replace(text, lit("(?s)```.*?```"), lit(" "))
    val noImage = regexp_replace(noFence,
      lit("!\\[([^\\]]*)\\]\\(([^)]*)\\)"), lit("$1"))
    val noLink = regexp_replace(noImage,
      lit("\\[([^\\]]*)\\]\\(([^)]*)\\)"), lit("$1"))
    val noInline = regexp_replace(noLink, lit("`([^`]*)`"), lit("$1"))
    val noHead = regexp_replace(noInline, lit("(?m)^#{1,6}[ \\t]+"), lit(""))
    val noQuote = regexp_replace(noHead, lit("(?m)^>[ \\t]?"), lit(""))
    val noRule = regexp_replace(noQuote, lit("(?m)^(-{3,}|\\*{3,})$"), lit(" "))
    val noEmph = regexp_replace(noRule, lit("\\*{1,3}"), lit(""))
    trim(regexp_replace(noEmph, lit("\\s+"), lit(" ")))
  }

  /** Unicode NFC normalization (codegen'd native, [[graft.expr.NfcNormalize]]).
    * Corpus pipelines normalize BEFORE any hashing/dedup stage: the
    * decomposed e+U+0301 and precomposed U+00E9 must land in the same
    * minhash/md5/gram keys or the same page crawled by two paths never
    * dedups. Per-row, zero shuffle; DuckDB's `nfc_normalize` is the same
    * Unicode transform, so oracles replay it exactly. The caller must have
    * graft natives installed (every public operator entry point installs). */
  def nfc(textCol: String): Column = expr(s"nfc_normalize($textCol)")

  /** Total Aho–Corasick matches of a phrase dictionary in the text —
    * the blocklist/keyword-scan primitive at 10k+ phrase scale: ONE text
    * pass regardless of dictionary size ([[graft.expr.AcCount]]; the
    * regex-chain alternative pays a pass per phrase). Counts every
    * (position, entry) match, overlaps included; phrases must be
    * non-empty and SHOULD be distinct (duplicates count separately). */
  def keywordHits(textCol: String, phrases: Seq[String]): Column = {
    require(phrases.nonEmpty && phrases.forall(_.nonEmpty),
      "keywordHits needs non-empty phrases")
    val arr = phrases.map(p => s"'${p.replace("'", "''")}'")
      .mkString("array(", ", ", ")")
    expr(s"ac_count($textCol, $arr)")
  }

  /** Compression-ratio quality signal: deflate_len(text)/octet_length(text)
    * (level-6 DEFLATE, [[graft.expr.DeflateLen]]). Boilerplate/template
    * spam compresses far below natural prose; near-random noise compresses
    * above it — the model-free complement to LM perplexity (RedPajama-v2
    * ccnet signal family). NULL/empty text → NULL (no 0/0). Not DuckDB-
    * replayable (no SQL DEFLATE) — spec-gated with closed-form orderings,
    * the approxPercentile precedent. */
  def compressionRatio(textCol: String): Column =
    when(length(col(textCol)) > 0,
      expr(s"deflate_len($textCol)").cast("double")
        / expr(s"octet_length($textCol)"))

  /** Weighted sampling WITHOUT replacement, deterministic: the
    * Efraimidis–Spirakis priority rule (Inf. Proc. Letters 2006) with the
    * random draw replaced by the md5 hash of the key — each row's
    * priority is ln(u)/w for u = (md5_u32(key)+1)/2^32 ∈ (0,1], and the
    * top-k priorities ARE a weight-proportional sample without
    * replacement. Deterministic across runs/engines/topology like
    * [[hashSample]] (the repeatable-at-100TB property), and a TakeOrdered
    * — no global sort materialization, no per-group state.
    *
    * ln is the one non-IEEE-exact op → priorities round to 6 dp with a
    * key tie-break (the pow/log2 oracle discipline); rows with
    * non-positive or NULL weight are excluded (a zero-weight row can
    * never win and ln(u)/0 is undefined). */
  def weightedSample(
      df: DataFrame,
      keyCol: String,
      weightCol: String,
      k: Int,
  ): DataFrame = {
    require(k >= 1, "k must be positive")
    df
      .where(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("__u__",
        (conv(substring(md5(col(keyCol).cast("string").cast("binary")), 1, 8),
          16, 10).cast("bigint") + 1L).cast("double") / lit(4294967296.0))
      .withColumn("priority",
        round(log(col("__u__")) / col(weightCol).cast("double"), 6))
      .orderBy(col("priority").desc, col(keyCol))
      .limit(k)
      .drop("__u__")
  }

  /** Per-GROUP weighted sampling without replacement — the stratified
    * form of [[weightedSample]] ("k docs per language, weight-
    * proportional"): the same md5-derandomized Efraimidis–Spirakis
    * priority, cut to the top `k` PER GROUP by a rank window instead of
    * a global TakeOrdered. Deterministic across runs/engines/topology
    * (priority 6-dp + key tie-break); NULL/non-positive weights are
    * excluded.
    *
    * Scale shape: ONE row_number window on the group key, which Spark
    * rewrites to a partial WindowGroupLimit (the [[domainCap]] shape) —
    * each map task forwards at most k rows per group into the exchange,
    * so a billion-row group costs k × n_maps shuffle rows, not a
    * billion. */
  def weightedSamplePerGroup(
      df: DataFrame,
      groupCol: String,
      keyCol: String,
      weightCol: String,
      k: Int,
  ): DataFrame = {
    require(k >= 1, "k must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col("priority").desc, col(keyCol))
    df
      .where(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("__u__",
        (conv(substring(md5(col(keyCol).cast("string").cast("binary")), 1, 8),
          16, 10).cast("bigint") + 1L).cast("double") / lit(4294967296.0))
      .withColumn("priority",
        round(log(col("__u__")) / col(weightCol).cast("double"), 6))
      .withColumn("__rn__", row_number().over(w))
      .where(col("__rn__") <= k)
      .drop("__u__", "__rn__")
  }

  /** Deterministic hash sampling: keep a row iff the md5 of its key lands
    * in the first `percent` of the hash space (first 8 hex digits as an
    * unsigned 32-bit value). Stable across runs/engines and cluster
    * topology — the correct way to sample a 100 TB corpus repeatably
    * (unlike `sample()`, which depends on partitioning and seed plumbing). */
  def hashSample(keyCol: Column, percent: Double): Column = {
    require(percent > 0 && percent <= 100, "percent must be in (0, 100]")
    val cutoff = (percent / 100.0 * 4294967296.0).toLong
    conv(substring(md5(keyCol.cast("binary")), 1, 8), 16, 10)
      .cast("bigint") < cutoff
  }

  // ---------------- language ID + quality ----------------

  /** Tiny per-language function-word profiles for the n-gram/stopword
    * language-ID heuristic. Deliberately small: language ID at 100 TB must
    * be a closed-form expression, not a model inference. */
  /** jusText-style boilerplate LINE classification (Pomikálek 2011's
    * context-free core — the length + stopword-density rules; the link-
    * density rule needs markup and belongs upstream of [[stripHtml]]):
    * a line is CONTENT iff it has ≥ `minWords` tokens AND (its stopword
    * density clears `minStopPct` percent OR the line is ≥
    * `longLineChars` chars — the long-line escape for prose with
    * unusual vocabulary); everything else (nav bars, footers, button
    * labels, copyright lines) is boilerplate. Returns a struct
    * (`clean` = content lines joined by newline, `n_lines`,
    * `n_content`, `boilerplate_frac` 6-dp).
    *
    * Determinism: the density test is pure INTEGER arithmetic
    * (100·stops ≥ pct·words — no float ratio to disagree about); the
    * one division (boilerplate fraction) is a single correctly-rounded
    * IEEE op both engines state identically. Per-row HOF chain, zero
    * shuffle — scales with the scan like the other curation gates.
    * Empty text is one empty line → boilerplate_frac 1.0 (documented:
    * empty docs have no content). */
  def boilerplateLines(
      textCol: String,
      stopwords: Seq[String],
      minWords: Int = 6,
      minStopPct: Int = 20,
      longLineChars: Int = 80): Column = {
    require(stopwords.nonEmpty && minWords >= 1 && minStopPct >= 0 &&
      longLineChars >= 1, "bad knobs")
    // production path: the codegen'd single-pass native (each line
    // tokenizes ONCE; the HOF formulation below tokenizes every line
    // three times through interpreted CodegenFallback lambdas and is
    // kept as the spec-pinned value-identity anchor)
    call_function("boilerplate_strip", col(textCol),
      lit(graft.expr.BoilerplateModel.encode(
        stopwords, minWords, minStopPct, longLineChars)))
  }

  /** Interpreted HOF formulation of [[boilerplateLines]] — the
    * cross-engine semantic definition the spec pins the native against
    * (the charEntropyHof pattern), not the production path. */
  private[graft] def boilerplateLinesHof(
      textCol: String,
      stopwords: Seq[String],
      minWords: Int = 6,
      minStopPct: Int = 20,
      longLineChars: Int = 80): Column = {
    require(stopwords.nonEmpty && minWords >= 1 && minStopPct >= 0 &&
      longLineChars >= 1, "bad knobs")
    val stopLit = s"array(${sqlStringList(stopwords)})"
    def toks(ln: String) = s"filter(split(lower(trim($ln)), '\\\\s+'), t -> t <> '')"
    val pred =
      s"""size(${toks("ln")}) >= $minWords AND (
            100 * size(filter(${toks("ln")}, t -> array_contains($stopLit, t)))
              >= $minStopPct * size(${toks("ln")})
            OR length(trim(ln)) >= $longLineChars)"""
    expr(
      s"""named_struct(
            'clean', array_join(filter(split($textCol, '\\n'), ln -> $pred), '\\n'),
            'n_lines', CAST(size(split($textCol, '\\n')) AS BIGINT),
            'n_content',
              CAST(size(filter(split($textCol, '\\n'), ln -> $pred)) AS BIGINT),
            'boilerplate_frac',
              round(CAST(1 AS DOUBLE)
                - CAST(size(filter(split($textCol, '\\n'), ln -> $pred)) AS DOUBLE)
                  / CAST(size(split($textCol, '\\n')) AS DOUBLE), 6))""")
  }

  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in"),
    "de" -> Seq("der", "die", "das", "und", "ist", "zu", "im"),
    "es" -> Seq("el", "los", "las", "y", "es", "en", "un"),
    "fr" -> Seq("le", "les", "et", "est", "dans", "un", "une"),
    "zh" -> Seq("de", "shi", "bu", "zai", "you", "wo", "ta"),
  )

  private def sqlStringList(words: Seq[String]): String =
    words.map(w => s"'${w.replace("'", "''")}'").mkString(", ")

  /** Count of tokens found in `words`. */
  def stopwordCount(toksCol: String, words: Seq[String]): Column =
    expr(s"size(filter($toksCol, t -> t IN (${sqlStringList(words)})))")

  /** Predicted language: argmax of per-language stopword counts, first
    * profile wins ties, 'und' (undetermined) when every score is zero. */
  def langId(toksCol: String): Column = {
    val scores = LangProfiles.map { case (lang, words) =>
      lang -> stopwordCount(toksCol, words)
    }
    val best = greatest(scores.map(_._2): _*)
    val picked = scores.foldRight(lit("und")) { case ((lang, score), elseCol) =>
      when(score === best, lit(lang)).otherwise(elseCol)
    }
    when(best === 0, lit("und")).otherwise(picked)
  }

  /** Language-ID confidence margin: best stopword-profile score minus
    * the runner-up's — the ABSTAIN signal next to [[langId]]'s argmax
    * (production pipelines drop or re-route low-margin docs rather than
    * trust a coin-flip prediction; a cross-language tie yields margin 0,
    * exactly the abstain case). Pure integer arithmetic over the same
    * per-language counts: sort the score vector descending, subtract
    * the top two. Per-row, zero shuffle, oracle replays it exactly. */
  def langIdMargin(toksCol: String): Column = {
    val scores = LangProfiles.map { case (_, words) =>
      stopwordCount(toksCol, words)
    }
    val arr = sort_array(array(scores: _*), asc = false)
    (element_at(arr, 1) - element_at(arr, 2)).cast("long")
  }

  /** Mean token length: exact integer sum of lengths divided by count. */
  def meanTokenLength(toksCol: String): Column =
    expr(s"aggregate($toksCol, 0, (acc, t) -> acc + length(t))") /
      expr(s"size($toksCol)")

  /** The Gopher rule family's tiny English function-word list: a document
    * is expected to contain at least 2 of these (Rae et al. 2021, A1.1). */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style document quality gates (the published rule family from
    * Rae et al. 2021 appendix A1.1, the de-facto standard web-corpus
    * pre-filter): per-rule booleans plus their conjunction `pass`, as a
    * struct column. Every rule is closed-form per-row arithmetic over the
    * token array — no shuffle, no UDF, scales with the scan — and every
    * primitive (contains / rlike / size / aggregate) has a byte-identical
    * DuckDB counterpart so the oracle replays the gates exactly.
    *
    * Rules: word count in [minWords, maxWords]; mean word length in
    * [3, 10]; ≤ 10% of words contain '#' or '…'-style ellipsis; ≥ 80% of
    * words contain at least one alphabetic character; at least 2 distinct
    * [[GopherStopwords]] present. */
  def gopherGates(
      toksCol: String,
      minWords: Int = 50,
      maxWords: Int = 100000,
  ): Column = {
    val n = expr(s"size($toksCol)")
    val nD = n.cast("double")
    val meanLen =
      expr(s"aggregate($toksCol, 0, (acc, t) -> acc + length(t))")
        .cast("double") / nD
    val symbolRatio =
      expr(s"size(filter($toksCol, t -> contains(t, '#') OR contains(t, '...')))")
        .cast("double") / nD
    val alphaRatio =
      expr(s"size(filter($toksCol, t -> t rlike '[A-Za-z]'))").cast("double") / nD
    val stopHits = expr(
      s"""size(filter(array(${sqlStringList(GopherStopwords)}),
           w -> array_contains($toksCol, w)))""")
    val wordCountOk = n >= minWords && n <= maxWords
    val meanLenOk = meanLen >= 3.0 && meanLen <= 10.0
    val symbolOk = symbolRatio <= 0.1
    val alphaOk = alphaRatio >= 0.8
    val stopOk = stopHits >= 2
    struct(
      wordCountOk.as("word_count_ok"),
      meanLenOk.as("mean_word_len_ok"),
      symbolOk.as("symbol_ok"),
      alphaOk.as("alpha_ok"),
      stopOk.as("stopword_ok"),
      (wordCountOk && meanLenOk && symbolOk && alphaOk && stopOk).as("pass"))
  }

  /** Composite quality score in [0,1]: length saturation + lexical
    * diversity (type-token ratio) + stopword density, the standard cheap
    * pre-filter trio for web-scale corpus cleaning. Deterministic
    * arithmetic over exact integer counts. */
  def qualityScore(toksCol: String): Column = {
    val nTok = expr(s"size($toksCol)").cast("double")
    val ttr = expr(s"size(array_distinct($toksCol))").cast("double") / nTok
    val stopRatio =
      stopwordCount(toksCol, LangProfiles.head._2).cast("double") / nTok
    round(
      least(lit(1.0), nTok / 64.0) * 0.4 + ttr * 0.4 +
        least(lit(1.0), stopRatio * 5.0) * 0.2,
      6)
  }
}
