package graft
package ops

import org.apache.spark.sql.{DataFrame, functions => F}

import graft.funcs._
import Shared._

/** Language-model queries: Kneser-Ney and Stupid Backoff
  * n-gram models, their persisted and delta-maintained forms, and
  * perplexity scoring. */
object LmOps {
  val ops: Seq[Op] = Seq(
    // --- interpolated Kneser–Ney WORD-bigram LM perplexity (Kneser &
    //     Ney 1995; Chen & Goodman 1998; the KenLM smoothing CCNet
    //     scores with): trained on the doc_id%4=0 trusted slice, scoring
    //     every doc through the order-N scorer at order 2; per-bigram
    //     integer micro-bits, 30-bit OOV penalty ---
    Op("q_lm_kn", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          graft.llm.LangModel.knNgramScore(
            df, df.where(F.col("doc_id") % 4 === 0), "doc_id", "text",
            order = 2)
            .withColumnsRenamed(Map("n_ngrams" -> "n_bigrams",
              "bits_per_ngram" -> "bits_per_bigram"))
        }
        .sort(col("doc_id"))
        .run(s),
      // Interpolated-KN word-bigram replay, written as the dedicated
      // bigram model: training tables from the doc_id%4=0 slice's bigram
      // counts, the KnPSql formula (the same IEEE op order as the
      // order-2 level chain knLevelPSql(1..2) the Spark lowering folds),
      // KnTermSql micro-bit terms, short docs re-emitted (0, 0.0).
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
         kp AS (SELECT doc_id, $KnPSql AS p FROM kjoin),
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
         ORDER BY doc_id""")),

    // --- interpolated KN TRIGRAM perplexity (KenLM shape: order-3 with
    //     full recursive continuation-count backoff, D = 0.75; all
    //     lower-order tables derive from the one trigram-count table),
    //     served by the order-N scorer at order 3; integer micro-bit
    //     terms keep sums order-free ---
    Op("q_lm_kn3", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          graft.llm.LangModel.knNgramScore(
            df, df.where(F.col("doc_id") % 4 === 0), "doc_id", "text",
            order = 3)
            .withColumnsRenamed(Map("n_ngrams" -> "n_trigrams",
              "bits_per_ngram" -> "bits_per_trigram"))
        }
        .sort(col("doc_id"))
        .run(s),
      // KN TRIGRAM replay, written as the dedicated trigram model: one
      // trigram-count table from the doc_id%4=0 slice; context/middle/
      // unigram tables derived from it by the continuation-count rule;
      // the layered Kn3Pu/Kn3Pb/Kn3P formulas (the IEEE op order of
      // knLevelPSql(1..3)) + KnTermSql micro-bits.
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
                  $Kn3PuSql AS pu
           FROM k3j),
         k3pb AS (
           SELECT doc_id, c123, c12, n1fw12,
                  $Kn3PbSql AS pb
           FROM k3pu),
         k3p AS (SELECT doc_id, $Kn3PSql AS p FROM k3pb),
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
         ORDER BY doc_id""")),

    // --- interpolated KN 5-GRAM perplexity (KenLM's DEFAULT order): the
    //     generated per-level formula chain — one raw 5-gram pass, every
    //     lower level's continuation counts derived recursively, 9
    //     vocabulary-bounded model joins; oracle CTEs GENERATED from the
    //     same order parameter (knNgramOracle(5)) so the two engines
    //     cannot desynchronize ---
    Op("q_lm_kn5", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          graft.llm.LangModel.knNgramScore(
            df, df.where(F.col("doc_id") % 4 === 0), "doc_id", "text",
            order = 5)
        }
        .sort(col("doc_id"))
        .run(s),
      // KenLM-default order-5 KN: the whole oracle is GENERATED from the
      // order parameter, sharing the per-level formula literal with the
      // Spark lowering.
      knNgramOracle(5)),

    // --- KN model-size PROFILE: rows + mass per level — the artifact
    //     report a pruning decision reads (the singleton tail it
    //     exposes is what prune= removes) ---
    Op("q_lm_kn_profile", (s, dir) =>
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
        .run(s),
      // per-level rows + mass over the same generated level chain
      (s"""WITH ${knSeenPrefixSql(5)}
         SELECT level, n_grams, total_count FROM (""" +
        (1 to 5).map(k =>
          s"""SELECT CAST($k AS BIGINT) AS level,
                CAST(count(*) AS BIGINT) AS n_grams,
                CAST(sum(cnt$k) AS BIGINT) AS total_count FROM kns$k""")
          .mkString("\n           UNION ALL ") +
        """) ORDER BY level""")),

    // --- CCNet-style LM quality gate: score every doc with the order-5
    //     KN model, keep docs under the bits threshold (scored docs
    //     only), report the kept mix by language ---
    Op("q_lm_kn_gate", (s, dir) =>
      m(dir, "documents")
        .native { df =>
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
        .run(s),
      // the full kn5 scoring oracle as a subquery, thresholded and folded
      // to the kept-language mix
      (s"""WITH scored AS (${knNgramOracle(5)})
         SELECT d.lang, CAST(count(*) AS BIGINT) AS n_kept
         FROM scored s JOIN documents d USING (doc_id)
         WHERE s.n_ngrams > 0 AND s.bits_per_ngram <= 5.5
         GROUP BY 1 ORDER BY 1""")),

    // --- STUPID BACKOFF order-5 scoring (Brants et al. 2007, the
    //     MapReduce web-scale LM: every model table a plain count, no
    //     discounting, fixed alpha = 0.4) — same one-raw-pass shape as
    //     KN with suffix-SUM level derivation ---
    Op("q_lm_sb5", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          graft.llm.LangModel.sbNgramScore(
            df, df.where(F.col("doc_id") % 4 === 0), "doc_id", "text",
            order = 5)
        }
        .sort(col("doc_id"))
        .run(s),
      // Stupid Backoff: suffix-SUM level derivation + the shared generated
      // alpha-0.4 formula chain
      knNgramOracle(5, derivSum = true,
      pSql = graft.llm.LangModel.sbLevelPSql)),

    // --- COUNT-PRUNED order-5 KN (KenLM --prune 0 1 1 1 1): singleton
    //     grams at orders 2..5 drop from the STORED model after the full
    //     adjusted-count derivation; a pruned gram scores through
    //     backoff exactly like an unseen one. The production shape: at
    //     web scale the singleton tail IS most of the model's rows ---
    Op("q_lm_kn5_pruned", (s, dir) =>
      m(dir, "documents")
        .native { df =>
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
        .run(s),
      // pruned stored tables (raw derivation chain, per-level thresholds
      // 0 1 1 1 1), same scoring joins + layered formula chain
      knNgramOracle(5, Seq(0L, 1L, 1L, 1L, 1L))),

    // --- PERSISTED KN model serving (train once, score many): fit the
    //     order-5 model to parquet level tables, score through the saved
    //     artifact with zero retraining — values must equal the inline
    //     trainer (shared oracle by reference) ---
    Op("q_lm_kn5_persisted", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          // memoized model fixture: the fit is ingest-time work; the
          // timed body is the score-many half of train-once/score-many
          val modelDir = knModelQ4(df, dir)
          graft.llm.LangModel.knNgramScoreWithModel(
            df, "doc_id", "text", modelDir, order = 5)
        }
        .sort(col("doc_id"))
        .run(s),
      // persisted-model serving is value-identical to the inline trainer
      Op.oracleOf("q_lm_kn5")),

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
    Op("q_lm_kn5_delta", (s, dir) =>
      m(dir, "documents")
        .native { df =>
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
        .run(s),
      // delta-maintained model ≡ full refit on the combined slice
      // (%8∈{0,4} ⟺ %4==0): counts merge additively, lower levels
      // re-derive — same level tables, so the same per-level profile
      Op.oracleOf("q_lm_kn_profile")),

    // --- CCNet-style LM perplexity quality scoring: char-bigram add-α
    //     model trained on a corpus hash-split (one vocabulary-bounded
    //     aggregate + ≤729-row model collect), served as a codegen'd
    //     per-row native probing the model frozen into the plan as a
    //     5.7 KB literal — zero serve-time joins/shuffles. The oracle
    //     retrains and rescores the identical closed form in DuckDB. ---
    Op("q_lm_perplexity", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val model = graft.llm.LangModel.fitBigramLm(
            df.where(F.col("doc_id") % 10 < 8), "text")
          df.select(F.col("doc_id"),
            graft.llm.LangModel.bitsPerChar(F.col("text"), model).as("bits"))
        }
        .sort(col("doc_id"))
        .run(s),
      // Retrains and rescores the char-bigram add-α model end-to-end:
      // same normalization, same (n+0.5)/(m+13.5) smoothing with terms
      // rounded via round(log2(x), 6), per-doc fold over `ORDER BY b` =
      // the native's ascending-slot order, first-element-equivalent 0.0
      // seed (all terms strictly negative), same final 6-dp round.
      raw"""WITH $CharBigramCtes
         SELECT n2.doc_id,
                CASE WHEN length(n2.t) < 2 THEN 0.0
                     ELSE round(-(sc.sm) / CAST(length(n2.t) - 1 AS DOUBLE) + 0.0, 6)
                END AS bits
         FROM norm n2 LEFT JOIN sc USING (doc_id) ORDER BY doc_id"""),

    // --- CCNet head/middle/tail partition by perplexity CUTOFFS: because
    //     scores are 6-dp-quantized, the cutoffs come from a bounded-
    //     domain value histogram (groupBy bits) — the tercile selection is
    //     windows over that tiny frame, never a global row_number over the
    //     corpus, and the cutoff frame broadcasts back as one row. ---
    Op("q_lm_ppl_buckets", (s, dir) =>
      m(dir, "documents")
        .native { df =>
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
        .run(s),
      // Same scored CTE, then CCNet head/middle/tail by cutoffs from the
      // 6-dp-quantized value histogram (integer ceil-division targets, so
      // the bucket SETS match bit-for-bit, not just the proportions).
      raw"""WITH $CharBigramCtes,
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
         FROM scored, cuts GROUP BY 1 ORDER BY 1"""),
  )

  /** The q_lm_kn oracle's interpolated-KN bigram probability. Expects
    * columns c12 (bigram count, NULL if unseen), c1/n1fw (left-word
    * count / distinct continuations, NULL if w1 unseen), n1bw (distinct
    * left contexts of w2, NULL if w2 unseen), n12 (total distinct
    * bigrams). D = 0.75 fixed; c12 ≥ 1 makes max(c12−D, 0) redundant.
    * Operation for operation it is LangModel.knLevelPSql(2) over p1 =
    * knLevelPSql(1): cnt2 = c12, tot2 = c1, nfw2 = n1fw, cnt1 = n1bw,
    * tot1 = n12. */
  private val KnPSql: String =
    """CASE
         WHEN c12 IS NOT NULL THEN
           ((CAST(c12 AS DOUBLE) - 0.75) / CAST(c1 AS DOUBLE))
           + ((0.75 * CAST(n1fw AS DOUBLE)) / CAST(c1 AS DOUBLE))
             * (coalesce(CAST(n1bw AS DOUBLE), CAST(0 AS DOUBLE))
                / CAST(n12 AS DOUBLE))
         WHEN c1 IS NOT NULL THEN
           ((0.75 * CAST(n1fw AS DOUBLE)) / CAST(c1 AS DOUBLE))
             * (coalesce(CAST(n1bw AS DOUBLE), CAST(0 AS DOUBLE))
                / CAST(n12 AS DOUBLE))
         ELSE coalesce(CAST(n1bw AS DOUBLE), CAST(0 AS DOUBLE))
              / CAST(n12 AS DOUBLE)
       END"""

  /** The q_lm_kn3 oracle's continuation-unigram base level:
    * N1+(•w3)/N1+(••) over the distinct-(w2,w3)-with-left-context table.
    * Expects n1bw3 (NULL if w3 unseen) and nuni. */
  private val Kn3PuSql: String =
    """coalesce(CAST(n1bw3 AS DOUBLE), CAST(0 AS DOUBLE))
       / CAST(nuni AS DOUBLE)"""

  /** The q_lm_kn3 oracle's middle (bigram) level, built from
    * CONTINUATION counts the KN way: "counts" are N1+(•w2w3) (distinct
    * left contexts of the bigram in the trigram table), the context mass
    * is N1+(•w2•) = nc2 and the interpolation weight uses
    * N1+(w2•) = n1fw2m (distinct continuations of w2 among trigram
    * middles). NULL-keyed backoff: bigram unseen → weight·pu; middle
    * word unseen → pu alone. Same fixed D = 0.75. */
  private val Kn3PbSql: String =
    """CASE
         WHEN n1bw23 IS NOT NULL THEN
           ((CAST(n1bw23 AS DOUBLE) - 0.75) / CAST(nc2 AS DOUBLE))
           + ((0.75 * CAST(n1fw2m AS DOUBLE)) / CAST(nc2 AS DOUBLE)) * pu
         WHEN nc2 IS NOT NULL THEN
           ((0.75 * CAST(n1fw2m AS DOUBLE)) / CAST(nc2 AS DOUBLE)) * pu
         ELSE pu
       END"""

  /** The q_lm_kn3 oracle's top (trigram) level: raw counts c123/c12,
    * interpolation weight D·N1+(w1w2•)/c(w1w2), recursing into the
    * middle probability `pb`. Unseen context backs off to `pb`
    * entirely. */
  private val Kn3PSql: String =
    """CASE
         WHEN c123 IS NOT NULL THEN
           ((CAST(c123 AS DOUBLE) - 0.75) / CAST(c12 AS DOUBLE))
           + ((0.75 * CAST(n1fw12 AS DOUBLE)) / CAST(c12 AS DOUBLE)) * pb
         WHEN c12 IS NOT NULL THEN
           ((0.75 * CAST(n1fw12 AS DOUBLE)) / CAST(c12 AS DOUBLE)) * pb
         ELSE pb
       END"""

  /** The char-bigram perplexity oracles' model and per-doc sums: letters
    * normalized, an add-0.5 bigram model trained on the doc_id % 10 < 8
    * slice with a per-first-letter fallback, and each doc's term sum
    * folded in ascending bigram order as `sc(doc_id, sm)`. */
  private val CharBigramCtes: String =
    """norm AS (
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
           FROM terms GROUP BY doc_id)"""

  /** Persisted order-5 Kneser-Ney model fit on the doc_id % 4 == 0
    * quarter: the train-once model the KN serve queries score and
    * profile through. */
  private def knModelQ4(docs: DataFrame, dir: String): String =
    Fixtures.dir("kn5v2_q4", dir) { p =>
      graft.llm.LangModel.knNgramFit(
        docs.where(org.apache.spark.sql.functions.col("doc_id") % 4 === 0),
        "text", p, order = 5)
    }

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

  /** GENERATED order-N interpolated-KN oracle (q_lm_kn5): tokenize, doc
    * N-grams, the raw top-level count table from the doc_id%4=0 slice,
    * recursive continuation-count derivation (level-k counts = distinct
    * left extensions among level-(k+1) seen grams), per-level context
    * aggregates, the scoring join, and the layered probability chain
    * using the SAME generated per-level formula the Spark lowering
    * compiles (LangModel.knLevelPSql) — order is the single parameter,
    * so both engines derive from one structure. */
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
}
