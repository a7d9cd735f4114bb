package graft
package ops

import org.apache.spark.sql.{functions => F}

import graft.funcs._
import graft.model.Model
import Shared._

/** Corpus-curation queries: text filters and cleaners,
  * sketches, samplers, mixers, classifiers, language id, drift and
  * search. */
object CurationOps {
  val ops: Seq[Op] = Seq(
    // --- feature-hashing doc vectors (hashing trick / HashingTF analog):
    //     md5-portable bucket assignment, fixed 64 dims, non-zero buckets
    //     verified per doc ---
    Op("q_hashed_tf", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          graft.llm.Search.hashedTfVectors(
            df.where(F.col("doc_id") < 300), "doc_id", "text", dims = 64)
            .select(F.col("doc_id"),
              F.posexplode(F.col("tf")).as(Seq("bucket", "tf")))
            .where(F.col("tf") > 0)
            .select(F.col("doc_id"),
              F.col("bucket").cast("long").as("bucket"), F.col("tf"))
        }
        .sort(col("doc_id")).sort(col("bucket"))
        .run(s),
      // Replays hashedTfVectors' bucket assignment: md5-prefix 32-bit hash
      // mod 64, per-(doc, bucket) counts as DOUBLE (vector element type).
      """WITH t AS (
           SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
           FROM documents WHERE doc_id < 300
         ), b AS (
           SELECT doc_id,
                  CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) % 64
                    AS bucket
           FROM t)
         SELECT doc_id, bucket, CAST(count(*) AS DOUBLE) AS tf
         FROM b GROUP BY 1, 2 ORDER BY 1, 2"""),

    // --- DSIR importance weights (Xie et al. 2023): hashed word
    //     unigram+bigram bag scored by the target/raw log-probability
    //     ratio in EXACT integer micro-bits (order-independent under any
    //     shuffle); target = the English slice, raw = the whole corpus.
    //     Fit is two ≤256-row count aggregates; serving probes the ratio
    //     table as a plan literal — zero serve-time joins. ---
    Op("q_dsir_weights", (s, dir) =>
      m(dir, "documents")
        .native { df =>
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
        .run(s),
      // DSIR: replays the hashed-gram feature space (md5-mod-256 buckets of
      // word unigrams + space-joined bigrams), both add-α bucket models
      // (each log2 term 6-dp-rounded then floor(x·10⁶+0.5) to integer
      // micro-bits), and the per-doc INTEGER gram-sum of the ratio table.
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
         GROUP BY 1 ORDER BY 1"""),

    // --- DSIR selection as a first-class wire-serializable Source: the
    //     TARGET slice rides as a sub-model (the upsampleMix weights
    //     pattern), the whole pipeline round-trips through toJson/fromJson
    //     before running. Keeps the k highest-importance documents,
    //     deterministically ranked (weight desc, id) — TakeOrdered cut,
    //     rank window only over the k-row result. ---
    Op("q_dsir_select", (s, dir) => {
      val base = m(dir, "documents")
      val model = base
        .dsirSelect(
          target = base.filter(col("lang") === lit("en")),
          id = col("doc_id"), text = col("text"), k = 100)
        .sort(col("rank"))
      graft.wire.WireFormat.fromJson(graft.wire.WireFormat.toJson(model)).run(s)
    },
      // DSIR selection: the same model + per-doc weights, cut to the top
      // 100 by (weight desc, doc_id) with a deterministic rank.
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
         FROM w ORDER BY weight_micro DESC, doc_id LIMIT 100"""),

    // --- token-budget corpus assembly, wire-first: each language gets
    //     floor(budget·weight+0.5) tokens and keeps its md5(doc_id)-ordered
    //     document prefix under the quota (the step that turns mixture
    //     weights into an actual ~budget-token corpus); weights ride as a
    //     sub-model and the whole pipeline round-trips the wire ---
    Op("q_token_budget", (s, dir) => {
      val wts = Model.sqlQuery(
        """SELECT * FROM VALUES ('en', CAST(0.45 AS DOUBLE)), ('zh', 0.15),
             ('es', 0.15), ('de', 0.15), ('fr', 0.10) AS t(lang, weight)""")
      val model = m(dir, "documents")
        .tokenBudgetFill(wts, id = col("doc_id"), group = col("lang"),
          text = col("text"), budget = 12000L)
        .sort(col("doc_id"))
      graft.wire.WireFormat.fromJson(graft.wire.WireFormat.toJson(model)).run(s)
    },
      // Token-budget fill: quota = floor(weight·12000 + 0.5) per language;
      // keep the md5(doc_id)-ordered prefix whose inclusive running token
      // count fits; same whitespace tokenization as the Spark side.
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
         FROM c WHERE cum_tokens <= quota ORDER BY doc_id"""),

    // --- STREAMING token-budget admission backfill: the keyed-state
    //     twin of q_token_budget run over the whole corpus as one batch
    //     (per-group running token sums in state; within-batch ranking
    //     by the batch operator's (md5(id), id) order) — rows must be
    //     bit-identical to tokenBudgetFill's, so the oracle is shared
    //     by reference ---
    Op("q_stream_token_budget", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          graft.streaming.Streams.streamingTokenBudget(
            df, "doc_id", "lang", "text",
            Map("en" -> 0.45, "zh" -> 0.15, "es" -> 0.15, "de" -> 0.15,
              "fr" -> 0.10),
            budget = 12000L)
        }
        .sort(col("doc_id"))
        .run(s),
      Op.oracleOf("q_token_budget")),

    // --- PII scrubbing: deterministic injected PII, regex redaction,
    //     content-hash verification ---
    Op("q_pii_scrub", (s, dir) =>
      m(dir, "documents")
        .native { df =>
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
        .run(s),
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
         ORDER BY doc_id"""),

    // --- HTML → text extraction: deterministic HTML shell injected
    //     around each doc (script with a raw '<', comment, style, core
    //     entities incl. the &amp;lt; decode-order trap), stripped by the
    //     regex chain, content-hash verified ---
    Op("q_html_strip", (s, dir) =>
      m(dir, "documents")
        .native { df =>
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
        .run(s),
      // Replays stripHtml over the same injected shell: block drops, tag
      // drop, entity decode (&amp; last), whitespace collapse — identical
      // regex chain in the Java/RE2 common subset.
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
         ORDER BY doc_id"""),

    // --- Aho–Corasick keyword/blocklist scan: 6-phrase dictionary
    //     (incl. multi-word and self-overlapping phrases) matched in ONE
    //     text pass per row; per-lang total matches + matched-doc counts.
    //     The oracle replays the identical overlapping-count value per
    //     phrase via positional substring equality. ---
    Op("q_keyword_hits", (s, dir) =>
      m(dir, "documents")
        .native { df =>
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
        .run(s),
      // Aho-Corasick replay: per phrase, the overlapping occurrence count
      // is |{ i : substr(text, i, len(kw)) = kw }| — identical to the
      // automaton's per-(position, entry) counting; NULL text sums to NULL
      // → matched CASE falls to 0 on both engines.
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
         FROM per GROUP BY 1 ORDER BY 1"""),

    // --- Unicode NFC normalization (codegen'd native ≡ DuckDB
    //     nfc_normalize): crawl noise simulated by decomposing every 'a'
    //     into a + U+0301; per-lang changed-doc counts and the codepoint
    //     contraction NFC recovers ---
    Op("q_text_nfc", (s, dir) =>
      m(dir, "documents")
        .native { df =>
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
        .run(s),
      // NFC parity: java.text.Normalizer NFC == DuckDB nfc_normalize (both
      // implement UAX#15 canonical composition); lengths count codepoints
      // on both engines, so the contraction delta replays exactly.
      """WITH d AS (
           SELECT lang, replace(text, 'a', 'a' || chr(769)) AS dec
           FROM documents
         )
         SELECT lang, count(*) AS n_docs,
                CAST(sum(CASE WHEN nfc_normalize(dec) <> dec THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
                CAST(sum(length(dec)) - sum(length(nfc_normalize(dec))) AS BIGINT) AS cp_delta
         FROM d GROUP BY 1 ORDER BY 1"""),

    // --- HyperLogLog distinct sketch (engine-portable registers): the
    //     100 TB answer to count(distinct) — at most 2^p rows per group
    //     cross the wire. All register math is integer (md5 buckets,
    //     bit-length ranks, power-of-two sums), so the DuckDB oracle
    //     replays the registers bit-for-bit and the estimator is ONE
    //     shared SQL string on both engines; n_exact sits alongside as
    //     the accuracy baseline. ---
    Op("q_hll_distinct", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val sk = graft.llm.Sketch.hllDistinct(df, Seq("lang"), F.col("text"))
          df.groupBy(F.col("lang"))
            .agg(F.countDistinct(F.col("text")).as("n_exact"))
            .join(sk, Seq("lang"))
        }
        .sort(col("lang"))
        .run(s),
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
        ORDER BY f.lang""")),

    // --- HLL corpus-overlap (train/holdout contamination at cardinality
    //     scale): |A∩B| by inclusion–exclusion over bucket-wise-MAX-merged
    //     registers — one pass per corpus, 3·2^p register rows total,
    //     never a distinct shuffle. Exact counts sit alongside; the
    //     intersect arithmetic is ONE shared SQL string over already-
    //     rounded estimates, so the doubles are bit-identical. ---
    Op("q_hll_overlap", (s, dir) =>
      m(dir, "documents")
        .native { df =>
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
        .run(s),
      // HLL set algebra: per-side registers (same md5/bucket/rank replay as
      // q_hll_distinct), union = bucket-wise max, inclusion–exclusion over
      // the shared estimator + intersect formula strings.
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
        FROM p, ex, exa, exb""")),

    // --- count-min frequency sketch (mergeable d×w counter matrix): term
    //     frequencies asked against a dictionary too large to count
    //     exactly — d·w rows cross the wire regardless of corpus size,
    //     probes join the broadcast matrix. Estimates are one-sided
    //     (never under the true count); the exact top-20 recount anchors
    //     the accuracy. All integer → bit-exact DuckDB replay. ---
    Op("q_cms_freq", (s, dir) =>
      m(dir, "documents")
        .native { df =>
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
        .run(s),
      // Count-min: the d=4 × w=512 counter matrix replayed with row-salted
      // md5 buckets (i || ':' || token), probes = the exact top-20 recount,
      // estimate = min over the 4 counters.
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
         ORDER BY pr.token"""),

    // --- HLL register rollup (the pre-aggregated sketch-cube pattern):
    //     registers built per (lang, slice) answer the per-lang distinct
    //     by bucket-wise max — register-EXACT, so the rollup estimate
    //     equals the direct sketch bit-for-bit (both columns returned;
    //     the oracle replays both paths and DuckDB must agree) ---
    Op("q_hll_rollup", (s, dir) =>
      m(dir, "documents")
        .native { df =>
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
        .run(s),
      // HLL cube rollup: fine registers per (lang, slice), bucket-wise max
      // to lang, then the shared estimator — and the direct per-lang sketch
      // alongside; register-exactness means the two columns must be equal.
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
        ORDER BY rest.lang""")),

    // --- sampled quantiles (deterministic hash-cutoff sample + exact
    //     interpolated percentile over the survivors): the 100 TB
    //     percentile — a count aggregate sizes the per-group cutoff, the
    //     kept SET is a pure md5 filter both engines replay bit-for-bit,
    //     and the sort happens on ~2000 rows per group. Exact percentiles
    //     alongside anchor the sampling error. ---
    Op("q_quantile_sample", (s, dir) =>
      m(dir, "lineitem")
        .native { df =>
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
        .run(s),
      // sampled quantiles: the same md5-u32 cutoff filter (kept SETS match
      // bit-for-bit), quantile_cont over survivors, exact quantiles joined.
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
        ORDER BY sq.g""")),

    // --- deterministic hash sampling (repeatable corpus subsetting) ---
    // --- per-group corpus rebalancing: deterministic stratified sample ---
    Op("q_stratified_sample", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          df.where(graft.llm.TextOps.stratifiedSample(F.col("text"), F.col("lang"),
              Map("en" -> 10.0, "de" -> 50.0, "zh" -> 100.0),
              defaultPercent = 25.0))
            .groupBy(F.col("lang"))
            .agg(F.count(F.lit(1)).as("n"))
        }
        .sort(col("lang"))
        .run(s),
      """SELECT lang, count(*) AS n FROM documents
         WHERE CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT) <
           CASE lang WHEN 'en' THEN 429496729 WHEN 'de' THEN 2147483648
                     WHEN 'zh' THEN 4294967296 ELSE 1073741824 END
         GROUP BY 1 ORDER BY 1"""),

    // --- Gopher-style quality gates (the published web-corpus rule
    //     family): per-rule booleans + conjunction, replayed rule-for-rule
    //     by the oracle ---
    Op("q_quality_gates", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          df.withColumn("__toks__", graft.llm.TextOps.tokens(F.col("text")))
            .withColumn("__g__", graft.llm.TextOps.gopherGates("__toks__"))
            .select(F.col("doc_id"), F.col("__g__.word_count_ok"),
              F.col("__g__.mean_word_len_ok"), F.col("__g__.symbol_ok"),
              F.col("__g__.alpha_ok"), F.col("__g__.stopword_ok"),
              F.col("__g__.pass"))
        }
        .sort(col("doc_id"))
        .run(s),
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
         FROM g ORDER BY doc_id"""),

    // --- fastText-style linear classifier (bag-of-words logistic
    //     regression, 3 full-batch GD steps): indicator features make
    //     the logit exact, sigmoids round to 6dp, gradients accumulate
    //     as exact integer micro-units (order-independent), weights
    //     re-round 6dp per step — the whole TRAINING loop replays in
    //     DuckDB bit-for-bit. One aggregate per iteration. ---
    Op("q_text_classifier", (s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.Classifier.fitLogistic(
          df, "text", labelWord = "spark",
          featureWords = Seq("sql", "query", "join", "hash", "table",
            "vector", "stream"),
          iters = 3))
        .sort(col("feature"))
        .run(s),
      // Three GD iterations unrolled. Logit folds in the same fixed feature
      // order (left-assoc), sigmoid rounds 6dp, per-doc micro-gradients are
      // floor(v*1000000.0 + 0.5) BIGINTs summed exactly, weights re-round
      // 6dp — every intermediate matches the Spark driver loop.
      raw"""WITH f AS (
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
         $GdIterationCtes
         SELECT feature, weight FROM (
           SELECT 'bias' AS feature, wb AS weight FROM w3
           UNION ALL SELECT 'sql', w0 FROM w3
           UNION ALL SELECT 'query', w1 FROM w3
           UNION ALL SELECT 'join', w2 FROM w3
           UNION ALL SELECT 'hash', w3.w3 FROM w3
           UNION ALL SELECT 'table', w4 FROM w3
           UNION ALL SELECT 'vector', w5 FROM w3
           UNION ALL SELECT 'stream', w6 FROM w3)
         ORDER BY feature"""),

    // --- classifier SERVING: learned weights frozen into the plan as
    //     literals, scoring is a pure per-row projection (zero joins) ---
    Op("q_classifier_score", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val words = Seq("sql", "query", "join", "hash", "table",
            "vector", "stream")
          val w = graft.llm.Classifier.fitWeights(
            df, "text", "spark", words, iters = 3)
          df.select(F.col("doc_id"),
            graft.llm.Classifier.scoreLogistic(F.col("text"), words, w).as("p"))
            .withColumn("pred", F.col("p") >= 0.5)
        }
        .sort(col("doc_id"))
        .run(s),
      // Same three training iterations, then per-doc sigmoid scoring with
      // the final weights (identical literal fold order).
      raw"""WITH f AS (
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
         $GdIterationCtes
         SELECT doc_id, p, p >= 0.5 AS pred FROM (
           SELECT f.doc_id,
                  round(1.0 / (1.0 + exp(-(w.wb + w.w0*x0 + w.w1*x1 + w.w2*x2
                    + w.w3*x3 + w.w4*x4 + w.w5*x5 + w.w6*x6))), 6) AS p
           FROM f, w3 w)
         ORDER BY doc_id"""),

    // --- language-ID confidence margins (the ABSTAIN signal): per true
    //     lang, how many docs identify confidently (top-2 stopword-score
    //     gap >= 2) vs tie at 0 — pure integer arithmetic ---
    Op("q_langid_margin", (s, dir) =>
      m(dir, "documents")
        .native { df =>
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
        .run(s),
      // Replays the margin (top-2 gap of the per-language stopword scores,
      // descending list sort) and the per-lang confidence rollup.
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
         FROM m GROUP BY lang ORDER BY lang""")),

    // --- per-doc n-gram NOVELTY (memorization-risk dual of the dedup
    //     detectors): fraction of positional 8-grams occurring exactly
    //     once corpus-wide; one cached hashing pass, corpus-shrunk
    //     duplicated-gram dictionary join ---
    Op("q_ngram_novelty", (s, dir) =>
      m(dir, "documents")
        .native(df =>
          graft.llm.Dedup.ngramNovelty(df, "doc_id", "text", k = 8))
        .sort(col("doc_id"))
        .run(s),
      // Replays positional 8-gram hashing (the q_substr_spans gram SQL),
      // corpus-wide counts, and the novel = count-1 fraction per doc.
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
         ORDER BY t.doc_id"""),

    // --- corpus drift: add-α-smoothed unigram KL divergence between two
    //     corpus slices (crawl-snapshot / filter-stage distribution-shift
    //     monitor); per-term integer nano-nats, one 6dp division ---
    //     ... expressed through the Model API with the comparison slice
    //     riding the wire as a sub-model, run THROUGH toJson/fromJson
    Op("q_corpus_drift", (s, dir) => {
      val model = m(dir, "documents")
        .filter(col("lang") === lit("en"))
        .corpusDrift(
          m(dir, "documents").filter(col("lang") === lit("de")),
          col("text"), col("text"))
      graft.wire.WireFormat.fromJson(graft.wire.WireFormat.toJson(model)).run(s)
    },
      // Replays the smoothed KL with the identical expression association:
      // p = (na+0.5)/(ta+0.5v) over the union vocabulary, per-term
      // round(p·(ln p − ln q)·1e9) summed as BIGINT, final 6dp division.
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
         FROM k"""),

    // --- per-term drift attribution: the 15 words contributing most to
    //     the en↔de divergence, signed nano-nat terms (sum = kl_nats) ---
    Op("q_drift_terms", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          graft.llm.TextOps.driftTerms(
            df.where(F.col("lang") === "en"),
            df.where(F.col("lang") === "de"), "text", k = 15)
        }
        .sort(col("word"))
        .run(s),
      // Same per-word terms, cut to the 15 largest |contribution|s.
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
         ORDER BY word"""),

    // --- markdown → text extraction over deterministically synthesized
    //     markdown (headings, bold, links, images, fenced code, quotes,
    //     inline code); the oracle builds the SAME documents and replays
    //     the regex chain ---
    Op("q_markdown_strip", (s, dir) =>
      m(dir, "documents")
        .native { df =>
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
        .run(s),
      // Builds the same synthesized markdown (chr(10) newlines) and replays
      // the strip chain: fences wholesale, images before links (alt/anchor
      // text kept via \1), inline code unwrapped, line-start markers via
      // inline (?m), '*' emphasis dropped, whitespace collapsed.
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
         FROM c ORDER BY doc_id"""),

    // --- corpus profile (the "dataset card" rollup): per-source doc /
    //     lang / token counts, exact-decimal mean quality, Gopher pass
    //     rate — many signals, ONE corpus scan, one aggregate ---
    Op("q_corpus_profile", (s, dir) =>
      m(dir, "documents")
        .native { df =>
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
        .run(s),
      // One-scan dataset-card rollup: quality replayed per doc, means as
      // exact decimal sums of the 6dp values (the kmeans discipline).
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
         FROM g GROUP BY source ORDER BY source""")),

    // --- exact ROC AUC (Mann–Whitney with tie handling) of the quality
    //     score against a keyword label — the calibration metric a
    //     quality-classifier gate is tuned by; integer numerator over the
    //     bounded distinct-score frame, one 6dp division ---
    Op("q_classifier_auc", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val scored = df
            .withColumn("__toks__", graft.llm.TextOps.tokens(F.col("text")))
            .select(
              graft.llm.TextOps.qualityScore("__toks__").as("score"),
              F.array_contains(F.col("__toks__"), "spark").as("label"))
          graft.llm.Classifier.auc(scored, "score", "label")
        }
        .run(s),
      // Replays qualityScore then the exact Mann–Whitney AUC over the
      // distinct-score frame: cum_neg = negatives strictly below each
      // score; numerator = 2·Σ p·cum_neg + Σ p·n (ties count half).
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
         FROM c""")),

    // --- jusText-style boilerplate LINE stripping (Pomikálek 2011's
    //     context-free length + stopword-density rules, INTEGER density
    //     compare): multi-line docs built from the corpus on both
    //     engines; the cleaned text gates through its md5 ---
    // ... expressed through the public Model API (Source.BoilerplateStrip)
    //     and run THROUGH the wire codec — line stripping is a
    //     first-class, shippable pipeline op.
    Op("q_boilerplate", (s, dir) => {
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
    },
      // jusText-lite replay: same synthesized multi-line doc, same
      // integer density predicate (stopword list generated from
      // TextOps.LangProfiles — single source of truth).
      {
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
    }),

    // --- character-entropy quality signal (model-free perplexity proxy:
    //     repetitive spam and padding sit far below natural text's ~4.1
    //     bits/char). Terms folded in sorted distinct-char order on both
    //     engines → bit-identical sums. ---
    Op("q_text_entropy", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          graft.GraftExtensions.install(df.sparkSession)
          df.where(F.col("doc_id") < 100)
            .select(F.col("doc_id"),
              graft.llm.TextOps.charEntropy("text").as("entropy"))
        }
        .sort(col("doc_id"))
        .run(s),
      // Shannon entropy replay: same sorted distinct-char fold order, same
      // p·log2(p) terms, first-element seed (= Spark's exact 0.0 seed),
      // `+ 0.0` canonicalizing -0.0, 6-dp round.
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
         FROM documents WHERE doc_id < 100 ORDER BY doc_id"""),

    // --- within-doc repetition ratio (boilerplate signal) ---
    Op("q_repetition", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          df.where(F.col("doc_id") < 100)
            .withColumn("__toks__", graft.llm.TextOps.tokens(F.col("text")))
            .select(F.col("doc_id"),
              graft.llm.TextOps.repetitionRatio("__toks__", 2).as("rep_ratio"))
        }
        .sort(col("doc_id"))
        .run(s),
      """SELECT doc_id,
           CASE WHEN len(w) >= 2
                THEN round(1 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh), 6)
                ELSE 0.0 END AS rep_ratio
         FROM (
           SELECT doc_id, w,
                  list_transform(range(1, len(w)), i -> concat(w[i], ' ', w[i+1])) AS sh
           FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                 FROM documents WHERE doc_id < 100) a) b
         ORDER BY doc_id"""),

    // --- Gopher repetition-signal family (Rae et al. 2021 Table A1):
    //     top-n-gram and duplicated-n-gram character fractions. Integer
    //     numerators (count × gram length), one 6dp-rounded division;
    //     ties on the top gram break lexicographically on both engines ---
    Op("q_gopher_repetition", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          graft.llm.TextOps.repetitionSignals(df, "doc_id", "text",
            topNs = Seq(2, 3), dupNs = Seq(5))
        }
        .sort(col("doc_id"))
        .run(s),
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
         GROUP BY b.doc_id ORDER BY doc_id"""),

    // --- URL decomposition (scheme/host/path/registrable domain) over
    //     deterministically synthesized URLs with userinfo, ports, multi-
    //     label ccTLD suffixes, and query strings; the oracle builds the
    //     SAME urls and replays the identical regexp/split chain ---
    Op("q_url_parse", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val url = fixtureUrl
          val p = graft.llm.TextOps.urlParts(url)
          df.select(F.col("doc_id"), url.as("url"),
              p.getField("scheme").as("scheme"), p.getField("host").as("host"),
              p.getField("path").as("path"), p.getField("domain").as("domain"))
        }
        .sort(col("doc_id"))
        .run(s),
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
         FROM d ORDER BY doc_id"""),

    // --- URL canonicalization + exact URL dedup: messy fixture urls
    //     (case, ports, userinfo-free, scrambled param order, tracking
    //     params, fragments) collapse to canonical keys; per-key counts
    //     are the dedup report ---
    Op("q_url_canonical", (s, dir) =>
      m(dir, "documents")
        .native { df =>
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
        .run(s),
      // canonicalization replay: same regex pieces, list_filter on the
      // tracking-param pattern, list_sort, per-canonical counts
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
         FROM c GROUP BY 1 ORDER BY 1"""),

    // --- domain BLOCKLIST gate: the q_url_parse fixture urls, blocklist
    //     frame = the registrable domains of the doc_id % 10 = 0 slice
    //     (a DataFrame, not a literal — the anti-join IS the scale
    //     path), keep unblocked rows ---
    Op("q_domain_blocklist", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val urls = df.select(F.col("doc_id"), fixtureUrl.as("url"))
          val blocklist = urls.where(F.col("doc_id") % 10 === 0)
            .select(graft.llm.TextOps.urlParts(F.col("url"))
              .getField("domain").as("domain"))
          graft.llm.TextOps.domainBlocklistFilter(urls, "url", blocklist)
            .select(F.col("doc_id"),
              graft.llm.TextOps.urlParts(F.col("url"))
                .getField("domain").as("domain"))
        }
        .sort(col("doc_id"))
        .run(s),
      // same fixture + PSL domain, blocklist = the % 10 slice's domains,
      // NOT IN anti-join (domains are never null here)
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
         ORDER BY doc_id"""),

    // --- per-domain document cap: ≤ cap docs per registrable domain in
    //     deterministic (md5(id), id) order — kept SET replays exactly ---
    // ... expressed through the public Model API (Source.DomainCap) and
    // run THROUGH the wire codec — the cap is a first-class pipeline op.
    Op("q_domain_cap", (s, dir) => {
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
    },
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
         GROUP BY domain ORDER BY domain"""),

    // --- STREAMING per-domain cap in single-batch backfill mode: the
    //     keyed admission state ranks candidates by the batch operator's
    //     exact (md5(id), id) order, so one batch reproduces q_domain_cap
    //     bit-for-bit (oracle shared by reference) ---
    Op("q_stream_domain_cap", (s, dir) =>
      m(dir, "documents")
        .native { df =>
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
        .run(s),
      Op.oracleOf("q_domain_cap")),

    // --- cluster-size-aware DIVERSITY sampling (D4-style dedup-then-
    //     diversify): minhash near-dup clusters, canonical always kept,
    //     non-canonical members sampled at size^-0.5 via the
    //     md5-derandomized cutoff rule ---
    Op("q_diversity_sample", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val pairs = graft.llm.Dedup.minhashPairs(df, "doc_id", "text")
          val clusters = graft.llm.Dedup.clusterPairs(pairs, "doc_a", "doc_b")
          graft.llm.Dedup.diversitySample(df, "doc_id", clusters, alpha = 0.5)
        }
        .sort(col("doc_id"))
        .run(s),
      // diversity sample: clusters replay + one window (size, canonical) +
      // the shared pow-6dp / floor-cutoff / md5-u32 keep rule
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
         ORDER BY doc_id""")),

    Op("q_sample_hash", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          df.where(graft.llm.TextOps.hashSample(F.col("text"), 25.0))
            .groupBy(F.col("lang"))
            .agg(F.count(F.lit(1)).as("n"))
        }
        .sort(col("lang"))
        .run(s),
      """SELECT lang, count(*) AS n FROM documents
         WHERE CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT) < 1073741824
         GROUP BY 1 ORDER BY 1"""),

    // --- Efraimidis–Spirakis weighted sampling without replacement,
    //     md5-derandomized: 25 docs drawn ∝ n_chars; priorities
    //     ln(u)/w at 6 dp with key tie-break, so the sampled SET
    //     replays bit-for-bit ---
    //     ... as a wire-serializable Source: the sampling spec (key,
    //     weight, k) ships to a server like any other model
    Op("q_weighted_sample", (s, dir) => {
      val model = m(dir, "documents")
        .weightedSample(col("doc_id"), col("n_chars"), k = 25)
        .pick(col("doc_id"), col("lang"), col("priority"))
        .sort(col("doc_id"))
      graft.wire.WireFormat.fromJson(graft.wire.WireFormat.toJson(model)).run(s)
    },
      // ES weighted sampling: same u = (md5_u32(key)+1)/2^32, same
      // round(ln(u)/w, 6) priority, same (priority desc, key) cut.
      """SELECT doc_id, lang,
                round(ln(CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1 AS DOUBLE)
                         / CAST(4294967296.0 AS DOUBLE))
                      / CAST(n_chars AS DOUBLE), 6) AS priority
         FROM documents
         WHERE n_chars IS NOT NULL AND n_chars > 0
         ORDER BY priority DESC, doc_id LIMIT 25"""),

    // --- per-GROUP weighted sampling (stratified ES): k per language,
    //     weight-proportional, same md5-derandomized priority cut by a
    //     partial-WindowGroupLimit rank window per group ---
    Op("q_weighted_sample_group", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          graft.llm.TextOps.weightedSamplePerGroup(
              df, "lang", "doc_id", "n_chars", k = 5)
            .select(F.col("lang"), F.col("doc_id"), F.col("priority"))
        }
        .sort(col("lang")).sort(col("doc_id"))
        .run(s),
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
         ORDER BY lang, doc_id"""),

    // --- temperature-weighted corpus mixing (XLM-R/mT5 resampling,
    //     alpha = 0.5): rare languages up-weighted ∝ √n_g; one group
    //     aggregate + broadcast rate table + per-row hash predicate. The
    //     oracle replays rates (6-dp pow/sum discipline) and the md5
    //     keep rule bit-exactly, so the kept SET matches, not just the
    //     proportions. ---
    Op("q_lang_mix", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          graft.llm.TextOps.temperatureMix(df, "lang", "text",
              alpha = 0.5, keepFrac = 0.5)
            .groupBy(F.col("lang"))
            .agg(F.count(F.lit(1)).as("n_kept"),
              F.round(F.max(F.col("rate")), 6).as("rate"))
        }
        .sort(col("lang"))
        .run(s),
      // Replays temperatureMix(alpha=0.5, keepFrac=0.5): pow→6dp round,
      // decimal weight sum, the SAME double expression association
      // (kf * N * w / S / n), floor(rate * 2^32) cutoff, md5-prefix keep.
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
         GROUP BY 1 ORDER BY 1"""),

    // --- DoReMi-style domain upsampling: fractional epoch weights per
    //     lang, deterministic hash-gated extra copy; per-doc replica
    //     counts pin the emitted multiset bit-exactly ---
    // Exercises the WIRE-SERIALIZABLE surface end-to-end: the model —
    // including the weights SUB-MODEL (a VALUES-backed SqlQuery) — goes
    // through toJson/fromJson before running, so this row gates both the
    // Source.UpsampleMix lowering and its codec (the q_wire_roundtrip
    // pattern). Values are unchanged from the pre-wire native formulation.
    Op("q_upsample_mix", (s, dir) => {
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
    },
      // Replays upsampleMix: copies = floor(w) + (md5-prefix hash <
      // floor(round(frac(w),6)·2^32)), replicas via range(0, n).
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
         FROM r GROUP BY 1, 2 ORDER BY doc_id"""),

    // --- the weights-as-sub-model design earning its keep: DoReMi-style
    //     α=0.5 mixture weights COMPUTED FROM THE CORPUS (weight_l =
    //     N·n_l^α / (Σn^α · n_l), preserving expected corpus size since
    //     Σ n_l·w_l = N) feed upsampleMix as a model subtree — scalar
    //     subqueries for the two corpus totals, a decimal-summed pow
    //     normalizer for cross-engine determinism — and the WHOLE
    //     pipeline (stats → weights → upsample → per-doc agg) round-trips
    //     the wire codec before running ---
    Op("q_upsample_temperature", (s, dir) => {
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
    },
      // Replays the data-computed mixture exactly: same α=0.5 pow with 6dp
      // rounding on both sides, the normalizer summed as DECIMAL(27,6) (so
      // engine fold order cannot perturb it), the same
      // ((N · pow) / (S · n)) association, then the md5-cut upsample replay.
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
         FROM r GROUP BY 1, 2 ORDER BY doc_id"""),

    // --- end-to-end corpus cleaning: quality gate + lang gate + exact
    //     dedup (keep lowest id per normalized hash) → per-source stats ---
    Op("q_pipeline_clean", (s, dir) =>
      m(dir, "documents")
        .native { df =>
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
        .run(s),
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
         FROM deduped GROUP BY 1 ORDER BY 1""")),

    // --- per-source token statistics (whitespace + BPE-ish regex counts) ---
    Op("q_text_stats", (s, dir) =>
      m(dir, "documents")
        .native { df =>
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
        .run(s),
      """WITH toks AS (
           SELECT source, regexp_split_to_array(trim(text), '\s+') AS w,
                  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_re
           FROM documents
         )
         SELECT source, count(*) AS n_docs,
                sum(len(w))::BIGINT AS n_tokens,
                sum(n_re)::BIGINT AS n_re_tokens,
                round(CAST(sum(len(w)) AS DOUBLE) / count(*), 6) AS avg_tokens
         FROM toks GROUP BY 1 ORDER BY 1"""),

    // --- language-ID heuristic vs labeled lang (confusion counts) ---
    Op("q_text_langid", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          df.withColumn("__toks__", graft.llm.TextOps.tokens(F.col("text")))
            .groupBy(F.col("lang"),
              graft.llm.TextOps.langId("__toks__").as("predicted"))
            .agg(F.count(F.lit(1)).as("n"))
        }
        .sort(col("lang")).sort(col("predicted"))
        .run(s),
      (s"""WITH toks AS (
           SELECT lang, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
         )
         SELECT lang, $LangPredictSql AS predicted, count(*) AS n
         FROM toks GROUP BY 1, 2 ORDER BY 1, 2""")),

    // --- per-document quality scoring (length/diversity/stopword trio) ---
    Op("q_text_quality", (s, dir) =>
      m(dir, "documents")
        .native { df =>
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
        .run(s),
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
         FROM toks ORDER BY doc_id""")),

    // --- rolling-hash winnowing fingerprint per document ---
    Op("q_text_fingerprint", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          graft.GraftExtensions.install(df.sparkSession)
          df.where(F.col("doc_id") < 50)
            .select(F.col("doc_id"),
              F.expr("char_ngram_min(text, 8)").as("fp"))
        }
        .sort(col("doc_id"))
        .run(s),
      """SELECT doc_id,
           CASE WHEN length(text) >= 8
                THEN list_min(list_transform(range(1, length(text) - 6), i -> md5(substr(text, i, 8))))
                ELSE md5(text) END AS fp
         FROM documents WHERE doc_id < 50 ORDER BY doc_id"""),

    // --- BM25 keyword retrieval: constant query bag, per-row tf exprs,
    //     ONE corpus-stats aggregate broadcast back, TakeOrdered top-k ---
    Op("q_bm25_search", (s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.Search.bm25TopK(
          df, "doc_id", "text", Seq("spark", "window", "vector"), k = 15))
        .sort(col("doc_id"))
        .run(s),
      // BM25 with k1=1.2, b=0.75 over query bag (spark, window, vector):
      // same tokenization, same per-term tf, same ln-idf, same 6-dp rounding
      // and (score desc, doc_id) cut as Search.bm25TopK.
      {
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
    }),

    // --- per-document top-3 TF-IDF terms (corpus-wide document freqs) ---
    Op("q_tfidf_terms", (s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.Search.tfidfTopTerms(
          df, "doc_id", "text",
          org.apache.spark.sql.functions.col("doc_id") < 40, k = 3))
        .sort(col("doc_id")).sort(col("rank"))
        .run(s),
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
         WHERE rank <= 3 ORDER BY doc_id, rank"""),

    // --- corpus-wide top-20 word bigrams ---
    Op("q_top_ngrams", (s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.Search.topNgrams(df, "text", n = 2, k = 20))
        .sort(col("gram"))
        .run(s),
      """WITH toks AS (
           SELECT regexp_split_to_array(trim(text), '\s+') AS w FROM documents
         ), grams AS (
           SELECT array_to_string(w[i : i + 1], ' ') AS gram
           FROM (SELECT w, unnest(range(1, len(w))) AS i FROM toks)
         )
         SELECT gram, count(*) AS n_occurrences FROM grams
         GROUP BY 1 ORDER BY n_occurrences DESC, gram LIMIT 20"""),

    // --- exact distributed top-20 tokens via two-pass heavy hitters:
    //     Misra-Gries candidate aggregate (O(width) state, zero token
    //     shuffle) + exact recount over the broadcast candidate set. The
    //     exactness precondition (20th count 888 > n/(w+1) = 27165/65 at
    //     sf0.01) holds with an order-of-magnitude margin, so the oracle
    //     is the plain exact top-k. ---
    Op("q_heavy_hitters", (s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.Search.heavyHitters(df, "text", k = 20, width = 64))
        .sort(col("token"))
        .run(s),
      """WITH toks AS (
           SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
           FROM documents WHERE trim(text) <> ''
         )
         SELECT token, count(*) AS n FROM toks WHERE token <> ''
         GROUP BY 1 ORDER BY n DESC, token LIMIT 20"""),

    // --- per-language exact top-5 tokens: the grouped two-pass heavy
    //     hitter (per-group MG state, broadcast candidate semi-join);
    //     per-group exactness bound verified at sf0.01 (min c5=131 >
    //     max n_g/65=181-threshold per group) ---
    Op("q_heavy_hitters_grouped", (s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.Search.heavyHittersByGroup(
          df, "lang", "text", k = 5, width = 64))
        .sort(col("lang")).sort(col("rank"))
        .run(s),
      // Grouped heavy hitters: per-group exact top-5 replay (MG pass only
      // proposes; per-group recount is the value-defining stage).
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
         ORDER BY lang, rank"""),
  )

  /** The classifier oracles' three unrolled gradient-descent iterations
    * over the feature rows `f(y, x0..x6)`: logits folded in a fixed
    * feature order, 6-dp sigmoids, exact integer micro-gradient sums,
    * weights `w1`..`w3` re-rounded to 6 dp. */
  private val GdIterationCtes: String =
    """nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f),
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
           FROM s3)"""
  /** The q_url_parse fixture url per document: userinfo, ports,
    * multi-label ccTLD suffixes and query strings, a closed form of
    * (doc_id, source, lang). doc_id % 13 == 11 rows get a bare host that
    * IS a 3-label public suffix (s3.amazonaws.com) — the host-is-suffix
    * rule's fixture. */
  private def fixtureUrl: org.apache.spark.sql.Column = {
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
    F.when(F.col("doc_id") % 13 === 11,
      F.concat(F.lit("https://s3.amazonaws.com/bucket/"),
        F.col("doc_id").cast("string"))).otherwise(url0)
  }

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

  /** Argmax-language CASE expression (ties → first profile, all-zero →
    * 'und'), mirroring TextOps.langId. */
  private val LangPredictSql: String = {
    val langs = graft.llm.TextOps.LangProfiles.map(_._1)
    val best = langs.map(stopCountSql).mkString("greatest(", ", ", ")")
    val arms = langs.init.map(l => s"WHEN ${stopCountSql(l)} = $best THEN '$l'")
      .mkString(" ")
    s"CASE WHEN $best = 0 THEN 'und' $arms ELSE '${langs.last}' END"
  }
}
