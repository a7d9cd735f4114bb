package graft
package ops

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}

import graft.funcs._
import Shared._

/** Deduplication queries: exact, line, substring, MinHash,
  * SimHash and n-gram near-dup detection, their persisted indexes,
  * cluster closure and the streaming admission gates. */
object DedupOps {
  val ops: Seq[Op] = Seq(
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
    Op("q_stream_line_dedup", (s, dir) =>
      m(dir, "documents")
        .native(df => graft.streaming.Streams.streamingLineDedup(
          df, "doc_id", "text"))
        .sort(col("doc_id")).sort(col("line_ix"))
        .run(s),
      // First-occurrence kept-line set: row_number over (line) ordered by
      // (doc_id, line_ix) replays the state function's min-winner exactly.
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
         WHERE rn = 1 ORDER BY doc_id, line_ix"""),

    Op("q_stream_decontam", (s, dir) =>
      m(dir, "documents")
        .native { df =>
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
        .run(s),
      // The exact contaminated set: bloom-dropped ∩ exact-dropped collapses
      // to it exactly when the bloom path leaks nothing (no-false-negative
      // gate; over-drops cannot appear in the intersection).
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
         ORDER BY doc_id"""),

    // =============== LLM-data-pipeline operators (graft.llm) ===============

    // --- exact dedup stats: docs vs distinct normalized-text hashes ---
    Op("q_dedup_exact", (s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.Dedup.exactStats(df, "source", "text"))
        .sort(col("source"))
        .run(s),
      // =============== LLM-data-pipeline oracles ===============
      """SELECT source, count(*) AS n_docs,
                count(DISTINCT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))) AS n_unique
         FROM documents GROUP BY source ORDER BY source"""),

    // --- block-level boilerplate removal: corpus-repeated 8-token blocks
    //     stripped from every doc, survivors reassembled in order ---
    Op("q_block_dedup", (s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.Dedup.blockDedup(
          df, "doc_id", "text", blockSize = 8, maxCopies = 2))
        .sort(col("doc_id"))
        .run(s),
      // blocks = non-overlapping 8-token windows (chunking CTE shape);
      // blocks whose text occurs in > 2 blocks corpus-wide are dropped;
      // string_agg skips NULLed-out blocks, coalesce matches Spark's
      // concat_ws('') on all-dropped docs
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
         GROUP BY 1 ORDER BY 1"""),

    // --- corpus-LEVEL line dedup (CCNet shard dedup): identical banner /
    //     footer lines injected into every doc survive only at their
    //     first corpus occurrence; content lines repeat only where the
    //     corpus itself has duplicate docs ---
    Op("q_line_dedup_corpus", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val built = df.where(F.col("doc_id") < 200)
            .withColumn("__doc__", F.concat_ws("\n",
              F.lit("SITE NAV | Home | About"),
              F.expr("substring(text, 1, 60)"),
              F.lit("(c) example.org - all rights reserved"),
              F.expr("substring(text, 61, 60)")))
          graft.llm.Dedup.corpusLineDedup(built, "doc_id", "__doc__")
        }
        .sort(col("doc_id"))
        .run(s),
      // Corpus-level line dedup: first occurrence per distinct line in
      // (doc_id, line-index) order = row_number 1 over the line partition;
      // survivors reassemble in index order, md5'd as VARCHAR.
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
         FROM k GROUP BY 1 ORDER BY 1"""),

    // --- duplicated-substring spans (Lee et al. 2022 shape): any >=8-word
    //     span occurring >=2 times anywhere in the corpus, at ANY
    //     alignment, merged to maximal per-doc spans ---
    Op("q_substr_spans", (s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.Dedup.substringSpans(
          df, "doc_id", "text", minSpanWords = 8, minCopies = 2))
        .sort(col("doc_id"))
        .run(s),
      // Duplicated-substring spans: same rolling 8-gram positions, same
      // global >=2 count, same lag-based island merge (coverage touches
      // while pos <= prev + 8). Positions are BIGINT on both engines;
      // HUGEINT sums cast back to BIGINT.
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
         FROM spans GROUP BY 1 ORDER BY 1"""),

    // --- INCREMENTAL substring admission (batch): re-submitted docs
    //     (doc_id%9==3, ids +10000) match the persisted gram-posting
    //     index; every pairwise maximal match >= 8 words emits, hot
    //     grams cut by the pushed __gf__ cap at the postings scan ---
    Op("q_substr_admit", (s, dir) =>
      m(dir, "documents")
        .native { df =>
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
        .run(s),
      // incremental admission: the re-submitted slice's grams join the
      // corpus gram index (freq-capped), diagonal runs per (new doc,
      // indexed doc, offset) = every pairwise maximal match
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
         ORDER BY left_id, right_id, match_start, match_words"""),

    // --- INCREMENTAL substring admission against an APPEND-MAINTAINED
    //     index (even half saved, odd half appended — delta postings +
    //     cumulative __gf__ + crossed-gram hot set, no rebuild): the
    //     appended artifact serves value-identically to q_substr_admit's
    //     rebuilt one, so the oracle is shared by reference ---
    Op("q_substr_admit_incr", (s, dir) =>
      m(dir, "documents")
        .native { df =>
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
        .run(s),
      // append-maintained index serves value-identically to the rebuilt
      // one (cumulative __gf__ + crossed-gram hot set = the rebuild's
      // pushed-cap row set, parity spec-pinned in LlmSpec)
      Op.oracleOf("q_substr_admit")),

    // --- STREAMING substring admission, single-batch backfill: the
    //     HOF diagonal-run fold over per-pair position sets — value-
    //     identical to the batch window formulation (spec-pinned),
    //     shared oracle by reference ---
    Op("q_stream_substr_admit", (s, dir) =>
      m(dir, "documents")
        .native { df =>
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
        .run(s),
      // streaming substring admission backfill ≡ the batch indexed
      // matches: the HOF run fold over per-pair position sets is
      // spec-pinned value-identical to the window formulation
      Op.oracleOf("q_substr_admit")),

    // --- MAXIMAL duplicated substrings (the suffix-array semantics
    //     substringSpans approximates): true pairwise maximal matches
    //     ≥ 8 words via the diagonal-run identity, hot grams capped at
    //     64 copies; per-doc merged coverage + the honest longest
    //     single match ---
    Op("q_substr_maximal", (s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.Dedup.substringMaximalSpans(
          df, "doc_id", "text", minMatchWords = 8, maxGramCopies = 64))
        .sort(col("doc_id"))
        .run(s),
      // maximal matches: gram co-occurrence pairs grouped by (docA, docB,
      // diagonal), consecutive-position runs = pairwise maximal matches,
      // per-doc interval union-merge + the longest single match
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
         GROUP BY 1 ORDER BY 1"""),

    // --- apply substring dedup: strip every covered word, hash the
    //     reassembled survivors ---
    // Through the model-level Source.SubstringClean (wire-serializable
    // since round 10); WireFormatSpec round-trips the node, this row
    // gates the compiled lowering's values.
    Op("q_substr_clean", (s, dir) =>
      m(dir, "documents")
        .substringClean(col("doc_id"), col("text"),
          minSpanWords = 8, minCopies = 2)
        .sort(col("doc_id"))
        .run(s),
      // Apply substring dedup: covered word positions = union of [pos, pos+7]
      // intervals; survivors reassembled in word order and md5'd (string md5
      // only — DuckDB md5 is VARCHAR-only).
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
         GROUP BY 1 ORDER BY 1"""),

    // --- benchmark decontamination: word-3-gram overlap between "train"
    //     (doc_id >= 20) and a small "eval suite" (doc_id < 20) ---
    Op("q_contamination", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          graft.llm.Dedup.contamination(
            df.where(F.col("doc_id") >= 20), "doc_id", "text",
            df.where(F.col("doc_id") < 20), "doc_id", "text")
        }
        .sort(col("doc_id"))
        .run(s),
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
         GROUP BY 1 ORDER BY 1"""),

    // --- MinHash + LSH near-dup pairs (banded bucket join, never all-pairs) ---
    Op("q_dedup_minhash", (s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.Dedup.minhashPairs(df, "doc_id", "text"))
        .sort(col("doc_a")).sort(col("doc_b"))
        .run(s),
      (MinhashPairsCtes +
        "SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b")),

    // --- EXACT Jaccard-threshold join (AllPairs/PPJoin prefix filter):
    //     zero false negatives — its oracle is the DEFINITION (all-pairs
    //     in DuckDB), so a hash match proves candidate completeness, a
    //     claim no minhash oracle can make ---
    Op("q_dedup_jaccard_exact", (s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.Dedup.jaccardJoinExact(df, "doc_id", "text"))
        .sort(col("left_id")).sort(col("right_id"))
        .run(s),
      // EXACT jaccard join: the oracle is the DEFINITION — all pairs, no
      // blocking — so a hash match certifies the prefix filter's
      // no-false-negative guarantee, not just its verification math.
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
         WHERE jaccard >= 0.8 ORDER BY left_id, right_id"""),

    // --- EXACT containment join (asymmetric prefix filter): truncated
    //     scrapes planted as substr(text, 1, 200) twins — Jaccard-blind
    //     pairs (short ⊂ long) that containment must catch; definition-
    //     level all-pairs oracle certifies completeness ---
    Op("q_dedup_containment", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val base = df.where(F.col("doc_id") < 150)
          val corpus = base
            .select((F.col("doc_id") * 2).as("doc_id"), F.col("text"))
            .unionAll(base.select((F.col("doc_id") * 2 + 1).as("doc_id"),
              F.substring(F.col("text"), 1, 200).as("text")))
          graft.llm.Dedup.containmentJoinExact(corpus, "doc_id", "text")
        }
        .sort(col("contained_id")).sort(col("container_id"))
        .run(s),
      // Containment join: all-pairs definition over the same synthesized
      // truncation corpus (C = |∩| / |contained|, both orientations).
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
         WHERE containment >= 0.9 ORDER BY contained_id, container_id"""),

    // --- MinHash with the hot-bucket cap engaged (the LSH skew guard):
    //     band buckets above the cap are dropped before the self-join —
    //     cap=2 provably bites at sf0.01, where the largest bucket holds 3
    //     docs, so this exercises the capped code path, not a no-op ---
    Op("q_dedup_minhash_skew", (s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.Dedup.minhashPairs(df, "doc_id", "text",
          maxBucketSize = 2))
        .sort(col("doc_a")).sort(col("doc_b"))
        .run(s),
      (minhashPairsCtes(maxBucketSize = 2) +
        "SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b")),

    // --- boilerplate hot-bucket skew: 10% of docs share ONE text, so one
    //     LSH bucket per band holds n/10 docs and an uncapped self-join
    //     would emit C(n/10, 2) candidate pairs (124,750 at sf0.1). The
    //     bucket cap drops the degenerate bucket entirely — boilerplate is
    //     noise, not near-dups of interest — keeping candidates linear;
    //     the oracle replays the same injected corpus and cap. ---
    Op("q_dedup_boilerplate_skew", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val corpus = df.withColumn("text",
            F.when(F.col("doc_id") % 10 === 0, F.lit(BoilerplateText))
              .otherwise(F.col("text")))
          graft.llm.Dedup.minhashPairs(corpus, "doc_id", "text",
            maxBucketSize = 8)
        }
        .sort(col("doc_a")).sort(col("doc_b"))
        .run(s),
      (minhashPairsCtes(maxBucketSize = 8,
        corpusSql = "SELECT doc_id, CASE WHEN doc_id % 10 = 0 " +
          s"THEN '$BoilerplateText' ELSE text END AS text FROM documents") +
        "SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b")),

    // --- cross-corpus near-dup JOIN: dedupe one corpus half against the
    //     other (the "new crawl vs existing cleaned corpus" shape) — band
    //     equi-join BETWEEN corpora, never all-pairs ---
    Op("q_dedup_cross", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          graft.llm.Dedup.minhashJoin(
            df.where(F.col("doc_id") % 2 === 0), "doc_id", "text",
            df.where(F.col("doc_id") % 2 === 1), "doc_id", "text")
        }
        .sort(col("left_id")).sort(col("right_id"))
        .run(s),
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
         WHERE jaccard >= 0.8 ORDER BY left_id, right_id""")),

    // --- INCREMENTAL dedup against a PERSISTED MinHash index: the odd
    //     half is indexed once (bucketed on the band hash — that shuffle
    //     is paid at ingest, and the saved layout satisfies the band
    //     join's clustering, so the index side plans zero exchanges),
    //     then the even "new crawl" slice hashes only itself and joins
    //     the saved table. Values = q_dedup_cross exactly (LlmSpec pins
    //     it), so the oracle is shared by reference. ---
    Op("q_dedup_incremental", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          // memoized index fixture: production pays the index build at
          // ingest, so the timed body here is the serve join only
          val tbl = oddMinhashIndex(s, df, dir)
          graft.llm.Dedup.minhashJoinIndexed(
            df.where(F.col("doc_id") % 2 === 0), "doc_id", "text",
            df.sparkSession.table(tbl))
        }
        .sort(col("left_id")).sort(col("right_id"))
        .run(s),
      Op.oracleOf("q_dedup_cross")),

    // --- STREAMING text MinHash near-dup admission backfill: the
    //     stream-static band join + per-doc dedupe state, run over the
    //     even "new crawl" slice as one batch against the same persisted
    //     MinHash index shape q_dedup_incremental builds — values must
    //     equal the batch indexed join (shared oracle by reference) ---
    Op("q_stream_minhash_neardup", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val tbl = oddMinhashIndex(s, df, dir)
          graft.streaming.Streams.streamingMinhashNearDup(
            df.where(F.col("doc_id") % 2 === 0), "doc_id", "text",
            df.sparkSession.table(tbl))
        }
        .sort(col("left_id")).sort(col("right_id"))
        .run(s),
      // streaming text MinHash admission, single-batch backfill: the
      // stream-static band join + per-doc dedupe state equals the batch
      // indexed join — same pairs, same oracle
      Op.oracleOf("q_dedup_cross")),

    // --- INDEX TAKEDOWN (opt-out / right-to-be-forgotten): remove the
    //     odd %3==0 docs from the persisted MinHash index (broadcast
    //     anti-join riding the zero-shuffle bucketed-compaction path,
    //     versioned dst), then serve the even slice — values must equal
    //     a join against an index that never held those docs (the
    //     oracle's right side simply excludes them) ---
    Op("q_dedup_takedown", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val tbl = oddMinhashIndex(s, df, dir)
          // a fresh version per call: a second call rewriting the first
          // call's table under the same name served a stale file listing
          // (FILE_NOT_EXIST). The previous call's version is retired once
          // this one is written (its serve has been consumed by then).
          val dst = "minhash_takedown_" + Fixtures.dirKey(dir) + "_" +
            Fixtures.runTag + "_v" + versionSeq.incrementAndGet()
          graft.sources.ParquetIO.removeFromBucketed(
            s, tbl, "__id__",
            df.where(F.col("doc_id") % 2 === 1 && F.col("doc_id") % 3 === 0)
              .select(F.col("doc_id")),
            dst, s"/tmp/graft_takedown/$dst", "__bkey__", 8)
          Option(lastTakedown.getAndSet(dst))
            .filter(s.catalog.tableExists)
            .foreach(graft.sources.ParquetIO.retireVersion(s, _))
          graft.llm.Dedup.minhashJoinIndexed(
            df.where(F.col("doc_id") % 2 === 0), "doc_id", "text",
            df.sparkSession.table(dst))
        }
        .sort(col("left_id")).sort(col("right_id"))
        .run(s),
      // takedown ≡ an index that never held the removed docs: the right
      // side's predicate simply excludes them
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
         WHERE jaccard >= 0.8 ORDER BY left_id, right_id""")),

    // --- the full maintenance loop ENDING IN THE ATOMIC SWAP: takedown
    //     → zero-shuffle compaction → promoteVersion re-points the
    //     serving name at the final version (one catalog op; in-flight
    //     readers keep their version) → the superseded intermediate
    //     retires → the admission join serves THROUGH the view. Values
    //     identical to serving the takedown table directly (compaction
    //     and the view alias are value-neutral) — oracle shared by
    //     reference with q_dedup_takedown ---
    Op("q_dedup_promote", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val tbl = oddMinhashIndex(s, df, dir)
          // every maintenance pass writes GENUINELY NEW versions (the
          // per-call counter): re-using a version name would overwrite
          // files a cached relation may still reference — exactly the
          // stale-read the versioned-artifact contract exists to prevent
          val tag = Fixtures.dirKey(dir) + "_" + Fixtures.runTag +
            "_v" + versionSeq.incrementAndGet()
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
        .run(s),
      // takedown → compact → atomic swap → serve-through-view is
      // value-identical to serving the takedown table directly
      Op.oracleOf("q_dedup_takedown")),

    // --- corpus SNAPSHOT DIFF (the lineage report an incremental
    //     pipeline publishes per version): old = %7!=0 slice, new =
    //     %5!=0 slice with %3==0 texts revised — statuses + content
    //     hashes per id through one full outer join. First-class IR
    //     with the new snapshot as a sub-model — the query runs
    //     THROUGH toJson/fromJson. ---
    Op("q_corpus_diff", (s, dir) => {
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
    },
      // snapshot diff: same slices, same revision rule, same raw-md5
      // hashes, one full outer join
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
         ORDER BY doc_id"""),

    // --- STREAMING corpus snapshot diff (q_corpus_diff's continuous
    //     twin, run as single-batch backfill): each arriving new-
    //     snapshot id verdicts against the old snapshot via one
    //     stream-static left join — added/changed/unchanged per id;
    //     'removed' stays with the batch pass (absence needs snapshot
    //     close). Oracle = the batch diff restricted to the new side ---
    Op("q_stream_corpus_diff", (s, dir) =>
      m(dir, "documents")
        .native { df =>
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
        .run(s),
      // the streaming twin sees only the NEW snapshot's side: same CTEs,
      // left join from n — 'removed' rows are exactly what it cannot emit
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
         ORDER BY doc_id"""),

    // --- corpus DATASHEET report (the per-slice summary a dataset
    //     release publishes): docs / tokens / chars / distinct texts /
    //     dup rate by (lang, source); duplicates planted on %10<3 docs
    //     (per-source banner) so the rate is non-trivial. First-class
    //     IR — the query runs THROUGH toJson/fromJson. ---
    Op("q_corpus_report", (s, dir) => {
      val model = m(dir, "documents")
        .corpusReport(
          graft.funcs.sql("CASE WHEN doc_id % 10 < 3 THEN " +
            "concat('Standard banner for ', source) ELSE text END"),
          col("lang"), col("source"))
        .sort(col("lang")).sort(col("source"))
      graft.wire.WireFormat.fromJson(graft.wire.WireFormat.toJson(model)).run(s)
    },
      // datasheet report: same banner plant, same whitespace-token rule,
      // exact distinct-by-md5, one correctly-rounded division
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
         FROM b GROUP BY 1, 2 ORDER BY 1, 2"""),

    // --- PARAGRAPH-level near-dup dedup (the Dolma/CCNet stage below
    //     document granularity): both engines synthesize 3 paragraphs
    //     per doc — a per-source shared banner (exact dups the detector
    //     must find) plus two content slices — then the UNCHANGED
    //     MinHash pipeline runs on the paragraph frame; the oracle
    //     reuses the minhash replay with a paragraph corpusSql ---
    Op("q_dedup_paragraph", (s, dir) =>
      m(dir, "documents")
        .native { df =>
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
        .run(s),
      // paragraph dedup: the SAME minhash replay over a synthesized
      // paragraph corpus (per-source banner + two content slices).
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
        "SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b")),

    // --- SimHash near-dup pairs (byte-band blocking, exact for hamming<=3) ---
    Op("q_dedup_simhash", (s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.Dedup.simhashPairs(df, "doc_id", "text"))
        .sort(col("doc_a")).sort(col("doc_b"))
        .run(s),
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
         WHERE hamming <= 3 ORDER BY doc_a, doc_b"""),

    // --- char n-gram Jaccard near-dups with winnowing-fingerprint blocking ---
    Op("q_dedup_ngram", (s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.Dedup.charNgramPairs(df, "doc_id", "text"))
        .sort(col("doc_a")).sort(col("doc_b"))
        .run(s),
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
         WHERE jaccard >= 0.7 ORDER BY doc_a, doc_b"""),

    // --- winnowing recall knob: bottom-2 fingerprints per doc (candidate
    //     pairs share ANY of the 2 smallest window hashes — a strict
    //     superset of the single-fingerprint candidates) ---
    Op("q_dedup_ngram_k", (s, dir) =>
      m(dir, "documents")
        .native(df => graft.llm.Dedup.charNgramPairs(df, "doc_id", "text",
          numFingerprints = 2))
        .sort(col("doc_a")).sort(col("doc_b"))
        .run(s),
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
         WHERE jaccard >= 0.7 ORDER BY doc_a, doc_b"""),

    // --- transitive near-dup clustering (connected components over the
    //     verified MinHash pairs; keep-one-per-cluster labeling) ---
    Op("q_dedup_clusters", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val pairs = graft.llm.Dedup.minhashPairs(df, "doc_id", "text")
          graft.llm.Dedup.clusterPairs(pairs, "doc_a", "doc_b")
        }
        .sort(col("doc_id"))
        .run(s),
      (MinhashPairsCtes + ClosureCtes +
        """SELECT doc_id, cluster_id FROM clusters ORDER BY 1""")),

    // --- CANONICAL exact dedup: among exact duplicates keep the copy
    //     maximizing the 6dp quality score (ties → lowest id) — the
    //     keep-the-BEST-copy policy, one struct-min aggregate ---
    Op("q_dedup_canonical", (s, dir) =>
      m(dir, "documents")
        .native { df =>
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
        .run(s),
      // Replays the canonical cut: quality per doc, then per-hash
      // row_number ordered (quality DESC, doc_id).
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
         FROM r WHERE rn = 1 ORDER BY doc_id""")),

    // --- within-document repeated-line removal (RefinedWeb/CCNet line
    //     dedup): multi-line docs are synthesized deterministically from
    //     text substrings (the corpus has no newlines) with lines 1 and 3,
    //     2 and 5 repeating; the oracle rebuilds the same doc and replays
    //     keep-first-occurrence via list_position. Per-row closed form. ---
    Op("q_dedup_lines", (s, dir) =>
      m(dir, "documents")
        .native { df =>
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
        .run(s),
      // Rebuilds the same synthetic multi-line doc, then keep-first-
      // occurrence per line via list_position(ls, ls[i]) = i — the exact
      // semantics of TextOps.dedupLines' array_position filter.
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
         FROM d ORDER BY doc_id"""),

    // --- APPLY near-dup dedup: keep one representative per cluster,
    //     i.e. the complete detector → closure → anti-join pipeline ---
    Op("q_dedup_apply", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val pairs = graft.llm.Dedup.minhashPairs(df, "doc_id", "text")
          val clusters = graft.llm.Dedup.clusterPairs(pairs, "doc_a", "doc_b")
          val drop = clusters.where(F.col("doc_id") =!= F.col("cluster_id"))
          df.join(drop, Seq("doc_id"), "left_anti")
            .groupBy(F.col("lang")).agg(F.count(F.lit(1)).as("n_kept"))
        }
        .sort(col("lang"))
        .run(s),
      (MinhashPairsCtes + ClosureCtes +
        """SELECT lang, count(*) AS n_kept FROM documents d
         WHERE NOT EXISTS (
           SELECT 1 FROM clusters c
           WHERE c.doc_id = d.doc_id AND c.doc_id <> c.cluster_id)
         GROUP BY 1 ORDER BY 1""")),

    // --- CDC-chunk storage dedup ratio: content-defined chunks shared
    //     across documents collapse to one stored copy — the dedup-storage
    //     accounting query (one narrow chunk map + one groupBy on
    //     chunk_md5) ---
    Op("q_cdc_dedup", (s, dir) =>
      m(dir, "documents")
        .native { df =>
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
        .run(s),
      // CDC dedup accounting: same chunk CTE as q_cdc_chunks (whole corpus),
      // grouped by chunk hash.
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
         FROM byh"""),
  )

  /** Per-JVM version counter for the index-maintenance ops
    * (q_dedup_takedown, q_dedup_promote): each call must publish NEW
    * version names (re-using one would overwrite files a cached relation
    * or a file listing still references). */
  private val versionSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The takedown version q_dedup_takedown's last call published. */
  private val lastTakedown =
    new java.util.concurrent.atomic.AtomicReference[String]()

  /** Persisted substring gram-posting index over the documents table
    * (minMatchWords = 8): the admission queries' stream-static corpus
    * side, bucketed on __gh__. */
  private def substrIndex(s: SparkSession, dir: String): (String, String) =
    Fixtures.bucketed(s, "substr", dir, "__gh__", sub = "postings") {
      (tbl, path) =>
        graft.llm.Dedup.substringIndexSave(
          table(s, dir, "documents"), "doc_id", "text",
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
        val docs = table(s, dir, "documents")
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

  /** One boilerplate string, shared verbatim by the skew query and its
    * oracle: injected into 10% of docs it collapses them into ONE LSH
    * bucket in EVERY band — the hot-bucket shape that makes an uncapped
    * band self-join quadratic. */
  private val BoilerplateText =
    "subscribe to our newsletter for updates and special offers today"

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
}
