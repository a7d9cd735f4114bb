package graft
package ops

import org.apache.spark.sql.{SparkSession, functions => F}

import graft.funcs._
import Shared._

/** Embedding queries: brute-force and approximate nearest
  * neighbours (LSH, IVF, PQ, OPQ, SQ8), semantic dedup, bitext mining
  * and kNN labelling. */
object AnnOps {
  val ops: Seq[Op] = Seq(
    // --- SEMANTIC decontamination: max cosine of every corpus vector
    //     against the 8-vector eval suite frozen into the plan as float
    //     literals (zero joins) — flags the paraphrased leakage n-gram
    //     overlap misses; each cosine rounds 6dp before the max ---
    //     ... expressed through the public Model API with the eval suite
    //     riding the wire AS A SUB-MODEL, run THROUGH toJson/fromJson
    Op("q_semantic_decontam", (s, dir) => {
      val evalModel = m(dir, "embeddings").filter(col("vec_id") < lit(8L))
      val model = m(dir, "embeddings")
        .filter(col("vec_id") >= lit(8L))
        .semanticDecontam(evalModel, col("vec_id"), col("embedding"),
          col("embedding"), threshold = 0.35)
        .sort(col("vec_id"))
      graft.wire.WireFormat.fromJson(graft.wire.WireFormat.toJson(model)).run(s)
    },
      // Same eval suite read back from the table; cosines via the shared
      // double-precision left-fold, rounded 6dp before the per-row max.
      (s"""WITH ev AS (
           SELECT embedding AS e FROM embeddings WHERE vec_id < 8),
         tr AS (
           SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 8),
         c AS (
           SELECT t.vec_id,
                  max(round(${cosSql("t.embedding", "v.e")}, 6)) AS max_eval_cos
           FROM tr t, ev v GROUP BY t.vec_id)
         SELECT vec_id, max_eval_cos, max_eval_cos >= 0.35 AS contaminated
         FROM c ORDER BY vec_id""")),

    // --- near-dup-aware train/val split: split decided by the CLUSTER
    //     representative's hash, so near-duplicates never straddle the
    //     boundary (the silent leakage mode of per-doc random splits);
    //     oracle replays detector + recursive closure + same split rule ---
    Op("q_split_by_cluster", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val pairs = graft.llm.Dedup.minhashPairs(df, "doc_id", "text")
          val clusters = graft.llm.Dedup.clusterPairs(pairs, "doc_a", "doc_b")
          graft.llm.Dedup.splitByCluster(df, "doc_id", clusters,
              trainPercent = 80.0)
            .groupBy(F.col("split"))
            .agg(F.count(F.lit(1)).as("n_docs"),
              F.countDistinct(F.col("lang")).as("n_langs"))
        }
        .sort(col("split"))
        .run(s),
      // Near-dup-aware split: same closure CTEs as q_dedup_clusters, then
      // the split rule = md5 prefix of the representative id AS A STRING
      // (engine-portable bytes), cutoff = floor(0.8 * 2^32).
      (MinhashPairsCtes + ClosureCtes + """
         , rep AS (
             SELECT d.doc_id, d.lang,
                    CAST(coalesce(c.cluster_id, d.doc_id) AS VARCHAR) AS rid
             FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id)
         SELECT CASE WHEN CAST(concat('0x', substr(md5(rid), 1, 8)) AS BIGINT)
                          < 3435973836 THEN 'train' ELSE 'val' END AS split,
                count(*) AS n_docs, count(DISTINCT lang) AS n_langs
         FROM rep GROUP BY 1 ORDER BY 1""")),

    // --- embedding-cosine near-dup pairs within sign-LSH buckets ---
    Op("q_dedup_embed", (s, dir) =>
      m(dir, "embeddings")
        .native(df => graft.llm.Embeddings.nearDupPairs(df, "vec_id", "embedding",
          bits = 4, threshold = 0.3))
        .sort(col("vec_a")).sort(col("vec_b"))
        .run(s),
      (s"""WITH bkt AS (
           SELECT vec_id, embedding, $BktSql AS bkt FROM embeddings
         )
         SELECT vec_a, vec_b, cosine FROM (
           SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
                  round(${cosSql("a.embedding", "c.embedding")}, 6) AS cosine
           FROM bkt a JOIN bkt c ON a.bkt = c.bkt AND a.vec_id < c.vec_id) t
         WHERE cosine >= 0.3 ORDER BY vec_a, vec_b""")),

    // --- SemDeDup: k-means cells + within-cell cosine closure, keep one
    //     representative per semantic-duplicate group. k ~ sqrt(n) per the
    //     paper (cells stay O(sqrt n) so within-cell pairs are O(n) total,
    //     never all-pairs); kmeansFitSqrtK sizes k by counting its own
    //     CACHED projection — no extra corpus scan (the oracle derives the
    //     same k via floor(sqrt(count(*)))). Threshold
    //     0.45 is the top of this synthetic corpus's cosine range (near-
    //     orthogonal vectors, max pairwise ~0.55 — the paper's 0.9+ would
    //     match zero pairs here); it yields a sparse duplicate graph, not
    //     the round-6 near-dense 0.3 one. maxCellSize caps any dense mode
    //     k-means can't split, mirroring minhashPairs' bucket cap. ---
    Op("q_semdedup", (s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          val cents = graft.llm.Embeddings.kmeansFitSqrtK(
            df, "vec_id", "embedding", iters = 2)
          graft.llm.Embeddings.semDedup(df, "vec_id", "embedding", cents,
            threshold = SemThreshold, maxCellSize = SemMaxCell)
            .groupBy(F.col("label")).agg(F.count(F.lit(1)).as("n_kept"))
        }
        .sort(col("label"))
        .run(s),
      (kmeansCtes(SemKPredSql).replaceFirst("WITH ", "WITH RECURSIVE ") + s""",
         sfc AS (
           SELECT vec_id, embedding, cell FROM (
             SELECT vec_id, embedding, cell,
                    count(*) OVER (PARTITION BY cell) AS cn FROM sf) t
           WHERE cn <= $SemMaxCell
         ),
         pairs AS (
           SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
           FROM sfc a JOIN sfc b ON a.cell = b.cell AND a.vec_id < b.vec_id
           WHERE round((${dotSql("a.embedding", "b.embedding")}) /
                       (sqrt(${dotSql("a.embedding", "a.embedding")}) *
                        sqrt(${dotSql("b.embedding", "b.embedding")})), 6) >= $SemThreshold
         )""" + ClosureCtes + """
         SELECT e.label, count(*) AS n_kept FROM embeddings e
         WHERE NOT EXISTS (
           SELECT 1 FROM clusters c
           WHERE c.doc_id = e.vec_id AND c.doc_id <> c.cluster_id)
         GROUP BY 1 ORDER BY 1""")),

    // --- int8 embedding quantization: reconstruction-error stats ---
    Op("q_embed_quant", (s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          graft.llm.Embeddings.quantize8(df, "embedding", "q8")
            .groupBy(F.col("label"))
            .agg(
              F.count(F.lit(1)).as("n"),
              F.round(F.max(F.col("q8_max_err")), 6).as("max_err"))
        }
        .sort(col("label"))
        .run(s),
      """SELECT label, count(*) AS n, round(max(err), 6) AS max_err FROM (
           SELECT label,
             list_reduce(list_transform(range(1, len(embedding) + 1),
               i -> abs(CAST(embedding[i] AS DOUBLE) - q[i] / scale)),
               (a, b) -> greatest(a, b)) AS err
           FROM (
             SELECT label, embedding,
               127.0 / list_reduce(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
                                   (a, b) -> greatest(a, b)) AS scale,
               list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) *
                        (127.0 / list_reduce(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))),
                                             (a, b) -> greatest(a, b))) + 0.5) AS INT)) AS q
             FROM embeddings) t1) t2
         GROUP BY 1 ORDER BY 1"""),

    // --- brute-force cosine top-k (correctness baseline for ANN) ---
    Op("q_ann_brute", (s, dir) =>
      m(dir, "embeddings")
        .native(df => graft.llm.Embeddings.bruteTopK(df, "vec_id", "embedding",
          queryId = 0L, k = 10))
        .sort(col("cosine"), dir = "desc").sort(col("vec_id"))
        .run(s),
      (s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         SELECT vec_id, cosine FROM (
           SELECT vec_id, round(${cosSql("embedding", "qe")}, 6) AS cosine
           FROM embeddings, q WHERE vec_id <> 0) t
         ORDER BY cosine DESC, vec_id LIMIT 10""")),

    // --- two-stage quantized retrieval: int8-code integer scoring prunes
    //     to 50 candidates, exact float cosine reranks to top 10 (the
    //     IVF-PQ serving shape; both cuts deterministic via 6-dp scores +
    //     id tie-break, so the oracle replays the candidate SET) ---
    Op("q_ann_quantized", (s, dir) =>
      m(dir, "embeddings")
        .native(df => graft.llm.Embeddings.quantizedRerankTopK(
          df, "vec_id", "embedding", queryId = 0L, candidates = 50, k = 10))
        .sort(col("cosine"), dir = "desc").sort(col("vec_id"))
        .run(s),
      // Two-stage quantized retrieval: replays quantize8 (same floor(x*s+0.5)
      // codes), the integer code dot (exact in double), the same score
      // association (dot / (sa*sq) / (na*nq), 6dp), and both (score DESC, id)
      // cuts — candidate SET and final ranking match bit-for-bit.
      (s"""WITH qz AS (
           SELECT vec_id, embedding,
             127.0 / list_reduce(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
                                 (a, b) -> greatest(a, b)) AS scale,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) *
                      (127.0 / list_reduce(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))),
                                           (a, b) -> greatest(a, b))) + 0.5) AS INT)) AS q
           FROM embeddings),
         qq AS (SELECT scale AS qs, q AS qc, embedding AS qe FROM qz WHERE vec_id = 0),
         cand AS (
           SELECT z.vec_id, z.embedding, qq.qe,
                  round((${dotSql("z.q", "qq.qc")}) / (z.scale * qq.qs) /
                        (sqrt(${dotSql("z.embedding", "z.embedding")}) *
                         sqrt(${dotSql("qq.qe", "qq.qe")})), 6) AS cosine_q8
           FROM qz z, qq WHERE z.vec_id <> 0
           ORDER BY cosine_q8 DESC, z.vec_id LIMIT 50)
         SELECT vec_id, cosine_q8,
                round((${dotSql("embedding", "qe")}) /
                      (sqrt(${dotSql("embedding", "embedding")}) *
                       sqrt(${dotSql("qe", "qe")})), 6) AS cosine
         FROM cand ORDER BY cosine DESC, vec_id LIMIT 10""")),

    // --- margin-based bitext mining (CCMatrix pairing rule): label
    //     halves as the two "languages", sign-LSH bucket equi-join as
    //     the candidate generator (never A×B), hub-normalized margins,
    //     per-A best partner above threshold ---
    Op("q_bitext_mine", (s, dir) =>
      m(dir, "embeddings")
        .native(df => graft.llm.Embeddings.bitextMine(df, "vec_id", "embedding",
          sideAPred = org.apache.spark.sql.functions.col("label") < 5,
          bits = 4, k = 4, minMargin = 1.0))
        .sort(col("a_id"))
        .run(s),
      // Bitext margins: same bucket equi-join, 6-dp cosines, decimal
      // (order-free) top-k averages over actual candidate counts, identical
      // double margin expression, (margin desc, b_id) pick.
      (s"""WITH e AS (
           SELECT vec_id, label, embedding, $BktSql AS bkt,
                  sqrt(${dotSql("embedding", "embedding")}) AS nn
           FROM embeddings),
         a AS (SELECT vec_id AS a_id, embedding AS av, bkt, nn AS an
               FROM e WHERE label < 5),
         b AS (SELECT vec_id AS b_id, embedding AS bv, bkt, nn AS bn
               FROM e WHERE label >= 5),
         $BitextMarginCtes
         SELECT a_id, b_id, cosine, margin FROM (
           SELECT mg.*, row_number() OVER
             (PARTITION BY a_id ORDER BY margin DESC, b_id) AS pick
           FROM mg) f
         WHERE pick = 1 AND margin > 1.0 ORDER BY a_id""")),

    // --- bitext mining with the quadratic guard engaged: per-(bucket,
    //     side) lowest-id cap bounds candidate pairs at 2^bits×cap²
    //     regardless of corpus size (ScaleCheck: the uncapped 4-bit join
    //     grew 18× at 10× data; this one stays linear) ---
    Op("q_bitext_capped", (s, dir) =>
      m(dir, "embeddings")
        .native(df => graft.llm.Embeddings.bitextMine(df, "vec_id", "embedding",
          sideAPred = org.apache.spark.sql.functions.col("label") < 5,
          bits = 4, k = 4, minMargin = 1.0, maxPerBucketSide = 24))
        .sort(col("a_id"))
        .run(s),
      // Capped bitext margins: same pipeline with the per-(bucket, side)
      // lowest-id row_number cap replayed in both a and b CTEs.
      (s"""WITH e AS (
           SELECT vec_id, label, embedding, $BktSql AS bkt,
                  sqrt(${dotSql("embedding", "embedding")}) AS nn
           FROM embeddings),
         a0 AS (SELECT vec_id AS a_id, embedding AS av, bkt, nn AS an
                FROM e WHERE label < 5),
         a AS (SELECT a_id, av, bkt, an FROM (
                 SELECT a0.*, row_number() OVER
                   (PARTITION BY bkt ORDER BY a_id) AS br FROM a0) t
               WHERE br <= 24),
         b0 AS (SELECT vec_id AS b_id, embedding AS bv, bkt, nn AS bn
                FROM e WHERE label >= 5),
         b AS (SELECT b_id, bv, bkt, bn FROM (
                 SELECT b0.*, row_number() OVER
                   (PARTITION BY bkt ORDER BY b_id) AS br FROM b0) t
               WHERE br <= 24),
         $BitextMarginCtes
         SELECT a_id, b_id, cosine, margin FROM (
           SELECT mg.*, row_number() OVER
             (PARTITION BY a_id ORDER BY margin DESC, b_id) AS pick
           FROM mg) f
         WHERE pick = 1 AND margin > 1.0 ORDER BY a_id""")),

    // --- bitext mining with AUTO-SCALED bucket bits: bits =
    //     max(4, ceil(log2(n / 50))) derived from one corpus count —
    //     SCALE.md's "scale bits with log2(n)" rule as code, so a 10×
    //     corpus gets wider buckets with NO manual knob change; the
    //     per-(bucket, side) cap stays on as the skew backstop ---
    Op("q_bitext_auto", (s, dir) =>
      m(dir, "embeddings")
        .native(df => graft.llm.Embeddings.bitextMineAuto(df, "vec_id",
          "embedding",
          sideAPred = org.apache.spark.sql.functions.col("label") < 5,
          targetBucketSize = 50, k = 4, minMargin = 1.0,
          maxPerBucketSide = 24))
        .sort(col("a_id"))
        .run(s),
      // Auto-bits bitext: the capped pipeline with the bucket width from
      // the integer count rule (target 50) instead of a hardcoded 4.
      (s"""WITH ${nbCte(50, 4, 24)},
         e AS (
           SELECT vec_id, label, embedding, $BktAutoSql AS bkt,
                  sqrt(${dotSql("embedding", "embedding")}) AS nn
           FROM embeddings, nb),
         a0 AS (SELECT vec_id AS a_id, embedding AS av, bkt, nn AS an
                FROM e WHERE label < 5),
         a AS (SELECT a_id, av, bkt, an FROM (
                 SELECT a0.*, row_number() OVER
                   (PARTITION BY bkt ORDER BY a_id) AS br FROM a0) t
               WHERE br <= 24),
         b0 AS (SELECT vec_id AS b_id, embedding AS bv, bkt, nn AS bn
                FROM e WHERE label >= 5),
         b AS (SELECT b_id, bv, bkt, bn FROM (
                 SELECT b0.*, row_number() OVER
                   (PARTITION BY bkt ORDER BY b_id) AS br FROM b0) t
               WHERE br <= 24),
         $BitextMarginCtes
         SELECT a_id, b_id, cosine, margin FROM (
           SELECT mg.*, row_number() OVER
             (PARTITION BY a_id ORDER BY margin DESC, b_id) AS pick
           FROM mg) f
         WHERE pick = 1 AND margin > 1.0 ORDER BY a_id""")),

    // --- random-projection (JL) ANN: deterministic ±1 md5 sign matrix
    //     frozen as a plan literal projects 64-dim vectors to 16 dims;
    //     shortlist of 50 by projected cosine, exact-cosine rerank to 10.
    //     The index-free serving path: no training, no build, candidate
    //     scan touches dims/d of the data. ---
    Op("q_ann_rp", (s, dir) =>
      m(dir, "embeddings")
        .native(df => graft.llm.Embeddings.rpTopK(df, "vec_id", "embedding",
          queryId = 0L, d = 64, dims = 16, seed = 7, candidates = 50, k = 10))
        .sort(col("cosine"), dir = "desc").sort(col("vec_id"))
        .run(s),
      // JL random projection: the ±1 sign matrix replays via the same
      // md5-parity formula (bit-exact projection — same element order, same
      // double ops), both cuts via (6-dp score, vec_id) — so candidate SET
      // and rerank match exactly.
      (s"""WITH p AS (
           SELECT vec_id, embedding,
                  list_transform(range(0, 16), j ->
                    list_reduce(list_transform(range(1, 65), i ->
                      CAST(embedding[i] AS DOUBLE) *
                      (CASE WHEN CAST(concat('0x', substr(md5(concat('rp:7:', i, ':', j)), 1, 8)) AS BIGINT) % 2 = 0
                            THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END)),
                      (x, y) -> x + y)) AS pv
           FROM embeddings),
         q AS (SELECT embedding AS qv, pv AS qp,
                      sqrt(${dotSql("embedding", "embedding")}) AS qn,
                      sqrt(${dotSql("pv", "pv")}) AS qpn
               FROM p WHERE vec_id = 0),
         cand AS (
           SELECT p.vec_id, p.embedding,
                  round(${dotSql("p.pv", "q.qp")}
                        / (sqrt(${dotSql("p.pv", "p.pv")}) * q.qpn), 6) AS cosine_rp,
                  q.qv, q.qn
           FROM p, q WHERE p.vec_id <> 0
           ORDER BY cosine_rp DESC, p.vec_id LIMIT 50)
         SELECT vec_id, cosine_rp,
                round(${dotSql("embedding", "qv")}
                      / (sqrt(${dotSql("embedding", "embedding")}) * qn), 6) AS cosine
         FROM cand ORDER BY cosine DESC, vec_id LIMIT 10""")),

    // --- bucketed ANN: per-query top-k via sign-LSH bucket equi-join ---
    Op("q_ann_lsh", (s, dir) =>
      m(dir, "embeddings")
        .native(df => graft.llm.Embeddings.lshTopK(df, "vec_id", "embedding",
          queryPred = org.apache.spark.sql.functions.col("vec_id") < 5,
          bits = 4, k = 3))
        .sort(col("query_id")).sort(col("rank"))
        .run(s),
      (s"""WITH bkt AS (
           SELECT vec_id, embedding, $BktSql AS bkt FROM embeddings
         ), scored AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  round(${cosSql("q.embedding", "c.embedding")}, 6) AS cosine
           FROM bkt q JOIN bkt c ON q.bkt = c.bkt AND c.vec_id <> q.vec_id
           WHERE q.vec_id < 5
         ), ranked AS (
           SELECT query_id, neighbor_id, cosine,
                  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
           FROM scored
         )
         SELECT query_id, neighbor_id, cosine, rank FROM ranked
         WHERE rank <= 3 ORDER BY query_id, rank""")),

    // --- HARD-NEGATIVE mining (contrastive/dense-retrieval training
    //     data): per anchor, top-3 same-LSH-bucket vectors with cosine
    //     in the hard band [0.05, 0.25) — the floor drops easy
    //     negatives, the ceiling drops near-positives (both edges bite
    //     on this corpus: in-bucket cosines reach 0.33) ---
    Op("q_hard_negatives", (s, dir) =>
      m(dir, "embeddings")
        .native(df => graft.llm.Embeddings.hardNegatives(df, "vec_id",
          "embedding",
          anchorPred = org.apache.spark.sql.functions.col("vec_id") < 5,
          bits = 4, k = 3, bandLo = 0.05, bandHi = 0.25))
        .sort(col("anchor_id")).sort(col("rank"))
        .run(s),
      // Hard-negative mining: the LSH bucket join with the hard-band
      // filter applied BEFORE ranking (floor drops easy negatives,
      // ceiling drops near-positives), then per-anchor row_number
      (s"""WITH bkt AS (
           SELECT vec_id, embedding, $BktSql AS bkt FROM embeddings
         ), scored AS (
           SELECT q.vec_id AS anchor_id, c.vec_id AS negative_id,
                  round(${cosSql("q.embedding", "c.embedding")}, 6) AS cosine
           FROM bkt q JOIN bkt c ON q.bkt = c.bkt AND c.vec_id <> q.vec_id
           WHERE q.vec_id < 5
         ), banded AS (
           SELECT * FROM scored WHERE cosine >= 0.05 AND cosine < 0.25
         ), ranked AS (
           SELECT anchor_id, negative_id, cosine,
                  CAST(row_number() OVER (PARTITION BY anchor_id ORDER BY cosine DESC, negative_id) AS INT) AS rank
           FROM banded
         )
         SELECT anchor_id, negative_id, cosine, rank FROM ranked
         WHERE rank <= 3 ORDER BY anchor_id, rank""")),

    // --- hard-negative mining with AUTO-SCALED bits: fixed bits grow
    //     per-anchor candidates linearly with the corpus (quadratic when
    //     anchors scale too — the bitextMine lesson); the log2 rule
    //     keeps bucket population flat with no manual knob ---
    Op("q_hard_negatives_auto", (s, dir) =>
      m(dir, "embeddings")
        .native(df => graft.llm.Embeddings.hardNegativesAuto(df, "vec_id",
          "embedding",
          anchorPred = org.apache.spark.sql.functions.col("vec_id") < 5,
          targetBucketSize = 50L, k = 3, bandLo = 0.05, bandHi = 0.25))
        .sort(col("anchor_id")).sort(col("rank"))
        .run(s),
      // Auto-bits hard negatives: the same banded plan with the bucket
      // width from the corpus count via the integer log2 rule
      (s"""WITH ${nbCte(50, 4, 24)},
         bkt AS (
           SELECT vec_id, embedding, $BktAutoSql AS bkt FROM embeddings, nb
         ), scored AS (
           SELECT q.vec_id AS anchor_id, c.vec_id AS negative_id,
                  round(${cosSql("q.embedding", "c.embedding")}, 6) AS cosine
           FROM bkt q JOIN bkt c ON q.bkt = c.bkt AND c.vec_id <> q.vec_id
           WHERE q.vec_id < 5
         ), banded AS (
           SELECT * FROM scored WHERE cosine >= 0.05 AND cosine < 0.25
         ), ranked AS (
           SELECT anchor_id, negative_id, cosine,
                  CAST(row_number() OVER (PARTITION BY anchor_id ORDER BY cosine DESC, negative_id) AS INT) AS rank
           FROM banded
         )
         SELECT anchor_id, negative_id, cosine, rank FROM ranked
         WHERE rank <= 3 ORDER BY anchor_id, rank""")),

    // --- bucketed ANN with AUTO-SCALED bits (the q_ann_lsh plan, bucket
    //     width from the corpus count via the integer log2 rule) ---
    Op("q_ann_lsh_auto", (s, dir) =>
      m(dir, "embeddings")
        .native(df => graft.llm.Embeddings.lshTopKAuto(df, "vec_id",
          "embedding",
          queryPred = org.apache.spark.sql.functions.col("vec_id") < 5,
          targetBucketSize = 50, k = 3))
        .sort(col("query_id")).sort(col("rank"))
        .run(s),
      // Auto-bits LSH: same plan with the bucket width computed by the
      // integer ceil-div + bit-length rule over count(*) (target 50).
      (s"""WITH ${nbCte(50, 4, 24)},
         bkt AS (
           SELECT vec_id, embedding, $BktAutoSql AS bkt FROM embeddings, nb
         ), scored AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  round(${cosSql("q.embedding", "c.embedding")}, 6) AS cosine
           FROM bkt q JOIN bkt c ON q.bkt = c.bkt AND c.vec_id <> q.vec_id
           WHERE q.vec_id < 5
         ), ranked AS (
           SELECT query_id, neighbor_id, cosine,
                  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
           FROM scored
         )
         SELECT query_id, neighbor_id, cosine, rank FROM ranked
         WHERE rank <= 3 ORDER BY query_id, rank""")),

    // --- TRAINED IVF: 2 Lloyd's iterations (deterministic, decimal-exact
    //     means) then serve top-k from the fitted cells. k ~ sqrt(n) keeps
    //     per-probe serving cost O(sqrt n) — a fixed k would make every
    //     probe linearly heavier as the corpus grows ---
    Op("q_ann_ivf_trained", (s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          val cents = graft.llm.Embeddings.kmeansFitSqrtK(
            df, "vec_id", "embedding", iters = 2)
          graft.llm.Embeddings.ivfTopKTrained(df, "vec_id", "embedding", cents,
            queryPred = F.col("vec_id") < 3, k = 5)
        }
        .sort(col("query_id")).sort(col("rank"))
        .run(s),
      (KmeansCtes + s"""
         SELECT query_id, neighbor_id, cosine, rank FROM (
           SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                  round((${dotSql("q.embedding", "n.embedding")}) /
                        (sqrt(${dotSql("n.embedding", "n.embedding")}) *
                         sqrt(${dotSql("q.embedding", "q.embedding")})), 6) AS cosine,
                  row_number() OVER (PARTITION BY q.vec_id ORDER BY
                    round((${dotSql("q.embedding", "n.embedding")}) /
                          (sqrt(${dotSql("n.embedding", "n.embedding")}) *
                           sqrt(${dotSql("q.embedding", "q.embedding")})), 6) DESC,
                    n.vec_id) AS rank
           FROM sf q JOIN sf n ON q.cell = n.cell AND n.vec_id <> q.vec_id
           WHERE q.vec_id < 3) t
         WHERE rank <= 5 ORDER BY query_id, rank""")),

    // --- SAMPLE-TRAINED IVF (the FAISS train/add split): the quantizer
    //     fits on the deterministic 25% hashSample kept set (seeds = the
    //     8 smallest kept ids), then the FULL corpus assigns and serves —
    //     at 100 TB the fit is the last linear-in-corpus ANN cost, and
    //     k-means needs only a bounded sample to estimate k means ---
    Op("q_ann_ivf_sampled_fit", (s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          val cents = graft.llm.Embeddings.kmeansFitSampled(
            df, "vec_id", "embedding", k = 8, iters = 2, samplePct = 25.0)
          graft.llm.Embeddings.ivfTopKTrained(df, "vec_id", "embedding",
            cents, queryPred = F.col("vec_id") < 3, k = 5)
        }
        .sort(col("query_id")).sort(col("rank"))
        .run(s),
      // sampled fit: the 25% md5-cutoff kept set trains the chain (seeds =
      // the 8 smallest kept ids), the FULL corpus assigns against c2 and
      // serves — same tail as q_ann_ivf_trained
      (s"""WITH samp AS MATERIALIZED (
           SELECT vec_id, embedding FROM embeddings
           WHERE CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
                 AS BIGINT) < 1073741824
         ), ${kmeansChain(
             "vec_id <= (SELECT max(vec_id) FROM (SELECT vec_id FROM samp ORDER BY vec_id LIMIT 8) s)",
             "samp", "", EmbDim)},
         af2 AS (
           SELECT e.vec_id, e.embedding, cc.cid,
                  row_number() OVER (PARTITION BY e.vec_id ORDER BY
                    round((${dotSql("e.embedding", "cc.cv")}) /
                          (sqrt(${dotSql("e.embedding", "e.embedding")}) *
                           sqrt(${dotSql("cc.cv", "cc.cv")})), 6)
                      DESC NULLS LAST,
                    cc.cid) AS rn
           FROM embeddings e CROSS JOIN c2 cc
         ), sf2 AS (SELECT vec_id, embedding, cid AS cell FROM af2 WHERE rn = 1)
         SELECT query_id, neighbor_id, cosine, rank FROM (
           SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                  round((${dotSql("q.embedding", "n.embedding")}) /
                        (sqrt(${dotSql("n.embedding", "n.embedding")}) *
                         sqrt(${dotSql("q.embedding", "q.embedding")})), 6) AS cosine,
                  row_number() OVER (PARTITION BY q.vec_id ORDER BY
                    round((${dotSql("q.embedding", "n.embedding")}) /
                          (sqrt(${dotSql("n.embedding", "n.embedding")}) *
                           sqrt(${dotSql("q.embedding", "q.embedding")})), 6) DESC,
                    n.vec_id) AS rank
           FROM sf2 q JOIN sf2 n ON q.cell = n.cell AND n.vec_id <> q.vec_id
           WHERE q.vec_id < 3) t
         WHERE rank <= 5 ORDER BY query_id, rank""")),

    // --- PERSISTED IVF index serving: same fit, corpus assignment paid
    //     once at ingest (bucketed postings on __cell__), queries assign
    //     only themselves — values identical to the inline trained path
    //     (shared oracle by reference) ---
    Op("q_ann_ivf_indexed", (s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          // memoized two-part fixture (centroids + bucketed postings):
          // ingest pays fit + assignment once; the timed body is serving
          val (idxDir, tbl) = ivfIndex(s, dir)
          graft.llm.Embeddings.ivfTopKIndexed(
            df.where(F.col("vec_id") < 3), "vec_id", "embedding",
            idxDir, df.sparkSession.table(tbl), k = 5)
        }
        .sort(col("query_id")).sort(col("rank"))
        .run(s),
      // persisted-IVF serving is value-identical to the inline trained
      // path (same centroids, same deterministic assignment, shared tail)
      Op.oracleOf("q_ann_ivf_trained")),

    // --- FILTERED vector search (the production "top-k among docs that
    //     pass an attribute predicate" shape — license-clean, my
    //     language, source tier): the label attribute is denormalized
    //     onto the postings at ingest, the predicate applies AT THE
    //     POSTINGS SCAN (parquet pushdown — no corpus-side join), and
    //     candidates rank after filtering ---
    Op("q_ann_ivf_filtered", (s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          val (idxDir, tbl) = ivfIndex(s, dir, attrs = Seq("label"))
          // a RANGE predicate (not arithmetic) so it reaches the parquet
          // reader as a pushed filter, not just a post-scan filter
          graft.llm.Embeddings.ivfTopKIndexed(
            df.where(F.col("vec_id") < 3), "vec_id", "embedding",
            idxDir, df.sparkSession.table(tbl), k = 5,
            filter = Some(F.col("label") < 5))
        }
        .sort(col("query_id")).sort(col("rank"))
        .run(s),
      // filtered search: the label predicate applies to the candidate set
      // BEFORE ranking (WHERE precedes the window), replaying the
      // postings-scan filter
      (KmeansCtes + s"""
         SELECT query_id, neighbor_id, cosine, rank FROM (
           SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                  round((${dotSql("q.embedding", "n.embedding")}) /
                        (sqrt(${dotSql("n.embedding", "n.embedding")}) *
                         sqrt(${dotSql("q.embedding", "q.embedding")})), 6) AS cosine,
                  row_number() OVER (PARTITION BY q.vec_id ORDER BY
                    round((${dotSql("q.embedding", "n.embedding")}) /
                          (sqrt(${dotSql("n.embedding", "n.embedding")}) *
                           sqrt(${dotSql("q.embedding", "q.embedding")})), 6) DESC,
                    n.vec_id) AS rank
           FROM sf q JOIN sf n ON q.cell = n.cell AND n.vec_id <> q.vec_id
                     JOIN embeddings e ON e.vec_id = n.vec_id
           WHERE q.vec_id < 3 AND e.label < 5) t
         WHERE rank <= 5 ORDER BY query_id, rank""")),

    // --- kNN LABEL PROPAGATION: transfer the labeled corpus's labels
    //     onto query vectors as the MAJORITY label of the 5 nearest
    //     neighbors (exact cosine over the probed cells of the persisted
    //     IVF index; the label is a denormalized postings attribute, so
    //     it rides the top-k rows — zero label-side joins, and the vote
    //     aggregates queries × k rows, never the corpus) ---
    Op("q_knn_label", (s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          val (idxDir, tbl) = ivfIndex(s, dir, attrs = Seq("label"))
          graft.llm.Embeddings.knnLabelIndexed(
            df.where(F.col("vec_id") < 20), "vec_id", "embedding",
            idxDir, df.sparkSession.table(tbl), "label", k = 5, nprobe = 2)
        }
        .sort(col("query_id"))
        .run(s),
      // kNN label propagation: the q_ann_ivf_probe top-k replay (nprobe=2,
      // k=5, posting-norm-first denominator) joined to the corpus labels,
      // then the majority vote with the (votes desc, label) tie-break
      (KmeansCtes + s""",
         qc AS (
           SELECT q.vec_id AS query_id, q.embedding AS qe, cc.cid AS cell,
                  row_number() OVER (PARTITION BY q.vec_id ORDER BY
                    round((${dotSql("q.embedding", "cc.cv")}) /
                          (sqrt(${dotSql("q.embedding", "q.embedding")}) *
                           sqrt(${dotSql("cc.cv", "cc.cv")})), 6) DESC,
                    cc.cid) AS crk
           FROM embeddings q CROSS JOIN c2 cc WHERE q.vec_id < 20),
         topk AS (
           SELECT query_id, neighbor_id, label FROM (
             SELECT qc.query_id, n.vec_id AS neighbor_id, e.label,
                    row_number() OVER (PARTITION BY qc.query_id ORDER BY
                      round((${dotSql("qc.qe", "n.embedding")}) /
                            (sqrt(${dotSql("n.embedding", "n.embedding")}) *
                             sqrt(${dotSql("qc.qe", "qc.qe")})), 6) DESC,
                      n.vec_id) AS rank
             FROM qc JOIN sf n ON n.cell = qc.cell AND n.vec_id <> qc.query_id
                  JOIN embeddings e ON e.vec_id = n.vec_id
             WHERE qc.crk <= 2) t
           WHERE rank <= 5)
         SELECT query_id, label, votes FROM (
           SELECT query_id, label, count(*) AS votes,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY count(*) DESC, label) AS vr
           FROM topk GROUP BY query_id, label) t
         WHERE vr = 1 ORDER BY query_id""")),

    // --- kNN SCORE REGRESSION: the label op's numeric twin — each query
    //     predicts the cosine-weighted mean of its 5 nearest neighbors'
    //     values (exact decimal sums of 6-dp-rounded terms on both
    //     engines, zero-weight-sum guarded to NULL on both) ---
    Op("q_knn_score", (s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          val (idxDir, tbl) = ivfIndex(s, dir, attrs = Seq("label"))
          graft.llm.Embeddings.knnScoreIndexed(
            df.where(F.col("vec_id") < 20), "vec_id", "embedding",
            idxDir, df.sparkSession.table(tbl), "label", k = 5, nprobe = 2)
        }
        .sort(col("query_id"))
        .run(s),
      // kNN score regression: the label-propagation top-5 replay carrying
      // the cosine, then the weighted mean as exact decimal sums of
      // 6-dp-rounded terms (order-independent) with the zero-denominator
      // guard mirrored
      (KmeansCtes + s""",
         qc AS (
           SELECT q.vec_id AS query_id, q.embedding AS qe, cc.cid AS cell,
                  row_number() OVER (PARTITION BY q.vec_id ORDER BY
                    round((${dotSql("q.embedding", "cc.cv")}) /
                          (sqrt(${dotSql("q.embedding", "q.embedding")}) *
                           sqrt(${dotSql("cc.cv", "cc.cv")})), 6) DESC,
                    cc.cid) AS crk
           FROM embeddings q CROSS JOIN c2 cc WHERE q.vec_id < 20),
         ktop AS (
           SELECT query_id, label, cosine FROM (
             SELECT qc.query_id, e.label,
                    round((${dotSql("qc.qe", "n.embedding")}) /
                          (sqrt(${dotSql("n.embedding", "n.embedding")}) *
                           sqrt(${dotSql("qc.qe", "qc.qe")})), 6) AS cosine,
                    row_number() OVER (PARTITION BY qc.query_id ORDER BY
                      round((${dotSql("qc.qe", "n.embedding")}) /
                            (sqrt(${dotSql("n.embedding", "n.embedding")}) *
                             sqrt(${dotSql("qc.qe", "qc.qe")})), 6) DESC,
                      n.vec_id) AS rank
             FROM qc JOIN sf n ON n.cell = qc.cell AND n.vec_id <> qc.query_id
                  JOIN embeddings e ON e.vec_id = n.vec_id
             WHERE qc.crk <= 2) t
           WHERE rank <= 5)
         SELECT query_id,
                CASE WHEN CAST(sum(CAST(cosine AS DECIMAL(27,8))) AS DOUBLE) = 0
                     THEN NULL
                     ELSE round(
                       CAST(sum(CAST(round(cosine * CAST(label AS DOUBLE), 6)
                           AS DECIMAL(27,8))) AS DOUBLE) /
                       CAST(sum(CAST(cosine AS DECIMAL(27,8))) AS DOUBLE), 6)
                END AS pred,
                count(*) AS k_used
         FROM ktop GROUP BY query_id ORDER BY query_id""")),

    // --- INCREMENTAL embedding near-dup ADMISSION vs the persisted IVF
    //     index (semantic-dedup twin of q_dedup_incremental): the new
    //     slice is 50 exact re-submissions under fresh ids — each must
    //     flag its original at cosine 1.0 through the honest
    //     assign-probe-verify path (corpus geometry is near-orthogonal,
    //     so 0.8 admits nothing else) ---
    Op("q_ann_ivf_admit", (s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          val (idxDir, tbl) = ivfIndex(s, dir)
          graft.llm.Embeddings.ivfNearDupJoinIndexed(
            df.where(F.col("vec_id") < 50)
              .select((F.col("vec_id") + 10000).as("vec_id"),
                F.col("embedding")),
            "vec_id", "embedding", idxDir, df.sparkSession.table(tbl),
            threshold = 0.8)
        }
        .sort(col("left_id")).sort(col("right_id"))
        .run(s),
      // embedding admission: assign the re-submitted slice to its frozen
      // cell (same argmax replay as serving), join the cell's postings,
      // exact cosine >= threshold
      (KmeansCtes + s""",
         nf AS (
           SELECT vec_id + 10000 AS qid, embedding AS qe, cid AS qcell
           FROM (
             SELECT e.vec_id, e.embedding, cc.cid,
                    row_number() OVER (PARTITION BY e.vec_id ORDER BY
                      round((${dotSql("e.embedding", "cc.cv")}) /
                            (sqrt(${dotSql("e.embedding", "e.embedding")}) *
                             sqrt(${dotSql("cc.cv", "cc.cv")})), 6)
                        DESC NULLS LAST,
                      cc.cid) AS rn
             FROM embeddings e CROSS JOIN c2 cc WHERE e.vec_id < 50) t
           WHERE rn = 1)
         SELECT left_id, right_id, cosine FROM (
           SELECT nf.qid AS left_id, n.vec_id AS right_id,
                  round((${dotSql("n.embedding", "nf.qe")}) /
                        (sqrt(${dotSql("n.embedding", "n.embedding")}) *
                         sqrt(${dotSql("nf.qe", "nf.qe")})), 6) AS cosine
           FROM nf JOIN sf n ON nf.qcell = n.cell) t
         WHERE cosine >= 0.8 ORDER BY left_id, right_id""")),

    // --- STREAMING embedding admission backfill: the stream-static
    //     assign-probe-verify + re-sent suppression state, run as one
    //     batch — values must equal the batch indexed admission
    //     (shared oracle by reference) ---
    Op("q_stream_ivf_neardup", (s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          val (idxDir, tbl) = ivfIndex(s, dir)
          graft.streaming.Streams.streamingIvfNearDup(
            df.where(F.col("vec_id") < 50)
              .select((F.col("vec_id") + 10000).as("vec_id"),
                F.col("embedding")),
            "vec_id", "embedding", idxDir, df.sparkSession.table(tbl),
            threshold = 0.8)
        }
        .sort(col("left_id")).sort(col("right_id"))
        .run(s),
      // streaming embedding admission backfill ≡ the batch indexed
      // admission — same pairs, same oracle
      Op.oracleOf("q_ann_ivf_admit")),

    // --- STREAMING kNN label propagation: arriving vectors take the
    //     majority label of their 5 nearest in the persisted
    //     label-attributed IVF index — the top-k cut is the k-bounded
    //     topk_by aggregate (windows are unsupported on streams), the
    //     vote a projection over the k-element array ---
    Op("q_stream_knn_label", (s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          val (idxDir, tbl) = ivfIndex(s, dir, attrs = Seq("label"))
          graft.streaming.Streams.streamingKnnLabel(
            df.where(F.col("vec_id") < 20)
              .select((F.col("vec_id") + 10000).as("vec_id"),
                F.col("embedding")),
            "vec_id", "embedding", idxDir, df.sparkSession.table(tbl),
            "label", k = 5)
        }
        .sort(col("vec_id"))
        .run(s),
      // streaming kNN labels: assign the re-submitted slice to its frozen
      // cell (the q_ann_ivf_admit replay), top-5 within the cell (the
      // window formulation the topk_by aggregate is value-pinned to),
      // majority vote with the (votes desc, label) tie-break
      (KmeansCtes + s""",
         nf AS (
           SELECT vec_id + 10000 AS qid, embedding AS qe, cid AS qcell
           FROM (
             SELECT e.vec_id, e.embedding, cc.cid,
                    row_number() OVER (PARTITION BY e.vec_id ORDER BY
                      round((${dotSql("e.embedding", "cc.cv")}) /
                            (sqrt(${dotSql("e.embedding", "e.embedding")}) *
                             sqrt(${dotSql("cc.cv", "cc.cv")})), 6)
                        DESC NULLS LAST,
                      cc.cid) AS rn
             FROM embeddings e CROSS JOIN c2 cc WHERE e.vec_id < 20) t
           WHERE rn = 1),
         stopk AS (
           SELECT qid, neighbor_id, label FROM (
             SELECT nf.qid, n.vec_id AS neighbor_id, e.label,
                    row_number() OVER (PARTITION BY nf.qid ORDER BY
                      round((${dotSql("nf.qe", "n.embedding")}) /
                            (sqrt(${dotSql("n.embedding", "n.embedding")}) *
                             sqrt(${dotSql("nf.qe", "nf.qe")})), 6) DESC,
                      n.vec_id) AS rank
             FROM nf JOIN sf n ON n.cell = nf.qcell AND n.vec_id <> nf.qid
                  JOIN embeddings e ON e.vec_id = n.vec_id) t
           WHERE rank <= 5)
         SELECT vec_id, label, votes FROM (
           SELECT qid AS vec_id, label, count(*) AS votes,
                  row_number() OVER (PARTITION BY qid
                                     ORDER BY count(*) DESC, label) AS vr
           FROM stopk GROUP BY qid, label) t
         WHERE vr = 1 ORDER BY vec_id""")),

    // --- nprobe=2: each query searches its TWO best cells (the IVF
    //     recall knob; probing expands only the tiny query side) ---
    Op("q_ann_ivf_probe", (s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          val cents = graft.llm.Embeddings.kmeansFitSqrtK(
            df, "vec_id", "embedding", iters = 2)
          graft.llm.Embeddings.ivfTopKTrained(df, "vec_id", "embedding", cents,
            queryPred = F.col("vec_id") < 3, k = 5, nprobe = 2)
        }
        .sort(col("query_id")).sort(col("rank"))
        .run(s),
      (KmeansCtes + s""",
         qc AS (
           SELECT q.vec_id AS query_id, q.embedding AS qe, cc.cid AS cell,
                  row_number() OVER (PARTITION BY q.vec_id ORDER BY
                    round((${dotSql("q.embedding", "cc.cv")}) /
                          (sqrt(${dotSql("q.embedding", "q.embedding")}) *
                           sqrt(${dotSql("cc.cv", "cc.cv")})), 6) DESC,
                    cc.cid) AS crk
           FROM embeddings q CROSS JOIN c2 cc WHERE q.vec_id < 3)
         SELECT query_id, neighbor_id, cosine, rank FROM (
           SELECT qc.query_id, n.vec_id AS neighbor_id,
                  round((${dotSql("qc.qe", "n.embedding")}) /
                        (sqrt(${dotSql("n.embedding", "n.embedding")}) *
                         sqrt(${dotSql("qc.qe", "qc.qe")})), 6) AS cosine,
                  row_number() OVER (PARTITION BY qc.query_id ORDER BY
                    round((${dotSql("qc.qe", "n.embedding")}) /
                          (sqrt(${dotSql("n.embedding", "n.embedding")}) *
                           sqrt(${dotSql("qc.qe", "qc.qe")})), 6) DESC,
                    n.vec_id) AS rank
           FROM qc JOIN sf n ON n.cell = qc.cell AND n.vec_id <> qc.query_id
           WHERE qc.crk <= 2) t
         WHERE rank <= 5 ORDER BY query_id, rank""")),

    // --- IVF maintenance dashboard: per-cell posting population +
    //     exact-integer load share over the persisted index — the
    //     hot-cell detector feeding ivfHotCellSplit. Zero-shuffle
    //     aggregate on the __cell__-bucketed postings ---
    Op("q_ivf_cell_profile", (s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          val (_, tbl) = ivfIndex(s, dir)
          graft.llm.Embeddings.ivfCellProfile(df.sparkSession.table(tbl))
        }
        .sort(col("cell"))
        .run(s),
      // cell profile: replay the fixture's fit + full assignment, count
      // per cell, integer load share from the aggregated counts
      (KmeansCtes + s""",
         prof AS MATERIALIZED (
           SELECT cell, count(*) AS n_postings FROM sf GROUP BY 1)
         SELECT cell, n_postings,
                CAST((n_postings * 1000000)
                     // (SELECT sum(n_postings) FROM prof) AS BIGINT)
                  AS load_ppm
         FROM prof ORDER BY cell""")),

    // --- STREAMING nprobe=2 serving, single-batch backfill: the
    //     window-free probe rank + topk_by + posexplode-after-aggregate
    //     pipeline over the persisted index — value-identical to the
    //     batch q_ann_ivf_probe (shared oracle by reference) ---
    Op("q_stream_ann_probe", (s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          val (idxDir, tbl) = ivfIndex(s, dir)
          graft.streaming.Streams.streamingIvfTopK(
            df.where(F.col("vec_id") < 3), "vec_id", "embedding",
            idxDir, df.sparkSession.table(tbl), k = 5, nprobe = 2)
        }
        .sort(col("query_id")).sort(col("rank"))
        .run(s),
      // streaming nprobe=2 serving backfill ≡ the batch probe query:
      // same fit (the persisted fixture replays kmeansFitSqrtK iters=2),
      // same probe ORDER (the window-free array_sort rank is spec-pinned
      // value-identical to the window), same topk_by tail
      Op.oracleOf("q_ann_ivf_probe")),

    // --- product quantization: per-segment Lloyd's codebooks (m=2) +
    //     asymmetric-distance top-k over the codes. The corpus side is
    //     scan-shaped (assignment pass + broadcast lookup-table join per
    //     segment); segment partials combine in fixed segment order so
    //     the float fold is deterministic ---
    Op("q_ann_pq", (s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          val cb = graft.llm.Embeddings.pqCodebooks(df, "vec_id", "embedding",
            dim = 64, m = 2, initPred = F.col("vec_id") < 4, iters = 2)
          graft.llm.Embeddings.pqTopK(df, "vec_id", "embedding", cb,
            dim = 64, m = 2, queryId = 0L, k = 10)
        }
        .sort(col("rank"))
        .run(s),
      // PQ/ADC: one Lloyd's chain per 32-dim half-slice (suffixes p0/p1),
      // query lookup tables t0/t1, score = cosine against the RECONSTRUCTED
      // vector — (qd0+qd1) / (qn * sqrt(cn2_0+cn2_1)), 6dp, id tie-break.
      (s"""WITH RECURSIVE
         corpus0 AS (SELECT vec_id, embedding[1:32] AS embedding FROM embeddings),
         corpus1 AS (SELECT vec_id, embedding[33:64] AS embedding FROM embeddings),
         ${kmeansChain("vec_id < 4", "corpus0", "p0", 32)},
         ${kmeansChain("vec_id < 4", "corpus1", "p1", 32)},
         q AS (SELECT embedding AS qe,
                      sqrt(${dotSql("embedding", "embedding")}) AS qn
               FROM embeddings WHERE vec_id = 0),
         t0 AS (SELECT cid, ${dotSql("qe[1:32]", "cv")} AS qd,
                       ${dotSql("cv", "cv")} AS cn2 FROM c2p0, q),
         t1 AS (SELECT cid, ${dotSql("qe[33:64]", "cv")} AS qd,
                       ${dotSql("cv", "cv")} AS cn2 FROM c2p1, q)
         SELECT vec_id, score, rank FROM (
           SELECT s0.vec_id,
                  round((t0.qd + t1.qd) / (q.qn * sqrt(t0.cn2 + t1.cn2)), 6) AS score,
                  row_number() OVER (ORDER BY
                    round((t0.qd + t1.qd) / (q.qn * sqrt(t0.cn2 + t1.cn2)), 6) DESC,
                    s0.vec_id) AS rank
           FROM sfp0 s0 JOIN sfp1 s1 ON s0.vec_id = s1.vec_id
                JOIN t0 ON t0.cid = s0.cell JOIN t1 ON t1.cid = s1.cell
                CROSS JOIN q
           WHERE s0.vec_id <> 0) t
         WHERE rank <= 10 ORDER BY rank""")),

    // --- SAMPLE-TRAINED PQ (the codebook half of the train/add split):
    //     both segment codebooks fit on the same 25% hashSample kept set
    //     (seeds = the 4 smallest kept ids), the FULL corpus encodes and
    //     serves — q_ann_ivf_sampled_fit's discipline applied to PQ ---
    Op("q_ann_pq_sampled", (s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          val cb = graft.llm.Embeddings.pqCodebooksSampled(df, "vec_id",
            "embedding", dim = 64, m = 2, k = 4, iters = 2,
            samplePct = 25.0)
          graft.llm.Embeddings.pqTopK(df, "vec_id", "embedding", cb,
            dim = 64, m = 2, queryId = 0L, k = 10)
        }
        .sort(col("rank"))
        .run(s),
      // sampled PQ: segment chains train on the 25% kept set's slices
      // (seeds = 4 smallest kept ids, shared by both segments), the FULL
      // corpus re-assigns per segment against the fitted codebooks (the
      // af2 replay), then the q_ann_pq scoring tail
      (s"""WITH samp AS MATERIALIZED (
           SELECT vec_id, embedding FROM embeddings
           WHERE CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
                 AS BIGINT) < 1073741824
         ),
         samp0 AS (SELECT vec_id, embedding[1:32] AS embedding FROM samp),
         samp1 AS (SELECT vec_id, embedding[33:64] AS embedding FROM samp),
         corpus0 AS (SELECT vec_id, embedding[1:32] AS embedding FROM embeddings),
         corpus1 AS (SELECT vec_id, embedding[33:64] AS embedding FROM embeddings),
         ${kmeansChain(
             "vec_id <= (SELECT max(vec_id) FROM (SELECT vec_id FROM samp ORDER BY vec_id LIMIT 4) s)",
             "samp0", "p0", 32)},
         ${kmeansChain(
             "vec_id <= (SELECT max(vec_id) FROM (SELECT vec_id FROM samp ORDER BY vec_id LIMIT 4) s)",
             "samp1", "p1", 32)},
         a0 AS (
           SELECT e.vec_id, cc.cid,
                  row_number() OVER (PARTITION BY e.vec_id ORDER BY
                    round((${dotSql("e.embedding", "cc.cv")}) /
                          (sqrt(${dotSql("e.embedding", "e.embedding")}) *
                           sqrt(${dotSql("cc.cv", "cc.cv")})), 6)
                      DESC NULLS LAST, cc.cid) AS rn
           FROM corpus0 e CROSS JOIN c2p0 cc),
         f0 AS (SELECT vec_id, cid AS cell FROM a0 WHERE rn = 1),
         a1 AS (
           SELECT e.vec_id, cc.cid,
                  row_number() OVER (PARTITION BY e.vec_id ORDER BY
                    round((${dotSql("e.embedding", "cc.cv")}) /
                          (sqrt(${dotSql("e.embedding", "e.embedding")}) *
                           sqrt(${dotSql("cc.cv", "cc.cv")})), 6)
                      DESC NULLS LAST, cc.cid) AS rn
           FROM corpus1 e CROSS JOIN c2p1 cc),
         f1 AS (SELECT vec_id, cid AS cell FROM a1 WHERE rn = 1),
         q AS (SELECT embedding AS qe,
                      sqrt(${dotSql("embedding", "embedding")}) AS qn
               FROM embeddings WHERE vec_id = 0),
         t0 AS (SELECT cid, ${dotSql("qe[1:32]", "cv")} AS qd,
                       ${dotSql("cv", "cv")} AS cn2 FROM c2p0, q),
         t1 AS (SELECT cid, ${dotSql("qe[33:64]", "cv")} AS qd,
                       ${dotSql("cv", "cv")} AS cn2 FROM c2p1, q)
         SELECT vec_id, score, rank FROM (
           SELECT s0.vec_id,
                  round((t0.qd + t1.qd) / (q.qn * sqrt(t0.cn2 + t1.cn2)), 6) AS score,
                  row_number() OVER (ORDER BY
                    round((t0.qd + t1.qd) / (q.qn * sqrt(t0.cn2 + t1.cn2)), 6) DESC,
                    s0.vec_id) AS rank
           FROM f0 s0 JOIN f1 s1 ON s0.vec_id = s1.vec_id
                JOIN t0 ON t0.cid = s0.cell JOIN t1 ON t1.cid = s1.cell
                CROSS JOIN q
           WHERE s0.vec_id <> 0) t
         WHERE rank <= 10 ORDER BY rank""")),

    // --- OPQ (Ge et al. 2013): pair-block Jacobi rotation fit to zero
    //     each (t, t+32) cross-segment second moment, corpus + query
    //     rotated in one projection, PQ codebooks fit and ADC served in
    //     the rotated space. The rotation fit itself replays in the
    //     oracle (decimal moment sums + sqrt/division closed form — all
    //     correctly-rounded ops, one shared formula string). minAbsRho=0
    //     here so every pair rotates and the full formula chain is
    //     oracle-exercised; production serving keeps the 0.85 redundancy
    //     gate (RecallCheck documents why) ---
    Op("q_ann_opq", (s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          // serve through the PERSISTED rotation + codebooks (memoized
          // fixture — the fit is ingest-time work, like the other ANN
          // indexes); values ≡ the inline opqTopK fit+serve, spec-pinned
          val modelDir = Fixtures.dir("opqm2", dir) { p =>
            graft.llm.Embeddings.opqFitSave(df, "vec_id", "embedding",
              dim = 64, m = 2, initPred = F.col("vec_id") < 4, iters = 2,
              dir = p, minAbsRho = 0.0)
          }
          graft.llm.Embeddings.opqTopKWithModel(df, "vec_id", "embedding",
            modelDir, dim = 64, m = 2, queryId = 0L, k = 10)
        }
        .sort(col("rank"))
        .run(s),
      // OPQ: the pair-rotation FIT replays first (per-pair decimal moment
      // sums → the shared Jacobi ζ/t/(c,s) formula layers — verbatim the
      // strings the Spark lowering evaluates, so the fitted rotation is
      // bit-identical), the corpus rotates through the same 6-dp float
      // grid, then q_ann_pq's two kmeans chains + ADC tail run in the
      // rotated space
      (s"""WITH RECURSIVE
         prs AS (
           SELECT u.t,
                  CAST(e.embedding[u.t + 1] AS DOUBLE) AS __x__,
                  CAST(e.embedding[u.t + 33] AS DOUBLE) AS __y__
           FROM embeddings e, LATERAL unnest(range(0, 32)) u(t)),
         mom AS (
           SELECT t,
                  ${graft.llm.Embeddings.opqMomentSql("__x__ * __x__")} AS __sxx__,
                  ${graft.llm.Embeddings.opqMomentSql("__y__ * __y__")} AS __syy__,
                  ${graft.llm.Embeddings.opqMomentSql("__x__ * __y__")} AS __sxy__
           FROM prs GROUP BY t),
         zl AS (SELECT t, __sxx__, __syy__, __sxy__,
                       ${graft.llm.Embeddings.opqGateSql(0.0)} AS __rot__,
                       ${graft.llm.Embeddings.OpqZetaSql} AS __zeta__
                FROM mom),
         tl AS (SELECT t, __rot__,
                       ${graft.llm.Embeddings.OpqTtSql} AS __tt__
                FROM zl),
         csf AS (SELECT t, ${graft.llm.Embeddings.OpqCSql} AS c,
                        ${graft.llm.Embeddings.OpqSSql} AS s
                 FROM tl),
         rote AS (
           SELECT e.vec_id, u.d,
                  CAST(round(CASE WHEN u.d < 32
                    THEN f.c * CAST(e.embedding[u.d + 1] AS DOUBLE)
                         - f.s * CAST(e.embedding[u.d + 33] AS DOUBLE)
                    ELSE f.s * CAST(e.embedding[u.d - 31] AS DOUBLE)
                         + f.c * CAST(e.embedding[u.d + 1] AS DOUBLE)
                  END, 6) AS REAL) AS xv
           FROM embeddings e, LATERAL unnest(range(0, 64)) u(d), csf f
           WHERE f.t = u.d % 32),
         rotv AS MATERIALIZED (
           SELECT vec_id, list(xv ORDER BY d) AS embedding
           FROM rote GROUP BY vec_id),
         corpus0 AS (SELECT vec_id, embedding[1:32] AS embedding FROM rotv),
         corpus1 AS (SELECT vec_id, embedding[33:64] AS embedding FROM rotv),
         ${kmeansChain("vec_id < 4", "corpus0", "p0", 32)},
         ${kmeansChain("vec_id < 4", "corpus1", "p1", 32)},
         q AS (SELECT embedding AS qe,
                      sqrt(${dotSql("embedding", "embedding")}) AS qn
               FROM rotv WHERE vec_id = 0),
         t0 AS (SELECT cid, ${dotSql("qe[1:32]", "cv")} AS qd,
                       ${dotSql("cv", "cv")} AS cn2 FROM c2p0, q),
         t1 AS (SELECT cid, ${dotSql("qe[33:64]", "cv")} AS qd,
                       ${dotSql("cv", "cv")} AS cn2 FROM c2p1, q)
         SELECT vec_id, score, rank FROM (
           SELECT s0.vec_id,
                  round((t0.qd + t1.qd) / (q.qn * sqrt(t0.cn2 + t1.cn2)), 6) AS score,
                  row_number() OVER (ORDER BY
                    round((t0.qd + t1.qd) / (q.qn * sqrt(t0.cn2 + t1.cn2)), 6) DESC,
                    s0.vec_id) AS rank
           FROM sfp0 s0 JOIN sfp1 s1 ON s0.vec_id = s1.vec_id
                JOIN t0 ON t0.cid = s0.cell JOIN t1 ON t1.cid = s1.cell
                CROSS JOIN q
           WHERE s0.vec_id <> 0) t
         WHERE rank <= 10 ORDER BY rank""")),

    // --- SQ8 scalar quantization (FAISS ScalarQuantizer QT_8bit): one
    //     corpus pass fits per-dim min/max, candidates quantize to 8-bit
    //     codes (4× compression) and the RAW query scores against the
    //     dequantized reconstruction — near-brute recall, the middle
    //     rung between float32 and PQ. Quantize/dot/norm are codegen'd
    //     natives; the oracle replays the shared quantization formula ---
    Op("q_ann_sq8", (s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          graft.llm.Embeddings.sq8TopK(df, "vec_id", "embedding",
            dim = 64, queryId = 0L, k = 10)
        }
        .sort(col("rank"))
        .run(s),
      // SQ8: per-dim min/max fit (exact aggregates), the SHARED quantization
      // formula string (Embeddings.sq8CodeSql/sq8DqSql — identical
      // correctly-rounded double ops on both engines), dequantized-cosine
      // scoring with the same 6-dp round + id tie-break as every ANN oracle.
      (s"""WITH mm AS (
           SELECT u.i,
                  min(CAST(e.embedding[u.i] AS DOUBLE)) AS mn,
                  max(CAST(e.embedding[u.i] AS DOUBLE)) AS mx
           FROM embeddings e, LATERAL unnest(range(1, 65)) u(i)
           GROUP BY u.i),
         prm AS MATERIALIZED (
           SELECT list(mn ORDER BY i) AS mns,
                  list((mx - mn) / CAST(255.0 AS DOUBLE) ORDER BY i) AS scs
           FROM mm),
         cod AS (
           SELECT e.vec_id,
                  list(${graft.llm.Embeddings.sq8CodeSql(
                    "e.embedding[u.i]", "p.mns[u.i]", "p.scs[u.i]")}
                    ORDER BY u.i) AS code
           FROM embeddings e, LATERAL unnest(range(1, 65)) u(i), prm p
           WHERE e.vec_id <> 0
           GROUP BY e.vec_id),
         dq AS (
           SELECT c.vec_id,
                  list_transform(range(1, 65), i ->
                    ${graft.llm.Embeddings.sq8DqSql(
                      "c.code[i]", "p.mns[i]", "p.scs[i]")}) AS dqv
           FROM cod c, prm p),
         q AS (SELECT embedding AS qe,
                      sqrt(${dotSql("embedding", "embedding")}) AS qn
               FROM embeddings WHERE vec_id = 0)
         SELECT vec_id, score, rank FROM (
           SELECT d.vec_id,
                  round((${dotSql("d.dqv", "q.qe")}) /
                        (q.qn * sqrt(${dotSql("d.dqv", "d.dqv")})), 6) AS score,
                  row_number() OVER (ORDER BY
                    round((${dotSql("d.dqv", "q.qe")}) /
                          (q.qn * sqrt(${dotSql("d.dqv", "d.dqv")})), 6) DESC,
                    d.vec_id) AS rank
           FROM dq d, q) t
         WHERE rank <= 10 ORDER BY rank""")),

    // --- IVF-SQ8 (FAISS IndexIVFScalarQuantizer): coarse sqrt(n) cells
    //     gate candidates, SQ8 codes score them — cell-pruned quantized
    //     serving at 4× fewer posting bytes with near-exact within-cell
    //     ranking (the middle rung between raw IVF and IVF-PQ) ---
    Op("q_ann_ivfsq8", (s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          val (idxDir, tbl) = ivfSq8Index(s, dir)
          graft.llm.Embeddings.ivfSq8TopKIndexed(
            df.where(F.col("vec_id") < 3), "vec_id", "embedding",
            idxDir, df.sparkSession.table(tbl), dim = 64, k = 5)
        }
        .sort(col("query_id")).sort(col("rank"))
        .run(s),
      // IVF-SQ8: the default coarse chain (KmeansCtes — cells per vec via
      // the sqrt(n) Lloyd replay) gates candidates to the query's cell,
      // the SQ8 CTEs (global per-dim min/max params, shared quantization
      // formula) reconstruct candidates, and the q_ann_ivf_trained scoring
      // tail ranks the dequantized cosine per query.
      (KmeansCtes + s""",
         mm AS (
           SELECT u.i,
                  min(CAST(e.embedding[u.i] AS DOUBLE)) AS mn,
                  max(CAST(e.embedding[u.i] AS DOUBLE)) AS mx
           FROM embeddings e, LATERAL unnest(range(1, 65)) u(i)
           GROUP BY u.i),
         prm AS MATERIALIZED (
           SELECT list(mn ORDER BY i) AS mns,
                  list((mx - mn) / CAST(255.0 AS DOUBLE) ORDER BY i) AS scs
           FROM mm),
         cod AS (
           SELECT e.vec_id,
                  list(${graft.llm.Embeddings.sq8CodeSql(
                    "e.embedding[u.i]", "p.mns[u.i]", "p.scs[u.i]")}
                    ORDER BY u.i) AS code
           FROM embeddings e, LATERAL unnest(range(1, 65)) u(i), prm p
           GROUP BY e.vec_id),
         dqv AS MATERIALIZED (
           SELECT c.vec_id,
                  list_transform(range(1, 65), i ->
                    ${graft.llm.Embeddings.sq8DqSql(
                      "c.code[i]", "p.mns[i]", "p.scs[i]")}) AS dq
           FROM cod c, prm p)
         SELECT query_id, neighbor_id, cosine, rank FROM (
           SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                  round((${dotSql("d.dq", "q.embedding")}) /
                        (sqrt(${dotSql("q.embedding", "q.embedding")}) *
                         sqrt(${dotSql("d.dq", "d.dq")})), 6) AS cosine,
                  row_number() OVER (PARTITION BY q.vec_id ORDER BY
                    round((${dotSql("d.dq", "q.embedding")}) /
                          (sqrt(${dotSql("q.embedding", "q.embedding")}) *
                           sqrt(${dotSql("d.dq", "d.dq")})), 6) DESC,
                    n.vec_id) AS rank
           FROM sf q JOIN sf n ON q.cell = n.cell AND n.vec_id <> q.vec_id
                JOIN dqv d ON d.vec_id = n.vec_id
           WHERE q.vec_id < 3) t
         WHERE rank <= 5 ORDER BY query_id, rank""")),

    // --- STREAMING IVF-SQ8 (batch backfill through the streaming
    //     lowering — probe + scoring as projections, topk_by cut):
    //     values ≡ q_ann_ivfsq8 (same persisted artifact, same fold,
    //     same tie-break), oracle shared by reference ---
    Op("q_stream_ann_sq8", (s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          val (idxDir, tbl) = ivfSq8Index(s, dir)
          graft.streaming.Streams.streamingIvfSq8TopK(
            df.where(F.col("vec_id") < 3), "vec_id", "embedding",
            idxDir, df.sparkSession.table(tbl), dim = 64, k = 5)
        }
        .sort(col("query_id")).sort(col("rank"))
        .run(s),
      // streaming IVF-SQ8 backfill ≡ the batch indexed serve: same
      // persisted artifact, same projection-ranked probes, same
      // dequantized fold and topk_by tail
      Op.oracleOf("q_ann_ivfsq8")),

    // --- SQ8 PERSISTED serving (the raw-store/coded-serving split, SQ
    //     edition): params sidecar + bucketed coded postings — the timed
    //     body scans CODES only (4× fewer bytes than raw vectors), one
    //     small broadcast, per-query topk_by cut. Values ≡ q_ann_sq8
    //     (same params — fitted on the same full corpus — same codes,
    //     same fold), so the oracle is shared by reference ---
    Op("q_ann_sq8_indexed", (s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          val (idxDir, tbl) = sq8Index(s, dir)
          graft.llm.Embeddings.sq8TopKIndexed(
            df.where(F.col("vec_id") === 0), "vec_id", "embedding",
            idxDir, df.sparkSession.table(tbl), dim = 64, k = 10)
            .select(F.col("neighbor_id").as("vec_id"),
              F.col("cosine").as("score"), F.col("rank"))
        }
        .sort(col("rank"))
        .run(s),
      // persisted SQ8 serving ≡ the fit+serve query: the stored params
      // ARE sq8Params(full corpus) (fixture saves over the same table),
      // codes/fold/tie-break identical, only the storage differs
      Op.oracleOf("q_ann_sq8")),

    // --- the full IVF-PQ serving composition: sqrt(n) coarse cells
    //     restrict candidates to the query's cell, ADC over m=2 segment
    //     codebooks scores only those — per-query cost O(n/k) code
    //     lookups, the FAISS serving shape end-to-end ---
    Op("q_ann_ivfpq", (s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          val coarse = graft.llm.Embeddings.kmeansFitSqrtK(
            df, "vec_id", "embedding", iters = 2)
          val cb = graft.llm.Embeddings.pqCodebooks(df, "vec_id", "embedding",
            dim = 64, m = 2, initPred = F.col("vec_id") < 4, iters = 2)
          graft.llm.Embeddings.ivfPqTopK(df, "vec_id", "embedding",
            coarse, cb, dim = 64, m = 2, queryId = 0L, k = 10)
        }
        .sort(col("rank"))
        .run(s),
      // IVF-PQ: the coarse sqrt(n) chain (default suffix — same CTEs as the
      // other trained-IVF oracles) gates candidates to the query's cell
      // (null-safe: an empty-centroid corner yields NULL cells on both
      // engines), then the q_ann_pq scoring tail runs over candidates only.
      (KmeansCtes + s""",
         corpus0 AS (SELECT vec_id, embedding[1:32] AS embedding FROM embeddings),
         corpus1 AS (SELECT vec_id, embedding[33:64] AS embedding FROM embeddings),
         ${kmeansChain("vec_id < 4", "corpus0", "p0", 32)},
         ${kmeansChain("vec_id < 4", "corpus1", "p1", 32)},
         q AS (SELECT embedding AS qe,
                      sqrt(${dotSql("embedding", "embedding")}) AS qn
               FROM embeddings WHERE vec_id = 0),
         qc AS (SELECT cell AS qcell FROM sf WHERE vec_id = 0),
         cand AS (
           SELECT vec_id FROM sf, qc
           WHERE sf.cell IS NOT DISTINCT FROM qc.qcell AND vec_id <> 0),
         t0 AS (SELECT cid, ${dotSql("qe[1:32]", "cv")} AS qd,
                       ${dotSql("cv", "cv")} AS cn2 FROM c2p0, q),
         t1 AS (SELECT cid, ${dotSql("qe[33:64]", "cv")} AS qd,
                       ${dotSql("cv", "cv")} AS cn2 FROM c2p1, q)
         SELECT vec_id, score, rank FROM (
           SELECT s0.vec_id,
                  round((t0.qd + t1.qd) / (q.qn * sqrt(t0.cn2 + t1.cn2)), 6) AS score,
                  row_number() OVER (ORDER BY
                    round((t0.qd + t1.qd) / (q.qn * sqrt(t0.cn2 + t1.cn2)), 6) DESC,
                    s0.vec_id) AS rank
           FROM cand JOIN sfp0 s0 USING (vec_id) JOIN sfp1 s1 USING (vec_id)
                JOIN t0 ON t0.cid = s0.cell JOIN t1 ON t1.cid = s1.cell
                CROSS JOIN q) t
         WHERE rank <= 10 ORDER BY rank""")),

    // --- PQ-CODED PERSISTED IVF serving (the 100 TB artifact): postings
    //     store (cell, id, m codes) only — 16-32× fewer bytes than raw
    //     vectors — ADC scores the probed cell's codes from broadcast
    //     lookup maps, then the exact cosine reranks the candFactor·k
    //     shortlist only (deterministic candidate SET, the
    //     quantizedRerank discipline) ---
    Op("q_ann_ivfpq_indexed", (s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          val (idxDir, tbl) = ivfPqIndex(s, dir)
          graft.llm.Embeddings.ivfPqTopKIndexed(
            df.where(F.col("vec_id") === 0), "vec_id", "embedding",
            idxDir, df.sparkSession.table(tbl), dim = 64, m = 2, k = 10,
            candFactor = 4, rerank = Some(df))
        }
        .sort(col("rank"))
        .run(s),
      // persisted IVF-PQ serving: same coarse+codebook chains as
      // q_ann_ivfpq (the stored codes ARE those deterministic argmax
      // assignments), ADC-ranked candidate cut at candFactor·k = 40
      // (score desc, id — a deterministic SET), then the exact-cosine
      // rerank over the shortlist only picks the final top 10
      (KmeansCtes + s""",
         corpus0 AS (SELECT vec_id, embedding[1:32] AS embedding FROM embeddings),
         corpus1 AS (SELECT vec_id, embedding[33:64] AS embedding FROM embeddings),
         ${kmeansChain("vec_id < 4", "corpus0", "p0", 32)},
         ${kmeansChain("vec_id < 4", "corpus1", "p1", 32)},
         q AS (SELECT embedding AS qe,
                      sqrt(${dotSql("embedding", "embedding")}) AS qn
               FROM embeddings WHERE vec_id = 0),
         qc AS (SELECT cell AS qcell FROM sf WHERE vec_id = 0),
         cand AS (
           SELECT vec_id FROM sf, qc
           WHERE sf.cell IS NOT DISTINCT FROM qc.qcell AND vec_id <> 0),
         t0 AS (SELECT cid, ${dotSql("qe[1:32]", "cv")} AS qd,
                       ${dotSql("cv", "cv")} AS cn2 FROM c2p0, q),
         t1 AS (SELECT cid, ${dotSql("qe[33:64]", "cv")} AS qd,
                       ${dotSql("cv", "cv")} AS cn2 FROM c2p1, q),
         adc AS (
           SELECT s0.vec_id,
                  round((t0.qd + t1.qd) / (q.qn * sqrt(t0.cn2 + t1.cn2)), 6) AS score,
                  row_number() OVER (ORDER BY
                    round((t0.qd + t1.qd) / (q.qn * sqrt(t0.cn2 + t1.cn2)), 6) DESC,
                    s0.vec_id) AS crk
           FROM cand JOIN sfp0 s0 USING (vec_id) JOIN sfp1 s1 USING (vec_id)
                JOIN t0 ON t0.cid = s0.cell JOIN t1 ON t1.cid = s1.cell
                CROSS JOIN q),
         short AS (SELECT vec_id, score FROM adc WHERE crk <= 40),
         rr AS (
           SELECT e.vec_id AS neighbor_id, short.score,
                  round((${dotSql("e.embedding", "q.qe")}) /
                        (sqrt(${dotSql("e.embedding", "e.embedding")}) * q.qn), 6) AS cosine
           FROM short JOIN embeddings e ON e.vec_id = short.vec_id
                CROSS JOIN q)
         SELECT CAST(0 AS BIGINT) AS query_id, neighbor_id, score, cosine, rank
         FROM (
           SELECT neighbor_id, score, cosine,
                  row_number() OVER (ORDER BY cosine DESC, neighbor_id) AS rank
           FROM rr) t
         WHERE rank <= 10 ORDER BY rank""")),

    // --- RESIDUAL-coded persisted IVF-PQ (FAISS's by-residual
    //     IndexIVFPQ, Jégou et al. 2011 §III): codebooks quantize
    //     x − c(cell) — far less variance than the raw corpus, so the
    //     same code budget reconstructs markedly finer. Serving scores
    //     q·(ĉ+r̂) from the stored codes + the per-posting reconstructed
    //     norm written at encode: no (cell × code) cross-term tables,
    //     the broadcast stays query-sized at any coarse-cell count.
    //     nprobe=2 exercises the per-probed-cell q·c numerator term ---
    Op("q_ann_ivfpq_residual", (s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          val (idxDir, tbl) = ivfPqResidualIndex(s, dir)
          graft.llm.Embeddings.ivfPqTopKIndexed(
            df.where(F.col("vec_id") < 2), "vec_id", "embedding",
            idxDir, df.sparkSession.table(tbl), dim = 64, m = 2, k = 10,
            nprobe = 2)
        }
        .sort(col("query_id")).sort(col("rank"))
        .run(s),
      // RESIDUAL-coded persisted IVF-PQ: the coarse chain's residuals
      // (CAST(x[i] AS DOUBLE) - cv[i] — exact on both engines) feed two
      // 32-dim residual-codebook Lloyd chains; each corpus row
      // reconstructs as ĉ+r̂ with its norm (the stored __xn__), and the
      // ADC score folds (qc + qd0) + qd1 over the probed cells' postings
      // against the query's per-segment lookup — the same association
      // order the Spark serve path uses.
      (ResidualAdcCtes + s"""
         SELECT query_id, neighbor_id, score, rank FROM (
           SELECT query_id, vec_id AS neighbor_id, score,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, vec_id) AS rank
           FROM adc) t
         WHERE rank <= 10 ORDER BY query_id, rank""")),

    // --- residual serve END-TO-END: residual ADC shortlist (candFactor·k,
    //     deterministic SET) repaired by the exact-cosine rerank over the
    //     shortlist only — the full production read path on the
    //     residual-coded artifact ---
    Op("q_ann_ivfpq_residual_rerank", (s, dir) =>
      m(dir, "embeddings")
        .native { df =>
          val (idxDir, tbl) = ivfPqResidualIndex(s, dir)
          graft.llm.Embeddings.ivfPqTopKIndexed(
            df.where(F.col("vec_id") < 2), "vec_id", "embedding",
            idxDir, df.sparkSession.table(tbl), dim = 64, m = 2, k = 10,
            nprobe = 2, candFactor = 4, rerank = Some(df))
        }
        .sort(col("query_id")).sort(col("rank"))
        .run(s),
      // residual serve END-TO-END (the production read path): ADC-ranked
      // candidate cut at candFactor·k = 40 per query (score desc, id — a
      // deterministic SET), then the exact-cosine rerank over the
      // shortlist only picks the final top 10 — q_ann_ivfpq_indexed's
      // tail over the residual chain
      (ResidualAdcCtes + s""",
         radc AS (
           SELECT query_id, vec_id, score,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, vec_id) AS crk
           FROM adc),
         rshort AS (SELECT query_id, vec_id, score FROM radc WHERE crk <= 40),
         rrr AS (
           SELECT rshort.query_id, e.vec_id AS neighbor_id, rshort.score,
                  round((${dotSql("e.embedding", "qr.qe")}) /
                        (sqrt(${dotSql("e.embedding", "e.embedding")}) *
                         qr.qn), 6) AS cosine
           FROM rshort
           JOIN embeddings e ON e.vec_id = rshort.vec_id
           JOIN qr ON qr.query_id = rshort.query_id)
         SELECT query_id, neighbor_id, score, cosine, rank FROM (
           SELECT query_id, neighbor_id, score, cosine,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rank
           FROM rrr) t
         WHERE rank <= 10 ORDER BY query_id, rank""")),

    // --- IVF-style ANN: nearest fixed centroid cell + per-query top-k ---
    Op("q_ann_ivf", (s, dir) =>
      m(dir, "embeddings")
        .native(df => graft.llm.Embeddings.ivfTopK(df, "vec_id", "embedding",
          centroidPred = org.apache.spark.sql.functions.col("vec_id") < 8,
          queryPred = org.apache.spark.sql.functions.col("vec_id").between(10, 14),
          k = 3))
        .sort(col("query_id")).sort(col("rank"))
        .run(s),
      (s"""WITH cent AS (
           SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8
         ), sim AS (
           SELECT e.vec_id, e.embedding, c.cid,
                  round(${cosSql("e.embedding", "c.cv")}, 6) AS csim
           FROM embeddings e, cent c
         ), assigned AS (
           SELECT vec_id, embedding, cid AS cell FROM (
             SELECT vec_id, embedding, cid,
                    row_number() OVER (PARTITION BY vec_id
                      ORDER BY csim DESC NULLS LAST, cid) AS rk
             FROM sim) t WHERE rk = 1
         ), scored AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  round(${cosSql("q.embedding", "c.embedding")}, 6) AS cosine
           FROM assigned q JOIN assigned c ON q.cell = c.cell AND c.vec_id <> q.vec_id
           WHERE q.vec_id BETWEEN 10 AND 14
         ), ranked AS (
           SELECT query_id, neighbor_id, cosine,
                  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
           FROM scored
         )
         SELECT query_id, neighbor_id, cosine, rank FROM ranked
         WHERE rank <= 3 ORDER BY query_id, rank""")),

    // --- per-label mean-embedding centroids at (label, dim) grain ---
    Op("q_embed_centroid", (s, dir) =>
      m(dir, "embeddings")
        .native(df => graft.llm.Embeddings.labelCentroids(
          df, "label", "embedding"))
        .sort(col("label")).sort(col("dim"))
        .run(s),
      (s"""SELECT label, CAST(d AS INT) AS dim, count(*) AS n_vecs,
            round(CAST(sum(CAST(round(CAST(embedding[d] AS DOUBLE), 6)
                AS DECIMAL(27,8))) AS DOUBLE) / count(*), 6) AS centroid
          FROM embeddings CROSS JOIN range(1, $EmbDim + 1) AS r(d)
          GROUP BY 1, 2 ORDER BY 1, 2""")),
  )

  /** The bitext oracles' ratio-margin scoring over `a`/`b` sides sharing
    * a `bkt` bucket: pair cosines, each side's mean top-4 cosine, and
    * margin = cosine / mean of the two sides' means. */
  private val BitextMarginCtes: String =
    s"""pairs AS (
           SELECT a_id, b_id,
                  round(${dotSql("av", "bv")} / (an * bn), 6) AS cosine
           FROM a JOIN b USING (bkt)),
         ax AS (
           SELECT a_id,
                  CAST(sum(CAST(cosine AS DECIMAL(18,9))) AS DOUBLE)
                    / count(*) AS axv
           FROM (SELECT a_id, cosine, row_number() OVER
                   (PARTITION BY a_id ORDER BY cosine DESC, b_id) AS r
                 FROM pairs) t WHERE r <= 4 GROUP BY 1),
         ay AS (
           SELECT b_id,
                  CAST(sum(CAST(cosine AS DECIMAL(18,9))) AS DOUBLE)
                    / count(*) AS ayv
           FROM (SELECT b_id, cosine, row_number() OVER
                   (PARTITION BY b_id ORDER BY cosine DESC, a_id) AS r
                 FROM pairs) t WHERE r <= 4 GROUP BY 1),
         mg AS (
           SELECT p.a_id, p.b_id, p.cosine,
                  round(p.cosine / ((ax.axv + ay.ayv) / CAST(2.0 AS DOUBLE)), 6)
                    AS margin
           FROM pairs p JOIN ax USING (a_id) JOIN ay USING (b_id))"""

  /** Persisted two-part IVF artifact (`centroids/` plain parquet +
    * `postings/` bucketed on `__cell__`) the `q_ann_ivf*` serve queries
    * time their read path against: the fit and the bucketed write are
    * ingest-time work. Returns (index dir, postings table name). */
  private def ivfIndex(
      s: SparkSession, dir: String, attrs: Seq[String] = Seq.empty)
      : (String, String) =
    Fixtures.bucketed(s, "ivf" + attrs.map("_" + _).mkString, dir,
        "__cell__", sub = "postings") { (tbl, path) =>
      val emb = table(s, dir, "embeddings")
      val cents = graft.llm.Embeddings.kmeansFitSqrtK(
        emb, "vec_id", "embedding", iters = 2)
      graft.llm.Embeddings.ivfIndexSave(
        emb, "vec_id", "embedding", cents, tbl, path, attrs = attrs)
    }

  /** [[ivfIndex]] for the PQ-CODED persisted artifact
    * ([[graft.llm.Embeddings.ivfPqIndexSave]]): coarse sqrt(n) k-means
    * + m=2 segment codebooks fit once at ingest, postings store only
    * (cell, id, codes) — the serve queries time the coded-scan + ADC +
    * rerank read path, never the fit. */
  private def ivfPqIndex(s: SparkSession, dir: String): (String, String) =
    Fixtures.bucketed(s, "ivfpq", dir, "__cell__", sub = "postings") {
      (tbl, path) =>
        val emb = table(s, dir, "embeddings")
        val coarse = graft.llm.Embeddings.kmeansFitSqrtK(
          emb, "vec_id", "embedding", iters = 2)
        val cb = graft.llm.Embeddings.pqCodebooks(
          emb, "vec_id", "embedding", dim = 64, m = 2,
          initPred = org.apache.spark.sql.functions.col("vec_id") < 4,
          iters = 2)
        graft.llm.Embeddings.ivfPqIndexSave(
          emb, "vec_id", "embedding", coarse, cb, dim = 64, m = 2,
          tbl, path)
    }

  /** Persisted SQ8 artifact over the full embeddings table
    * ([[graft.llm.Embeddings.sq8IndexSave]]): params sidecar + bucketed
    * coded postings (4× smaller than raw vectors). q_ann_sq8_indexed
    * times the coded-scan serve path only. */
  private def sq8Index(s: SparkSession, dir: String): (String, String) =
    Fixtures.bucketed(s, "sq8", dir, "vec_id", sub = "postings") {
      (tbl, path) =>
        graft.llm.Embeddings.sq8IndexSave(
          table(s, dir, "embeddings"), "vec_id", "embedding",
          dim = 64, tbl, path)
    }

  /** Persisted IVF-SQ8 artifact (coarse sqrt(n) cells + GLOBAL per-dim
    * SQ8 params — [[graft.llm.Embeddings.ivfSq8IndexSave]]): cell-gated
    * quantized serving at 4× fewer posting bytes with near-exact
    * within-cell ranking. */
  private def ivfSq8Index(s: SparkSession, dir: String): (String, String) =
    Fixtures.bucketed(s, "ivfsq8", dir, "__cell__", sub = "postings") {
      (tbl, path) =>
        val emb = table(s, dir, "embeddings")
        val coarse = graft.llm.Embeddings.kmeansFitSqrtK(
          emb, "vec_id", "embedding", iters = 2)
        graft.llm.Embeddings.ivfSq8IndexSave(
          emb, "vec_id", "embedding", coarse, dim = 64, tbl, path)
    }

  /** [[ivfPqIndex]]'s RESIDUAL-coded twin
    * ([[graft.llm.Embeddings.ivfPqIndexSave]] with `residual = true`,
    * codebooks fit on x − c(cell) — FAISS's by-residual IndexIVFPQ):
    * postings store (cell, id, m codes, ‖ĉ+r̂‖) and the serve query
    * times the coded-scan + residual-ADC read path. */
  private def ivfPqResidualIndex(
      s: SparkSession, dir: String): (String, String) =
    // "ivfpqr2": the residual builder's output changed when the
    // quantizer metric moved cosine → L2 (fit + encode) — a fresh
    // name invalidates any cosine-coded artifact on disk without
    // forcing a rebuild of every OTHER memoized fixture
    Fixtures.bucketed(s, "ivfpqr2", dir, "__cell__", sub = "postings") {
      (tbl, path) =>
        val emb = table(s, dir, "embeddings")
        val coarse = graft.llm.Embeddings.kmeansFitSqrtK(
          emb, "vec_id", "embedding", iters = 2)
        val cb = graft.llm.Embeddings.pqResidualCodebooks(
          emb, "vec_id", "embedding", coarse, dim = 64, m = 2,
          initPred = org.apache.spark.sql.functions.col("vec_id") < 4,
          iters = 2)
        graft.llm.Embeddings.ivfPqIndexSave(
          emb, "vec_id", "embedding", coarse, cb, dim = 64, m = 2,
          tbl, path, residual = true)
    }

  /** SemDeDup knobs, shared verbatim by the Spark query and its oracle so
    * they can never desynchronize. Threshold 0.45 sits just under this
    * synthetic corpus's max pairwise cosine (~0.55; near-orthogonal
    * vectors — the paper's 0.9+ regime would match zero pairs here) and
    * yields a sparse duplicate graph. The k predicate is floor(sqrt(n))
    * on both engines. */
  private val SemThreshold: Double = 0.45

  private val SemMaxCell: Int = 256

  private val SemKPredSql: String =
    "vec_id < (SELECT CAST(floor(sqrt(count(*))) AS BIGINT) FROM embeddings)"

  /** Shared trained-IVF CTE chain: seed centroids (`initPred`), two
    * unrolled Lloyd's iterations, final assignment
    * `sf(vec_id, embedding, cell)`. Appended tails serve nprobe=1
    * (`q_ann_ivf_trained`), nprobe=2 (`q_ann_ivf_probe`), and the
    * SemDeDup cells (`q_semdedup`) — all three now seed k = floor(sqrt(n))
    * cells, replaying [[graft.llm.Embeddings.kmeansFitSqrtK]]. */
  private def kmeansCtes(initPred: String): String =
    "WITH " + kmeansChain(initPred, "embeddings", "", EmbDim)

  /** The WITH-body of one Lloyd's chain (seed → 2 iterations → final
    * assignment), CTE names suffixed with `sfx` and reading `corpus`
    * (vec_id, embedding) with `dim` components — so several chains (e.g.
    * one per PQ segment slice) compose in one statement. Yields
    * `c2$sfx` (cid, cv) and `sf$sfx` (vec_id, embedding, cell).
    * `l2 = true` replays the residual-quantizer metric
    * (vec_argmax_cell_l2): score = round(v·cv − (cv·cv)/2, 6) — the
    * argmin-L2 equivalent — instead of the rounded cosine. */
  private def kmeansChain(initPred: String, corpus: String, sfx: String,
      dim: Int, l2: Boolean = false): String =
    s"""init$sfx AS (
         SELECT vec_id AS cid,
                list_transform(embedding, v -> CAST(v AS DOUBLE)) AS cv
         FROM $corpus WHERE $initPred
       ), ${kmeansIterSql(s"init$sfx", s"a1$sfx", s"s1$sfx", s"m1$sfx", s"c1$sfx", corpus, dim, l2)},
       ${kmeansIterSql(s"c1$sfx", s"a2$sfx", s"s2$sfx", s"m2$sfx", s"c2$sfx", corpus, dim, l2)},
       af$sfx AS (
         SELECT e.vec_id, e.embedding, cc.cid,
                row_number() OVER (PARTITION BY e.vec_id ORDER BY
                  ${argmaxScoreSql("e.embedding", "cc.cv", l2)} DESC NULLS LAST,
                  cc.cid) AS rn
         FROM $corpus e CROSS JOIN c2$sfx cc
       ), sf$sfx AS (SELECT vec_id, embedding, cid AS cell FROM af$sfx WHERE rn = 1)"""

  /** The assignment score one Lloyd's step ranks by: rounded cosine
    * (vec_argmax_cell) or the L2-argmin equivalent v·cv − ‖cv‖²/2
    * (vec_argmax_cell_l2 — exact-halving division, subtraction after). */
  private def argmaxScoreSql(e: String, cv: String, l2: Boolean): String =
    if (l2)
      s"""round((${dotSql(e, cv)}) - (${dotSql(cv, cv)}) / 2, 6)"""
    else
      s"""round((${dotSql(e, cv)}) /
              (sqrt(${dotSql(e, e)}) * sqrt(${dotSql(cv, cv)})), 6)"""

  private lazy val KmeansCtes: String = kmeansCtes(SemKPredSql)

  /** Shared residual-IVF-PQ replay chain (q_ann_ivfpq_residual and its
    * rerank twin): coarse chain → exact residuals → two L2
    * residual-codebook Lloyd chains → per-row reconstruction ĉ+r̂ with
    * its norm (the stored __xn__) → nprobe=2 probe cells with the q·c
    * term → `adc(query_id, vec_id, score)`. */
  private lazy val ResidualAdcCtes: String =
    KmeansCtes + s""",
         res AS MATERIALIZED (
           SELECT s.vec_id,
                  list_transform(range(1, 65),
                    i -> CAST(s.embedding[i] AS DOUBLE) - c.cv[i]) AS rv
           FROM sf s JOIN c2 c ON c.cid = s.cell),
         resc0 AS (SELECT vec_id, rv[1:32] AS embedding FROM res),
         resc1 AS (SELECT vec_id, rv[33:64] AS embedding FROM res),
         ${kmeansChain("vec_id < 4", "resc0", "r0", 32, l2 = true)},
         ${kmeansChain("vec_id < 4", "resc1", "r1", 32, l2 = true)},
         rec0 AS (
           SELECT s.vec_id, s.cell, f0.cell AS code0, f1.cell AS code1,
                  list_transform(range(1, 33), i -> c.cv[i] + b0.cv[i]) ||
                  list_transform(range(1, 33), i -> c.cv[i + 32] + b1.cv[i])
                    AS xh
           FROM sf s
           JOIN c2 c ON c.cid = s.cell
           JOIN sfr0 f0 ON f0.vec_id = s.vec_id
           JOIN c2r0 b0 ON b0.cid = f0.cell
           JOIN sfr1 f1 ON f1.vec_id = s.vec_id
           JOIN c2r1 b1 ON b1.cid = f1.cell),
         rec AS MATERIALIZED (
           SELECT vec_id, cell, code0, code1,
                  sqrt(${dotSql("xh", "xh")}) AS xn
           FROM rec0),
         qr AS MATERIALIZED (
           SELECT vec_id AS query_id, embedding AS qe,
                  sqrt(${dotSql("embedding", "embedding")}) AS qn
           FROM embeddings WHERE vec_id < 2),
         pc AS (
           SELECT query_id, qe, qn, cid AS qcell,
                  ${dotSql("qe", "cv")} AS qc
           FROM (
             SELECT q.query_id, q.qe, q.qn, cc.cid, cc.cv,
                    row_number() OVER (PARTITION BY q.query_id ORDER BY
                      round((${dotSql("q.qe", "cc.cv")}) /
                            (q.qn * sqrt(${dotSql("cc.cv", "cc.cv")})), 6)
                        DESC,
                      cc.cid) AS crk
             FROM qr q CROSS JOIN c2 cc) t
           WHERE crk <= 2),
         adc AS MATERIALIZED (
           SELECT pc.query_id, r.vec_id,
                  round((pc.qc + ${dotSql("pc.qe[1:32]", "b0.cv")}
                               + ${dotSql("pc.qe[33:64]", "b1.cv")})
                        / (pc.qn * r.xn), 6) AS score
           FROM pc
           JOIN rec r ON r.cell = pc.qcell AND r.vec_id <> pc.query_id
           JOIN c2r0 b0 ON b0.cid = r.code0
           JOIN c2r1 b1 ON b1.cid = r.code1)"""

  /** Embedding dimensionality of the shipped testdata (TESTDATA.md).
    * DuckDB's range() cannot take lateral column refs, so the per-dim
    * explode in the k-means oracle needs the constant; the dot-product
    * folds are len()-driven and dimension-agnostic. */
  private val EmbDim = 64

  /** One unrolled Lloyd's iteration as DuckDB CTEs: assignment (argmax
    * rounded cosine, cid tie-break — the exact fold order the Spark side
    * uses), then the per-(cell, dim) mean as an exact decimal sum of
    * 6-dp-rounded members (order-independent on both engines). */
  private def kmeansIterSql(centSrc: String, a: String, s: String,
      mn: String, c: String, corpus: String = "embeddings",
      dim: Int = EmbDim, l2: Boolean = false): String =
    s"""$a AS (
          SELECT e.vec_id, e.embedding, cc.cid,
                 row_number() OVER (PARTITION BY e.vec_id ORDER BY
                   ${argmaxScoreSql("e.embedding", "cc.cv", l2)} DESC NULLS LAST,
                   cc.cid) AS rn
          FROM $corpus e CROSS JOIN $centSrc cc
        ), $s AS (SELECT vec_id, embedding, cid AS cell FROM $a WHERE rn = 1
        ), $mn AS (
          SELECT cell, d,
                 round(CAST(sum(CAST(round(CAST(embedding[d] AS DOUBLE), 6)
                     AS DECIMAL(27,8))) AS DOUBLE) / count(*), 6) AS m
          FROM $s CROSS JOIN range(1, $dim + 1) AS r(d)
          GROUP BY cell, d
        ), $c AS (SELECT cell AS cid, list(m ORDER BY d) AS cv
                  FROM $mn GROUP BY cell)"""

  /** DuckDB inline expression builders for the embedding oracles: an
    * explicit left-fold dot product in double precision (bit-identical to
    * the Spark side's aggregate(zip_with(...)) fold over the same element
    * order — 0.0+p1 = p1 exactly, so list_reduce's first-element seed
    * matches) and the 4-bit sign-LSH bucket. Dim 64 per TESTDATA. */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a) + 1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"

  private def cosSql(a: String, b: String): String =
    s"(${dotSql(a, b)}) / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  private val BktSql: String =
    "list_reduce(list_transform(range(1, 5), d -> CASE WHEN CAST(embedding[d] AS DOUBLE) >= 0 THEN (1 << (d - 1)) ELSE 0 END), (x, y) -> x + y)"

  /** Auto-bits twin of [[BktSql]]: bucket width from the 1-row `nb` CTE
    * (must be cross-joined in scope) instead of a hardcoded 4. */
  private val BktAutoSql: String =
    "list_reduce(list_transform(range(1, bits + 1), d -> CASE WHEN CAST(embedding[d] AS DOUBLE) >= 0 THEN (1 << (d - 1)) ELSE 0 END), (x, y) -> x + y)"

  /** Embeddings.autoBits replay: integer ceil-div + bit length (exact —
    * no float log2), clamped to [minBits, maxBits]. */
  private def nbCte(target: Int, minBits: Int, maxBits: Int): String =
    s"""nb AS (
         SELECT CAST(CASE WHEN q <= 1 THEN $minBits
                  ELSE greatest($minBits, least($maxBits, length(bin(q - 1))))
                  END AS BIGINT) AS bits
         FROM (SELECT (count(*) + $target - 1) // $target AS q
               FROM embeddings))"""
}
