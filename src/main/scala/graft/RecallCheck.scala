package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.llm.{CacheScope, Embeddings}

/** Measured ANN quality (SCALE.md's recall table): every approximate
  * serving op's recall@k against the exact brute-force top-k.
  *
  * The exactness specs pin each op's values at degenerate settings (m=1,
  * candidates=all ⇒ identical to brute force); this harness measures the
  * other half of the story — how much of the true neighborhood the
  * bucketed/quantized variants return when their pruning is doing real
  * work. Two datasets, because recall is a joint property of op AND data
  * geometry:
  *
  *   - the REAL sf embeddings table — which is geometrically unstructured
  *     (measured: same-label and cross-label mean cosine both ≈ 1e-5,
  *     top-10 neighbor label agreement ≈ chance). On isotropic data every
  *     space-partitioning method degrades toward nprobe/cells by design
  *     (there is no cluster structure to recover), so these numbers are
  *     the honest FLOOR, not an op defect;
  *   - a PLANTED-CLUSTER set (40 deterministic unit-sphere centers × 50
  *     points, noise keeping intra-cluster cosine ≈ 0.9) — the structured
  *     case real embedding corpora resemble, where a working IVF/PQ must
  *     score high. An op that recovers planted structure but floors on
  *     noise is behaving exactly like the published systems it models;
  *     an op that ALSO floors on planted clusters is broken.
  *
  * Ground truth is ONE batched join: the query set (broadcast) × corpus
  * with a per-query row_number window — the same skeleton as lshTopK with
  * the bucket join removed — so truth and candidates score with the
  * identical rounded-cosine + id tie-break and recall is never blurred by
  * scoring disagreements. recall@k = |ANN top-k ∩ brute top-k| / k,
  * averaged over the query set. Multi-query ops measure 50 queries in one
  * call; per-query ops (pq / ivfpq / quantized rerank, whose public
  * surface is one query vector) loop a 12-query subset — an
  * offline-harness loop, not a serving shape.
  *
  * PQ runs at BOTH the driver query's oracle-exactness knobs (m=2,
  * 4-centroid codebooks — deliberately tiny so the DuckDB oracle replays
  * them) and production-shaped knobs (m=8 segments, 64-centroid
  * codebooks ⇒ 8 bits/segment, the standard PQ64-ish configuration at
  * this dimension).
  *
  * Usage: runMain graft.RecallCheck [sfDir] [k]
  * Prints the markdown tables SCALE.md carries.
  */
object RecallCheck {

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = args.lift(1).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SessionTuning.session(cpus)
    GraftExtensions.install(spark)

    val real = sources.ParquetIO.read(spark, s"$srcDir/embeddings.parquet")
      .where(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"))
    measure(spark, real, s"real $srcDir (isotropic/unstructured geometry)", k)
    measure(spark, planted(spark), "planted clusters (40 centers x 50, intra-cos ~0.9)", k)
    correlatedCompare(spark, k)
    spark.stop()
  }

  /** PQ vs OPQ head-to-head on CORRELATED geometry — the data shape the
    * pair rotation exists for: the second half of every vector is a
    * scaled copy of the first plus deterministic noise, so each (t, t+32)
    * pair carries a strong cross-segment second moment that plain PQ's
    * product assumption ignores and the Jacobi rotation zeroes. */
  private def correlatedCompare(spark: SparkSession, k: Int): Unit = {
    val scope = new CacheScope
    val emb = scope.cache(spark.range(2000).select(
      col("id").as("vec_id"),
      expr("""transform(sequence(0, 63), i -> CAST(
          CASE WHEN i < 32 THEN
            sin(CAST(id DIV 50 AS double) * 131.0 + i * 17.0)
            + 0.35 * sin(id * 37.0 + i * 13.0)
          ELSE
            0.8 * (sin(CAST(id DIV 50 AS double) * 131.0 + (i - 32) * 17.0)
                   + 0.35 * sin(id * 37.0 + (i - 32) * 13.0))
            + 0.25 * sin(id * 41.0 + i * 7.0)
          END AS float))""").as("embedding")))
    val n = emb.count()
    val step = math.max(1L, n / 50L)
    val queryPred = col("vec_id") % step === 0L && col("vec_id") < step * 50L
    val perQueryIds = emb.where(queryPred).select(col("vec_id"))
      .orderBy(col("vec_id")).collect().map(_.getLong(0)).toSeq.take(12)
    val base = emb.select(col("vec_id"), col("embedding"),
      sqrt(Embeddings.dot("embedding", "embedding")).as("__n__"))
    val queries = base.where(col("vec_id").isin(perQueryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("__q__"),
        col("__n__").as("__qn__"))
    val truth = base.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        round(Embeddings.dot("embedding", "__q__") / (col("__n__") * col("__qn__")), 6))
      .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("vec_id"))))
      .where(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .cache()
    truth.count()
    def recallOf(cands: DataFrame): Double =
      truth.join(cands.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id")).count()
        .toDouble / (perQueryIds.length.toLong * k)
    def perQuery(run: Long => DataFrame): DataFrame =
      perQueryIds.map { q =>
        run(q).select(lit(q).as("query_id"), col("vec_id").as("neighbor_id"))
      }.reduce(_ unionAll _)
    val cbPq = Embeddings.pqCodebooks(emb, "vec_id", "embedding",
      dim = 64, m = 8, initPred = col("vec_id") < 64, iters = 2, scope = scope)
    val rotFit = Embeddings.opqPairRotationFit(emb, "vec_id", "embedding",
      dim = 64)
    val rotated = scope.cache(Embeddings.opqRotateFrame(emb, "vec_id",
      "embedding", rotFit, dim = 64))
    val cbOpq = Embeddings.pqCodebooks(rotated, "vec_id", "embedding",
      dim = 64, m = 8, initPred = col("vec_id") < 64, iters = 2, scope = scope)
    val rows = Seq(
      ("pq prod knobs (m=8, 64 cents)", recallOf(
        perQuery(q => Embeddings.pqTopK(emb, "vec_id", "embedding", cbPq,
          dim = 64, m = 8, queryId = q, k = k)))),
      ("OPQ pair-rot + pq (m=8, 64 cents)", recallOf(
        perQuery(q => Embeddings.pqTopK(rotated, "vec_id", "embedding",
          cbOpq, dim = 64, m = 8, queryId = q, k = k)))))
    println(s"\nrecall@$k over planted CORRELATED halves (y ≈ 0.8x + noise, $n vectors, ${perQueryIds.length} queries)\n")
    println(s"| op (knobs) | recall@$k |")
    println("|---|---|")
    rows.foreach { case (op, r) => println(f"| $op | $r%.3f |") }
    truth.unpersist()
    scope.release()
  }

  /** Deterministic planted-cluster embeddings: 40 centers on the unit
    * sphere (coordinates sin-derived, no RNG — re-runs are identical),
    * 50 points each with per-point sin-derived noise. */
  private def planted(spark: SparkSession): DataFrame =
    spark.range(2000).select(
      col("id").as("vec_id"),
      expr("""transform(sequence(0, 63), i -> CAST(
          sin(CAST(id DIV 50 AS double) * 131.0 + i * 17.0)
          + 0.35 * sin(id * 37.0 + i * 13.0 + CAST(id DIV 50 AS double))
          AS float))""").as("embedding"))

  private def measure(
      spark: SparkSession, embIn: DataFrame, title: String, k: Int): Unit = {
    val scope = new CacheScope
    val emb = scope.cache(embIn)
    val n = emb.count()
    // 50 queries spread across the id range (not a contiguous prefix, so
    // cell/bucket membership varies); per-query ops take the first 12
    val step = math.max(1L, n / 50L)
    val queryPred = col("vec_id") % step === 0L && col("vec_id") < step * 50L
    val queryIds = emb.where(queryPred).select(col("vec_id"))
      .orderBy(col("vec_id")).collect().map(_.getLong(0)).toSeq
    val perQueryIds = queryIds.take(12)

    // ground truth: exact top-k per query, batched (queries broadcast)
    val base = emb.select(col("vec_id"), col("embedding"),
      sqrt(Embeddings.dot("embedding", "embedding")).as("__n__"))
    val queries = base.where(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("__q__"),
        col("__n__").as("__qn__"))
    val truth = base.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        round(Embeddings.dot("embedding", "__q__") / (col("__n__") * col("__qn__")), 6))
      .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("vec_id"))))
      .where(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .cache()
    truth.count()

    // mean recall@k of a (query_id, neighbor_id) candidate frame; queries
    // the op returned NOTHING for still divide (empty bucket = recall 0)
    def recallOf(cands: DataFrame, ids: Seq[Long]): Double = {
      val hits = truth.where(col("query_id").isin(ids: _*))
        .join(cands.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"))
        .count()
      hits.toDouble / (ids.length.toLong * k)
    }

    def perQuery(run: Long => DataFrame): DataFrame =
      perQueryIds.map { q =>
        run(q).select(lit(q).as("query_id"), col("vec_id").as("neighbor_id"))
      }.reduce(_ unionAll _)

    val cents = Embeddings.kmeansFitSqrtK(emb, "vec_id", "embedding", iters = 2)
    val kCells = cents.count()
    // sample-trained coarse quantizer (the FAISS train/add split): same
    // k, Lloyd passes see only the 25% hashSample kept set; the recall
    // delta vs the full fit is what sampling costs at this geometry
    val centsSampled = Embeddings.kmeansFitSampled(emb, "vec_id",
      "embedding", k = kCells.toInt, iters = 2, samplePct = 25.0)
    // oracle-exactness PQ knobs (the driver query's) and production knobs
    val cbTiny = Embeddings.pqCodebooks(emb, "vec_id", "embedding",
      dim = 64, m = 2, initPred = col("vec_id") < 4, iters = 2, scope = scope)
    val cbProd = Embeddings.pqCodebooks(emb, "vec_id", "embedding",
      dim = 64, m = 8, initPred = col("vec_id") < 64, iters = 2, scope = scope)
    // OPQ pair rotation at the same prod knobs: rotation fit once, the
    // rotated corpus cached once, codebooks fit in the rotated space.
    // With the default 0.85 redundancy gate the rotation is the IDENTITY
    // on this corpus' geometry (real: all-pair |ρ| ≈ 0.02; planted
    // clusters: ≈ 0.75 — moderate correlation that is cluster SIGNAL),
    // so the gated row ties plain PQ by construction; the UNGATED row
    // documents the measured loss that motivated the gate, and the
    // correlated table below shows the near-duplicate geometry where the
    // rotation wins outright.
    val opqRot = Embeddings.opqPairRotationFit(emb, "vec_id", "embedding",
      dim = 64)
    val opqRotated = scope.cache(Embeddings.opqRotateFrame(emb, "vec_id",
      "embedding", opqRot, dim = 64))
    val cbOpqProd = Embeddings.pqCodebooks(opqRotated, "vec_id", "embedding",
      dim = 64, m = 8, initPred = col("vec_id") < 64, iters = 2,
      scope = scope)
    val opqRotU = Embeddings.opqPairRotationFit(emb, "vec_id", "embedding",
      dim = 64, minAbsRho = 0.0)
    val opqRotatedU = scope.cache(Embeddings.opqRotateFrame(emb, "vec_id",
      "embedding", opqRotU, dim = 64))
    val cbOpqProdU = Embeddings.pqCodebooks(opqRotatedU, "vec_id",
      "embedding", dim = 64, m = 8, initPred = col("vec_id") < 64,
      iters = 2, scope = scope)
    // sample-trained codebooks at the same prod knobs (one kept set
    // shared across segments — the FAISS training discipline). This
    // harness corpus is TINY (2000 rows), so a 25% cap leaves ~8 rows
    // per k=64 centroid — far below FAISS's ~30-256·k training guidance
    // that a production cap (≥ max(100k, 256·k)) satisfies by
    // construction; the rows below form a measured LADDER (pct 25 → 50,
    // iters 2 → 8) showing codebook quality approach the full fit as
    // the sample approaches the guidance. iters=8 because a sampled fit
    // trades corpus scans for Lloyd rounds on the cap-bounded sample
    // (FAISS trains sub-quantizers ~25 rounds on the sample) — extra
    // rounds are nearly free at corpus scale.
    val cbProdSampled = Embeddings.pqCodebooksSampled(emb, "vec_id",
      "embedding", dim = 64, m = 8, k = 64, iters = 8, samplePct = 25.0,
      scope = scope)
    val cbProdSampled50 = Embeddings.pqCodebooksSampled(emb, "vec_id",
      "embedding", dim = 64, m = 8, k = 64, iters = 8, samplePct = 50.0,
      scope = scope)
    val cb16 = Embeddings.pqCodebooks(emb, "vec_id", "embedding",
      dim = 64, m = 8, initPred = col("vec_id") < 16, iters = 2,
      scope = scope)
    val cb16Sampled = Embeddings.pqCodebooksSampled(emb, "vec_id",
      "embedding", dim = 64, m = 8, k = 16, iters = 8, samplePct = 25.0,
      scope = scope)
    // persisted coded artifact at prod knobs for the INDEXED rows
    val pqTag = java.lang.Integer.toHexString(title.hashCode)
    val pqTbl = s"recall_pqidx_$pqTag"
    val pqDir = s"/tmp/graft_recall/pqidx_$pqTag"
    spark.sql(s"DROP TABLE IF EXISTS $pqTbl")
    Embeddings.ivfPqIndexSave(emb, "vec_id", "embedding", cents, cbProd,
      dim = 64, m = 8, table = pqTbl, dir = pqDir)
    // RESIDUAL-coded sibling at the same knobs: codebooks fit on
    // x − c(cell), so the recall delta vs the plain INDEXED rows
    // measures exactly what by-residual encoding buys at identical
    // postings bytes (m codes per row either way)
    val cbRes = Embeddings.pqResidualCodebooks(emb, "vec_id", "embedding",
      cents, dim = 64, m = 8, initPred = col("vec_id") < 64, iters = 2,
      scope = scope)
    val pqrTbl = s"recall_pqridx_$pqTag"
    val pqrDir = s"/tmp/graft_recall/pqridx_$pqTag"
    spark.sql(s"DROP TABLE IF EXISTS $pqrTbl")
    Embeddings.ivfPqIndexSave(emb, "vec_id", "embedding", cents, cbRes,
      dim = 64, m = 8, table = pqrTbl, dir = pqrDir, residual = true)

    // IVF-SQ8 persisted artifact (same coarse cells as the ivf rows, SQ8
    // codes in the postings): its recall = the IVF cell bound × SQ8's
    // ≈1.0 within-cell ranking, measured to confirm nothing else leaks
    val sq8Tbl = s"recall_sq8idx_$pqTag"
    val sq8Dir = s"/tmp/graft_recall/sq8idx_$pqTag"
    spark.sql(s"DROP TABLE IF EXISTS $sq8Tbl")
    Embeddings.ivfSq8IndexSave(emb, "vec_id", "embedding", cents,
      dim = 64, sq8Tbl, sq8Dir)

    val rows = Seq(
      ("lsh (bits=4)", queryIds.length, recallOf(
        Embeddings.lshTopK(emb, "vec_id", "embedding", queryPred,
          bits = 4, k = k, scope = scope), queryIds)),
      ("lsh (bits=8)", queryIds.length, recallOf(
        Embeddings.lshTopK(emb, "vec_id", "embedding", queryPred,
          bits = 8, k = k, scope = scope), queryIds)),
      (s"ivf trained (k=$kCells, nprobe=1)", queryIds.length, recallOf(
        Embeddings.ivfTopKTrained(emb, "vec_id", "embedding", cents,
          queryPred, k = k, scope = scope), queryIds)),
      (s"ivf SAMPLED-fit 25% (k=$kCells, nprobe=1)", queryIds.length, recallOf(
        Embeddings.ivfTopKTrained(emb, "vec_id", "embedding", centsSampled,
          queryPred, k = k, scope = scope), queryIds)),
      (s"ivf SAMPLED-fit 25% (k=$kCells, nprobe=2)", queryIds.length, recallOf(
        Embeddings.ivfTopKTrained(emb, "vec_id", "embedding", centsSampled,
          queryPred, k = k, nprobe = 2, scope = scope), queryIds)),
      (s"ivf trained (k=$kCells, nprobe=2)", queryIds.length, recallOf(
        Embeddings.ivfTopKTrained(emb, "vec_id", "embedding", cents,
          queryPred, k = k, nprobe = 2, scope = scope), queryIds)),
      (s"ivf trained (k=$kCells, nprobe=4)", queryIds.length, recallOf(
        Embeddings.ivfTopKTrained(emb, "vec_id", "embedding", cents,
          queryPred, k = k, nprobe = 4, scope = scope), queryIds)),
      (s"ivf trained (k=$kCells, nprobe=8)", queryIds.length, recallOf(
        Embeddings.ivfTopKTrained(emb, "vec_id", "embedding", cents,
          queryPred, k = k, nprobe = 8, scope = scope), queryIds)),
      ("pq oracle knobs (m=2, 4 cents)", perQueryIds.length, recallOf(
        perQuery(q => Embeddings.pqTopK(emb, "vec_id", "embedding", cbTiny,
          dim = 64, m = 2, queryId = q, k = k)), perQueryIds)),
      ("pq prod knobs (m=8, 64 cents)", perQueryIds.length, recallOf(
        perQuery(q => Embeddings.pqTopK(emb, "vec_id", "embedding", cbProd,
          dim = 64, m = 8, queryId = q, k = k)), perQueryIds)),
      ("OPQ pair-rot gated 0.85 + pq prod knobs (m=8, 64 cents)",
        perQueryIds.length,
        recallOf(perQuery(q => Embeddings.pqTopK(opqRotated, "vec_id",
          "embedding", cbOpqProd, dim = 64, m = 8, queryId = q, k = k)),
        perQueryIds)),
      ("OPQ pair-rot UNGATED (minRho=0) + pq prod knobs", perQueryIds.length,
        recallOf(perQuery(q => Embeddings.pqTopK(opqRotatedU, "vec_id",
          "embedding", cbOpqProdU, dim = 64, m = 8, queryId = q, k = k)),
        perQueryIds)),
      (s"ivfpq prod (k=$kCells, m=8, nprobe=1)", perQueryIds.length, recallOf(
        perQuery(q => Embeddings.ivfPqTopK(emb, "vec_id", "embedding",
          cents, cbProd, dim = 64, m = 8, queryId = q, k = k, scope = scope)),
        perQueryIds)),
      ("pq prod SAMPLED-fit 25% (m=8, 64 cents, iters=8)",
        perQueryIds.length, recallOf(
        perQuery(q => Embeddings.pqTopK(emb, "vec_id", "embedding",
          cbProdSampled, dim = 64, m = 8, queryId = q, k = k)), perQueryIds)),
      ("pq prod SAMPLED-fit 50% (m=8, 64 cents, iters=8)",
        perQueryIds.length, recallOf(
        perQuery(q => Embeddings.pqTopK(emb, "vec_id", "embedding",
          cbProdSampled50, dim = 64, m = 8, queryId = q, k = k)), perQueryIds)),
      ("pq full (m=8, 16 cents)", perQueryIds.length, recallOf(
        perQuery(q => Embeddings.pqTopK(emb, "vec_id", "embedding",
          cb16, dim = 64, m = 8, queryId = q, k = k)), perQueryIds)),
      ("pq SAMPLED-fit 25% (m=8, 16 cents, iters=8)",
        perQueryIds.length, recallOf(
        perQuery(q => Embeddings.pqTopK(emb, "vec_id", "embedding",
          cb16Sampled, dim = 64, m = 8, queryId = q, k = k)), perQueryIds)),
      (s"ivfpq SAMPLED-fit 25% end-to-end (k=$kCells, m=8)",
        perQueryIds.length, recallOf(
        perQuery(q => Embeddings.ivfPqTopK(emb, "vec_id", "embedding",
          centsSampled, cbProdSampled, dim = 64, m = 8, queryId = q,
          k = k, scope = scope)), perQueryIds)),
      ("quantized rerank (int8, cand=50)", perQueryIds.length, recallOf(
        perQuery(q => Embeddings.quantizedRerankTopK(emb, "vec_id",
          "embedding", queryId = q, candidates = 50, k = k)), perQueryIds)),
      // SQ8 full-scan serving: 4× compression with per-dim 8-bit affine
      // codes — the recall ceiling of the quantized family (no space
      // partitioning, no segment structure), expected ≈ brute on any
      // geometry; the row documents the compression/recall trade next
      // to PQ's 32× rows
      ("sq8 scalar-quantized (8 bit/dim, full scan)", perQueryIds.length,
        recallOf(perQuery(q => Embeddings.sq8TopK(emb, "vec_id",
          "embedding", dim = 64, queryId = q, k = k)), perQueryIds)),
      (s"ivf-sq8 INDEXED (k=$kCells, nprobe=1)", queryIds.length,
        recallOf(Embeddings.ivfSq8TopKIndexed(
            emb.where(queryPred), "vec_id", "embedding", sq8Dir,
            spark.table(sq8Tbl), dim = 64, k = k)
          .select(col("query_id"), col("neighbor_id")), queryIds)),
      (s"ivf-sq8 INDEXED (k=$kCells, nprobe=4)", queryIds.length,
        recallOf(Embeddings.ivfSq8TopKIndexed(
            emb.where(queryPred), "vec_id", "embedding", sq8Dir,
            spark.table(sq8Tbl), dim = 64, k = k, nprobe = 4)
          .select(col("query_id"), col("neighbor_id")), queryIds)),
      // the PERSISTED coded path (multi-query serving surface): raw ADC
      // vs ADC + exact rerank over the candFactor·k shortlist — the
      // rerank row measures exactly what the tail exists to repair
      (s"ivfpq INDEXED adc (k=$kCells, m=8, nprobe=1)", queryIds.length,
        recallOf(Embeddings.ivfPqTopKIndexed(
            emb.where(queryPred), "vec_id", "embedding", pqDir,
            spark.table(pqTbl), dim = 64, m = 8, k = k)
          .select(col("query_id"), col("neighbor_id")), queryIds)),
      (s"ivfpq INDEXED adc+rerank x4 (k=$kCells, m=8)", queryIds.length,
        recallOf(Embeddings.ivfPqTopKIndexed(
            emb.where(queryPred), "vec_id", "embedding", pqDir,
            spark.table(pqTbl), dim = 64, m = 8, k = k, candFactor = 4,
            rerank = Some(emb))
          .select(col("query_id"), col("neighbor_id")), queryIds)),
      (s"ivfpq INDEXED adc+rerank x4 nprobe=4", queryIds.length,
        recallOf(Embeddings.ivfPqTopKIndexed(
            emb.where(queryPred), "vec_id", "embedding", pqDir,
            spark.table(pqTbl), dim = 64, m = 8, k = k, nprobe = 4,
            candFactor = 4, rerank = Some(emb))
          .select(col("query_id"), col("neighbor_id")), queryIds)),
      (s"ivfpq RESIDUAL adc (k=$kCells, m=8, nprobe=1)", queryIds.length,
        recallOf(Embeddings.ivfPqTopKIndexed(
            emb.where(queryPred), "vec_id", "embedding", pqrDir,
            spark.table(pqrTbl), dim = 64, m = 8, k = k)
          .select(col("query_id"), col("neighbor_id")), queryIds)),
      (s"ivfpq RESIDUAL adc+rerank x4 (k=$kCells, m=8)", queryIds.length,
        recallOf(Embeddings.ivfPqTopKIndexed(
            emb.where(queryPred), "vec_id", "embedding", pqrDir,
            spark.table(pqrTbl), dim = 64, m = 8, k = k, candFactor = 4,
            rerank = Some(emb))
          .select(col("query_id"), col("neighbor_id")), queryIds)),
      (s"ivfpq RESIDUAL adc+rerank x4 nprobe=4", queryIds.length,
        recallOf(Embeddings.ivfPqTopKIndexed(
            emb.where(queryPred), "vec_id", "embedding", pqrDir,
            spark.table(pqrTbl), dim = 64, m = 8, k = k, nprobe = 4,
            candFactor = 4, rerank = Some(emb))
          .select(col("query_id"), col("neighbor_id")), queryIds)),
      ("random projection (dims=16, cand=50)", perQueryIds.length, recallOf(
        perQuery(q => Embeddings.rpTopK(emb, "vec_id", "embedding",
          queryId = q, d = 64, dims = 16, seed = 7, candidates = 50, k = k)),
        perQueryIds)),
      ("random projection (dims=32, cand=100)", perQueryIds.length, recallOf(
        perQuery(q => Embeddings.rpTopK(emb, "vec_id", "embedding",
          queryId = q, d = 64, dims = 32, seed = 7, candidates = 100, k = k)),
        perQueryIds)),
    ) ++ {
      // STREAMING serving ladder (round 17): the SAME 50 queries arrive
      // as a MemoryStream and streamingIvfTopK serves them against a
      // persisted plain-IVF index at nprobe 1/2/4, next to the batch
      // ivfTopKIndexed rows on the same artifact. The projection-ranked
      // probes and topk_by tail are spec-pinned value-identical to the
      // batch path; these rows MEASURE that the streaming surface's
      // recall lands on the batch ladder instead of asserting it.
      val ivfTbl = s"recall_ivfidx_$pqTag"
      val ivfDir = s"/tmp/graft_recall/ivfidx_$pqTag"
      spark.sql(s"DROP TABLE IF EXISTS $ivfTbl")
      Embeddings.ivfIndexSave(emb, "vec_id", "embedding", cents, ivfTbl,
        ivfDir)
      val queryRows = emb.where(queryPred)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      def batchRecall(nprobe: Int): Double = recallOf(
        Embeddings.ivfTopKIndexed(emb.where(queryPred), "vec_id",
          "embedding", ivfDir, spark.table(ivfTbl), k = k, nprobe = nprobe),
        queryIds)
      def streamRecall(nprobe: Int): Double = {
        import spark.implicits._
        val ms = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Array[Float])](spark)
        val out = graft.streaming.Streams.streamingIvfTopK(
          ms.toDF.toDF("vec_id", "embedding"), "vec_id", "embedding",
          ivfDir, spark.table(ivfTbl), k = k, nprobe = nprobe)
        val qn = s"recall_stream_np${nprobe}_$pqTag"
        val q = out.writeStream.format("memory").queryName(qn)
          .outputMode("complete").start()
        try {
          ms.addData(queryRows: _*)
          q.processAllAvailable()
          recallOf(spark.table(qn), queryIds)
        } finally q.stop()
      }
      val ladder = Seq(1, 2, 4).flatMap { np =>
        Seq(
          (s"ivf INDEXED batch (k=$kCells, nprobe=$np)", queryIds.length,
            batchRecall(np)),
          (s"ivf INDEXED STREAMING (k=$kCells, nprobe=$np)",
            queryIds.length, streamRecall(np)))
      }
      spark.sql(s"DROP TABLE IF EXISTS $ivfTbl")
      ladder
    }
    println(s"\nrecall@$k over $title ($n vectors)\n")
    println(s"| op (knobs) | queries | recall@$k |")
    println("|---|---|---|")
    rows.foreach { case (op, nq, r) => println(f"| $op | $nq | $r%.3f |") }
    spark.sql(s"DROP TABLE IF EXISTS $pqTbl")
    spark.sql(s"DROP TABLE IF EXISTS $pqrTbl")
    truth.unpersist()
    scope.release()
  }
}
