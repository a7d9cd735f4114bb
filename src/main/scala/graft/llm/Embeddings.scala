package graft.llm

import scala.jdk.CollectionConverters._
import scala.util.chaining._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

/** Similarity search over an embedding column (`array<float>`) —
  * beyond-reference surface (SURVEY.md §2.7).
  *
  * Dot products are explicit left folds in double precision
  * (`aggregate(zip_with(...))` starting from 0.0): element-order summation
  * is deterministic and bit-identical to the DuckDB oracle's equivalent
  * `list_reduce` fold, so cosine scores hash-match exactly. All per-vector
  * work is codegen'd row-level expressions — no UDFs, no collect.
  *
  * Scale design: brute-force top-k is the correctness baseline (one scan ×
  * queries, fine for a handful of probes); the production path is the
  * sign-LSH bucketed variant — candidates come from an equi-join on a
  * quantized bucket id, so the plan is scan → hash join → per-query top-k
  * window, never a cartesian product. An IVF variant would replace the
  * bucket id with a nearest-centroid id; the join/window shape is identical.
  */
object Embeddings {

  /** Left-fold dot product of two array<float> columns in double precision.
    * Uses the native codegen'd `float_vec_dot` (graft.expr.FloatVecDot) —
    * the HOF formulation in [[dotFold]] is CodegenFallback and ~interpreted
    * per element. Requires GraftExtensions (the operators below install it
    * on their input's session automatically). Bit-identical to [[dotFold]]:
    * same ascending left fold from 0.0. */
  def dot(a: String, b: String): Column = expr(s"float_vec_dot($a, $b)")

  /** Built-ins-only dot product (same values as [[dot]], no extension
    * registration needed). */
  def dotFold(a: String, b: String): Column =
    expr(s"""aggregate(zip_with($a, $b, (x, y) -> cast(x AS double) * cast(y AS double)),
        cast(0 AS double), (acc, v) -> acc + v)""")

  /** Cosine similarity via explicit norms (works for non-normalized input). */
  def cosine(a: String, b: String): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Sign-LSH bucket id from the first `bits` dimensions: bit d set iff
    * component d ≥ 0 (axis-aligned random-hyperplane LSH for cosine —
    * deterministic and engine-portable, unlike seeded random hyperplanes). */
  def signBucket(vecCol: String, bits: Int): Column =
    expr(s"""aggregate(
        zip_with(slice($vecCol, 1, $bits), sequence(0, ${bits - 1}),
          (x, b) -> IF(cast(x AS double) >= 0D, shiftleft(1, b), 0)),
        0, (acc, v) -> acc + v)""")

  /** Auto-scaled sign-LSH width — SCALE.md's production rule
    * ("scale `bits` with log₂(n)") as code instead of prose: the
    * smallest b with 2^b ≥ ⌈n / targetBucketSize⌉, clamped to
    * [minBits, maxBits], so EXPECTED bucket population stays ≈
    * targetBucketSize as the corpus grows (10× data → +3.3 bits) and a
    * within-bucket join's per-bucket work stays flat instead of growing
    * linearly. Entirely INTEGER arithmetic (ceil-div + bit length) so
    * the DuckDB oracle replays it exactly:
    * `length(bin(q - 1))` with q = (n + t - 1) // t — no float log2 at
    * a power-of-two boundary to disagree about. `maxBits` must not
    * exceed the embedding dimension (the bucket reads the first b
    * components). */
  def autoBits(
      n: Long,
      targetBucketSize: Long,
      minBits: Int = 4,
      maxBits: Int = 24): Int = {
    require(n >= 0 && targetBucketSize >= 1, "need n >= 0 and target >= 1")
    require(1 <= minBits && minBits <= maxBits, "need 1 <= minBits <= maxBits")
    val q = (n + targetBucketSize - 1) / targetBucketSize
    val b = if (q <= 1) 0
    else 64 - java.lang.Long.numberOfLeadingZeros(q - 1)
    math.min(maxBits, math.max(minBits, b))
  }

  /** [[lshTopK]] with the bucket width derived from the CORPUS SIZE via
    * [[autoBits]] — one count aggregate, then the normal bucketed plan.
    * No manual `bits` knob to forget when the corpus 10×es. */
  def lshTopKAuto(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryPred: Column,
      targetBucketSize: Long,
      k: Int,
      scope: CacheScope = CacheScope.global,
  ): DataFrame =
    lshTopK(emb, idCol, vecCol, queryPred,
      autoBits(emb.count(), targetBucketSize), k, scope)

  /** [[bitextMine]] with [[autoBits]]-derived bucket width (count once,
    * then the normal pipeline) — the log₂(n) scaling its scaladoc calls
    * production practice, with the per-bucket cap kept as the skew
    * backstop. */
  def bitextMineAuto(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      sideAPred: Column,
      targetBucketSize: Long,
      k: Int,
      minMargin: Double,
      maxPerBucketSide: Int = Int.MaxValue,
      scope: CacheScope = CacheScope.global,
  ): DataFrame =
    bitextMine(emb, idCol, vecCol, sideAPred,
      autoBits(emb.count(), targetBucketSize), k, minMargin,
      maxPerBucketSide, scope)

  /** [[hardNegatives]] with [[autoBits]]-derived bucket width — the
    * fixed-bits variant is quadratic in disguise when anchors grow with
    * the corpus (in-bucket candidates per anchor ∝ n/2^bits — the
    * bitextMine lesson); bits = ceil(log₂(n/target)) keeps bucket
    * population flat as corpora grow, with no manual knob to forget. */
  def hardNegativesAuto(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      anchorPred: Column,
      targetBucketSize: Long,
      k: Int,
      bandLo: Double,
      bandHi: Double,
      scope: CacheScope = CacheScope.global,
  ): DataFrame =
    hardNegatives(emb, idCol, vecCol, anchorPred,
      autoBits(emb.count(), targetBucketSize), k, bandLo, bandHi, scope)

  /** Brute-force cosine top-k neighbors of one query vector. The 1-row
    * query side is broadcast; scores sort on the 6-dp-rounded cosine with
    * id tie-break so the cut is deterministic. */
  def bruteTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      k: Int,
  ): DataFrame = {
    graft.GraftExtensions.install(emb.sparkSession)
    // norms precomputed once per vector: per-pair work is ONE dot product,
    // not three (identical double values to the inline-cosine formula)
    val q = emb.where(col(idCol) === queryId)
      .select(col(vecCol).as("__q__"), sqrt(dot(vecCol, vecCol)).as("__qn__"))
    emb.where(col(idCol) =!= queryId)
      .withColumn("__n__", sqrt(dot(vecCol, vecCol)))
      .crossJoin(broadcast(q))
      .withColumn("cosine",
        round(dot(vecCol, "__q__") / (col("__n__") * col("__qn__")), 6))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("cosine"))
  }

  /** Bucketed ANN: per-query top-k within the query's sign-LSH bucket.
    * Candidates come from an equi-join on the bucket id (no cartesian);
    * ranking is a per-query row_number window. */
  def lshTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryPred: Column,
      bits: Int,
      k: Int,
      scope: CacheScope = CacheScope.global,
  ): DataFrame = {
    graft.GraftExtensions.install(emb.sparkSession)
    val withBkt = scope.cache(emb // read by query + candidate side
      .withColumn("__bkt__", signBucket(vecCol, bits))
      .withColumn("__n__", sqrt(dot(vecCol, vecCol))))
    val queries = withBkt.where(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("__q__"),
        col("__bkt__").as("__qbkt__"), col("__n__").as("__qn__"))
    val scored = queries
      .join(withBkt,
        col("__qbkt__") === col("__bkt__") && col(idCol) =!= col("query_id"))
      .withColumn("cosine",
        round(dot(vecCol, "__q__") / (col("__n__") * col("__qn__")), 6))
    // k-bounded cut (the ivfScoreTail move): per-query bucket populations
    // grow with the corpus; the aggregate combines map-side where the
    // window would shuffle + sort all of them
    topKCut(scored, Seq("query_id"), idCol, k)
  }

  /** The id (and tag) types that ride `topk_by`'s BIGINT slots
    * exactly; other types take the row_number window instead. */
  private[graft] val IntegralTypes: Set[DataType] =
    Set(ByteType, ShortType, IntegerType, LongType)

  /** The shared k-bounded (score desc, id asc) cut over a scored
    * candidate frame carrying `groupCols` + idCol + `score` (+ `tag`):
    * the `topk_by` hash aggregate when the id and tag are integral
    * (map-side combine — each mapper ships ≤k entries per group, where
    * the window would shuffle and sort every candidate), emitted by a
    * posexplode PROJECTION after the aggregate, which also runs on a
    * stream; the [[ivfScoreTailWindow]] anchor otherwise. The aggregate's
    * array is already in rank order. Value identity with the window is
    * spec-pinned, including NULL scores and the k boundary. No group
    * columns cuts globally. Emits groupCols ++ (neighbor_id, score,
    * rank) ++ tag. */
  private def topKCut(
      scored: DataFrame, groupCols: Seq[String], idCol: String, k: Int,
      score: String = "cosine", tag: Option[String] = None): DataFrame = {
    val idType = scored.schema(idCol).dataType
    val tagTypes = tag.map(t => t -> scored.schema(t).dataType)
    val groups = groupCols.map(col)
    if (IntegralTypes(idType) && tagTypes.forall(t => IntegralTypes(t._2)))
      topKArrays(scored, groupCols, idCol, k, score, tag)
        .select(groups :+ posexplode(col("__tk__")).as(Seq("__p__", "__e__")): _*)
        .select((groups ++ Seq(
          col("__e__.id").cast(idType).as("neighbor_id"),
          col("__e__.score").as(score),
          (col("__p__") + 1).cast("int").as("rank")) ++
          tagTypes.map { case (t, tt) => col("__e__.tag").cast(tt).as(t) }): _*)
    else ivfScoreTailWindow(scored, idCol, k, tag.toSeq, groupCols, score)
  }

  /** The `topk_by` aggregate behind [[topKCut]]: one rank-ordered
    * `__tk__` array of (score, id, tag) per group. Callers that consume
    * the array in a projection (the streaming kNN vote) stop here. */
  private[graft] def topKArrays(
      scored: DataFrame, groupCols: Seq[String], idCol: String, k: Int,
      score: String = "cosine", tag: Option[String] = None): DataFrame = {
    val tagExpr = tag.fold("CAST(NULL AS BIGINT)")(t => s"CAST($t AS BIGINT)")
    scored.groupBy(groupCols.map(col): _*)
      .agg(expr(s"topk_by($score, CAST($idCol AS BIGINT), $tagExpr, $k)")
        .as("__tk__"))
  }

  /** HARD-NEGATIVE mining for contrastive / dense-retrieval training —
    * the training-data op that turns an embedded corpus into triplet
    * supervision: for each anchor, the top-k corpus vectors whose cosine
    * falls in the HARD BAND [bandLo, bandHi) — similar enough to be
    * informative negatives, strictly below the near-positive ceiling
    * (mining above it poisons training with unlabeled positives — the
    * published dense-retrieval mining rule: ANCE/RocketQA both cap the
    * candidate similarity for exactly this reason; the ceiling is also
    * where [[semDedup]]'s near-dup threshold lives, so dedup and mining
    * share one knob).
    *
    * Scale shape = [[lshTopK]]'s: sign-LSH bucket equi-join generates
    * candidates (never all-pairs — at 100 TB the blocking is what makes
    * mining tractable), the band filters BEFORE the per-anchor
    * row_number window, and only anchors × k rows survive. Determinism:
    * 6-dp cosines, (cosine desc, id) tie-break.
    * Returns (anchor_id, negative_id, cosine, rank ≤ k). */
  def hardNegatives(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      anchorPred: Column,
      bits: Int,
      k: Int,
      bandLo: Double,
      bandHi: Double,
      scope: CacheScope = CacheScope.global,
  ): DataFrame = {
    require(bandLo < bandHi, s"empty hard band [$bandLo, $bandHi)")
    graft.GraftExtensions.install(emb.sparkSession)
    val withBkt = scope.cache(emb
      .withColumn("__bkt__", signBucket(vecCol, bits))
      .withColumn("__n__", sqrt(dot(vecCol, vecCol))))
    val anchors = withBkt.where(anchorPred)
      .select(col(idCol).as("anchor_id"), col(vecCol).as("__q__"),
        col("__bkt__").as("__qbkt__"), col("__n__").as("__qn__"))
    val banded = anchors
      .join(withBkt,
        col("__qbkt__") === col("__bkt__") && col(idCol) =!= col("anchor_id"))
      .withColumn("cosine",
        round(dot(vecCol, "__q__") / (col("__n__") * col("__qn__")), 6))
      .where(col("cosine") >= bandLo && col("cosine") < bandHi)
    topKCut(banded, Seq("anchor_id"), idCol, k)
      .withColumnRenamed("neighbor_id", "negative_id")
  }

  /** IVF-style ANN: assign every vector to its nearest "centroid" (highest
    * cosine among the `centroidPred` rows — here fixed sampled vectors, the
    * deterministic stand-in for trained k-means centroids), then answer
    * each query from its own cell only (nprobe=1). Plan shape: one small
    * broadcast (centroids) × scan for assignment, then a cell equi-join +
    * per-query top-k window — the same join/window skeleton as [[lshTopK]]
    * with the bucket id swapped for a centroid id, which is exactly how a
    * trained-IVF variant would slot in.
    *
    * The assignment stage is a PER-ROW ARGMAX FOLD over a one-row
    * broadcast array of all centroids — zero row expansion, zero extra
    * shuffle. (The obvious alternative — crossJoin(centroids) +
    * row_number window — materializes n×k rows and sorts them per map
    * task; at 100 TB that k× inflates the scan output for no reason.)
    * The fold's tie-break (higher rounded cosine, then lower centroid id)
    * totally orders candidates, so the argmax is independent of the
    * nondeterministic collect_list order. */
  def ivfTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      centroidPred: Column,
      queryPred: Column,
      k: Int,
      scope: CacheScope = CacheScope.global,
  ): DataFrame = {
    val centroids = emb.where(centroidPred)
      .select(col(idCol).as("cid"), col(vecCol).as("cv"))
    ivfTopKTrained(emb, idCol, vecCol, centroids, queryPred, k, scope = scope)
  }

  /** IVF top-k against an EXPLICIT centroid table `(cid, cv)` — e.g. the
    * output of [[kmeansFit]]. `cv` may be array<float> or array<double>
    * (float_vec_dot accepts either side). `nprobe` > 1 searches each
    * query's best-nprobe CELLS (the standard IVF recall knob): candidates
    * still live in exactly one cell each, so probing P distinct cells
    * never duplicates a neighbor; the P-cell ranking is [[ivfProbe]]'s
    * projection on the tiny query side, never a corpus expansion. */
  def ivfTopKTrained(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      queryPred: Column,
      k: Int,
      nprobe: Int = 1,
      scope: CacheScope = CacheScope.global,
  ): DataFrame = {
    graft.GraftExtensions.install(emb.sparkSession)
    require(nprobe >= 1, "nprobe must be at least 1")
    val assigned = scope.cache(
      withCell(emb.withColumn("__n__", sqrt(dot(vecCol, vecCol))),
        vecCol, centroids)
        .select(col(idCol), col(vecCol), col("__n__"), col("__cell__")))
    val asked = assigned.where(queryPred)
    // the queries come out of the assigned corpus, so at nprobe = 1
    // their own cell is already there — no second centroid fold
    val queries =
      if (nprobe == 1)
        asked.select(col(idCol).as("query_id"), col(vecCol).as("__q__"),
          col("__n__").as("__qn__"), col("__cell__").as("__qcell__"))
      else ivfProbe(asked, idCol, vecCol, centroids, nprobe)
    ivfScoreTail(queries, assigned, idCol, vecCol, k)
  }

  /** The persisted index's centroid table, read through the schema memo
    * (a warm serve runs no inference job). */
  private[graft] def storedCentroids(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.sources.ParquetIO.read(spark, s"$dir/centroids")

  /** All centroids folded into ONE row: `__cents__` =
    * array<struct<__cid__, __cv__, __cn__>> (k centroids × dim values — a
    * few MB even at IVF-scale k), the operand `vec_argmax_cell` takes. A
    * global aggregate, so attaching it is a provably-1-row build side for
    * the BNLJ lint — a read-back centroid TABLE would not be. L2 mode
    * (residual quantizers) carries ‖cv‖² in the third field. */
  private def centroidArray(
      centroids: DataFrame, l2: Boolean = false): DataFrame =
    centroids
      .select(col("cid").as("__cid__"), col("cv").as("__cv__"),
        (if (l2) dot("cv", "cv") else sqrt(dot("cv", "cv"))).as("__cn__"))
      .agg(collect_list(
        struct(col("__cid__"), col("__cv__"), col("__cn__"))).as("__cents__"))

  /** Attach a provably-1-row frame to every row of `df`: a broadcast
    * cross join in batch; on a stream an equi-join on a literal key,
    * because a stream-static cross join is the unsupported shape. */
  private def attachOne(df: DataFrame, one: DataFrame): DataFrame =
    if (!df.isStreaming) df.crossJoin(broadcast(one))
    else df.withColumn("__one__", lit(1))
      .join(one.withColumn("__one__", lit(1)), Seq("__one__"))
      .drop("__one__")

  /** Pin a model-parameter-sized frame (centroids, codebooks, a
    * rotation) driver-side: one collect, `check` over the collected
    * rows, and those same rows as a LocalRelation. A pinned frame is a
    * provably literal broadcast side and re-reads nothing; it is never
    * `scope.cache`d — caching it would build an InMemoryRelation of rows
    * the driver already holds, and each later collect of it a job. */
  private def pin(df: DataFrame, check: Array[Row] => Unit = _ => ()): DataFrame =
    df.sparkSession.createDataFrame(df.collect().tap(check).toSeq.asJava, df.schema)

  /** The IVF probe front-end every serve shares, batch and streaming:
    * `queries` (idCol, vecCol) become (query_id, __q__, __qn__,
    * __qcell__), one row per probed cell. The centroids fold once into
    * the 1-row [[centroidArray]]. nprobe = 1 is the codegen'd
    * `vec_argmax_cell` assignment. nprobe > 1 ranks the probe cells in a
    * PROJECTION over the same array: sort the per-centroid (rounded
    * cosine, cid) structs with NULL sims last, NaN sims first (Spark's
    * desc total order), then sim desc via negation, then cid asc; slice
    * the first nprobe; explode. That is the (sim desc, cid) row_number
    * window's order (LlmSpec pins it against a window reference), and
    * being window-free it runs on a stream. The HOF sort is
    * CodegenFallback, fine on the tiny query side. */
  private[graft] def ivfProbe(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      nprobe: Int): DataFrame = {
    require(nprobe >= 1, "nprobe must be at least 1")
    val cells =
      if (nprobe == 1) expr("vec_argmax_cell(__q__, __qn__, __cents__)")
      else explode(expr(
        s"""transform(slice(array_sort(transform(
              transform(__cents__, c -> named_struct(
                's', round(float_vec_dot(__q__, c.__cv__)
                           / (__qn__ * c.__cn__), 6),
                'cid', c.__cid__)),
              p -> named_struct(
                'sn', p.s IS NULL,
                'nf', coalesce(NOT isnan(p.s), true),
                'ns', -p.s,
                'cid', p.cid))), 1, $nprobe), s -> s.cid)"""))
    attachOne(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("__q__"),
        sqrt(dot(vecCol, vecCol)).as("__qn__")),
      centroidArray(centroids))
      .select(col("query_id"), col("__q__"), col("__qn__"),
        cells.as("__qcell__"))
  }

  /** The probe-cell equi-join against the assigned corpus (`__cell__`,
    * idCol, vecCol, `__n__`) with the exact cosine inside the cell —
    * the candidates every IVF top-k serve ranks. */
  private[graft] def ivfScored(
      probed: DataFrame, postings: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    probed
      .join(postings,
        col("__qcell__") === col("__cell__") && col(idCol) =!= col("query_id"))
      .withColumn("cosine",
        round(dot(vecCol, "__q__") / (col("__n__") * col("__qn__")), 6))

  /** The shared IVF scoring tail: [[ivfScored]] candidates cut to the
    * (cosine desc, id) top-k per query by [[topKCut]]. `tag` carries
    * one more posting column (e.g. a denormalized label) through the
    * cut — zero extra scans or joins, the column rides the same rows. */
  private def ivfScoreTail(
      queries: DataFrame,
      assigned: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      tag: Option[String] = None): DataFrame =
    topKCut(ivfScored(queries, assigned, idCol, vecCol), Seq("query_id"),
      idCol, k, tag = tag)

  /** The row_number-window formulation of the top-k cut — the
    * value-identity ANCHOR [[topKCut]]'s `topk_by` aggregate is
    * spec-pinned against, and the fallback for non-integral id types. */
  private[graft] def ivfScoreTailWindow(
      joined: DataFrame, idCol: String, k: Int,
      extra: Seq[String] = Seq.empty,
      groupCols: Seq[String] = Seq("query_id"),
      score: String = "cosine"): DataFrame =
    joined
      .withColumn("rank",
        row_number().over(Window.partitionBy(groupCols.map(col): _*)
          .orderBy(col(score).desc, col(idCol))))
      .where(col("rank") <= k)
      .select((groupCols.map(col) ++ Seq(col(idCol).as("neighbor_id"),
        col(score), col("rank")) ++ extra.map(col)): _*)

  /** PERSIST the IVF index — the ANN family's train-once artifact next
    * to the MinHash / dHash / video-hash indexes: the centroid table as
    * plain parquet (`dir/centroids`) and the cell-ASSIGNED corpus
    * postings (`__cell__`, id, vec, norm) as a bucketed table on
    * `__cell__` (`dir/postings`) — corpus assignment is paid ONCE at
    * ingest, so no future query re-assigns (or re-scans twice) the
    * corpus, and the bucketed layout feeds the probe-cell join with
    * zero index-side exchanges. */
  def ivfIndexSave(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      table: String,
      dir: String,
      buckets: Int = 8,
      attrs: Seq[String] = Seq.empty): Unit = {
    graft.GraftExtensions.install(emb.sparkSession)
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    // `attrs` denormalizes filter attributes (language, license, source
    // tier…) onto the postings, the production FILTERED-search layout:
    // a predicate then applies AT THE POSTINGS SCAN (parquet pushdown)
    // instead of a corpus-side join at query time
    val assigned =
      withCell(emb.withColumn("__n__", sqrt(dot(vecCol, vecCol))),
        vecCol, centroids)
        .select((Seq(idCol, vecCol, "__n__", "__cell__") ++ attrs)
          .map(col): _*)
    graft.sources.ParquetIO.writeBucketed(
      assigned, table, s"$dir/postings", "__cell__", buckets)
  }

  /** APPEND maintenance for a persisted [[ivfIndexSave]] artifact — the
    * ANN twin of [[Dedup.minhashIndexAppend]]: ONLY the new vectors are
    * assigned (against the STORED centroids read back from `dir`) and
    * their postings append to the bucketed table — no refit, no rebuild,
    * no touch of the existing postings. Query-after-append is value-
    * identical to a full rebuild AGAINST THE SAME CENTROIDS (spec-pinned).
    *
    * Centroid-staleness semantics (the documented trade): centroids stay
    * frozen at fit time, so as the appended distribution drifts the cells
    * stop being the k-means optimum of the CURRENT corpus — assignment
    * stays well-defined (deterministic argmax over the frozen centroids,
    * queries probe the same frozen cells) and recall degrades gracefully
    * rather than breaking; a periodic [[ivfIndexSave]] refit is the
    * compaction that restores the optimum. This is the standard
    * production IVF maintenance contract (FAISS `add` after `train`). */
  def ivfIndexAppend(
      newEmb: DataFrame,
      idCol: String,
      vecCol: String,
      dir: String,
      table: String,
      buckets: Int = 8): Unit = {
    graft.GraftExtensions.install(newEmb.sparkSession)
    val assigned =
      withCell(newEmb.withColumn("__n__", sqrt(dot(vecCol, vecCol))),
        vecCol, storedCentroids(newEmb.sparkSession, dir))
        .select(col(idCol), col(vecCol), col("__n__"), col("__cell__"))
    graft.sources.ParquetIO.appendBucketed(assigned, table, "__cell__", buckets)
  }

  /** PERIODIC REFIT — the "compaction" the append maintenance contract
    * defers to ([[ivfIndexAppend]]'s documented trade: frozen centroids
    * degrade recall gracefully as appended data drifts; a refit
    * restores the k-means optimum). Reads the stored raw-vector
    * postings back (they carry everything a refit needs — ids, vectors,
    * denormalized attrs), re-fits √n centroids on the CURRENT corpus,
    * re-assigns, and writes a NEW index version (never in-place —
    * [[graft.sources.ParquetIO.promoteVersion]] is the atomic
    * switch-over, retirement after consumers drain). Deterministic:
    * the fit's init is id-ordered, so refitting from the postings is
    * bit-identical to [[ivfIndexSave]] over the same (id, vector) set
    * (spec-pinned). */
  def ivfIndexRefit(
      spark: org.apache.spark.sql.SparkSession,
      srcDir: String,
      idCol: String,
      vecCol: String,
      dstTable: String,
      dstDir: String,
      buckets: Int = 8,
      iters: Int = 2,
      scope: CacheScope = CacheScope.global,
      sampleCap: Option[Long] = None): Unit = {
    graft.GraftExtensions.install(spark)
    val postings = graft.sources.ParquetIO.read(spark, s"$srcDir/postings")
    val attrs = postings.columns
      .filterNot(Set(idCol, vecCol, "__n__", "__cell__")).toSeq
    val emb = scope.cache(postings.drop("__n__", "__cell__"))
    // sampleCap bounds the TRAINING set (FAISS practice: ~max(100k,
    // 256·k) rows suffice to fit the quantizer) while k and the
    // re-assignment still cover the full corpus — without it the refit's
    // Lloyd passes re-scan every posting, the last linear-in-corpus cost
    // in the lifecycle. pct derives from the same cached count that
    // sizes k, so no extra corpus scan; the kept set replays via the
    // hashSample cutoff.
    val cents = sampleCap match {
      case None => kmeansFitSqrtK(emb, idCol, vecCol, iters, scope)
      case Some(cap) =>
        val (k, pct) = sqrtKSampleSizing(emb, cap)
        kmeansFitSampled(emb, idCol, vecCol, k, iters, pct, scope)
    }
    ivfIndexSave(emb, idCol, vecCol, cents, dstTable, dstDir, buckets, attrs)
  }

  /** A sampled refit's sizing from ONE corpus count n: k = floor(√n)
    * coarse cells (a corpus property, so the full count) and the
    * hashSample percentage that keeps about `sampleCap` rows. */
  private def sqrtKSampleSizing(emb: DataFrame, sampleCap: Long): (Int, Double) = {
    require(sampleCap >= 1, "sampleCap must be at least 1")
    val n = math.max(1L, emb.count())
    val k = math.max(1L, math.floor(math.sqrt(n.toDouble)).toLong)
    (math.min(k, Int.MaxValue.toLong).toInt,
      math.min(100.0, sampleCap.toDouble * 100.0 / n))
  }

  /** Cell-population PROFILE of an IVF postings frame — the maintenance
    * dashboard behind hot-cell detection: (cell, n_postings, load_ppm)
    * where load_ppm = floor(n·10⁶ / total) in exact integer arithmetic.
    * One hash aggregate (zero-shuffle on a `__cell__`-bucketed postings
    * table); the total derives from the already-aggregated tiny frame
    * via an unbounded window, never a second corpus scan. A cell whose
    * load_ppm ≫ 10⁶/k is the IVF family's hot LSH bucket: every probe
    * landing on it scans unboundedly many postings — feed it to
    * [[ivfHotCellSplit]]. */
  def ivfCellProfile(postings: DataFrame): DataFrame = {
    val agg = postings
      .groupBy(col("__cell__").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_postings"))
    agg
      .withColumn("__tot__",
        sum(col("n_postings")).over(
          Window.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
      .select(col("cell"), col("n_postings"),
        expr("(n_postings * 1000000) DIV __tot__").as("load_ppm"))
  }

  /** HOT-CELL SPLIT maintenance — the IVF equivalent of the LSH
    * family's bucket caps (the quadratic-in-disguise lesson): a skewed
    * cell makes every probe landing on it scan unboundedly many
    * postings, so cells whose population exceeds `maxCell` are re-fit
    * k=2 INSIDE the cell (seeds = the cell's two smallest member ids,
    * exact-decimal Lloyd's — set-wise across all hot cells at once,
    * never a per-cell driver loop) and ONLY their postings reassign;
    * everything else copies through. Child cell ids are
    * `seed_id + max(id)+1` — collision-free vs every surviving cid
    * (original cids are seed vector ids ≤ max(id)) and deterministic.
    * Writes a NEW index version (centroids = survivors ∪ children,
    * postings re-bucketed) to `dstDir`; the caller promotes/retires
    * like any other version swap. Queries then assign over the new
    * centroid table — a probe that previously hit the hot cell lands
    * on the child covering its region and scans roughly half the
    * postings per split level. */
  def ivfHotCellSplit(
      spark: org.apache.spark.sql.SparkSession,
      srcDir: String,
      idCol: String,
      vecCol: String,
      dstTable: String,
      dstDir: String,
      maxCell: Long,
      buckets: Int = 8,
      iters: Int = 2): Unit = {
    graft.GraftExtensions.install(spark)
    require(maxCell >= 2, "maxCell must be at least 2")
    val postings = graft.sources.ParquetIO.read(spark, s"$srcDir/postings")
    val centroids = storedCentroids(spark, srcDir)
    val idType = postings.schema(idCol).dataType
    require(IntegralTypes(idType),
      s"ivfHotCellSplit needs an integral '$idCol' (got $idType)")
    val attrs = postings.columns
      .filterNot(Set(idCol, vecCol, "__n__", "__cell__")).toSeq
    // hot set + id offset: two bounded collects (cells are
    // model-parameter-sized; the max id is one scalar)
    val hot = postings
      .groupBy(col("__cell__").cast("long").as("__c__"))
      .agg(count(lit(1)).as("__n__"))
      .where(col("__n__") > maxCell)
      .collect().map(_.getLong(0)).toSet
    if (hot.isEmpty) {
      centroids.write.mode("overwrite").parquet(s"$dstDir/centroids")
      graft.sources.ParquetIO.writeBucketed(
        postings, dstTable, s"$dstDir/postings", "__cell__", buckets)
      return
    }
    val hotSeq = hot.toSeq
    val off = postings.agg(max(col(idCol).cast("long")))
      .collect()(0).getLong(0) + 1L
    val members = postings
      .where(col("__cell__").cast("long").isInCollection(hotSeq))
    // per-parent sub-assignment against that parent's two child
    // centroids: the tiny (parent → 2-element centroid array) frame
    // broadcasts and the argmax runs as the same native the global
    // assignment uses — order-independent fold, array sorted by cid
    def assignSub(c: DataFrame): DataFrame = {
      val arr = c
        .select(col("__pc__"),
          struct(col("__ccid__").as("__cid__"), col("__ccv__").as("__cv__"),
            sqrt(expr("float_vec_dot(__ccv__, __ccv__)")).as("__cn__"))
            .as("__s__"))
        .groupBy(col("__pc__"))
        .agg(sort_array(collect_list(col("__s__"))).as("__subcents__"))
      members
        .join(broadcast(arr), col("__cell__").cast("long") === col("__pc__"))
        .withColumn("__subc__",
          expr(s"vec_argmax_cell($vecCol, __n__, __subcents__)"))
        .drop("__subcents__", "__pc__")
    }
    // seeds: the two smallest member ids per hot cell via the k-bounded
    // topk_by aggregate (map-side combined — never a per-cell sort of
    // the skewed cell's full population), vectors joined back by id
    val seedIds = members
      .groupBy(col("__cell__").cast("long").as("__pc__"))
      .agg(expr(s"topk_by(CAST(-$idCol AS DOUBLE), CAST($idCol AS BIGINT), " +
        "CAST(NULL AS BIGINT), 2)").as("__tk__"))
      .select(col("__pc__"), explode(expr("transform(__tk__, e -> e.id)"))
        .as("__sid__"))
    var cents = pin(members
      .join(broadcast(seedIds),
        col("__cell__").cast("long") === col("__pc__") &&
          col(idCol).cast("long") === col("__sid__"))
      .select(col("__pc__"), (col("__sid__") + lit(off)).as("__ccid__"),
        expr(s"transform($vecCol, v -> CAST(v AS double))").as("__ccv__")))
    for (_ <- 1 to iters) {
      cents = pin(assignSub(cents)
        .where(col("__subc__").isNotNull)
        .select(col("__cell__").cast("long").as("__pc__"), col("__subc__"),
          posexplode(col(vecCol)).as(Seq("__d__", "__x__")))
        .groupBy(col("__pc__"), col("__subc__"), col("__d__"))
        .agg(exactMean("__x__").as("__m__"))
        .groupBy(col("__pc__"), col("__subc__"))
        .agg(expr(
          "transform(array_sort(collect_list(struct(__d__, __m__))), s -> s.__m__)")
          .as("__ccv__"))
        .select(col("__pc__"), col("__subc__").as("__ccid__"), col("__ccv__")))
    }
    val reassigned = assignSub(cents)
      .select((Seq(col(idCol), col(vecCol), col("__n__")) ++
        attrs.map(col) :+ col("__subc__").as("__cell__")): _*)
    // null-safe: a NULL-cell posting (zero-norm vector the cosine argmax
    // could not assign) must COPY THROUGH unchanged — `!isInCollection`
    // alone is NULL for NULL cells and would silently shrink the index
    val keep = postings
      .where(col("__cell__").isNull ||
        !col("__cell__").cast("long").isInCollection(hotSeq))
      .select((Seq(col(idCol), col(vecCol), col("__n__")) ++
        attrs.map(col) :+ col("__cell__")): _*)
    centroids
      .where(!col("cid").cast("long").isInCollection(hotSeq))
      .select(col("cid").cast("long").as("cid"),
        expr("transform(cv, v -> CAST(v AS double))").as("cv"))
      .unionByName(cents.select(col("__ccid__").as("cid"),
        col("__ccv__").as("cv")))
      .write.mode("overwrite").parquet(s"$dstDir/centroids")
    graft.sources.ParquetIO.writeBucketed(
      keep.unionByName(reassigned), dstTable, s"$dstDir/postings",
      "__cell__", buckets)
  }

  /** [[ivfHotCellSplit]] applied to a FIXED POINT: split rounds repeat
    * (each writing a fresh version dir `dstDir/r<i>`) until no cell
    * exceeds `maxCell` or `maxRounds` versions exist — a 2-way split
    * halves a hot cell per round, so rounds are logarithmic in the
    * worst cell's population. Returns the final version's dir. The
    * driver-side loop only sequences version dirs; every round's work
    * is the set-wise distributed split. */
  def ivfHotCellSplitToCap(
      spark: org.apache.spark.sql.SparkSession,
      srcDir: String,
      idCol: String,
      vecCol: String,
      tablePrefix: String,
      dstDir: String,
      maxCell: Long,
      buckets: Int = 8,
      iters: Int = 2,
      maxRounds: Int = 12): String = {
    var cur = srcDir
    var round = 0
    while (round < maxRounds && {
      // empty postings aggregate max() to NULL — treat as worst = 0 so
      // the loop exits immediately instead of NPE-ing on getLong
      val row = graft.sources.ParquetIO.read(spark, s"$cur/postings")
        .groupBy(col("__cell__")).agg(count(lit(1)).as("__n__"))
        .agg(max(col("__n__"))).collect()(0)
      val worst = if (row.isNullAt(0)) 0L else row.getLong(0)
      worst > maxCell
    }) {
      round += 1
      val next = s"$dstDir/r$round"
      spark.sql(s"DROP TABLE IF EXISTS ${tablePrefix}_r$round")
      ivfHotCellSplit(spark, cur, idCol, vecCol, s"${tablePrefix}_r$round",
        next, maxCell, buckets, iters)
      cur = next
    }
    cur
  }

  /** IVF top-k served from a PERSISTED [[ivfIndexSave]] artifact: ONLY
    * the (tiny) query frame assigns itself to cells — the corpus side
    * is the stored postings table, scanned as bucketed, never
    * re-assigned, never re-shuffled. Value-identical to
    * [[ivfTopKTrained]] with the same centroids (assignment is the same
    * deterministic argmax; the scoring tail is literally shared). */
  def ivfTopKIndexed(
      newQueries: DataFrame,
      idCol: String,
      vecCol: String,
      dir: String,
      postings: DataFrame,
      k: Int,
      nprobe: Int = 1,
      filter: Option[Column] = None,
      pushCells: Boolean = true): DataFrame = {
    graft.GraftExtensions.install(newQueries.sparkSession)
    val probed = ivfProbe(newQueries, idCol, vecCol,
      storedCentroids(newQueries.sparkSession, dir), nprobe)
    // FILTERED search (the production "top-k among license-clean docs in
    // my language" shape): the predicate applies to the POSTINGS SCAN —
    // with attributes denormalized at ingest ([[ivfIndexSave]] `attrs`)
    // it pushes into parquet, never a corpus-side join; candidates rank
    // AFTER filtering, so every query still returns k survivors when
    // the probed cell holds that many
    val cand = prunedPostings(
      filter.fold(postings)(postings.where(_)), probed, pushCells)
    ivfScoreTail(probed, cand, idCol, vecCol, k)
  }

  /** INCREMENTAL embedding near-dup ADMISSION against a persisted
    * [[ivfIndexSave]] artifact — the semantic-dedup twin of
    * [[graft.llm.Dedup.minhashJoinIndexed]]: is this new vector a
    * semantic duplicate of ANYTHING already in the corpus? Only the new
    * slice assigns itself (broadcast centroids, codegen'd argmax); the
    * postings scan as stored (bucketed, zero index-side exchange);
    * candidates = the probed cell's postings, exact cosine ≥ `threshold`
    * verifies. `nprobe` widens recall for boundary vectors exactly as
    * in serving — a neighbor lives in ONE cell, so probing more cells
    * never duplicates a pair. Emits (left_id, right_id, cosine). */
  def ivfNearDupJoinIndexed(
      newEmb: DataFrame,
      idCol: String,
      vecCol: String,
      dir: String,
      postings: DataFrame,
      threshold: Double,
      nprobe: Int = 1,
      pushCells: Boolean = true): DataFrame = {
    graft.GraftExtensions.install(newEmb.sparkSession)
    val probed = ivfProbe(newEmb, idCol, vecCol,
      storedCentroids(newEmb.sparkSession, dir), nprobe)
    probed
      .join(prunedPostings(postings, probed, pushCells),
        col("__qcell__") === col("__cell__"))
      .withColumn("cosine",
        round(dot(vecCol, "__q__") / (col("__n__") * col("__qn__")), 6))
      .where(col("cosine") >= threshold)
      .select(col("query_id").as("left_id"), col(idCol).as("right_id"),
        col("cosine"))
  }

  /** kNN LABEL PROPAGATION against a persisted [[ivfIndexSave]] artifact
    * — the semi-supervised curation op that transfers a small labeled
    * set's labels (quality tier, domain, license class) onto unlabeled
    * vectors at corpus scale: each query takes the MAJORITY label of its
    * k nearest neighbors (exact cosine within the probed cells, the
    * serving top-k cut), ties broken by (votes desc, label) so the
    * verdict is deterministic. The label must be a denormalized postings
    * attribute (`ivfIndexSave(attrs = Seq(label))`) — it then rides the
    * SAME posting rows through the top-k, zero extra scans or label-side
    * joins; the vote itself aggregates queries × k rows, never the
    * corpus. Emits (query_id, <labelCol>, votes). */
  def knnLabelIndexed(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      dir: String,
      postings: DataFrame,
      labelCol: String,
      k: Int,
      nprobe: Int = 1,
      pushCells: Boolean = true): DataFrame = {
    graft.GraftExtensions.install(queries.sparkSession)
    require(postings.columns.contains(labelCol),
      s"postings carry no '$labelCol' column — save the index with " +
        s"attrs = Seq(\"$labelCol\") so the label rides the posting rows")
    val probed = ivfProbe(queries, idCol, vecCol,
      storedCentroids(queries.sparkSession, dir), nprobe)
    val topk = ivfScoreTail(probed,
      prunedPostings(postings, probed, pushCells),
      idCol, vecCol, k, tag = Some(labelCol))
    topk
      .groupBy(col("query_id"), col(labelCol))
      .agg(count(lit(1)).as("votes"))
      // asc_nulls_last, not the Spark asc default (NULLS FIRST): the
      // DuckDB oracle's `ORDER BY count(*) DESC, label` defaults NULLS
      // LAST, so a NULL label tying at the top votes must lose the
      // tie-break on both engines
      .withColumn("__vr__", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("votes").desc, col(labelCol).asc_nulls_last)))
      .where(col("__vr__") === 1)
      .select(col("query_id"), col(labelCol), col("votes"))
  }

  /** kNN SCORE REGRESSION against a persisted label/score-attributed
    * [[ivfIndexSave]] artifact — [[knnLabelIndexed]]'s numeric twin
    * (transfer a quality score, a toxicity probability, a rating):
    * each query's prediction is the COSINE-WEIGHTED mean of its k
    * nearest neighbors' values,
    *   pred = Σ round(cosᵢ·yᵢ, 6) / Σ cosᵢ
    * with both sums taken as EXACT DECIMAL sums of 6-dp-rounded terms
    * (the [[kmeansFit]] mean discipline) so the result is independent
    * of summation order and bit-identical across engines; an
    * exactly-zero weight sum yields NULL on both (guarded division —
    * engines disagree on double/0). Same serving shape as the label
    * op: value rides the posting rows, the aggregate sees queries × k
    * rows. Emits (query_id, pred, k_used). */
  def knnScoreIndexed(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      dir: String,
      postings: DataFrame,
      valueCol: String,
      k: Int,
      nprobe: Int = 1,
      pushCells: Boolean = true): DataFrame = {
    graft.GraftExtensions.install(queries.sparkSession)
    require(postings.columns.contains(valueCol),
      s"postings carry no '$valueCol' column — save the index with " +
        s"attrs = Seq(\"$valueCol\") so the value rides the posting rows")
    val probed = ivfProbe(queries, idCol, vecCol,
      storedCentroids(queries.sparkSession, dir), nprobe)
    val topk = ivfScoreTail(probed,
      prunedPostings(postings, probed, pushCells),
      idCol, vecCol, k, tag = Some(valueCol))
    val num = sum(round(col("cosine") * col(valueCol).cast("double"), 6)
      .cast("decimal(27,8)")).cast("double")
    val den = sum(col("cosine").cast("decimal(27,8)")).cast("double")
    topk
      .groupBy(col("query_id"))
      .agg(
        when(den === 0.0, lit(null).cast("double"))
          .otherwise(round(num / den, 6)).as("pred"),
        count(lit(1)).as("k_used"))
  }

  /** An IN list longer than this stops being a cheap row-group filter —
    * past it the serve paths fall back to the plain probe join. */
  private val MaxPushedCells = 1024

  /** Probed-cell predicate PUSHDOWN (SCALE.md's "ready next lever"): the
    * probe join only ever keeps the probed cells' postings, but the join
    * formulation alone still READS every postings file. The probed-cell
    * set is query-batch-bounded (≤ queries × nprobe — never
    * corpus-shaped), so collecting it driver-side and applying
    * `__cell__ IN (...)` AT THE SCAN lets parquet row-group stats (the
    * postings sort by `__cell__` inside each bucket) skip unprobed
    * cells' bytes entirely. Value-neutral by construction: the equi-join
    * still enforces the semantics — the predicate only removes rows the
    * join would drop anyway (LlmSpec pins parity and the PushedFilters
    * plan shape). Falls back to the plain join when the batch probes
    * more than [[MaxPushedCells]] cells (a huge batch amortizes the full
    * scan anyway) — the collect is bounded by that same cap. */
  private def prunedPostings(
      postings: DataFrame, probed: DataFrame, pushCells: Boolean): DataFrame =
    // a streaming query side cannot be collected at plan time — the
    // pushdown silently degrades to the plain join (value-identical)
    if (!pushCells || probed.isStreaming) postings
    else {
      // bounded driver collect: ≤ MaxPushedCells + 1 cell ids
      val cells = probed.select(col("__qcell__")).distinct()
        .limit(MaxPushedCells + 1).collect().map(_.get(0)).filter(_ != null)
      if (cells.length > MaxPushedCells) postings
      // a NULL probe cell matches nothing in the equi-join, so dropping
      // nulls from the IN list (and short-circuiting the all-null case
      // to an empty scan) preserves the join's semantics exactly
      else if (cells.isEmpty) postings.where(lit(false))
      else postings.where(col("__cell__").isInCollection(cells.toSeq))
    }

  /** The coarse centroid table folded into ONE broadcastable row as a
    * map cid → cv: the per-row "my cell's centroid vector" lookup the
    * RESIDUAL paths need (residual computation at encode, the q·c
    * numerator term at serve) — a projection against a 1-row broadcast,
    * never a join of the corpus against the centroid table. */
  private def coarseCentMap(coarse: DataFrame): DataFrame =
    coarse.agg(map_from_entries(
      collect_list(struct(col("cid"), col("cv")))).as("__cmap__"))

  /** Residual frame: `__cell__` (coarse argmax on the RAW vector — the
    * IVF routing is unchanged by residual coding), `__ccv__` (that
    * cell's centroid) and `__res__` = x − c as array<double> (exact:
    * float→double widening is lossless and subtraction is correctly
    * rounded, so the oracle's `CAST(x[i] AS DOUBLE) - cv[i]` replays it
    * bit-for-bit). The zip_with runs once per corpus row at INGEST
    * (encode/fit time), never on a per-query path. */
  private def withResidual(
      emb: DataFrame, idCol: String, vecCol: String,
      coarse: DataFrame): DataFrame =
    withCell(emb.withColumn("__n__", sqrt(dot(vecCol, vecCol))), vecCol, coarse)
      .crossJoin(broadcast(coarseCentMap(coarse))) // 1-row build side
      .withColumn("__ccv__", element_at(col("__cmap__"), col("__cell__")))
      .withColumn("__res__",
        expr(s"zip_with($vecCol, __ccv__, (a, b) -> CAST(a AS DOUBLE) - b)"))
      .drop("__cmap__")

  /** PQ codebooks fit on RESIDUALS x − c(cell) instead of raw vectors —
    * the quantizer layout FAISS ships as IndexIVFPQ with by-residual
    * encoding (Jégou et al. 2011 §III): residuals concentrate around
    * the origin with far less variance than the raw corpus, so the same
    * m×k code budget quantizes markedly finer. Fit and assignment run
    * under L2 (argmin reconstruction distance — FAISS's metric), not
    * cosine: residuals are noise-like around the origin, so a
    * direction-only quantizer ignores exactly the magnitude information
    * that separates same-cell candidates (the cosine first cut measured
    * LOWER planted-cluster recall than plain coding — RecallCheck caught
    * it). Same deterministic Lloyd machinery as [[pqCodebooks]]
    * (6-dp-rounded member means, rounded-argmax assignment, cid
    * tie-break), just the L2 score formula. */
  def pqResidualCodebooks(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: DataFrame,
      dim: Int,
      m: Int,
      initPred: Column,
      iters: Int,
      scope: CacheScope = CacheScope.global,
  ): DataFrame = {
    graft.GraftExtensions.install(emb.sparkSession)
    val res = withResidual(emb, idCol, vecCol, coarse)
      .select(col(idCol), col("__res__"))
    pqCodebooks(res, idCol, "__res__", dim, m, initPred, iters, scope,
      l2 = true)
  }

  /** Marker name for residual-coded [[ivfPqIndexSave]] artifacts: the
    * artifact self-describes its encoding, so append and serve derive
    * the mode from the directory and can never disagree with the save
    * (the `_prune_spec` discipline from [[LangModel.knNgramFit]]). */
  private val ResidualMarker = "_pq_residual"

  private def writeResidualMarker(
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$ResidualMarker")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write("residual".getBytes("UTF-8")) finally out.close()
  }

  private def isResidualIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$ResidualMarker")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Pin a PQ codebook frame (segment, cid, cv) driver-side: the one
    * (m, dim) check, one collect, and the shape checks on the collected
    * rows — m·k rows, model-parameter-sized. Training/serving m or dim
    * drift fails loudly: a mismatched frame would otherwise score
    * silently wrong, because the dot's left fold truncates to the
    * shorter array. The same rows become the LocalRelation every PQ
    * serve and encode reads. */
  private def pinCodebooks(codebooks: DataFrame, m: Int, dim: Int): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim $dim must split into m=$m equal segments")
    val segLen = dim / m
    pin(codebooks.select(col("segment").cast("int").as("segment"), col("cid"),
      col("cv")), rows => {
      val shape = rows
        .filterNot(_.isNullAt(0)) // a null segment surfaces as "missing"
        .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
        .map { case (s, segRows) =>
          (s, segRows.filterNot(_.isNullAt(2)).map(_.getSeq[Any](2).size).distinct) }
      require(shape.map(_._1) == (0 until m),
        s"codebooks cover segments ${shape.map(_._1).mkString(",")}; expected 0..${m - 1} " +
          "(was the frame trained with a different m?)")
      shape.foreach { case (s, lens) =>
        require(lens.sameElements(Seq(segLen)),
          s"codebook segment $s has ${lens.minOption.getOrElse(-1)}-dim entries; expected $segLen " +
            "(was the frame trained with a different dim or m?)")
      }
    })
  }

  /** The pinned codebooks folded into ONE broadcastable row of maps
    * keyed by segment: `__cbs__` → array<struct<__cid__,__cv__,__cn__>>
    * (the operand `vec_argmax_cell[_l2]` takes; L2 mode carries ‖cv‖² in
    * `__cn__`), `__cn2s__` → (cid → ‖cv‖²) for the raw ADC denominator
    * and `__cvm__` → (cid → cv), the code → entry lookup the residual
    * encode reconstructs x̂ = c + r̂ from. Encode, inline
    * ADC and the stored-code serve all read this one fold, so their
    * assignments and partials cannot disagree. */
  private def codebookRow(pinned: DataFrame, l2: Boolean): DataFrame = {
    def bySegment(c: String, out: String): Column =
      map_from_entries(collect_list(struct(col("__s__"), col(c)))).as(out)
    val perSegment = pinned
      .select(col("segment").cast("int").as("__s__"),
        col("cid").as("__cid__"), col("cv").as("__cv__"),
        (if (l2) dot("cv", "cv") else sqrt(dot("cv", "cv"))).as("__cn__"),
        dot("cv", "cv").as("__cn2__"))
      .groupBy(col("__s__"))
      .agg(collect_list(struct(col("__cid__"), col("__cv__"), col("__cn__")))
        .as("__cents__"),
        map_from_entries(collect_list(struct(col("__cid__"), col("__cn2__"))))
          .as("__t__"),
        map_from_entries(collect_list(struct(col("__cid__"), col("__cv__"))))
          .as("__m__"))
    // a consumer that never reads a map (the serve, `__cvm__`) has it
    // pruned from the plan
    perSegment.agg(bySegment("__cents__", "__cbs__"),
      bySegment("__t__", "__cn2s__"), bySegment("__m__", "__cvm__"))
  }

  /** The one per-segment PQ encoder, over a frame carrying
    * [[codebookRow]]'s `__cbs__`: segment s of `vecCol` is sliced, its
    * norm taken, and `vec_argmax_cell` (`_l2` for residual codebooks —
    * the metric they were fit with) picks its entry; the m entry ids
    * land in `__codes__` in segment order. The index save and append
    * store these codes and the inline ADC computes them for its
    * candidates, so stored and inline codes are the same expression. */
  private def pqCodes(df: DataFrame, vecCol: String, m: Int, segLen: Int,
      l2: Boolean): DataFrame = {
    val argmaxFn = if (l2) "vec_argmax_cell_l2" else "vec_argmax_cell"
    (0 until m).foldLeft(df) { (d, s) =>
      d.withColumn(s"__seg${s}__", slice(col(vecCol), s * segLen + 1, segLen))
        .withColumn(s"__sn${s}__", sqrt(dot(s"__seg${s}__", s"__seg${s}__")))
        .withColumn(s"__code${s}__",
          expr(s"$argmaxFn(__seg${s}__, __sn${s}__, element_at(__cbs__, $s))"))
    }
      .withColumn("__codes__", array((0 until m).map(s => col(s"__code${s}__")): _*))
  }

  /** Per-query ADC lookup tables over a (tiny) query frame carrying
    * `__q__` and `__cbs__`: `__tabs__` maps segment s → (cid →
    * q_s·cv), m·k_codebook dot products per query row — model-
    * parameter-sized, never the corpus. */
  private def withTabs(queries: DataFrame, m: Int, segLen: Int): DataFrame =
    queries.withColumn("__tabs__", expr(
      s"""map_from_arrays(sequence(0, ${m - 1}),
          transform(sequence(0, ${m - 1}), s ->
            map_from_entries(transform(element_at(__cbs__, s), c ->
              struct(c.__cid__,
                float_vec_dot(slice(__q__, s * $segLen + 1, $segLen),
                  c.__cv__))))))"""))

  /** The one ADC score over `__codes__`: the m looked-up q·r̂ partials
    * summed LEFT-TO-RIGHT in segment order (an in-expression fold, so
    * the float order is fixed for any m and the oracle replays it).
    * Raw codes score q·r̂ / (‖q‖·sqrt(Σ‖r̂_s‖²)) from `__cn2s__`;
    * residual codes start the numerator from `__qc__` = q·c
    * ((qc + qd0) + qd1 …) over the stored reconstructed norm `__xn__`.
    * Rounded to 6 dp. */
  private def adcScore(m: Int, residual: Boolean): Column = {
    def code(s: Int) = s"element_at(__codes__, ${s + 1})"
    val qd = (0 until m).map(s => expr(s"element_at(element_at(__tabs__, $s), ${code(s)})"))
    if (residual)
      round(qd.foldLeft(col("__qc__"))(_ + _) / (col("__qn__") * col("__xn__")), 6)
    else {
      val cn2 = (0 until m).map(s => expr(s"element_at(element_at(__cn2s__, $s), ${code(s)})"))
      round(qd.reduce(_ + _) / (col("__qn__") * sqrt(cn2.reduce(_ + _))), 6)
    }
  }

  /** PERSIST the IVF-PQ index — the 100 TB serving artifact (the layout
    * FAISS ships as IndexIVFPQ; Jégou et al. 2011): `dir/centroids`
    * (coarse cells), `dir/codebooks` (m per-segment Lloyd's codebooks),
    * and `dir/postings` — the coded corpus bucketed on `__cell__`
    * holding ONLY (cell, id, m segment codes). A raw-vector posting
    * ([[ivfIndexSave]]) carries dim floats + a norm per row; the coded
    * posting carries m dictionary-encoded code ids, so the per-query
    * candidate scan reads ~dim·4/m÷(code bytes) ≈ 16–32× fewer bytes —
    * and at embedding scale the postings scan IS the serving cost.
    * Codes come from [[pqCodes]], the encoder the inline ADC path runs
    * on its candidates at query time, and both paths score with
    * [[adcScore]], so serving from the stored codes is bit-identical to
    * [[ivfPqTopK]] with the same coarse/codebook frames (LlmSpec pins
    * parity). */
  def ivfPqIndexSave(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: DataFrame,
      codebooks: DataFrame,
      dim: Int,
      m: Int,
      table: String,
      dir: String,
      buckets: Int = 8,
      attrs: Seq[String] = Seq.empty,
      residual: Boolean = false): Unit = {
    graft.GraftExtensions.install(emb.sparkSession)
    coarse.write.mode("overwrite").parquet(s"$dir/centroids")
    codebooks.write.mode("overwrite").parquet(s"$dir/codebooks")
    // residual artifacts SELF-DESCRIBE via a marker file, so append and
    // serve derive the encoding from the directory and can never
    // disagree with the save (codebooks must be residual-trained —
    // [[pqResidualCodebooks]]; a raw-trained frame would still encode
    // deterministically but reconstruct poorly)
    if (residual) writeResidualMarker(emb.sparkSession, dir)
    graft.sources.ParquetIO.writeBucketed(
      pqEncode(emb, idCol, vecCol, coarse, codebooks, dim, m, attrs, residual),
      table, s"$dir/postings", "__cell__", buckets)
  }

  /** PERIODIC REFIT for the coded serving artifact — the compaction
    * [[ivfPqIndexAppend]]'s staleness trade defers to. Coded postings
    * are LOSSY (codes, not vectors), so the refit reads the RAW-vector
    * artifact (`rawSrcDir`, an [[ivfIndexSave]] layout — the standard
    * raw-store + coded-serving split) and re-trains coarse + codebooks
    * on the current corpus, then re-encodes everything into a fresh
    * version. `sampleCap` bounds BOTH trainings via the hashSample
    * discipline ([[kmeansFitSampled]] / [[pqCodebooksSampled]] /
    * [[pqResidualCodebooksSampled]]) — without it a refit at 100 TB
    * pays iters full-corpus scans per quantizer; with it training cost
    * is cap-bounded and the corpus pays exactly one encode pass. */
  def ivfPqIndexRefit(
      spark: org.apache.spark.sql.SparkSession,
      rawSrcDir: String,
      idCol: String,
      vecCol: String,
      dstTable: String,
      dstDir: String,
      dim: Int,
      m: Int,
      kCodebook: Int = 64,
      buckets: Int = 8,
      iters: Int = 2,
      sampleCap: Option[Long] = None,
      residual: Boolean = false,
      scope: CacheScope = CacheScope.global): Unit = {
    graft.GraftExtensions.install(spark)
    val postings = graft.sources.ParquetIO.read(spark, s"$rawSrcDir/postings")
    val attrs = postings.columns
      .filterNot(Set(idCol, vecCol, "__n__", "__cell__")).toSeq
    val emb = postings.drop("__n__", "__cell__")
    // one corpus count sizes both the coarse k and the sample pct
    val sizing = sampleCap.map(sqrtKSampleSizing(emb, _))
    val coarse = sizing match {
      case None => kmeansFitSqrtK(emb, idCol, vecCol, iters, scope)
      case Some((k, p)) => kmeansFitSampled(emb, idCol, vecCol, k, iters, p, scope)
    }
    val pct = sizing.map(_._2)
    val cbs = (pct, residual) match {
      case (None, false) => pqCodebooks(emb, idCol, vecCol, dim, m,
        col(idCol) < kCodebook, iters, scope)
      case (None, true) => pqResidualCodebooks(emb, idCol, vecCol, coarse,
        dim, m, col(idCol) < kCodebook, iters, scope)
      case (Some(p), false) => pqCodebooksSampled(emb, idCol, vecCol,
        dim, m, kCodebook, iters, p, scope)
      case (Some(p), true) => pqResidualCodebooksSampled(emb, idCol,
        vecCol, coarse, dim, m, kCodebook, iters, p, scope)
    }
    ivfPqIndexSave(emb, idCol, vecCol, coarse, cbs, dim, m, dstTable,
      dstDir, buckets, attrs, residual)
  }

  /** APPEND maintenance for a persisted [[ivfPqIndexSave]] artifact —
    * [[ivfIndexAppend]]'s coded twin (FAISS add-after-train, PQ
    * edition): ONLY the new vectors assign + encode against the STORED
    * coarse centroids and codebooks (both frozen at fit time — the
    * documented staleness trade is [[ivfIndexAppend]]'s verbatim, now
    * also for the quantizer: drifted data reconstructs with higher
    * quantization error and recall degrades gracefully; a periodic
    * refit is the compaction). Coded postings append to the bucketed
    * table — no refit, no rebuild, existing postings untouched.
    * Query-after-append ≡ rebuild against the same coarse/codebooks
    * (spec-pinned). */
  def ivfPqIndexAppend(
      newEmb: DataFrame,
      idCol: String,
      vecCol: String,
      dir: String,
      table: String,
      dim: Int,
      m: Int,
      buckets: Int = 8,
      attrs: Seq[String] = Seq.empty): Unit = {
    graft.GraftExtensions.install(newEmb.sparkSession)
    val spark = newEmb.sparkSession
    val coarse = storedCentroids(spark, dir)
    val codebooks = graft.sources.ParquetIO.read(spark, s"$dir/codebooks")
    // the artifact self-describes its encoding — appended rows encode
    // exactly as the save did (residual or raw), against the same
    // frozen coarse centroids and codebooks
    graft.sources.ParquetIO.appendBucketed(
      pqEncode(newEmb, idCol, vecCol, coarse, codebooks, dim, m, attrs,
        residual = isResidualIndex(spark, dir)),
      table, "__cell__", buckets)
  }

  /** ONE pass over a vector frame: coarse cell + all m segment codes
    * from a single 1-row broadcast of the codebook arrays — zero row
    * expansion, zero shuffle before the bucketed write. Shared by the
    * index save and append paths so they cannot encode differently.
    * `attrs` denormalizes filter attributes onto the coded postings
    * (the [[ivfIndexSave]] filtered-search layout).
    *
    * `residual = true` encodes r = x − c(cell) instead of x (codebooks
    * must be residual-trained — [[pqResidualCodebooks]]) and stores one
    * extra column `__xn__` = ‖ĉ+r̂‖ (the RECONSTRUCTED vector's norm,
    * computed once at encode): with it the serve-side score is
    * (q·c + Σ_s q_s·r̂_s) / (‖q‖·__xn__) from per-query broadcast
    * lookups alone — no (cell × code × segment) cross-term table, which
    * is the piece of FAISS's precomputed-tables layout that stops
    * fitting in a broadcast once coarse cells reach 100 TB counts. One
    * stored double per posting buys that off. */
  private def pqEncode(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: DataFrame,
      codebooks: DataFrame,
      dim: Int,
      m: Int,
      attrs: Seq[String],
      residual: Boolean = false): DataFrame = {
    val pinned = pinCodebooks(codebooks, m, dim)
    val celled =
      if (residual) withResidual(emb, idCol, vecCol, coarse)
      else withCell(
        emb.withColumn("__n__", sqrt(dot(vecCol, vecCol))), vecCol, coarse)
    // residual mode assigns codes under L2 (the metric the residual
    // codebooks were fit with — fit and encode can never disagree);
    // raw mode keeps the cosine rule the inline ADC path shares
    val coded = pqCodes(celled.crossJoin(broadcast(codebookRow(pinned, residual))),
      if (residual) "__res__" else vecCol, m, dim / m, residual)
    if (!residual)
      coded.select(
        (Seq(idCol) ++ Seq("__cell__", "__codes__") ++ attrs).map(col): _*)
    else {
      // reconstruct x̂ = c + r̂ (r̂ = the chosen codebook entries in
      // segment order) and store its norm — element adds and the
      // ascending-index dot fold replay exactly in the oracle
      val rhat = concat((0 until m).map(s =>
        expr(s"element_at(element_at(__cvm__, $s), element_at(__codes__, ${s + 1}))")): _*)
      coded
        .withColumn("__rhat__", rhat)
        .withColumn("__xhat__",
          expr("zip_with(__ccv__, __rhat__, (a, b) -> a + b)"))
        .withColumn("__xn__", sqrt(dot("__xhat__", "__xhat__")))
        .select((Seq(idCol) ++ Seq("__cell__", "__codes__", "__xn__") ++ attrs)
          .map(col): _*)
    }
  }

  /** IVF-PQ top-k served from a PERSISTED [[ivfPqIndexSave]] artifact —
    * the production two-stage read path: the query assigns itself to
    * coarse cells (broadcast centroid argmax), the probed cells' CODED
    * postings scan feeds ADC scoring (the per-query qd lookup tables and
    * the query-independent ‖c‖² maps come from the one [[codebookRow]]
    * fold — candidates never touch the query vector, and [[adcScore]]
    * sums m map lookups per row in FIXED segment order, the expression
    * [[adcTopK]] scores with), and an optional EXACT-cosine rerank repairs
    * the ranking over the `candFactor`·k ADC shortlist only (FAISS's
    * IndexRefineFlat tail — `rerank` is the raw-vector frame, e.g. the
    * corpus table; the shortlist side broadcasts, so the rerank is one
    * column-pruned id-join, never a second corpus score). Both cuts
    * order by (6-dp score desc, id) so the candidate SET — not just the
    * final ranking — is deterministic and oracle-replayable (the
    * [[quantizedRerankTopK]] discipline). Without `rerank`, returns the
    * ADC top-k directly. Plan shape: the bucketed postings scan feeds
    * the probe join with zero index-side exchanges, and `pushCells`
    * prunes unprobed cells' row groups at the scan ([[prunedPostings]]).
    * Emits (query_id, neighbor_id, score[, cosine], rank). */
  def ivfPqTopKIndexed(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      dir: String,
      postings: DataFrame,
      dim: Int,
      m: Int,
      k: Int,
      nprobe: Int = 1,
      candFactor: Int = 4,
      rerank: Option[DataFrame] = None,
      pushCells: Boolean = true,
      filter: Option[Column] = None): DataFrame = {
    graft.GraftExtensions.install(queries.sparkSession)
    val spark = queries.sparkSession
    val pinned = pinCodebooks(
      graft.sources.ParquetIO.read(spark, s"$dir/codebooks"), m, dim)
    require(candFactor >= 1, "candFactor must be at least 1")
    val centroids = storedCentroids(spark, dir)
    // the artifact self-describes its encoding (the save's marker):
    // residual postings score as q·(c + r̂) against the STORED
    // reconstructed norm, raw postings as q·r̂ against the code-norm map
    val residual = isResidualIndex(spark, dir)
    if (residual) require(postings.columns.contains("__xn__"),
      s"$dir is marked residual-coded but the postings frame has no " +
        "__xn__ column — was a different table passed than the one " +
        "ivfPqIndexSave wrote?")
    val probed0 = ivfProbe(queries, idCol, vecCol, centroids, nprobe)
    // residual numerator term q·c per (query, probed cell): a projection
    // against the 1-row coarse map — tiny (query×nprobe rows), and the
    // lookup vector is the PROBED cell's centroid, not the query's own
    val probed =
      if (!residual) probed0
      else probed0.crossJoin(broadcast(coarseCentMap(centroids)))
        .withColumn("__qc__",
          dot("__q__", "element_at(__cmap__, __qcell__)"))
        .drop("__cmap__")
    // per-(query, segment) qd lookup tables and the query-independent
    // ‖c‖² maps, in ONE projection per (tiny) query row against the 1-row
    // codebook fold — the same parameter-attach shape withCell uses, so
    // every cross join in the plan builds a provably-1-row side
    val qWithTabs = withTabs(
      probed.crossJoin(broadcast(codebookRow(pinned, l2 = false))), m, dim / m)
      .drop("__cbs__")
    // FILTERED search over coded postings ([[ivfTopKIndexed]]'s rule):
    // the attribute predicate applies at the postings scan (attrs
    // denormalized by [[ivfPqIndexSave]] push into parquet) and
    // candidates rank AFTER filtering, so ranks stay dense 1..k
    val scored = qWithTabs
      .join(prunedPostings(filter.fold(postings)(postings.where(_)),
          probed, pushCells),
        col("__qcell__") === col("__cell__") && col(idCol) =!= col("query_id"))
      .withColumn("score", adcScore(m, residual))
    // the ADC cut is [[topKCut]]: the candidate set is the probed
    // cells' CODED postings — corpus-sized growth — and the aggregate
    // combines map-side where the window would shuffle and sort all of
    // it per query. __q__/__qn__ ride as grouping keys (constant per
    // query), so the rerank tail needs no re-join.
    // the cap guards the actual topk_by cut, which is candFactor*k only
    // when a rerank shortlist is requested — rerank=None cuts at k, so a
    // large candFactor must not spuriously throw there
    val cut = if (rerank.isEmpty) k else candFactor * k
    require(cut.toLong <= 1000000L,
      s"topk_by cut = $cut exceeds the 1e6 cap (candFactor*k too large)")
    val adc = topKCut(scored, Seq("query_id", "__q__", "__qn__"), idCol, cut,
      score = "score")
    rerank match {
      case None =>
        adc.select(col("query_id"), col("neighbor_id"), col("score"),
          col("rank"))
      case Some(raw) =>
        val shortlist = adc.select(col("query_id"), col("neighbor_id"),
          col("score"), col("__q__"), col("__qn__"))
        val rawSel = raw.select(col(idCol).as("neighbor_id"),
          col(vecCol).as("__rv__"))
        // POINT-LOOKUP pushdown for the rerank fetch (the [[prunedPostings]]
        // move on ids): the shortlist id set is query-batch-bounded, so
        // applying it AT the raw-vector scan lets an id-sorted/bucketed
        // store prune everything else — without it the rerank join scans
        // the whole raw table and the serve wall grows with the CORPUS,
        // not the shortlist. Value-neutral: the inner join keeps exactly
        // these ids anyway. Falls back to the plain join past the cap.
        val rawPruned =
          if (!pushCells || shortlist.isStreaming) rawSel
          else {
            val ids = shortlist.select(col("neighbor_id")).distinct()
              .limit(MaxPushedCells + 1).collect().map(_.get(0))
              .filter(_ != null)
            if (ids.isEmpty || ids.length > MaxPushedCells) rawSel
            else rawSel.where(col("neighbor_id").isInCollection(ids.toSeq))
          }
        // the shortlist (≤ queries × candFactor·k rows) broadcasts; the
        // raw-vector side is a column-pruned, id-pruned scan
        broadcast(shortlist)
          .join(rawPruned, Seq("neighbor_id"))
          .withColumn("cosine", round(dot("__rv__", "__q__") /
            (sqrt(dot("__rv__", "__rv__")) * col("__qn__")), 6))
          .withColumn("rank", row_number().over(
            Window.partitionBy(col("query_id"))
              .orderBy(col("cosine").desc, col("neighbor_id"))))
          .where(col("rank") <= k)
          .select(col("query_id"), col("neighbor_id"), col("score"),
            col("cosine"), col("rank"))
    }
  }

  /** Nearest-centroid cell assignment: adds `__cell__` (the argmax-cosine
    * centroid id) to `df`, which must already carry `__n__` = the vector's
    * norm. All centroids fold into ONE row carrying array<struct<cid,cv,
    * cn>> (k centroids × dim values — a few MB even at IVF-scale k) that
    * broadcasts; each row computes its argmax in a per-row fold — zero row
    * expansion, zero extra shuffle. The init struct borrows its cid TYPE
    * (and an arbitrary value — sim -2 loses to any real cosine) from the
    * first centroid via the null-safe 0-based get(), so ids of any
    * orderable type work and an EMPTY centroid set yields cid NULL → any
    * later cell equi-join matches nothing (never a degenerate self-join).
    * The (sim desc, cid asc) tie-break totally orders candidates, so the
    * argmax is independent of collect_list order.
    *
    * Degenerate vectors are guarded EXPLICITLY: a zero norm on either side
    * pins sim to -2 before any division happens (so the result never
    * depends on the engine's divide-by-zero convention — NULL, NaN, or
    * Inf), and a NULL fold result (null vector elements) coalesces to -2
    * as well. Every candidate therefore carries a real sim, the cid
    * tie-break applies, and a fully-degenerate row deterministically lands
    * in the MINIMUM centroid id's cell — matching the oracle's
    * `ORDER BY sim DESC NULLS LAST, cid` row_number formulation. */
  private[graft] def withCell(
      df: DataFrame, vecCol: String, centroids: DataFrame,
      l2: Boolean = false): DataFrame = {
    // L2 mode (residual quantizers): the struct's third field carries
    // ‖cv‖² (not ‖cv‖) and assignment maximizes round(v·cv − ‖cv‖²/2, 6)
    // — the argmin-distance equivalent after dropping the constant ‖v‖²
    val fn = if (l2) "vec_argmax_cell_l2" else "vec_argmax_cell"
    attachOne(df, centroidArray(centroids, l2)) // 1-row, not a row expansion
      .withColumn("__cell__", expr(s"$fn($vecCol, __n__, __cents__)"))
      .drop("__cents__")
  }

  /** The built-ins-only (CodegenFallback HOF) formulation of the
    * [[graft.expr.VecArgmaxCell]] assignment argmax [[withCell]] and the
    * ADC scorer run natively — kept as the value-identity anchor: LlmSpec
    * asserts native ≡ HOF cell-for-cell over the real embeddings, so the
    * oracle argument (which replays THIS formulation in DuckDB SQL)
    * transfers to the native unchanged. Semantics documented at
    * [[withCell]]; per-element behavior at [[graft.expr.VecArgmaxCell]]. */
  private[graft] def argmaxCellHof(
      vecCol: String, normCol: String, centsCol: String): Column =
    expr(s"""aggregate(
        transform($centsCol, c -> named_struct(
          'sim', IF($normCol = 0D OR c.__cn__ = 0D, CAST(-2 AS double),
                    coalesce(round(float_vec_dot($vecCol, c.__cv__)
                                     / ($normCol * c.__cn__), 6),
                             CAST(-2 AS double))),
          'cid', c.__cid__)),
        named_struct('sim', CAST(-2 AS double), 'cid', get($centsCol, 0).__cid__),
        (acc, c) -> IF(c.sim > acc.sim OR (c.sim = acc.sim AND c.cid < acc.cid),
                       c, acc)).cid""")

  /** The built-ins-only anchor for `vec_argmax_cell_l2` — the
    * value-identity spec's HOF twin ([[argmaxCellHof]]'s discipline):
    * score = round(v·cv − cn/2, 6) with ‖cv‖² in `__cn__`, degenerate
    * pin −∞ (L2 scores are unbounded below, so the cosine mode's −2
    * would beat real scores), (sim desc, cid asc) fold. */
  private[graft] def argmaxCellHofL2(
      vecCol: String, centsCol: String): Column =
    expr(s"""aggregate(
        transform($centsCol, c -> named_struct(
          'sim', coalesce(round(float_vec_dot($vecCol, c.__cv__) - c.__cn__ / 2D, 6),
                          CAST('-Infinity' AS double)),
          'cid', c.__cid__)),
        named_struct('sim', CAST('-Infinity' AS double),
                     'cid', get($centsCol, 0).__cid__),
        (acc, c) -> IF(c.sim > acc.sim OR (c.sim = acc.sim AND c.cid < acc.cid),
                       c, acc)).cid""")

  /** Lloyd's k-means under cosine similarity, fully deterministic and
    * oracle-replayable:
    *   - init: the `initPred` rows of `emb` seed the centroids (cell ids
    *     stay = the seed vector's id across iterations, so labels are
    *     stable);
    *   - assign: per-row argmax fold over the broadcast centroid array
    *     (same [[withCell]] the serving path uses — train and serve can
    *     never disagree on assignment);
    *   - update: per-(cell, dimension) mean computed as an EXACT decimal
    *     sum of 6-dp-rounded member values divided by the count, rounded
    *     back to 6 dp — the integer-cents trick generalized, so the mean
    *     is independent of summation order and bit-identical across
    *     engines. Empty cells drop out (standard Lloyd's).
    * Per iteration: one narrow assignment pass + one (cell, dim) aggregate
    * whose output is k×dim rows — trivially small. Returns (cid,
    * cv array<double>). */
  def kmeansFit(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      initPred: Column,
      iters: Int,
      scope: CacheScope = CacheScope.global,
      l2: Boolean = false,
  ): DataFrame =
    lloyd(cacheBase(emb, idCol, vecCol, scope), initPred, iters, l2)

  /** [[kmeansFit]] with k = floor(sqrt(n)) seed cells (the SemDeDup / IVF
    * sizing: cells stay O(sqrt n), so within-cell work is O(n) total and
    * per-probe serving cost shrinks as the corpus grows). Sizing counts the
    * CACHED projection — the count action doubles as cache materialization,
    * so the corpus is scanned exactly once for count + init + every
    * assignment pass (a raw `emb.count()` before fit would add a whole
    * extra corpus scan at 100 TB). Seed ids are `idCol < k`, matching the
    * oracle's `vec_id < floor(sqrt(count(*)))` predicate. */
  def kmeansFitSqrtK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      iters: Int,
      scope: CacheScope = CacheScope.global,
  ): DataFrame = {
    val base = cacheBase(emb, idCol, vecCol, scope)
    val k = math.floor(math.sqrt(base.count().toDouble)).toLong
    lloyd(base, col("__vid__") < k, iters)
  }

  /** SAMPLE-trained Lloyd's — the FAISS train/add split: the quantizer
    * fits on a bounded deterministic sample, the full corpus only ever
    * pays assignment. At 100 TB the fit (every Lloyd pass re-scans its
    * training set) is the last linear-in-corpus cost in the ANN
    * lifecycle; k-means needs only enough points to estimate k cell
    * means (FAISS trains on ~max(100k, 256·k) regardless of corpus
    * size), so training on everything buys nothing but wall.
    *
    * Determinism (the [[graft.llm.TextOps.hashSample]] cutoff
    * discipline): the kept set is `md5_u32(CAST(id AS STRING)) <
    * floor(pct/100·2³²)` — bit-replayable in the oracle — and the seeds
    * are the k SMALLEST ids inside the kept set (one bounded collect of
    * a single threshold id: a model parameter, not data). Everything
    * downstream of the seeds is [[kmeansFit]]'s exact-decimal Lloyd's,
    * so the fitted centroids replay bit-for-bit. */
  def kmeansFitSampled(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      samplePct: Double,
      scope: CacheScope = CacheScope.global,
      l2: Boolean = false,
  ): DataFrame = {
    require(k >= 1, "k must be at least 1")
    graft.GraftExtensions.install(emb.sparkSession)
    // cache ONLY the kept set — never the corpus projection [[cacheBase]]
    // holds for full fits: the whole point of the sampled fit is that no
    // corpus-sized structure exists anywhere in the training path (the
    // sample filter rides the scan; every Lloyd pass re-reads ~cap rows)
    val sample = scope.cacheKeyed(
      ("graft.llm.kmsample", emb.queryExecution.analyzed.canonicalized,
        idCol, vecCol, samplePct)) {
      emb
        .select(col(idCol).as("__vid__"), col(vecCol).as("__v__"))
        .where(
          TextOps.hashSample(col("__vid__").cast("string"), samplePct))
        .withColumn("__n__", sqrt(dot("__v__", "__v__")))
    }
    val thrRow = sample.select(col("__vid__").cast("long").as("__t__"))
      .orderBy(col("__t__")).limit(k).agg(max(col("__t__"))).collect()(0)
    require(!thrRow.isNullAt(0),
      s"hashSample($samplePct%) kept zero rows — raise samplePct")
    lloyd(sample, col("__vid__").cast("long") <= thrRow.getLong(0), iters, l2)
  }

  /** [[kmeansFitSqrtK]] with sample-based training: k = floor(sqrt(n))
    * still sizes cells to the FULL corpus (per-probe serving cost is a
    * corpus property, not a sample property), but each Lloyd pass scans
    * only the hashSample kept set. The count action doubles as cache
    * materialization exactly as in the full fit. */
  def kmeansFitSqrtKSampled(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      iters: Int,
      samplePct: Double,
      scope: CacheScope = CacheScope.global,
  ): DataFrame = {
    // a bare count, NOT the cached base projection: sizing k must not
    // materialize a corpus-sized cache the sampled fit exists to avoid
    // (Catalyst prunes the count scan to row-group metadata)
    val k = math.max(1L, math.floor(math.sqrt(emb.count().toDouble)).toLong)
    kmeansFitSampled(emb, idCol, vecCol,
      math.min(k, Int.MaxValue.toLong).toInt, iters, samplePct, scope)
  }

  /** The cached (__vid__, __v__, __n__) projection every Lloyd's pass
    * reads — MEMOIZED per (input plan, idCol, vecCol) in the scope, so a
    * fit and its consumers (semDedup, ivfPqTopK) within one query share a
    * single InMemoryRelation instead of each re-scanning the corpus to
    * re-derive the identical projection. Callers release via the scope. */
  private def cacheBase(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      scope: CacheScope,
  ): DataFrame = {
    // analysis of the norm expression below needs float_vec_dot resolved
    graft.GraftExtensions.install(emb.sparkSession)
    scope.cacheKeyed(
      ("graft.llm.base", emb.queryExecution.analyzed.canonicalized, idCol, vecCol)) {
      emb
        .select(col(idCol).as("__vid__"), col(vecCol).as("__v__"))
        .withColumn("__n__", sqrt(dot("__v__", "__v__")))
    }
  }

  /** The exact-decimal group mean of a vector component: an EXACT
    * decimal sum of the 6-dp-rounded members divided by the count,
    * rounded back to 6 dp — the integer-cents trick generalized, so the
    * mean is independent of summation order and bit-identical across
    * engines (Lloyd's updates, the hot-cell split, label centroids). */
  private def exactMean(x: String): Column =
    round(sum(round(col(x).cast("double"), 6).cast("decimal(27,8)"))
      .cast("double") / count(lit(1)), 6)

  private def lloyd(base: DataFrame, initPred: Column, iters: Int,
      l2: Boolean = false): DataFrame = {
    graft.GraftExtensions.install(base.sparkSession)
    require(iters >= 0, "iters must be non-negative")
    // Centroids are MODEL PARAMETERS, not data: k×dim values, bounded tiny
    // by the same k ≪ n argument that lets withCell broadcast them (MLlib's
    // KMeans keeps centers on the driver for the same reason). Pinning each
    // round to a LocalRelation via one k-row collect keeps every iteration
    // a single flat assignment+aggregate job with NO checkpoint writes and
    // NO superseded block-storage RDDs to release (the round-6 eager
    // localCheckpoint-per-iteration leaked those until GC).
    var cents = pin(base.where(initPred)
      .select(col("__vid__").as("cid"),
        expr("transform(__v__, v -> CAST(v AS double))").as("cv")))
    for (_ <- 1 to iters) {
      val assigned = withCell(base, "__v__", cents, l2)
      cents = pin(
        assigned
        // empty centroid set → every __cell__ is NULL; without this guard
        // the NULL group would fabricate one phantom corpus-mean centroid
        .where(col("__cell__").isNotNull)
        .select(col("__cell__"), posexplode(col("__v__")).as(Seq("__d__", "__x__")))
        .groupBy(col("__cell__"), col("__d__"))
        .agg(exactMean("__x__").as("__m__"))
        .groupBy(col("__cell__"))
        .agg(expr("transform(array_sort(collect_list(struct(__d__, __m__))), s -> s.__m__)")
          .as("cv"))
        .select(col("__cell__").as("cid"), col("cv")))
    }
    cents
  }

  /** Per-group mean embedding (class centroids / group prototypes — the
    * pooling step behind label prototypes, topic vectors, and cluster
    * summaries). Output grain is (group, dim): one row per group per
    * component, `centroid` = mean of that component, `n_vecs` = group size.
    *
    * Determinism: means are exact decimal sums of 6-dp-rounded members
    * divided by the count (the [[kmeansFit]] pattern) — bit-identical
    * across partitionings and engines, so the oracle hash-matches.
    *
    * Scale: posexplode is a linear dim-fold (rows × dim, no shuffle), the
    * mean is one hash aggregate with map-side combine on (group, dim) —
    * dim fan-out actually helps parallelism at 100 TB (keys = groups ×
    * dims, so no hot single-group reducer). */
  def labelCentroids(
      emb: DataFrame,
      groupCol: String,
      vecCol: String,
  ): DataFrame =
    emb
      .select(col(groupCol),
        posexplode(col(vecCol)).as(Seq("__d__", "__x__")))
      .groupBy(col(groupCol), (col("__d__") + 1).as("dim"))
      .agg(
        count(lit(1)).as("n_vecs"),
        exactMean("__x__").as("centroid"))

  /** Product-quantization codebooks: the vector splits into `m` equal
    * segments and each segment gets its own Lloyd's-fitted codebook (the
    * FAISS IVF-PQ storage layout — a 64-dim float vector becomes m
    * 1-byte codes at m=8/k≤256, a 32× compression). Returns
    * (segment, cid, cv) — m × k rows, model-parameter-sized. Training
    * reuses [[kmeansFit]] per segment slice, so assignments are the same
    * deterministic argmax-rounded-cosine rule everywhere. */
  def pqCodebooks(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int,
      initPred: Column,
      iters: Int,
      scope: CacheScope = CacheScope.global,
      l2: Boolean = false,
  ): DataFrame =
    fitSegments(emb, idCol, vecCol, dim, m)(
      kmeansFit(_, idCol, "__seg__", initPred, iters, scope, l2))

  /** The per-segment codebook fit loop: `fit` trains one codebook on
    * segment s's slice (`__seg__`) and the m results union as
    * (segment, cid, cv). */
  private def fitSegments(emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int)(fit: DataFrame => DataFrame): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim $dim must split into m=$m equal segments")
    val segLen = dim / m
    (0 until m).map { s =>
      fit(emb.select(col(idCol),
        slice(col(vecCol), s * segLen + 1, segLen).as("__seg__")))
        .withColumn("segment", lit(s))
    }.reduce(_ unionByName _)
      .select(col("segment"), col("cid"), col("cv"))
  }

  /** [[pqCodebooks]] with sample-based training — the PQ half of the
    * FAISS train/add split ([[kmeansFitSampled]] is the coarse half):
    * ONE deterministic hashSample kept set is drawn on the ids and
    * every segment's codebook trains on that same sample (FAISS trains
    * all sub-quantizers on one training set); seeds are the k smallest
    * kept ids per segment (via [[kmeansFitSampled]] at pct=100 over the
    * pre-sampled slice — the kept set is already bounded, so no second
    * cut). The full corpus only ever pays encoding.
    *
    * Size the sample to FAISS's training floor: ≥ ~30·k rows per
    * codebook (undertrained codebooks cost recall — RecallCheck carries
    * a deliberate below-floor row next to a floor-satisfying pair to
    * show exactly that). At production corpus sizes a cap of
    * max(100k, 256·k) satisfies the floor by construction. */
  def pqCodebooksSampled(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int,
      k: Int,
      iters: Int,
      samplePct: Double,
      scope: CacheScope = CacheScope.global,
      l2: Boolean = false,
  ): DataFrame =
    fitSegments(hashSampled(emb, idCol, samplePct), idCol, vecCol, dim, m)(
      kmeansFitSampled(_, idCol, "__seg__", k, iters, samplePct = 100.0, scope, l2))

  /** The hashSample kept set of `emb` on `idCol` — every row at
    * `samplePct` ≥ 100 (no filter in the plan). */
  private def hashSampled(emb: DataFrame, idCol: String, samplePct: Double): DataFrame =
    if (samplePct >= 100.0) emb
    else emb.where(TextOps.hashSample(col(idCol).cast("string"), samplePct))

  /** [[pqResidualCodebooks]] with sample-based training: the sample cut
    * applies BEFORE residual computation, so only kept rows ever pay
    * the coarse join + subtraction — at 100 TB the residual transform
    * itself is a corpus scan the sampled fit must not trigger. */
  def pqResidualCodebooksSampled(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: DataFrame,
      dim: Int,
      m: Int,
      k: Int,
      iters: Int,
      samplePct: Double,
      scope: CacheScope = CacheScope.global,
  ): DataFrame = {
    graft.GraftExtensions.install(emb.sparkSession)
    val res = withResidual(hashSampled(emb, idCol, samplePct), idCol, vecCol, coarse)
      .select(col(idCol), col("__res__"))
    pqCodebooksSampled(res, idCol, "__res__", dim, m, k, iters,
      samplePct = 100.0, scope, l2 = true)
  }

  // ---------------------------------------------------------------- OPQ

  /** Shared Spark-SQL ∩ DuckDB formula fragments for the OPQ pair
    * rotation fit — ONE textual formula used verbatim by the lowering
    * and the oracle (the KN discipline): every op in the chain (decimal
    * moment sums, subtraction, division, sqrt) is correctly rounded in
    * both engines, so identical text ⇒ bit-identical fitted rotations.
    * `opqMomentSql` is the exact-decimal sum of 6-dp-rounded products;
    * the ζ → t → (c, s) layers are the textbook Jacobi closed form
    * (cot 2θ = ζ, t the smaller root of t² + 2ζt − 1 = 0), with the
    * __sxy__ = 0 already-decorrelated case pinned to the identity and
    * guarded BEFORE ζ so neither engine ever divides by zero. */
  private[graft] def opqMomentSql(prod: String): String =
    s"CAST(sum(CAST(round($prod, 6) AS DECIMAL(27,8))) AS DOUBLE)"
  private[graft] val OpqZetaSql: String =
    "CASE WHEN __sxy__ = 0 THEN CAST(0 AS DOUBLE) " +
      "ELSE (__syy__ - __sxx__) / (2 * __sxy__) END"
  private[graft] val OpqTtSql: String =
    "CASE WHEN __zeta__ >= 0 " +
      "THEN 1 / (__zeta__ + sqrt(1 + __zeta__ * __zeta__)) " +
      "ELSE 1 / (__zeta__ - sqrt(1 + __zeta__ * __zeta__)) END"
  // The REDUNDANCY GATE: rotate a pair only when |ρ| (uncentered
  // correlation) exceeds `minAbsRho` — i.e. the paired coordinates are
  // near-duplicates, so one sub-quantizer is demonstrably spending its
  // bits on signal the other already encodes, and concentrating it via
  // the rotation is a pure win. MODERATELY correlated pairs keep the
  // identity on purpose: PQ's rate is fixed per segment, so first-order
  // distortion is rotation-invariant (eigenvalues just move between
  // coordinates), while cluster-structured moderate correlation is
  // SIGNAL the rotation unbalances — measured on the planted-cluster
  // RecallCheck set (all-pair |ρ| ≈ 0.75): ungated rotation cost
  // recall 0.825 → 0.742, and a parity-allocation swap repaired only
  // part of it while damaging the near-duplicate geometry it exists
  // for. Compared as sxy² > ρ²·sxx·syy — products only, no sqrt, no
  // division, bit-identical across engines.
  private[graft] def opqGateSql(minAbsRho: Double): String =
    s"__sxy__ * __sxy__ > CAST(${minAbsRho * minAbsRho} AS DOUBLE) " +
      "* __sxx__ * __syy__"
  private[graft] val OpqCSql: String =
    "CASE WHEN __rot__ THEN round(1 / sqrt(1 + __tt__ * __tt__), 6) " +
      "ELSE CAST(1 AS DOUBLE) END"
  private[graft] val OpqSSql: String =
    "CASE WHEN __rot__ THEN round(__tt__ / sqrt(1 + __tt__ * __tt__), 6) " +
      "ELSE CAST(0 AS DOUBLE) END"

  /** OPQ-style structured rotation fit (Ge et al. 2013 CVPR, "Optimized
    * Product Quantization"; the FAISS OPQ practice of rotating before
    * segmenting): the full OPQ learns a dense d×d rotation by
    * alternating Procrustes SVD — driver-side linear algebra no SQL
    * oracle replays — so graft fits the OPQ objective restricted to the
    * PAIR-BLOCK-DIAGONAL orthogonal group: one exact Jacobi (Givens)
    * rotation per coordinate pair (t, t + dim/2), chosen in closed form
    * to ZERO the pair's uncentered second cross-moment over the training
    * set. The stride dim/2 pairs coordinates PQ forces into DIFFERENT
    * sub-quantizers (any even m), so exactly the cross-segment
    * correlations the product assumption ignores are rotated away.
    * Rotation applies per pair only past the `minAbsRho` REDUNDANCY
    * GATE (see [[opqGateSql]]): near-duplicate pairs concentrate their
    * shared signal (recall-per-byte up, measured), everything else —
    * isotropic and moderately-correlated cluster geometry included —
    * keeps the identity, so the op never measures below plain PQ.
    *
    * Scale: the fit is two corpus passes over the (optionally
    * hashSample-cut) training set — one moment aggregate (map-side
    * combined, dim/2 keys) and nothing else; the rotation itself is
    * 2·(dim/2) doubles, pinned driver-side as model parameters exactly
    * like [[kmeansFit]] centroids. Applying it is a per-row projection.
    *
    * Returns ONE pinned row: (`__rc__`, `__rs__`) — c and s arrays
    * indexed by pair position t ∈ [0, dim/2). */
  def opqPairRotationFit(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      samplePct: Double = 100.0,
      minAbsRho: Double = 0.85,
  ): DataFrame = {
    require(dim % 2 == 0, s"dim $dim must be even for the pair rotation")
    graft.GraftExtensions.install(emb.sparkSession)
    val segLen = dim / 2
    val agg = hashSampled(emb, idCol, samplePct)
      .select(posexplode(expr(
        s"""transform(sequence(0, ${segLen - 1}), t -> struct(
              CAST(element_at($vecCol, t + 1) AS DOUBLE) AS x,
              CAST(element_at($vecCol, t + 1 + $segLen) AS DOUBLE) AS y))"""))
        .as(Seq("__t__", "__p__")))
      .select(col("__t__"), col("__p__.x").as("__x__"),
        col("__p__.y").as("__y__"))
      .groupBy(col("__t__"))
      .agg(
        expr(opqMomentSql("__x__ * __x__")).as("__sxx__"),
        expr(opqMomentSql("__y__ * __y__")).as("__syy__"),
        expr(opqMomentSql("__x__ * __y__")).as("__sxy__"))
      .withColumn("__rot__", expr(opqGateSql(minAbsRho)))
      .withColumn("__zeta__", expr(OpqZetaSql))
      .withColumn("__tt__", expr(OpqTtSql))
      .withColumn("__c__", expr(OpqCSql))
      .withColumn("__s__", expr(OpqSSql))
      .agg(
        expr("transform(array_sort(collect_list(struct(__t__, __c__))), p -> p.__c__)")
          .as("__rc__"),
        expr("transform(array_sort(collect_list(struct(__t__, __s__))), p -> p.__s__)")
          .as("__rs__"))
    // model parameters (dim doubles), pinned like kmeans centroids so
    // consumers never re-run the moment aggregate and the broadcast side
    // is a LocalRelation
    pin(agg)
  }

  /** Apply a [[opqPairRotationFit]] rotation: same frame with `vecCol`
    * replaced by the rotated vector — per pair t, x' = c·x − s·y and
    * y' = s·x + c·y, each element rounded 6 dp and stored as FLOAT (the
    * engine-portable literal grid). A pure projection over a 1-row
    * broadcast: no shuffle, no per-row UDF, codegen-friendly. */
  def opqRotateFrame(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      rotation: DataFrame,
      dim: Int,
  ): DataFrame = {
    val segLen = dim / 2
    emb
      .crossJoin(broadcast(rotation)) // pinned 1-row LocalRelation
      .select(col(idCol),
        expr(
          s"""transform(sequence(0, ${dim - 1}), d -> CAST(round(
                CASE WHEN d < $segLen THEN
                  element_at(__rc__, d + 1) *
                    CAST(element_at($vecCol, d + 1) AS DOUBLE)
                  - element_at(__rs__, d + 1) *
                    CAST(element_at($vecCol, d + 1 + $segLen) AS DOUBLE)
                ELSE
                  element_at(__rs__, d - $segLen + 1) *
                    CAST(element_at($vecCol, d - $segLen + 1) AS DOUBLE)
                  + element_at(__rc__, d - $segLen + 1) *
                    CAST(element_at($vecCol, d + 1) AS DOUBLE)
                END, 6) AS FLOAT))""").as(vecCol))
  }

  /** OPQ top-k: fit the pair rotation, rotate corpus AND query (one
    * shared projection — the query row is just a corpus row), fit PQ
    * codebooks in the rotated space, serve with the standard single-pass
    * ADC. Rotations preserve dot products and norms, so rotated-space
    * cosine IS the original-space cosine up to the 6-dp grid — scores
    * stay comparable with [[pqTopK]] and recall is measured against the
    * same brute-force truth. */
  def opqTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int,
      queryId: Long,
      k: Int,
      initPred: Column,
      iters: Int,
      samplePct: Double = 100.0,
      minAbsRho: Double = 0.85,
      scope: CacheScope = CacheScope.global,
  ): DataFrame = {
    require(m >= 2 && m % 2 == 0 && dim % m == 0,
      s"OPQ pair rotation needs an even m dividing dim (got m=$m, dim=$dim)")
    val rot = opqPairRotationFit(emb, idCol, vecCol, dim, samplePct,
      minAbsRho)
    val rotated = opqRotateFrame(emb, idCol, vecCol, rot, dim)
    val cb = pqCodebooks(rotated, idCol, vecCol, dim, m, initPred, iters,
      scope)
    pqTopK(rotated, idCol, vecCol, cb, dim, m, queryId, k)
  }

  /** PERSIST the OPQ model — rotation (1 row) + PQ codebooks fit in the
    * rotated space — as plain parquet under `dir` (`rot/`, `cb/`): the
    * train-once / serve-many split the other ANN indexes already have
    * (FAISS trains OPQ once and stores the rotation with the index).
    * The fit is ingest-time work; [[opqTopKWithModel]] serves without
    * re-running either fit. */
  def opqFitSave(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int,
      initPred: Column,
      iters: Int,
      dir: String,
      samplePct: Double = 100.0,
      minAbsRho: Double = 0.85,
      scope: CacheScope = CacheScope.global,
  ): Unit = {
    require(m >= 2 && m % 2 == 0 && dim % m == 0,
      s"OPQ pair rotation needs an even m dividing dim (got m=$m, dim=$dim)")
    val rot = opqPairRotationFit(emb, idCol, vecCol, dim, samplePct,
      minAbsRho)
    rot.write.mode("overwrite").parquet(s"$dir/rot")
    val rotated = opqRotateFrame(emb, idCol, vecCol, rot, dim)
    pqCodebooks(rotated, idCol, vecCol, dim, m, initPred, iters, scope)
      .write.mode("overwrite").parquet(s"$dir/cb")
  }

  /** Serve OPQ top-k through a persisted [[opqFitSave]] model: read the
    * rotation and codebooks, rotate the corpus (a per-row projection),
    * and run the standard single-pass ADC — no fit stage in the serve.
    * Both model frames are parameter-sized (1 rotation row, m·k codebook
    * rows) and are PINNED driver-side, exactly as [[opqTopK]]'s fit pins
    * them: the rotation here, the codebooks by [[adcTopK]]'s
    * [[pinCodebooks]]. Each is read through `ParquetIO.read`, so a warm
    * serve's only jobs are the two collects. The broadcast build sides
    * are LocalRelations (provably single-row for the whole-suite BNLJ
    * lint, where a bare file scan is not), and the serve plans the
    * inline fit's 3 exchanges, not the 6 a re-aggregate of the rotation
    * and a codebook scan add. Values are identical to [[opqTopK]] (the
    * fit is the same computation, run once at save time). */
  def opqTopKWithModel(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      dir: String,
      dim: Int,
      m: Int,
      queryId: Long,
      k: Int,
  ): DataFrame = {
    val spark = emb.sparkSession
    graft.GraftExtensions.install(spark)
    val rot = pin(graft.sources.ParquetIO.read(spark, s"$dir/rot"))
    pqTopK(opqRotateFrame(emb, idCol, vecCol, rot, dim), idCol, vecCol,
      graft.sources.ParquetIO.read(spark, s"$dir/cb"), dim, m, queryId, k)
  }

  // --------------------------------------------------------------------
  // SQ8 scalar quantization (FAISS ScalarQuantizer QT_8bit practice):
  // per-dimension min/max affine 8-bit codes. 4× compression at
  // near-brute recall — the standard middle rung between raw float32
  // and PQ's 32×-compression/lower-recall regime. Reference has no ANN
  // surface at all (hashquery is relational); this is part of graft's
  // beyond-reference LLM-pipeline layer.
  // --------------------------------------------------------------------

  /** The shared SQ8 quantization formula as a SQL string — parsed
    * verbatim by BOTH Spark SQL (the HOF value-identity anchor LlmSpec
    * pins against the native) and DuckDB (the oracle replay), so the
    * engines agree bit-for-bit: all ops are correctly-rounded double
    * arithmetic. `sc <= 0` marks a constant dimension (code 0 → dq = mn
    * exactly). */
  def sq8CodeSql(x: String, mn: String, sc: String): String =
    // explicit NULL guard first: Spark's least/greatest SKIP nulls (a
    // NULL element would silently code as the clamp bound instead of
    // propagating), and engines differ on NULL-vs-skip — the guard makes
    // NULL-in → NULL-code the pinned semantics everywhere
    s"(CASE WHEN ($x) IS NULL OR ($mn) IS NULL OR ($sc) IS NULL THEN NULL " +
      s"WHEN $sc <= CAST(0.0 AS DOUBLE) THEN 0 " +
      // NaN anywhere (a NaN value, or a NaN max poisoning the scale)
      // clamps to the TOP bound — pinned explicitly because least/
      // greatest NaN handling differs across engines
      s"WHEN isnan(CAST($x AS DOUBLE)) OR isnan($mn) OR isnan($sc) THEN 255 " +
      s"ELSE CAST(least(CAST(255.0 AS DOUBLE), greatest(CAST(0.0 AS DOUBLE), " +
      s"floor((CAST($x AS DOUBLE) - $mn) / $sc + CAST(0.5 AS DOUBLE)))) AS INT) END)"

  /** Dequantization: dq_i = mn_i + code_i * sc_i (shared formula, same
    * contract as [[sq8CodeSql]]). */
  def sq8DqSql(code: String, mn: String, sc: String): String =
    s"($mn + CAST($code AS DOUBLE) * $sc)"

  /** The dequantized cosine of the raw query `__q__` (norm `__qn__`)
    * against a candidate's SQ8 `__code__` under `__mins__`/`__scales__`:
    * q·dq / (‖q‖·‖dq‖), 6-dp rounded, in the codegen'd natives. */
  private def sq8Cosine: Column =
    round(expr("vec_sq8_dot(__code__, __mins__, __scales__, __q__)") /
      (col("__qn__") * sqrt(expr("vec_sq8_norm2(__code__, __mins__, __scales__)"))), 6)

  /** One-pass SQ8 fit: per-dimension min/max over the corpus folded into
    * a PROVABLY 1-row frame (`__mins__`, `__scales__` array<double>,
    * sc_d = (max_d − min_d)/255). A global aggregate with map-side
    * partials — one corpus scan regardless of dim, and the result is a
    * legitimate broadcast build side for the BNLJ lint. */
  def sq8Params(emb: DataFrame, vecCol: String, dim: Int): DataFrame = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    emb
      .agg(
        array((0 until dim).map(d =>
          min(element_at(col(vecCol), d + 1).cast("double"))): _*).as("__mins__"),
        array((0 until dim).map(d =>
          max(element_at(col(vecCol), d + 1).cast("double"))): _*).as("__maxs__"))
      .select(col("__mins__"),
        expr("zip_with(__maxs__, __mins__, (a, b) -> (a - b) / CAST(255.0 AS DOUBLE))")
          .as("__scales__"))
  }

  /** Encode a corpus frame against fitted params: adds `__code__`
    * (array<int>, values 0..255 — the 4×-compressed representation a
    * production pipeline persists via the bucketed parquet sink). The
    * params frame must be [[sq8Params]]-shaped (1 row). */
  def sq8Encode(emb: DataFrame, vecCol: String, params: DataFrame): DataFrame = {
    graft.GraftExtensions.install(emb.sparkSession)
    emb.crossJoin(broadcast(params))
      .withColumn("__code__", expr(s"vec_sq8_code($vecCol, __mins__, __scales__)"))
      .drop("__mins__", "__scales__")
  }

  /** SQ8 asymmetric top-k: fit (one corpus pass), quantize candidates,
    * and score the RAW query vector against each candidate's dequantized
    * reconstruction — cosine = q·dq / (‖q‖·‖dq‖), 6-dp rounded with id
    * tie-break, k-bounded `topk_by` cut (map-side combine, no
    * single-reducer window). The candidate pass is scan-shaped: one
    * 1-row broadcast (params × query row), zero candidate-set shuffles
    * before the top-k — the same plan discipline as [[pqTopK]]'s ADC.
    * Quantize/dot/norm run as codegen'd natives ([[graft.expr.Sq8Code]]
    * family); LlmSpec pins their value identity against the shared-SQL
    * HOF formulation, and the DuckDB oracle replays that formula. */
  def sq8TopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      queryId: Long,
      k: Int,
  ): DataFrame = {
    graft.GraftExtensions.install(emb.sparkSession)
    val params = sq8Params(emb, vecCol, dim)
    val qrow = emb.where(col(idCol) === queryId)
      .select(col(vecCol).as("__q__"), sqrt(dot(vecCol, vecCol)).as("__qn__"))
    val one = broadcast(params.crossJoin(qrow))
    val scoredAll = emb.where(col(idCol) =!= queryId)
      .select(col(idCol).as("__vid__"), col(vecCol).as("__v__"))
      .crossJoin(one)
      .withColumn("__code__", expr("vec_sq8_code(__v__, __mins__, __scales__)"))
      .withColumn("score", sq8Cosine)
    topKCut(scoredAll, Seq.empty, "__vid__", k, score = "score")
      .withColumnRenamed("neighbor_id", "vec_id")
  }

  /** Persisted SQ8 serving artifact — encode once, store the codes, serve
    * forever from the 4×-smaller representation (the raw-store/coded-
    * serving split, SQ edition). Layout: `dir/params` (one row:
    * `__mins__`/`__scales__`), `dir/postings` (bucketed on idCol:
    * id, `__code__` array<int>, attrs — NO raw vectors; shedding them is
    * the point). */
  def sq8IndexSave(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      table: String,
      dir: String,
      buckets: Int = 8,
      attrs: Seq[String] = Seq.empty): Unit = {
    graft.GraftExtensions.install(emb.sparkSession)
    val params = sq8Params(emb, vecCol, dim)
    params.write.mode("overwrite").parquet(s"$dir/params")
    val coded = sq8Encode(
      emb.select((Seq(idCol, vecCol) ++ attrs).map(col): _*), vecCol, params)
      .drop(vecCol)
    graft.sources.ParquetIO.writeBucketed(
      coded, table, s"$dir/postings", idCol, buckets)
  }

  /** The stored params read back as a PROVABLY 1-row frame: a persisted
    * 1-row parquet is not provably 1-row to the plan lints — re-aggregate
    * on read (max over one row is the identity). */
  private[graft] def sq8StoredParams(
      spark: org.apache.spark.sql.SparkSession, dir: String, dim: Int): DataFrame = {
    val p = graft.sources.ParquetIO.read(spark, s"$dir/params")
      .agg(max(col("__mins__")).as("__mins__"),
        max(col("__scales__")).as("__scales__"))
    // model-parameter-sized shape check: a dim drift between save and
    // serve would silently truncate the scoring fold
    val row = p.collect().head
    val nm = row.getSeq[Double](0).length
    val ns = row.getSeq[Double](1).length
    require(nm == dim && ns == dim,
      s"stored SQ8 params cover $nm/$ns dims; caller expects $dim " +
        "(was the index saved with a different dim?)")
    p
  }

  /** APPEND maintenance for a persisted [[sq8IndexSave]] artifact: ONLY
    * the new vectors encode, against the STORED params (frozen at fit —
    * the FAISS add-after-train discipline; values outside the fitted
    * [min, max] clamp to the bounds, the documented staleness trade whose
    * compaction is a periodic re-save). Coded postings append to the
    * bucketed table; existing postings untouched. Append-then-serve ≡
    * rebuild against the same params (spec-pinned). */
  def sq8IndexAppend(
      newEmb: DataFrame,
      idCol: String,
      vecCol: String,
      dir: String,
      table: String,
      dim: Int,
      buckets: Int = 8,
      attrs: Seq[String] = Seq.empty): Unit = {
    graft.GraftExtensions.install(newEmb.sparkSession)
    val params = sq8StoredParams(newEmb.sparkSession, dir, dim)
    val coded = sq8Encode(
      newEmb.select((Seq(idCol, vecCol) ++ attrs).map(col): _*), vecCol, params)
      .drop(vecCol)
    graft.sources.ParquetIO.appendBucketed(coded, table, idCol, buckets)
  }

  /** Multi-query serving over a persisted [[sq8IndexSave]] artifact: one
    * coded-postings scan per query BATCH (not per query) — every
    * per-query quantity rides one small broadcast (stored params × query
    * rows), scoring is the same codegen'd dequantized-cosine projection
    * as [[sq8TopK]], and the cut is the per-query k-bounded `topk_by`
    * aggregate. Raw vectors never load. Returns (query_id, neighbor_id,
    * cosine, rank). */
  def sq8TopKIndexed(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      dir: String,
      postings: DataFrame,
      dim: Int,
      k: Int,
  ): DataFrame = {
    graft.GraftExtensions.install(queries.sparkSession)
    val params = sq8StoredParams(queries.sparkSession, dir, dim)
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__q__"), sqrt(dot(vecCol, vecCol)).as("__qn__"))
    val one = broadcast(params.crossJoin(q))
    val scored = postings
      .crossJoin(one)
      .where(col(idCol) =!= col("query_id"))
      .withColumn("cosine", sq8Cosine)
    topKCut(scored, Seq("query_id"), idCol, k)
  }

  /** IVF-SQ8 (the FAISS IndexIVFScalarQuantizer composition): coarse
    * k-means cells gate the candidates, SQ8 codes score them — per-query
    * cost O(n/k_coarse) code scans, postings store (cell, id, codes) at
    * 4× fewer bytes than a raw IVF index, and within-cell ranking is
    * near-exact (the SQ recall ceiling) where IVF-PQ trades recall for
    * its 32×. Params are GLOBAL per-dim min/max (one fit pass, the
    * QT_8bit default); routing is the standard raw-vector coarse argmax,
    * so the cell structure is identical to [[ivfIndexSave]]'s. */
  def ivfSq8IndexSave(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: DataFrame,
      dim: Int,
      table: String,
      dir: String,
      buckets: Int = 8): Unit = {
    graft.GraftExtensions.install(emb.sparkSession)
    coarse.write.mode("overwrite").parquet(s"$dir/centroids")
    val params = sq8Params(emb, vecCol, dim)
    params.write.mode("overwrite").parquet(s"$dir/params")
    val assigned = withCell(
      emb.withColumn("__n__", sqrt(dot(vecCol, vecCol))), vecCol, coarse)
      .select(col(idCol), col("__cell__"), col(vecCol))
    val coded = sq8Encode(assigned, vecCol, params).drop(vecCol)
    graft.sources.ParquetIO.writeBucketed(
      coded, table, s"$dir/postings", "__cell__", buckets)
  }

  /** APPEND maintenance for a persisted [[ivfSq8IndexSave]] artifact:
    * new vectors assign against the STORED coarse centroids and encode
    * against the STORED params (both frozen at fit — the FAISS
    * add-after-train discipline twice over: drifted data routes to the
    * nearest stale cell and clamps to the fitted value range, recall
    * degrades gracefully, a periodic re-save is the compaction).
    * Bucket-aligned append; existing postings untouched.
    * Append-then-serve ≡ rebuild against the same centroids + params
    * (spec-pinned). */
  def ivfSq8IndexAppend(
      newEmb: DataFrame,
      idCol: String,
      vecCol: String,
      dir: String,
      table: String,
      dim: Int,
      buckets: Int = 8): Unit = {
    graft.GraftExtensions.install(newEmb.sparkSession)
    val spark = newEmb.sparkSession
    val params = sq8StoredParams(spark, dir, dim)
    val assigned = withCell(newEmb.withColumn("__n__", sqrt(dot(vecCol, vecCol))),
      vecCol, storedCentroids(spark, dir))
      .select(col(idCol), col("__cell__"), col(vecCol))
    val coded = sq8Encode(assigned, vecCol, params).drop(vecCol)
    graft.sources.ParquetIO.appendBucketed(coded, table, "__cell__", buckets)
  }

  /** Multi-query serving over a persisted [[ivfSq8IndexSave]] artifact:
    * queries assign themselves (probe cells rank on the 1-row folded
    * centroid array for nprobe > 1), the probed cells' CODED postings
    * equi-join (cell ids pushed to the postings scan), the dequantized
    * cosine scores in one codegen'd projection, and the per-query
    * k-bounded `topk_by` cut emits (query_id, neighbor_id, cosine,
    * rank). */
  def ivfSq8TopKIndexed(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      dir: String,
      postings: DataFrame,
      dim: Int,
      k: Int,
      nprobe: Int = 1,
      pushCells: Boolean = true,
  ): DataFrame = {
    graft.GraftExtensions.install(queries.sparkSession)
    val spark = queries.sparkSession
    val params = sq8StoredParams(spark, dir, dim)
    val probed = ivfProbe(queries, idCol, vecCol, storedCentroids(spark, dir),
      nprobe)
    val scored = attachOne(probed, params) // provably 1-row (global agg)
      .join(prunedPostings(postings, probed, pushCells),
        col("__qcell__") === col("__cell__") && col(idCol) =!= col("query_id"))
      .withColumn("cosine", sq8Cosine)
    topKCut(scored, Seq("query_id"), idCol, k)
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: encode every corpus
    * vector as its per-segment nearest codebook entry, precompute the
    * query's dot product against every codebook entry (m × k values — a
    * broadcast lookup table), and score each vector as
    *   Σ_s qdot(s, code_s)  /  (‖q‖ · sqrt(Σ_s ‖c_{s,code_s}‖²))
    * — the cosine against the RECONSTRUCTED vector. The corpus side never
    * touches the query vector: all m assignments and the score lookup
    * happen in ONE candidate pass against a single 1-row broadcast, so
    * the whole search is scan-shaped with zero candidate-set shuffles (a
    * production deployment encodes once and stores the codes; the
    * per-query work is just the tiny lookup row).
    *
    * Determinism: segment partials combine left-to-right in segment
    * order inside one projection (NOT an unordered sum aggregate), so the
    * float fold order is fixed for any m; the final score rounds to 6 dp
    * with id tie-break. With m = 1 and a per-vector codebook (initPred =
    * all ids, iters = 0) ADC degenerates to EXACT cosine search — the
    * spec gate. */
  def pqTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: DataFrame,
      dim: Int,
      m: Int,
      queryId: Long,
      k: Int,
  ): DataFrame = {
    graft.GraftExtensions.install(emb.sparkSession)
    val cands = emb
      .where(col(idCol) =!= queryId)
      .select(col(idCol).as("__vid__"), col(vecCol).as("__v__"))
    val qrow = emb.where(col(idCol) === queryId)
      .select(col(vecCol).as("__q__"), sqrt(dot(vecCol, vecCol)).as("__qn__"))
    adcTopK(cands, codebooks, qrow, dim, m, k)
  }

  /** The inline ADC behind [[pqTopK]] and [[ivfPqTopK]]: encode the
    * candidates, then score them with the stored-code scorer. The
    * codebooks pin once ([[pinCodebooks]], which also checks their
    * shape) and fold once ([[codebookRow]]); the query's lookup tables
    * ([[withTabs]]) ride that 1-row fold, so the candidate set takes
    * exactly one pass — one 1-row BroadcastNestedLoopJoin, a projection
    * that computes all m codes ([[pqCodes]], the index encoder) and
    * [[adcScore]] (the [[ivfPqTopKIndexed]] scorer), then the k-bounded
    * cut. Joining m per-segment partial frames on the id instead would
    * shuffle the candidate set m−1 times; LlmSpec pins this plan's
    * values to that per-segment join formulation. */
  private def adcTopK(
      cands: DataFrame,
      codebooks: DataFrame,
      qrow: DataFrame,
      dim: Int,
      m: Int,
      k: Int,
  ): DataFrame = {
    val pinned = pinCodebooks(codebooks, m, dim)
    val segLen = dim / m
    val one = withTabs(qrow.crossJoin(broadcast(codebookRow(pinned, l2 = false))),
      m, segLen).drop("__q__")
    val scoredAll = pqCodes(cands.crossJoin(broadcast(one)), "__v__", m, segLen,
      l2 = false)
      .withColumn("score", adcScore(m, residual = false))
    // k-bounded GLOBAL cut: the old no-partition row_number window pulled
    // every scored candidate into ONE partition and sorted it — at corpus
    // scale that single reducer IS the wall; the global topk_by aggregate
    // combines map-side (each partition ships ≤k entries)
    topKCut(scoredAll, Seq.empty, "__vid__", k, score = "score")
      .withColumnRenamed("neighbor_id", "vec_id")
  }

  /** The full FAISS-style IVF-PQ serving composition: a coarse k-means
    * cell assignment restricts candidates to the query's cell (the IVF
    * recall/cost knob), and ADC over per-segment codebooks scores only
    * those candidates — so per-query cost is O(n/k_coarse) code lookups
    * instead of a corpus scan, and the corpus representation is m codes +
    * one coarse cell id per vector. Composes [[kmeansFit]] (coarse),
    * [[pqCodebooks]] and the [[pqTopK]] scoring rule; all the same
    * determinism arguments apply (rounded-argmax assignments, fixed-order
    * segment folds, 6-dp score with id tie-break). */
  def ivfPqTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: DataFrame,
      codebooks: DataFrame,
      dim: Int,
      m: Int,
      queryId: Long,
      k: Int,
      scope: CacheScope = CacheScope.global,
  ): DataFrame = {
    graft.GraftExtensions.install(emb.sparkSession)
    // coarse cell per vector; candidates = the query's cell, query
    // excluded. The (id, vec, norm) projection is the memoized cacheBase,
    // shared with the coarse kmeansFitSqrtK that produced `coarse` — the
    // assignment pass reads the fit's InMemoryRelation, not the corpus.
    val base = cacheBase(emb, idCol, vecCol, scope)
    val celled = scope.cache(
      withCell(base, "__v__", coarse)
        .select(col("__vid__"), col("__v__"), col("__cell__")))
    val qcell = celled.where(col("__vid__") === queryId)
      .select(col("__cell__").as("__qc__"))
    val cands = celled.join(broadcast(qcell), col("__cell__") <=> col("__qc__"))
      .where(col("__vid__") =!= queryId)
      .select(col("__vid__"), col("__v__"))
    val qrow = base.where(col("__vid__") === queryId)
      .select(col("__v__").as("__q__"), col("__n__").as("__qn__"))
    adcTopK(cands, codebooks, qrow, dim, m, k)
  }

  /** Per-vector symmetric int8 quantization (the standard storage/transfer
    * compression for embedding columns at corpus scale: 4× smaller than
    * float32). scale = 127/max|x| per vector; values round half-up via the
    * engine-portable floor(x*scale + 0.5). Adds `<out>` (array<int> codes),
    * `<out>_scale`, and `<out>_max_err` (max reconstruction error —
    * order-independent, so deterministic across partitionings). */
  def quantize8(emb: DataFrame, vecCol: String, out: String): DataFrame =
    emb
      .withColumn(s"${out}_maxabs",
        expr(s"""aggregate($vecCol, cast(0 AS double),
            (acc, x) -> greatest(acc, abs(cast(x AS double))))"""))
      .withColumn(s"${out}_scale", lit(127.0) / col(s"${out}_maxabs"))
      .withColumn(out,
        expr(s"""transform($vecCol,
            x -> CAST(floor(cast(x AS double) * ${out}_scale + 0.5D) AS int))"""))
      .withColumn(s"${out}_max_err",
        expr(s"""aggregate(zip_with($vecCol, $out,
            (x, q) -> abs(cast(x AS double) - q / ${out}_scale)),
            cast(0 AS double), (acc, v) -> greatest(acc, v))"""))
      .drop(s"${out}_maxabs")

  /** Two-stage quantized retrieval — the serving shape of IVF-PQ-class
    * ANN systems (Jégou et al., "Product Quantization for Nearest
    * Neighbor Search"): a CHEAP integer score over compressed codes prunes
    * the corpus to `candidates` rows, then the exact float cosine reranks
    * only the survivors to the final top `k`.
    *
    * Stage 1 scores with the [[quantize8]] codes: the code dot product is
    * pure integer arithmetic (|code| ≤ 127, dim-length sums ≤ ~10⁶ —
    * exactly representable in float AND double, so the score is
    * bit-deterministic on every engine), scaled back by the two vectors'
    * quantization scales and norms. At corpus scale this pass reads 4×
    * fewer bytes than float32 scoring and runs integer MACs; recall loss
    * is bounded by the quantization error `quantize8` itself reports,
    * and stage 2 repairs the ranking within the candidate set.
    *
    * Both cuts order by (score DESC, id ASC) on 6-dp-rounded scores, so
    * the candidate SET — not just the final ranking — is deterministic
    * and oracle-replayable. Plan shape: one narrow quantize+norm pass
    * (cached: query + corpus sides read it), a 1-row broadcast of the
    * query, and two TakeOrdered cuts — no shuffle beyond the top-k. */
  def quantizedRerankTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      candidates: Int,
      k: Int,
      scope: CacheScope = CacheScope.global,
  ): DataFrame = {
    graft.GraftExtensions.install(emb.sparkSession)
    require(candidates >= k, s"candidates ($candidates) must be >= k ($k)")
    val qz = scope.cache(quantize8(emb, vecCol, "__qz__")
      // codes as float: every value and every partial sum is an integer
      // well inside both mantissas, so float_vec_dot returns the EXACT
      // integer dot product (no new expression needed for int arrays)
      .withColumn("__qzf__", expr("transform(__qz__, c -> CAST(c AS float))"))
      .withColumn("__n__", sqrt(dot(vecCol, vecCol))))
    val q = qz.where(col(idCol) === queryId)
      .select(col("__qzf__").as("__qc__"), col("__qz___scale").as("__qs__"),
        col(vecCol).as("__qv__"), col("__n__").as("__qn__"))
    val cands = qz.where(col(idCol) =!= queryId)
      .crossJoin(broadcast(q)) // 1-row query, not a row expansion
      .withColumn("cosine_q8",
        round(dot("__qzf__", "__qc__") / (col("__qz___scale") * col("__qs__"))
          / (col("__n__") * col("__qn__")), 6))
      .orderBy(col("cosine_q8").desc, col(idCol))
      .limit(candidates) // TakeOrdered: no global sort materialization
    cands
      .withColumn("cosine",
        round(dot(vecCol, "__qv__") / (col("__n__") * col("__qn__")), 6))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("cosine_q8"), col("cosine"))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019, the
    * CCMatrix/LASER pairing rule): for candidate cross-side pairs (x, y),
    *   margin(x, y) = cos(x, y) / ((avgTopK(x→B) + avgTopK(y→A)) / 2)
    * — raw cosine normalized by how "hubby" each endpoint is, which kills
    * the hub vectors that raw-cosine pairing mis-marries. Emits each
    * A-side vector's best-margin partner with margin > `minMargin`.
    *
    * Scale design: candidates come from a sign-LSH bucket EQUI-JOIN
    * (the [[lshTopK]] blocking key — never A×B all-pairs; any serving
    * index could stand in as the candidate generator), per-pair work is
    * one codegen'd dot product over precomputed norms, and both
    * normalizer averages are per-key windows over the SAME candidate
    * frame (memoized, computed once). At 100 TB both sides shuffle once
    * on the bucket id; everything after is per-bucket / per-key.
    *
    * THE QUADRATIC GUARD: with `bits` fixed, per-bucket population grows
    * with the corpus and the within-bucket join grows O(n²/2^bits) —
    * ScaleCheck measured 18× wall at 10× data for the uncapped 4-bit
    * query. `maxPerBucketSide` is the same deterministic skew cap the
    * MinHash/SemDeDup paths use: each (bucket, side) keeps only its
    * lowest-id `cap` members for PAIRING (a documented recall tradeoff,
    * identical on the oracle side), bounding candidate pairs at
    * 2^bits × cap² regardless of corpus size. Production settings scale
    * `bits` with log₂(n) AND keep a cap as the backstop, exactly like
    * `minhashPairs(maxBucketSize)`.
    *
    * Determinism for the oracle: cosines round to 6 dp; top-k cuts order
    * by (cosine desc, id); averages sum the rounded cosines as
    * DECIMAL(18,9) (order-free) over the ACTUAL candidate count (< k
    * when a bucket is thin); margin = cos / ((ax + ay) / 2) in doubles,
    * rounded to 6 dp, final pick by (margin desc, partner id). */
  def bitextMine(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      sideAPred: Column,
      bits: Int,
      k: Int,
      minMargin: Double,
      maxPerBucketSide: Int = Int.MaxValue,
      scope: CacheScope = CacheScope.global,
  ): DataFrame = {
    graft.GraftExtensions.install(emb.sparkSession)
    require(k >= 1, "k must be positive")
    require(maxPerBucketSide >= 1, "maxPerBucketSide must be positive")
    val base = emb
      .withColumn("__bkt__", signBucket(vecCol, bits))
      .withColumn("__n__", sqrt(dot(vecCol, vecCol)))
      .withColumn("__sideA__", sideAPred)
    def capped(df: DataFrame, id: String): DataFrame =
      if (maxPerBucketSide == Int.MaxValue) df
      else df
        .withColumn("__br__",
          row_number().over(Window.partitionBy(col("__bkt__"))
            .orderBy(col(id))))
        .where(col("__br__") <= maxPerBucketSide)
        .drop("__br__")
    val a = capped(base.where(col("__sideA__"))
      .select(col(idCol).as("a_id"), col(vecCol).as("__av__"),
        col("__bkt__"), col("__n__").as("__an__")), "a_id")
    val b = capped(base.where(!col("__sideA__"))
      .select(col(idCol).as("b_id"), col(vecCol).as("__bv__"),
        col("__bkt__"), col("__n__").as("__bn__")), "b_id")
    val pairs = scope.cache(a.join(b, Seq("__bkt__"))
      .withColumn("cosine",
        round(dot("__av__", "__bv__") / (col("__an__") * col("__bn__")), 6))
      .select(col("a_id"), col("b_id"), col("cosine")))
    def hubAvg(key: String, other: String, out: String): DataFrame = {
      val w = Window.partitionBy(col(key))
        .orderBy(col("cosine").desc, col(other))
      pairs
        .withColumn("__r__", row_number().over(w))
        .where(col("__r__") <= k)
        .groupBy(col(key))
        .agg((sum(col("cosine").cast("decimal(18,9)")).cast("double")
          / count(lit(1))).as(out))
    }
    pairs
      .join(hubAvg("a_id", "b_id", "__ax__"), Seq("a_id"))
      .join(hubAvg("b_id", "a_id", "__ay__"), Seq("b_id"))
      .withColumn("margin",
        round(col("cosine") / ((col("__ax__") + col("__ay__")) / lit(2.0)), 6))
      .withColumn("__pick__",
        row_number().over(Window.partitionBy(col("a_id"))
          .orderBy(col("margin").desc, col("b_id"))))
      .where(col("__pick__") === 1 && col("margin") > minMargin)
      .select(col("a_id"), col("b_id"), col("cosine"), col("margin"))
  }

  /** md5-portable ±1 entry of the random projection matrix: +1 when the
    * first-8-hex-chars value of md5("rp:<seed>:<i>:<j>") is even. The same
    * formula is replayable in DuckDB (`concat('0x', substr(md5(...), 1, 8))
    * :: BIGINT % 2`), so the oracle reproduces the EXACT projection, not a
    * statistical twin. i is 1-based (SQL list indexing), j is 0-based. */
  private[graft] def rpSign(seed: Int, i: Int, j: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"rp:$seed:$i:$j".getBytes("UTF-8"))
      .take(4).map(b => f"${b & 0xff}%02x").mkString
    if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1.0 else -1.0
  }

  /** Random-projection (Johnson–Lindenstrauss) ANN: project every vector
    * to `dims` dimensions with a deterministic ±1 sign matrix (Achlioptas
    * 2003 — database-friendly random projections), shortlist `candidates`
    * by projected cosine, then rerank the shortlist with the exact cosine.
    *
    * Scale design: the projection matrix is a PLAN LITERAL (dims × d
    * doubles — a few KB; the model-parameter pattern, zero joins to attach
    * it), each projected coordinate is one codegen'd `float_vec_dot`
    * against a literal row, and the shortlist is a TakeOrdered — so the
    * whole candidate pass is a single narrow scan over d-dim vectors that
    * writes only dims-dim rows, an d/dims I/O + CPU reduction over brute
    * force per query batch, with NO index build or training step (the
    * practical win over IVF/PQ when the corpus churns faster than an index
    * can be rebuilt). Exact rerank touches `candidates` full vectors only.
    *
    * Both stages cut deterministically (6-dp score, id tie-break) and the
    * projection is md5-replayable, so the DuckDB oracle reproduces the
    * candidate SET bit-for-bit — recall vs [[bruteTopK]] is measured in
    * RecallCheck like every other serving op. */
  def rpTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      d: Int,
      dims: Int,
      seed: Int,
      candidates: Int,
      k: Int,
  ): DataFrame = {
    graft.GraftExtensions.install(emb.sparkSession)
    require(d >= 1 && dims >= 1 && dims <= d,
      s"need 1 <= dims <= d, got dims=$dims d=$d")
    require(candidates >= k, s"candidates ($candidates) must be >= k ($k)")
    val signRow: Int => Column = j =>
      typedlit((1 to d).map(i => rpSign(seed, i, j)))
    val proj = array((0 until dims).map(j =>
      expr(s"float_vec_dot($vecCol, __sr${j}__)")): _*)
    val withProj = (0 until dims)
      .foldLeft(emb)((df, j) => df.withColumn(s"__sr${j}__", signRow(j)))
      .withColumn("__pv__", proj)
      .select(col(idCol), col(vecCol), col("__pv__"),
        sqrt(dot(vecCol, vecCol)).as("__n__"),
        sqrt(dot("__pv__", "__pv__")).as("__pn__"))
    val q = withProj.where(col(idCol) === queryId)
      .select(col(vecCol).as("__qv__"), col("__pv__").as("__qp__"),
        col("__n__").as("__qn__"), col("__pn__").as("__qpn__"))
    withProj.where(col(idCol) =!= queryId)
      .crossJoin(broadcast(q)) // 1-row query attach
      .withColumn("cosine_rp",
        round(dot("__pv__", "__qp__") / (col("__pn__") * col("__qpn__")), 6))
      .orderBy(col("cosine_rp").desc, col(idCol))
      .limit(candidates) // TakeOrdered shortlist
      .withColumn("cosine",
        round(dot(vecCol, "__qv__") / (col("__n__") * col("__qn__")), 6))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("cosine_rp"), col("cosine"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication — cluster the embedding space with k-means, then within
    * each cluster treat any pair with cosine ≥ `threshold` as duplicates
    * and keep ONE representative per connected duplicate group (the lowest
    * id, via the same transitive closure the text near-dup path uses).
    * Returns the kept subset of `emb` (all original columns).
    *
    * `centroids` is a `(cid, cv)` table — typically [[kmeansFit]] output —
    * so train/serve assignment share one fold and cannot disagree.
    *
    * Scale design: the cluster id is the blocking key, exactly like the
    * LSH band hash in MinHash dedup — candidate pairs are a within-cell
    * self-equi-join, never corpus all-pairs. The published method sizes
    * k ~ sqrt(n) precisely so cells stay O(sqrt(n)); k is the caller's
    * knob and the per-pair verify is one codegen'd dot product over
    * precomputed norms. The closure runs on the (tiny) duplicate-pair
    * graph only.
    *
    * `maxCellSize` > 0 is the hot-cell guard (the [[Dedup.minhashPairs]]
    * `maxBucketSize` pattern): a k-means cell that still collects more
    * than the cap — a dense mode the centroid count can't split — is
    * excluded from pair generation entirely, so its members are KEPT, not
    * compared O(cell²). A documented recall tradeoff, identical on the
    * oracle side (ops.AnnOps parameterizes both from one constant). */
  /** Semantic (embedding-space) benchmark decontamination — the
    * similarity-space twin of the n-gram `Dedup.contamination` detector:
    * flag corpus vectors whose MAX cosine against the eval suite's
    * embeddings reaches `threshold`, catching the paraphrased or
    * re-tokenized benchmark leakage exact n-gram overlap misses.
    *
    * The eval suite is a bounded model parameter (the eval-gram-freeze /
    * rpTopK precedent): its vectors freeze into the plan as float-array
    * LITERALS, so serving is |eval| codegen'd `float_vec_dot` folds per
    * corpus row — ZERO joins, zero shuffles, scan-linear at any corpus
    * size (at |eval| in the thousands, switch to the `contamination`
    * broadcast-join shape instead). Each cosine rounds to 6dp BEFORE the
    * max so both engines agree on the winner; `Float.toString` is
    * shortest-round-trip, so the frozen literals are bit-identical to
    * the source column. Output: (id, max_eval_cos, contaminated).
    *
    * PLAN-SIZE BOUND (`maxEvalVecs`): literal freezing makes the plan
    * grow linearly with the eval suite — a 1M-vector suite would blow
    * Catalyst analysis long before data scale matters (the
    * `maxExactGrams` → Bloom precedent). Above the threshold the suite
    * ships as DATA instead: an RDD-backed eval frame (never a
    * LocalRelation — its literals would re-enter the plan) folds into
    * ONE broadcast row of (index, vector, norm) structs sorted by
    * index, each corpus row finds its best eval vector with the
    * codegen'd `vec_argmax_cell` native (argmax by unrounded cosine;
    * rounding is monotone, so round(cos(argmax)) = max of the rounded
    * cosines the literal path computes), and the winner's cosine is
    * recomputed with the IDENTICAL formula — value-parity is
    * spec-pinned, the plan string is O(1) in eval size, and serving
    * stays zero-join/zero-shuffle (1-row broadcast, no row
    * expansion). */
  def semanticDecontaminate(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      evalVecs: Seq[Seq[Float]],
      threshold: Double,
      maxEvalVecs: Int = 256): DataFrame = {
    require(evalVecs.nonEmpty, "need a non-empty eval suite")
    require(evalVecs.forall(_.forall(f => !f.isNaN && !f.isInfinite)),
      "eval vectors must be finite (literal round-trip)")
    // zero-norm eval vectors have no cosine: the literal path would NaN
    // every row (NaN is greatest → everything flags) while the broadcast
    // argmax pins zero-norm sims to -2 — reject them so the two paths
    // can never diverge across the maxEvalVecs boundary
    require(evalVecs.forall(_.exists(_ != 0f)),
      "eval vectors must have nonzero norm (cosine undefined)")
    graft.GraftExtensions.install(corpus.sparkSession)
    val withNorm = corpus.withColumn("__nrm__",
      sqrt(expr(s"float_vec_dot($vecCol, $vecCol)")))
    val scored =
      if (evalVecs.size <= maxEvalVecs) {
        def litArr(v: Seq[Float]) =
          s"array(${v.map(x => s"CAST($x AS FLOAT)").mkString(", ")})"
        val cosines = evalVecs.map { v =>
          val l = litArr(v)
          round(expr(s"float_vec_dot($vecCol, $l)")
            / (col("__nrm__") * sqrt(expr(s"float_vec_dot($l, $l)"))), 6)
        }
        val mx =
          if (cosines.size == 1) cosines.head else greatest(cosines: _*)
        withNorm.withColumn("max_eval_cos", mx)
      } else {
        import org.apache.spark.sql.types._
        val spark = corpus.sparkSession
        val evalDf = spark.createDataFrame(
          spark.sparkContext.parallelize(
            evalVecs.zipWithIndex.map { case (v, i) =>
              org.apache.spark.sql.Row(i + 1, v)
            },
            1 + evalVecs.size / 65536),
          StructType(Seq(StructField("cid", IntegerType),
            StructField("cv", ArrayType(FloatType)))))
        // array_sort on the struct array orders by the leading cid field
        // (distinct 1..m), so element_at by the argmax's cid is exact —
        // collect_list order alone is unspecified
        val centArr = evalDf
          .select(col("cid").as("__cid__"), col("cv").as("__cv__"),
            sqrt(expr("float_vec_dot(cv, cv)")).as("__cn__"))
          .agg(array_sort(collect_list(struct(col("__cid__"),
            col("__cv__"), col("__cn__")))).as("__cents__"))
        withNorm
          .crossJoin(broadcast(centArr)) // provably-1-row build side
          .withColumn("__w__",
            expr(s"vec_argmax_cell($vecCol, __nrm__, __cents__)"))
          .withColumn("__we__", expr("element_at(__cents__, __w__)"))
          .withColumn("max_eval_cos",
            round(expr(s"float_vec_dot($vecCol, __we__.__cv__)")
              / (col("__nrm__") * col("__we__.__cn__")), 6))
      }
    scored.select(col(idCol), col("max_eval_cos"),
      (col("max_eval_cos") >= threshold).as("contaminated"))
  }

  def semDedup(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      threshold: Double,
      maxCellSize: Int = 0,
      scope: CacheScope = CacheScope.global,
  ): DataFrame = {
    graft.GraftExtensions.install(emb.sparkSession)
    // both self-join sides read (id, vec, norm, cell) — materialize once.
    // The (id, vec, norm) projection comes from the MEMOIZED cacheBase, so
    // when `centroids` was fit from the same frame (kmeansFitSqrtK) the
    // assignment pass reads the fit's InMemoryRelation instead of
    // re-scanning the corpus for an identical projection.
    val assignedAll =
      withCell(cacheBase(emb, idCol, vecCol, scope), "__v__", centroids)
        .select(col("__vid__").as("__id__"), col("__v__"),
          col("__n__"), col("__cell__"))
    // Cell cap as an AGGREGATE count + broadcast semi-join, not a window
    // partitioned by __cell__: the window funneled the hot cell — the
    // exact cell the cap exists to neutralize — through ONE task before
    // dropping it (single-task straggler at 100×). The aggregate count
    // map-side-combines (√n cells → tiny), broadcasts, and the kept SET
    // is identical (a cell's window count equals its group count).
    // Null-safe equality so NULL-cell rows (zero-norm vectors) keep the
    // window formulation's behavior of counting as their own group.
    val assigned = scope.cache(
      if (maxCellSize <= 0) assignedAll
      else {
        val okCells = assignedAll
          .groupBy(col("__cell__"))
          .agg(count(lit(1)).as("__cn__"))
          .where(col("__cn__") <= maxCellSize)
          .select(col("__cell__").as("__okc__"))
        assignedAll.join(broadcast(okCells),
          col("__cell__") <=> col("__okc__"), "left_semi")
      })
    val pairs = assigned.as("a")
      .join(assigned.as("b"),
        col("a.__cell__") === col("b.__cell__") &&
          col("a.__id__") < col("b.__id__"))
      .withColumn("__cos__",
        round(dot("a.__v__", "b.__v__") / (col("a.__n__") * col("b.__n__")), 6))
      .where(col("__cos__") >= threshold)
      .select(col("a.__id__").as("__pa__"), col("b.__id__").as("__pb__"))
    val drop = Dedup.clusterPairs(pairs, "__pa__", "__pb__")
      .where(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("__drop__"))
    emb.join(drop, col(idCol) === col("__drop__"), "left_anti")
  }

  /** Embedding-cosine near-duplicate pairs: sign-LSH bucket self-join for
    * candidates (within-bucket only), cosine ≥ threshold verifies. */
  def nearDupPairs(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      bits: Int,
      threshold: Double,
      scope: CacheScope = CacheScope.global,
  ): DataFrame = {
    graft.GraftExtensions.install(emb.sparkSession)
    val withBkt = scope.cache(emb // both self-join sides
      .select(col(idCol).as("__id__"), col(vecCol).as("__v__"))
      .withColumn("__bkt__", signBucket("__v__", bits))
      .withColumn("__n__", sqrt(dot("__v__", "__v__"))))
    withBkt.as("a")
      .join(withBkt.as("b"),
        col("a.__bkt__") === col("b.__bkt__") && col("a.__id__") < col("b.__id__"))
      .withColumn("cosine",
        round(dot("a.__v__", "b.__v__") / (col("a.__n__") * col("b.__n__")), 6))
      .where(col("cosine") >= threshold)
      .select(col("a.__id__").as("vec_a"), col("b.__id__").as("vec_b"),
        col("cosine"))
  }
}
