package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.Embeddings

/** Empirical scale validation (SCALE.md's measured column): replicate the
  * sf0.1 tables `factor`× with id offsets and content perturbation, then
  * time the headline query families at both scales and report the
  * wall/cpu growth ratio per family. The replication is designed to hold
  * WORKLOAD DENSITY constant while size grows — the property a real 10×
  * corpus has and naive row duplication destroys:
  *
  *   - documents: each replica's text goes through a replica-specific
  *     letter rotation (a Caesar alphabet per replica), so replicas share
  *     NO shingles with the original — duplicate/near-duplicate density
  *     per document stays exactly sf0.1's, instead of every doc gaining
  *     `factor` artificial near-twins (which would grow within-bucket
  *     pair work quadratically and measure a fiction).
  *   - embeddings: a small deterministic per-(replica, dimension) jitter
  *     breaks exact cross-replica duplication while preserving the
  *     near-orthogonal geometry the ANN cell sizing assumes.
  *   - events / lineitem: replicas get fresh group ids (user_id /
  *     l_orderkey offsets), so groups multiply while per-group event
  *     counts — the state/frontier bound — stay constant.
  *
  * Usage: runMain graft.ScaleCheck <srcSfDir> <workDir> [factor] [q1,q2,…]
  * Writes <workDir>/scaled parquet, prints a markdown table of
  * min-of-3-pass walls at both scales and their ratio. The optional 4th
  * arg times only the named queries (new families without re-timing the
  * whole set).
  */
object ScaleCheck {
  private val osBean = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  // headline families: scan+agg, funnel/chain, sessionize, retention,
  // exact/minhash/ngram dedup, closure, semantic dedup, IVF-PQ serving,
  // decontamination, BM25
  private val Queries = Seq(
    "q1_agg", "q_match_steps", "q_sessionize", "q_retention",
    "q_dedup_exact", "q_dedup_minhash", "q_dedup_ngram", "q_dedup_clusters",
    "q_semdedup", "q_ann_ivfpq", "q_contamination", "q_bm25_search",
    "q_image_neardup_corpus", "q_video_neardup_corpus")

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val workDir = args.lift(1).getOrElse("/tmp/graft_scale")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SessionTuning.session(cpus)
    val scaledDir = s"$workDir/sf_x$factor"
    generate(spark, srcDir, scaledDir, factor)

    def time(dir: String, name: String): (Double, Double) = {
      // min of 3: steady state, discounting first-run codegen and host
      // stalls (both only ever inflate)
      val runs = (1 to 3).map { _ =>
        val c0 = osBean.getProcessCpuTime
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        llm.CacheScope.global.release()
        ((System.nanoTime() - t0) / 1e9, (osBean.getProcessCpuTime - c0) / 1e9)
      }
      runs.minBy(_._1)
    }

    val selected = args.lift(3)
      .map(_.split(',').toSeq.filter(_.nonEmpty))
      .getOrElse(Queries)
    println(f"| query | sf0.1 wall (s) | x$factor wall (s) | ratio | x$factor cpu (s) |")
    println("|---|---|---|---|---|")
    val specials = Set("fit_sampled", "ivf_skew", "substr_append",
      "containment")
    selected.filterNot(specials).foreach { q =>
      val (w1, _) = time(srcDir, q)
      val (wN, cN) = time(scaledDir, q)
      println(f"| $q | $w1%.2f | $wN%.2f | ${wN / w1}%.2fx | $cN%.1f |")
    }
    if (selected.contains("fit_sampled"))
      fitSampledCheck(spark, srcDir, scaledDir, factor)
    if (selected.contains("ivf_skew"))
      ivfSkewCheck(spark, srcDir, s"$workDir/skew", factor)
    if (selected.contains("substr_append"))
      substrAppendCheck(spark, srcDir, scaledDir, s"$workDir/substr", factor)
    if (selected.contains("containment"))
      containmentCheck(spark, srcDir, scaledDir, factor)
    spark.stop()
  }

  /** Append-maintenance decade for the substring gram index: the SAME
    * fixed slice appended into a 1× and a `factor`× index. The append
    * never touches stored postings — its only index-size-dependent cost
    * is the column-pruned `freq/seg-` gram-dictionary scan — so its wall
    * must grow far slower than the index (the rebuild rows show what a
    * per-version rebuild would pay instead). Each timing pass appends a
    * fresh segment (appends mutate), identically at both scales, so the
    * min-of-3 stays comparable. */
  private def substrAppendCheck(
      spark: SparkSession, srcDir: String, scaledDir: String,
      workDir: String, factor: Int): Unit = {
    def docs(dir: String) =
      sources.ParquetIO.read(spark, s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
    val slice = docs(srcDir).where(pmod(col("doc_id"), lit(17L)) === 5L)
      .select((col("doc_id") + 9000000L).as("doc_id"), col("text"))
    def build(dir: String, tag: String): Double = {
      spark.sql(s"DROP TABLE IF EXISTS substr_sc_$tag")
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"$workDir/$tag"))
      val t0 = System.nanoTime()
      llm.Dedup.substringIndexSave(docs(dir), "doc_id", "text",
        minMatchWords = 8, s"substr_sc_$tag", s"$workDir/$tag")
      (System.nanoTime() - t0) / 1e9
    }
    val b1 = build(srcDir, "s1")
    val bN = build(scaledDir, "sN")
    def appendWall(tag: String): Double = minOf3(() =>
      llm.Dedup.substringIndexAppend(slice, "doc_id", "text",
        s"substr_sc_$tag", s"$workDir/$tag"))
    val a1 = appendWall("s1")
    val aN = appendWall("sN")
    println(s"\n| substring index | sf0.1 wall (s) | x$factor wall (s) | ratio |")
    println("|---|---|---|---|")
    println(f"| full rebuild (save) | $b1%.2f | $bN%.2f | ${bN / b1}%.2fx |")
    println(f"| append fixed slice | $a1%.2f | $aN%.2f | ${aN / a1}%.2fx |")
  }

  /** Full-corpus decade for the exact containment join (the driver's
    * q_dedup_containment synthesizes a FIXED-size truncation corpus, so
    * its ScaleCheck row would measure nothing — this times the operator
    * over the whole documents table at both scales). */
  private def containmentCheck(
      spark: SparkSession, srcDir: String, scaledDir: String, factor: Int,
  ): Unit = {
    def docs(dir: String) =
      sources.ParquetIO.read(spark, s"$dir/documents.parquet")
    def wall(dir: String): Double = minOf3 { () =>
      llm.Dedup.containmentJoinExact(docs(dir), "doc_id", "text")
        .write.format("noop").mode("overwrite").save()
      llm.CacheScope.global.release()
    }
    val w1 = wall(srcDir)
    val wN = wall(scaledDir)
    println(f"| containment (FULL corpus) | $w1%.2f | $wN%.2f | ${wN / w1}%.2fx | n/a |")
  }

  private def minOf3(body: () => Unit): Double =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime(); body(); (System.nanoTime() - t0) / 1e9
    }.min

  /** Sampled-quantizer-fit decade: the FULL sqrt-k fit re-scans the
    * corpus every Lloyd pass (the linear baseline this feature removes);
    * the SAMPLED fit holds the training set ~constant via the cap
    * discipline (pct ∝ 1/factor) — flat at fixed k, and sub-linear even
    * when k itself grows as sqrt(n). */
  private def fitSampledCheck(
      spark: SparkSession, srcDir: String, scaledDir: String,
      factor: Int): Unit = {
    def emb(dir: String) =
      sources.ParquetIO.read(spark, s"$dir/embeddings.parquet")
        .where(col("embedding").isNotNull)
        .select(col("vec_id"), col("embedding"))
    def fitFull(dir: String): Double = minOf3 { () =>
      val sc = new llm.CacheScope
      Embeddings.kmeansFitSqrtK(emb(dir), "vec_id", "embedding",
        iters = 2, scope = sc).count()
      sc.release()
    }
    def fitSampled(dir: String, pct: Double, k: Int): Double = minOf3 { () =>
      val sc = new llm.CacheScope
      Embeddings.kmeansFitSampled(emb(dir), "vec_id", "embedding",
        k = k, iters = 2, samplePct = pct, scope = sc).count()
      sc.release()
    }
    val full1 = fitFull(srcDir)
    val fullN = fitFull(scaledDir)
    // fixed k, sample held ~constant: the flat configuration
    val s1 = fitSampled(srcDir, 25.0, 64)
    val sN = fitSampled(scaledDir, 25.0 / factor, 64)
    // k = sqrt(n) growing with the corpus, sample still capped:
    // sub-linear (argmax cost per sampled row grows with k)
    val q1 = minOf3 { () =>
      val sc = new llm.CacheScope
      Embeddings.kmeansFitSqrtKSampled(emb(srcDir), "vec_id", "embedding",
        iters = 2, samplePct = 25.0, scope = sc).count()
      sc.release()
    }
    val qN = minOf3 { () =>
      val sc = new llm.CacheScope
      Embeddings.kmeansFitSqrtKSampled(emb(scaledDir), "vec_id", "embedding",
        iters = 2, samplePct = 25.0 / factor, scope = sc).count()
      sc.release()
    }
    println(s"\n| quantizer fit | sf0.1 wall (s) | x$factor wall (s) | ratio |")
    println("|---|---|---|---|")
    println(f"| full sqrt-k fit | $full1%.2f | $fullN%.2f | ${fullN / full1}%.2fx |")
    println(f"| sampled fit (k=64, cap'd sample) | $s1%.2f | $sN%.2f | ${sN / s1}%.2fx |")
    println(f"| sampled fit (k=sqrt n, cap'd sample) | $q1%.2f | $qN%.2f | ${qN / q1}%.2fx |")
  }

  /** Planted-skew decade for the hot-cell split: frozen-centroid appends
    * pile a hot direction into ONE cell (the realistic drift shape), a
    * hot-direction query's serve wall then grows with the cell — until
    * [[llm.Embeddings.ivfHotCellSplitToCap]] restores the cap. */
  private def ivfSkewCheck(
      spark: SparkSession, srcDir: String, workDir: String,
      factor: Int): Unit = {

    val emb = sources.ParquetIO.read(spark, s"$srcDir/embeddings.parquet")
      .where(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"))
    def hotVecs(m: Int, idOff: Long) = spark.range(m).select(
      (col("id") + idOff).as("vec_id"),
      expr("""transform(sequence(0, 63), i -> CAST(
          CASE WHEN i = 0 THEN 1.0
               ELSE 0.05 * ((id * 7 + i) % 13) / 13.0 END AS float))""")
        .as("embedding"))
    val queries = hotVecs(8, 9000000L)
    val m1 = 20000
    def buildAndMeasure(m: Int, tag: String): (Double, Double) = {
      val pre = s"$workDir/${tag}_pre"
      val sc = new llm.CacheScope
      val cents = Embeddings.kmeansFitSqrtK(emb, "vec_id", "embedding",
        iters = 2, scope = sc)
      spark.sql(s"DROP TABLE IF EXISTS skew_${tag}_pre")
      Embeddings.ivfIndexSave(emb, "vec_id", "embedding", cents,
        s"skew_${tag}_pre", pre)
      sc.release()
      Embeddings.ivfIndexAppend(hotVecs(m, 1000000L), "vec_id",
        "embedding", pre, s"skew_${tag}_pre")
      val preWall = minOf3(() =>
        Embeddings.ivfTopKIndexed(queries, "vec_id", "embedding", pre,
          spark.table(s"skew_${tag}_pre"), k = 10).count())
      val post = Embeddings.ivfHotCellSplitToCap(spark, pre, "vec_id",
        "embedding", s"skew_${tag}_post", s"$workDir/${tag}_post",
        maxCell = 4000)
      // the final version dir's postings serve as plain parquet (the
      // wall compares candidate bytes, not bucketing)
      val postPostings = graft.sources.ParquetIO.read(spark, s"$post/postings")
      val postWall = minOf3(() =>
        Embeddings.ivfTopKIndexed(queries, "vec_id", "embedding", post,
          postPostings, k = 10, pushCells = false).count())
      (preWall, postWall)
    }
    val (pre1, post1) = buildAndMeasure(m1, "m1")
    val (preN, postN) = buildAndMeasure(m1 * factor, "mN")
    println(s"\n| planted skew (hot cell m → ${factor}m) | m=$m1 | m=${m1 * factor} | ratio |")
    println("|---|---|---|---|")
    println(f"| serve, skewed index | $pre1%.2f | $preN%.2f | ${preN / pre1}%.2fx |")
    println(f"| serve, split-to-cap index | $post1%.2f | $postN%.2f | ${postN / post1}%.2fx |")
  }

  /** Write the `factor`×-scaled copies of the four scale-bearing tables
    * (and passthrough copies of the dimension tables, so every query can
    * run against the scaled dir). Idempotent: skips when present. */
  def generate(spark: SparkSession, srcDir: String, outDir: String, factor: Int): Unit = {
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(s"$outDir/_done"))) return
    val reps = spark.range(0, factor).select(col("id").cast("int").as("__rep__"))
    def src(t: String) = sources.ParquetIO.read(spark, s"$srcDir/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.coalesce(8).write.mode("overwrite").parquet(s"$outDir/$t.parquet")

    // Per-replica substitution cipher over both cases; digits/space/punct
    // fixed. Replicas 1..25 are Caesar rotations; 26..51 rotate the
    // REVERSED alphabet, so no replica's transform is the identity (a bare
    // r % 26 made replica 26 an exact duplicate of the original, silently
    // recreating the quadratic duplicate-density inflation this design
    // exists to prevent). All 52 transforms are pairwise distinct; beyond
    // that the cycle would repeat, so factor is capped.
    require(factor <= 52,
      s"factor $factor > 52 would repeat substitution transforms and " +
        "inflate duplicate density quadratically")
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    def rotExpr(c: String): org.apache.spark.sql.Column = {
      // build CASE over __rep__: translate(text, alphabet, perm(alphabet, rep))
      (1 until factor).foldLeft(when(col("__rep__") === 0, col(c))) { (acc, r) =>
        val k = r % 26
        val (bl, bu) =
          if (r < 26) (lower, upper) else (lower.reverse, upper.reverse)
        val rl = bl.drop(k) + bl.take(k)
        val ru = bu.drop(k) + bu.take(k)
        acc.when(col("__rep__") === r, translate(col(c), lower + upper, rl + ru))
      }.otherwise(col(c))
    }

    val docs = src("documents")
    val nDocs = docs.agg(max("doc_id")).head.getLong(0) + 1
    write(docs.crossJoin(reps)
      .select(
        (col("doc_id") + col("__rep__").cast("long") * nDocs).as("doc_id"),
        rotExpr("text").as("text"),
        col("lang"), col("source"), col("n_chars")), "documents")

    val emb = src("embeddings")
    val nVec = emb.agg(max("vec_id")).head.getLong(0) + 1
    write(emb.crossJoin(reps)
      .select(
        (col("vec_id") + col("__rep__").cast("long") * nVec).as("vec_id"),
        when(col("__rep__") === 0, col("embedding")).otherwise(
          expr("""transform(embedding, (x, i) ->
                  CAST(x + ((__rep__ * 37 + i * 13) % 11 - 5) * 0.002 AS float))"""))
          .as("embedding"),
        col("label")), "embeddings")

    val ev = src("events")
    val nUser = ev.agg(max("user_id")).head.getLong(0) + 1
    val nEvent = ev.agg(max("event_id")).head.getLong(0) + 1
    write(ev.crossJoin(reps)
      .select(
        (col("event_id") + col("__rep__").cast("long") * nEvent).as("event_id"),
        col("ts"),
        (col("user_id") + col("__rep__").cast("long") * nUser).as("user_id"),
        col("event_type"), col("value"), col("props")), "events")

    val li = src("lineitem")
    val nOrd = li.agg(max("l_orderkey")).head.getLong(0) + 1
    write(li.crossJoin(reps)
      .select(
        (col("l_orderkey") + col("__rep__").cast("long") * nOrd).as("l_orderkey") +:
          li.columns.filter(_ != "l_orderkey").map(col).toSeq: _*), "lineitem")

    Seq("region", "nation", "customer", "supplier", "part", "orders")
      .foreach(t => write(src(t), t))
    java.nio.file.Files.createFile(java.nio.file.Paths.get(s"$outDir/_done"))
  }
}
