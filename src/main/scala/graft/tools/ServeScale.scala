package graft.tools

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.CacheScope

/** Decade-scale SERVE-path validation — the SCALE.md rows the per-dir
  * ScaleCheck protocol cannot express, because they grow ONLY the
  * index/corpus side while the query slice stays fixed (the production
  * shape: yesterday's index grows every crawl, the per-crawl slice does
  * not):
  *
  *   - `minhash <src> <factor>` — fixed even-doc slice vs a MinHash
  *     index of factor× replicated odd docs. Replicas get a per-replica
  *     word PREFIX (`r<k>_word`), so no replica shares a single shingle
  *     with another — near-dup density per document stays the source
  *     corpus's (the ScaleCheck substitution-cipher rationale, without
  *     its 52-transform ceiling, so 100× decades are valid).
  *   - `ivf <src> <factor>` — fixed 3-query serve vs an IVF index of
  *     factor× replicated embeddings (ScaleCheck's per-(replica, dim)
  *     jitter; k = √n cells re-fit per scale, the operator's contract).
  *   - `spectral <factor>` — fixed 24-clip/image new slices vs audio and
  *     image SPECTRAL indexes over 240·factor synthesized clips, every
  *     clip uniquely perturbed (a REPLICA-keyed perturbation would make
  *     the ~30 same-group clips per block bit-identical and measure a
  *     degenerate hot bucket, not the operator); the new slices are
  *     invariance-jittered twins of the first 24, so the verify path
  *     runs too, with the growing-corpus fixture the fixed-24-clip
  *     ScaleCheck row is flat by construction on.
  *
  * Usage: runMain graft.tools.ServeScale <mode> [srcSfDir] [factor]
  * Prints min-of-3 walls at 1× and factor× and the ratio; index builds
  * are untimed (ingest-time work by contract).
  */
object ServeScale {

  private def time3(label: String)(body: => Unit): Double = {
    val w = (1 to 3).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }.min
    println(f"[serve-scale] $label%-36s min-of-3 wall $w%8.3f s")
    w
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("minhash")
    val srcDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.SessionTuning.session(cpus)
    graft.GraftExtensions.install(spark)
    val (w1, wN) = mode match {
      case "minhash" => minhash(spark, srcDir, factor)
      case "ivf" => ivf(spark, srcDir, factor)
      case "ivfpq" => ivfpq(spark, srcDir, factor)
      case "ivfpqr" => ivfpqr(spark, srcDir, factor)
      case "spectral" => spectral(spark, factor)
      case m => sys.error(
        s"unknown mode $m (minhash | ivf | ivfpq | ivfpqr | spectral)")
    }
    println(f"[serve-scale] $mode ${factor}x-index ratio: ${wN / w1}%.2fx")
    spark.stop()
  }

  /** Fixed even-doc slice served against a MinHash index grown factor×. */
  private def minhash(
      spark: SparkSession, srcDir: String, factor: Int): (Double, Double) = {
    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
      .select("doc_id", "text")
    val nDocs = docs.agg(max("doc_id")).head.getLong(0) + 1
    val fixed = docs.where(col("doc_id") % 2 === 0)
    def corpus(f: Int): DataFrame = docs
      .where(col("doc_id") % 2 === 1)
      .crossJoin(spark.range(0, f).select(col("id").cast("int").as("__rep__")))
      .select(
        (col("doc_id") + col("__rep__").cast("long") * nDocs).as("doc_id"),
        when(col("__rep__") === 0, col("text"))
          .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("r"), col("__rep__"), lit("_$1")))).as("text"))
    def run(f: Int): Double = {
      val tbl = s"serve_mh_$f"
      graft.sources.ParquetIO.writeBucketed( // untimed: ingest-time build
        graft.llm.Dedup.minhashIndex(corpus(f), "doc_id", "text"),
        tbl, s"/tmp/graft_serve_scale/mh_$f", "__bkey__", 8)
      val w = time3(s"minhash serve vs ${f}x index") {
        val scope = new CacheScope
        graft.llm.Dedup.minhashJoinIndexed(
            fixed, "doc_id", "text", spark.table(tbl), scope = scope)
          .write.format("noop").mode("overwrite").save()
        scope.release()
      }
      // the STREAMING admission twin over the same fixed slice (single-
      // batch backfill mode): band join + keyed first-seen dedupe state
      time3(s"streaming minhash admit vs ${f}x index") {
        graft.streaming.Streams.streamingMinhashNearDup(
            fixed, "doc_id", "text", spark.table(tbl))
          .write.format("noop").mode("overwrite").save()
      }
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      w
    }
    (run(1), run(factor))
  }

  /** factor×-replicated embedding corpus with per-(replica, dim) jitter
    * (the ScaleCheck rationale: replicas never coincide, geometry stays
    * the source corpus's). */
  private def embCorpus(
      spark: SparkSession, emb: DataFrame, nVec: Long, f: Int): DataFrame =
    emb
      .crossJoin(spark.range(0, f).select(col("id").cast("int").as("__rep__")))
      .select(
        (col("vec_id") + col("__rep__").cast("long") * nVec).as("vec_id"),
        when(col("__rep__") === 0, col("embedding")).otherwise(
          expr("""transform(embedding, (x, i) ->
                  CAST(x + ((__rep__ * 37 + i * 13) % 11 - 5) * 0.002 AS float))"""))
          .as("embedding"))

  /** Fixed 3-query IVF serve + fixed 50-vector ADMISSION slice against
    * postings grown factor× (√n cells re-fit per scale — cell count is
    * the operator's own scale knob). The admission rows (batch +
    * streaming twin) are the embedding-modality validation the MinHash
    * mode's 100× decade already has. */
  private def ivf(
      spark: SparkSession, srcDir: String, factor: Int): (Double, Double) = {
    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
    val nVec = emb.agg(max("vec_id")).head.getLong(0) + 1
    val fixed = emb.where(col("vec_id") < 3)
    def run(f: Int): Double = {
      val tbl = s"serve_ivf_$f"
      val dir = s"/tmp/graft_serve_scale/ivf_$f"
      val scope = new CacheScope
      val c = embCorpus(spark, emb, nVec, f)
      val cents = graft.llm.Embeddings.kmeansFitSqrtK( // untimed fit
        c, "vec_id", "embedding", iters = 2, scope = scope)
      graft.llm.Embeddings.ivfIndexSave( // untimed: ingest-time build
        c, "vec_id", "embedding", cents, tbl, dir)
      scope.release()
      val w = time3(s"ivf serve vs ${f}x postings") {
        graft.llm.Embeddings.ivfTopKIndexed(
            fixed, "vec_id", "embedding", dir, spark.table(tbl), k = 5)
          .write.format("noop").mode("overwrite").save()
      }
      // fixed ADMISSION slice: 50 exact re-submissions under fresh ids
      // that never collide with any replica id
      val admit = emb.where(col("vec_id") < 50)
        .select((col("vec_id") + f.toLong * nVec + 1000000L).as("vec_id"),
          col("embedding"))
      time3(s"ivf admit vs ${f}x postings") {
        graft.llm.Embeddings.ivfNearDupJoinIndexed(
            admit, "vec_id", "embedding", dir, spark.table(tbl),
            threshold = 0.8)
          .write.format("noop").mode("overwrite").save()
      }
      time3(s"streaming ivf admit vs ${f}x postings") {
        graft.streaming.Streams.streamingIvfNearDup(
            admit, "vec_id", "embedding", dir, spark.table(tbl),
            threshold = 0.8)
          .write.format("noop").mode("overwrite").save()
      }
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      w
    }
    (run(1), run(factor))
  }

  /** Fixed 3-query IVF-PQ serve against CODED postings grown factor×:
    * coarse cells + m=2 segment codebooks re-fit per scale (untimed,
    * ingest-time by contract), the timed body is the production read
    * path — coded-postings ADC with probed-cell pushdown + exact rerank
    * over the id-bucketed raw store via pushed point lookups. */
  private def ivfpq(
      spark: SparkSession, srcDir: String, factor: Int): (Double, Double) = {
    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
    val nVec = emb.agg(max("vec_id")).head.getLong(0) + 1
    val fixed = emb.where(col("vec_id") < 3)
    def run(f: Int): Double = {
      val tbl = s"serve_ivfpq_$f"
      val rawTbl = s"serve_ivfpq_raw_$f"
      val dir = s"/tmp/graft_serve_scale/ivfpq_$f"
      val scope = new CacheScope
      val c = scope.cache(embCorpus(spark, emb, nVec, f))
      val cents = graft.llm.Embeddings.kmeansFitSqrtK( // untimed fit
        c, "vec_id", "embedding", iters = 2, scope = scope)
      val cb = graft.llm.Embeddings.pqCodebooks( // untimed fit
        c, "vec_id", "embedding", dim = 64, m = 2,
        initPred = col("vec_id") < 4, iters = 2, scope = scope)
      graft.llm.Embeddings.ivfPqIndexSave( // untimed: ingest-time build
        c, "vec_id", "embedding", cents, cb, dim = 64, m = 2, tbl, dir)
      graft.sources.ParquetIO.writeBucketed( // untimed: the raw id store
        c.select(col("vec_id"), col("embedding")),
        rawTbl, s"$dir/raw", "vec_id", 8)
      scope.release()
      val w = time3(s"ivfpq serve+rerank vs ${f}x postings") {
        graft.llm.Embeddings.ivfPqTopKIndexed(
            fixed, "vec_id", "embedding", dir, spark.table(tbl),
            dim = 64, m = 2, k = 10, candFactor = 4,
            rerank = Some(spark.table(rawTbl)))
          .write.format("noop").mode("overwrite").save()
      }
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"DROP TABLE IF EXISTS $rawTbl")
      w
    }
    (run(1), run(factor))
  }

  /** [[ivfpq]]'s RESIDUAL-coded twin: the same fixed 3-query serve vs a
    * by-residual coded index grown factor× — measures that the stored
    * reconstructed-norm design keeps the residual serve path's wall as
    * flat as the plain coded path's (no per-candidate cross-term work
    * appears with corpus growth; the extra q·c numerator term is
    * query×nprobe-sized). */
  private def ivfpqr(
      spark: SparkSession, srcDir: String, factor: Int): (Double, Double) = {
    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
    val nVec = emb.agg(max("vec_id")).head.getLong(0) + 1
    val fixed = emb.where(col("vec_id") < 3)
    def run(f: Int): Double = {
      val tbl = s"serve_ivfpqr_$f"
      val dir = s"/tmp/graft_serve_scale/ivfpqr_$f"
      val scope = new CacheScope
      val c = scope.cache(embCorpus(spark, emb, nVec, f))
      val cents = graft.llm.Embeddings.kmeansFitSqrtK( // untimed fit
        c, "vec_id", "embedding", iters = 2, scope = scope)
      val cb = graft.llm.Embeddings.pqResidualCodebooks( // untimed fit
        c, "vec_id", "embedding", cents, dim = 64, m = 2,
        initPred = col("vec_id") < 4, iters = 2, scope = scope)
      graft.llm.Embeddings.ivfPqIndexSave( // untimed: ingest-time build
        c, "vec_id", "embedding", cents, cb, dim = 64, m = 2, tbl, dir,
        residual = true)
      scope.release()
      val w = time3(s"ivfpqr residual ADC vs ${f}x postings") {
        graft.llm.Embeddings.ivfPqTopKIndexed(
            fixed, "vec_id", "embedding", dir, spark.table(tbl),
            dim = 64, m = 2, k = 10, nprobe = 2)
          .write.format("noop").mode("overwrite").save()
      }
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      w
    }
    (run(1), run(factor))
  }

  /** Fixed 24-item new slices vs audio + image spectral indexes over a
    * corpus of 240·factor uniquely-perturbed clips/images. Returns the
    * (1×, factor×) SUM of the audio and image serve walls. */
  private def spectral(spark: SparkSession, factor: Int): (Double, Double) = {
    val Base = 240
    def wav(id: Long, jit: Int): Array[Byte] = {
      val g = (id % 8).toInt
      val u = (id / 8).toInt // per-CLIP perturbation key, never per-replica
      val n0 = 240 + (g % 7) * 40
      graft.llm.Multimodal.encodeWav(8000, 1, Array.tabulate(n0)(i =>
        ((((7L * g + 13L * i) % 2048L) - 1024L) + (31L * u + 7L * i) % 13L +
          (if (i < 4) jit else 0)).toShort))
    }
    def png(id: Long, dc: Int): Array[Byte] = {
      val g = (id % 8).toInt
      val u = (id / 8).toInt
      val w0 = 24 + (g % 5) * 4
      val h0 = 18 + (g % 3) * 6
      graft.llm.Multimodal.encodePng(w0, h0, 1, (x, y, _) =>
        ((7L * x + 13L * y + 3L * g) % 97L + 20L + (5L * u) % 11L).toInt + dc)
    }
    val binSchema = Encoders.row(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("payload",
        org.apache.spark.sql.types.BinaryType))))
    def clips(n: Int, enc: (Long, Int) => Array[Byte]): DataFrame =
      spark.range(0, n).select(col("id").as("doc_id"))
        .repartition(32)
        .mapPartitions(_.map(r => Row(r.getLong(0), enc(r.getLong(0), 0))))(binSchema)
    // fixed new slice: invariance-jittered twins of ids 0..23 (collide
    // with their indexed originals; ids offset so they never equal an
    // index id)
    def newSlice(enc: (Long, Int) => Array[Byte]): DataFrame =
      spark.range(0, 24).select(col("id").as("doc_id"))
        .mapPartitions(_.map(r =>
          Row(1000000000L + r.getLong(0), enc(r.getLong(0), 1))))(binSchema)
    def run(f: Int): Double = {
      val scope = new CacheScope
      val audioIdx = scope.cache(graft.llm.Multimodal.audioSpectralIndex(
        clips(Base * f, wav), "doc_id", "payload", maxPerBucketSide = 2))
      val imageIdx = scope.cache(graft.llm.Multimodal.imageSpectralIndex(
        clips(Base * f, png), "doc_id", "payload", maxPerBucketSide = 2))
      audioIdx.count(); imageIdx.count() // untimed: ingest-time build
      val wa = time3(s"audio spectral serve vs ${f}x corpus") {
        val qs = new CacheScope
        graft.llm.Multimodal.audioSpectralNearDupJoinIndexed(
            newSlice(wav), "doc_id", "payload", audioIdx, maxHamming = 6,
            scope = qs)
          .write.format("noop").mode("overwrite").save()
        qs.release()
      }
      val wi = time3(s"image spectral serve vs ${f}x corpus") {
        val qs = new CacheScope
        graft.llm.Multimodal.imageSpectralNearDupJoinIndexed(
            newSlice(png), "doc_id", "payload", imageIdx, maxHamming = 6,
            scope = qs)
          .write.format("noop").mode("overwrite").save()
        qs.release()
      }
      scope.release()
      wa + wi
    }
    (run(1), run(factor))
  }
}
