package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Micro-benchmarks isolating one native expression against its built-in
  * formulation, back-to-back in one JVM over identical data so host churn
  * cancels: a warm pair, then three alternating timed pairs whose
  * checksums must agree. Not part of the driver contract; run with
  * `sbt 'runMain graft.tools.Micro <ac|argmax|ngram> [args]'`:
  *  - `ac [rows] [phrases]`: native `ac_count` (one Aho–Corasick pass for
  *    the whole dictionary) vs one codegen'd `regexp_count` pass PER
  *    phrase, summed — phrases are regex-safe literals;
  *  - `argmax [rows] [dim] [k]`: the nearest-centroid assignment,
  *    native `vec_argmax_cell` vs the CodegenFallback HOF;
  *  - `ngram [rows] [toks] [n]`: word n-gram generation, native
  *    `word_ngrams` vs the CodegenFallback
  *    `transform(sequence(...), i -> concat_ws(' ', slice(...)))` HOF;
  *    checksum = total gram characters, identical by the value-identity
  *    spec.
  */
object Micro {
  /** One A/B: the data, the native per-row column, the alternative's
    * label and per-row column; the checksum is the column's sum. */
  private final case class AB(data: DataFrame, native: Column,
      alt: String, altCol: Column)

  def main(args: Array[String]): Unit = {
    val spark = graft.SessionTuning.session("32")
    graft.GraftExtensions.install(spark)
    val rest = args.drop(1)
    val ab = args.headOption match {
      case Some("ac") => ac(spark, rest)
      case Some("argmax") => argmax(spark, rest)
      case Some("ngram") => ngram(spark, rest)
      case _ => sys.error("usage: Micro <ac|argmax|ngram> [args]")
    }
    def time(label: String, c: Column): Long = {
      val t0 = System.nanoTime()
      val s = ab.data.select(c.as("v")).agg(sum(col("v"))).collect()(0).getLong(0)
      val ms = (System.nanoTime() - t0) / 1000000
      println(f"$label%-8s $ms%6d ms  (checksum $s)")
      s
    }
    time("warm-nat", ab.native); time("warm-" + ab.alt.take(3), ab.altCol)
    val pairs = (1 to 3).map(_ => (time("native", ab.native), time(ab.alt, ab.altCol)))
    require(pairs.forall(p => p._1 == p._2), s"checksum mismatch native vs ${ab.alt}")
    spark.stop()
  }

  private def ac(spark: SparkSession, args: Array[String]): AB = {
    val rows = args.headOption.map(_.toInt).getOrElse(100000)
    val nPhrases = args.lift(1).map(_.toInt).getOrElse(64)
    // word-salad text rows from a small vocabulary; phrases are vocab
    // words and bigrams so hits are plentiful
    val vocab = Seq("table", "value", "part", "spark", "row", "scan",
      "fast", "slow", "hash", "merge", "batch", "line", "sort", "window")
    // bigram/trigram phrases use DISTINCT adjacent words: regexp_count
    // is non-overlapping while AC counts all positions, and only a
    // self-overlapping phrase (e.g. "x x" in "x x x") can differ
    // a phrase may not have a word-level border (first word == last word,
    // e.g. "table b table"): in word-aligned text such a phrase
    // self-overlaps, which AC counts and regexp_count's non-overlapping
    // scan does not — a semantic difference, not a bug in either
    val pool = vocab ++
      (for (a <- vocab; b <- vocab if a != b) yield s"$a $b") ++
      (for (a <- vocab; b <- vocab
            if a != b && a != vocab.head && b != vocab.head)
        yield s"$a $b ${vocab.head}")
    val phrases = pool.take(nPhrases)
    println(s"${phrases.size} phrases")
    val docs = spark.range(rows.toLong)
      .withColumn("text", expr(
        s"""array_join(transform(sequence(1, 40), i ->
              element_at(array(${vocab.map(w => s"'$w'").mkString(",")}),
                CAST(1 + pmod(id * 31 + i * 7, ${vocab.size}) AS int))), ' ')"""))
      .localCheckpoint()
    val arr = phrases.map(p => s"'$p'").mkString("array(", ", ", ")")
    AB(docs, expr(s"ac_count(text, $arr)"), "regex",
      phrases.map(p => expr(s"regexp_count(text, '$p')"))
        .reduce(_ + _).cast("bigint"))
  }

  private def argmax(spark: SparkSession, args: Array[String]): AB = {
    val rows = args.headOption.map(_.toInt).getOrElse(200000)
    val dim = args.lift(1).map(_.toInt).getOrElse(64)
    val k = args.lift(2).map(_.toInt).getOrElse(64)
    val emb = spark.range(rows.toLong)
      .withColumn("embedding",
        expr(s"transform(sequence(1, $dim), i -> cast(sin(id * i) AS float))"))
      .withColumn("__n__", sqrt(graft.llm.Embeddings.dot("embedding", "embedding")))
    val cents = spark.range(k.toLong)
      .select(col("id").as("__cid__"),
        expr(s"transform(sequence(1, $dim), i -> cast(cos(id * i) AS float))").as("__cv__"))
      .withColumn("__cn__", sqrt(graft.llm.Embeddings.dot("__cv__", "__cv__")))
      .agg(collect_list(struct(col("__cid__"), col("__cv__"), col("__cn__")))
        .as("__cents__"))
    AB(emb.crossJoin(broadcast(cents)).localCheckpoint(),
      expr("vec_argmax_cell(embedding, __n__, __cents__)"), "hof",
      graft.llm.Embeddings.argmaxCellHof("embedding", "__n__", "__cents__"))
  }

  private def ngram(spark: SparkSession, args: Array[String]): AB = {
    val rows = args.headOption.map(_.toInt).getOrElse(200000)
    val toks = args.lift(1).map(_.toInt).getOrElse(24)
    val n = args.lift(2).map(_.toInt).getOrElse(3)
    val df = spark.range(rows.toLong)
      .withColumn("__toks__",
        expr(s"transform(sequence(1, $toks), i -> concat('w', (id * i) % 97))"))
      .localCheckpoint()
    def chars(gramsSql: String): Column =
      expr(s"aggregate($gramsSql, 0L, (a, g) -> a + length(g))")
    AB(df, chars(s"word_ngrams(__toks__, $n)"), "hof", chars(
      s"""CASE WHEN size(__toks__) >= $n
          THEN transform(sequence(1, size(__toks__) - ${n - 1}),
                         i -> concat_ws(' ', slice(__toks__, i, $n)))
          ELSE CAST(array() AS array<string>) END"""))
  }
}
