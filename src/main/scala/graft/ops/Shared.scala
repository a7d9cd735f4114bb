package graft
package ops

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.funcs._
import graft.model.Model

/** Helpers the query families share: the parquet model
  * constructor, money sums, and the fixtures and oracle CTE chains more
  * than one family serves from. */
private[ops] object Shared {
  def m(dir: String, table: String): Model = Model.parquet(dir, table)

  /** Input table `name` of the data dir, read through
    * [[graft.sources.ParquetIO]] (schema resolved once per file version). */
  def table(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.ParquetIO.read(s, s"$dir/$name.parquet")

  /** MULTI-SHARD WAT fixture — the link-METADATA member of the crawl
    * trio: 8 `.warc.wat.gz` shards, one `metadata` record per doc whose
    * JSON envelope lists the SAME anchor targets [[linksWarcGlob]]
    * encodes as HTML (`srcs[(id·7+j·13) mod n]` for j ≤ id mod 4), PLUS
    * the relative/javascript noise anchors (present in the Links array —
    * the GRAPH layer must drop them) and an `IMG@/src` entry with an
    * absolute URL (the READER must drop it: only `A@/href` rows are
    * links). Edge set therefore ≡ the HTML extraction's, so
    * q_pagerank_wat shares q_pagerank_links' oracle. */
  def watGlob(s: SparkSession, dir: String): String =
    Fixtures.files("wat", dir, "*.warc.wat.gz") { tmp =>
      val docs = table(s, dir, "documents")
        .select("doc_id", "source")
      // fixture-only driver collects: 20 sources, |docs| rows
      val srcs = docs.select("source").distinct()
        .collect().map(_.getString(0)).sorted
      val nSrc = srcs.length
      val rows = docs.collect().sortBy(_.getLong(0)).map { r =>
        val id = r.getLong(0); val src = r.getString(1)
        val anchors = (1L to (id % 4)).map { j =>
          val dst = srcs(((id * 7 + j * 13) % nSrc).toInt)
          s"""{"path":"A@/href","url":"https://$dst.example/p/$j"}"""
        } ++ Seq(
          """{"path":"A@/href","url":"/rel/p"}""",
          """{"path":"A@/href","url":"javascript:void(0)"}""",
          s"""{"path":"IMG@/src","url":"https://img-$src.example/i.png"}""")
        val json =
          s"""{"Envelope":{"Payload-Metadata":{"HTTP-Response-Metadata":{"HTML-Metadata":{"Links":[${anchors.mkString(",")}]}}}}}"""
        (id, ("metadata", s"https://$src.example/d/$id", "application/json",
          json.getBytes("UTF-8")))
      }
      (0 until 8).foreach { k =>
        val recs = ("warcinfo", s"urn:graft:wat-shard-$k",
          "application/warc-fields",
          "software: graft-fixture\r\n".getBytes("UTF-8")) +:
          rows.filter(_._1 % 8 == k).map(_._2).toSeq
        graft.sources.Warc.write(s"$tmp/shard$k.warc.wat.gz", recs)
      }
    }

  /** Money-sum de-flaker: sum EXACT INTEGER CENTS, then one division back
    * to double. Plain sum(double) is summation-order dependent (Spark
    * partial aggregates vs the DuckDB oracle diverge in the last few ulps —
    * the round-1 `q_join_one` hash failure); integer summation is
    * associative so both sides agree bit-for-bit, and a bigint sum
    * aggregates ~2× cheaper than the round-2 DECIMAL(18,2) formulation.
    * floor(x*100 + 0.5) is the engine-portable half-up cents conversion
    * (sign-safe: a true 2-dp amount lands within ~1e-10 of an integer, so
    * the +0.5 offset can't cross a boundary either way). Long overflow
    * headroom: 9.2e18 cents ≈ $9.2e16 — far past any 100 TB corpus sum.
    * Oracles mirror with
    * CAST(sum(CAST(floor(x*100 + 0.5) AS BIGINT)) AS DOUBLE)/100.0. */
  def moneySum(e: graft.ir.Expr): graft.ir.Expr =
    cast(sum(cast(floor(e * lit(100.0) + lit(0.5)), "bigint")), "double") / lit(100.0)

  /** Transitive closure of `pairs` into `clusters(doc_id, cluster_id)` —
    * appended after [[MinhashPairsCtes]] (whose WITH RECURSIVE header the
    * `reach` CTE relies on). Shared by q_dedup_clusters / q_dedup_apply so
    * the closure formulation can never desynchronize between them. */
  val ClosureCtes: String =
    """, nodes AS (
         SELECT doc_a AS id FROM pairs UNION SELECT doc_b FROM pairs
       ), edges AS (
         SELECT doc_a AS a, doc_b AS b FROM pairs
         UNION SELECT doc_b, doc_a FROM pairs
       ), reach AS (
         SELECT id AS src, id AS dst FROM nodes
         UNION
         SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
       ), clusters AS (
         SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY 1
       )
    """

  /** `maxBucketSize` > 0 replays Dedup.minhashPairs' hot-bucket cap: one
    * windowed count per (band, hash) key filters band rows whose bucket
    * exceeds the cap, exactly like the Spark side's count-over-window —
    * keep both formulations parameterized the same way so a capped query
    * can never silently desynchronize from its oracle (round-3 ADVICE). */
  def minhashPairsCtes(maxBucketSize: Int = 0,
      corpusSql: String = "SELECT doc_id, text FROM documents"): String = {
    val bandCte =
      if (maxBucketSize <= 0)
        """), band AS (
         SELECT doc_id, b,
                md5(array_to_string(list_transform(sig[(b-1)*2+1:(b-1)*2+2],
                      v -> CAST(v AS VARCHAR)), '|')) AS bh
         FROM sig, range(1, 5) AS r(b)"""
      else
        s"""), band_all AS (
         SELECT doc_id, b,
                md5(array_to_string(list_transform(sig[(b-1)*2+1:(b-1)*2+2],
                      v -> CAST(v AS VARCHAR)), '|')) AS bh
         FROM sig, range(1, 5) AS r(b)
       ), band AS (
         SELECT doc_id, b, bh FROM (
           SELECT doc_id, b, bh, count(*) OVER (PARTITION BY b, bh) AS bn
           FROM band_all) t
         WHERE bn <= $maxBucketSize"""
    s"""WITH RECURSIVE corpus AS (
         $corpusSql
       ), toks AS (
         SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM corpus
       ), sh AS (
         SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
                  i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS sh
         FROM toks WHERE len(w) >= 3
       ), sig AS (
         SELECT doc_id, sh, list_transform(range(1, 9),
                  h -> list_min(list_transform(sh,
                         s -> ((2*h+1) * CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT)
                               + 1000000007*h) % 2147483647))) AS sig
         FROM sh
       $bandCte
       ), cand AS (
         SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
         FROM band a JOIN band c ON a.b = c.b AND a.bh = c.bh AND a.doc_id < c.doc_id
       ), pairs AS (
         SELECT doc_a, doc_b, jaccard FROM (
           SELECT doc_a, doc_b,
                  round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
                        len(list_distinct(x.sh || y.sh)), 6) AS jaccard
           FROM cand JOIN sh x ON x.doc_id = doc_a JOIN sh y ON y.doc_id = doc_b) t
         WHERE jaccard >= 0.8
       )
    """
  }

  /** Shared DuckDB CTE chain replaying the MinHash+LSH pipeline
    * (word-3-gram shingles, 8-hash string-min signature, 4×2 bands,
    * band-join candidates, exact-Jaccard verify at 0.8). `RECURSIVE` so
    * q_dedup_clusters can append a recursive closure CTE. */
  lazy val MinhashPairsCtes: String = minhashPairsCtes()

  /** Per-language stopword-count SQL over token list `w` (mirrors
    * TextOps.LangProfiles — keep in sync). */
  def stopCountSql(lang: String): String = {
    val words = graft.llm.TextOps.LangProfiles.toMap.apply(lang)
      .map(w => s"'$w'").mkString(", ")
    s"len(list_filter(w, t -> t IN ($words)))"
  }
}
