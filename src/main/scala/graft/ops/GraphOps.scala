package graft
package ops

import org.apache.spark.sql.{SparkSession, functions => F}

import graft.funcs._
import graft.model.Model
import Shared._

/** Link-graph queries: PageRank and HITS over synthetic, WARC
  * and WAT link graphs, plus incremental PageRank. */
object GraphOps {
  val ops: Seq[Op] = Seq(
    // --- PageRank over the WAT link metadata: the extraction-free link
    //     graph real crawl-curation pipelines run (links come as data,
    //     never via HTML regex) — same edge set as q_pagerank_links by
    //     fixture construction, so the oracle is shared by reference ---
    Op("q_pagerank_wat", (s, dir) =>
      Model.wat(watGlob(s, dir))
        .native { df =>
          val edges = graft.llm.Graph.linkEdges(df, "src_url", "dst_url")
          graft.llm.Graph.pageRankDomains(
            edges, "src_domain", "dst_domain", iterations = 3)
        }
        .sort(col("domain"))
        .run(s),
      // WAT link rows reduce to the SAME distinct non-self domain edge
      // set the HTML extraction yields (fixture construction), so the
      // PageRank output is identical — oracle shared by reference
      Op.oracleOf("q_pagerank_links")),

    // --- link-graph PageRank (crawl authority prior): deterministic
    //     integer fixed-point power iteration over a wrapping synthetic
    //     link fixture (0..4 out-links per doc by doc_id%5 — %5==0 docs
    //     exercise the dangling path; dst wraps mod n so in-degree varies
    //     per node). All-integer shares make every iteration exactly
    //     replayable — the oracle unrolls the 5 rounds as chained CTEs. ---
    Op("q_pagerank", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val n = df.count() // bounded model parameter (node-space modulus)
          val edges = df.select(F.col("doc_id"))
            .withColumn("j", F.explode(F.sequence(F.lit(1L), F.lit(4L))))
            .where(F.col("j") <= F.pmod(F.col("doc_id"), F.lit(5L)))
            .select(F.col("doc_id").as("src"),
              F.pmod(F.col("doc_id") * F.lit(31L) + F.col("j") * F.lit(17L),
                F.lit(n)).as("dst"))
          graft.llm.Graph.pageRank(edges, "src", "dst", iterations = 5)
        }
        .sort(col("node"))
        .run(s),
      PageRankSql),

    // --- INCREMENTAL link-graph maintenance: the persisted artifact
    //     (base edges j∈1..2, ranks converged 5 rounds — memoized
    //     fixture) takes an edge DELTA (j∈3..4) and WARM-STARTS 2
    //     integer rounds from the stored ranks; new nodes seed cold.
    //     The timed body is the incremental path only — no cold refit,
    //     flat vs the full fit as the graph grows ---
    Op("q_pagerank_incr", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val idxDir = pageRankIndex(s, dir)
          val n = df.count() // bounded model parameter (node-space modulus)
          val delta = df.select(F.col("doc_id"))
            .withColumn("j", F.explode(F.sequence(F.lit(3L), F.lit(4L))))
            .where(F.col("j") <= F.pmod(F.col("doc_id"), F.lit(5L)))
            .select(F.col("doc_id").as("src"),
              F.pmod(F.col("doc_id") * F.lit(31L) + F.col("j") * F.lit(17L),
                F.lit(n)).as("dst"))
          graft.llm.Graph.pageRankWarmRanks(s, idxDir, iterations = 2,
            extraEdges = Some(delta))
        }
        .sort(col("node"))
        .run(s),
      PageRankIncrSql),

    // --- HITS hub/authority over the same link fixture: the 2-D link
    //     signal next to PageRank (hubs = link-list/nav pages,
    //     authorities = linked-to content). Integer max-normalized fixed
    //     point — merge-order independent, every round exactly replayable
    //     (the oracle unrolls 3 rounds with max subqueries). ---
    Op("q_hits", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val n = df.count() // bounded model parameter (node-space modulus)
          val edges = df.select(F.col("doc_id"))
            .withColumn("j", F.explode(F.sequence(F.lit(1L), F.lit(4L))))
            .where(F.col("j") <= F.pmod(F.col("doc_id"), F.lit(5L)))
            .select(F.col("doc_id").as("src"),
              F.pmod(F.col("doc_id") * F.lit(31L) + F.col("j") * F.lit(17L),
                F.lit(n)).as("dst"))
          graft.llm.Graph.hits(edges, "src", "dst", iterations = 3)
        }
        .sort(col("node"))
        .run(s),
      HitsSql),

    // --- the crawl-to-authority pipeline END TO END: gzipped WARC of
    //     HTML pages with real <a href> anchors (both quote styles,
    //     plus relative/javascript noise links) → extractLinks regex
    //     pass → registrable-domain edges → 3 PageRank rounds over the
    //     domain graph. Closes the "synthetic edges inside the query"
    //     gap: the graph ops consume the corpus they're motivated by.
    //     Oracle replays the deterministic link construction on the
    //     parquet original (content-identical by construction, the
    //     q_warc_pipeline pattern) + 3 unrolled integer rounds. ---
    Op("q_pagerank_links", (s, dir) => {
      val path = linksWarcGlob(s, dir)
      Model.warc(path)
        .native { df =>
          val pages = df.where(F.col("warc_type") === F.lit("response"))
            .withColumn("__html__", F.col("payload").cast("string"))
          val edges = graft.llm.Graph.extractLinks(pages, "url", "__html__")
          graft.llm.Graph.pageRankDomains(
            edges, "src_domain", "dst_domain", iterations = 3)
        }
        .sort(col("domain"))
        .run(s)
    },
      PageRankLinksSql),

    // --- HITS over the same REAL extracted link graph (shares the
    //     memoized WARC fixture): hub/authority per registrable domain,
    //     the 2-D twin of q_pagerank_links ---
    Op("q_hits_links", (s, dir) => {
      val path = linksWarcGlob(s, dir)
      Model.warc(path)
        .native { df =>
          val pages = df.where(F.col("warc_type") === F.lit("response"))
            .withColumn("__html__", F.col("payload").cast("string"))
          val edges = graft.llm.Graph.extractLinks(pages, "url", "__html__")
          graft.llm.Graph.hitsDomains(
            edges, "src_domain", "dst_domain", iterations = 3)
        }
        .sort(col("domain"))
        .run(s)
    },
      HitsLinksSql),
  )

  /** MULTI-SHARD gzipped-WARC fixture of linked HTML pages, shared by
    * q_pagerank_links / q_hits_links: each doc links to
    * srcs[(doc_id·7 + j·13) mod nSrc] for j ≤ doc_id mod 4 (alternating
    * quote styles) plus relative/javascript noise anchors the extractor
    * must ignore. Written as 8 shards (docs round-robin by id) read back
    * through the glob path — the reader's one-task-per-shard parallelism
    * is exercised, not just its record walk (a single-shard fixture
    * serializes extraction behind one task). */
  private def linksWarcGlob(s: SparkSession, dir: String): String =
    Fixtures.files("links", dir, "*.warc.gz") { tmp =>
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
          if (j % 2 == 1)
            s"""<a class="l" href="https://$dst.example/p/$j">x</a>"""
          else s"<a href='https://$dst.example/p/$j'>x</a>"
        }.mkString
        val html = "<html><body>" + anchors +
          "<a href=\"/rel/p\">skip</a><a href='javascript:void(0)'>s</a>" +
          "</body></html>"
        (id, ("response", s"https://$src.example/d/$id", "text/html",
          html.getBytes("UTF-8")))
      }
      (0 until 8).foreach { k =>
        graft.sources.Warc.write(s"$tmp/shard$k.warc.gz",
          rows.filter(_._1 % 8 == k).map(_._2).toSeq)
      }
    }

  /** Persisted PageRank artifact over the BASE synthetic edge family
    * (j ∈ 1..2 of q_pagerank's j ≤ doc_id%5 fixture), ranks converged 5
    * rounds — so q_pagerank_incr's timed body is the incremental read
    * path only: append-shaped delta + 2 warm rounds. */
  private def pageRankIndex(s: SparkSession, dir: String): String =
    Fixtures.dir("pridx", dir) { tmp =>
      val df = table(s, dir, "documents")
      val n = df.count()
      val base = df.select(F.col("doc_id"))
        .withColumn("j", F.explode(F.sequence(F.lit(1L), F.lit(2L))))
        .where(F.col("j") <= F.pmod(F.col("doc_id"), F.lit(5L)))
        .select(F.col("doc_id").as("src"),
          F.pmod(F.col("doc_id") * F.lit(31L) + F.col("j") * F.lit(17L),
            F.lit(n)).as("dst"))
      graft.llm.Graph.pageRankIndexSave(base, "src", "dst",
        iterations = 5, tmp)
    }

  /** The synthetic link-graph fixture shared by q_pagerank and q_hits
    * (a `def`, so no companion init-order hazard): 0..4 out-links per doc
    * by doc_id%5, dst wrapping mod n. */
  private def LinkFixtureCtes: String =
    """edges AS MATERIALIZED (
        SELECT d.doc_id AS src,
               (d.doc_id * 31 + t.j * 17)
                 % (SELECT count(*) FROM main.documents) AS dst
        FROM documents d, LATERAL unnest(range(1, 5)) AS t(j)
        WHERE t.j <= d.doc_id % 5),
      nodes AS MATERIALIZED (
        SELECT src AS node FROM edges UNION SELECT dst FROM edges)"""

  /** q_pagerank_links oracle: replays the deterministic link fixture on
    * the parquet original (each doc links to srcs[(doc_id·7+j·13) mod 20]
    * for j ≤ doc_id mod 4; relative/javascript noise anchors never become
    * edges), reduces to distinct non-self registrable-domain edges, maps
    * domains to the same 60-bit md5-prefix ids as
    * [[graft.llm.Graph.pageRankDomains]], and unrolls 3 integer PageRank
    * rounds (the [[PageRankSql]] round template). */
  private lazy val PageRankLinksSql: String = {
    val rounds = (1 to 3).map { i =>
      s"""c$i AS MATERIALIZED (
        SELECT e.dst AS node,
               sum((r.r * 850000) // (1000000 * g.d)) AS c
        FROM edges e
        JOIN r${i - 1} r ON r.node = e.src
        JOIN deg g ON g.src = e.src
        GROUP BY 1),
      r$i AS MATERIALIZED (
        SELECT n2.node, 150000 + coalesce(c.c, 0) AS r
        FROM nodes n2 LEFT JOIN c$i c ON c.node = n2.node)"""
    }.mkString(",\n")
    s"""WITH $LinksEdgeCtes,
      deg AS MATERIALIZED (SELECT src, count(*) AS d FROM edges GROUP BY 1),
      r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
      $rounds
      SELECT m.domain, CAST(r.r AS BIGINT) AS rank_micro
      FROM doms m
      JOIN r3 r
        ON r.node = CAST(concat('0x', substr(md5(m.domain), 1, 15)) AS BIGINT)
      ORDER BY m.domain"""
  }

  /** The deterministic link-fixture edge CTEs shared by
    * q_pagerank_links / q_hits_links (edges_d = distinct non-self
    * registrable-domain pairs replaying the href construction;
    * edges/nodes = the 60-bit md5-prefix id graph; doms = the domain
    * dictionary for the join back). */
  private def LinksEdgeCtes: String =
    """srcs AS MATERIALIZED (
        SELECT source, row_number() OVER (ORDER BY source) - 1 AS k
        FROM (SELECT DISTINCT source FROM documents)),
      edges_d AS MATERIALIZED (
        SELECT DISTINCT d.source || '.example' AS src_domain,
               s2.source || '.example' AS dst_domain
        FROM documents d,
             LATERAL unnest(range(1, 4)) AS t(j),
             srcs s2
        WHERE t.j <= d.doc_id % 4
          AND s2.k = (d.doc_id * 7 + t.j * 13)
                       % (SELECT count(*) FROM srcs)
          AND d.source <> s2.source),
      edges AS MATERIALIZED (
        SELECT CAST(concat('0x', substr(md5(src_domain), 1, 15)) AS BIGINT) AS src,
               CAST(concat('0x', substr(md5(dst_domain), 1, 15)) AS BIGINT) AS dst
        FROM edges_d),
      nodes AS MATERIALIZED (
        SELECT src AS node FROM edges UNION SELECT dst FROM edges),
      doms AS (SELECT src_domain AS domain FROM edges_d
               UNION SELECT dst_domain FROM edges_d)"""

  /** q_hits_links oracle: the 3 unrolled hub/authority [[HitsRounds]]
    * over the extracted-link domain graph ([[LinksEdgeCtes]]), ranks
    * joined back to the domain dictionary. */
  private lazy val HitsLinksSql: String = {
    s"""WITH $LinksEdgeCtes,
      h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS h FROM nodes),
      $HitsRounds
      SELECT m.domain,
             CAST(coalesce(h3.h, 0) AS BIGINT) AS hub_micro,
             CAST(coalesce(a3.a, 0) AS BIGINT) AS auth_micro
      FROM doms m
      LEFT JOIN h3 ON h3.node =
        CAST(concat('0x', substr(md5(m.domain), 1, 15)) AS BIGINT)
      LEFT JOIN a3 ON a3.node =
        CAST(concat('0x', substr(md5(m.domain), 1, 15)) AS BIGINT)
      ORDER BY m.domain"""
  }

  /** q_pagerank_incr oracle: the base chain (edges j∈1..2, 5 cold
    * rounds — replaying the persisted fixture's stored ranks) feeds w0
    * over the MERGED node set (new nodes coalesce to the cold
    * 1 000 000), then 2 warm rounds on the merged edges — exactly
    * [[graft.llm.Graph.pageRankWarmRanks]]'s computation. */
  private lazy val PageRankIncrSql: String = {
    def rounds(eTbl: String, degTbl: String, nodesTbl: String,
        r0: String, pfx: String, cnt: Int): String =
      (1 to cnt).map { i =>
        val p = if (i == 1) r0 else s"$pfx${i - 1}"
        s"""c$pfx$i AS MATERIALIZED (
          SELECT e.dst AS node,
                 sum((r.r * 850000) // (1000000 * g.d)) AS c
          FROM $eTbl e
          JOIN $p r ON r.node = e.src
          JOIN $degTbl g ON g.src = e.src
          GROUP BY 1),
        $pfx$i AS MATERIALIZED (
          SELECT n2.node, 150000 + coalesce(c.c, 0) AS r
          FROM $nodesTbl n2 LEFT JOIN c$pfx$i c ON c.node = n2.node)"""
      }.mkString(",\n")
    s"""WITH eb AS MATERIALIZED (
        SELECT d.doc_id AS src,
               (d.doc_id * 31 + t.j * 17)
                 % (SELECT count(*) FROM main.documents) AS dst
        FROM documents d, LATERAL unnest(range(1, 3)) AS t(j)
        WHERE t.j <= d.doc_id % 5),
      ed AS MATERIALIZED (
        SELECT d.doc_id AS src,
               (d.doc_id * 31 + t.j * 17)
                 % (SELECT count(*) FROM main.documents) AS dst
        FROM documents d, LATERAL unnest(range(3, 5)) AS t(j)
        WHERE t.j <= d.doc_id % 5),
      em AS MATERIALIZED (SELECT * FROM eb UNION ALL SELECT * FROM ed),
      nodesb AS MATERIALIZED (
        SELECT src AS node FROM eb UNION SELECT dst FROM eb),
      degb AS MATERIALIZED (SELECT src, count(*) AS d FROM eb GROUP BY 1),
      rb0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodesb),
      ${rounds("eb", "degb", "nodesb", "rb0", "rb", 5)},
      nodesm AS MATERIALIZED (
        SELECT src AS node FROM em UNION SELECT dst FROM em),
      degm AS MATERIALIZED (SELECT src, count(*) AS d FROM em GROUP BY 1),
      w0 AS MATERIALIZED (
        SELECT n2.node, CAST(coalesce(r.r, 1000000) AS BIGINT) AS r
        FROM nodesm n2 LEFT JOIN rb5 r ON r.node = n2.node),
      ${rounds("em", "degm", "nodesm", "w0", "w", 2)}
      SELECT node, CAST(r AS BIGINT) AS rank_micro FROM w2 ORDER BY node"""
  }

  /** q_pagerank oracle: the 5 power-iteration rounds unrolled as chained
    * CTEs (AS MATERIALIZED — the chain is a diamond over edges/deg/nodes;
    * naive inlining re-expands shared CTEs exponentially). Integer
    * fixed-point shares replay Graph.pageRank exactly: `//` is DuckDB's
    * floor division and every operand is positive. */
  private lazy val PageRankSql: String = {
    val rounds = (1 to 5).map { i =>
      s"""c$i AS MATERIALIZED (
        SELECT e.dst AS node,
               sum((r.r * 850000) // (1000000 * g.d)) AS c
        FROM edges e
        JOIN r${i - 1} r ON r.node = e.src
        JOIN deg g ON g.src = e.src
        GROUP BY 1),
      r$i AS MATERIALIZED (
        SELECT n2.node, 150000 + coalesce(c.c, 0) AS r
        FROM nodes n2 LEFT JOIN c$i c ON c.node = n2.node)"""
    }.mkString(",\n")
    s"""WITH $LinkFixtureCtes,
      deg AS MATERIALIZED (SELECT src, count(*) AS d FROM edges GROUP BY 1),
      r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
      $rounds
      SELECT node, CAST(r AS BIGINT) AS rank_micro FROM r5 ORDER BY node"""
  }

  /** q_hits oracle: [[HitsRounds]] over the synthetic link fixture. */
  private lazy val HitsSql: String = {
    s"""WITH $LinkFixtureCtes,
      h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS h FROM nodes),
      $HitsRounds
      SELECT n.node,
             CAST(coalesce(h3.h, 0) AS BIGINT) AS hub_micro,
             CAST(coalesce(a3.a, 0) AS BIGINT) AS auth_micro
      FROM nodes n
      LEFT JOIN h3 ON h3.node = n.node
      LEFT JOIN a3 ON a3.node = n.node
      ORDER BY n.node"""
  }

  /** The 3 hub/authority rounds of the HITS oracles, unrolled as CTEs
    * over `edges`/`nodes` (AS MATERIALIZED — each raw frame feeds both
    * its max subquery and the scaled select). `//` floor division on
    * positive operands replays Graph.hits' exact pmod form; DuckDB sums
    * go through HUGEINT, hence the final BIGINT casts. */
  private def HitsRounds: String =
    (1 to 3).map { i =>
      s"""ar$i AS MATERIALIZED (
        SELECT e.dst AS node, sum(h.h) AS ar
        FROM edges e JOIN h${i - 1} h ON h.node = e.src
        GROUP BY 1),
      a$i AS MATERIALIZED (
        SELECT ar$i.node,
               (ar$i.ar * 1000000) // (SELECT max(ar) FROM ar$i) AS a
        FROM ar$i),
      hr$i AS MATERIALIZED (
        SELECT e.src AS node, sum(a$i.a) AS hr
        FROM edges e JOIN a$i ON a$i.node = e.dst
        GROUP BY 1),
      h$i AS MATERIALIZED (
        SELECT n2.node,
               coalesce((hr$i.hr * 1000000) // (SELECT max(hr) FROM hr$i),
                 0) AS h
        FROM nodes n2 LEFT JOIN hr$i ON hr$i.node = n2.node)"""
    }.mkString(",\n")
}
