package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.storage.StorageLevel

/** Link-graph operators for crawl curation (beyond-reference surface).
  *
  * A web-scale training corpus carries an implicit hyperlink graph, and
  * link authority is a classic curation signal: pages nobody links to are
  * disproportionately spam/boilerplate, and domain-level PageRank is a
  * standard quality prior for crawl sampling (the Common-Crawl era
  * pipelines rank hosts this way before content filters ever run).
  */
object Graph {

  /** Deterministic integer fixed-point PageRank (power iteration).
    *
    * Semantics — every quantity is integral, so the result is defined
    * exactly and is independent of partitioning and merge order:
    * {{{
    *   rank_0(v)     = 1_000_000                                (micro-units)
    *   share_t(u)    = floor(rank_t(u) * dampMicro / (1_000_000 * outdeg(u)))
    *   rank_{t+1}(v) = (1_000_000 - dampMicro) + Σ_{u→v} share_t(u)
    * }}}
    * Dangling mass evaporates (no redistribution) — the usual batch
    * simplification; floor-shares already make total mass non-conserved,
    * and the contract that matters here is exact replayability: double
    * PageRank is summation-order flaky by construction, integer sums are
    * associative, so a SQL engine can replay every iteration bit-for-bit
    * (the driver oracle unrolls the k iterations as chained CTEs).
    *
    * Numeric headroom: the share numerator `rank * dampMicro` is computed
    * in DECIMAL(38,0) — at web scale a hub's rank can approach the total
    * mass n×10⁶, and n beyond ~10⁷ would overflow the int64 product (the
    * oracle's HUGEINT twin has the same headroom). The floor division is
    * the exact `(a - pmod(a, b)) / b` form, never a rounded decimal
    * divide (Spark decimal division HALF_UP-rounds at the result scale,
    * which can cross an integer boundary; the pmod form divides exactly).
    *
    * Scale design: `edges ⋈ outdeg` is materialized ONCE, partitioned by
    * source; each round is one equi-join (the per-node rank frame — the
    * SMALL side — shuffles to the edges' layout) plus one map-side-
    * combined sum on the destination: the canonical distributed power
    * iteration, cost k × (|E| scan + |V| shuffle). Loop hygiene follows
    * [[Dedup.clusterPairs]]: fixed iteration count (no convergence
    * action), localCheckpoint every 3 rounds bounds lineage, superseded
    * frames unpersist, and the returned frame is self-contained.
    *
    * Returns (node BIGINT, rank_micro BIGINT).
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int,
      dampMicro: Long = 850000L,
  ): DataFrame =
    pageRankFrom(edges, srcCol, dstCol, None, iterations, dampMicro)

  /** [[pageRank]] with a WARM START: `init` (node, rank_micro) seeds the
    * iteration for nodes it covers; nodes absent from it (new pages in
    * an appended crawl) seed the cold 1 000 000. The map is identical to
    * [[pageRank]]'s, so iterating far enough reaches the same integer
    * fixed point — but starting near it (yesterday's ranks on today's
    * slightly-grown graph) gets there in FEWER rounds, which is the
    * whole economics of incremental link-graph maintenance: the per-
    * round cost is |E|-linear, so rounds saved are corpus-scans saved.
    * Spec-pinned: warm convergence equals the full recompute's fixed
    * point on a settled graph. */
  def pageRankFrom(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      init: Option[DataFrame],
      iterations: Int,
      dampMicro: Long = 850000L,
  ): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"pageRank iterations must be in [1, 50], got $iterations")
    require(dampMicro > 0L && dampMicro < 1000000L,
      s"dampMicro must be in (0, 1e6), got $dampMicro")
    val e = edges.select(col(srcCol).cast("long").as("__src__"),
        col(dstCol).cast("long").as("__dst__"))
      .where(col("__src__").isNotNull && col("__dst__").isNotNull)
    val deg = e.groupBy(col("__src__")).agg(count(lit(1)).as("__d__"))
    val ed = e.join(deg, "__src__")
      .repartition(col("__src__"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("__src__").as("__id__"))
      .union(e.select(col("__dst__").as("__id__")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val base = 1000000L - dampMicro

    // exact positive floor division: numerator made divisible first, so
    // the decimal divide is integral (no result-scale rounding)
    def idiv(a: Column, b: Column): Column =
      ((a - pmod(a, b)) / b).cast("long")
    val dec = DecimalType(38, 0)
    def shareOf(r: Column): Column = idiv(
      r.cast(dec) * lit(dampMicro),
      (lit(1000000L) * col("__d__")).cast(dec))

    // SPARSE iteration (the HITS discipline, guide §2.4 — remove the
    // shuffle outright): rank_t(v) = base + coalesce(contrib_t(v), 0)
    // for every t ≥ 1, so the dense per-round `nodes ⋈ contrib` assembly
    // added nothing — the NEXT round's share can read the identity
    // through a LEFT join of the edge table against the contrib frame
    // (sources absent from contrib take share(base), exactly as their
    // dense rank row base+0 did). The |V|-sized rank frame, its persist,
    // and its join disappear from every round; each round is one
    // edges ⋈ contrib equi-join (contrib's groupBy hash layout meets
    // ed's __src__ layout) + one map-side-combined sum. Dense assembly
    // happens ONCE at the end. Integer math unchanged — bit-identical
    // to the dense formulation (oracle + warm-start spec pin it).
    var contrib: DataFrame = null
    for (i <- 1 to iterations) {
      val withRank: DataFrame =
        if (i == 1) init match {
          case None => ed.withColumn("__r__", lit(1000000L))
          case Some(prev) => ed
            .join(prev.select(col("node").cast("long").as("__pid__"),
              col("rank_micro").cast("long").as("__pr__")),
              ed("__src__") === col("__pid__"), "left")
            .withColumn("__r__", coalesce(col("__pr__"), lit(1000000L)))
        }
        else ed
          .join(contrib, ed("__src__") === contrib("__cid__"), "left")
          .withColumn("__r__", lit(base) + coalesce(col("__c__"), lit(0L)))
      val next = withRank
        .select(col("__dst__").as("__cid__"), shareOf(col("__r__")).as("__s__"))
        .groupBy(col("__cid__"))
        .agg(sum(col("__s__")).as("__c__"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val prev = contrib
      contrib = if (i < iterations && i % 3 == 0) {
        val cp = next.localCheckpoint(true)
        next.unpersist(blocking = false)
        cp
      } else next
      if (prev ne null) prev.unpersist(blocking = false)
    }
    val out = nodes
      .join(contrib, nodes("__id__") === contrib("__cid__"), "left")
      .select(col("__id__").as("node"),
        (lit(base) + coalesce(col("__c__"), lit(0L))).as("rank_micro"))
      .localCheckpoint(true)
    contrib.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    ed.unpersist(blocking = false)
    out
  }

  /** PERSIST the link-graph rank artifact — the graph family's
    * train-once index next to the IVF/MinHash/dHash ones: the edge set
    * (`dir/edges`, (src, dst) BIGINT parquet) and its converged ranks
    * (`dir/ranks`, [[pageRank]]'s (node, rank_micro)). A crawl refresh
    * then APPENDS edge deltas ([[pageRankIndexAppend]]) and WARM-STARTS
    * from the stored ranks ([[pageRankWarmRanks]]) instead of refitting
    * the whole graph from the cold 1 000 000 seed — the KN-model delta
    * discipline applied to the link graph. Version churn follows the
    * dedup-index contract: write each refresh to a FRESH dir and swap
    * via [[graft.sources.ParquetIO.promoteVersion]]/retire when the
    * artifact is served through a catalog name. */
  def pageRankIndexSave(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int,
      dir: String,
      dampMicro: Long = 850000L): Unit = {
    edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .write.mode("overwrite").parquet(s"$dir/edges")
    // rank from the WRITTEN edges so the artifact is self-consistent
    // (and the fit never re-derives the input frame's lineage)
    val stored =
      graft.sources.ParquetIO.read(edges.sparkSession, s"$dir/edges")
    pageRank(stored, "src", "dst", iterations, dampMicro)
      .write.mode("overwrite").parquet(s"$dir/ranks")
  }

  /** APPEND an edge delta to a persisted [[pageRankIndexSave]] artifact
    * — new crawl segments' links land next to the stored edge set (a
    * parquet append, no rewrite, no touch of existing files); the
    * stored RANKS intentionally stay stale until the next
    * [[pageRankWarmRanks]]/[[pageRankIndexRefresh]], exactly like the
    * IVF index's frozen-centroid append contract. */
  def pageRankIndexAppend(
      newEdges: DataFrame,
      srcCol: String,
      dstCol: String,
      dir: String): Unit =
    newEdges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .write.mode("append").parquet(s"$dir/edges")

  /** WARM-REFRESHED ranks over a persisted artifact: the stored edges
    * (plus an optional not-yet-appended `extraEdges` delta) iterate
    * `iterations` rounds FROM the stored ranks — new nodes seed cold,
    * everything else starts where the last fit converged. Pure read
    * path (no writes): the serve-shaped op behind the driver's
    * incremental bench row. */
  def pageRankWarmRanks(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      iterations: Int,
      dampMicro: Long = 850000L,
      extraEdges: Option[DataFrame] = None,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val stored = graft.sources.ParquetIO.read(spark, s"$dir/edges")
    val all = extraEdges.fold(stored)(d => stored.unionByName(
      d.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
        .where(col("src").isNotNull && col("dst").isNotNull)))
    val prev = graft.sources.ParquetIO.read(spark, s"$dir/ranks")
    pageRankFrom(all, "src", "dst", Some(prev), iterations, dampMicro)
  }

  /** Full refresh of a versioned rank artifact: copy the (appended)
    * edge set to `dstDir` and write its warm-started ranks — never
    * in-place, so in-flight readers of `srcDir` keep their snapshot and
    * the caller promotes/retires like any other index version. */
  def pageRankIndexRefresh(
      spark: org.apache.spark.sql.SparkSession,
      srcDir: String,
      dstDir: String,
      iterations: Int,
      dampMicro: Long = 850000L): Unit = {
    graft.sources.ParquetIO.read(spark, s"$srcDir/edges")
      .write.mode("overwrite").parquet(s"$dstDir/edges")
    pageRankWarmRanks(spark, srcDir, iterations, dampMicro)
      .write.mode("overwrite").parquet(s"$dstDir/ranks")
  }

  /** Hyperlink extraction: HTML pages → (src_domain, dst_domain)
    * registrable-domain edges, the input [[pageRank]]/[[hits]] are
    * motivated by (crawl curation ranks HOSTS — the domain graph is
    * ~10⁷ nodes where the page graph is ~10¹¹, and a domain-level
    * authority prior is the standard crawl-sampling signal).
    *
    * Extraction is a per-row codegen'd regex pass (no UDF, no shuffle):
    * `<a … href="…">` and `<a … href='…'>` anchors (both quote styles;
    * patterns stay inside one tag via `[^>]*`), keeping only ABSOLUTE
    * http(s) targets — relative paths and javascript:/mailto: pseudo
    * links drop out. Both endpoints reduce to their registrable domain
    * ([[TextOps.urlParts]]' public-suffix rules); self-edges (an
    * intra-site link) are dropped and the edge set deduplicated — one
    * hash aggregate, map-side combined.
    *
    * Returns (src_domain STRING, dst_domain STRING), distinct. */
  def extractLinks(
      pages: DataFrame,
      urlCol: String,
      htmlCol: String): DataFrame = {
    val dq = regexp_extract_all(col(htmlCol),
      lit("<a\\s[^>]*href\\s*=\\s*\"([^\"]*)\""), lit(1))
    val sq = regexp_extract_all(col(htmlCol),
      lit("<a\\s[^>]*href\\s*=\\s*'([^']*)'"), lit(1))
    linkEdges(
      pages.select(col(urlCol).as("__u__"),
        explode(concat(dq, sq)).as("__href__")),
      "__u__", "__href__")
  }

  /** (src_url, dst_url) link rows → distinct non-self registrable-domain
    * edges — the domain-graph reduction [[extractLinks]] applies after
    * its HTML regex pass, shared by the WAT link-metadata path
    * ([[graft.sources.Warc.readWat]] emits the link rows directly, no
    * HTML fetch or parse): keep ABSOLUTE http(s) targets only (relative
    * paths and javascript:/mailto: pseudo links drop), reduce both
    * endpoints to registrable domains, drop self-edges, dedupe — one
    * hash aggregate, map-side combined. */
  def linkEdges(
      links: DataFrame,
      srcUrlCol: String,
      dstUrlCol: String): DataFrame =
    links
      .where(col(dstUrlCol).rlike("^https?://"))
      .select(
        TextOps.urlParts(col(srcUrlCol)).getField("domain").as("src_domain"),
        TextOps.urlParts(col(dstUrlCol)).getField("domain").as("dst_domain"))
      .where(col("src_domain") =!= col("dst_domain"))
      .distinct()

  /** [[pageRank]] over STRING-keyed domain edges (the [[extractLinks]]
    * output shape): domains map to 60-bit md5-prefix ids (collision odds
    * ~n²/2⁶¹ — negligible below 10⁹ domains, and any engine with md5
    * replays the mapping bit-for-bit), the integer power iteration runs
    * on ids, and ranks join back to the |V|-sized domain dictionary.
    * Returns (domain STRING, rank_micro BIGINT). */
  def pageRankDomains(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int,
      dampMicro: Long = 850000L,
  ): DataFrame = {
    def did(c: Column): Column =
      conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")
    val e = edges.select(col(srcCol).as("__sd__"), col(dstCol).as("__td__"))
    val doms = e.select(col("__sd__").as("domain"))
      .union(e.select(col("__td__").as("domain")))
      .distinct()
    val ranked = pageRank(
      e.select(did(col("__sd__")).as("src"), did(col("__td__")).as("dst")),
      "src", "dst", iterations, dampMicro)
    doms.join(ranked, did(col("domain")) === ranked("node"))
      .select(col("domain"), col("rank_micro"))
  }

  /** [[hits]] over STRING-keyed domain edges — [[pageRankDomains]]'s
    * hub/authority twin (same 60-bit md5-prefix id mapping, same
    * dictionary join back). Returns (domain, hub_micro, auth_micro). */
  def hitsDomains(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int,
  ): DataFrame = {
    def did(c: Column): Column =
      conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")
    val e = edges.select(col(srcCol).as("__sd__"), col(dstCol).as("__td__"))
    val doms = e.select(col("__sd__").as("domain"))
      .union(e.select(col("__td__").as("domain")))
      .distinct()
    val ranked = hits(
      e.select(did(col("__sd__")).as("src"), did(col("__td__")).as("dst")),
      "src", "dst", iterations)
    doms.join(ranked, did(col("domain")) === ranked("node"))
      .select(col("domain"), col("hub_micro"), col("auth_micro"))
  }

  /** Deterministic integer fixed-point HITS (Kleinberg 1999) — the
    * hub/authority decomposition next to [[pageRank]]'s single authority
    * score: hubs are link-list pages (directories, sitemaps, boilerplate
    * nav), authorities are linked-to content — a 2-D curation signal a
    * single PageRank collapses.
    *
    * Semantics (all integral — exactly replayable like [[pageRank]]):
    * {{{
    *   h_0(u)     = 1_000_000
    *   aRaw_t(v)  = Σ_{u→v} h_{t-1}(u);  a_t(v) = floor(aRaw·10⁶ / max aRaw)
    *   hRaw_t(u)  = Σ_{u→v} a_t(v);      h_t(u) = floor(hRaw·10⁶ / max hRaw)
    * }}}
    * Max-normalization replaces the usual L2 norm: a max is merge-order
    * independent and the floor division exact, where a float L2 norm is
    * neither. Nodes with no in-links have authority 0; no out-links, hub 0.
    *
    * Numeric headroom: aRaw ≤ n·10⁶ and the scale product aRaw·10⁶ is
    * computed in DECIMAL(38,0) (int64 would overflow past n ≈ 9×10⁶).
    * The max itself stays a lazy 1-row aggregate cross-joined in (a
    * provably-tiny broadcast side), never a driver collect.
    *
    * Scale: the edge list is persisted TWICE, pre-partitioned by source
    * and by destination (the [[pageRank]] pattern, doubled because HITS
    * joins on both ends) — each iteration's two equi-joins then reuse a
    * stable cached layout and only the |V|-sized hub/auth frames shuffle
    * to meet it, never the |E|-sized edges. Two map-side-combined sums
    * complete the round: cost k × (2·|E| scan + 2·|V| shuffle), the
    * 2-sided twin of pageRank's round.
    * Returns (node BIGINT, hub_micro BIGINT, auth_micro BIGINT).
    */
  def hits(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int,
  ): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"hits iterations must be in [1, 50], got $iterations")
    val e = edges.select(col(srcCol).cast("long").as("__src__"),
        col(dstCol).cast("long").as("__dst__"))
      .where(col("__src__").isNotNull && col("__dst__").isNotNull)
    val eBySrc = e.repartition(col("__src__"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val eByDst = e.repartition(col("__dst__"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = eBySrc.select(col("__src__").as("__id__"))
      .union(eBySrc.select(col("__dst__").as("__id__")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    def idiv(a: Column, b: Column): Column =
      ((a - pmod(a, b)) / b).cast("long")
    val dec = DecimalType(38, 0)
    // The rescale plan embeds its input TWICE (the frame and the 1-row
    // max over it), and one HITS round rescales twice — left untruncated
    // the logical plan QUADRUPLES per iteration and Catalyst analysis
    // time explodes exponentially (22 s for 3 rounds on a 10k-edge
    // fixture, measured). So every rescaled frame is eagerly
    // localCheckpoint'ed: the |V|-sized hub/auth frames materialize once
    // per round anyway, and the checkpoint resets the plan to a leaf.
    def rescale(raw0: DataFrame, vCol: String): DataFrame = {
      val raw = raw0.persist(StorageLevel.MEMORY_AND_DISK)
      val mx = raw.agg(max(col(vCol)).as("__mx__"))
      val scaled = raw.crossJoin(mx)
        .select(col("__id__"),
          idiv(col(vCol).cast(dec) * lit(1000000L), col("__mx__").cast(dec))
            .as("__v__"))
        .localCheckpoint(true)
      raw.unpersist(blocking = false)
      scaled
    }

    // The hub frame stays SPARSE over {u : outdeg(u) > 0} through the
    // iterations (guide §2.4 — remove shuffles outright): aRaw only reads
    // hub rows that match an edge's source, and hRaw — a group-by over
    // eByDst's sources — covers every out-edge node each round (each
    // edge's dst always has an auth row), so the per-round |V|-sized
    // nodes join + coalesce the dense formulation paid added nothing but
    // a shuffle. Out-edge-less nodes take hub 0 at the final assembly
    // exactly as before. Round 1 folds h₀ = 1e6 into the aggregate
    // (Σ_{u→v} 1e6, an identical integer sum) instead of joining a
    // constant frame.
    var hub: DataFrame = null
    var auth: DataFrame = null
    for (i <- 1 to iterations) {
      val aRaw =
        if (i == 1)
          eBySrc.groupBy(col("__dst__").as("__id__"))
            .agg(sum(lit(1000000L)).as("__ar__"))
        else
          eBySrc.join(hub, eBySrc("__src__") === hub("__id__"))
            .groupBy(col("__dst__").as("__id__"))
            .agg(sum(col("__h__")).as("__ar__"))
      val aPrev = auth
      auth = rescale(aRaw, "__ar__")
      if (aPrev ne null) aPrev.unpersist(blocking = false)
      val hRaw = eByDst.join(auth, eByDst("__dst__") === auth("__id__"))
        .groupBy(col("__src__").as("__id__"))
        .agg(sum(col("__v__")).as("__hr__"))
      val hPrev = hub
      hub = rescale(hRaw, "__hr__").withColumnRenamed("__v__", "__h__")
      if (hPrev ne null) hPrev.unpersist(blocking = false)
    }
    val out = nodes
      .join(hub.withColumnRenamed("__h__", "__hub__"), Seq("__id__"), "left")
      .join(auth.withColumnRenamed("__v__", "__auth__"), Seq("__id__"), "left")
      .select(col("__id__").as("node"),
        coalesce(col("__hub__"), lit(0L)).as("hub_micro"),
        coalesce(col("__auth__"), lit(0L)).as("auth_micro"))
      .localCheckpoint(true)
    hub.unpersist(blocking = false)
    auth.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    eBySrc.unpersist(blocking = false)
    eByDst.unpersist(blocking = false)
    out
  }
}
