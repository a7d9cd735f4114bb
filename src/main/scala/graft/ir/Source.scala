package graft.ir

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}

/** (group, timestamp, event_key) triple enabling event analytics
  * (reference src/model/activity_schema.py:7-22). */
final case class ActivitySchema(group: Expr, timestamp: Expr, eventKey: Expr)

/** A normalized match_steps step: identifier + boolean predicate
  * (reference src/utils/activity_schema.py:9-38). */
final case class Step(name: String, condition: Expr)

/** Relational-op IR — the analogue of the reference's `Source` tree
  * (/root/reference/src/model/source/source.py:7; subclass registry
  * :18-27). Each node wraps a `base`, forming a linked list/tree that
  * [[graft.compile.Compiler]] lowers to DataFrame transformations; Catalyst
  * does the actual optimization (SURVEY.md §4).
  */
sealed trait Source

object Source {
  /** Physical table scan (reference table_name.py:6-38). `name` is either a
    * registered temp view/table or a parquet path when it ends in
    * `.parquet`. */
  final case class Table(name: String) extends Source

  /** Raw-SQL scan → `spark.sql(query)` (reference sql_text.py:6-29). */
  final case class SqlQuery(sql: String) extends Source

  /** CSV file/directory scan with header + schema inference (reference
    * duckdb_connection.py:96-117 registers csv paths as tables). */
  final case class CsvFile(path: String) extends Source

  /** JSON-lines file/directory scan (duckdb_connection.py:96-117). */
  final case class JsonFile(path: String) extends Source

  /** ORC file/directory scan (columnar warehouse interchange; Spark ships
    * the reader natively, so this is pure connector surface — pushdown and
    * pruning come from the data source V2 scan like parquet). */
  final case class OrcFile(path: String) extends Source

  /** Excel sheet scan (reference duckdb_connection.py:96-117 loads .xlsx
    * via pandas.read_excel). Compiled through the pure-JDK codec in
    * [[graft.sources.Xlsx]] (ZIP + SAX — no spreadsheet dependency):
    * first row = header, pandas-style per-column type inference.
    * `sheet` None → first sheet. */
  final case class XlsxFile(path: String, sheet: Option[String] = None)
      extends Source

  /** WARC/1.0 crawl-container scan (Common Crawl's shard format; ISO
    * 28500) — one row per record, file-level task parallelism, `.gz`
    * shards decompress in the task. Compiled through the pure-JDK codec
    * in [[graft.sources.Warc]]. */
  final case class WarcFile(path: String) extends Source

  /** WET (extracted-text) crawl scan — Common Crawl's `.warc.wet.gz`
    * sibling of [[WarcFile]]: same container grammar, one
    * `WARC-Type: conversion` record per page with extracted plain-text
    * payload. One row per page: (url, text). */
  final case class WetFile(path: String) extends Source

  /** WAT (link-metadata) crawl scan — the trio's third member: same
    * container, one `WARC-Type: metadata` JSON record per page whose
    * `HTML-Metadata.Links` array lists the outlinks. One row per anchor
    * link: (src_url, dst_url) — the extraction-free link-graph input. */
  final case class WatFile(path: String) extends Source

  /** Pre-built DataFrame (parity with the reference's DuckDB connection
    * registering pandas frames, duckdb_connection.py:96-117). Used by tests
    * for literal fixtures. */
  final case class FromDF(df: DataFrame) extends Source

  /** σ — WHERE (or post-aggregation HAVING; in Spark both are `.filter`)
    * (reference filter.py:7-33). */
  final case class Filter(base: Source, cond: Expr) extends Source

  /** π — SELECT only the listed labeled expressions (reference
    * pick.py:7-37). A `Star` entry expands to all current columns. */
  final case class Pick(base: Source, cols: Seq[Expr], star: Boolean = false)
      extends Source

  /** γ — GROUP BY groups, compute measures (reference aggregate.py:7-48).
    * Zero groups → global aggregate; zero measures → DISTINCT of groups.
    * `mode` (beyond-reference): "group" = plain GROUP BY; "rollup"/"cube"
    * = hierarchical / all-combination grouping sets (subtotal rows carry
    * NULL in the aggregated-out group columns, standard SQL semantics). */
  final case class Aggregate(
      base: Source,
      groups: Seq[Expr],
      measures: Seq[Expr],
      mode: String = "group",
  ) extends Source

  /** ORDER BY; keys accumulate across chained `.sort` calls on the same
    * layer (reference sort.py:40 appends to the running SELECT), so one
    * node carries the whole key list and Model.sort merges into it. */
  final case class Sort(base: Source, keys: Seq[SortKey]) extends Source

  /** LIMIT n OFFSET m (reference limit.py:6-37). */
  final case class Limit(base: Source, n: Long, offset: Long = 0L) extends Source

  /** UNION ALL, positional column alignment (reference union.py:6-35). */
  final case class Union(base: Source, other: Source) extends Source

  /** Unpivot/melt: N value columns → (key, value) long format (reference
    * model.py:939-995 composes one pick per value column + UNION ALL — N
    * redundant scans of the base; Spark has native single-scan unpivot, so
    * we make fold a first-class node and lower it to `Dataset.unpivot`,
    * which like the reference's composition retains NULL values). */
  final case class Fold(
      base: Source,
      ids: Seq[Expr],
      values: Seq[Expr],
      keyName: String,
      valueName: String,
  ) extends Source

  /** Named lazy many-to-one LEFT (or INNER when dropUnmatched) join
    * (reference join_one.py:8-47). The join is emitted only if the
    * namespace is referenced (join_one.py:58-66). `fk == joined.primaryKey`
    * and/or arbitrary `condition`. */
  final case class JoinOne(
      base: Source,
      name: String,
      joined: graft.model.Model,
      foreignKey: Option[Expr],
      condition: Option[Expr],
      dropUnmatched: Boolean,
  ) extends Source

  /** Escape hatch for whole-DataFrame native operators (beyond-reference
    * surface: the LLM-pipeline ops in [[graft.llm]] — dedup, ANN,
    * multimodal decode). Keeps the op lazy inside the Source tree; the
    * function must be a pure DataFrame→DataFrame transformation. */
  final case class NativeOp(base: Source, op: DataFrame => DataFrame)
      extends Source

  /** Sequential temporal join / funnel engine (reference
    * match_steps.py:10-69 + compilers/match_steps.py — algorithm réimagined
    * Spark-first as a single journey aggregation; see Compiler). */
  final case class MatchSteps(
      base: Source,
      schema: ActivitySchema,
      steps: Seq[Step],
      partitionStartEvents: Seq[Expr],
      timeLimit: Option[TimeInterval],
  ) extends Source

  /** Per-group top-k (beyond-reference): keep the first `k` rows of each
    * partition under `orderKeys`, exposing the 1-based position as
    * `rankName`. Lowers to a row_number window + filter, which Spark
    * optimizes with WindowGroupLimit (per-partition partial limits before
    * the shuffle). */
  final case class RankLimit(
      base: Source,
      partitionBy: Seq[Expr],
      orderKeys: Seq[SortKey],
      k: Long,
      rankName: String,
  ) extends Source

  /** Gap-based sessionization over the activity schema (beyond-reference
    * activity analytics): one output row per (group, session), where a new
    * session starts after more than `gapSeconds` of inactivity. */
  final case class Sessionize(
      base: Source,
      schema: ActivitySchema,
      gapSeconds: Long,
  ) extends Source

  /** Set-membership join (beyond-reference): keep base rows with (semi)
    * or without (anti) an equi-match in `right`. EXISTS / NOT EXISTS
    * semantics — a NULL key never matches, so anti KEEPS null-key rows
    * (unlike NOT IN). Only the right side's key columns are read, so the
    * scan prunes to the keys and Catalyst may broadcast the right side. */
  final case class SetJoin(
      base: Source,
      right: graft.model.Model,
      on: Seq[(Expr, Expr)],
      anti: Boolean,
  ) extends Source

  /** One windowed analytic column of a [[WindowCalc]]. `kind` names a
    * [[WinKind]]. `target` is the measured expression (absent for the
    * rank family), `offset` the lag/lead distance, `frame` the
    * moving-window size in rows (trailing, current row included) — or,
    * for ntile, the bucket count. */
  final case class WinCol(
      name: String,
      kind: String,
      target: Option[Expr],
      offset: Long = 1L,
      frame: Long = 0L,
  )

  /** The rows a window kind reads, as Spark SQL frame text and as a frame
    * on the shared spec: the spec's own frame (the rank family and
    * lag/lead), the running frame (first row to the current row) or the
    * trailing `frame`-row moving frame. Frames are spelled out in ROWS —
    * the ORDER BY default RANGE would read peer rows on ties. */
  sealed abstract class WinFrame(
      val sql: WinCol => String,
      val over: (WindowSpec, WinCol) => WindowSpec)
  object WinFrame {
    case object Spec extends WinFrame(_ => "", (w, _) => w)
    case object Running extends WinFrame(
      _ => " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
      (w, _) => w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    case object Moving extends WinFrame(
      wc => s" ROWS BETWEEN ${wc.frame - 1} PRECEDING AND CURRENT ROW",
      (w, wc) => w.rowsBetween(-(wc.frame - 1), 0))
  }

  /** The [[WinCol]] field a window kind passes after its target: lag and
    * lead's `offset`, ntile's bucket count (`frame`). */
  sealed abstract class WinArg(val of: WinCol => Long)
  object WinArg {
    case object Offset extends WinArg(_.offset)
    case object Buckets extends WinArg(_.frame)
  }

  /** One window kind. `fn` is the Spark SQL function it calls; the call's
    * arguments are the target (when `needsTarget`), then `arg`, then
    * `true` for `ignoreNulls`. `col` builds the same call as a Column over
    * the compiled target (null for the targetless kinds). */
  final case class WinKind(
      name: String,
      fn: String,
      needsTarget: Boolean,
      frame: WinFrame,
      arg: Option[WinArg] = None,
      ignoreNulls: Boolean = false,
  )(val col: (Column, WinCol) => Column) {

    /** Fails unless `wc` carries what this kind reads. */
    def check(wc: WinCol): Unit = {
      require(!needsTarget || wc.target.isDefined,
        s"window column '${wc.name}' (${wc.kind}) needs a target expression")
      if (frame == WinFrame.Moving)
        require(wc.frame >= 1,
          s"window column '${wc.name}': moving frame must be >= 1 row")
      if (arg.contains(WinArg.Buckets))
        require(wc.frame >= 1,
          s"window column '${wc.name}': $name bucket count (frame) must be >= 1")
    }

    /** The SQL call over the rendered `target`, without its OVER clause. */
    def sql(target: => String, wc: WinCol): String = {
      val args = (if (needsTarget) Seq(target) else Nil) ++
        arg.map(_.of(wc).toString) ++ (if (ignoreNulls) Seq("true") else Nil)
      s"$fn(${args.mkString(", ")})"
    }
  }

  object WinKind {
    import org.apache.spark.sql.functions._
    import WinFrame._
    /** Every window kind — the one list `Model.withWindow`'s checks, the
      * DataFrame lowering and the `model.sql()` renderer read. */
    val all: Seq[WinKind] = Seq(
      WinKind("row_number", "row_number", false, Spec)((_, _) => row_number()),
      WinKind("rank", "rank", false, Spec)((_, _) => rank()),
      WinKind("dense_rank", "dense_rank", false, Spec)((_, _) => dense_rank()),
      // percent_rank/cume_dist emit double in [0,1]
      WinKind("percent_rank", "percent_rank", false, Spec)((_, _) => percent_rank()),
      WinKind("cume_dist", "cume_dist", false, Spec)((_, _) => cume_dist()),
      WinKind("ntile", "ntile", false, Spec, Some(WinArg.Buckets))(
        (_, wc) => ntile(wc.frame.toInt)),
      WinKind("lag", "lag", true, Spec, Some(WinArg.Offset))(
        (t, wc) => lag(t, wc.offset.toInt)),
      WinKind("lead", "lead", true, Spec, Some(WinArg.Offset))(
        (t, wc) => lead(t, wc.offset.toInt)),
      // first/last value over the running frame: last_value over the
      // spec's default frame would read the partition tail
      // (order-dependent answers); the running frame gives the standard
      // "latest so far", last_value ignoring NULLs
      WinKind("first_value", "first_value", true, Running)((t, _) => first(t)),
      WinKind("last_value", "last_value", true, Running, ignoreNulls = true)(
        (t, _) => last(t, ignoreNulls = true)),
      WinKind("running_sum", "sum", true, Running)((t, _) => sum(t)),
      WinKind("running_min", "min", true, Running)((t, _) => min(t)),
      WinKind("running_max", "max", true, Running)((t, _) => max(t)),
      WinKind("moving_sum", "sum", true, Moving)((t, _) => sum(t)),
      WinKind("moving_avg", "avg", true, Moving)((t, _) => avg(t)),
    )

    private val byName: Map[String, WinKind] = all.map(k => k.name -> k).toMap

    /** The kind of `wc`, checked against what it carries. */
    def of(wc: WinCol): WinKind = {
      val kind = byName.getOrElse(wc.kind, throw new IllegalArgumentException(
        s"unknown window kind '${wc.kind}'; one of: " +
          all.map(_.name).sorted.mkString(", ")))
      kind.check(wc)
      kind
    }
  }

  /** Windowed analytics (beyond-reference): every column shares ONE
    * (partitionBy, orderKeys) window spec, so the whole node costs a
    * single hash(partition) exchange + one sort regardless of how many
    * columns it adds. Row grain is unchanged. */
  final case class WindowCalc(
      base: Source,
      partitionBy: Seq[Expr],
      orderKeys: Seq[SortKey],
      cols: Seq[WinCol],
  ) extends Source

  /** As-of join (beyond-reference temporal join): append to each base row
    * the `pick` columns of the `right` model's latest row with the same
    * key and right timestamp ≤ the row's timestamp (strictly < when
    * `strict`); ties on the right timestamp break to the highest
    * `rightSeq`. Lowered as a tag-union + one last-non-null window —
    * a single exchange on the key, never a range-join row explosion. */
  final case class AsofJoin(
      base: Source,
      right: graft.model.Model,
      leftOn: Expr,
      rightOn: Expr,
      leftTs: Expr,
      rightTs: Expr,
      rightSeq: Option[Expr],
      pick: Seq[Expr],
      strict: Boolean,
      pruneRight: Boolean = false,
  ) extends Source

  /** Interval/range join (beyond-reference temporal join — the
    * DISTRIBUTED form of `point BETWEEN lo AND hi` theta joins):
    * inner-join each base row whose `point` timestamp falls in a right
    * row's `[lo, hi)` window (plus optional equi keys), appending the
    * `pick` columns — one output row per matching (left, right) pair.
    * Lowered by TIME-BUCKETING, never a raw theta join: both sides hash
    * to fixed-width epoch-micro buckets (width auto-sized to the widest
    * right interval, so every interval spans ≤ 2 buckets and every point
    * exactly 1), equi-join on (key, bucket), then the exact range
    * predicate filters candidates. A plain theta join degenerates to a
    * broadcast-nested-loop/cartesian at scale; this shape is one shuffle
    * equi-join with ≤ 2× right-side amplification, and the bucket key
    * distributes even the keyless form. */
  final case class RangeJoin(
      base: Source,
      right: graft.model.Model,
      leftOn: Option[Expr],
      rightOn: Option[Expr],
      point: Expr,
      lo: Expr,
      hi: Expr,
      pick: Seq[Expr],
      bucketMicros: Long, // 0 = auto (widest right interval)
  ) extends Source

  /** Deterministic fractional upsampling by group weight (beyond-reference
    * training-data op, the wire form of `graft.llm.TextOps.upsampleMix`):
    * each base row with group weight w (from the `weights` model, whose
    * columns are the `group` identifier + `weight`) is replicated floor(w)
    * or ceil(w) times — the fractional remainder selects rows by a
    * portable md5 cutoff on `key`, so the kept SET is deterministic and
    * engine-replayable, and expected replication equals w exactly. Adds a
    * 0-based `replica` column; rows with total weight 0 drop. The weights
    * side broadcasts (mixture tables are tiny by nature); replication is a
    * map-side sequence-explode — the operator itself shuffles nothing. */
  final case class UpsampleMix(
      base: Source,
      group: Expr,
      key: Expr,
      weights: graft.model.Model,
  ) extends Source

  /** Corpus-level duplicated-substring removal (beyond-reference, the
    * wire form of `graft.llm.Dedup.substringClean`): strip every word
    * covered by a >= `minSpanWords`-word span whose k-gram appears in
    * >= `minCopies` documents, reassemble survivors in order. Output per
    * document with non-null `text`: the `id` column, n_words, n_removed,
    * and clean_md5 (md5 of the surviving text — compact and
    * engine-portable). */
  final case class SubstringClean(
      base: Source,
      id: Expr,
      text: Expr,
      minSpanWords: Int,
      minCopies: Int,
  ) extends Source

  /** DSIR importance selection (beyond-reference, the wire form of
    * `graft.llm.Dsir`; Xie et al. 2023): rank base documents by the
    * hashed word-gram importance weight of `text` — how much likelier
    * its gram bag is under the TARGET distribution than under the base
    * corpus's own — and keep the top `k`. `target` is a SUB-MODEL
    * (typically a filter of the same corpus, or a separate trusted
    * table) that must expose a column named like the `text` expression;
    * the base model itself supplies the raw distribution. Rows with
    * null `text` drop. Output: the `id` column, weight_micro (exact
    * integer micro-bits — deterministic under any partitioning), and
    * rank (1-based, ties broken by `id`). */
  final case class DsirSelect(
      base: Source,
      id: Expr,
      text: Expr,
      target: graft.model.Model,
      dims: Int,
      k: Int,
  ) extends Source

  /** Token-budget corpus assembly (beyond-reference, the wire form of
    * `graft.llm.TextOps.tokenBudgetFill`): give each group
    * floor(budget · weight + 0.5) tokens from the `weights` sub-model
    * (columns: the `group` identifier + `weight`) and keep each group's
    * md5(id)-ordered document PREFIX whose inclusive running token count
    * fits its quota. Output: `id`, `group`, n_tokens, cum_tokens —
    * deterministic, and membership is prefix-stable as the budget
    * grows. */
  final case class TokenBudgetFill(
      base: Source,
      id: Expr,
      group: Expr,
      text: Expr,
      weights: graft.model.Model,
      budget: Long,
  ) extends Source

  /** Content-defined chunking (beyond-reference, the wire form of
    * `graft.llm.Search.cdcChunks`): word-level Rabin/LBFS hash
    * boundaries — a chunk boundary falls before word i whenever the md5
    * of the `k`-gram starting at i is ≡ 0 (mod `modulus`), so chunk
    * identities are edit-local. One row per chunk: the `id` column,
    * chunk_ix, start_word, n_words, chunk_md5. A pure narrow map
    * (codegen'd natives + one posexplode), zero joins/shuffles. */
  final case class CdcChunks(
      base: Source,
      id: Expr,
      text: Expr,
      k: Int,
      modulus: Int,
  ) extends Source

  /** Weighted sampling without replacement (beyond-reference, the wire
    * form of `graft.llm.TextOps.weightedSample`): Efraimidis–Spirakis
    * priorities ln(u)/w with the draw md5-derandomized on `key` — the
    * top-`k` priorities ARE a weight-proportional sample, deterministic
    * across runs/engines/topology. Keeps base columns plus `priority`
    * (6-dp); rows with NULL or non-positive weight are excluded. */
  final case class WeightedSample(
      base: Source,
      key: Expr,
      weight: Expr,
      k: Int,
  ) extends Source

  /** Corpus drift (beyond-reference, the wire form of
    * `graft.llm.TextOps.unigramKl`): add-α-smoothed unigram KL
    * divergence D(base ‖ other) between two corpus slices, the `other`
    * slice riding the wire as a sub-model. One row:
    * (kl_nats, n_vocab, n_tokens_a, n_tokens_b). */
  final case class CorpusDrift(
      base: Source,
      other: graft.model.Model,
      text: Expr,
      otherText: Expr,
      alpha: Double,
  ) extends Source

  /** Semantic benchmark decontamination (beyond-reference, the wire form
    * of `graft.llm.Embeddings.semanticDecontaminate`): flag base rows
    * whose max cosine against the `eval` sub-model's vectors reaches
    * `threshold`. The eval suite rides the wire AS A MODEL (the
    * DsirSelect pattern) and freezes into the plan as float literals at
    * compile time — zero serve-time joins. Output: (id, max_eval_cos,
    * contaminated). */
  final case class SemanticDecontam(
      base: Source,
      id: Expr,
      vec: Expr,
      eval: graft.model.Model,
      evalVec: Expr,
      threshold: Double,
  ) extends Source

  /** Corpus snapshot diff (beyond-reference, the wire form of
    * `graft.llm.Dedup.corpusDiff`): per-id added/removed/changed/
    * unchanged between this (old) snapshot and the `other` (new)
    * sub-model by EXACT content hash, both hashes carried for audit —
    * the lineage report an incremental pipeline publishes per corpus
    * version. Output: (id, status, old_md5, new_md5). */
  final case class CorpusDiff(
      base: Source,
      other: graft.model.Model,
      id: Expr,
      text: Expr,
      otherId: Expr,
      otherText: Expr,
  ) extends Source

  /** Corpus datasheet report (beyond-reference, the wire form of
    * `graft.llm.TextOps.corpusReport`): per-slice docs / whitespace
    * tokens / chars / distinct texts / duplicate rate grouped by the
    * named `groups` expressions. */
  final case class CorpusReport(
      base: Source,
      text: Expr,
      groups: Seq[Expr],
  ) extends Source

  /** Per-domain document cap (beyond-reference, the wire form of
    * `graft.llm.TextOps.domainCap`): keep at most `cap` rows per value of
    * `domain`, chosen in deterministic (md5(id), id) order. Keeps base
    * columns plus the computed `domain`; lowers to one row_number window
    * that Spark rewrites to a partial WindowGroupLimit. */
  final case class DomainCap(
      base: Source,
      domain: Expr,
      id: Expr,
      cap: Int,
  ) extends Source

  /** jusText-style boilerplate line stripping (beyond-reference, the
    * wire form of `graft.llm.TextOps.boilerplateLines`): a line is
    * content iff it has >= minWords tokens AND (its stopword density
    * clears minStopPct percent OR it is >= longLineChars long). One row
    * per input row: `id`, n_lines, n_content, boilerplate_frac, clean.
    * The density compare is pure integer arithmetic — deterministic on
    * every engine. */
  final case class BoilerplateStrip(
      base: Source,
      id: Expr,
      text: Expr,
      stopwords: Seq[String],
      minWords: Int,
      minStopPct: Int,
      longLineChars: Int,
  ) extends Source
}
