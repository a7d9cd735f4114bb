package graft.sources

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Parquet scan that tolerates TIMESTAMP(NANOS) columns, which Spark 4
  * cannot read natively ([PARQUET_TYPE_ILLEGAL]). Strategy: flip the
  * session to `spark.sql.legacy.parquet.nanosAsLong`, find the
  * nanosecond-timestamp columns from the parquet footer, and rebuild them
  * as proper TimestampType via exact integer division (`DIV 1000` — no
  * double rounding at 1e18-nanos magnitudes).
  *
  * This keeps filter pushdown and column pruning intact: the conversion is
  * a projection on top of the scan, and pruning still reaches the parquet
  * reader for untouched columns.
  *
  * A schemaless `spark.read.parquet` runs a Spark job to infer the schema
  * (and csv/json scan their input to infer theirs), so [[load]] resolves
  * each path once per file version: the inferred schema and nano columns
  * are memoized, and every later read pins the schema — no inference job,
  * no footer open.
  */
object ParquetIO {

  private val NanosConf = "spark.sql.legacy.parquet.nanosAsLong"

  /** Session confs outside `spark.sql.<format>.*` that change what
    * schema inference returns for some format. */
  private val InferenceConfs = Set(NanosConf, "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.session.timeZone", "spark.sql.timestampType",
    "spark.sql.legacy.timeParserPolicy",
    "spark.sql.columnNameOfCorruptRecord")

  /** Everything a resolve's result depends on: a resolve under an equal
    * key infers the same schema. `files` is the path's version — (name
    * relative to the path, length, mtime) of the file, or of every file
    * under the directory, sorted. */
  private final case class ResolveKey(
      format: String,
      options: Map[String, String],
      files: Seq[(String, Long, Long)],
      confs: Map[String, String])

  private final case class Resolved(
      key: ResolveKey, schema: StructType, nanoCols: Seq[String])

  /** One entry per path, overwritten when its key no longer matches. */
  private val resolved = new ConcurrentHashMap[String, Resolved]()

  def read(spark: SparkSession, path: String): DataFrame =
    load(spark, "parquet", path)

  /** Read a parquet/csv/json/orc path with `options`, inferring its
    * schema only when this file version, format, options and inference
    * confs have not been resolved before. A path that cannot be stat'ed
    * (a glob) reads uncached, and only a resolve whose footer probe and
    * inference both succeeded is stored. */
  def load(
      spark: SparkSession,
      format: String,
      path: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val files = fileVersion(hadoopConf, path)
    def key(f: Seq[(String, Long, Long)]) =
      ResolveKey(format, options, f, inferenceConfs(spark, format))
    val hit = files.flatMap { f =>
      Option(resolved.get(path)).filter(_.key == key(f))
    }
    val (nanoCols, df) = hit match {
      case Some(r) =>
        val pinned = scan(spark, format, options, path, r.nanoCols, Some(r.schema))
        (r.nanoCols, pinned)
      case None =>
        val probe = files.flatMap { f =>
          if (format == "parquet") nanoTimestampCols(hadoopConf, path, f)
          else Some(Seq.empty)
        }
        val cols = probe.getOrElse(Seq.empty)
        val raw = scan(spark, format, options, path, cols, None)
        // keyed after the scan, which may have set the nanos conf
        for (f <- files; c <- probe)
          resolved.put(path, Resolved(key(f), raw.schema, c))
        (cols, raw)
    }
    nanoCols.foldLeft(df) { (d, c) =>
      d.withColumn(c, expr(s"timestamp_micros(`$c` div 1000)"))
    }
  }

  /** The raw scan: nano columns come back as longs, `schema` (if given)
    * replaces inference. */
  private def scan(
      spark: SparkSession,
      format: String,
      options: Map[String, String],
      path: String,
      nanoCols: Seq[String],
      schema: Option[StructType]): DataFrame = {
    if (nanoCols.nonEmpty) spark.conf.set(NanosConf, "true")
    val reader = spark.read.format(format).options(options)
    schema.fold(reader)(reader.schema).load(path)
  }

  private def inferenceConfs(
      spark: SparkSession, format: String): Map[String, String] = {
    val prefix = s"spark.sql.$format."
    spark.conf.getAll.filter { case (k, _) =>
      k.startsWith(prefix) || InferenceConfs(k)
    }
  }

  /** The path's version, or None when it cannot be stat'ed. */
  private def fileVersion(
      conf: Configuration, path: String): Option[Seq[(String, Long, Long)]] =
    try {
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      val root = fs.getFileStatus(p)
      if (!root.isDirectory)
        Some(Seq(("", root.getLen, root.getModificationTime)))
      else {
        val base = root.getPath.toString
        val out = ArrayBuffer.empty[(String, Long, Long)]
        val it = fs.listFiles(p, true)
        while (it.hasNext) {
          val st = it.next()
          out += ((st.getPath.toString.stripPrefix(base),
            st.getLen, st.getModificationTime))
        }
        Some(out.sorted.toSeq)
      }
    } catch {
      case _: java.io.IOException | _: IllegalArgumentException => None
    }

  /** Corpus-scale partitioned parquet sink: directory-partition by the
    * given columns (e.g. language/source — enables partition PRUNING on
    * every later scan), sort WITHIN each file by `sortBy` (clusters
    * related rows so min/max page stats prune reads — e.g. sort by doc
    * hash for dedup-adjacent scans), and cap rows per file so a 100 TB
    * write produces uniformly-sized splits instead of a few giant files.
    * `sortWithinPartitions` deliberately avoids a global sort: no range
    * exchange, each task sorts only its own output. */
  def writeCorpus(
      df: DataFrame,
      path: String,
      partitionBy: Seq[String],
      sortBy: Seq[String] = Seq.empty,
      maxRecordsPerFile: Long = 5000000L,
  ): Unit = {
    // the task ordering must LEAD with the partition columns: the file
    // writer requires ordering on them and would otherwise plan a second
    // (stability-unspecified) sort on top, silently voiding the sortBy
    // clustering
    val sorted =
      if (sortBy.isEmpty) df
      else df.sortWithinPartitions((partitionBy ++ sortBy).map(col): _*)
    sorted.write
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionBy: _*)
      .mode("overwrite")
      .parquet(path)
  }

  /** Bucketed+sorted table write — the CO-LOCATED JOIN layout: two
    * tables bucketed the same way (same key, same bucket count) join and
    * aggregate with ZERO shuffle exchanges, because the on-disk hash
    * layout already satisfies the join's required distribution and the
    * per-bucket sort satisfies the sort-merge ordering. At 100 TB this
    * is the difference between re-shuffling the fact table on every run
    * and paying the shuffle ONCE at ingest (the bucketed write's own
    * exchange) — every subsequent join/agg on the key rides the layout
    * for free. Registers `table` in the session catalog with data at
    * `path` (bucketing metadata lives in the catalog — a plain
    * `spark.read.parquet` of the path would not see it). */
  def writeBucketed(
      df: DataFrame,
      table: String,
      path: String,
      key: String,
      buckets: Int,
  ): Unit = {
    require(buckets > 0, "buckets must be positive")
    df.write
      .mode("overwrite")
      .format("parquet")
      .option("path", path)
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(table)
  }

  /** Register files a [[writeBucketed]] call left at `path` as the
    * external bucketed table `table` (same key, same bucket count):
    * catalog metadata is per-session, the on-disk hash-on-key layout is
    * not, and registration restores the metadata, so a join on `key`
    * still plans zero exchanges on this side. Dropping the table later
    * leaves the files in place. */
  def registerBucketed(
      spark: SparkSession,
      table: String,
      path: String,
      key: String,
      buckets: Int,
  ): Unit = {
    val ddl = spark.read.parquet(path).schema.toDDL
    spark.sql(s"""CREATE TABLE $table ($ddl) USING parquet
                  CLUSTERED BY ($key) SORTED BY ($key) INTO $buckets BUCKETS
                  LOCATION '$path'""")
  }

  /** APPEND rows into an existing [[writeBucketed]] table with the same
    * bucket spec — the maintenance write of an incremental index loop:
    * the hash-on-key CLUSTERING the downstream join rides is preserved
    * (each append adds one more file per bucket; Spark's bucketed scan
    * still satisfies the join's required distribution), while the
    * per-bucket free SORT is given up once buckets span multiple files —
    * an in-partition sort, never a shuffle, if a consumer needs order.
    * The bucket count must match the table's or Spark rejects the write. */
  def appendBucketed(
      df: DataFrame,
      table: String,
      key: String,
      buckets: Int,
  ): Unit = {
    require(buckets > 0, "buckets must be positive")
    df.write
      .mode("append")
      .format("parquet")
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(table)
  }

  /** COMPACT an append-maintained [[writeBucketed]]/[[appendBucketed]]
    * table: every append adds one more file per bucket, and after many
    * increments the small-file count degrades scan parallelism (each
    * file is a separate reader open/footer parse) without changing the
    * layout's correctness. Compaction rewrites the postings into
    * `dstTable`/`dstPath` with ONE file per bucket and ZERO shuffle:
    * forcing the BUCKETED scan (Spark's planner auto-disables it when no
    * operator exploits it, and it elides an explicit `repartition(
    * buckets, key)` as redundant over a same-bucketed table — which
    * would silently fall back to file-split tasks and one file per
    * input split) makes each task read exactly one whole bucket, so the
    * bucketed write emits exactly `buckets` files — restoring both the
    * per-bucket free SORT (lost once buckets spanned multiple files)
    * and single-file scans, while preserving the hash-on-key clustering
    * the serve joins ride (zero index-side exchanges before and after).
    * Never in-place: the compacted artifact is a new versioned table, so
    * a crash mid-compaction cannot corrupt the serving index and readers
    * of the old table are undisturbed (drop it once consumers switch). */
  def compactBucketed(
      spark: SparkSession,
      table: String,
      dstTable: String,
      dstPath: String,
      key: String,
      buckets: Int,
  ): Unit = {
    require(buckets > 0, "buckets must be positive")
    // a CLONED session (shared SparkContext + catalog, OWN conf) forces
    // the bucketed scan without touching the caller's session: a global
    // toggle would race with overlapping compactions/takedowns or any
    // concurrent query that wants auto-bucketed scanning
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled",
      "false") // one scan task per whole bucket
    writeBucketed(s2.table(table), dstTable, dstPath, key, buckets)
  }

  /** TAKEDOWN maintenance — remove a document set from a persisted
    * posting index (opt-out, right-to-be-forgotten, license retraction:
    * at 100 TB corpus membership is NOT append-only, and a full index
    * rebuild per takedown batch would dwarf the removal itself). One
    * broadcast anti-join against the removal-id frame (takedown batches
    * are small by nature) rides the same forced-bucketed-scan path as
    * [[compactBucketed]] — one task per whole bucket, the anti-join is
    * partitioning-preserving, so the rewrite emits one file per bucket
    * with the hash-on-key clustering intact and ZERO shuffle. Never
    * in-place (versioned dst table, crash-safe, readers undisturbed).
    * Queries against the new table behave exactly as if the removed
    * docs had never been indexed (spec-pinned vs a rebuild without
    * them). */
  def removeFromBucketed(
      spark: SparkSession,
      table: String,
      idCol: String,
      removeIds: DataFrame,
      dstTable: String,
      dstPath: String,
      key: String,
      buckets: Int,
  ): Unit = {
    require(buckets > 0, "buckets must be positive")
    val rm = removeIds.toDF("__rm__")
    // cloned session: see [[compactBucketed]] — forces the bucketed scan
    // without a racy global conf toggle
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled",
      "false") // one scan task per whole bucket
    writeBucketed(
      s2.table(table).join(org.apache.spark.sql.functions.broadcast(rm),
        col(idCol) === col("__rm__"), "left_anti"),
      dstTable, dstPath, key, buckets)
  }

  /** ATOMIC index-version SWAP — the missing last step of the versioned
    * maintenance loop: [[appendBucketed]] / [[compactBucketed]] /
    * [[removeFromBucketed]] all (correctly) write a NEW versioned table
    * and leave "readers switch manually". This op is the switch: the
    * serving NAME becomes (or is re-pointed as) a catalog VIEW over the
    * new version's table. A view replacement is ONE catalog operation —
    * any query resolves `serveName` either to the old definition or the
    * new one in its entirety, never a mix — and queries PLANNED before
    * the swap keep reading the old version's files undisturbed (their
    * analyzed plan already bound the old relation), which is exactly
    * the snapshot semantics a swap must give in-flight readers. The
    * view is a pure logical alias: the underlying bucketed relation's
    * hash-on-key layout still plans zero-exchange serve joins through
    * it (spec-pinned). Returns the previously served table's name (from
    * the old view definition) so the caller can [[retireVersion]] it
    * once in-flight consumers drain. */
  def promoteVersion(
      spark: SparkSession,
      serveName: String,
      newTable: String): Option[String] = {
    val prev =
      if (!spark.catalog.tableExists(serveName)) None
      else {
        val meta = spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(serveName))
        // fail BEFORE the DDL with the real cause: CREATE OR REPLACE
        // VIEW over an existing TABLE would error obscurely, and
        // silently dropping a data table to make room is never right
        require(meta.tableType ==
          org.apache.spark.sql.catalyst.catalog.CatalogTableType.VIEW,
          s"serve name '$serveName' already exists as a " +
            s"${meta.tableType.name} — the serving pointer must be a " +
            "view (pick a fresh serve name, or drop the table yourself)")
        // resolve the served table from the ANALYZED view plan, not a
        // regex over the view's SQL text (which silently returned None —
        // no retirement — on any qualified or reformatted view): the
        // analyzer binds the view body to its underlying relations, so
        // collecting catalog identifiers is format-proof
        val deps = spark.table(serveName).queryExecution.analyzed.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.catalogTable.map(_.identifier.table)
          case hr: org.apache.spark.sql.catalyst.catalog.HiveTableRelation =>
            Some(hr.tableMeta.identifier.table)
        }.flatten.distinct.filterNot(_ == serveName)
        // a serving pointer generated here reads exactly one table; a
        // hand-written multi-table view has no single "previous version"
        if (deps.size == 1) deps.headOption else None
      }
    spark.sql(s"CREATE OR REPLACE VIEW $serveName AS SELECT * FROM $newTable")
    prev
  }

  /** RETIRE a superseded index version: drop its (external) catalog
    * entry and delete its files — the GC half of [[promoteVersion]]'s
    * contract. Call it only after in-flight consumers of the old
    * version drain (a query planned pre-swap reads the old files until
    * it finishes); the swap itself never blocks on this. */
  def retireVersion(spark: SparkSession, table: String): Unit = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    require(meta.tableType !=
      org.apache.spark.sql.catalyst.catalog.CatalogTableType.VIEW,
      s"'$table' is a view (a serving pointer), not a version table — " +
        "retire the TABLE a swap superseded, not the name queries read")
    val loc = meta.location
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val p = new Path(loc)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
  }

  /** Top-level TIMESTAMP(NANOS) column names, from the footer of the
    * first visible `.parquet` file of `files` (none found: no nano
    * columns); None when the footer cannot be read. */
  private def nanoTimestampCols(
      conf: Configuration,
      path: String,
      files: Seq[(String, Long, Long)]): Option[Seq[String]] = {
    val footer = files.map(_._1).find { rel =>
      (rel.isEmpty || rel.endsWith(".parquet")) &&
        !rel.split('/').exists(n => n.startsWith("_") || n.startsWith("."))
    }
    try Some(footer.fold(Seq.empty[String]) { rel =>
      val file =
        if (rel.isEmpty) new Path(path) else new Path(path, rel.stripPrefix("/"))
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      try {
        reader.getFileMetaData.getSchema.getFields.asScala.collect {
          case f if f.isPrimitive &&
            (f.asPrimitiveType().getLogicalTypeAnnotation match {
              case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                t.getUnit == TimeUnit.NANOS
              case _ => false
            }) => f.getName
        }.toSeq
      } finally reader.close()
    })
    catch {
      case _: Exception => None // read uncached, as if no nano columns
    }
  }
}
