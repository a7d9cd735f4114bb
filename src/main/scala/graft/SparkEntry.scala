package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.funcs._
import graft.model.Model

/** Driver contract — see SURVEY.md §7.
  * Each `queries` entry exercises one operator from SURVEY.md §2 through the
  * graft Model API; `oracleSql` holds the DuckDB-equivalent ANSI SQL the
  * driver checks against at sf0.01. Every persisted artifact a query
  * serves from is memoized through [[Fixtures]]. Both maps derive from
  * the op registry ([[ops.Op.registry]]): one `Op` per query with its
  * oracle beside it, grouped by family under `graft.ops`.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0.
    * Sales-by-year-equivalent from the reference README (README.md:47-66):
    * events aggregated by year with a count measure. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    Model.parquet(dir, "events")
      .aggregate(
        groups = Seq(col("ts").byYear.named("ts_year")),
        measures = Seq(count().named("count")))
      .sort(col("ts_year"))
      .run(spark)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    ops.Op.registry.map { case (n, o) => n -> o.query }

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Column names match the query's exactly. */
  def oracleSql: Map[String, String] =
    ops.Op.registry.map { case (n, o) => n -> o.oracle }
}
