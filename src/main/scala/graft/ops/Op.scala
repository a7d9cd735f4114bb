package graft
package ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query: its name, the Spark query over a data dir, and the DuckDB
  * SQL its result is checked against. The oracle sits beside its
  * query with identical column aliases; it is held lazily, so planning a
  * query never builds an oracle string. */
final class Op(
    val name: String,
    val query: (SparkSession, String) => DataFrame,
    sql: => String) {
  lazy val oracle: String = sql
}

object Op {
  def apply(name: String, query: (SparkSession, String) => DataFrame,
      oracle: => String): Op = new Op(name, query, oracle)

  /** The oracle of the op called `name`: an op whose result provably
    * equals another op's shares that op's oracle by reference. */
  def oracleOf(name: String): String = registry(name).oracle

  /** Index ops by name; a repeated name is an error, never a silent
    * overwrite. */
  def index(ops: Seq[Op]): Map[String, Op] = {
    val dups = ops.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate op names: ${dups.toSeq.sorted.mkString(", ")}")
    ops.map(o => o.name -> o).toMap
  }

  /** Every query, by family. */
  lazy val registry: Map[String, Op] = index(
    RelationalOps.ops ++ SourceOps.ops ++ DedupOps.ops ++ CurationOps.ops ++
      AnnOps.ops ++ LmOps.ops ++ TokenizerOps.ops ++ MultimodalOps.ops ++
      GraphOps.ops)
}
