package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSuite.spark
}

object GraftSuite {
  /** Shared local SparkSession for all suites (one JVM-wide session keeps
    * the suite wall-clock dominated by the tests, not Spark startup). */
  lazy val spark: SparkSession = SessionTuning.session("4")
}
