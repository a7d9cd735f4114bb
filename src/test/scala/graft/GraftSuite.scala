package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSuite.spark

  /** `body`'s result and the Spark jobs it submits on this thread. Job
    * events reach the status tracker asynchronously, in order, so a
    * marker job run after `body` is awaited before counting. */
  protected def withJobs[T](body: => T): (T, Int) = {
    val (out, ids) = withJobIds(body)
    (out, ids.length)
  }

  /** `body`'s result and the ids of the Spark jobs it submits on this
    * thread ([[withJobs]]). */
  protected def withJobIds[T](body: => T): (T, Seq[Int]) = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, group)
    val out = try body finally sc.clearJobGroup()
    val marker = group + "-marker"
    sc.setJobGroup(marker, marker)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(marker).isEmpty &&
      System.nanoTime() < deadline) Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup(marker).nonEmpty)
    (out, sc.statusTracker.getJobIdsForGroup(group).toSeq.sorted)
  }
}

object GraftSuite {
  /** Shared local SparkSession for all suites (one JVM-wide session keeps
    * the suite wall-clock dominated by the tests, not Spark startup). */
  lazy val spark: SparkSession = SessionTuning.session("4")
}
