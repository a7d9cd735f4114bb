package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A query that throws during the bench sweep is reported and still
  * charged its time: it can never make the total look faster. */
class BenchSweepSpec extends GraftSuite {
  test("a throwing query is listed as failed and does not shrink the total") {
    val ok: (SparkSession, String) => DataFrame = (s, _) => s.range(100).toDF()
    val boom: (SparkSession, String) => DataFrame = (_, _) => {
      Thread.sleep(200)
      throw new RuntimeException("injected failure")
    }
    val sweep = new Bench.Runner(spark, "unused",
      Map("q_ok" -> ok, "q_boom" -> boom), Map.empty).sweep("q_ok")
    assert(sweep.failed === Seq("q_boom"))
    val byName = sweep.results.toMap
    assert(byName.keySet === Set("q_ok", "q_boom"))
    assert(byName("q_boom")._1 >= 0.2)
    assert(sweep.total >= byName("q_ok")._1 + 0.2)
  }
}
