package graft

import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics

/** graft's sessions size Spark's compiled-code cache to hold a dashboard's
  * plans, so a repeated tile reuses its generated classes. */
class CodegenCacheSpec extends GraftSuite {
  private val dir = "/root/testdata/sf0.001"

  /** perfbench's bi_dashboard pool: the semantic-layer tiles. */
  private val tiles = Seq("q_scan_pick", "q_sort_limit", "q1_agg",
    "q_granularity", "q_join_chain", "q_window_calc", "q_cube",
    "q_retention", "q_funnel")

  /** One pass over the tiles, each to the noop sink; returns the number of
    * classes Janino compiled during the pass. */
  private def pass(): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    for (name <- tiles)
      try SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      finally llm.CacheScope.global.release()
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a second pass over the dashboard tiles compiles no class") {
    // each whole-stage class takes a driver key and an executor key;
    // Spark's default 100 entries evicted part of every pass
    val first = pass()
    assert(pass() === 0L, s"(the first pass compiled $first classes)")
  }

  test("the codegen cache default fills a missing size and keeps an explicit one") {
    val key = "spark.sql.codegen.cache.maxEntries"
    val (k, v) = GraftExtensions.codegenCache
    assert(k === key)
    assert(GraftExtensions.codegenCacheDefault(new SparkConf(false)).get(key) === v)
    assert(GraftExtensions.codegenCacheDefault(
      new SparkConf(false).set(key, "7")).get(key) === "7")
  }
}
