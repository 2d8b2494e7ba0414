package graft.queries

import graft.{SparkEntry, SparkSuite}
import org.apache.spark.metrics.source.CodegenMetrics

/** The generated-class cache (`spark.sql.codegen.cache.maxEntries`, set by
  * graft.Sessions) holds a warm session's working set: running the same
  * entries again compiles nothing. At Spark's default of 100 entries the
  * second pass recompiled what the first had evicted. */
class CodegenCacheSpec extends SparkSuite {

  test("a second pass over q01/q03/q69/t05 compiles no generated class") {
    val entries = Seq("q01_pricing_summary", "q03_join_revenue_nation", "q69_tpch_q5", "t05_tfidf")
    def pass(): Unit = entries.foreach { n =>
      SparkEntry.queries(n)(spark, sf("sf0.001")).write.format("noop").mode("overwrite").save()
    }
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // AQE re-plans a stage from whichever sibling stages have finished, so
    // under load a pass can build a plan (and classes) the previous pass
    // did not. That is new code, not eviction; pin the plans to test the
    // cache alone.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      pass()
      val before = compiles
      pass()
      assert(compiles == before, s"the second pass compiled ${compiles - before} classes")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
