package graft

import org.apache.spark.sql.SparkSession

/** One place for engine session config so Verify, Bench, and tests agree.
  *
  * Scale posture: AQE on (runtime re-plan, skew-join splitting, dynamic
  * coalescing), shuffle partitions sized to the local core count (on a real
  * cluster this would be executors×cores×2-3; AQE coalesces down from
  * there), UTC session time for oracle parity, nanos-as-long so the events
  * table's TIMESTAMP(NANOS) parquet is readable.
  */
object Sessions {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // storage-partitioned execution for DSv2 scans that PROVE a
      // clustering (the graft-lake connector's opt-in clusterByHour
      // hour-grouping): inert unless a scan reports partition keys
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.compression.codec", "snappy")
      // Generated-class cache (static conf, default 100 entries). The six
      // read-only perfbench `queries` entries alone compile ~174 classes,
      // so at 100 a warm session evicted its warm-up's classes and
      // recompiled 74-110 of them every pass. 2000 holds that set and the
      // lake entries'; the retained classes cost 1.8 MB of live heap on
      // `queries`. It does not hold all 197 bench entries (a cold pass over
      // them compiles ~2.4k classes at sf0.001); `Bench` reports
      // `codegen_compiles` per pass.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      // the engine's SQL functions and advisory optimizer rules, installed
      // when getOrCreate makes the session
      .withExtensions(new GraftExtensions)

  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
