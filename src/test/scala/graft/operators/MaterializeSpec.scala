package graft.operators

import graft.SparkSuite

import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions._

/** The two decisions behind every operator cut and spread: which
  * mechanism `cut` uses (`spark.graft.materialize`), and when `spread`
  * repartitions its input. */
class MaterializeSpec extends SparkSuite {

  private def withTempDir[T](f: java.nio.file.Path => T): T = {
    val dir = tempDir("materialize-spec")
    try f(dir)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  /** Connected components through the distributed loop, every round of
    * which goes through `Materialize.cut`. */
  private def ccLabels(mode: String): Map[Long, Long] = {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val pairs = ((0 until 120).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)) ++
      (100L to 140L).map(i => (i, i + 1))).toDF("a_id", "b_id")
    spark.conf.set("spark.graft.materialize", mode)
    spark.conf.set("spark.graft.cc.localEdgeCap", "0")
    try {
      val (df, rounds) = Dedup.connectedComponentsWithRounds(pairs, "a_id", "b_id")
      assert(rounds > 0, "cap 0 must take the distributed loop")
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    } finally {
      spark.conf.unset("spark.graft.cc.localEdgeCap")
      spark.conf.unset("spark.graft.materialize")
    }
  }

  test("materialize=reliable returns exactly the rows local returns") {
    val local = ccLabels("local")
    val reliable = withTempDir { dir =>
      spark.sparkContext.setCheckpointDir(dir.toString)
      val out = ccLabels("reliable")
      val written = java.nio.file.Files.walk(dir)
      try assert(written.count() > 1,
        "reliable mode must write RDD checkpoints under the checkpoint dir")
      finally written.close()
      out
    }
    assert(local.size > 41 && local(141L) == 100L, "the chain labels to its min id")
    assert(reliable == local)
  }

  test("an unknown materialize mode is refused") {
    spark.conf.set("spark.graft.materialize", "persist")
    try {
      val e = intercept[IllegalArgumentException](Materialize.cut(spark.range(3).toDF("id")))
      assert(e.getMessage.contains("local|reliable"))
    } finally spark.conf.unset("spark.graft.materialize")
  }

  test("spread hash-partitions a single-partition scan to the shuffle parallelism") {
    val n = spark.sessionState.conf.numShufflePartitions
    assert(n > 1, "the spec needs a session parallelism above one")
    withTempDir { dir =>
      val path = dir.resolve("t").toString
      spark.range(0, 500).withColumn("v", col("id") * 3).coalesce(1).write.parquet(path)
      val in = spark.read.parquet(path).filter(col("id") % 2 === 0).select(col("id"), col("v"))
      assert(in.rdd.getNumPartitions == 1, "fixture must scan as one partition")
      val out = Materialize.spread(in, col("id"))
      val repart = out.queryExecution.analyzed.collect { case r: RepartitionByExpression => r }
      assert(repart.size == 1)
      assert(repart.head.partitioning match {
        case h: HashPartitioning => h.numPartitions == n
        case _ => false
      }, s"expected hash partitioning over $n, got ${repart.head.partitioning}")
      assert(out.rdd.getNumPartitions == n)
      assert(out.collect().toSet == in.collect().toSet)
    }
  }

  test("spread returns a well-split scan and a post-exchange frame unchanged") {
    val n = spark.sessionState.conf.numShufflePartitions
    val split = spark.range(0, 100, 1, n).toDF("id")
    assert(Materialize.spread(split, col("id")) eq split)
    val wider = spark.range(0, 100, 1, n + 2).toDF("id")
    assert(Materialize.spread(wider, col("id")) eq wider)

    val single = spark.range(0, 100, 1, 1).toDF("id")
    val agg = single.groupBy((col("id") % 7).as("k")).count()
    assert(Materialize.spread(agg, col("k")) eq agg)
    val joined = single.join(spark.range(0, 50, 1, 1).toDF("id"), "id")
    assert(Materialize.spread(joined, col("id")) eq joined)
  }
}
