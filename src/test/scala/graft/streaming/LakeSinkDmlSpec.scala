package graft.streaming

import graft.SparkSuite
import graft.lake._
import graft.types.{ColType, TableSchema}

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** MERGE-ON-READ DML × the streaming sink's epochs (round 17, the r16
  * verdict's candidate (a) second half): a lake→lake pipeline whose
  * SINK table takes an MOR DELETE mid-stream must stay exactly-once —
  * later epochs unaffected, the vectors visible to every subsequent
  * read and to a downstream stream's next trigger — and an epoch
  * REPLAY that would rewrite a tombstoned/vectored key refuses loudly
  * instead of corrupting (positions were computed against the first
  * attempt's bytes). */
class LakeSinkDmlSpec extends SparkSuite {

  private case class Ev(id: Long, tag: String, v: Double)

  private val outSchema = TableSchema("sink_out", Seq(
    "id" -> ColType.CInteger, "tag" -> ColType.CString,
    "v" -> ColType.CFloat))

  private def fixture(): (String, String, HadoopStore) = {
    val root = tempUri("graft-sinkdml")
    val cat = s"sd${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root, new HadoopStore(root))
  }

  test("a lake→lake pipeline stays exactly-once across a mid-stream MOR DELETE on the sink table; vectors reach the next trigger's readers") {
    avoidHourBoundary()
    val (cat, root, store) = fixture()
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Ev]
    ms.addData((0 until 400).map(i => Ev(i.toLong, s"t${i % 4}", i * 1.0)))
    val q = LakeSink.writer(ms.toDF(), outSchema, root, recordLimit = 100,
      ageLimit = java.time.Duration.ofMillis(200))
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table(s"$cat.sink_out").count() == 400L)
      // MOR DELETE lands mid-stream, against the sink's own objects
      spark.sql(s"CALL $cat.system.set_dml_mode(table => 'sink_out', " +
        "mode => 'merge-on-read')").collect()
      spark.sql(s"DELETE FROM $cat.sink_out WHERE v < 50.0")
      assert(LakeVersions.currentDvs(store, "sink_out").nonEmpty,
        "the delete must have committed vectors")
      assert(spark.table(s"$cat.sink_out").count() == 350L)
      // later epochs land cleanly beside the vectors — exactly once
      ms.addData((1000 until 1100).map(i => Ev(i.toLong, "late", i * 1.0)))
      q.processAllAvailable()
      assert(spark.table(s"$cat.sink_out").count() == 450L,
        "post-DELETE epochs must land exactly once")
      assert(spark.table(s"$cat.sink_out").where(col("v") < 50.0)
        .count() == 0L, "deleted rows stay deleted under new epochs")
    } finally q.stop()
    // a DOWNSTREAM stream starting now (its 'next trigger') reads the
    // sink table vector-applied
    spark.catalog.dropTempView("sinkdml_down")
    val ckpt = tempDir("graft-sinkdml-ckpt").toFile.getAbsolutePath
    val down = spark.readStream.format("graft-lake").option("table", "sink_out")
      .load(root)
      .writeStream.format("memory").queryName("sinkdml_down")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    down.awaitTermination(60000)
    assert(spark.table("sinkdml_down").count() == 450L,
      "a downstream trigger must see the vectors")
  }

  test("an epoch replay that would rewrite a vectored key refuses loudly with the compact remedy") {
    avoidHourBoundary()
    val (cat, root, store) = fixture()
    import spark.implicits._
    val df = (0 until 200).map(i => (i.toLong, s"t${i % 4}", i * 1.0))
      .toDF("id", "tag", "v")
    LakeSink.landBatch(df, 200L, outSchema, root, gzip = true,
      recordLimit = 100L, writerFloor = 1, _ => (), epochId = 7L)
    spark.sql(s"CALL $cat.system.set_dml_mode(table => 'sink_out', " +
      "mode => 'merge-on-read')").collect()
    spark.sql(s"DELETE FROM $cat.sink_out WHERE v < 10.0")
    assert(LakeVersions.currentDvs(store, "sink_out").nonEmpty)
    // the driver died before Spark committed epoch 7; the replay must
    // NOT silently rewrite bytes the committed vector's positions were
    // computed against
    val e = intercept[IllegalArgumentException] {
      LakeSink.landBatch(df, 200L, outSchema, root, gzip = true,
        recordLimit = 100L, writerFloor = 1, _ => (), epochId = 7L)
    }
    assert(e.getMessage.contains("compact"), e.getMessage)
    // compaction folds the vectors and re-keys; a replay after it lands
    // (the documented recovery — rows may duplicate across the fold,
    // upsert/compact own that, but nothing corrupts)
    spark.sql(s"CALL $cat.system.compact(table => 'sink_out')").collect()
    assert(LakeVersions.currentDvs(store, "sink_out").isEmpty)
  }
}
