package graft.streaming

import graft.SparkSuite
import graft.lake._
import graft.types.{ColType, TableSchema}

import java.sql.Timestamp

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** MERGE-ON-READ DML × the streaming sink's epochs (round 17, the r16
  * verdict's candidate (a) second half): a lake→lake pipeline whose
  * SINK table takes an MOR DELETE mid-stream must stay exactly-once —
  * later epochs unaffected, the vectors visible to every subsequent
  * read and to a downstream stream's next trigger — and an epoch
  * REPLAY that would rewrite a tombstoned/vectored key refuses loudly
  * instead of corrupting (positions were computed against the first
  * attempt's bytes) — through either streaming sink. */
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

  /** The two streaming sinks. Both publish through
    * [[StagedPublish.publishEpoch]]; every replay case below runs
    * against each. */
  private val Sinks = Seq("LakeSink", "graft-lake streaming write")

  private val inStruct = StructType(Seq(StructField("id", LongType),
    StructField("tag", StringType), StructField("v", DoubleType)))

  /** Land `rows`, in order, as epoch 7 of `sink` in `objects` objects:
    * through `LakeSink.landBatch`, or by driving a
    * [[LakeStreamingWrite]]'s writers and `commit(7L, …)` directly. */
  private def landEpoch(sink: String, root: String,
                        rows: Seq[(Long, String, Double)], objects: Int): Unit = {
    val per = (rows.size + objects - 1) / objects
    if (sink == "LakeSink") {
      import spark.implicits._
      LakeSink.landBatch(rows.toDF("id", "tag", "v"), rows.size.toLong, outSchema,
        root, gzip = true, recordLimit = per.toLong, writerFloor = 1, _ => (),
        epochId = 7L)
    } else {
      val sw = new LakeStreamingWrite(root, outSchema, inStruct, true, 0L, false, "replay")
      val f = sw.createStreamingWriterFactory(null)
      val msgs = rows.grouped(per).zipWithIndex.map { case (part, p) =>
        val w = f.createWriter(p, p.toLong, 7L)
        part.foreach { case (id, tag, v) =>
          w.write(new GenericInternalRow(Array[Any](id, UTF8String.fromString(tag), v)))
        }
        w.commit()
      }.toArray
      sw.commit(7L, msgs)
    }
  }

  /** Epoch 7's object at index `i`, found by its deterministic name. */
  private def epochKey(store: HadoopStore, sink: String, i: Int): String = {
    val seed = (if (sink == "LakeSink") "" else "replay:") + s"sink_out:7:$i"
    val id = java.util.UUID.nameUUIDFromBytes(seed.getBytes("UTF-8")).toString
    LakeReader.listTableKeys(store, "sink_out", None).find(_.contains(id))
      .getOrElse(fail(s"no object for seed $seed"))
  }

  private def idsOf(store: HadoopStore, key: String): Seq[Long] =
    LakeReader.readKeys(spark, store, "sink_out", Seq(key))
      .select("id").collect().map(_.getLong(0)).toSeq

  private def ids(cat: String): Seq[Long] =
    spark.table(s"$cat.sink_out").select("id").collect().map(_.getLong(0)).toSeq.sorted

  /** A replay of epoch 7 must refuse with the compact remedy, before any
    * store mutation: the table reads as before and no staging lingers. */
  private def assertReplayRefused(sink: String, cat: String, root: String,
                                  store: HadoopStore,
                                  rows: Seq[(Long, String, Double)], objects: Int): Unit = {
    val before = ids(cat)
    val e = intercept[IllegalArgumentException](landEpoch(sink, root, rows, objects))
    assert(e.getMessage.contains("CALL lake.system.compact"), e.getMessage)
    assert(ids(cat) == before, s"$sink: a refused replay must change nothing")
    assert(store.list("_staging").isEmpty)
  }

  private def rows(n: Int) = (0 until n).map(i => (i.toLong, s"t${i % 4}", i * 1.0))

  private def vectoredReplay(sink: String): Unit = {
    avoidHourBoundary()
    val (cat, root, store) = fixture()
    landEpoch(sink, root, rows(200), objects = 2)
    spark.sql(s"CALL $cat.system.set_dml_mode(table => 'sink_out', " +
      "mode => 'merge-on-read')").collect()
    spark.sql(s"DELETE FROM $cat.sink_out WHERE v < 10.0")
    assert(LakeVersions.currentDvs(store, "sink_out").nonEmpty)
    // the driver died before Spark committed epoch 7; the replay must
    // NOT silently rewrite bytes the committed vector's positions were
    // computed against
    assertReplayRefused(sink, cat, root, store, rows(200), objects = 2)
    // compaction folds the vectors and re-keys; a replay after it lands
    // (the documented recovery — rows may duplicate across the fold,
    // upsert/compact own that, but nothing corrupts)
    spark.sql(s"CALL $cat.system.compact(table => 'sink_out')").collect()
    assert(LakeVersions.currentDvs(store, "sink_out").isEmpty)
  }

  test("an epoch replay that would rewrite a vectored key refuses loudly with the compact remedy") {
    vectoredReplay("LakeSink")
  }

  test("graft-lake streaming write: an epoch replay that would rewrite a vectored key refuses loudly with the compact remedy") {
    vectoredReplay("graft-lake streaming write")
  }

  test("graft-lake streaming write: a reversed-order replay over a merge-on-read vector refuses; ids 10-19 stay live") {
    val sink = "graft-lake streaming write"
    avoidHourBoundary()
    val (cat, root, store) = fixture()
    landEpoch(sink, root, rows(20), objects = 1)
    spark.sql(s"CALL $cat.system.set_dml_mode(table => 'sink_out', " +
      "mode => 'merge-on-read')").collect()
    spark.sql(s"DELETE FROM $cat.sink_out WHERE id < 10")
    assert(ids(cat) == (10L until 20L))
    // same rows, reverse order: under the vector the rewritten object
    // would read back ids 0-9 and lose 10-19
    assertReplayRefused(sink, cat, root, store, rows(20).reverse, objects = 1)
  }

  Sinks.foreach { sink =>
    test(s"$sink: a replay over a tombstoned key of a retained table refuses") {
      avoidHourBoundary()
      val (cat, root, store) = fixture()
      spark.sql(s"CALL $cat.system.set_retention(table => 'sink_out', " +
        "retain => true)").collect()
      landEpoch(sink, root, rows(20), objects = 2)
      val k0 = epochKey(store, sink, 0)
      // a copy-on-write DELETE retires object 0 whole; retention keeps
      // it on disk, so the replay would rewrite a retired key
      spark.sql(s"DELETE FROM $cat.sink_out WHERE id IN (${idsOf(store, k0).mkString(", ")})")
      assert(store.exists(k0) && !LakeReader.listTableKeys(store, "sink_out", None).contains(k0))
      assertReplayRefused(sink, cat, root, store, rows(20), objects = 2)
    }

    test(s"$sink: a replay refuses over a vectored key 1 after key 0 was physically retired") {
      avoidHourBoundary()
      val (cat, root, store) = fixture()
      landEpoch(sink, root, rows(20), objects = 2)
      val k0 = epochKey(store, sink, 0)
      val k1 = epochKey(store, sink, 1)
      // a copy-on-write DELETE of every row retires object 0, and without
      // retention removes it from disk: the replay's first key is gone.
      // (The range conjunct keeps both DELETEs off the metadata-only
      // path, so the second one takes the merge-on-read path.)
      spark.sql(s"DELETE FROM $cat.sink_out WHERE id IN " +
        s"(${idsOf(store, k0).mkString(", ")}) AND v >= 0.0")
      assert(!store.exists(k0))
      spark.sql(s"CALL $cat.system.set_dml_mode(table => 'sink_out', " +
        "mode => 'merge-on-read')").collect()
      spark.sql(s"DELETE FROM $cat.sink_out WHERE id = ${idsOf(store, k1).min} AND v >= 0.0")
      assert(LakeVersions.currentDvs(store, "sink_out").contains(k1))
      assertReplayRefused(sink, cat, root, store, rows(20), objects = 2)
    }
  }
}
