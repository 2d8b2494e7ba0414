package graft.lake

import graft.SparkSuite
import graft.types.{ColType, TableSchema}

import java.time.Instant

import org.apache.spark.sql.functions._

/** `option("metadata", "objects")` ([[LakeObjectsMeta]]) — the
  * `table$files` read: one row per LIVE object with hour, bytes,
  * sidecar record counts, delete-vector state, equality-delete scope
  * and sidecar coverage, planned from the version-aware listing and
  * computed on executors. The suite pins: exact live-set coverage,
  * the `live_records` = `records` − vector arithmetic, dv/eq columns
  * after merge-on-read DML, `asOfGeneration` snapshots, and that a
  * read never opens a data object. */
class LakeObjectsMetaSpec extends SparkSuite {

  private val schema = TableSchema("ot", Seq(
    "id" -> ColType.CInteger, "uid" -> ColType.CInteger,
    "vc" -> ColType.CInteger))

  private def fixture(): (String, String, HadoopStore) = {
    val root = tempUri("graft-om-spec")
    val cat = s"om${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root, new HadoopStore(root))
  }

  private def land(root: String): Seq[String] = {
    import spark.implicits._
    LakeWriter.write(
      (0 until 1000).map(i => (i.toLong, (i % 100).toLong, i.toLong))
        .toDF("id", "uid", "vc").orderBy("id").coalesce(1),
      schema, root, Instant.parse("2024-07-01T08:00:00Z"),
      maxRecordsPerObject = 250L, zoneMaps = true,
      bloomColumns = Seq("uid")).map(_.key)
  }

  private def objects(root: String, asOf: Option[Long] = None) =
    LakeObjectsMeta.read(spark, root, "ot", asOf)

  test("one row per live object: hour/bytes/records/sidecar coverage; sum(live_records) is the table count; no data object opened") {
    val (_, root, store) = fixture()
    val keys = land(root)
    val bytesBefore = graft.Meter.measure(spark) {
      val df = objects(root).persist()
      assert(df.count() == 4)
      assert(df.select("_object_key").collect().map(_.getString(0)).toSet ==
        keys.toSet)
      assert(df.where(col("has_stats") && col("has_bloom")).count() == 4)
      assert(df.where(col("bytes") > 0L).count() == 4)
      assert(df.agg(sum("live_records")).head.getLong(0) == 1000L)
      assert(df.select("_event_hour").distinct().count() == 1)
      assert(df.where(col("dv_key").isNotNull ||
        col("eq_deletes_in_scope") =!= 0).count() == 0)
      df.unpersist(); ()
    }._2
    // metadata-only: the sidecar/bloom probes themselves register a few
    // KB of input — a read that opened the DATA objects (4 × 250 rows)
    // on top would multiply this
    assert(bytesBefore.inputBytes < 64 * 1024L,
      s"the objects read must stay metadata-sized: ${bytesBefore.inputBytes}")
  }

  test("merge-on-read state surfaces: dv_key/dv_count and live_records subtract the vector; eq_deletes_in_scope counts scoping deletes") {
    val (cat, root, _) = fixture()
    land(root)
    spark.sql(s"CALL $cat.system.set_dml_mode(table => 'ot', " +
      "mode => 'merge-on-read')").collect()
    spark.sql(s"DELETE FROM $cat.ot WHERE id >= 100 AND id < 140") // vector
    spark.sql(s"DELETE FROM $cat.ot WHERE uid = 7")                // equality
    val df = objects(root).persist()
    val vectored = df.where(col("dv_key").isNotNull)
    assert(vectored.count() == 1, "one object holds the dead positions")
    val v = vectored.head
    assert(v.getAs[Long]("dv_count") == 40L)
    assert(v.getAs[Long]("live_records") ==
      v.getAs[Long]("records") - 40L)
    // every object commits BEFORE the eq delete's hour watermark → all
    // in scope of the one equality delete
    assert(df.where(col("eq_deletes_in_scope") === 1).count() == 4)
    // live_records deliberately does NOT subtract equality victims —
    // the caveat column says when that applies
    assert(df.agg(sum("live_records")).head.getLong(0) == 1000L - 40L)
    df.unpersist(); ()
  }

  test("asOfGeneration lists the snapshot's OWN live set and dv state") {
    val (cat, root, store) = fixture()
    val keys = land(root)
    spark.sql(s"CALL $cat.system.set_retention(table => 'ot', " +
      "retain => true)").collect()                                 // gen 1
    spark.sql(s"DELETE FROM $cat.ot WHERE id < 250")               // gen 2: COW
    val now = objects(root).persist()
    assert(now.count() == 3, "the rewritten-away object is gone now")
    assert(!now.select("_object_key").collect().map(_.getString(0))
      .toSet.contains(keys.head))
    val at1 = objects(root, asOf = Some(1L))
    assert(at1.count() == 4)
    assert(at1.select("_object_key").collect().map(_.getString(0)).toSet ==
      keys.toSet)
    assert(at1.agg(sum("live_records")).head.getLong(0) == 1000L)
    now.unpersist(); ()
  }

  test("an unknown metadata table name refuses loudly") {
    val (_, root, _) = fixture()
    land(root)
    val e = intercept[Exception] {
      spark.read.format("graft-lake").option("table", "ot")
        .option("metadata", "snapshots").load(root).count()
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      .contains("only 'objects'"))
  }
}
