package graft.lake

import graft.SparkSuite
import graft.types.{ColType, TableSchema}

import java.time.Instant

import org.apache.spark.sql.functions._

/** The declared-schema record layer ([[LakeSchemas]]) and its seams:
  * wire round-trip, CAS behavior, torn records, and the streaming read
  * of an evolved table. */
class LakeSchemasSpec extends SparkSuite {

  private val schema = TableSchema("sv", Seq(
    "id" -> ColType.CInteger, "tag" -> ColType.CString))

  private def freshRoot(): (String, HadoopStore) = {
    val root = tempUri("graft-schemas")
    (root, new HadoopStore(root))
  }

  test("record wire round-trips; current() takes the highest parseable version") {
    val (_, store) = freshRoot()
    val s1 = TableSchema("sv", Seq("id" -> ColType.CInteger,
      "tag" -> ColType.CString))
    val s2 = TableSchema("sv", Seq("id" -> ColType.CInteger,
      "tag" -> ColType.CString, "score" -> ColType.CFloat))
    assert(LakeSchemas.publish(store, "sv", s1, 0L).contains(1L))
    assert(LakeSchemas.publish(store, "sv", s2, 1L).contains(2L))
    val cur = LakeSchemas.current(store, "sv").get
    assert(cur.version == 2L && cur.schema.columns == s2.columns)
    assert(LakeSchemas.readRecord(store, "sv", 1L).get.columns == s1.columns)
  }

  test("CAS: publishing onto a committed slot loses; a torn record is skipped by current() and reclaimed by the next publish") {
    val (_, store) = freshRoot()
    val s1 = TableSchema("sv", Seq("id" -> ColType.CInteger))
    assert(LakeSchemas.publish(store, "sv", s1, 0L).contains(1L))
    // losing the race: slot 1 committed
    assert(LakeSchemas.publish(store, "sv", s1, 0L).isEmpty)
    // a torn slot 2 (crashed committer wrote garbage)
    val out = store.create(LakeSchemas.schemaKey("sv", 2L))
    out.write("garbage".getBytes("UTF-8")); out.close()
    assert(LakeSchemas.current(store, "sv").get.version == 1L,
      "a torn record must be skipped")
    // the next publish reclaims the torn slot (after its quiesce wait,
    // the first attempt deletes it and reports a lost race)
    val s2 = TableSchema("sv", Seq("id" -> ColType.CInteger,
      "v" -> ColType.CFloat))
    val first = LakeSchemas.publish(store, "sv", s2, 1L)
    val got = first.orElse(LakeSchemas.publish(store, "sv", s2, 1L))
    assert(got.contains(2L), s"reclaim then publish: $first then $got")
    assert(LakeSchemas.current(store, "sv").get.schema.columns == s2.columns)
  }

  test("racing ALTERs through the catalog serialize: both changes land (re-applied on the winner's schema)") {
    val (root, store) = freshRoot()
    import spark.implicits._
    LakeWriter.write((0 until 50).map(i => (i.toLong, s"t$i")).toDF("id", "tag")
      .coalesce(1), schema, root, Instant.parse("2024-07-01T08:00:00Z"))
    val cat = s"sch${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    // two ALTERs back to back (sequential here; the CAS interleave is
    // covered above — this pins the catalog's re-resolve-and-apply)
    spark.sql(s"ALTER TABLE $cat.sv ADD COLUMN a DOUBLE")
    spark.sql(s"ALTER TABLE $cat.sv ADD COLUMN b BIGINT")
    assert(spark.table(s"$cat.sv").columns.toSeq ==
      Seq("id", "tag", "a", "b", "_event_hour"))
    assert(LakeSchemas.current(store, "sv").get.version == 2L)
    // the chain records both ALTERs
    val ops = LakeVersions.listDir(store, "sv").gens
      .flatMap(g => LakeVersions.readRecord(store, "sv", g)).map(_.op)
    assert(ops.count(_ == "alter") == 2, s"ops: $ops")
  }

  test("readStream of an EVOLVED table: old objects deliver with the new column null, evolved appends carry values") {
    val (root, store) = freshRoot()
    import spark.implicits._
    LakeWriter.write((0 until 40).map(i => (i.toLong, s"t$i")).toDF("id", "tag")
      .coalesce(1), schema, root, Instant.parse("2024-07-01T08:00:00Z"))
    val cat = s"sst${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"ALTER TABLE $cat.sv ADD COLUMN score DOUBLE")
    spark.sql(
      s"""INSERT INTO $cat.sv
         |SELECT id + 100 AS id, 'n' AS tag, 4.5 AS score,
         |  TIMESTAMP '2024-07-01 09:00:00+00:00' AS _event_hour
         |FROM range(10)""".stripMargin)
    val ckpt = tempDir("graft-schemas-ckpt").toString
    val name = s"evo_stream_${math.abs(root.hashCode)}"
    val q = spark.readStream.format("graft-lake").option("table", "sv")
      .load(root)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table(name)
    assert(got.count() == 50)
    assert(got.where(col("score").isNull).count() == 40,
      "old-header objects stream with the new column null")
    assert(got.where(col("score") === 4.5).count() == 10)
  }
}
