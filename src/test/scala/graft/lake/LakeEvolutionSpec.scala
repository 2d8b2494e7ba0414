package graft.lake

import graft.SparkSuite
import graft.types.{ColType, TableSchema}

import java.time.Instant

import org.apache.spark.sql.functions._

/** Metadata-only schema evolution ([[LakeSchemas]] + the catalog's
  * `ALTER TABLE`): the declared schema becomes authoritative, old
  * objects keep their headers and resolve BY NAME (null-fill / widen),
  * every write path emits the declared header, compact migrates
  * wholesale. */
class LakeEvolutionSpec extends SparkSuite {

  private val schema = TableSchema("ev2", Seq(
    "id" -> ColType.CInteger, "tag" -> ColType.CString,
    "vc" -> ColType.CInteger))

  private def fixture(): (String, String, HadoopStore) = {
    val root = tempUri("graft-evo-spec")
    val cat = s"evo${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root, new HadoopStore(root))
  }

  private def land(root: String, hour: String, lo: Int, n: Int): Unit = {
    import spark.implicits._
    LakeWriter.write(
      (lo until lo + n).map(i => (i.toLong, s"t${i % 5}", i.toLong))
        .toDF("id", "tag", "vc").orderBy("id").coalesce(1),
      schema, root, Instant.parse(hour), maxRecordsPerObject = 200L,
      zoneMaps = true, bloomColumns = Seq("tag"))
  }

  test("ADD COLUMN is metadata-only: old objects byte-identical, old rows read NULL, new appends carry values and the declared header") {
    val (cat, root, store) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0, 500)
    val before = LakeReader.listTableKeys(store, "ev2", None)
      .map(k => k -> { val in = store.open(k)
        try in.readAllBytes() finally in.close() }).toMap

    spark.sql(s"ALTER TABLE $cat.ev2 ADD COLUMN score DOUBLE")

    // metadata-only: not a data byte moved
    before.foreach { case (k, b) =>
      val in = store.open(k)
      val now = try in.readAllBytes() finally in.close()
      assert(now.sameElements(b), s"$k must stay byte-identical")
    }
    // the declared schema is live immediately
    assert(spark.table(s"$cat.ev2").columns.toSeq ==
      Seq("id", "tag", "vc", "score", "_event_hour"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev2 WHERE score IS NULL")
      .head.getLong(0) == 500, "old rows read the new column as NULL")

    // appends carry the evolved header
    spark.sql(
      s"""INSERT INTO $cat.ev2
         |SELECT id + 1000 AS id, 'new' AS tag, id AS vc,
         |  0.5 AS score, TIMESTAMP '2024-07-01 09:00:00+00:00' AS _event_hour
         |FROM range(10)""".stripMargin)
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev2 WHERE score = 0.5")
      .head.getLong(0) == 10)
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev2").head.getLong(0) == 510)
    val newKey = LakeReader.listTableKeys(store, "ev2", None)
      .filterNot(before.contains).head
    assert(LakeReader.peekSchema(store, newKey, "ev2").columnNames ==
      Seq("id", "tag", "vc", "score"), "new objects carry the declared header")
    // connector format-read agrees with the catalog read
    val viaFormat = spark.read.format("graft-lake").option("table", "ev2")
      .load(root)
    assert(viaFormat.columns.toSeq ==
      Seq("id", "tag", "vc", "score", "_event_hour"))
    assert(viaFormat.count() == 510)
  }

  test("COW UPDATE and delta MERGE on a mixed-header table: touched objects migrate to the declared header, values exact") {
    val (cat, root, store) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0, 400)
    spark.sql(s"ALTER TABLE $cat.ev2 ADD COLUMN score DOUBLE")

    // COW UPDATE sets the NEW column on OLD-header rows
    spark.sql(s"UPDATE $cat.ev2 SET score = 2.5 WHERE id < 100")
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev2 WHERE score = 2.5")
      .head.getLong(0) == 100)
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev2 WHERE score IS NULL")
      .head.getLong(0) == 300)
    // the rewritten object(s) carry the declared header now
    val rec = LakeVersions.head(store, "ev2", LakeVersions.listDir(store, "ev2")).get
    rec.added.foreach { k =>
      assert(LakeReader.peekSchema(store, k, "ev2").columnNames ==
        Seq("id", "tag", "vc", "score"),
        s"rewritten $k must land on the declared header")
    }

    // delta MERGE mixes arms across old- and new-header objects
    import spark.implicits._
    ((100L until 110L) ++ (9000L until 9005L)).toDF("sid")
      .createOrReplaceTempView("evo_m_src")
    val m = spark.sql(
      s"""MERGE INTO $cat.ev2 t USING evo_m_src s ON t.id = s.sid
         |WHEN MATCHED THEN UPDATE SET score = 9.0
         |WHEN NOT MATCHED THEN INSERT (id, tag, vc, score, _event_hour)
         |  VALUES (s.sid, 'ins', 0, 1.0,
         |    TIMESTAMP '2024-07-01 10:00:00+00:00')""".stripMargin)
    assert(m.queryExecution.executedPlan.toString.contains("WriteDelta"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev2 WHERE score = 9.0")
      .head.getLong(0) == 10)
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev2 WHERE tag = 'ins'")
      .head.getLong(0) == 5)
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev2").head.getLong(0) == 405)
    // untouched old rows ride through unchanged
    assert(spark.sql(
      s"SELECT sum(vc) FROM $cat.ev2 WHERE id >= 110 AND tag <> 'ins'")
      .head.getLong(0) == (110 until 400).map(_.toLong).sum)
  }

  test("metadata DELETE probes across mixed headers: old column exact, new column never rewrites objects that lack it") {
    val (cat, root, store) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0, 400)
    spark.sql(s"ALTER TABLE $cat.ev2 ADD COLUMN score DOUBLE")
    spark.sql(
      s"""INSERT INTO $cat.ev2
         |SELECT id + 1000 AS id, 't3' AS tag, id AS vc, 7.5 AS score,
         |  TIMESTAMP '2024-07-01 09:00:00+00:00' AS _event_hour
         |FROM range(10)""".stripMargin)
    def bytes(k: String) = { val in = store.open(k)
      try in.readAllBytes() finally in.close() }
    val oldKeys = LakeReader.listTableKeys(store, "ev2", None)
      .filter(_.startsWith("2024/07/01/08/"))
    val oldBytes = oldKeys.map(k => k -> bytes(k)).toMap

    // probe on the NEW column: only the evolved-header object matches;
    // old objects (score absent -> NULL) must stay byte-identical
    val d = spark.sql(s"DELETE FROM $cat.ev2 WHERE score = 7.5")
    assert(d.queryExecution.executedPlan.toString.contains("DeleteFromTable"),
      "a probe on the new column stays metadata-path")
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev2").head.getLong(0) == 400)
    oldBytes.foreach { case (k, b) =>
      assert(bytes(k).sameElements(b),
        s"old-header object $k must not be rewritten by a new-column probe")
    }
    // probe on an OLD column across mixed headers: exact
    spark.sql(s"DELETE FROM $cat.ev2 WHERE tag = 't3'")
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev2").head.getLong(0) == 320)
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev2 WHERE tag = 't3'")
      .head.getLong(0) == 0)
  }

  test("compact migrates the whole table onto the declared header; the strict single-header read then succeeds") {
    val (cat, root, store) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0, 300)
    spark.sql(s"ALTER TABLE $cat.ev2 ADD COLUMN score DOUBLE")
    spark.sql(
      s"""INSERT INTO $cat.ev2
         |SELECT id + 1000 AS id, 'n' AS tag, id AS vc, 1.25 AS score,
         |  TIMESTAMP '2024-07-01 08:00:00+00:00' AS _event_hour
         |FROM range(20)""".stripMargin)
    spark.sql(s"CALL $cat.system.compact(table => 'ev2', " +
      "target_records => 1000, zone_maps => true)")
    val keys = LakeReader.listTableKeys(store, "ev2", None)
    keys.foreach { k =>
      assert(LakeReader.peekSchema(store, k, "ev2").columnNames ==
        Seq("id", "tag", "vc", "score"),
        s"compacted $k must carry the declared header")
    }
    // single-header again: the strict file-based read path works
    val strict = LakeReader.read(spark, root, "ev2")
    assert(strict.count() == 320)
    assert(strict.where(col("score") === 1.25).count() == 20)
    assert(spark.sql(s"SELECT sum(vc) FROM $cat.ev2").head.getLong(0) ==
      (0 until 300).map(_.toLong).sum + (0 until 20).map(_.toLong).sum)
  }

  test("widen INTEGER -> FLOAT: old integer wires reparse exactly; narrowing and other retypes refuse") {
    val (cat, root, _) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0, 200)
    spark.sql(s"ALTER TABLE $cat.ev2 ALTER COLUMN vc TYPE DOUBLE")
    val df = spark.table(s"$cat.ev2")
    assert(df.schema("vc").dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(df.agg(sum("vc")).head.getDouble(0) ==
      (0 until 200).map(_.toDouble).sum)
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ev2 ALTER COLUMN id TYPE STRING")
    }
    assert(e.getMessage.contains("INTEGER -> FLOAT"), e.getMessage)
  }

  test("DROP COLUMN: reads lose it, old objects' extra wire column is ignored, appends emit the narrowed header") {
    val (cat, root, store) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0, 200)
    spark.sql(s"ALTER TABLE $cat.ev2 DROP COLUMN vc")
    assert(spark.table(s"$cat.ev2").columns.toSeq ==
      Seq("id", "tag", "_event_hour"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev2").head.getLong(0) == 200)
    val preKeys = LakeReader.listTableKeys(store, "ev2", None).toSet
    spark.sql(
      s"""INSERT INTO $cat.ev2
         |SELECT id + 1000 AS id, 'n' AS tag,
         |  TIMESTAMP '2024-07-01 09:00:00+00:00' AS _event_hour
         |FROM range(5)""".stripMargin)
    // plain appends land under the write's flushTime hour — find the
    // fresh object by set difference, not by hour
    val newKey = LakeReader.listTableKeys(store, "ev2", None)
      .filterNot(preKeys).head
    assert(LakeReader.peekSchema(store, newKey, "ev2").columnNames ==
      Seq("id", "tag"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev2").head.getLong(0) == 205)
  }

  test("COUNT(*) on an evolved mixed-header table stays metadata-only; column aggregates fall back to the row scan") {
    val (cat, root, _) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0, 300)
    spark.sql(s"ALTER TABLE $cat.ev2 ADD COLUMN score DOUBLE")
    spark.sql(
      s"""INSERT INTO $cat.ev2
         |SELECT id + 1000 AS id, 'n' AS tag, id AS vc, 0.5 AS score,
         |  TIMESTAMP '2024-07-01 09:00:00+00:00' AS _event_hour
         |FROM range(25)""".stripMargin)
    val cnt = spark.sql(s"SELECT count(*) FROM $cat.ev2")
    assert(cnt.queryExecution.executedPlan.toString.contains("graft-lake-agg"),
      s"count(*) must answer from sidecars:\n${cnt.queryExecution.executedPlan}")
    assert(cnt.head.getLong(0) == 325)
    // a column aggregate cannot trust mixed-header sidecars — row scan
    val mx = spark.sql(s"SELECT max(vc) FROM $cat.ev2")
    assert(!mx.queryExecution.executedPlan.toString.contains("graft-lake-agg"),
      "column aggregates refuse the metadata path on evolved tables")
    // base rows carry vc 0..299; inserted rows vc 0..24
    assert(mx.head.getLong(0) == 299)
  }

  test("INSERT OVERWRITE on an evolved table: replacement rows land on the declared header through the versioned commit") {
    val (cat, root, store) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0, 300)
    spark.sql(s"ALTER TABLE $cat.ev2 ADD COLUMN score DOUBLE")
    spark.sql(
      s"""INSERT OVERWRITE $cat.ev2
         |SELECT id, 'ow' AS tag, id AS vc, 1.5 AS score,
         |  TIMESTAMP '2024-07-01 08:00:00+00:00' AS _event_hour
         |FROM range(50)""".stripMargin)
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev2").head.getLong(0) == 50)
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev2 WHERE score = 1.5")
      .head.getLong(0) == 50)
    LakeReader.listTableKeys(store, "ev2", None).foreach { k =>
      assert(LakeReader.peekSchema(store, k, "ev2").columnNames ==
        Seq("id", "tag", "vc", "score"),
        s"overwrite replacement $k must carry the declared header")
    }
    val rec = LakeVersions.head(store, "ev2",
      LakeVersions.listDir(store, "ev2")).get
    assert(rec.op == "overwrite" && rec.removed.nonEmpty)
  }

  test("groupKeysByHeader: the distributed peek fan-out groups identically to the driver walk") {
    val (cat, root, store) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0, 600)   // 3 old-header objects
    spark.sql(s"ALTER TABLE $cat.ev2 ADD COLUMN score DOUBLE")
    spark.sql(
      s"""INSERT INTO $cat.ev2
         |SELECT id + 1000 AS id, 'n' AS tag, id AS vc, 0.5 AS score,
         |  TIMESTAMP '2024-07-01 09:00:00+00:00' AS _event_hour
         |FROM range(30)""".stripMargin)
    val keys = LakeReader.listTableKeys(store, "ev2", None)
    assert(keys.size >= 4)
    val driver = KeyWalk.pinned(KeyWalk.OnDriver)(
      LakeReader.groupKeysByHeader(store, "ev2", keys))
    val dist = KeyWalk.pinned(KeyWalk.OnExecutors(1))(
      LakeReader.groupKeysByHeader(store, "ev2", keys))
    assert(driver.map { case (s, ks) => (s.columns, ks) } ==
      dist.map { case (s, ks) => (s.columns, ks) },
      "executor fan-out must group exactly like the driver walk")
    assert(driver.size == 2, s"two header generations: ${driver.map(_._1)}")
  }

  test("DROP of a bloom-indexed column: DML keeps working — the probed convention narrows to the declared schema") {
    val (cat, root, store) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0, 300) // blooms on tag
    spark.sql(s"ALTER TABLE $cat.ev2 DROP COLUMN tag")
    // pre-fix this THREW: detectPolicy returned bloomColumns=[tag] from
    // the old sidecars and the Tracker refused the dropped column,
    // breaking every COW/MERGE/overwrite statement
    spark.sql(s"UPDATE $cat.ev2 SET vc = -1 WHERE id < 10")
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev2 WHERE vc = -1")
      .head.getLong(0) == 10)
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev2").head.getLong(0) == 300)
    val rec = LakeVersions.head(store, "ev2",
      LakeVersions.listDir(store, "ev2")).get
    rec.added.foreach { k =>
      assert(ZoneMaps.read(store, k).nonEmpty, s"$k keeps zone maps")
      assert(BloomMaps.read(store, k)
        .forall(_.cols.keySet.subsetOf(Set("vc", "id"))),
        s"$k must not bloom-index the dropped column")
    }
  }

  test("re-ADDING a dropped column refuses while live objects still carry it; compact unlocks it and the column reads NULL") {
    val (cat, root, store) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0, 200)
    spark.sql(s"ALTER TABLE $cat.ev2 ADD COLUMN score DOUBLE")
    spark.sql(s"UPDATE $cat.ev2 SET score = 7.5 WHERE id < 50") // objects now carry score
    spark.sql(s"ALTER TABLE $cat.ev2 DROP COLUMN score")
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ev2 ADD COLUMN score DOUBLE")
    }
    assert(e.getMessage.contains("resurrect"), e.getMessage)
    // the remedy: compact migrates every object onto the current header
    spark.sql(s"CALL $cat.system.compact(table => 'ev2', " +
      "target_records => 1000, zone_maps => true)")
    spark.sql(s"ALTER TABLE $cat.ev2 ADD COLUMN score DOUBLE")
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev2 WHERE score IS NULL")
      .head.getLong(0) == 200,
      "the re-added column must read NULL everywhere — never old values")
  }

  test("refusals: NOT NULL add, positioned add, rename, reserved names") {
    val (cat, root, _) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0, 50)
    assert(intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ev2 ADD COLUMN x BIGINT NOT NULL")
    }.getMessage.contains("nullable"))
    assert(intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ev2 ADD COLUMN x BIGINT FIRST")
    }.getMessage.contains("END"))
    assert(intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ev2 RENAME COLUMN tag TO label")
    }.getMessage.toLowerCase.contains("not"))
    assert(intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ev2 ADD COLUMN _row_pos BIGINT")
    }.getMessage.contains("reserved"))
  }

  test("the changes feed and time travel ride through an ALTER: each snapshot reads under its OWN schema version (schema-at-snapshot)") {
    val (cat, root, store) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0, 200)
    spark.sql(s"CALL $cat.system.set_retention(table => 'ev2', retain => true)")
    spark.sql(s"CALL $cat.system.tag(table => 'ev2', name => 'pre-alter')")
    spark.sql(s"ALTER TABLE $cat.ev2 ADD COLUMN score DOUBLE")
    spark.sql(s"UPDATE $cat.ev2 SET score = 3.5 WHERE id < 10")
    // schema-AT-snapshot (r16): the pre-ALTER tag reads under the
    // schema THAT RUN actually saw — no score column, not a null-filled
    // projection of today's declared shape
    val runA = spark.sql(s"SELECT * FROM $cat.ev2 VERSION AS OF 'pre-alter'")
    assert(runA.columns.toSeq == Seq("id", "tag", "vc", "_event_hour"),
      s"a pre-evolution snapshot must show pre-evolution columns, got " +
        runA.columns.mkString(","))
    assert(runA.count() == 200)
    assert(runA.agg(sum("vc")).head.getLong(0) ==
      (0 until 200).map(_.toLong).sum)
    // a POST-alter generation reads under the evolved schema version
    val head = LakeVersions.head(store, "ev2",
      LakeVersions.listDir(store, "ev2")).get
    val runB = spark.sql(
      s"SELECT * FROM $cat.ev2 VERSION AS OF ${head.gen}")
    assert(runB.columns.toSeq == Seq("id", "tag", "vc", "score", "_event_hour"))
    assert(runB.where(col("score") === 3.5).count() == 10)
    // the feed sees exactly the UPDATE's pre/post images; the 190
    // untouched rows null-fill identically on both sides and cancel
    val feed = LakeChanges.since(spark, root, "ev2", "pre-alter")
    assert(feed.where(col("_change_type") === "insert").count() == 10)
    assert(feed.where(col("_change_type") === "delete").count() == 10)
    assert(feed.where(col("_change_type") === "insert" &&
      col("score") === 3.5).count() == 10)
  }

  test("a RUNNING stream adopts post-ALTER objects restart-free: evolved headers resolve by name onto the stream's start-time schema; genuine drift still fails") {
    val (cat, root, store) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0, 200)
    val ckpt = tempDir("graft-evo-ckpt").toFile.getAbsolutePath
    val q = spark.readStream.format("graft-lake").option("table", "ev2")
      .load(root)
      .writeStream.format("memory").queryName("evo_stream")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(spark.table("evo_stream").count() == 200)
      // the table evolves UNDER the running stream; post-ALTER appends
      // carry the declared header (one extra column)
      spark.sql(s"ALTER TABLE $cat.ev2 ADD COLUMN score DOUBLE")
      import spark.implicits._
      (1000 until 1100).map(i => (i.toLong, "new", i.toLong, 2.5d))
        .toDF("id", "tag", "vc", "score")
        .withColumn("_event_hour",
          lit(java.sql.Timestamp.from(Instant.parse("2024-07-01T09:00:00Z"))))
        .createOrReplaceTempView("evo_stream_ins")
      spark.sql(s"INSERT INTO $cat.ev2 SELECT * FROM evo_stream_ins")
      // the stream keeps running: evolved objects resolve by name onto
      // its start-time 3-column schema (score invisible until restart)
      q.processAllAvailable()
      assert(q.isActive, "the stream must survive the first evolved object")
      val got = spark.table("evo_stream")
      assert(got.count() == 300)
      assert(got.where(col("id") >= 1000).agg(sum("vc")).head.getLong(0) ==
        (1000 until 1100).map(_.toLong).sum,
        "evolved objects' shared columns must deliver values, not nulls")
      assert(got.columns.toSeq == Seq("id", "tag", "vc", "_event_hour"),
        "the stream's output shape stays fixed until restart")
    } finally q.stop()

    // genuine drift — a mismatching header on a table with NO declared
    // schema — still fails the stream loudly (adoption requires the
    // schema record)
    val root2 = tempUri("graft-evo-drift")
    land(root2, "2024-07-01T08:00:00Z", 0, 100)
    import spark.implicits._
    LakeWriter.write(
      Seq((9999L, 7.7d)).toDF("id", "other").coalesce(1),
      TableSchema("ev2", Seq("id" -> ColType.CInteger,
        "other" -> ColType.CFloat)),
      root2, Instant.parse("2024-07-01T09:00:00Z"))
    val ckpt2 = tempDir("graft-evo-ckpt2").toFile.getAbsolutePath
    val q2 = spark.readStream.format("graft-lake").option("table", "ev2")
      .load(root2)
      .writeStream.format("memory").queryName("evo_stream_drift")
      .option("checkpointLocation", ckpt2).start()
    try {
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains("schema drift"))),
        s"drift must stay loud, got $e")
    } finally q2.stop()
  }
}
