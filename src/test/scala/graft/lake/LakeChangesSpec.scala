package graft.lake

import graft.SparkSuite
import graft.types.{ColType, TableSchema}

import java.time.Instant

import org.apache.spark.sql.functions._

/** The incremental changes feed ([[LakeChanges]]): row-exact change sets
  * between retained snapshots, read from the OBJECT diff of the
  * generation records — only changed objects open. */
class LakeChangesSpec extends SparkSuite {

  private val schema = TableSchema("ch", Seq(
    "id" -> ColType.CInteger, "tag" -> ColType.CString,
    "v" -> ColType.CFloat))

  private def fixture(): (String, String, HadoopStore) = {
    val root = tempUri("graft-changes-spec")
    val cat = s"chg${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root, new HadoopStore(root))
  }

  private def land(root: String, hour: String, lo: Int, n: Int): Unit = {
    import spark.implicits._
    LakeWriter.write(
      (lo until lo + n).map(i => (i.toLong, s"t${i % 5}", i * 1.0))
        .toDF("id", "tag", "v").orderBy("id").coalesce(1),
      schema, root, Instant.parse(hour), maxRecordsPerObject = 200L,
      zoneMaps = true, bloomColumns = Seq("tag"))
  }

  test("changes since a tag equal the brute-force snapshot diff across DELETE + UPDATE + MERGE + append") {
    val (cat, root, store) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0, 1000)
    land(root, "2024-07-01T09:00:00Z", 1000, 1000)
    spark.sql(s"CALL $cat.system.set_retention(table => 'ch', retain => true)")
    spark.sql(s"CALL $cat.system.tag(table => 'ch', name => 'run-a')")
    // the table moves on: a metadata DELETE, a COW UPDATE, a delta
    // MERGE (update + insert arms), and a plain append
    spark.sql(s"DELETE FROM $cat.ch WHERE tag = 't3'")
    spark.sql(s"UPDATE $cat.ch SET v = v + 1000000 WHERE id < 50 AND tag <> 't3'")
    import spark.implicits._
    ((0L until 20L) ++ (50000L until 50010L)).toDF("sid")
      .createOrReplaceTempView("ch_src")
    spark.sql(
      s"""MERGE INTO $cat.ch t USING ch_src s ON t.id = s.sid
         |WHEN MATCHED THEN UPDATE SET tag = 'merged'
         |WHEN NOT MATCHED THEN INSERT (id, tag, v, _event_hour)
         |  VALUES (s.sid, 'fresh', 0.5, TIMESTAMP '2024-07-01 10:00:00+00:00')
         |""".stripMargin)
    land(root, "2024-07-01T11:00:00Z", 90000, 100)

    val changes = LakeChanges.since(spark, root, "ch", "run-a")

    // brute-force oracle off the INDEPENDENT path: time travel + full
    // current read, exceptAll both ways
    val runA = spark.sql(s"SELECT * FROM $cat.ch VERSION AS OF 'run-a'")
    val now = spark.table(s"$cat.ch")
    val expIns = now.exceptAll(runA).withColumn("_change_type", lit("insert"))
    val expDel = runA.exceptAll(now).withColumn("_change_type", lit("delete"))
    val expect = expIns.unionByName(expDel)
    assert(changes.exceptAll(expect).count() == 0 &&
      expect.exceptAll(changes).count() == 0,
      "the changes feed must equal the full snapshot diff row-for-row")

    // spot semantics: an update is delete(pre) + insert(post).
    // 'fresh' inserts: 10 brand-new ids + 4 RESURRECTED ones (ids
    // 3, 8, 13, 18 were t3 rows the DELETE removed, so the MERGE's
    // NOT MATCHED arm re-inserted them)
    assert(changes.where(col("_change_type") === "insert" &&
      col("tag") === "fresh").count() == 14)
    assert(changes.where(col("_change_type") === "insert" &&
      col("v") >= 1000000).count() == changes.where(
      col("_change_type") === "delete" && col("id") < 50 &&
        col("tag") =!= "t3" && col("tag") =!= "merged").count())
    // deletes carry the t3 rows (2 hours x 200 each)
    assert(changes.where(col("_change_type") === "delete" &&
      col("tag") === "t3").count() == 400)
    // appends arrive as inserts
    assert(changes.where(col("_change_type") === "insert" &&
      col("id") >= 90000).count() == 100)
  }

  test("the feed reads ONLY changed objects: untouched objects contribute zero input bytes") {
    val (cat, root, store) = fixture()
    // ten hours; only ONE will change
    for (h <- 10 to 19) land(root, s"2024-07-01T$h:00:00Z", (h - 10) * 1000, 1000)
    spark.sql(s"CALL $cat.system.set_retention(table => 'ch', retain => true)")
    spark.sql(s"CALL $cat.system.tag(table => 'ch', name => 'pin')")
    // one surgical metadata delete: 3 ids, one hour
    spark.sql(s"DELETE FROM $cat.ch WHERE id IN (3, 7, 11)")

    val (_, full) = graft.Meter.measure(spark) {
      // the file-based read path (the same one the feed's readKeys
      // uses, so the byte meters compare like-for-like; the DSv2
      // connector's custom reader does not report input metrics)
      LakeReader.read(spark, root, "ch").agg(sum("v")).head()
    }
    val (n, feed) = graft.Meter.measure(spark) {
      LakeChanges.since(spark, root, "ch", "pin").count()
    }
    // one object rewritten: its 3 deleted rows survive the cancel,
    // the 197 copied survivors cancel exactly
    assert(n == 3L, s"expected exactly the 3 deleted rows, got $n")
    assert(feed.inputBytes < full.inputBytes / 3,
      s"the feed must read a fraction of the table: " +
        s"feed=${feed.inputBytes} full=${full.inputBytes}")
  }

  test("eq-delete scope prunes by ZONE BAND where blooms cannot: an id-ranged delete over an id-clustered table reads O(containing objects), and the feed stays row-exact") {
    val (cat, root, store) = fixture()
    // five hours, id-clustered 200-row objects — NO bloom exists for
    // `id` (blooms cover `tag` only), so the round-17 bloom prune keeps
    // every in-scope object; the id zone band is what can refute
    for (h <- 10 to 14) land(root, s"2024-07-01T$h:00:00Z", (h - 10) * 1000, 1000)
    spark.sql(s"CALL $cat.system.set_retention(table => 'ch', retain => true)")
    spark.sql(s"CALL $cat.system.tag(table => 'ch', name => 'pin')")
    spark.sql(s"CALL $cat.system.set_dml_mode(table => 'ch', " +
      "mode => 'merge-on-read')")
    // the equality delete: two ids inside ONE object's band (0..199)
    spark.sql(s"DELETE FROM $cat.ch WHERE id IN (3, 7)")
    require(LakeVersions.currentEqdels(store, "ch").nonEmpty,
      "fixture: the delete must take the equality path")
    // the eq-filtered read path is a custom reader (no Spark input
    // metrics), so the prune evidence is STORE RPCs: 25 objects are in
    // the delete's scope, the id band keeps exactly ONE — the feed
    // opens it on both sides plus sidecars/metadata; the bloom-only
    // feed opened all 25 on both sides (≥48 more data-object reads)
    val (n, feed) = graft.Meter.measure(spark) {
      LakeChanges.since(spark, root, "ch", "pin").count()
    }
    assert(n == 2L, s"exactly the two eq-deleted rows, got $n")
    // measured 73 with the band prune; bloom-only re-opens the other
    // 24 objects on both sides (+48 deterministic read RPCs → ~121)
    assert(feed.storeOps < 100,
      s"band pruning must skip the out-of-band objects " +
        s"(bloom-only read all 25 on both sides): storeOps=${feed.storeOps}")
    // and the pruned feed is still row-exact vs the brute snapshot diff
    val changes = LakeChanges.since(spark, root, "ch", "pin")
    val pin = spark.sql(s"SELECT * FROM $cat.ch VERSION AS OF 'pin'")
    val now = spark.table(s"$cat.ch")
    val expect = now.exceptAll(pin).withColumn("_change_type", lit("insert"))
      .unionByName(pin.exceptAll(now).withColumn("_change_type", lit("delete")))
    assert(changes.exceptAll(expect).count() == 0 &&
      expect.exceptAll(changes).count() == 0,
      "the band-pruned feed must equal the full snapshot diff")
  }

  test("between(a, b) bounds both ends; empty diff is an empty, correctly-shaped feed") {
    val (cat, root, store) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0, 500)
    spark.sql(s"CALL $cat.system.set_retention(table => 'ch', retain => true)")
    val g1 = LakeVersions.head(store, "ch",
      LakeVersions.listDir(store, "ch")).get.gen
    spark.sql(s"DELETE FROM $cat.ch WHERE id IN (1, 2)")
    val g2 = g1 + 1
    spark.sql(s"UPDATE $cat.ch SET v = -1 WHERE id = 100")
    // (g1, g2]: exactly the two deletes
    val d12 = LakeChanges.between(spark, root, "ch", g1.toString, g2.toString)
    assert(d12.where(col("_change_type") === "delete").count() == 2)
    assert(d12.where(col("_change_type") === "insert").count() == 0)
    // (g1, g1]: empty but correctly shaped
    val d11 = LakeChanges.between(spark, root, "ch", g1.toString, g1.toString)
    assert(d11.count() == 0)
    assert(d11.columns.contains("_change_type") && d11.columns.contains("id"))
    // from > to refused
    val e = intercept[IllegalArgumentException] {
      LakeChanges.between(spark, root, "ch", g2.toString, g1.toString)
    }
    assert(e.getMessage.contains("must be <="))
  }

  test("CALL lake.system.changes_summary: the feed's counts through plain SQL") {
    val (cat, root, store) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0, 500)
    spark.sql(s"CALL $cat.system.set_retention(table => 'ch', retain => true)")
    spark.sql(s"CALL $cat.system.tag(table => 'ch', name => 'pin')")
    spark.sql(s"DELETE FROM $cat.ch WHERE id IN (1, 2, 3)")
    spark.sql(s"UPDATE $cat.ch SET v = -1 WHERE id IN (10, 11)")
    val r = spark.sql(s"CALL $cat.system.changes_summary(table => 'ch', " +
      "from => 'pin')").head()
    assert(r.getLong(0) == 2 && r.getLong(1) == 5,
      s"2 updated post-images in, 3 deleted + 2 pre-images out: $r")
    // bounded form: (gen pin+1, pin+2] sees only the UPDATE
    val g = LakeVersions.readTag(store, "ch", "pin").get
    val r2 = spark.sql(s"CALL $cat.system.changes_summary(table => 'ch', " +
      s"from => '${g + 1}', to => '${g + 2}')").head()
    assert(r2.getLong(0) == 2 && r2.getLong(1) == 2, s"$r2")
  }

  test("a table whose columns collide with the diff's working names still feeds exactly") {
    import spark.implicits._
    val root = tempUri("graft-changes-collide")
    val cat = s"chc${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    // `_net`, `_net_sign`, `_dup` are LEGAL data column names — the
    // diff's working columns must probe around them
    val sch = TableSchema("cc", Seq("id" -> ColType.CInteger,
      "_net" -> ColType.CInteger, "_net_sign" -> ColType.CString,
      "_dup" -> ColType.CInteger))
    LakeWriter.write(
      (0 until 100).map(i => (i.toLong, i.toLong, s"s$i", i.toLong))
        .toDF("id", "_net", "_net_sign", "_dup").coalesce(1),
      sch, root, Instant.parse("2024-07-01T08:00:00Z"))
    spark.sql(s"CALL $cat.system.set_retention(table => 'cc', retain => true)")
    spark.sql(s"CALL $cat.system.tag(table => 'cc', name => 'pin')")
    spark.sql(s"DELETE FROM $cat.cc WHERE id IN (3, 4)")
    val feed = LakeChanges.since(spark, root, "cc", "pin")
    assert(feed.where(col("_change_type") === "delete").count() == 2)
    assert(feed.where(col("_change_type") === "insert").count() == 0)
    assert(feed.columns.count(_ == "_net") == 1, "no duplicate columns")
  }

  test("without retention the feed refuses loudly with the remedy") {
    val (cat, root, _) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0, 100)
    spark.sql(s"DELETE FROM $cat.ch WHERE id IN (1)")
    val e = intercept[IllegalArgumentException] {
      LakeChanges.since(spark, root, "ch", "1")
    }
    assert(e.getMessage.contains("set_retention"), e.getMessage)
  }
}
