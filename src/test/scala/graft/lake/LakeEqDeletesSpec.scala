package graft.lake

import graft.SparkSuite
import graft.types.{ColType, TableSchema}

import java.time.Instant

import org.apache.spark.sql.functions._

/** EQUALITY DELETES ([[LakeEqDeletes]]) — the O(1)-write GDPR path on
  * merge-on-read tables: `DELETE WHERE user_id = X` writes ONE file and
  * one CAS; every read path subtracts matching rows until compact folds
  * them. The suite pins the write shape (no rewrite, no vectors, one
  * file), the scope rule (post-delete inserts with the same value
  * survive, same-hour included), every read surface, the fold, the
  * backfill refusal, and the protocol races (eqBasis). */
class LakeEqDeletesSpec extends SparkSuite {

  private val schema = TableSchema("ev", Seq(
    "id" -> ColType.CInteger, "uid" -> ColType.CInteger,
    "tag" -> ColType.CString, "v" -> ColType.CFloat))

  private def fixture(): (String, String, HadoopStore) = {
    val root = tempUri("graft-eq-spec")
    val cat = s"eq${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root, new HadoopStore(root))
  }

  /** 4 zone-mapped/bloomed 250-row objects at hour 08: uid = id % 100
    * (each uid appears 10×), id-sorted. */
  private def land(root: String, hour: String = "2024-07-01T08:00:00Z",
                   lo: Int = 0, n: Int = 1000): Seq[String] = {
    import spark.implicits._
    LakeWriter.write(
      (lo until lo + n).map(i => (i.toLong, (i % 100).toLong, s"t${i % 5}", i * 1.0))
        .toDF("id", "uid", "tag", "v").orderBy("id").coalesce(1),
      schema, root, Instant.parse(hour), maxRecordsPerObject = 250L,
      zoneMaps = true, bloomColumns = Seq("uid")).map(_.key)
  }

  private def morOn(cat: String): Unit =
    spark.sql(s"CALL $cat.system.set_dml_mode(table => 'ev', " +
      "mode => 'merge-on-read')").collect()

  private def bytesOf(store: Store, key: String): Array[Byte] = {
    val in = store.open(key)
    try in.readAllBytes() finally in.close()
  }

  test("eq DELETE writes ONE file, rewrites nothing, publishes no vectors; every batch read subtracts") {
    val (cat, root, store) = fixture()
    val keys = land(root)
    morOn(cat)
    val before = keys.map(k => k -> bytesOf(store, k)).toMap
    spark.sql(s"DELETE FROM $cat.ev WHERE uid = 7")
    // write shape: one eq file, zero data-object churn, zero vectors
    assert(store.list(LakeEqDeletes.dir("ev")).size == 1,
      "exactly one equality-delete file")
    assert(LakeVersions.currentDvs(store, "ev").isEmpty, "no vectors")
    keys.foreach(k => assert(bytesOf(store, k).sameElements(before(k)),
      s"$k must be byte-identical (no rewrite)"))
    val eqs = LakeVersions.currentEqdels(store, "ev")
    assert(eqs.size == 1 && eqs.head.col == "uid" && eqs.head.count == 1L)
    // reads: SQL, functional, pruned, aligned
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev WHERE uid = 7")
      .head.getLong(0) == 0L)
    assert(spark.table(s"$cat.ev").count() == 990L)
    assert(LakeReader.read(spark, root, "ev").count() == 990L)
    assert(LakeReader.read(spark, root, "ev")
      .where(col("uid") === 7L).count() == 0L)
    // aggregate pushdown stays EXACT (eq-scoped objects fall back to
    // the filtered row read inside the pushed scan)
    val agg = spark.sql(s"SELECT count(*), min(id), max(id) FROM $cat.ev")
    assert(agg.queryExecution.executedPlan.toString.contains("graft-lake-agg"),
      "aggregate must still push down")
    val r = agg.head
    assert(r.getLong(0) == 990L && r.getLong(1) == 0L && r.getLong(2) == 999L)
    // id 7, 107, ... are gone: min over uid-7 ids confirms row-level
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev WHERE id = 107")
      .head.getLong(0) == 0L)
  }

  test("scope: inserts AFTER the delete with the SAME value survive — same-hour appends included; a second delete re-kills") {
    val (cat, root, store) = fixture()
    land(root)
    morOn(cat)
    spark.sql(s"DELETE FROM $cat.ev WHERE uid = 3")
    assert(spark.table(s"$cat.ev").where(col("uid") === 3L).count() == 0L)
    // a fresh append lands in the CURRENT wall-clock hour — above (or
    // at, but outside the frozen boundary of) the delete's watermark
    import spark.implicits._
    LakeWriter.write(
      Seq((5000L, 3L, "resurrect", 1.0)).toDF("id", "uid", "tag", "v"),
      schema, root)
    assert(spark.table(s"$cat.ev").where(col("uid") === 3L).count() == 1L,
      "post-delete inserts with the deleted value must SURVIVE")
    assert(spark.table(s"$cat.ev").count() == 991L)
    // deleting again kills the new row too (new watermark, new boundary)
    spark.sql(s"DELETE FROM $cat.ev WHERE uid = 3")
    assert(spark.table(s"$cat.ev").where(col("uid") === 3L).count() == 0L)
    assert(LakeVersions.currentEqdels(store, "ev").size == 2,
      "the list accumulates")
  }

  test("NULL values never match; IN-lists and string columns work; FLOAT falls to the exact rewrite; multi-column conjunctions take the eq path") {
    val (cat, root, store) = fixture()
    land(root)
    // rows with NULL uid (empty wire field)
    import spark.implicits._
    LakeWriter.write(
      Seq((6000L, null.asInstanceOf[java.lang.Long], "nullrow", 0.5),
          (6001L, java.lang.Long.valueOf(42L), "x", 0.5))
        .toDF("id", "uid", "tag", "v"),
      schema, root, Instant.parse("2024-07-01T09:00:00Z"))
    morOn(cat)
    spark.sql(s"DELETE FROM $cat.ev WHERE uid IN (42, 43)")
    assert(store.list(LakeEqDeletes.dir("ev")).size == 1)
    assert(spark.table(s"$cat.ev").where(col("uid").isNull).count() == 1L,
      "NULL rows survive an equality delete")
    assert(spark.table(s"$cat.ev").where(col("uid").isin(42L, 43L)).count() == 0L)
    // string column
    spark.sql(s"DELETE FROM $cat.ev WHERE tag = 'nullrow'")
    assert(spark.table(s"$cat.ev").where(col("tag") === "nullrow").count() == 0L)
    assert(store.list(LakeEqDeletes.dir("ev")).size == 2)
    // FLOAT equality: ineligible — exact rewrite, no third file
    spark.sql(s"DELETE FROM $cat.ev WHERE v = 500.0")
    assert(store.list(LakeEqDeletes.dir("ev")).size == 2,
      "float equality must not take the eq path")
    assert(spark.table(s"$cat.ev").where(col("v") === 500.0).count() == 0L)
    // multi-column conjunction: first-class since r18 — ONE v2 file
    spark.sql(s"DELETE FROM $cat.ev WHERE uid = 11 AND tag = 't1'")
    assert(store.list(LakeEqDeletes.dir("ev")).size == 3,
      "a conjunction over eligible columns takes the eq path")
    assert(spark.table(s"$cat.ev")
      .where(col("uid") === 11L && col("tag") === "t1").count() == 0L)
    // FLOAT in the conjunction poisons eligibility: exact rewrite
    spark.sql(s"DELETE FROM $cat.ev WHERE uid = 12 AND v = 212.0")
    assert(store.list(LakeEqDeletes.dir("ev")).size == 3,
      "a conjunction with an ineligible column must not take the eq path")
    assert(spark.table(s"$cat.ev")
      .where(col("uid") === 12L && col("v") === 212.0).count() == 0L)
  }

  test("MULTI-COLUMN conjunction is tuple-exact: only rows matching EVERY column die, one O(1) v2 file, scope + feed + fold hold") {
    val (cat, root, store) = fixture()
    // tag varies WITHIN each uid (id/100 decouples it from id%100):
    // uid 12 appears 10x with tags t0..t4 — the conjunction kills only
    // the (12, t3) pair, 2 rows, never the whole uid
    import spark.implicits._
    val keys = LakeWriter.write(
      (0 until 1000).map(i =>
        (i.toLong, (i % 100).toLong, s"t${(i / 100) % 5}", i * 1.0))
        .toDF("id", "uid", "tag", "v").orderBy("id").coalesce(1),
      schema, root, Instant.parse("2024-07-01T08:00:00Z"),
      maxRecordsPerObject = 250L, zoneMaps = true,
      bloomColumns = Seq("uid", "tag")).map(_.key)
    spark.sql(s"CALL $cat.system.set_retention(table => 'ev', retain => true)")
    morOn(cat)
    spark.sql(s"CALL $cat.system.tag(table => 'ev', name => 'pre')")
    val before = keys.map(k => k -> bytesOf(store, k)).toMap
    spark.sql(s"DELETE FROM $cat.ev WHERE uid = 12 AND tag = 't3'")
    // O(1) write shape: one v2 file, no vectors, no data churn
    assert(store.list(LakeEqDeletes.dir("ev")).size == 1)
    assert(LakeVersions.currentDvs(store, "ev").isEmpty)
    keys.foreach(k => assert(bytesOf(store, k).sameElements(before(k))))
    val eq = LakeVersions.currentEqdels(store, "ev").head
    assert(eq.col == "uid,tag" && eq.cols == Seq("uid", "tag") &&
      eq.count == 2L)
    // tuple-exact: 2 rows die; the uid's other 8 and the tag's other
    // 198 survive
    assert(spark.table(s"$cat.ev").count() == 998L)
    assert(spark.table(s"$cat.ev").where(col("uid") === 12L).count() == 8L)
    assert(spark.table(s"$cat.ev").where(col("tag") === "t3").count() == 198L)
    assert(LakeReader.read(spark, root, "ev")
      .where(col("uid") === 12L && col("tag") === "t3").count() == 0L)
    // the feed across the delete emits exactly the 2 dead rows (the
    // conjunction bloom-prune: every column must might-match)
    val feed = LakeChanges.since(spark, root, "ev", "pre")
    assert(feed.count() == 2L &&
      feed.where(col(LakeChanges.ChangeTypeCol) === "delete").count() == 2L)
    // scope: a post-delete insert of the SAME tuple survives
    Seq((9999L, 12L, "t3", 0.0)).toDF("id", "uid", "tag", "v")
      .withColumn("_event_hour",
        lit(java.sql.Timestamp.from(Instant.parse("2024-07-01T08:00:00Z"))))
      .coalesce(1)
      .write.format("graft-lake").option("table", "ev")
      .mode("append").save(root)
    assert(spark.table(s"$cat.ev")
      .where(col("uid") === 12L && col("tag") === "t3").count() == 1L,
      "a same-tuple insert AFTER the delete must survive")
    // compact folds the conjunction and drops the list
    spark.sql(s"CALL $cat.system.compact(table => 'ev', " +
      "target_records => 2000)").collect()
    assert(LakeVersions.currentEqdels(store, "ev").isEmpty)
    assert(spark.table(s"$cat.ev").count() == 999L)
    assert(spark.table(s"$cat.ev")
      .where(col("uid") === 12L && col("tag") === "t3").count() == 1L)
  }

  test("stream × eq: undelivered objects deliver filtered; post-delete appends flow; glob stream refuses") {
    val (cat, root, _) = fixture()
    land(root)
    morOn(cat)
    // delete BEFORE first delivery: the stream must never emit the rows
    spark.sql(s"DELETE FROM $cat.ev WHERE uid = 9")
    val ckpt = tempDir("graft-eq-ckpt").toFile.getAbsolutePath
    spark.catalog.dropTempView("eq_stream")
    val q = spark.readStream.format("graft-lake").option("table", "ev")
      .load(root)
      .writeStream.format("memory").queryName("eq_stream")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(spark.table("eq_stream").count() == 990L,
        "pre-delivery equality deletes must subtract")
      assert(spark.table("eq_stream").where(col("uid") === 9L).count() == 0L)
      // post-delete append with the same value flows (out of scope)
      import spark.implicits._
      LakeWriter.write(
        Seq((7000L, 9L, "new", 2.0)).toDF("id", "uid", "tag", "v"),
        schema, root)
      q.processAllAvailable()
      assert(spark.table("eq_stream").where(col("uid") === 9L).count() == 1L)
    } finally q.stop()
    val e = intercept[IllegalArgumentException] {
      LakeReader.readStreamOf(spark, root, "ev", schema)
    }
    assert(e.getMessage.contains("equality"))
  }

  test("the glob stream's per-trigger guard catches an equality delete landing MID-STREAM (the eq arm of the r19 tripwire)") {
    val (cat, root, _) = fixture()
    land(root)
    val was = GuardedLakeFs.probeMemoMs
    GuardedLakeFs.probeMemoMs = 0L
    val ckpt = tempDir("graft-eq-guard-ckpt").toFile.getAbsolutePath
    val q = LakeReader.readStreamOf(spark, root, "ev", schema)
      .writeStream.option("checkpointLocation", ckpt)
      .format("noop").start()
    try {
      q.processAllAvailable()
      morOn(cat)
      spark.sql(s"DELETE FROM $cat.ev WHERE uid = 9") // one eq file + CAS
      val e = intercept[Exception] { q.processAllAvailable() }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      assert(msgs.contains("EQUALITY DELETE") && msgs.contains("graft-lake"),
        s"the failure names the equality delete and the remedy: $msgs")
    } finally {
      GuardedLakeFs.probeMemoMs = was
      try q.stop() catch { case _: Exception => () }
    }
  }

  test("time travel reads each generation under its OWN eq state; the changes feed emits the deleted rows") {
    val (cat, root, store) = fixture()
    land(root)
    spark.sql(s"CALL $cat.system.set_retention(table => 'ev', retain => true)")
    morOn(cat)
    spark.sql(s"CALL $cat.system.tag(table => 'ev', name => 'before')")
    spark.sql(s"DELETE FROM $cat.ev WHERE uid = 5")
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev VERSION AS OF 'before'")
      .head.getLong(0) == 1000L,
      "the pre-delete snapshot must see every row")
    assert(spark.table(s"$cat.ev").count() == 990L)
    // the feed across the delete emits exactly the 10 dead rows
    val feed = LakeChanges.since(spark, root, "ev", "before")
    assert(feed.count() == 10L, s"feed must carry the deleted rows")
    assert(feed.where(col(LakeChanges.ChangeTypeCol) === "delete")
      .count() == 10L)
    assert(feed.where(col("uid") === 5L).count() == 10L)
  }

  test("the changes feed bloom-prunes the eq scope: only objects that might contain the deleted values are read") {
    // uid = id here, id-sorted 250-row objects → DISJOINT uid ranges per
    // object, so the uid bloom REFUTES 3 of 4 objects for a delete of
    // uids 10,11 (object 0's range) — the feed must read ~1 object per
    // side, not the whole scope
    val (cat, root, store) = fixture()
    import spark.implicits._
    LakeWriter.write(
      (0 until 1000).map(i => (i.toLong, i.toLong, s"t${i % 5}", i * 1.0))
        .toDF("id", "uid", "tag", "v").orderBy("id").coalesce(1),
      schema, root, Instant.parse("2024-07-01T08:00:00Z"),
      maxRecordsPerObject = 250L, zoneMaps = true, bloomColumns = Seq("uid"))
    spark.sql(s"CALL $cat.system.set_retention(table => 'ev', retain => true)")
    morOn(cat)
    spark.sql(s"CALL $cat.system.tag(table => 'ev', name => 'pre')")
    spark.sql(s"DELETE FROM $cat.ev WHERE uid IN (10, 11)")
    val objBytes = LakeReader.listTableKeys(store, "ev", None).map { k =>
      val in = store.open(k); try in.readAllBytes().length.toLong
      finally in.close()
    }
    val (feedRows, m) = graft.Meter.measure(spark) {
      LakeChanges.since(spark, root, "ev", "pre").collect()
    }
    assert(feedRows.length == 2 && feedRows.forall(r =>
      r.getAs[String](LakeChanges.ChangeTypeCol) == "delete"))
    // pruned: ~2 object-side reads (object 0 on each side), not 8 —
    // bound at half the unpruned cost with headroom for codec framing
    assert(m.inputBytes < objBytes.sum,
      s"the feed must bloom-prune the eq scope: read ${m.inputBytes} " +
        s"of ${2 * objBytes.sum} unpruned bytes")
  }

  test("compact folds the filters into clean objects and drops the list; the janitor reclaims the file") {
    val (cat, root, store) = fixture()
    land(root)
    morOn(cat)
    spark.sql(s"DELETE FROM $cat.ev WHERE uid = 1")
    spark.sql(s"DELETE FROM $cat.ev WHERE uid = 2")
    val expect = spark.sql(s"SELECT CAST(sum(v) AS BIGINT), count(*) FROM $cat.ev").head
    spark.sql(s"CALL $cat.system.compact(table => 'ev')").collect()
    assert(LakeVersions.currentEqdels(store, "ev").isEmpty,
      "a full compact folds and drops the equality deletes")
    val got = spark.sql(s"SELECT CAST(sum(v) AS BIGINT), count(*) FROM $cat.ev").head
    assert(got == expect, s"fold must preserve rows: $got vs $expect")
    LakeMaintenance.sweepStaging(store,
      java.time.Instant.now().plusSeconds(3600))
    assert(store.list(LakeEqDeletes.dir("ev")).isEmpty,
      "the janitor reclaims folded eq-delete files")
    // post-fold, backfills are unblocked
    import spark.implicits._
    LakeWriter.write(Seq((8000L, 1L, "bf", 3.0)).toDF("id", "uid", "tag", "v"),
      schema, root, Instant.parse("2024-07-01T07:00:00Z"))
    assert(spark.table(s"$cat.ev").where(col("id") === 8000L).count() == 1L)
  }

  test("backfill refusal: a direct write below a live delete's watermark refuses loudly; INSERT OVERWRITE of a covered hour refuses; full overwrite folds") {
    val (cat, root, store) = fixture()
    land(root)
    morOn(cat)
    spark.sql(s"DELETE FROM $cat.ev WHERE uid = 4")
    import spark.implicits._
    val e = intercept[IllegalArgumentException] {
      LakeWriter.write(
        Seq((9000L, 50L, "bf", 1.0)).toDF("id", "uid", "tag", "v"),
        schema, root, Instant.parse("2024-07-01T07:00:00Z"))
    }
    assert(e.getMessage.contains("equality delete"), e.getMessage)
    // an hour-scoped replaceWhere landing INSIDE the covered scope
    // refuses the same way (its repaired rows would be wrongly matched)
    val ts8 = java.sql.Timestamp.from(Instant.parse("2024-07-01T08:00:00Z"))
    val e2 = intercept[Exception] {
      Seq((9001L, 50L, "re", 1.0)).toDF("id", "uid", "tag", "v")
        .withColumn("_event_hour", lit(ts8))
        .writeTo(s"$cat.ev").overwrite(col("_event_hour") === lit(ts8))
    }
    assert(e2.getMessage != null && e2.getMessage.contains("equality"),
      s"covered-hour overwrite must refuse: ${e2.getMessage}")
    // a FULL overwrite replaces everything — the commit drops the list
    Seq((1L, 4L, "fresh", 1.0)).toDF("id", "uid", "tag", "v")
      .withColumn("_event_hour",
        lit(java.sql.Timestamp.from(Instant.parse("2024-07-01T06:00:00Z"))))
      .write.format("graft-lake").option("table", "ev")
      .mode("overwrite").save(root)
    assert(LakeVersions.currentEqdels(store, "ev").isEmpty,
      "overwrite-all folds the equality deletes")
    assert(spark.table(s"$cat.ev").count() == 1L)
    assert(spark.table(s"$cat.ev").where(col("uid") === 4L).count() == 1L,
      "the replacement rows are NEW data, never filtered")
  }

  test("protocol: a racing equality DELETE aborts a rewrite via eqBasis; a pre-CAS eq file is intent-covered against sweeps") {
    val (cat, root, store) = fixture()
    land(root)
    morOn(cat)
    // eqBasis drift: a commit claiming it scanned under an empty list
    // after an eq-delete landed must abort
    spark.sql(s"DELETE FROM $cat.ev WHERE uid = 6")
    val e = intercept[LakeVersions.LakeConcurrentModificationException] {
      LakeVersions.commit(store, "ev", op = "update",
        removed = Nil, eqBasis = Some(Nil))
    }
    assert(e.getMessage.contains("equality-delete"))
    // matching basis commits fine
    LakeVersions.commit(store, "ev", op = "update", removed = Nil,
      eqBasis = Some(LakeVersions.currentEqdels(store, "ev").map(_.key)))
    // a LIVE statement's pre-CAS eq file (fresh intent, fresh file)
    // survives a janitor run at a realistic hours-old cutoff…
    val pending = LakeEqDeletes.freshKey("ev")
    LakeVersions.writeIntent(store, "ev", "eq-mid", Seq(pending))
    LakeEqDeletes.write(store, pending, "ev", Seq("uid" -> Seq("77")),
      "2024/07/01/08", Nil)
    LakeMaintenance.sweepStaging(store,
      java.time.Instant.now().minusSeconds(3600))
    assert(store.exists(pending),
      "a live statement's intent-covered pre-CAS eq file must survive")
    // …and a CRASHED statement's (old enough, never committed) sweeps
    // together with its intent — crash cleanup, not a leak
    LakeMaintenance.sweepStaging(store,
      java.time.Instant.now().plusSeconds(3600))
    assert(!store.exists(pending) &&
      LakeVersions.readIntent(store, "ev", "eq-mid").isEmpty,
      "a crashed pre-CAS eq publish is swept with its intent")
  }
}
