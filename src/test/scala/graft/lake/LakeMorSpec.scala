package graft.lake

import graft.SparkSuite
import graft.types.{ColType, TableSchema}

import java.time.Instant

import org.apache.spark.sql.functions._

/** MERGE-ON-READ position deletes ([[LakeDvs]], the MOR half of the DML
  * surface): with `CALL lake.system.set_dml_mode(t, 'merge-on-read')`,
  * row-level SQL publishes delete VECTORS + fresh objects for changed
  * rows instead of rewriting touched objects — O(changed rows) writes —
  * and every read path subtracts the vectors until `compact` folds
  * them. The suite pins the write shape (no rewrite, plan gates), every
  * read surface (connector, functional, pruned, aggregate pushdown,
  * stream, time travel, changes feed), the fold, and the concurrency
  * protocol (vector basis CAS). */
class LakeMorSpec extends SparkSuite {

  private val schema = TableSchema("ev", Seq(
    "id" -> ColType.CInteger, "tag" -> ColType.CString,
    "v" -> ColType.CFloat))

  private def fixture(): (String, String, HadoopStore) = {
    val root = tempUri("graft-mor-spec")
    val cat = s"mor${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root, new HadoopStore(root))
  }

  /** 4 bloomed/zone-mapped 250-row objects: ids/v 0..999, id-sorted so
    * object 0 holds v in [0,250) exactly. */
  private def land(root: String, hour: String = "2024-07-01T08:00:00Z",
                   lo: Int = 0, n: Int = 1000): Seq[String] = {
    import spark.implicits._
    LakeWriter.write(
      (lo until lo + n).map(i => (i.toLong, s"t${i % 5}", i * 1.0))
        .toDF("id", "tag", "v").orderBy("id").coalesce(1),
      schema, root, Instant.parse(hour), maxRecordsPerObject = 250L,
      zoneMaps = true, bloomColumns = Seq("tag")).map(_.key)
  }

  private def morOn(cat: String): Unit =
    spark.sql(s"CALL $cat.system.set_dml_mode(table => 'ev', " +
      "mode => 'merge-on-read')").collect()

  private def bytesOf(store: Store, key: String): Array[Byte] = {
    val in = store.open(key)
    try in.readAllBytes() finally in.close()
  }

  private def keysOf(store: Store) = LakeReader.listTableKeys(store, "ev", None)

  // ------------------------------------------------------------ vectors

  test("LakeDvs: write/read round-trip, strict failures, union merge") {
    val (_, root, store) = fixture()
    val key = LakeDvs.freshKey("ev")
    LakeDvs.write(store, key, "ev", "2024/07/01/08/ev/x.csv.gz",
      Array(0L, 5L, 9L))
    assert(LakeDvs.read(store, key, "ev", "2024/07/01/08/ev/x.csv.gz")
      .sameElements(Array(0L, 5L, 9L)))
    // wrong object cross-check is loud
    intercept[IllegalArgumentException] {
      LakeDvs.read(store, key, "ev", "2024/07/01/08/ev/OTHER.csv.gz")
    }
    // an absent referenced vector is loud — never a silent empty set
    intercept[IllegalStateException] {
      LakeDvs.read(store, LakeDvs.freshKey("ev"), "ev", "whatever")
    }
    // descending positions refuse at write time
    intercept[IllegalArgumentException] {
      LakeDvs.write(store, LakeDvs.freshKey("ev"), "ev", "k", Array(3L, 2L))
    }
    assert(LakeDvs.merge(Array(1L, 4L, 7L), Array(2L, 4L, 9L))
      .sameElements(Array(1L, 2L, 4L, 7L, 9L)))
    assert(LakeDvs.merge(Array.emptyLongArray, Array(2L)).sameElements(Array(2L)))
  }

  test("generation records round-trip the dv map and sources; pre-dv records (no optional sections) still parse") {
    val (_, _, store) = fixture()
    land(store.rootUri)
    val rec = LakeVersions.commit(store, "ev", op = "delete", removed = Nil,
      sources = Seq("2024/07/01/08/ev/s1.csv.gz"),
      dvUpserts = Map("2024/07/01/08/ev/a.csv.gz" ->
        LakeVersions.DvUpsert(None, LakeVersions.DvRef("_dv/ev/v1.dv.gz", 7L))),
      validateLive = true)
    val back = LakeVersions.readRecord(store, "ev", rec.gen).get
    assert(back.dvs == Map("2024/07/01/08/ev/a.csv.gz" ->
      LakeVersions.DvRef("_dv/ev/v1.dv.gz", 7L)))
    assert(back.sources == Seq("2024/07/01/08/ev/s1.csv.gz"))
    // a dv-free commit writes NO optional sections (byte-compatible with
    // pre-dv records) and still parses, carrying the map forward
    val rec2 = LakeVersions.commit(store, "ev", op = "prune", removed = Nil,
      validateLive = false)
    val back2 = LakeVersions.readRecord(store, "ev", rec2.gen).get
    assert(back2.dvs == back.dvs && back2.sources.isEmpty)
  }

  // ----------------------------------------------------------- SQL DML

  test("MOR DELETE publishes vectors, rewrites NOTHING: WriteDelta plan, objects byte-identical, every read path subtracts") {
    val (cat, root, store) = fixture()
    land(root)
    morOn(cat)
    val before = keysOf(store).map(k => k -> bytesOf(store, k)).toMap

    val d = spark.sql(s"DELETE FROM $cat.ev WHERE v < 100.0")
    val plan = d.queryExecution.executedPlan.toString
    assert(plan.contains("WriteDelta") && !plan.contains("ReplaceData"),
      s"a MOR delete must take the delta path:\n$plan")

    // no object rewritten, none removed, none added
    assert(keysOf(store).toSet == before.keySet)
    before.foreach { case (k, b) =>
      assert(bytesOf(store, k).sameElements(b),
        s"MOR must not rewrite $k") }
    val head = LakeVersions.currentDvs(store, "ev")
    assert(head.values.map(_.count).sum == 100L,
      s"vector counts must total the deleted rows, got $head")
    val rec = LakeVersions.readRecord(store, "ev",
      LakeVersions.listDir(store, "ev").gens.max).get
    assert(rec.removed.isEmpty && rec.added.isEmpty && rec.inserted.isEmpty)

    // connector read, functional read, filter pushdown all subtract
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev").head.getLong(0) == 900L)
    assert(spark.sql(s"SELECT sum(v) FROM $cat.ev").head.getDouble(0) ==
      (100 until 1000).map(_.toDouble).sum)
    assert(LakeReader.read(spark, root, "ev").count() == 900L)
    assert(LakeReader.read(spark, root, "ev")
      .agg(min("v")).head.getDouble(0) == 100.0)
    // the vectored object still serves its live rows under a filter
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev WHERE v < 250.0")
      .head.getLong(0) == 150L)
  }

  test("a second MOR DELETE merges vectors (union) and supersedes the old vector file") {
    val (cat, root, store) = fixture()
    land(root)
    morOn(cat)
    spark.sql(s"DELETE FROM $cat.ev WHERE v < 100.0")
    val dv1 = LakeVersions.currentDvs(store, "ev")
    spark.sql(s"DELETE FROM $cat.ev WHERE v >= 100.0 AND v < 150.0")
    val dv2 = LakeVersions.currentDvs(store, "ev")
    assert(dv2.values.map(_.count).sum == 150L)
    // the touched object's vector was superseded: same object, new file.
    // The old file SURVIVES the commit (round 17: an inline delete would
    // fail a concurrent scan planned under the old mapping — LakeDvs.read
    // is loud on a missing referenced vector) and is reclaimed by the
    // age-gated janitor sweep instead, the tombstone-grace posture.
    val obj = dv1.keys.head
    assert(dv2(obj).key != dv1(obj).key)
    assert(store.exists(dv1(obj).key),
      "the superseded vector must survive the commit (scan grace window)")
    val r = LakeMaintenance.sweepStaging(store,
      java.time.Instant.now().plusSeconds(3600))
    assert(!store.exists(dv1(obj).key),
      s"the age-gated sweep must reclaim the superseded vector ($r)")
    assert(store.exists(dv2(obj).key),
      "the referenced head vector must never be swept")
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev").head.getLong(0) == 850L)
    assert(spark.sql(s"SELECT min(v) FROM $cat.ev").head.getDouble(0) == 150.0)
  }

  test("a MOR DELETE covering EVERY row of an object retires it wholesale — no vector the size of its object") {
    val (cat, root, store) = fixture()
    land(root)
    morOn(cat)
    val before = keysOf(store).sorted
    // v < 250 kills object 0 (ids 0..249) COMPLETELY
    spark.sql(s"DELETE FROM $cat.ev WHERE v < 250.0")
    val after = keysOf(store).sorted
    assert(after.size == before.size - 1,
      s"the fully-dead object must retire: $before -> $after")
    val gone = (before.toSet -- after.toSet).head
    assert(!store.exists(gone), "retired object must be physically gone")
    assert(LakeVersions.currentDvs(store, "ev").isEmpty,
      "a wholesale retire needs no vector")
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev").head.getLong(0) == 750L)
  }

  test("MOR UPDATE: old positions vector, new rows land as fresh objects under their own hour, provenance recorded for CDC") {
    val (cat, root, store) = fixture()
    land(root)
    morOn(cat)
    val before = keysOf(store).map(k => k -> bytesOf(store, k)).toMap

    val u = spark.sql(s"UPDATE $cat.ev SET v = v + 1000000 WHERE tag = 't3'")
    val plan = u.queryExecution.executedPlan.toString
    assert(plan.contains("WriteDelta") && !plan.contains("ReplaceData"),
      s"a MOR update must take the delta path:\n$plan")

    // originals untouched; fresh update-row objects appended
    before.foreach { case (k, b) =>
      assert(store.exists(k) && bytesOf(store, k).sameElements(b),
        s"MOR must not rewrite $k") }
    val rec = LakeVersions.readRecord(store, "ev",
      LakeVersions.listDir(store, "ev").gens.max).get
    assert(rec.added.nonEmpty && rec.removed.isEmpty && rec.inserted.isEmpty)
    assert(rec.sources.toSet == rec.dvs.keySet,
      "update-row provenance must name the vectored sources")
    assert(rec.dvs.values.map(_.count).sum == 200L) // 1000/5 = 200 t3 rows
    // updated rows stay under their original hour (no explicit hour SET)
    assert(rec.added.forall(_.startsWith("2024/07/01/08/")),
      s"updated rows must keep their hour: ${rec.added}")

    assert(spark.sql(s"SELECT count(*) FROM $cat.ev").head.getLong(0) == 1000L)
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.ev WHERE v >= 1000000").head.getLong(0) == 200L)
    val expect = (0 until 1000)
      .map(i => if (i % 5 == 3) i + 1000000.0 else i * 1.0).sum
    assert(spark.sql(s"SELECT sum(v) FROM $cat.ev").head.getDouble(0) == expect)
  }

  test("MOR UPDATE with SET _event_hour is an explicit hour MOVE: fresh rows land under the NEW hour, old positions vector in place") {
    val (cat, root, store) = fixture()
    land(root)
    morOn(cat)
    spark.sql(s"UPDATE $cat.ev SET _event_hour = " +
      "TIMESTAMP '2024-07-01 11:00:00+00:00' WHERE id < 20")
    val rec = LakeVersions.readRecord(store, "ev",
      LakeVersions.listDir(store, "ev").gens.max).get
    assert(rec.added.nonEmpty && rec.added.forall(_.startsWith("2024/07/01/11/")),
      s"moved rows must land under the target hour: ${rec.added}")
    assert(rec.dvs.values.map(_.count).sum == 20L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev").head.getLong(0) == 1000L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev WHERE _event_hour = " +
      "TIMESTAMP '2024-07-01 11:00:00+00:00'").head.getLong(0) == 20L)
    assert(spark.sql(s"SELECT sum(v) FROM $cat.ev").head.getDouble(0) ==
      (0 until 1000).map(_.toDouble).sum, "values ride the move unchanged")
  }

  test("MOR MERGE: matched updates vector + fresh rows, NOT MATCHED inserts record `inserted`") {
    val (cat, root, store) = fixture()
    land(root)
    morOn(cat)
    import spark.implicits._
    (990L until 1010L).toDF("sid").createOrReplaceTempView("mor_merge_src")
    spark.sql(
      s"""MERGE INTO $cat.ev t USING mor_merge_src s ON t.id = s.sid
         |WHEN MATCHED THEN UPDATE SET v = -1
         |WHEN NOT MATCHED THEN INSERT (id, tag, v, _event_hour)
         |  VALUES (s.sid, 'new', -2,
         |    TIMESTAMP '2024-07-01 09:00:00+00:00')""".stripMargin)
    val rec = LakeVersions.readRecord(store, "ev",
      LakeVersions.listDir(store, "ev").gens.max).get
    assert(rec.added.nonEmpty && rec.inserted.nonEmpty && rec.removed.isEmpty)
    assert(rec.inserted.forall(_.startsWith("2024/07/01/09/")))
    assert(rec.dvs.values.map(_.count).sum == 10L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev").head.getLong(0) == 1010L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev WHERE v = -1")
      .head.getLong(0) == 10L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev WHERE v = -2")
      .head.getLong(0) == 10L)
  }

  test("the exactly-translatable metadata DELETE path is unaffected by MOR mode: whole objects retire, no vectors") {
    val (cat, root, store) = fixture()
    land(root)
    morOn(cat)
    val d = spark.sql(s"DELETE FROM $cat.ev WHERE tag = 't3'")
    val plan = d.queryExecution.executedPlan.toString
    assert(plan.contains("DeleteFromTable") && !plan.contains("WriteDelta"),
      s"probe deletes stay metadata-path in MOR mode too:\n$plan")
    assert(LakeVersions.currentDvs(store, "ev").isEmpty)
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev").head.getLong(0) == 800L)
  }

  // ------------------------------------------------------- maintenance

  test("compact folds vectors: clean objects, empty dv map, vector files reclaimed, rows exact") {
    val (cat, root, store) = fixture()
    land(root)
    morOn(cat)
    spark.sql(s"DELETE FROM $cat.ev WHERE v < 100.0")
    spark.sql(s"UPDATE $cat.ev SET v = v + 0.5 WHERE tag = 't4'")
    val expect = spark.sql(s"SELECT sum(v), count(*) FROM $cat.ev").head
    spark.sql(s"CALL $cat.system.compact(table => 'ev')").collect()
    assert(LakeVersions.currentDvs(store, "ev").isEmpty,
      "compaction must fold every vector")
    // folded vector files survive the commit (scan grace window, round
    // 17) and reclaim via the age-gated janitor sweep
    assert(store.list(LakeDvs.dir("ev")).nonEmpty,
      "folded vectors linger unreferenced until swept")
    LakeMaintenance.sweepStaging(store,
      java.time.Instant.now().plusSeconds(3600))
    assert(store.list(LakeDvs.dir("ev")).isEmpty,
      "the janitor reclaims folded vector files on an unretained table")
    val got = spark.sql(s"SELECT sum(v), count(*) FROM $cat.ev").head
    assert(got == expect, s"fold must preserve rows: $got vs $expect")
    // and the compacted table serves the same functional read
    assert(LakeReader.read(spark, root, "ev").count() == expect.getLong(1))
  }

  test("aggregate pushdown stays EXACT on a vectored table: COUNT(*) metadata-only (records − vector count), MIN/MAX read vector-applied rows") {
    val (cat, root, store) = fixture()
    land(root)
    morOn(cat)
    spark.sql(s"DELETE FROM $cat.ev WHERE v < 100.0") // kills the old min
    val q = spark.sql(s"SELECT count(*), min(v), max(v) FROM $cat.ev")
    assert(q.queryExecution.executedPlan.toString.contains("graft-lake-agg"),
      "the aggregate must still push down")
    val r = q.head
    assert(r.getLong(0) == 900L && r.getDouble(1) == 100.0 &&
      r.getDouble(2) == 999.0)
    // count-only stays metadata-only even on the vectored object: prove
    // it answers right when the DATA is unreadable but sidecars+vector
    // counts remain (the metadata-only witness)
    val c = spark.sql(s"SELECT count(*) FROM $cat.ev")
    assert(c.queryExecution.executedPlan.toString.contains("graft-lake-agg"))
    assert(c.head.getLong(0) == 900L)
  }

  test("statsByHourHybrid on a vectored table: the vectored hour demotes to an exact SCAN (vector-applied), clean hours stay metadata") {
    val (cat, root, _) = fixture()
    land(root) // h8
    land(root, "2024-07-01T09:00:00Z", 2000, 400) // h9, clean
    morOn(cat)
    spark.sql(s"DELETE FROM $cat.ev WHERE v < 100.0") // vectors h8 only
    val byHour = LakeReader.statsByHourHybrid(spark, root, "ev")
    assert(byHour.size == 2)
    val (h8, h9) = (byHour.head, byHour(1))
    assert(!h8._3, "the vectored hour must come from a scan")
    assert(h9._3, "the clean hour stays metadata-only")
    assert(h8._2.records == 900L && h9._2.records == 400L)
    assert(h8._2.cols("v").min.get.doubleValue() == 100.0)
  }

  test("pruned reads and pushed LIMIT subtract vectors") {
    val (cat, root, _) = fixture()
    land(root)
    morOn(cat)
    spark.sql(s"DELETE FROM $cat.ev WHERE v < 100.0")
    val (df, _) = LakeReader.readPrunedEq(spark, root, "ev", "tag", "t1")
    assert(df.where(col("tag") === "t1").count() == 180L) // 200 − 20 deleted
    assert(spark.sql(s"SELECT id FROM $cat.ev LIMIT 950").count() == 900L,
      "a pushed limit past the live row count returns every live row")
    assert(spark.sql(s"SELECT id FROM $cat.ev LIMIT 120").count() == 120L)
  }

  test("MOR × sealed manifest: a vector commit changes NO keys, so the manifest survives byte-identical and composes with the dv map exactly") {
    val (cat, root, store) = fixture()
    land(root)
    Manifests.seal(store, "ev", Instant.parse("2024-07-01T09:00:00Z"))
    val manifestBytes = bytesOf(store, Manifests.manifestKey("ev"))
    morOn(cat)
    spark.sql(s"DELETE FROM $cat.ev WHERE v < 100.0")
    assert(bytesOf(store, Manifests.manifestKey("ev"))
      .sameElements(manifestBytes),
      "a vector publish lands no key — the sealed manifest must survive")
    // the manifest-backed listing + exclusions + dv map compose
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev").head.getLong(0) == 900L)
    assert(LakeReader.read(spark, root, "ev")
      .agg(min("v")).head.getDouble(0) == 100.0)
  }

  test("whole-object retirement drops vector entries centrally: metadata DELETE and hour overwrite on vectored objects reclaim their vectors") {
    val (cat, root, store) = fixture()
    land(root) // h8: 4 objects, tags t0..t4 everywhere
    land(root, "2024-07-01T09:00:00Z", 5000, 250) // h9: 1 object
    morOn(cat)
    spark.sql(s"DELETE FROM $cat.ev WHERE v < 100.0") // vectors h8 obj 0
    spark.sql(s"DELETE FROM $cat.ev WHERE v >= 5000.0 AND v < 5010.0") // vectors h9
    assert(LakeVersions.currentDvs(store, "ev").size == 2)
    // the metadata path (pure hour-range DELETE) retires h9 wholesale —
    // its vector entry and file must die with it
    val h9dv = LakeVersions.currentDvs(store, "ev")
      .find(_._1.startsWith("2024/07/01/09/")).get
    spark.sql(s"DELETE FROM $cat.ev WHERE _event_hour = " +
      "TIMESTAMP '2024-07-01 09:00:00+00:00'")
    val dvsAfter = LakeVersions.currentDvs(store, "ev")
    assert(dvsAfter.size == 1 && !dvsAfter.contains(h9dv._1))
    assert(store.exists(h9dv._2.key),
      "the retired object's vector file lingers for in-flight scans " +
        "(round-17 grace window) …")
    LakeMaintenance.sweepStaging(store,
      java.time.Instant.now().plusSeconds(3600))
    assert(!store.exists(h9dv._2.key),
      "… and the janitor reclaims it")
    // dynamic hour overwrite replaces h8 — the last vector dies too
    import spark.implicits._
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      (0 until 10).map(i => (i.toLong, "re", i * 1.0)).toDF("id", "tag", "v")
        .withColumn("_event_hour",
          lit(java.sql.Timestamp.from(Instant.parse("2024-07-01T08:00:00Z"))))
        .write.format("graft-lake").option("table", "ev")
        .mode("overwrite").save(root)
    } finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    assert(LakeVersions.currentDvs(store, "ev").isEmpty)
    LakeMaintenance.sweepStaging(store,
      java.time.Instant.now().plusSeconds(3600))
    assert(store.list(LakeDvs.dir("ev")).isEmpty,
      "after the sweep no vector file survives")
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev").head.getLong(0) == 10L)
  }

  // --------------------------------------------- time travel + the feed

  test("time travel reads each generation under its OWN vector state; retention keeps superseded vector files; expire_versions reclaims") {
    val (cat, root, store) = fixture()
    land(root)
    spark.sql(s"CALL $cat.system.set_retention(table => 'ev', retain => true)")
    morOn(cat)
    spark.sql(s"DELETE FROM $cat.ev WHERE v < 100.0") // gen 2
    val dvGen2 = LakeVersions.currentDvs(store, "ev")
    spark.sql(s"DELETE FROM $cat.ev WHERE v >= 100.0 AND v < 150.0") // gen 3
    assert(store.exists(dvGen2.values.head.key),
      "retention must keep the superseded vector (gen 2 still reads it)")
    def countAt(g: Int) = spark.read.format("graft-lake")
      .option("table", "ev").option("asOfGeneration", g.toString)
      .load(root).count()
    assert(countAt(1) == 1000L)
    assert(countAt(2) == 900L)
    assert(countAt(3) == 850L)
    assert(spark.sql(s"SELECT min(v) FROM $cat.ev VERSION AS OF 2")
      .head.getDouble(0) == 100.0)
    // reclaim: keep only the head snapshot — gen 2's superseded vector
    // file goes with its record
    spark.sql(s"CALL $cat.system.expire_versions(table => 'ev', " +
      "keep_last => 1)").collect()
    assert(!store.exists(dvGen2.values.head.key),
      "expire_versions must reclaim vectors no kept generation references")
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev").head.getLong(0) == 850L)
  }

  test("the changes feed emits vector deletions row-exactly (no key diff needed) and update pre/post images") {
    val (cat, root, _) = fixture()
    land(root)
    spark.sql(s"CALL $cat.system.set_retention(table => 'ev', retain => true)")
    spark.sql(s"CALL $cat.system.tag(table => 'ev', name => 'run-x')")
    morOn(cat)
    spark.sql(s"DELETE FROM $cat.ev WHERE v < 50.0")
    spark.sql(s"UPDATE $cat.ev SET v = v + 7 WHERE id >= 50 AND id < 60")
    val feed = LakeChanges.since(spark, root, "ev", "run-x")
    val dels = feed.where(col("_change_type") === "delete")
    val inss = feed.where(col("_change_type") === "insert")
    assert(dels.count() == 60L, "50 deletes + 10 update pre-images")
    assert(inss.count() == 10L, "10 update post-images")
    assert(dels.agg(sum("v")).head.getDouble(0) ==
      (0 until 50).map(_.toDouble).sum + (50 until 60).map(_.toDouble).sum)
    assert(inss.agg(sum("v")).head.getDouble(0) ==
      (50 until 60).map(_ + 7.0).sum)
  }

  // --------------------------------------------------------- concurrency

  test("two MOR statements on ONE object serialize: the loser's basis check aborts loudly; disjoint objects both commit") {
    val (_, root, store) = fixture()
    val keys = land(root).sorted
    val (a, b) = (keys.head, keys(1))
    def up(obj: String, basis: Option[String], positions: Array[Long]) = {
      val k = LakeDvs.freshKey("ev")
      LakeDvs.write(store, k, "ev", obj, positions)
      Map(obj -> LakeVersions.DvUpsert(basis,
        LakeVersions.DvRef(k, positions.length.toLong)))
    }
    // writer A resolves basis (none), then writer B commits first
    val aUps = up(a, None, Array(1L, 2L))
    LakeVersions.commit(store, "ev", op = "delete", removed = Nil,
      dvUpserts = up(a, None, Array(7L)))
    val e = intercept[LakeVersions.LakeConcurrentModificationException] {
      LakeVersions.commit(store, "ev", op = "delete", removed = Nil,
        dvUpserts = aUps)
    }
    assert(e.getMessage.contains("delete vector"))
    // disjoint objects: a concurrent statement on object b retries clean
    LakeVersions.commit(store, "ev", op = "delete", removed = Nil,
      dvUpserts = up(b, None, Array(3L)))
    val dvs = LakeVersions.currentDvs(store, "ev")
    assert(dvs(a).count == 1L && dvs(b).count == 1L)
  }

  test("a COW rewrite racing a MOR vector change aborts via its dv basis — republishing rows read under a stale vector would resurrect deletions") {
    val (_, root, store) = fixture()
    val keys = land(root).sorted
    val obj = keys.head
    // the rewrite scanned `obj` with NO vector...
    val staleBasis = Map(obj -> (None: Option[String]))
    // ...then a MOR delete vectors it
    val k = LakeDvs.freshKey("ev")
    LakeDvs.write(store, k, "ev", obj, Array(0L))
    LakeVersions.commit(store, "ev", op = "delete", removed = Nil,
      dvUpserts = Map(obj -> LakeVersions.DvUpsert(None,
        LakeVersions.DvRef(k, 1L))))
    val e = intercept[LakeVersions.LakeConcurrentModificationException] {
      LakeVersions.commit(store, "ev", op = "compact",
        removed = Seq(obj), added = Nil, dvBasis = staleBasis)
    }
    assert(e.getMessage.contains("delete vector"))
  }

  // ----------------------------------------------------------- streaming

  test("stream × MOR: a vector landing before delivery delivers live rows only; update-row objects skip when their sources were delivered; MERGE inserts still flow") {
    val (cat, root, _) = fixture()
    land(root)
    morOn(cat)
    // vector BEFORE first delivery: the stream must never emit the rows
    spark.sql(s"DELETE FROM $cat.ev WHERE v < 100.0")
    val ckpt = tempDir("graft-mor-ckpt").toFile.getAbsolutePath
    val q = spark.readStream.format("graft-lake").option("table", "ev")
      .load(root)
      .writeStream.format("memory").queryName("mor_stream")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(spark.table("mor_stream").count() == 900L,
        "pre-delivery vectors must subtract")
      // MOR UPDATE after delivery: its fresh objects are REWRITES of
      // delivered rows (sources provenance) — nothing re-delivers
      spark.sql(s"UPDATE $cat.ev SET v = v + 5 WHERE tag = 't2'")
      q.processAllAvailable()
      assert(spark.table("mor_stream").count() == 900L,
        "update rewrites must not re-deliver delivered rows")
      // a genuinely NEW row (MERGE insert arm) always delivers
      import spark.implicits._
      Seq(50000L).toDF("sid").createOrReplaceTempView("mor_stream_src")
      spark.sql(
        s"""MERGE INTO $cat.ev t USING mor_stream_src s ON t.id = s.sid
           |WHEN MATCHED THEN UPDATE SET v = 0
           |WHEN NOT MATCHED THEN INSERT (id, tag, v, _event_hour)
           |  VALUES (s.sid, 'new', -5,
           |    TIMESTAMP '2024-07-01 09:00:00+00:00')""".stripMargin)
      q.processAllAvailable()
      assert(spark.table("mor_stream").count() == 901L,
        "MERGE inserts must flow")
      assert(spark.table("mor_stream").where(col("v") === -5).count() == 1L)
    } finally q.stop()
  }

  test("expire_versions spares a pre-CAS statement's intent-covered vectors and vectors of commits that landed since its snapshot") {
    // The r16 advice race: a MOR statement publishes its merged vector
    // to its final `_dv/` key BEFORE its CAS; an expire sweep that
    // treated every unreferenced `_dv/` file as garbage could delete it,
    // and the statement's later CAS would commit a mapping to a dead
    // file — every subsequent read of the object fails permanently.
    // Since round 17 the MOR intent COVERS its vector keys and the
    // sweep (a) spares intent-covered files, (b) re-snapshots the chain
    // AFTER listing `_dv/` so a commit that landed mid-expire is seen.
    val (cat, root, store) = fixture()
    land(root)
    spark.sql(s"CALL $cat.system.set_retention(table => 'ev', " +
      "retain => true)").collect()
    morOn(cat)
    spark.sql(s"DELETE FROM $cat.ev WHERE v < 50.0")
    spark.sql(s"DELETE FROM $cat.ev WHERE v >= 50.0 AND v < 60.0")
    // simulate a concurrent statement mid-flight: vector at its final
    // key, intent covering it, CAS not yet run
    val pendingDv = LakeDvs.freshKey("ev")
    LakeVersions.writeIntent(store, "ev", "mid-flight", Seq(pendingDv))
    LakeDvs.write(store, pendingDv, "ev", "2024/07/01/08/ev/fake.csv.gz",
      Array(1L, 2L))
    // and a genuinely orphaned vector (a crashed, intent-less publish)
    val orphanDv = LakeDvs.freshKey("ev")
    LakeDvs.write(store, orphanDv, "ev", "2024/07/01/08/ev/fake2.csv.gz",
      Array(3L))
    val rep = LakeVersions.expireVersions(store, "ev", keepLast = 1)
    assert(store.exists(pendingDv),
      s"an intent-covered pre-CAS vector must survive expire ($rep)")
    assert(!store.exists(orphanDv),
      "an uncovered unreferenced vector is reclaimed")
    // the head generation's committed vectors always survive
    LakeVersions.currentDvs(store, "ev").values.foreach(r =>
      assert(store.exists(r.key), s"head vector ${r.key} must survive"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev").head.getLong(0) == 940L)
    store.delete(LakeVersions.intentKey("ev", "mid-flight"))
  }

  test("readStreamOf (the glob stream) refuses a vectored table loudly") {
    val (cat, root, _) = fixture()
    land(root)
    morOn(cat)
    spark.sql(s"DELETE FROM $cat.ev WHERE v < 10.0")
    val e = intercept[IllegalArgumentException] {
      LakeReader.readStreamOf(spark, root, "ev", schema)
    }
    assert(e.getMessage.contains("graft-lake") ||
      e.getMessage.contains("vector"))
  }

  test("readStreamOf is guarded PER TRIGGER: a vector committed MID-STREAM fails the next trigger loudly with the connector remedy") {
    val (cat, root, _) = fixture()
    land(root)
    val was = GuardedLakeFs.probeMemoMs
    GuardedLakeFs.probeMemoMs = 0L // every trigger probes
    val ckpt = tempDir("graft-mor-guard-ckpt")
      .toFile.getAbsolutePath
    var delivered = 0L
    val q = LakeReader.readStreamOf(spark, root, "ev", schema)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        delivered += df.count(); ()
      }.start()
    try {
      q.processAllAvailable()
      assert(delivered == 1000L, "initial drain through the guarded glob")
      // merge-on-read DML lands a vector WHILE the stream runs — the
      // start-time check cannot see it; the per-trigger probe must
      morOn(cat)
      spark.sql(s"DELETE FROM $cat.ev WHERE v < 10.0")
      val e = intercept[Exception] { q.processAllAvailable() }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      assert(msgs.contains("DELETE VECTOR") && msgs.contains("graft-lake"),
        s"the failure names the vector and the remedy: $msgs")
      assert(msgs.toLowerCase.contains("connector") ||
        msgs.contains("format(\"graft-lake\")"),
        s"the remedy names the connector source: $msgs")
    } finally {
      GuardedLakeFs.probeMemoMs = was
      try q.stop() catch { case _: Exception => () }
    }
  }
}
