package graft.lake

import graft.SparkSuite
import graft.types.{ColType, TableSchema}

import java.time.Instant

import org.apache.spark.sql.functions._

/** Delta-based MERGE ([[LakeDelta]], `SupportsDelta`): the plan ships
  * only CHANGED rows tagged with per-row ops and `(_object_key,
  * _row_pos)` ids; commit rewrites exactly the touched objects and
  * records the exact CDC split (updates/survivors `added`, inserts
  * `inserted`). */
class LakeDeltaSpec extends SparkSuite {

  private val schema = TableSchema("ev", Seq(
    "id" -> ColType.CInteger, "tag" -> ColType.CString,
    "v" -> ColType.CFloat))

  private def fixture(): (String, String, HadoopStore) = {
    val root = tempUri("graft-delta-spec")
    val cat = s"dlt${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root, new HadoopStore(root))
  }

  private def land(root: String, hour: String, lo: Int, n: Int): Seq[String] = {
    import spark.implicits._
    LakeWriter.write(
      (lo until lo + n).map(i => (i.toLong, s"t${i % 5}", i * 1.0))
        .toDF("id", "tag", "v").orderBy("id").coalesce(1),
      schema, root, Instant.parse(hour), maxRecordsPerObject = 250L,
      zoneMaps = true, bloomColumns = Seq("tag")).map(_.key)
  }

  private def bytesOf(store: Store, key: String): Array[Byte] = {
    val in = store.open(key)
    try in.readAllBytes() finally in.close()
  }

  private def keysOf(store: Store) = LakeReader.listTableKeys(store, "ev", None)

  test("_row_pos metadata column: 0-based per-object ordinal, selectable with _object_key") {
    val (cat, root, _) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0, 600) // 250+250+100 rows per roll
    val rows = spark.sql(
      s"SELECT _object_key, _row_pos, id FROM $cat.ev").collect()
    assert(rows.length == 600)
    // within each object, positions are exactly 0..count-1
    rows.groupBy(_.getString(0)).foreach { case (k, rs) =>
      val ps = rs.map(_.getLong(1)).sorted
      assert(ps.sameElements(0L until ps.length),
        s"positions of $k must be a dense 0-based range, got ${ps.take(5).mkString(",")}")
    }
    // rows landed ordered by id per roll: position order == id order
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val byPos = rs.sortBy(_.getLong(1)).map(_.getLong(2))
      assert(byPos.sameElements(byPos.sorted))
    }
  }

  test("MERGE plans the DELTA write (WriteDelta, not ReplaceData) and is row-exact across all four arms") {
    val (cat, root, store) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0, 1000)
    import spark.implicits._
    // source: updates for ids 0..99 (vc doubled), deletes for 100..149,
    // inserts 2000..2049; and a NOT MATCHED BY SOURCE arm deleting
    // ids >= 990 (stale rows)
    Seq.tabulate(100)(i => (i.toLong, "upd")) ++
      Seq.tabulate(50)(i => (100L + i, "del")) ++
      Seq.tabulate(50)(i => (2000L + i, "ins")) match { case src =>
        src.toDF("sid", "act").createOrReplaceTempView("delta_src")
      }
    val hot = java.sql.Timestamp.from(Instant.parse("2024-07-01T09:00:00Z"))
    val m = spark.sql(
      s"""MERGE INTO $cat.ev t USING delta_src s ON t.id = s.sid
         |WHEN MATCHED AND s.act = 'upd' THEN UPDATE SET v = t.v * 2
         |WHEN MATCHED AND s.act = 'del' THEN DELETE
         |WHEN NOT MATCHED AND s.act = 'ins' THEN
         |  INSERT (id, tag, v, _event_hour)
         |  VALUES (s.sid, 'new', 1.0, TIMESTAMP '2024-07-01 09:00:00+00:00')
         |WHEN NOT MATCHED BY SOURCE AND t.id >= 990 THEN DELETE
         |""".stripMargin)
    val plan = m.queryExecution.executedPlan.toString
    assert(plan.contains("WriteDelta") && !plan.contains("ReplaceData"),
      s"MERGE must take the delta path:\n$plan")
    val got = spark.table(s"$cat.ev")
      .agg(count(lit(1)), sum("v"), sum(when(col("tag") === "new", 1L)))
      .head()
    // 1000 - 50 (del) - 10 (by-source) + 50 (ins) = 990
    assert(got.getLong(0) == 990, s"row count: $got")
    // sum v: base 0..999 = 499500; +0..99 doubled adds 4950; -100..149
    // (6225); -990..999 (9945); +50 inserts (50.0)
    assert(math.abs(got.getDouble(1) - (499500.0 + 4950.0 - 6225.0 - 9945.0 + 50.0)) < 1e-6,
      s"sum v: $got")
    assert(got.getLong(2) == 50)
    // inserted rows landed under their stated hour
    assert(keysOf(store).exists(_.startsWith("2024/07/01/09/")))
    // the generation record carries the exact CDC split
    val rec = LakeVersions.head(store, "ev", LakeVersions.listDir(store, "ev")).get
    assert(rec.op == "merge")
    assert(rec.inserted.nonEmpty && rec.added.nonEmpty && rec.removed.nonEmpty)
    assert(rec.inserted.forall(_.startsWith("2024/07/01/09/")),
      "insert objects are the stated hour's")
  }

  test("MERGE touches ONLY the objects holding matched rows: others stay byte-identical under their keys") {
    val (cat, root, store) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0, 1000)    // ids 0..999
    land(root, "2024-07-01T09:00:00Z", 1000, 1000) // ids 1000..1999
    val before = keysOf(store).map(k => k -> bytesOf(store, k)).toMap
    import spark.implicits._
    // touch ONLY ids 0..9 → one object (first roll of hour 08)
    (0 until 10).map(_.toLong).toDF("sid").createOrReplaceTempView("delta_src2")
    spark.sql(
      s"""MERGE INTO $cat.ev t USING delta_src2 s ON t.id = s.sid
         |WHEN MATCHED THEN UPDATE SET tag = 'touched'""".stripMargin)
    val rec = LakeVersions.head(store, "ev", LakeVersions.listDir(store, "ev")).get
    assert(rec.removed.size == 1,
      s"exactly ONE object holds ids 0..9, got ${rec.removed}")
    assert(rec.inserted.isEmpty, "no insert arm → no inserted objects")
    val after = keysOf(store)
    // every surviving original key is byte-identical
    after.filter(before.contains).foreach { k =>
      assert(bytesOf(store, k).sameElements(before(k)),
        s"untouched object $k must stay byte-identical")
    }
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev WHERE tag = 'touched'")
      .head.getLong(0) == 10)
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev").head.getLong(0) == 2000)
    // replacements keep the table's sidecar convention
    rec.added.foreach { k =>
      assert(ZoneMaps.read(store, k).nonEmpty && BloomMaps.read(store, k).nonEmpty,
        s"replacement $k must carry the table's sidecars")
    }
  }

  test("a MERGE that matches nothing and inserts nothing is a true no-op: no generation minted") {
    val (cat, root, store) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0, 100)
    import spark.implicits._
    Seq(99999L).toDF("sid").createOrReplaceTempView("delta_src3")
    spark.sql(
      s"""MERGE INTO $cat.ev t USING delta_src3 s ON t.id = s.sid
         |WHEN MATCHED THEN UPDATE SET tag = 'x'""".stripMargin)
    assert(LakeVersions.listDir(store, "ev").gens.isEmpty,
      "a no-op MERGE must not turn a never-mutated table versioned")
  }

  test("a MERGE racing an UPDATE on the same objects: the loser aborts LOUDLY with the winner's table intact (CAS validation)") {
    val (cat, root, store) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0, 500)
    import spark.implicits._
    (0L until 10L).toDF("sid").createOrReplaceTempView("delta_race_src")
    val entered = new java.util.concurrent.CountDownLatch(1)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    LakeVersions.beforeCasHook = _ =>
      if (armed.getAndSet(false)) {
        entered.countDown()
        gate.await(60, java.util.concurrent.TimeUnit.SECONDS); ()
      }
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val t = new Thread(() =>
      try {
        spark.sql(
          s"""MERGE INTO $cat.ev t USING delta_race_src s ON t.id = s.sid
             |WHEN MATCHED THEN UPDATE SET v = -99""".stripMargin); ()
      } catch { case e: Throwable => err.set(e) })
    try {
      t.start()
      assert(entered.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the MERGE must reach its CAS")
      // the racing UPDATE rewrites the same object (ids 0..9 live in it)
      spark.sql(s"UPDATE $cat.ev SET v = v + 1000 WHERE id < 10")
    } finally {
      gate.countDown(); t.join(120000)
      LakeVersions.beforeCasHook = _ => ()
    }
    val e = err.get()
    assert(e != null, "the MERGE must abort: its scanned original was " +
      "tombstoned by the racing UPDATE")
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[LakeVersions.LakeConcurrentModificationException]),
      s"abort must be the loud concurrency error, got $e")
    // the table is EXACTLY the winner's result: no -99, no duplicates,
    // no leaked replacement objects
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev").head.getLong(0) == 500)
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev WHERE v = -99")
      .head.getLong(0) == 0, "the loser's values must not surface")
    assert(spark.sql(s"SELECT sum(v) FROM $cat.ev").head.getDouble(0) ==
      (0 until 500).map(_.toDouble).sum + 10 * 1000.0)
    assert(store.list("_staging").isEmpty, "loser's staging swept")
  }

  test("a MERGE whose ON matches one target row twice fails LOUDLY with nothing published (cardinality check)") {
    val (cat, root, store) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0, 200)
    val before = keysOf(store).map(k => k -> bytesOf(store, k)).toMap
    import spark.implicits._
    Seq((5L, 1.0), (5L, 2.0)).toDF("sid", "nv")
      .createOrReplaceTempView("delta_dup_src")
    val e = intercept[Throwable] {
      spark.sql(
        s"""MERGE INTO $cat.ev t USING delta_dup_src s ON t.id = s.sid
           |WHEN MATCHED THEN UPDATE SET v = s.nv""".stripMargin)
    }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.toLowerCase.contains("multiple") ||
      msgs.contains("MERGE_CARDINALITY") || msgs.contains("cardinality"),
      s"the failure names the duplicate match: $msgs")
    assert(keysOf(store).toSet == before.keySet, "nothing published")
    before.foreach { case (k, b) =>
      assert(bytesOf(store, k).sameElements(b), s"$k byte-identical")
    }
    assert(store.list("_staging").isEmpty, "staging swept on abort")
    assert(LakeVersions.listDir(store, "ev").gens.isEmpty, "no generation")
  }

  test("MERGE under retention: VERSION AS OF the pre-MERGE tag reads the exact old corpus; originals stay on disk") {
    val (cat, root, store) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0, 400)
    spark.sql(s"CALL $cat.system.set_retention(table => 'ev', retain => true)")
    spark.sql(s"CALL $cat.system.tag(table => 'ev', name => 'pre-merge')")
    val before = spark.table(s"$cat.ev").collect().map(_.toSeq).toSet
    import spark.implicits._
    ((0L until 20L) ++ (5000L until 5005L)).toDF("sid")
      .createOrReplaceTempView("delta_tt_src")
    spark.sql(
      s"""MERGE INTO $cat.ev t USING delta_tt_src s ON t.id = s.sid
         |WHEN MATCHED THEN UPDATE SET v = -1
         |WHEN NOT MATCHED THEN INSERT (id, tag, v, _event_hour)
         |  VALUES (s.sid, 'i', 0.0,
         |    TIMESTAMP '2024-07-01 09:00:00+00:00')""".stripMargin)
    // the tag reads the pre-MERGE corpus row-exactly
    val runA = spark.sql(s"SELECT * FROM $cat.ev VERSION AS OF 'pre-merge'")
      .collect().map(_.toSeq).toSet
    assert(runA == before, "time travel must see the exact pre-MERGE rows")
    // retention kept the rewritten originals on disk (tombstoned)
    val rec = LakeVersions.head(store, "ev", LakeVersions.listDir(store, "ev")).get
    assert(rec.op == "merge" && rec.removed.forall(store.exists),
      "retained originals must remain on disk for the snapshot")
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev WHERE v = -1")
      .head.getLong(0) == 20)
  }

  test("MERGE into a SEALED hour invalidates the manifest (the publish discipline at the manifest seam)") {
    val (cat, root, store) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0, 300)
    Manifests.seal(store, "ev", java.time.Instant.parse("2024-07-02T00:00:00Z"))
    assert(store.exists(Manifests.manifestKey("ev")))
    import spark.implicits._
    (0L until 5L).toDF("sid").createOrReplaceTempView("delta_seal_src")
    spark.sql(
      s"""MERGE INTO $cat.ev t USING delta_seal_src s ON t.id = s.sid
         |WHEN MATCHED THEN UPDATE SET v = -5""".stripMargin)
    assert(!store.exists(Manifests.manifestKey("ev")),
      "a MERGE rewriting a sealed hour must invalidate the manifest")
    // readers see the post-MERGE truth (no stale manifest keys)
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev WHERE v = -5")
      .head.getLong(0) == 5)
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev").head.getLong(0) == 300)
  }

  test("MERGE UPDATE SET _event_hour MOVES the row to the new hour's objects") {
    val (cat, root, store) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0, 500)
    import spark.implicits._
    Seq(7L, 8L).toDF("sid").createOrReplaceTempView("delta_src4")
    spark.sql(
      s"""MERGE INTO $cat.ev t USING delta_src4 s ON t.id = s.sid
         |WHEN MATCHED THEN UPDATE SET
         |  _event_hour = TIMESTAMP '2024-07-02 00:00:00+00:00'""".stripMargin)
    val moved = spark.sql(
      s"SELECT id, _event_hour, _object_key FROM $cat.ev WHERE id IN (7, 8)")
      .collect()
    assert(moved.length == 2)
    moved.foreach { r =>
      assert(r.getString(2).startsWith("2024/07/02/00/"),
        s"row ${r.getLong(0)} must live under the NEW hour, got ${r.getString(2)}")
    }
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev").head.getLong(0) == 500)
    // survivors of the touched object stayed under the original hour
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev WHERE _event_hour = " +
      "TIMESTAMP '2024-07-01 08:00:00+00:00'").head.getLong(0) == 498)
    val rec = LakeVersions.head(store, "ev", LakeVersions.listDir(store, "ev")).get
    assert(rec.added.exists(_.startsWith("2024/07/02/00/")),
      "the moved rows' object is a REWRITE (CDC: added, not inserted)")
  }
}
