package graft.lake

import graft.SparkSuite
import graft.types.{ColType, TableSchema}

import java.time.Instant

import org.apache.spark.sql.functions._

/** Row-level delete ([[LakeMaintenance.deleteWhere]]): the GDPR shape —
  * bloom/band probe bounds the rewrite to containing objects, staged
  * publish replaces them, originals retire, everything else stays
  * byte-identical. */
class DeleteWhereSpec extends SparkSuite {

  private val schema = TableSchema("dw", Seq(
    "id" -> ColType.CInteger, "user" -> ColType.CString))

  private def freshRoot() = tempUri("graft-delete-spec")

  /** One object at `hour` holding `rows` (id, user), bloomed on user. */
  private def land(root: String, hour: String,
                   rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    LakeWriter.write(rows.toDF("id", "user").orderBy("id").coalesce(1),
      schema, root, Instant.parse(hour), zoneMaps = true,
      bloomColumns = Seq("user")).head.key
  }

  private def bytesOf(store: Store, key: String): Array[Byte] = {
    val in = store.open(key)
    try in.readAllBytes() finally in.close()
  }

  private def readAll(root: String) =
    spark.read.format("graft-lake").option("table", "dw").load(root)

  test("delete_where and compaction release their per-object snapshots") {
    val root = freshRoot()
    val store = new HadoopStore(root)
    land(root, "2024-07-01T08:00:00Z", (0L until 20L).map(i => (i, if (i < 5) "uA" else "uB")))
    land(root, "2024-07-01T08:00:00Z", (20L until 40L).map(i => (i, "uB")))
    land(root, "2024-07-01T09:00:00Z", (40L until 60L).map(i => (i, "uA")))
    val persisted0 = spark.sparkContext.getPersistentRDDs.keySet
    LakeMaintenance.deleteWhere(spark, store, "dw", "user", Seq("uA"),
      zoneMaps = true, bloomColumns = Seq("user"))
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted0,
      "each kept object's localCheckpoint must be released after its rewrite")
    LakeMaintenance.compact(spark, store, "dw", zoneMaps = true, bloomColumns = Seq("user"))
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted0,
      "each hour's localCheckpoint must be released after its write")
    assert(readAll(root).count() == 35L)
  }

  test("planted rows vanish; non-matching objects stay byte-identical; all-match objects retire") {
    val root = freshRoot()
    val store = new HadoopStore(root)
    val allA = land(root, "2024-07-01T08:00:00Z",
      (0L until 20L).map(i => (i, "uA")))
    val mixed = land(root, "2024-07-01T08:00:00Z",
      (20L until 25L).map(i => (i, "uA")) ++
        (25L until 40L).map(i => (i, "uB")))
    val onlyC = land(root, "2024-07-01T08:00:00Z",
      (40L until 60L).map(i => (i, "uC")))
    val other = land(root, "2024-07-01T09:00:00Z",
      (60L until 80L).map(i => (i, "uB")))
    val untouched = Seq(onlyC, other).map(k => k -> bytesOf(store, k)).toMap

    val rep = LakeMaintenance.deleteWhere(spark, store, "dw", "user",
      Seq("uA"), zoneMaps = true, bloomColumns = Seq("user"))
    assert(rep.candidates == 2 && rep.objectsRetired == 1 &&
      rep.objectsRewritten == 1 && rep.objectsSkipped == 2,
      s"probe bounds the rewrite to uA's objects: $rep")
    assert(rep.rowsDeleted == 25L && rep.rowsKept == 15L, s"$rep")

    val after = readAll(root)
    assert(after.filter(col("user") === "uA").count() == 0, "uA is gone")
    assert(after.count() == 55L, "everything else survives")
    assert(!store.exists(allA), "an all-match object retires outright")
    assert(!store.exists(mixed), "a rewritten original retires")
    untouched.foreach { case (k, before) =>
      assert(bytesOf(store, k).sameElements(before),
        s"pruned object $k must stay byte-identical")
    }
    // the rewritten replacement carries rebuilt sidecars (config passed)
    val h8 = LakeReader.listTableKeys(store, "dw", None)
      .filter(_.startsWith("2024/07/01/08/"))
    assert(h8.size == 2, s"replacement + onlyC: $h8")
    val replacement = h8.filterNot(_ == onlyC).head
    assert(BloomMaps.read(store, replacement).nonEmpty &&
      ZoneMaps.read(store, replacement).nonEmpty)
    assert(store.list("_staging").isEmpty, "no staging residue")

    // idempotent: the same delete again finds nothing to do (the
    // replacement's rebuilt bloom prunes it)
    val rep2 = LakeMaintenance.deleteWhere(spark, store, "dw", "user",
      Seq("uA"), zoneMaps = true, bloomColumns = Seq("user"))
    assert(rep2.rowsDeleted == 0L && rep2.objectsRewritten == 0 &&
      rep2.objectsRetired == 0, s"re-run is a no-op: $rep2")
  }

  test("torn sidecars keep conservatively: unprunable objects are scanned, matching ones rewritten, clean ones untouched") {
    val root = freshRoot()
    val store = new HadoopStore(root)
    val tornClean = land(root, "2024-07-01T08:00:00Z",
      (0L until 10L).map(i => (i, "uB")))
    val tornDirty = land(root, "2024-07-01T08:00:00Z",
      (10L until 20L).map(i => (i, "uA")))
    val intact = land(root, "2024-07-01T08:00:00Z",
      (20L until 30L).map(i => (i, "uC")))
    Seq(tornClean, tornDirty).foreach { k =>
      store.delete(BloomMaps.bloomKey(k))
      store.delete(ZoneMaps.statsKey(k))
    }
    val cleanBytes = bytesOf(store, tornClean)
    val rep = LakeMaintenance.deleteWhere(spark, store, "dw", "user", Seq("uA"))
    assert(rep.candidates == 2 && rep.objectsSkipped == 1,
      s"torn objects cannot be refuted — both are candidates: $rep")
    assert(rep.objectsRetired == 1 && rep.objectsRewritten == 0 &&
      rep.rowsDeleted == 10L, s"$rep")
    assert(!store.exists(tornDirty), "the torn matching object retired")
    assert(bytesOf(store, tornClean).sameElements(cleanBytes),
      "the torn non-matching candidate is scanned but left byte-identical")
    assert(store.exists(intact))
    assert(readAll(root).count() == 20L)
  }

  test("the publish/retire crash window is CLOSED by the generation pointer: a lingering original is invisible and the next commit finishes its retire") {
    val root = freshRoot()
    val store = new HadoopStore(root)
    val mixed = land(root, "2024-07-01T08:00:00Z",
      (0L until 5L).map(i => (i, "uA")) ++ (5L until 20L).map(i => (i, "uB")))
    val originalBytes = bytesOf(store, mixed)
    val rep1 = LakeMaintenance.deleteWhere(spark, store, "dw", "user",
      Seq("uA"), zoneMaps = true, bloomColumns = Seq("user"))
    assert(rep1.objectsRewritten == 1 && rep1.rowsDeleted == 5L)
    val replacement = LakeReader.listTableKeys(store, "dw", None).head
    assert(replacement != mixed, "the replacement has a fresh key")
    // simulate the crash-after-CAS state: the commit landed (the
    // original is tombstoned in the generation record) but its physical
    // retirement "never ran" — restore the original's bytes
    store.put(mixed, new java.io.ByteArrayInputStream(originalBytes))
    // pre-r14 this was the transient-duplication window (35 rows until
    // a manual re-run); the versioned reader EXCLUDES the tombstoned
    // key, so the table is exact immediately
    assert(readAll(root).count() == 15L,
      "a tombstoned original is invisible even while present on disk")
    assert(LakeReader.listTableKeys(store, "dw", None) == Seq(replacement))
    // the re-run is now a NO-OP (nothing matches in the live view) ...
    val rep2 = LakeMaintenance.deleteWhere(spark, store, "dw", "user",
      Seq("uA"), zoneMaps = true, bloomColumns = Seq("user"))
    assert(rep2.rowsDeleted == 0L && rep2.objectsRewritten == 0, s"$rep2")
    // ... and the NEXT mutating commit's tombstone maintenance finishes
    // the interrupted retire: the lingering bytes leave, the tombstone
    // is pruned from the chain
    assert(store.exists(mixed), "the lingering original is still on disk")
    val rep3 = LakeMaintenance.deleteWhere(spark, store, "dw", "user",
      Seq("uB"), zoneMaps = true, bloomColumns = Seq("user"))
    assert(rep3.rowsDeleted == 15L, s"$rep3")
    assert(!store.exists(mixed),
      "the next commit finishes the interrupted physical retire")
    assert(LakeReader.listTableKeys(store, "dw", None).isEmpty,
      "kept rows exactly once throughout — everything deleted deletes")
  }

  test("NULL rows never match; manifests invalidate; CALL delete_where coerces values by column type") {
    val root = freshRoot()
    val store = new HadoopStore(root)
    // a null-user row rides along: SQL equality must never delete it
    import spark.implicits._
    LakeWriter.write(
      Seq((0L, "uA"), (1L, null.asInstanceOf[String]), (2L, "uB"),
        (3L, "uB"), (5L, "uC")).toDF("id", "user").coalesce(1),
      schema, root, Instant.parse("2024-07-01T08:00:00Z"), zoneMaps = true)
    Manifests.seal(store, "dw", Instant.parse("2024-07-01T09:00:00Z"))
    assert(store.exists(Manifests.manifestKey("dw")))

    val rep = LakeMaintenance.deleteWhere(spark, store, "dw", "user",
      Seq("uA"), zoneMaps = true)
    assert(rep.rowsDeleted == 1L && rep.rowsKept == 4L, s"$rep")
    assert(!store.exists(Manifests.manifestKey("dw")),
      "a delete into a sealed hour invalidates the manifest")
    val after = readAll(root)
    assert(after.filter(col("user").isNull).count() == 1L,
      "NULL rows never match a delete predicate")

    // the CALL surface, with INTEGER-typed coercion on the id column
    val cat = s"lakedel${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val row = spark.sql(
      s"CALL $cat.system.delete_where(table => 'dw', column => 'id', " +
        "values => '2,5', zone_maps => true)").collect().head
    assert(row.getAs[Long]("rows_deleted") == 2L, s"$row")
    assert(readAll(root).select("id").as[Long].collect().sorted
      .toSeq == Seq(1L, 3L))
  }
  test("dry run: the same probe and match rule report what the real run would do, nothing mutates") {
    val root = freshRoot()
    val store = new HadoopStore(root)
    land(root, "2024-07-01T08:00:00Z", (0L until 20L).map(i => (i, "uA")))
    land(root, "2024-07-01T08:00:00Z",
      (20L until 25L).map(i => (i, "uA")) ++ (25L until 40L).map(i => (i, "uB")))
    land(root, "2024-07-01T08:00:00Z", (40L until 60L).map(i => (i, "uC")))
    val before = LakeReader.listTableKeys(store, "dw", None)
      .map(k => k -> bytesOf(store, k)).toMap

    val dry = LakeMaintenance.deleteWhere(spark, store, "dw", "user",
      Seq("uA"), zoneMaps = true, bloomColumns = Seq("user"), dryRun = true)
    // NOTHING moved: every object still present, byte-identical
    val after = LakeReader.listTableKeys(store, "dw", None)
    assert(after.toSet == before.keySet)
    before.foreach { case (k, b) =>
      assert(bytesOf(store, k).sameElements(b), s"dry run must not touch $k")
    }
    // and the report equals the real run's
    val real = LakeMaintenance.deleteWhere(spark, store, "dw", "user",
      Seq("uA"), zoneMaps = true, bloomColumns = Seq("user"))
    assert(dry == real, s"dry=$dry real=$real")
  }

  test("dry run reads under the live equality deletes, as the real run does") {
    val root = freshRoot()
    val store = new HadoopStore(root)
    land(root, "2024-07-01T08:00:00Z",
      (0L until 5L).map(i => (i, "uA")) ++ (5L until 20L).map(i => (i, "uB")))
    land(root, "2024-07-01T09:00:00Z",
      (20L until 25L).map(i => (i, "uA")) ++ (25L until 30L).map(i => (i, "uB")) ++
        (30L until 40L).map(i => (i, "uC")))
    val cat = s"lakedry${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CALL $cat.system.set_dml_mode(table => 'dw', " +
      "mode => 'merge-on-read')").collect()
    spark.sql(s"DELETE FROM $cat.dw WHERE user = 'uB'")
    assert(LakeVersions.currentEqdels(store, "dw").size == 1, "a live equality delete")

    val dry = LakeMaintenance.deleteWhere(spark, store, "dw", "user",
      Seq("uA"), zoneMaps = true, bloomColumns = Seq("user"), dryRun = true)
    // uB's rows are already dead: the 08 object holds only matches (it
    // retires), the 09 object keeps its 10 uC rows
    assert(dry == LakeMaintenance.DeleteReport(2, 1, 1, 10L, 10L, 0), s"$dry")
    val real = LakeMaintenance.deleteWhere(spark, store, "dw", "user",
      Seq("uA"), zoneMaps = true, bloomColumns = Seq("user"))
    assert(dry == real, s"dry=$dry real=$real")
    assert(readAll(root).count() == 10L)
  }

  test("a rewrite runs one count aggregate per candidate") {
    val root = freshRoot()
    val store = new HadoopStore(root)
    val hours = Seq("08", "09", "10")
    hours.zipWithIndex.foreach { case (h, i) =>
      land(root, s"2024-07-01T$h:00:00Z", (0L until 20L).map(j =>
        (i * 20L + j, if (j < 5) "uA" else "uB")))
    }
    val jobs = jobsDuring {
      val rep = LakeMaintenance.deleteWhere(spark, store, "dw", "user",
        Seq("uA"), zoneMaps = true, bloomColumns = Seq("user"))
      assert(rep == LakeMaintenance.DeleteReport(3, 3, 0, 15L, 45L, 0), s"$rep")
    }
    // per candidate: the snapshot, the (rows, matches) aggregate (a map
    // and a result job under adaptive execution) and the replacement's
    // write; a second count would add two more
    assert(jobs == 4 * 3, s"$jobs Spark jobs for 3 rewritten candidates")
  }

}
