package graft.lake

import graft.SparkSuite
import graft.types.{ColType, TableSchema}

import java.time.Instant

import org.apache.spark.sql.functions._

/** `INSERT OVERWRITE` / `mode("overwrite")` / `writeTo(t).overwrite(cond)`
  * / `.overwritePartitions()` on the connector ([[LakeRowLevel
  * .OverwriteMode]]): hour-scoped replacement on the key layout's own
  * grain — rows route to their OWN `_event_hour`, the replaced scope
  * retires AFTER the replacements publish, out-of-scope hours stay
  * byte-identical, and a replaceWhere that writes outside its own scope
  * aborts with nothing published. */
class LakeOverwriteSpec extends SparkSuite {

  private val schema = TableSchema("ov", Seq(
    "id" -> ColType.CInteger, "v" -> ColType.CInteger))

  private def fixture(): (String, String, HadoopStore) = {
    val root = tempUri("graft-ovw-spec")
    val cat = s"ovw${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root, new HadoopStore(root))
  }

  private def land(root: String, hour: String, lo: Int, n: Int = 100): Unit = {
    import spark.implicits._
    LakeWriter.write(
      (lo until lo + n).map(i => (i.toLong, i.toLong)).toDF("id", "v")
        .coalesce(1),
      schema, root, Instant.parse(hour), zoneMaps = true,
      bloomColumns = Seq("id"))
  }

  private def bytesOf(store: Store, key: String): Array[Byte] = {
    val in = store.open(key)
    try in.readAllBytes() finally in.close()
  }

  private def ts(s: String) = java.sql.Timestamp.from(Instant.parse(s))

  private def repaired(n: Int, hour: String) = {
    import spark.implicits._
    (500 until 500 + n).map(i => (i.toLong, 1L)).toDF("id", "v")
      .withColumn("_event_hour", lit(ts(hour)))
  }

  test("replaceWhere: the condition's hours retire, replacements land IN them, other hours byte-identical, sidecars rebuilt") {
    val (cat, root, store) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0)
    land(root, "2024-07-01T09:00:00Z", 100)
    val h8 = LakeReader.listTableKeys(store, "ov", None)
      .filter(_.startsWith("2024/07/01/08/"))
    val h8Bytes = h8.map(k => k -> bytesOf(store, k)).toMap

    repaired(20, "2024-07-01T09:00:00Z").writeTo(s"$cat.ov")
      .overwrite(col("_event_hour") === lit(ts("2024-07-01T09:00:00Z")))

    val after = LakeReader.listTableKeys(store, "ov", None)
    assert(after.filter(_.startsWith("2024/07/01/08/")) == h8,
      "out-of-scope hour keeps its objects")
    h8Bytes.foreach { case (k, b) =>
      assert(bytesOf(store, k).sameElements(b), s"$k must stay byte-identical")
    }
    val newH9 = after.filter(_.startsWith("2024/07/01/09/"))
    assert(newH9.nonEmpty)
    newH9.foreach { k =>
      assert(ZoneMaps.read(store, k).nonEmpty && BloomMaps.read(store, k).nonEmpty,
        s"replacement $k carries the write's sidecars")
    }
    assert(spark.table(s"$cat.ov").count() == 120)
    assert(spark.table(s"$cat.ov")
      .where(col("_event_hour") === lit(ts("2024-07-01T09:00:00Z"))).count() == 20)
  }

  test("replaceWhere containment: rows outside the replaced scope ABORT the commit — nothing published, nothing retired") {
    val (cat, root, store) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0)
    val before = LakeReader.listTableKeys(store, "ov", None)
      .map(k => k -> bytesOf(store, k)).toMap
    val e = intercept[Throwable] {
      repaired(5, "2024-07-01T10:00:00Z").writeTo(s"$cat.ov")
        .overwrite(col("_event_hour") === lit(ts("2024-07-01T08:00:00Z")))
    }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("OUTSIDE the replaced scope"), msgs)
    val after = LakeReader.listTableKeys(store, "ov", None)
    assert(after.toSet == before.keySet, "aborted overwrite changes nothing")
    before.foreach { case (k, b) =>
      assert(bytesOf(store, k).sameElements(b)) }
    assert(store.list("_staging").isEmpty, "staging swept on abort")
  }

  test("dynamic partition overwrite repairs exactly the written hours; a SEALED manifest invalidates and re-lists truth") {
    val (cat, root, store) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0)
    land(root, "2024-07-01T09:00:00Z", 100)
    Manifests.seal(store, "ov", Instant.parse("2024-07-01T09:00:00Z"))
    val h9 = LakeReader.listTableKeys(store, "ov", None)
      .filter(_.startsWith("2024/07/01/09/"))
    val h9Bytes = h9.map(k => k -> bytesOf(store, k)).toMap

    repaired(30, "2024-07-01T08:00:00Z").writeTo(s"$cat.ov")
      .overwritePartitions()

    assert(!store.exists(Manifests.manifestKey("ov")),
      "overwriting a sealed hour must invalidate the manifest")
    val after = LakeReader.listTableKeys(store, "ov", None)
    assert(after.filter(_.startsWith("2024/07/01/09/")) == h9,
      "unwritten hour untouched")
    h9Bytes.foreach { case (k, b) =>
      assert(bytesOf(store, k).sameElements(b)) }
    assert(spark.table(s"$cat.ov").count() == 130)
    assert(spark.table(s"$cat.ov")
      .where(col("_event_hour") === lit(ts("2024-07-01T08:00:00Z"))).count() == 30)
  }

  test("static INSERT OVERWRITE and mode(overwrite) replace the whole table; non-hour replaceWhere refuses with the remedy") {
    val (cat, root, store) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0)
    land(root, "2024-07-02T08:00:00Z", 100)
    spark.sql(s"INSERT OVERWRITE $cat.ov " +
      "SELECT 7777L, 7L, TIMESTAMP '2024-07-03 12:00:00+00:00'")
    val keys1 = LakeReader.listTableKeys(store, "ov", None)
    assert(keys1.forall(_.startsWith("2024/07/03/12/")) && keys1.nonEmpty,
      s"static overwrite replaces everything: $keys1")
    assert(spark.table(s"$cat.ov").count() == 1)

    import spark.implicits._
    Seq((1L, 9L), (2L, 9L)).toDF("id", "v")
      .withColumn("_event_hour", lit(ts("2024-07-04T00:00:00Z")))
      .write.format("graft-lake").option("table", "ov")
      .mode("overwrite").save(root)
    val keys2 = LakeReader.listTableKeys(store, "ov", None)
    assert(keys2.forall(_.startsWith("2024/07/04/00/")),
      s"path-based overwrite = truncate + append: $keys2")
    assert(spark.table(s"$cat.ov").count() == 2)

    val e = intercept[Throwable] {
      repaired(1, "2024-07-04T00:00:00Z").writeTo(s"$cat.ov")
        .overwrite(col("v") === 9L)
    }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("DELETE FROM") || msgs.contains("overwrite"),
      s"non-hour replaceWhere names the remedy: $msgs")
  }

  test("an append RACING a replaceWhere survives: the doomed scope is the commit-time listing, concurrent fresh keys are never retired") {
    val (cat, root, store) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0)
    // the race, deterministically: the overwrite's commit has listed
    // its doomed scope and published its replacements, and is about to
    // CAS — an append lands INSIDE the replaced hour in that window
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
      try repaired(10, "2024-07-01T08:00:00Z").writeTo(s"$cat.ov")
        .overwrite(col("_event_hour") === lit(ts("2024-07-01T08:00:00Z")))
      catch { case e: Throwable => err.set(e) })
    try {
      t.start()
      assert(entered.await(60, java.util.concurrent.TimeUnit.SECONDS))
      land(root, "2024-07-01T08:00:00Z", 9000, n = 5) // the racing append
    } finally {
      gate.countDown()
      t.join(120000)
      LakeVersions.beforeCasHook = _ => ()
    }
    assert(err.get() == null, s"the overwrite must commit: ${err.get()}")
    // the replaced scope is gone, the repair landed, AND the racing
    // append's 5 rows survived — a fresh key is never in the doomed set
    val ids = spark.table(s"$cat.ov").select("id").collect()
      .map(_.getLong(0)).sorted
    assert(ids.toSeq == ((500L until 510L) ++ (9000L until 9005L)).sorted,
      s"repair + racing append, nothing else: ${ids.mkString(",")}")
  }
}
