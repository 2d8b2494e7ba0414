package graft.lake

import graft.SparkSuite
import graft.types.{ColType, TableSchema}

import java.io.{InputStream, OutputStream}
import java.time.Instant

import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** Sealed-hours manifests ([[Manifests]]): reads of old hours off ONE
  * object instead of a LIST per hour directory — advisory (anything off
  * falls back to the raw walk), write-invalidated at every publish path
  * that can touch a covered hour. */
class ManifestSpec extends SparkSuite {

  /** Counts BOTH listing kinds — the claim is fewer metadata calls. */
  private final class MeteredStore(inner: Store) extends Store {
    val listCalls = ArrayBuffer.empty[String]
    val listDirCalls = ArrayBuffer.empty[String]
    override def put(key: String, data: InputStream): Unit = inner.put(key, data)
    override def create(key: String): OutputStream = inner.create(key)
    override def open(key: String): InputStream = inner.open(key)
    override def list(prefix: String): Seq[String] = {
      listCalls += prefix; inner.list(prefix)
    }
    override def exists(key: String): Boolean = inner.exists(key)
    override def delete(key: String): Unit = inner.delete(key)
    override def listDirs(prefix: String): Seq[String] = {
      listDirCalls += prefix; inner.listDirs(prefix)
    }
    override def rootUri: String = inner.rootUri
  }

  private val schema = TableSchema("mt", Seq(
    "id" -> ColType.CInteger, "tag" -> ColType.CString))

  private def freshRoot() = tempUri("graft-manifest-spec")

  private def land(root: String, hour: String, ids: Range): Unit = {
    import spark.implicits._
    LakeWriter.write(
      ids.map(i => (i.toLong, s"t${i % 3}")).toDF("id", "tag")
        .orderBy("id").coalesce(1),
      schema, root, Instant.parse(hour),
      maxRecordsPerObject = math.max(1L, ids.size / 2L))
  }

  private def lake3(root: String): Unit = {
    land(root, "2024-06-10T08:00:00Z", 0 until 20)
    land(root, "2024-06-10T09:00:00Z", 20 until 40)
    land(root, "2024-06-10T10:00:00Z", 40 until 60)
  }

  test("seal: listTableKeys answers sealed hours off the manifest, live tail off the walk — keys identical to raw") {
    val root = freshRoot()
    lake3(root)
    val store = new HadoopStore(root)
    val raw = LakeReader.rawListTableKeys(store, "mt", None)
    assert(Manifests.seal(store, "mt", Instant.parse("2024-06-10T09:00:00Z")) == 4L)
    val m = new MeteredStore(store)
    val viaManifest = LakeReader.listTableKeys(m, "mt", None)
    assert(viaManifest.sorted == raw.sorted, "manifest read ≡ raw walk")
    // no sealed-hour directory was LISTED — only the live tail (hour 10)
    assert(!m.listCalls.exists(p => p.startsWith("2024/06/10/08") ||
        p.startsWith("2024/06/10/09")),
      s"sealed hours must come off the manifest, listed: ${m.listCalls}")
    assert(m.listCalls.exists(_.startsWith("2024/06/10/10")))
    // and the live tail's LEVEL walk is bounded from below too: fewer
    // metadata calls than the raw walk end-to-end
    val r = new MeteredStore(store)
    LakeReader.rawListTableKeys(r, "mt", None)
    assert(m.listCalls.size + m.listDirCalls.size <
      r.listCalls.size + r.listDirCalls.size,
      s"manifest: ${m.listCalls.size}+${m.listDirCalls.size} vs " +
        s"raw: ${r.listCalls.size}+${r.listDirCalls.size}")
    // hour ranges: fully sealed, straddling, fully live
    def hr(a: String, b: String) = Some((Instant.parse(a), Instant.parse(b)))
    for (range <- Seq(None, hr("2024-06-10T08:00:00Z", "2024-06-10T08:59:00Z"),
                      hr("2024-06-10T09:00:00Z", "2024-06-10T10:00:00Z"),
                      hr("2024-06-10T10:00:00Z", "2024-06-10T11:00:00Z"))) {
      assert(LakeReader.listTableKeys(store, "mt", range).sorted ==
        LakeReader.rawListTableKeys(store, "mt", range).sorted,
        s"range $range must agree with the raw walk")
    }
    // a fully-sealed range touches no HOUR directory — the one listing
    // is the version-directory consult every tombstone-aware read pays
    val s2 = new MeteredStore(store)
    LakeReader.listTableKeys(s2, "mt",
      hr("2024-06-10T08:00:00Z", "2024-06-10T08:59:00Z"))
    assert(s2.listCalls == Seq(LakeVersions.dir("mt")),
      s"a fully-sealed range lists nothing but the version dir: ${s2.listCalls}")
  }

  test("writes invalidate: a backfill into a sealed hour deletes the manifest BEFORE landing; live-hour writes keep it") {
    val root = freshRoot()
    lake3(root)
    val store = new HadoopStore(root)
    Manifests.seal(store, "mt", Instant.parse("2024-06-10T09:00:00Z"))
    // live-hour write (above upTo): manifest survives, rows visible
    land(root, "2024-06-10T11:00:00Z", 100 until 110)
    assert(store.exists(Manifests.manifestKey("mt")))
    assert(LakeReader.read(spark, root, "mt").count() == 70)
    // backfill into a SEALED hour: manifest deleted, every row visible
    land(root, "2024-06-10T08:00:00Z", 200 until 210)
    assert(!store.exists(Manifests.manifestKey("mt")),
      "a covered-hour write must invalidate the manifest")
    assert(LakeReader.read(spark, root, "mt").count() == 80)
  }

  test("compact and expire invalidate before mutating; DSv2 append with an old flushTime invalidates too") {
    val root = freshRoot()
    lake3(root)
    val store = new HadoopStore(root)
    val mk = Manifests.manifestKey("mt")
    Manifests.seal(store, "mt", Instant.parse("2024-06-10T09:00:00Z"))
    LakeMaintenance.compact(spark, store, "mt", targetRecords = 1000L)
    assert(!store.exists(mk), "compact rewrites covered hours: invalidate")
    assert(LakeReader.read(spark, root, "mt").count() == 60)
    Manifests.seal(store, "mt", Instant.parse("2024-06-10T09:00:00Z"))
    val rep = LakeMaintenance.expire(store, "mt",
      Instant.parse("2024-06-10T09:00:00Z"))
    assert(rep.deleted > 0 && !store.exists(mk),
      "expire deletes covered keys: invalidate")
    assert(LakeReader.read(spark, root, "mt").count() == 40)
    // DSv2 append stamped into a sealed hour
    Manifests.seal(store, "mt", Instant.parse("2024-06-10T10:00:00Z"))
    import spark.implicits._
    val extra = Seq((300L, "x")).toDF("id", "tag")
      .withColumn("_event_hour",
        lit(java.sql.Timestamp.from(Instant.parse("2024-06-10T09:00:00Z"))))
    extra.write.format("graft-lake").option("table", "mt")
      .option("flushTime", "2024-06-10T09:30:00Z").mode("append").save(root)
    assert(!store.exists(mk), "a DSv2 append into a covered hour invalidates")
    assert(LakeReader.read(spark, root, "mt").count() == 41)
  }

  test("a seal racing an in-flight rewrite is HEALED by the post-publish invalidate") {
    val root = freshRoot()
    lake3(root)
    val inner = new HadoopStore(root)
    // the race, deterministically: mid-compaction — after compact's
    // pre-invalidate, before its publish finishes — the nightly
    // seal_manifest fires and publishes a manifest listing the OLD keys
    // compact is about to delete. Without the post-invalidate every
    // later read would answer off retired keys.
    var sealFired = false
    val racing = new Store {
      def put(k: String, d: java.io.InputStream): Unit = inner.put(k, d)
      def create(k: String): java.io.OutputStream = inner.create(k)
      def open(k: String): java.io.InputStream = inner.open(k)
      def list(p: String): Seq[String] = inner.list(p)
      def exists(k: String): Boolean = inner.exists(k)
      def delete(k: String): Unit = inner.delete(k)
      override def rename(src: String, dst: String): Unit = {
        if (!sealFired && !dst.startsWith("_")) {
          sealFired = true // the concurrent seal lands exactly mid-publish
          Manifests.seal(inner, "mt", Instant.parse("2024-06-10T10:00:00Z"))
        }
        inner.rename(src, dst)
      }
      override def listDirs(p: String): Seq[String] = inner.listDirs(p)
      def rootUri: String = inner.rootUri
    }
    // ONE hour group: the injected seal runs synchronously inside the
    // group's first publish rename, so its listing never races a
    // concurrent group's deletes (the race under test is seal-vs-compact
    // MANIFEST staleness, not local-FS list-while-delete flake)
    LakeMaintenance.compact(spark, racing, "mt",
      hourRange = Some((Instant.parse("2024-06-10T08:00:00Z"),
        Instant.parse("2024-06-10T08:59:00Z"))),
      targetRecords = 1000L)
    assert(sealFired, "the injected seal must have fired mid-publish")
    assert(!inner.exists(Manifests.manifestKey("mt")),
      "the post-publish invalidate must heal the racing seal's manifest")
    assert(LakeReader.read(spark, root, "mt").count() == 60,
      "no reader may answer off the retired key list")
  }

  test("retireObjects: the _object_key audit remedy — surgical, sidecar-complete, manifest-invalidating, idempotent") {
    import org.apache.spark.sql.functions._
    val root = freshRoot()
    lake3(root)
    val store = new HadoopStore(root)
    // re-land hour 09 WITH sidecars so retirement provably removes them
    LakeMaintenance.expire(store, "mt", Instant.parse("2099-01-01T00:00:00Z"))
    import spark.implicits._
    LakeWriter.write((0 until 60).map(i => (i.toLong, s"t${i % 3}"))
      .toDF("id", "tag").orderBy("id").coalesce(1),
      schema, root, Instant.parse("2024-06-10T09:00:00Z"),
      maxRecordsPerObject = 20L, zoneMaps = true, bloomColumns = Seq("tag"))
    Manifests.seal(store, "mt", Instant.parse("2024-06-10T09:00:00Z"))
    // the audit: find the object holding id 25 through the connector
    val victim = spark.read.format("graft-lake").option("table", "mt").load(root)
      .where(col("id") === 25L).select(col("_object_key"))
      .collect().head.getString(0)
    assert(LakeMaintenance.retireObjects(store, Seq(victim)) == 1)
    assert(!store.exists(victim) &&
      !store.exists(ZoneMaps.statsKey(victim)) &&
      !store.exists(BloomMaps.bloomKey(victim)),
      "the object and BOTH sidecars must go")
    assert(!store.exists(Manifests.manifestKey("mt")),
      "retiring a covered object invalidates the manifest")
    val after = LakeReader.read(spark, root, "mt")
    assert(after.count() == 40 &&
      after.where(col("id") === 25L).count() == 0)
    // idempotent: the retry reports 0 existing, changes nothing
    assert(LakeMaintenance.retireObjects(store, Seq(victim)) == 0)
    // non-key names refuse loudly (surgical by contract, never a sweep)
    intercept[IllegalArgumentException] {
      LakeMaintenance.retireObjects(store, Seq("not/a/key"))
    }
    // and the SQL surface
    val cat = s"rcat${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val next = LakeReader.listTableKeys(store, "mt", None).head
    val rep = spark.sql(
      s"CALL $cat.system.retire_objects(keys => '$next')").collect().head
    assert(rep.getInt(0) == 1 && rep.getInt(1) == 1)
    assert(LakeReader.read(spark, root, "mt").count() == 20)
    // a key named twice is ONE retirement (the report never inflates)
    val dupTarget = LakeReader.listTableKeys(store, "mt", None).head
    assert(LakeMaintenance.retireObjects(store,
      Seq(dupTarget, dupTarget)) == 1)
    assert(LakeReader.listTableKeys(store, "mt", None).isEmpty)
  }

  test("torn or lying manifests read as ABSENT, never as wrong keys") {
    val root = freshRoot()
    lake3(root)
    val store = new HadoopStore(root)
    val raw = LakeReader.rawListTableKeys(store, "mt", None).sorted
    def plant(content: String): Unit = {
      val out = new java.util.zip.GZIPOutputStream(
        store.create(Manifests.manifestKey("mt")))
      out.write(content.getBytes("UTF-8")); out.close()
    }
    // truncated body (count lies)
    plant("graft-manifest v1 upTo=2024/06/10/09 count=7\n2024/06/10/08/mt/x.csv.gz\n")
    assert(Manifests.read(store, "mt").isEmpty)
    assert(LakeReader.listTableKeys(store, "mt", None).sorted == raw)
    // a key that is not this table's
    plant("graft-manifest v1 upTo=2024/06/10/09 count=1\n2024/06/10/08/other/x.csv.gz\n")
    assert(Manifests.read(store, "mt").isEmpty)
    // a key ABOVE upTo (a manifest may never claim unsealed hours)
    plant("graft-manifest v1 upTo=2024/06/10/09 count=1\n2024/06/10/10/mt/x.csv.gz\n")
    assert(Manifests.read(store, "mt").isEmpty)
    // not even gzip
    store.put(Manifests.manifestKey("mt"),
      new java.io.ByteArrayInputStream("garbage".getBytes("UTF-8")))
    assert(Manifests.read(store, "mt").isEmpty)
    assert(LakeReader.listTableKeys(store, "mt", None).sorted == raw)
  }

  test("seal refuses the open wall-clock hour; sealing is staged (no torn manifest ever visible)") {
    val root = freshRoot()
    lake3(root)
    val store = new HadoopStore(root)
    intercept[IllegalArgumentException] {
      Manifests.seal(store, "mt", Instant.now())
    }
    Manifests.seal(store, "mt", Instant.parse("2024-06-10T09:00:00Z"))
    assert(store.list("_staging").isEmpty, "no staging residue after seal")
    val m = Manifests.read(store, "mt").get
    assert(m.upTo == "2024/06/10/09" && m.keys.size == 4 &&
      m.keys == m.keys.sorted)
  }

  test("invalidateIfCovers decides off the HEADER alone — the sealed-table flush hot path never downloads the key list") {
    val root = freshRoot()
    lake3(root)
    val store = new HadoopStore(root)
    Manifests.seal(store, "mt", Instant.parse("2024-06-10T09:00:00Z"))
    // corrupt the BODY while keeping the header: the strict read now
    // returns None, so the old full-read guard would have DELETED this
    // manifest even for a publish far above upTo — the header-only
    // guard must keep it (readers ignore a body-corrupt manifest; a
    // reseal repairs it; the hot path stays one ranged header read)
    val hdr = "graft-manifest v1 upTo=2024/06/10/09 count=2\n"
    val out = new java.util.zip.GZIPOutputStream(
      store.create(Manifests.manifestKey("mt")))
    out.write((hdr + "not-a-key\n garbage\n").getBytes("UTF-8"))
    out.close()
    assert(Manifests.read(store, "mt").isEmpty, "body is corrupt")
    assert(Manifests.readHeader(store, "mt").contains("2024/06/10/09"))
    Manifests.invalidateIfCovers(store, "mt", "2024/06/10/10")
    assert(store.exists(Manifests.manifestKey("mt")),
      "a publish above upTo must not touch the manifest (header decides)")
    // a COVERED publish deletes, body state irrelevant
    Manifests.invalidateIfCovers(store, "mt", "2024/06/10/08")
    assert(!store.exists(Manifests.manifestKey("mt")))
    // unreadable HEADER: conservative delete even for an above-seal hour
    store.put(Manifests.manifestKey("mt"),
      new java.io.ByteArrayInputStream("not gzip".getBytes("UTF-8")))
    Manifests.invalidateIfCovers(store, "mt", "2024/06/10/10")
    assert(!store.exists(Manifests.manifestKey("mt")),
      "an unreadable header cannot prove non-coverage — delete")
  }

  test("a seal that fails mid-write leaves no _staging orphan") {
    val root = freshRoot()
    lake3(root)
    val store = new HadoopStore(root)
    val failing = new Store {
      override def put(key: String, data: InputStream): Unit = store.put(key, data)
      override def create(key: String): OutputStream = {
        val out = store.create(key)
        new OutputStream {
          private var n = 0
          override def write(b: Int): Unit = {
            n += 1
            if (n > 32) throw new java.io.IOException("injected mid-write")
            out.write(b)
          }
          override def close(): Unit = out.close()
        }
      }
      override def open(key: String): InputStream = store.open(key)
      override def list(prefix: String): Seq[String] = store.list(prefix)
      override def listDirs(prefix: String): Seq[String] = store.listDirs(prefix)
      override def exists(key: String): Boolean = store.exists(key)
      override def delete(key: String): Unit = store.delete(key)
      override def rootUri: String = store.rootUri
    }
    intercept[Exception] {
      Manifests.seal(failing, "mt", Instant.parse("2024-06-10T09:00:00Z"))
    }
    assert(store.list("_staging").isEmpty,
      "the failed seal must delete its staged manifest")
    // and the table still has no (torn) manifest
    assert(!store.exists(Manifests.manifestKey("mt")))
  }

  test("the whole read surface rides the manifest: connector scan, stream discovery, CALL seal_manifest") {
    val root = freshRoot()
    lake3(root)
    val store = new HadoopStore(root)
    // SQL: CALL lake.system.seal_manifest
    val cat = s"mcat${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val rep = spark.sql(s"CALL $cat.system.seal_manifest(table => 'mt', " +
      "up_to => TIMESTAMP '2024-06-10 09:00:00')").collect().head
    assert(rep.getLong(0) == 4L && rep.getString(1) == "2024/06/10/09")
    // connector read equals the pre-seal truth
    val viaDsv2 = spark.read.format("graft-lake").option("table", "mt").load(root)
    assert(viaDsv2.count() == 60)
    assert(viaDsv2.where(col("id") < 20L).count() == 20) // sealed-hour rows
    // stream discovery (listTableKeys-shared): full drain sees all 60
    spark.catalog.dropTempView("mt_drain")
    val q = spark.readStream.format("graft-lake").option("table", "mt").load(root)
      .writeStream.format("memory").queryName("mt_drain").outputMode("append")
      .option("checkpointLocation",
        tempDir("mt-ckpt").toFile.getAbsolutePath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.table("mt_drain").count() == 60)
    assert(store.exists(Manifests.manifestKey("mt")), "reads never invalidate")
  }
}
