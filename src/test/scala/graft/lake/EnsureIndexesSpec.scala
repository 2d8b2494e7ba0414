package graft.lake

import graft.SparkSuite
import graft.types.{ColType, TableSchema}

import java.io.{InputStream, OutputStream}
import java.time.Instant

import scala.collection.mutable.ArrayBuffer

/** Delegating store that records listing calls — the seam
  * [[LakeMaintenance.ensureIndexes]]'s one-listing claim is pinned on. */
final class CountingStore(inner: Store) extends Store {
  val listCalls = ArrayBuffer.empty[String]
  override def put(key: String, data: InputStream): Unit = inner.put(key, data)
  override def create(key: String): OutputStream = inner.create(key)
  override def open(key: String): InputStream = inner.open(key)
  override def list(prefix: String): Seq[String] = {
    listCalls += prefix; inner.list(prefix)
  }
  override def exists(key: String): Boolean = inner.exists(key)
  override def delete(key: String): Unit = inner.delete(key)
  override def listDirs(prefix: String): Seq[String] = inner.listDirs(prefix)
  override def rootUri: String = inner.rootUri
}

class EnsureIndexesSpec extends SparkSuite {

  private val schema = TableSchema("bt", Seq(
    "id" -> ColType.CInteger, "tag" -> ColType.CString))

  private def freshLake(): (String, Seq[String]) = {
    import spark.implicits._
    val root = tempUri("graft-ensure-spec")
    val df = (0 until 1000).map(i => (i.toLong, s"t${i / 250}"))
      .toDF("id", "tag").orderBy("id").coalesce(1)
    LakeWriter.write(df, schema, root, Instant.parse("2024-06-10T08:00:00Z"),
      maxRecordsPerObject = 250L, zoneMaps = true, bloomColumns = Seq("tag"))
    val keys = LakeReader.listTableKeys(new HadoopStore(root), "bt", None).sorted
    (root, keys)
  }

  private def sidecarBytes(store: Store, keys: Seq[String]): Map[String, String] =
    keys.flatMap { k =>
      Seq(ZoneMaps.statsKey(k), BloomMaps.bloomKey(k)).flatMap { sk =>
        if (store.exists(sk))
          Some(sk -> new String(store.open(sk).readAllBytes(), "UTF-8"))
        else None
      }
    }.toMap

  test("ensureIndexes: both sidecar kinds + orphan sweep off ONE listing, byte-identical to the two builds") {
    val (root, keys) = freshLake()
    val inner = new HadoopStore(root)
    // break the lake: one missing stats sidecar, one missing bloom, one
    // orphan sidecar (data object gone), one unknown-kind file
    inner.delete(ZoneMaps.statsKey(keys(0)))
    inner.delete(BloomMaps.bloomKey(keys(2)))
    val ghost = "2024/06/10/08/bt/ghost-object.csv.gz"
    val o1 = inner.create(ZoneMaps.statsKey(ghost))
    o1.write("""{"records":1,"cols":{}}""".getBytes("UTF-8")); o1.close()
    val weird = ZoneMaps.Prefix + "2024/06/10/08/bt/mystery.xyz"
    val o2 = inner.create(weird)
    o2.write("???".getBytes("UTF-8")); o2.close()

    val counting = new CountingStore(inner)
    val rep = LakeMaintenance.ensureIndexes(spark, counting, "bt", Seq("tag"))
    assert(rep == LakeMaintenance.EnsureReport(1, 1, 1), s"$rep")
    // the one listing snapshot: exactly ONE _zmaps listing for the one
    // hour/table prefix (the two incremental builds would each do one),
    // and exactly one data listing
    assert(counting.listCalls.count(_.startsWith(ZoneMaps.Prefix)) == 1,
      s"one _zmaps listing for both sidecar kinds: ${counting.listCalls}")
    assert(counting.listCalls.count(p => !p.startsWith(ZoneMaps.Prefix) &&
        !p.startsWith(LakeVersions.Prefix)) == 1,
      s"one data listing: ${counting.listCalls}")
    // orphan swept, unknown kind untouched
    assert(!inner.exists(ZoneMaps.statsKey(ghost)))
    assert(inner.exists(weird), "unknown sidecar kinds are not the sweep's to delete")
    // every live object has both sidecars again
    keys.foreach { k =>
      assert(inner.exists(ZoneMaps.statsKey(k)) && inner.exists(BloomMaps.bloomKey(k)))
    }
    val ensured = sidecarBytes(inner, keys)

    // re-break identically; the two incremental builds must produce the
    // SAME bytes ensureIndexes did (it is those builds, re-plumbed)
    inner.delete(ZoneMaps.statsKey(keys(0)))
    inner.delete(BloomMaps.bloomKey(keys(2)))
    assert(ZoneMaps.buildIndex(spark, root, "bt", onlyMissing = true) == 1)
    assert(BloomMaps.buildIndex(spark, root, "bt", Seq("tag"),
      onlyMissing = true) == 1)
    assert(sidecarBytes(inner, keys) == ensured,
      "ensureIndexes must land byte-identical sidecars to the two builds")

    // a clean lake is a no-op (and still sweeps nothing)
    val rep2 = LakeMaintenance.ensureIndexes(spark, new CountingStore(inner),
      "bt", Seq("tag"))
    assert(rep2 == LakeMaintenance.EnsureReport(0, 0, 0), s"$rep2")
    // bad bloom shape fails before any work
    intercept[IllegalArgumentException] {
      LakeMaintenance.ensureIndexes(spark, inner, "bt", Seq("tag"),
        bloomHashes = 99)
    }
  }

  test("ensureIndexes sweeps orphans in hours whose data objects are ALL gone") {
    val (root, keys) = freshLake()
    val inner = new HadoopStore(root)
    // simulate a retention pass whose SIDECAR deletes all failed: every
    // data object of the hour is gone, sidecars remain — no live data
    // key names this hour, so a data-prefix-only sweep would never list
    // it; the _zmaps mirror walk must
    keys.foreach(inner.delete)
    assert(LakeReader.listTableKeys(inner, "bt", None).isEmpty)
    val sidecarsBefore = inner.list(ZoneMaps.Prefix)
      .count(k => k.endsWith(".zmap") || k.endsWith(".bloom"))
    assert(sidecarsBefore == keys.size * 2)
    val rep = LakeMaintenance.ensureIndexes(spark, inner, "bt", Seq("tag"))
    assert(rep == LakeMaintenance.EnsureReport(0, 0, keys.size * 2),
      s"all orphaned sidecars of the dead hour must sweep: $rep")
    assert(inner.list(ZoneMaps.Prefix)
      .count(k => k.endsWith(".zmap") || k.endsWith(".bloom")) == 0)
  }
}
