package graft.lake

import java.io.{ByteArrayInputStream, InputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs

/** [[StagedPublish]] is the one place that knows which sidecars travel
  * with a lake object and how a staging prefix is swept. Its store
  * operations are pinned here against a recording [[Store]]; the epoch
  * publish is pinned through both streaming sinks in FaultyStoreSpec,
  * StreamingSpec, LakeSinkDmlSpec and LakeDataSourceSpec. The guard at the
  * end keeps hand-copied moves, sweeps and epoch seeds from coming back. */
class StagedPublishSpec extends AnyFunSuite with TempDirs {

  /** Delegates to a real store and records every mutation, in order. */
  private final class RecordingStore(inner: Store) extends Store {
    val ops = scala.collection.mutable.ArrayBuffer.empty[String]
    var failDeleteOf: Set[String] = Set.empty
    override def put(key: String, data: InputStream): Unit = inner.put(key, data)
    override def create(key: String): OutputStream = inner.create(key)
    override def open(key: String): InputStream = inner.open(key)
    override def list(prefix: String): Seq[String] = inner.list(prefix)
    override def exists(key: String): Boolean = inner.exists(key)
    override def delete(key: String): Unit = {
      ops += s"delete $key"
      if (failDeleteOf(key)) throw new java.io.IOException(s"injected delete failure at $key")
      inner.delete(key)
    }
    override def rename(src: String, dst: String): Unit = {
      ops += s"rename $src -> $dst"
      inner.rename(src, dst)
    }
    override def listDirs(prefix: String): Seq[String] = inner.listDirs(prefix)
    override def rootUri: String = inner.rootUri
  }

  private val key = "2024/06/10/00/ev/a.csv.gz"

  private def withObject(keys: String*): RecordingStore = {
    val store = new RecordingStore(new HadoopStore(tempUri("staged-publish")))
    keys.foreach(k => store.put(k, new ByteArrayInputStream("x".getBytes(UTF_8))))
    store
  }

  test("remove deletes the object, its stats sidecar and its bloom exactly once each") {
    val store = withObject(key, ZoneMaps.statsKey(key), BloomMaps.bloomKey(key))
    StagedPublish.remove(store, key, "spec")
    assert(store.ops == Seq(key, ZoneMaps.statsKey(key), BloomMaps.bloomKey(key))
      .map(k => s"delete $k"))
    assert(store.list("").isEmpty)
  }

  test("remove signals a failed sidecar delete and throws a failed object delete") {
    val store = withObject(key, ZoneMaps.statsKey(key), BloomMaps.bloomKey(key))
    store.failDeleteOf = Set(ZoneMaps.statsKey(key))
    StagedPublish.remove(store, key, "spec") // signaled on stderr, not thrown
    assert(store.list("") == Seq(ZoneMaps.statsKey(key)))
    store.failDeleteOf = Set(key)
    store.ops.clear()
    intercept[java.io.IOException](StagedPublish.remove(store, key, "spec"))
    assert(store.ops == Seq(s"delete $key"), "no sidecar delete after a failed object delete")
  }

  test("move renames the object and only the sidecars its policy wrote") {
    val staged = s"_staging/x/$key"
    for (zoneMaps <- Seq(false, true); blooms <- Seq(false, true)) {
      val sidecars = (if (zoneMaps) Seq(ZoneMaps.statsKey _) else Nil) ++
        (if (blooms) Seq(BloomMaps.bloomKey _) else Nil)
      val store = withObject(staged +: sidecars.map(_(staged)): _*)
      StagedPublish.move(store, staged, key, zoneMaps, blooms)
      assert(store.ops == (identity[String] _ +: sidecars).map(f =>
        s"rename ${f(staged)} -> ${f(key)}"))
      assert(store.list("").sorted == (key +: sidecars.map(_(key))).sorted)
    }
  }

  test("sweep deletes a staging prefix with its _zmaps mirror and swallows faults") {
    val staging = StagedPublish.stagingPrefix("spec")
    assert(staging.startsWith("_staging/spec-"))
    val staged = s"$staging/$key"
    val store = withObject(staged, ZoneMaps.statsKey(staged), BloomMaps.bloomKey(staged),
      key)
    StagedPublish.sweep(store, staging)
    assert(store.list("") == Seq(key))
    store.failDeleteOf = Set(key)
    StagedPublish.sweep(store, "") // best effort: never throws
  }

  test("src/main moves, sweeps and names epoch objects only through StagedPublish") {
    val main = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(main), s"run from the repo root; no $main")
    val banned = Seq(
      """deletePrefix\(\s*(graft\.lake\.)?ZoneMaps\.Prefix""".r,
      """rename\(\s*(graft\.lake\.)?(ZoneMaps\.statsKey|BloomMaps\.bloomKey)\(""".r)
    val epochSeed = """(?i)epoch|seed""".r
    val hits = for {
      file <- HadoopStoreLocalSpec.scalaSources(main)
      if file.getFileName.toString != "StagedPublish.scala"
      lines = new String(Files.readAllBytes(file), UTF_8).split("\n").toSeq
      (line, n) <- lines.zipWithIndex
      if banned.exists(_.findFirstIn(line).isDefined) ||
        (line.contains("nameUUIDFromBytes") &&
          epochSeed.findFirstIn(lines.slice(n - 3, n + 3).mkString("\n")).isDefined)
    } yield s"$file:${n + 1}: ${line.trim}"
    assert(hits.isEmpty, "use StagedPublish.move/sweep/publishEpoch:\n" + hits.mkString("\n"))
  }
}
