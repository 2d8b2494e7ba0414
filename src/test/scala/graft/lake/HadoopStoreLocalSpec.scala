package graft.lake

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath, Paths}
import java.nio.file.attribute.FileTime

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs

/** [[HadoopStore]]'s java.nio branches on a `file://` root: they list,
  * stamp, create and rename exactly as the Hadoop local filesystem does,
  * start no `chmod`/`ls` process, and stay the only place `src/main`
  * reaches the Hadoop calls that start one. Every store shares one
  * Hadoop `Configuration`. */
class HadoopStoreLocalSpec extends AnyFunSuite with TempDirs {
  import HadoopStoreLocalSpec.scalaSources

  private def write(f: JPath, s: String, mtime: Long): Unit = {
    Files.createDirectories(f.getParent)
    Files.write(f, s.getBytes(UTF_8))
    Files.setLastModifiedTime(f, FileTime.fromMillis(mtime))
  }

  private def read(store: Store, key: String): String = {
    val in = store.open(key)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** A lake-shaped tree: nested hour dirs, a sidecar prefix, an empty
    * directory with its own stamp. Returns the root and its store. */
  private def tree(): (JPath, HadoopStore) = {
    val root = tempDir("graft-local-store")
    write(root.resolve("2024/06/10/00/ev/a.csv.gz"), "a", 1000000L)
    write(root.resolve("2024/06/10/01/ev/b.csv.gz"), "bb", 3000000L)
    write(root.resolve("2024/06/10/01/ev/c.csv.gz"), "ccc", 2000000L)
    write(root.resolve("2024/06/11/00/ev/d.csv.gz"), "d", 4000000L)
    write(root.resolve("_zonemaps/2024/06/10/00/ev/a.csv.gz.json"), "{}", 5000000L)
    val empty = Files.createDirectories(root.resolve("_staging/empty"))
    Files.setLastModifiedTime(empty, FileTime.fromMillis(6000000L))
    (root, new HadoopStore(root.toUri.toString))
  }

  private def hadoopPath(root: JPath, prefix: String) =
    if (prefix.isEmpty) new Path(root.toUri) else new Path(new Path(root.toUri), prefix)

  /** What the Hadoop branch returns: the raw local filesystem's own
    * recursive walk and modification times. */
  private def hadoopList(root: JPath, prefix: String): Seq[String] = {
    val fs = FileSystem.getLocal(new Configuration()).getRawFileSystem
    val base = hadoopPath(root, prefix)
    if (!fs.exists(base)) return Seq.empty
    val it = fs.listFiles(base, true)
    val out = Seq.newBuilder[String]
    while (it.hasNext) out += root.relativize(Paths.get(it.next().getPath.toUri)).toString
    out.result()
  }

  private def hadoopNewest(root: JPath, prefix: String): Option[Long] = {
    val fs = FileSystem.getLocal(new Configuration()).getRawFileSystem
    val base = hadoopPath(root, prefix)
    if (!fs.exists(base)) return None
    val it = fs.listFiles(base, true)
    var newest = -1L
    while (it.hasNext) newest = math.max(newest, it.next().getModificationTime)
    Some(if (newest >= 0) newest else fs.getFileStatus(base).getModificationTime)
  }

  test("list and newestModification match Hadoop's listFiles and mtimes on the same tree") {
    val (root, store) = tree()
    val cases = Seq(
      "" -> Some(5000000L), // files only: the newer empty dir does not count
      "2024/06/10" -> Some(3000000L),
      "2024/06/10/01/ev/c.csv.gz" -> Some(2000000L),
      "_staging/empty" -> Some(6000000L), // no files: the prefix's own stamp
      "2031/no/such" -> None)
    for ((prefix, newest) <- cases) {
      assert(store.list(prefix) == hadoopList(root, prefix), prefix)
      assert(store.newestModification(prefix).map(_.toEpochMilli) == newest, prefix)
      assert(hadoopNewest(root, prefix) == newest, prefix)
    }
    assert(store.list("2024/06/10").sorted == Seq(
      "2024/06/10/00/ev/a.csv.gz", "2024/06/10/01/ev/b.csv.gz", "2024/06/10/01/ev/c.csv.gz"))
    assert(store.list("2024/06/10/01/ev/c.csv.gz") == Seq("2024/06/10/01/ev/c.csv.gz"))
    assert(store.list("_staging/empty").isEmpty)
    assert(store.list("2031/no/such").isEmpty)
  }

  test("create truncates an existing key and creates its parents") {
    val root = tempDir("graft-local-create")
    val store = new HadoopStore(root.toUri.toString)
    val w0 = StoreOps.writes.get
    val out = store.create("2024/06/10/00/ev/k.csv")
    out.write("a much longer first version".getBytes(UTF_8)); out.close()
    val again = store.create("2024/06/10/00/ev/k.csv")
    again.write("v2".getBytes(UTF_8)); again.close()
    assert(StoreOps.writes.get - w0 == 2)
    assert(read(store, "2024/06/10/00/ev/k.csv") == "v2")
    assert(Files.isDirectory(root.resolve("2024/06/10/00/ev")))
    store.put("x/y.txt", new java.io.ByteArrayInputStream("put".getBytes(UTF_8)))
    assert(read(store, "x/y.txt") == "put")
  }

  test("a put whose stream fails midway leaves no object at the key") {
    val root = tempDir("graft-local-torn")
    val store = new HadoopStore(root.toUri.toString)
    var closed = false
    // 100 KB of data, then the stream fails
    val failing = new java.io.InputStream {
      private var left = 100 * 1024
      def read(): Int =
        if (left == 0) throw new java.io.IOException("stream broke")
        else { left -= 1; 'x' }
      override def close(): Unit = closed = true
    }
    val e = intercept[java.io.IOException](store.put("2024/06/10/00/ev/torn.csv.gz", failing))
    assert(e.getMessage == "stream broke")
    assert(closed, "put closes its stream on failure too")
    assert(!store.exists("2024/06/10/00/ev/torn.csv.gz"), "a torn object was left at the key")
    assert(store.list("").isEmpty)
  }

  test("rename onto an existing key replaces it, into a missing parent creates it") {
    val root = tempDir("graft-local-rename")
    val store = new HadoopStore(root.toUri.toString)
    store.put("s/new", new java.io.ByteArrayInputStream("new".getBytes(UTF_8)))
    store.put("d/old", new java.io.ByteArrayInputStream("old content".getBytes(UTF_8)))
    store.rename("s/new", "d/old")
    assert(read(store, "d/old") == "new")
    assert(!store.exists("s/new"))
    store.rename("d/old", "e/f/moved")
    assert(read(store, "e/f/moved") == "new")
    assert(store.list("").sorted == Seq("e/f/moved"))
    intercept[java.nio.file.FileAlreadyExistsException](store.createExclusive("e/f/moved"))
  }

  test("with no chmod or ls on PATH, the store and the schema fingerprint still work") {
    val root = tempDir("graft-no-shell")
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val pb = new ProcessBuilder(java, "-Xmx256m", "-cp", System.getProperty("java.class.path"),
      LocalStoreProbe.getClass.getName.stripSuffix("$"), root.toString)
    pb.environment().put("PATH", "")
    pb.redirectErrorStream(true)
    val child = pb.start()
    val output = new String(child.getInputStream.readAllBytes(), UTF_8)
    val code = child.waitFor()
    assert(code == 0 && output.contains(LocalStoreProbe.Done),
      s"the probe needed a shell command (exit $code):\n$output")
  }

  test("every store, and a copy deserialized as executors receive it, shares the JVM's one Configuration") {
    val a = new HadoopStore(tempDir("graft-conf-a").toUri.toString)
    val b = new HadoopStore(tempDir("graft-conf-b").toUri.toString)
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(a); out.close()
    val copy = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes.toByteArray))
      .readObject().asInstanceOf[HadoopStore]
    assert(copy ne a)
    for (s <- Seq(a, b, copy)) assert(s.conf eq HadoopStore.conf, s.rootUri)
    a.put("k", new java.io.ByteArrayInputStream("v".getBytes(UTF_8)))
    assert(read(copy, "k") == "v")
  }

  test("src/main/scala/graft/lake builds a Hadoop Configuration only in object HadoopStore") {
    val lake = Paths.get("src", "main", "scala", "graft", "lake")
    assert(Files.isDirectory(lake), s"run from the repo root; no $lake")
    val hits = for {
      file <- scalaSources(lake)
      lines = new String(Files.readAllBytes(file), UTF_8).split("\n").toSeq
      (line, n) <- lines.zipWithIndex if line.contains("new Configuration(")
      owner = lines.take(n + 1).reverseIterator.find(l =>
        l.startsWith("object ") || l.startsWith("final class ") || l.startsWith("class "))
      if !(file.getFileName.toString == "Store.scala" && owner.exists(_.startsWith("object HadoopStore")))
    } yield s"$file:${n + 1}: ${line.trim}"
    assert(hits.isEmpty, "each new Configuration re-parses Hadoop's XML defaults; " +
      s"use HadoopStore.conf:\n${hits.mkString("\n")}")
  }

  test("src/main calls Hadoop's create, mkdirs and listFiles only in Store's non-local branches") {
    val main = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(main), s"run from the repo root; no $main")
    // java.io.File#listFiles() takes no arguments; Hadoop's takes a path
    val banned = """\bfs\.create\(|\bfs\.mkdirs\(|\blistFiles\(\s*[^)\s]""".r
    val hits = for {
      file <- scalaSources(main)
      lines = new String(Files.readAllBytes(file), UTF_8).split("\n").toSeq
      (line, n) <- lines.zipWithIndex if banned.findFirstIn(line).isDefined
      // inside Store.scala the call must sit in the branch of a `local`
      // match that the local filesystem never takes
      branch = lines.take(n + 1).reverseIterator.map(_.trim).find(_.startsWith("case "))
      if !(file.getFileName.toString == "Store.scala" &&
        branch.exists(b => b.startsWith("case None =>") || b.startsWith("case _ =>")))
    } yield s"$file:${n + 1}: ${line.trim}"
    assert(hits.isEmpty, "on file:// these fork chmod/ls per object without native Hadoop; " +
      s"go through HadoopStore or FileSystem.listStatus:\n${hits.mkString("\n")}")
  }
}

object HadoopStoreLocalSpec {
  /** Every `.scala` file under `dir`: the walk the source guards share. */
  def scalaSources(dir: JPath): Seq[JPath] = {
    val s = Files.walk(dir)
    try s.filter(_.toString.endsWith(".scala")).toArray.toSeq.map(_.asInstanceOf[JPath])
    finally s.close()
  }
}

/** Child-JVM half of the no-shell test: drives every java.nio branch
  * and the schema fingerprint on a `file://` root and prints [[Done]]. */
object LocalStoreProbe {
  val Done = "local store probe done"

  def main(args: Array[String]): Unit = {
    val root = Paths.get(args(0))
    val store = new HadoopStore(root.toUri.toString)
    val out = store.create("2024/06/10/00/ev/a.csv")
    out.write("a".getBytes(UTF_8)); out.close()
    store.createExclusive("2024/06/10/00/ev/b.csv").close()
    store.rename("2024/06/10/00/ev/b.csv", "2024/06/10/01/ev/b.csv")
    val keys = store.list("2024").sorted
    require(keys == Seq("2024/06/10/00/ev/a.csv", "2024/06/10/01/ev/b.csv"), keys)
    require(store.newestModification("2024").isDefined)
    val fp = graft.queries.SchemaCatalog.fingerprint(new Configuration(), root.resolve("2024").toString)
    require(fp.map(_.map(_._1)).contains(Seq("/06/10/00/ev/a.csv", "/06/10/01/ev/b.csv")), fp)
    println(Done)
  }
}
