package graft.queries

import java.io.File
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The query scratch-state contract of [[Fixtures]]: every slot sits in
  * this pid's tree, the startup reaper removes dead or week-stale trees
  * and keeps live young ones, and no query source grows its own slot,
  * wipe or catalog registration again. */
class FixturesSpec extends AnyFunSuite {

  private val Day = 24L * 3600 * 1000

  private def withBase(f: File => Unit): Unit = {
    val base = Files.createTempDirectory("graft-fixtures-spec").toFile
    try f(base) finally graft.Fs.deleteRecursively(base)
  }

  /** A populated pid tree under `base`, its mtime set to `mtime`. */
  private def plant(base: File, pid: Long, mtime: Long): File = {
    val tree = new File(base, pid.toString)
    val slot = new File(tree, "graft-some-lake/sf0.001")
    slot.mkdirs()
    Files.write(new File(slot, "obj.csv").toPath, "x".getBytes("UTF-8"))
    tree.setLastModified(mtime)
    tree
  }

  test("a slot under any name is inside the tree this pid's sweep deletes") {
    withBase { base =>
      val slot = Fixtures.slotIn(base, "graft-anything=1", "/data/part=7/sf=0.001")
      assert(slot.toPath.startsWith(Fixtures.pidTree(base).toPath), slot)
      val below = base.toPath.relativize(slot.toPath)
      assert(!below.toString.contains("="), s"a `=` segment turns into a partition column: $below")
      slot.mkdirs()
      Files.write(new File(slot, "obj.csv").toPath, "x".getBytes("UTF-8"))
      Fixtures.release(base)
      assert(!Fixtures.pidTree(base).exists())
    }
  }

  test("every slot access touches the pid tree") {
    withBase { base =>
      val tree = plant(base, ProcessHandle.current().pid(), System.currentTimeMillis() - 8 * Day)
      Fixtures.slotIn(base, "graft-some-lake", "sf0.001")
      assert(System.currentTimeMillis() - tree.lastModified() < Day)
    }
  }

  test("the reaper removes a dead pid's tree") {
    val dead = Iterator.from(4000000).map(_.toLong).find(p => !ProcessHandle.of(p).isPresent).get
    withBase { base =>
      val tree = plant(base, dead, System.currentTimeMillis())
      Fixtures.reap(base, System.currentTimeMillis())
      assert(!tree.exists(), s"pid $dead is not alive; its tree must go")
    }
  }

  test("the reaper keeps this pid's young tree and names that are not pids") {
    withBase { base =>
      val now = System.currentTimeMillis()
      val mine = plant(base, ProcessHandle.current().pid(), now)
      val other = new File(base, "not-a-pid")
      other.mkdirs()
      other.setLastModified(now - 30 * Day)
      Fixtures.reap(base, now)
      assert(new File(mine, "graft-some-lake/sf0.001/obj.csv").exists())
      assert(other.exists())
    }
  }

  test("the reaper removes a live pid's tree untouched for 8 days") {
    withBase { base =>
      val now = System.currentTimeMillis()
      val stale = plant(base, ProcessHandle.current().pid(), now - 8 * Day)
      Fixtures.reap(base, now)
      assert(!stale.exists(), "a week-stale tree under a live pid is a recycled pid's")
    }
  }

  test("query sources take slots, wipes and catalogs from Fixtures only") {
    val dir = Paths.get("src", "main", "scala", "graft", "queries")
    assert(Files.isDirectory(dir), s"run from the repo root; no $dir")
    val banned = Seq("spark.sql.catalog.", "deletePrefix(\"\")", "java.io.tmpdir")
    val hits = for {
      file <- Seq("Pipeline.scala", "Relational.scala")
      (line, n) <- new String(Files.readAllBytes(dir.resolve(file)), "UTF-8")
        .split("\n").zipWithIndex.toSeq
      b <- banned if line.contains(b)
    } yield s"$file:${n + 1}: $b"
    assert(hits.isEmpty, s"use Fixtures.slot/freshLake/lakeCatalog instead:\n${hits.mkString("\n")}")
  }
}
