package graft.lake

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import graft.SparkSuite
import org.apache.spark.sql.SparkSession

/** [[KeyWalk]] is the one place a lake metadata walk chooses driver or
  * executors and sizes its tasks. The branch rules are pinned here; the
  * walks built on it are pinned driver ≡ executors in ZoneMapsSpec,
  * BloomMapsSpec, LakeEvolutionSpec, LakeCatalogSpec, LakeDmlSpec,
  * LakeDataSourceSpec and LakeStreamSpec. The guards below keep new
  * hand-written fan-outs and per-call thresholds from coming back. */
class KeyWalkSpec extends SparkSuite {

  test("driver up to each kind's constant, executors above; the seam pins either branch") {
    assert(!KeyWalk.fansOut(4096) && KeyWalk.fansOut(4097))
    assert(!KeyWalk.fansOut(256, KeyWalk.Delete) && KeyWalk.fansOut(257, KeyWalk.Delete))
    KeyWalk.pinned(KeyWalk.OnExecutors()) {
      assert(KeyWalk.fansOut(1, KeyWalk.Delete) && !KeyWalk.fansOut(0))
    }
    KeyWalk.pinned(KeyWalk.OnDriver)(assert(!KeyWalk.fansOut(1 << 20)))
    assert(KeyWalk.tasks(1) == 1 && KeyWalk.tasks(640) == 11 &&
      KeyWalk.tasks(1 << 20) == 256)
  }

  test("partials: one over every key on the driver with the caller's store, per task in key order on executors") {
    val store = new HadoopStore(tempUri("graft-keywalk"))
    val keys = (0 until 10).map(i => f"k$i%02d")
    val driver = KeyWalk.pinned(KeyWalk.OnDriver)(
      KeyWalk.partials(store, keys)((st, it) => (st eq store, it.toVector)))
    assert(driver == Seq((true, keys.toVector)))
    // the executor half fans out on the suite's session (with none, the
    // walk stays on the driver: next test)
    val session = spark
    assert(SparkSession.getDefaultSession.contains(session))
    val tasks = KeyWalk.pinned(KeyWalk.OnExecutors(3))(
      KeyWalk.partials(store, keys)((st, it) => (st.rootUri, it.toVector)))
    assert(tasks.size == 3 && tasks.forall(_._1 == store.rootUri))
    assert(tasks.flatMap(_._2) == keys)
    assert(KeyWalk.pinned(KeyWalk.OnExecutors(4))(
      KeyWalk.filter(store, keys)((_, k) => k.last.asDigit % 3 == 0)) ==
      Seq("k00", "k03", "k06", "k09"))
  }

  test("with no active or default session a fanned-out walk runs on the driver") {
    val store = new HadoopStore(tempUri("graft-keywalk-nosession"))
    val keys = (0 until 10).map(i => f"k$i%02d")
    val session = spark // a session exists; it is neither active nor default below
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      assert(SparkSession.getActiveSession.isEmpty && SparkSession.getDefaultSession.isEmpty)
      val walked = KeyWalk.pinned(KeyWalk.OnExecutors())(
        KeyWalk.partials(store, keys)((st, it) => (st eq store, it.toVector)))
      assert(walked == Seq((true, keys.toVector)))
    } finally {
      SparkSession.setDefaultSession(session)
      SparkSession.setActiveSession(session)
    }
  }

  private def mainSources(under: Path): Seq[Path] = {
    assert(Files.isDirectory(under), s"run from the repo root; no $under")
    val s = Files.walk(under)
    try s.filter(_.toString.endsWith(".scala")).toArray.toSeq.map(_.asInstanceOf[Path])
    finally s.close()
  }

  test("src/main fans out over store keys only through KeyWalk") {
    // data jobs that are not key walks: sidecar seed builds, the
    // merge-on-read read and the delta patch jobs
    val allowed = Set("ZoneMaps.scala" -> "buildForKeys",
      "BloomMaps.scala" -> "buildForKeys", "LakeReader.scala" -> "dvRead",
      "LakeDelta.scala" -> "buildVectors", "LakeDelta.scala" -> "rewriteTouched")
    val defName = """\bdef\s+(\w+)""".r
    val hits = for {
      file <- mainSources(Paths.get("src", "main", "scala"))
      name = file.getFileName.toString if name != "KeyWalk.scala"
      lines = new String(Files.readAllBytes(file), UTF_8).split("\n").toSeq
      (line, n) <- lines.zipWithIndex if line.contains("parallelize(")
      enclosing = lines.take(n + 1).reverseIterator
        .flatMap(l => defName.findFirstMatchIn(l).map(_.group(1))).nextOption()
      if !enclosing.exists(d => allowed(name -> d))
    } yield s"$file:${n + 1}: ${line.trim}"
    assert(hits.isEmpty,
      s"walk store keys with KeyWalk.partials/filter/map/foreach:\n${hits.mkString("\n")}")
  }

  test("no def in graft.lake takes a fan-out threshold or task count") {
    val knob = """\b(distributeAbove|sidecarDistributeAbove|partitions)\s*:""".r
    val defStart = """\bdef\s+\w+""".r
    val hits = for {
      file <- mainSources(Paths.get("src", "main", "scala", "graft", "lake"))
      text = new String(Files.readAllBytes(file), UTF_8)
      m <- defStart.findAllMatchIn(text).toSeq
      // overrides keep the parameter names of the Spark interface they
      // implement (TableCatalog.createTable's `partitions`)
      if !text.substring(text.lastIndexOf('\n', m.start) + 1, m.start).contains("override")
      params = paramLists(text, m.end)
      k <- knob.findFirstMatchIn(params)
    } yield s"${file.getFileName}: ${m.matched}(… ${k.group(1)} …)"
    assert(hits.isEmpty, "KeyWalk decides where a walk runs and how many tasks " +
      s"it takes; pin it in specs with KeyWalk.pinned:\n${hits.mkString("\n")}")
  }

  /** The type- and value-parameter lists that follow a def's name. */
  private def paramLists(text: String, from: Int): String = {
    var i = from
    val out = new StringBuilder
    while (i < text.length && (text(i) == '(' || text(i) == '[' || text(i).isWhitespace)) {
      if (text(i).isWhitespace) i += 1
      else {
        var depth = 0
        val start = i
        do {
          if (text(i) == '(' || text(i) == '[') depth += 1
          else if (text(i) == ')' || text(i) == ']') depth -= 1
          i += 1
        } while (depth > 0 && i < text.length)
        out ++= text.substring(start, i)
      }
    }
    out.toString
  }
}
