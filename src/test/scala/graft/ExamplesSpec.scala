package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** `graft.examples` ships in the main jar, so it holds only the entry
  * points the verification story runs. A one-off measurement driver goes
  * in a test or outside the repo; adding it here fails this spec. */
class ExamplesSpec extends AnyFunSuite {

  private val allowed =
    Set("CollectorDemo", "TrainingPrepDemo", "EntrySmoke", "TimeQuery", "VerifySome")

  private val dir = Paths.get("src", "main", "scala", "graft", "examples")

  private def sources: Seq[Path] = {
    val ls = Files.list(dir)
    try ls.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally ls.close()
  }

  test("graft.examples holds exactly the five allowed entry points") {
    assert(Files.isDirectory(dir), s"run from the repo root; no $dir")
    val files = sources.map(_.getFileName.toString.stripSuffix(".scala")).toSet
    assert(files == allowed, s"extra: ${(files -- allowed).toSeq.sorted}, " +
      s"missing: ${(allowed -- files).toSeq.sorted}")
    val topLevel = """(?m)^(?:private\s+|final\s+|case\s+)*(object|class|trait)\s+(\w+)""".r
    val defs = sources.flatMap(p =>
      topLevel.findAllMatchIn(new String(Files.readAllBytes(p), "UTF-8")).map(_.group(2)))
    assert(defs.sorted == allowed.toSeq.sorted,
      s"each allowed file declares only its own top-level object, got ${defs.sorted}")
  }
}
