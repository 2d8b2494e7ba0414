package perfbench

import graft.lake.Store

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStream, OutputStream}
import scala.collection.mutable
import scala.util.control.NonFatal

/** The benchmark's own checks (`python3 perfbench/run.py --self-test`).
  * Prints `{"ok": true|false, ...}` as its last line. */
object SelfTest {
  private val results = mutable.ArrayBuffer.empty[(String, Boolean, String)]

  private def check(name: String)(body: => Unit): Unit =
    try { body; results += ((name, true, "")) }
    catch { case NonFatal(e) => results += ((name, false, s"${e.getClass.getSimpleName}: ${e.getMessage}")) }

  private def expect(cond: Boolean, msg: => String): Unit = if (!cond) throw new AssertionError(msg)

  /** A store that records which of its methods were called. */
  final class RecordingStore extends Store {
    val calls = mutable.ArrayBuffer.empty[String]
    private def rec[A](n: String, a: A): A = { calls += n; a }
    override def put(key: String, data: InputStream): Unit = rec("put", ())
    override def create(key: String): OutputStream = rec("create", new ByteArrayOutputStream())
    override def createExclusive(key: String): OutputStream = rec("createExclusive", new ByteArrayOutputStream())
    override def open(key: String): InputStream = rec("open", new ByteArrayInputStream(Array.emptyByteArray))
    override def list(prefix: String): Seq[String] = rec("list", Nil)
    override def exists(key: String): Boolean = rec("exists", false)
    override def size(key: String): Option[Long] = rec("size", Some(1L))
    override def delete(key: String): Unit = rec("delete", ())
    override def rename(src: String, dst: String): Unit = rec("rename", ())
    override def deletePrefix(prefix: String): Unit = rec("deletePrefix", ())
    override def listDirs(prefix: String): Seq[String] = rec("listDirs", Nil)
    override def rootUri: String = rec("rootUri", "mem://")
  }

  def main(argv: Array[String]): Unit = {
    check("percentile refuses fewer than 10 samples beyond it") {
      val xs = (1 to 99).map(_.toDouble)
      expect(Stats.percentile(xs, 90).isEmpty, "p90 of 99 samples has only 9 beyond it")
      expect(Stats.percentile(xs :+ 100.0, 90).contains(90.0), "p90 of 1..100 is 90")
      expect(Stats.percentile((1 to 999).map(_.toDouble), 99).isEmpty, "p99 of 999 samples")
      expect(Stats.percentile((1 to 1000).map(_.toDouble), 99).isDefined, "p99 of 1000 samples")
      expect(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5, "even-size median")
    }

    check("the Store wrapper forwards every Store method") {
      val storeMethods = classOf[Store].getMethods.filter(m => m.getDeclaringClass == classOf[Store] &&
        !java.lang.reflect.Modifier.isStatic(m.getModifiers) && !m.isSynthetic)
      val missing = storeMethods.filterNot { m =>
        scala.util.Try(classOf[TimedStore].getDeclaredMethod(m.getName, m.getParameterTypes: _*)).isSuccess
      }
      expect(missing.isEmpty, s"TimedStore inherits instead of forwarding: ${missing.map(_.getName).mkString(", ")}")
      val inner = new RecordingStore
      var putSeen = false
      val t = new TimedStore(inner, (_, _, _) => putSeen = true)
      t.put("k", new ByteArrayInputStream(Array[Byte](1))); t.create("k"); t.createExclusive("k"); t.open("k")
      t.list(""); t.exists("k"); t.size("k"); t.delete("k"); t.rename("a", "b"); t.deletePrefix("")
      t.listDirs(""); t.rootUri
      val want = Seq("put", "create", "createExclusive", "open", "list", "exists", "size", "delete", "rename",
        "deletePrefix", "listDirs", "rootUri")
      expect(inner.calls == want, s"inner saw ${inner.calls.mkString(",")}")
      expect(t.size("k").contains(1L), "size answered by the wrapped store, not the trait default")
      expect(putSeen && t.puts.get == 1, "put timed once")
    }

    check("ingest read-back check catches a changed row") {
      val in = IngestGen.generate(7)
      expect(in.expected.values.map(_._1).sum == in.size, "expected counts cover every record")
      val a = IngestGen.rowHash(Seq("x", "1", ""))
      expect(a != IngestGen.rowHash(Seq("x", "2", "")), "row hash sees a changed field")
      expect(Ingest.splitCsv("a,\"b,\"\"c\"\"\",,d") == Seq("a", "b,\"c\"", "", "d"), "RFC-4180 split")
    }

    val spark = Main.session(Main.Args())
    import spark.implicits._
    val rows = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5))
    val good: Entries.Fn = (s, _) => rows.toDF("id", "s", "x")

    check("a changed output row fails the signature check") {
      val want = Entries.run(spark, "t", good, "").sig
      expect(want.isDefined, "signature of a good run")
      val again = Entries.run(spark, "t", (s, _) => rows.reverse.toDF("id", "s", "x"), "")
      expect(Entries.failure(again, want).isEmpty, "row order must not matter")
      val changed = Entries.run(spark, "t", (s, _) => rows.updated(1, (2L, "b", 2.6)).toDF("id", "s", "x"), "")
      expect(Entries.failure(changed, want).isDefined, "a changed value must fail")
      val dropped = Entries.run(spark, "t", (s, _) => rows.take(2).toDF("id", "s", "x"), "")
      expect(Entries.failure(dropped, want).isDefined, "a missing row must fail")
      val noRecord = Entries.run(spark, "t", good, "")
      expect(Entries.failure(noRecord, None).isDefined, "an entry without a recorded signature fails")
    }

    check("a throwing entry is counted as failed and never timed") {
      val boom: Entries.Fn = (_, _) => throw new IllegalStateException("boom")
      val lazyBoom: Entries.Fn = (s, _) => s.range(3).selectExpr("raise_error('late boom') AS x")
      val want = Entries.run(spark, "t", good, "").sig
      for (fn <- Seq(boom, lazyBoom)) {
        val op = Entries.run(spark, "bad", fn, "")
        expect(op.error.isDefined && op.sig.isEmpty, "error recorded")
        expect(Entries.failure(op, want).isDefined, "counted as failed")
        val pass = EntryWorkload.Pass(1.0, 1.0, Seq(op, Entries.run(spark, "t", good, "")),
          Seq("bad" -> "x"), Nil, Map.empty)
        expect(EntryWorkload.samples(pass, "entry").size == 1, "only the good op is a latency sample")
      }
      val okOp = Entries.run(spark, "t", good, "")
      val failing = EntryWorkload.Pass(0.5, 0.4, Seq(Entries.run(spark, "bad", boom, ""), okOp),
        Seq("bad" -> "x"), Nil, Map.empty)
      val clean = EntryWorkload.Pass(2.0, 3.0, Seq(okOp), Nil, Nil, Map.empty)
      expect(EntryWorkload.passFigures(Seq(failing, clean, failing)).contains((2.0, 3.0)),
        "pass figures come from the clean passes only")
      expect(EntryWorkload.passFigures(Seq(failing, failing)).isEmpty,
        "no pass figure when every pass held a failure")
      val line = Main.result(false, 2, 2, Seq(("pass_s", Double.NaN, "s")), Main.Args(), Nil)
      expect(line.contains("\"pass_s\":{\"value\":null"), s"an unreported figure prints as null: $line")
    }

    val ok = results.forall(_._2)
    results.foreach { case (n, pass, why) => System.err.println(s"[self-test] ${if (pass) "PASS" else "FAIL"} $n $why") }
    println(Json.obj(Seq("ok" -> ok.toString, "checks" -> results.map { case (n, p, why) =>
      Json.obj(Seq("name" -> Json.str(n), "pass" -> p.toString, "detail" -> Json.str(why)))
    }.mkString("[", ",", "]"))))
    System.out.flush()
    Runtime.getRuntime.halt(if (ok) 0 else 1)
  }
}
