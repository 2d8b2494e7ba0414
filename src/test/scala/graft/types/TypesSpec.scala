package graft.types

import graft.lake.TypedCsv
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class TypesSpec extends AnyFunSuite {

  test("inference mirrors the reference rules (Collector.ts:112-123)") {
    assert(ColType.infer("x") == ColType.CString)
    assert(ColType.infer(3L) == ColType.CInteger)
    assert(ColType.infer(3) == ColType.CInteger)
    // the reference's JS hazard: whole doubles infer INTEGER (SURVEY §7.4)
    assert(ColType.infer(1.0) == ColType.CInteger)
    assert(ColType.infer(1.5) == ColType.CFloat)
    assert(ColType.infer(true) == ColType.CBoolean)
    assert(ColType.infer(new java.sql.Timestamp(0)) == ColType.CTime)
    assert(ColType.infer(null) == ColType.CString)
    // UUID is never inferred (Collector.ts:43-46)
    assert(ColType.infer(java.util.UUID.randomUUID().toString) == ColType.CString)
  }

  test("wire names round-trip, README aliases tolerated") {
    ColType.all.foreach(t => assert(ColType.fromWire(t.wire) == t))
    assert(ColType.fromWire("text") == ColType.CString)
    assert(ColType.fromWire("timestampz") == ColType.CTime)
    assert(ColType.fromWire("int") == ColType.CInteger)
    intercept[IllegalArgumentException](ColType.fromWire("blob"))
  }

  test("wildcard family resolution ($ -> token, Collector.ts:95-96)") {
    assert(Wildcard.resolve("game_custom_event_$", Some("pool")) == "game_custom_event_pool")
    assert(Wildcard.resolve("plain_table", Some("pool")) == "plain_table")
    assert(Wildcard.resolve("plain_table", None) == "plain_table")
    assert(Wildcard.isFamily("a_$_b") && !Wildcard.isFamily("a_b"))
  }

  test("TableSchema headers + Spark mapping") {
    val ts = TableSchema("t", Seq("id" -> ColType.CUuid, "n" -> ColType.CInteger,
      "at" -> ColType.CTime))
    assert(ts.typesHeader == "#UUID,INTEGER,TIME")
    assert(ts.namesHeader == "id,n,at")
    assert(ts.structType == StructType(Seq(
      StructField("id", StringType), StructField("n", LongType),
      StructField("at", TimestampType))))
    intercept[IllegalArgumentException](
      TableSchema("t", Seq("bad name!" -> ColType.CString)))
    // the read side derives these on every lake read — a data column so
    // named would be silently shadowed; refused at declaration
    intercept[IllegalArgumentException](
      TableSchema("t", Seq("_event_hour" -> ColType.CTime)))
    intercept[IllegalArgumentException](
      TableSchema("t", Seq("_object_key" -> ColType.CString)))
  }

  test("TableSchema derives its column lists and headers once") {
    val s = TableSchema("t", Seq("a" -> ColType.CInteger, "b" -> ColType.CString))
    assert((s.columnNames eq s.columnNames) && (s.colTypes eq s.colTypes))
    assert((s.typesHeader eq s.typesHeader) && (s.namesHeader eq s.namesHeader))
    assert(s == TableSchema("t", Seq("a" -> ColType.CInteger, "b" -> ColType.CString)))
  }

  test("RFC-4180 quote round-trip (deterministic fuzz)") {
    val rnd = new scala.util.Random(42)
    val alphabet = "ab,\"\n\r x"
    for (_ <- 1 to 500) {
      val fields = Seq.fill(rnd.nextInt(5) + 1)(
        Seq.fill(rnd.nextInt(12))(alphabet(rnd.nextInt(alphabet.length))).mkString)
      val noNl = fields.map(_.replace("\n", "n").replace("\r", "r")) // splitLine is line-scoped
      val line = noNl.map(TypedCsv.quoteField).mkString(",")
      assert(TypedCsv.splitLine(line) == noNl, s"for fields $noNl")
    }
  }

  test("time wire format matches Date.toISOString (millis, Z)") {
    val i = java.time.Instant.parse("2024-03-01T10:20:30.456Z")
    assert(TypedCsv.formatTime(i) == "2024-03-01T10:20:30.456Z")
    assert(TypedCsv.formatValue(java.sql.Timestamp.from(i), ColType.CTime)
      == "2024-03-01T10:20:30.456Z")
  }
}
