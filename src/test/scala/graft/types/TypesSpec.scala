package graft.types

import graft.lake.TypedCsv
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp
import java.time.Instant

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

  /** What `appendRow` must write: `formatValue` + `quoteField` joined by
    * `,` (the wire form `BloomMaps` hashes). */
  private def wire(values: Seq[Any], types: Seq[ColType]): String =
    values.zip(types).map { case (v, t) => TypedCsv.quoteField(TypedCsv.formatValue(v, t)) }
      .mkString(",")

  private def encoded(values: Seq[Any], types: Seq[ColType]): String = {
    val sb = new StringBuilder
    TypedCsv.appendRow(sb, values.toArray, types.toArray)
    sb.toString
  }

  test("appendRow writes formatValue + quoteField for every value under every column type") {
    def ms(s: String) = Instant.parse(s).toEpochMilli
    val first = ms("0001-01-01T00:00:00.000Z")
    val last = ms("9999-12-31T23:59:59.999Z")
    val millis = Seq(first, first - 1, first + 1, last, last - 1, last + 1, 0L, -1L,
      -86399999L, ms("1969-07-20T20:17:40.123Z"), ms("2000-02-29T12:34:56.789Z"),
      ms("1900-03-01T00:00:00.001Z"), ms("2024-12-31T23:59:59.999Z"))
    val subMs = new Timestamp(1700000000123L)
    subMs.setNanos(123456789)
    val times: Seq[Any] = millis.flatMap(m =>
      Seq(new Timestamp(m), Instant.ofEpochMilli(m), new java.util.Date(m))) ++
      Seq(subMs, Instant.ofEpochSecond(1700000000L, 987654321), Instant.ofEpochSecond(-1L, 999999999))
    val others: Seq[Any] = Seq(null, 42L, -7L, Long.MinValue, Long.MaxValue, 3, -3, Int.MinValue,
      true, false, 0.5, -0.0, 1.0, -1.25e-7, 1e21, 123456789.125, Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity, Double.MinValue, 1.5f, "plain", "",
      "a,b", "say \"hi\"", "#not a header", "x#", "cr\rhere", "lf\nhere", "\u6771\u4eac",
      java.math.BigDecimal.valueOf(12345, 2), java.util.UUID.fromString("8b5f33e4-06ab-4df7-9f01-0e329e39c6d1"))
    for (t <- ColType.all; v <- times ++ others)
      assert(encoded(Seq(v), Seq(t)) == wire(Seq(v), Seq(t)), s"$v (${Option(v).map(_.getClass)}) as $t")
    // the fallback outside 0001–9999 and the arithmetic inside agree at both edges
    assert(encoded(Seq(Instant.ofEpochMilli(first)), Seq(ColType.CTime)) == "0001-01-01T00:00:00.000Z")
    assert(encoded(Seq(Instant.ofEpochMilli(last)), Seq(ColType.CTime)) == "9999-12-31T23:59:59.999Z")
    // whole rows: separators, nulls and quoting between fields
    val rnd = new scala.util.Random(7)
    val pool = (times ++ others).toIndexedSeq
    for (_ <- 1 to 2000) {
      val n = rnd.nextInt(8) + 1
      val values = Seq.fill(n)(pool(rnd.nextInt(pool.size)))
      val types = Seq.fill(n)(ColType.all(rnd.nextInt(ColType.all.size)))
      assert(encoded(values, types) == wire(values, types), s"$values as $types")
    }
  }

  test("appendRow's time text equals formatValue's over a seeded sweep of epoch millis") {
    val rnd = new scala.util.Random(20240301L)
    val day = 86400000L
    val lo = Instant.parse("0001-01-01T00:00:00Z").toEpochMilli - 800 * day
    val hi = Instant.parse("9999-12-31T23:59:59.999Z").toEpochMilli + 800 * day
    val near = Instant.parse("1900-01-01T00:00:00Z").toEpochMilli
    val types = Array[ColType](ColType.CTime, ColType.CTime)
    val sb = new StringBuilder
    for (k <- 0 until 200000) {
      val m =
        if (k % 4 == 0) lo + (rnd.nextDouble() * (hi - lo)).toLong // the whole range and past it
        else if (k % 4 == 1) near + (rnd.nextDouble() * 250 * 365 * day).toLong // 1900–2150
        else if (k % 4 == 2) lo + rnd.nextLong(1600 * day) // around year 1
        else hi - rnd.nextLong(1600 * day) // around year 9999
      val ts = new Timestamp(m)
      sb.setLength(0)
      TypedCsv.appendRow(sb, Array[Any](ts, Instant.ofEpochMilli(m)), types)
      val want = TypedCsv.formatValue(ts, ColType.CTime)
      assert(sb.toString == s"$want,$want", s"millis $m")
    }
  }
}
