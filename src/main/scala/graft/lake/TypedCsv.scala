package graft.lake

import graft.types.{ColType, TableSchema}

import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

/** RFC-4180 typed-CSV codec for lake objects.
  *
  * Object layout (reference `README.md:111-148`, `Collector.ts:232-254`):
  *   line 1: `#TYPE1,TYPE2,...`   — logical column types, `#`-prefixed
  *   line 2: `col1,col2,...`      — column-name header
  *   line 3+: RFC-4180 data rows
  * gzip-compressed by default (`Collector.ts:177`, spec `README.md:118`).
  *
  * This is pure row↔text code shared by the driver-side Collector spool and
  * the distributed Spark lake writer; no Spark dependency here.
  */
object TypedCsv {

  /** ISO-8601 UTC with millisecond precision and literal `Z` — exactly what
    * the reference's `Date.toISOString()` emits (`Collector.ts:129-131`). */
  private val TimeFmt: DateTimeFormatter =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(ZoneOffset.UTC)

  def formatTime(i: Instant): String = TimeFmt.format(i)

  /** RFC-4180 field quoting: quote when the field contains comma, quote, CR
    * or LF; embedded quotes doubled (`README.md:129`). One quoting rule
    * BEYOND RFC-4180's minimum: a field beginning with `#` is also quoted —
    * the read side skips `#`-prefixed LINES as the types header, so an
    * unquoted leading `#` in the first column would make a data row
    * indistinguishable from a header line and silently vanish on read. */
  def quoteField(s: String): String =
    if (s == null) ""
    else {
      val sb = new StringBuilder(s.length + 2)
      appendField(sb, s)
      sb.toString
    }

  /** Append `s` to `sb` under [[quoteField]]'s rule (null appends
    * nothing): one scan decides whether to quote, a second copies with
    * quotes doubled only if so. */
  private def appendField(sb: StringBuilder, s: String): Unit = if (s != null) {
    val n = s.length
    var quote = n > 0 && s.charAt(0) == '#'
    var i = 0
    while (!quote && i < n) {
      val c = s.charAt(i)
      quote = c == ',' || c == '"' || c == '\n' || c == '\r'
      i += 1
    }
    if (!quote) sb.append(s)
    else {
      sb.append('"')
      i = 0
      while (i < n) {
        val c = s.charAt(i)
        if (c == '"') sb.append('"')
        sb.append(c)
        i += 1
      }
      sb.append('"')
    }
  }

  /** Serialize one value of the given logical type to its wire form
    * (SURVEY.md §1.2 wire-format column). Nulls are empty fields. */
  def formatValue(v: Any, t: ColType): String = v match {
    case null => ""
    case _ => t match {
      case ColType.CTime => v match {
        case ts: java.sql.Timestamp => formatTime(ts.toInstant)
        case d: java.util.Date      => formatTime(d.toInstant)
        case i: Instant             => formatTime(i)
        case other                  => other.toString
      }
      case ColType.CBoolean => v.toString // true / false
      // Values are written as-is, never coerced to the column type — the
      // reference stringifies the raw value (`Collector.ts:232-235`); a
      // mistyped value is the producer's bug and must stay visible, not be
      // silently truncated (SURVEY.md §7.4 hazard 3).
      case _ => v.toString
    }
  }

  def formatRow(values: Seq[Any], types: Seq[ColType]): String = {
    val sb = new StringBuilder(64)
    appendRow(sb, values.toArray, types.toArray)
    sb.toString
  }

  /** Append one row (values in schema order, null for a missing value)
    * to `sb`, without a line terminator: the encoder the Collector spool
    * and the lake writers run per row. */
  def appendRow(sb: StringBuilder, values: Array[Any], types: Array[ColType]): Unit = {
    var i = 0
    while (i < values.length) {
      if (i > 0) sb.append(',')
      appendField(sb, formatValue(values(i), types(i)))
      i += 1
    }
  }

  /** Full object text: types header + names header + rows. */
  def render(schema: TableSchema, rows: Iterator[Seq[Any]]): Iterator[String] =
    Iterator(schema.typesHeader, schema.namesHeader) ++
      rows.map(r => formatRow(r, schema.colTypes))

  // ---------------------------------------------------------------- parsing

  /** Parse a `#types` line back to logical types. */
  def parseTypesHeader(line: String): Seq[ColType] = {
    require(line.startsWith("#"), s"not a types header: $line")
    line.drop(1).split(',').toSeq.map(ColType.fromWire)
  }

  /** Minimal RFC-4180 line splitter (for the non-Spark read path and tests;
    * the Spark reader uses the built-in CSV datasource). Assumes no embedded
    * newlines in the input line. */
  def splitLine(line: String): Seq[String] = {
    val out = Vector.newBuilder[String]
    val sb = new StringBuilder
    var i = 0
    var inQ = false
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQ) {
        if (c == '"') {
          if (i + 1 < line.length && line.charAt(i + 1) == '"') { sb.append('"'); i += 1 }
          else inQ = false
        } else sb.append(c)
      } else c match {
        case '"' => inQ = true
        case ',' => out += sb.toString; sb.clear()
        case _   => sb.append(c)
      }
      i += 1
    }
    out += sb.toString
    out.result()
  }
}
