package graft.types

import org.apache.spark.sql.types._

/** The reference's six logical column types.
  *
  * Mirrors the `DataType` enum of the reference collector
  * (`/root/reference/lib/collector/Collector.ts:34-41`): STRING, INTEGER,
  * FLOAT, TIME, BOOLEAN, UUID. These are the values written on the `#types`
  * comment line of every lake object (`Collector.ts:290-308`,
  * `README.md:133-138`).
  */
sealed abstract class ColType(val wire: String) {
  /** The Spark SQL type this logical type maps to (SURVEY.md §1.2). */
  def sparkType: DataType
}

object ColType {
  case object CString  extends ColType("STRING")  { val sparkType: DataType = StringType }
  case object CInteger extends ColType("INTEGER") { val sparkType: DataType = LongType }
  case object CFloat   extends ColType("FLOAT")   { val sparkType: DataType = DoubleType }
  case object CTime    extends ColType("TIME")    { val sparkType: DataType = TimestampType }
  case object CBoolean extends ColType("BOOLEAN") { val sparkType: DataType = BooleanType }
  /** UUID is never inferred — only declared via explicit column-type
    * overrides (`Collector.ts:43-46`). Stored as a 36-char string. */
  case object CUuid    extends ColType("UUID")    { val sparkType: DataType = StringType }

  val all: Seq[ColType] = Seq(CString, CInteger, CFloat, CTime, CBoolean, CUuid)

  /** Parse a wire name from a `#types` header. Tolerates the README's
    * alias vocabulary (`text`, `timestampz`, `int`, ... — `README.md:143`)
    * in addition to the enum values v0.1.x actually writes. */
  def fromWire(s: String): ColType = s.trim.toUpperCase match {
    case "STRING" | "TEXT"                          => CString
    case "INTEGER" | "INT" | "BIGINT"               => CInteger
    case "FLOAT" | "DOUBLE" | "REAL"                => CFloat
    case "TIME" | "TIMESTAMP" | "TIMESTAMPZ"        => CTime
    case "BOOLEAN" | "BOOL"                         => CBoolean
    case "UUID"                                     => CUuid
    case other => throw new IllegalArgumentException(s"unknown lake column type: $other")
  }

  /** Map a Spark SQL type back to the lake's logical type (write side). */
  def fromSpark(dt: DataType): ColType = dt match {
    case StringType                          => CString
    case ByteType | ShortType | IntegerType | LongType => CInteger
    case FloatType | DoubleType              => CFloat
    case _: DecimalType                      => CFloat
    case TimestampType | DateType            => CTime
    case BooleanType                         => CBoolean
    case other => throw new IllegalArgumentException(s"no lake mapping for Spark type: $other")
  }

  /** Runtime type inference for dynamic (schema-less) ingestion, matching
    * the reference's `inferColumnType` (`Collector.ts:112-123`): Date→TIME,
    * integral number→INTEGER, other number→FLOAT, boolean→BOOLEAN, else
    * STRING. Only used when a table has no declared schema; declared
    * `StructType`s are authoritative (SURVEY.md §7.4 delta 1). */
  def infer(value: Any): ColType = value match {
    case null                                      => CString
    case _: java.util.Date | _: java.time.Instant  => CTime
    case _: Byte | _: Short | _: Int | _: Long     => CInteger
    case d: Double if d.isWhole && !d.isInfinity   => CInteger
    case f: Float if f.isWhole && !f.isInfinity    => CInteger
    case _: Float | _: Double                      => CFloat
    case _: Boolean                                => CBoolean
    case _                                         => CString
  }
}

/** Wildcard table families: a schema table name containing `$` is a family;
  * `$` is replaced by a runtime token at `track()` time and all instances
  * share the family schema (`Collector.ts:95-96`, `Collector.ts:210-214`,
  * `README.md:74-109`). */
object Wildcard {
  val Token = "$"

  def isFamily(schemaTable: String): Boolean = schemaTable.contains(Token)

  /** Resolve a family name with a token: `game_custom_event_$` + `pool` →
    * `game_custom_event_pool`. Identity for non-family names. */
  def resolve(schemaTable: String, token: Option[String]): String = token match {
    case Some(t) => schemaTable.replace(Token, t)
    case None    => schemaTable
  }
}

/** Declared schema for one table (or wildcard family): authoritative column
  * order + logical types. Replaces the reference's first-record inference
  * (`Collector.ts:291-308`) with a declared contract (SURVEY.md §7.4). */
final case class TableSchema(name: String, columns: Seq[(String, ColType)]) {
  require(columns.nonEmpty, s"table $name has no columns")
  require(
    columns.forall { case (n, _) => n.matches("[a-zA-Z0-9_]+") },
    s"table $name: lake headers must match [a-zA-Z0-9_]+ (README.md:131-132)")
  // the read side DERIVES these (the key's hour; the provenance metadata
  // column) — a data column with either name would be silently shadowed
  // by the derived value on every connector read, so refuse it at schema
  // declaration, where the mistake is made
  require(
    columns.forall { case (n, _) =>
      n != "_event_hour" && n != "_object_key" && n != "_row_pos" &&
        n != "_change_type" },
    s"table $name: _event_hour, _object_key, _row_pos and _change_type " +
      "are reserved (derived on lake reads / the changes feed)")

  // computed once: the row encoders and the sidecar trackers read these
  // per row or per column
  val columnNames: Seq[String] = columns.map(_._1)
  val colTypes: Seq[ColType]   = columns.map(_._2)

  def structType: StructType =
    StructType(columns.map { case (n, t) => StructField(n, t.sparkType, nullable = true) })

  /** The `#`-prefixed type line written as line 1 of every lake object
    * (`Collector.ts:307`). */
  val typesHeader: String = colTypes.map(_.wire).mkString("#", ",", "")

  /** Line 2: RFC-4180 column-name header. */
  val namesHeader: String = columnNames.mkString(",")
}

object TableSchema {
  /** Build from a Spark StructType with optional per-column logical-type
    * overrides (the reference's `columnTypes` map, `Collector.ts:43-57`) —
    * e.g. marking a StringType column as UUID. */
  def fromStruct(name: String, st: StructType,
                 overrides: Map[String, ColType] = Map.empty): TableSchema =
    TableSchema(name, st.fields.toSeq.map { f =>
      f.name -> overrides.getOrElse(f.name, ColType.fromSpark(f.dataType))
    })
}
