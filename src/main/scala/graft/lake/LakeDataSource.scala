package graft.lake

import graft.types.{ColType, TableSchema}

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.time.Instant
import java.time.format.DateTimeFormatterBuilder
import java.time.temporal.ChronoField
import java.util.zip.GZIPInputStream

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 front door for the typed-CSV lake: `spark.read
  * .format("graft-lake").option("table", t).load(rootUri)` — so CATALYST
  * drives the lake's pruning machinery from plain `.where(...)` filters
  * instead of callers naming `readPruned*`/`lakeSemiJoin` entry points.
  *
  * What pushes down (all OBJECT-level — sidecars bound objects, never
  * rows, so every filter is also re-applied by Spark post-scan, which is
  * why [[LakeScanBuilder.pushFilters]] returns the full filter array):
  *
  *  - `EqualTo`/`In` on any wire column → bloom probes + [v,v] bands
  *    (exactly [[LakeReader.readPrunedEqAnyMulti]]'s decision);
  *  - `>`, `>=`, `<`, `<=`, `EqualTo` on zone-map-TRACKED columns
  *    (INTEGER/FLOAT/TIME) → min/max band checks with first-class OPEN
  *    ends ([[ZoneMaps.mayContainRange]] — no finite sentinel that a
  *    legitimate FLOAT value could leap);
  *  - any of those on `_event_hour` → HOUR-PREFIX pruning: out-of-range
  *    hours are never even LISTED (the key-layout prune,
  *    [[LakeReader.listTableKeys]]); `EqualTo`/`In` on `_event_hour`
  *    additionally decide exact hour MEMBERSHIP (a misaligned timestamp
  *    can never equal a key-derived hour, so it prunes everything);
  *  - `And` recursively; `Or`/`Not`/everything else stays row-level only
  *    (conservatively unprunable).
  *
  * The same decisions run AT EXECUTION TIME for Spark's dynamic-pruning
  * runtime filters ([[LakeScan.filter]], `SupportsRuntimeFiltering`): a
  * plain JOIN to a filtered dimension delivers the build side's keys as
  * an IN-list the moment its broadcast completes, and the scan re-prunes
  * its planned objects before any is opened — l14's `lakeSemiJoin`
  * semantics with Catalyst in the driver's seat (query `l18`).
  *
  * Missing/torn/stat-less sidecars keep their object — the same
  * conservative contract as every bespoke pruned read, spec-pinned by
  * comparing the scan's planned objects to [[LakeReader.prunedKeys]].
  * One object = one input partition (a lake object is gzip'd multiline
  * CSV — not splittable — and bounded by the writer's record limit, so
  * the object IS the parallelism unit, as in [[LakeReader.readPaths]]).
  * Column pruning reaches the reader: non-required fields are parsed
  * past but never converted, and `_event_hour` materializes from the
  * object KEY, not the data.
  *
  * The row codec is the lake's own ([[TypedCsv]] wire rules: RFC-4180
  * with doubled quotes and quoted newlines, `#`-prefixed types header,
  * empty field = NULL, ISO-8601 millis timestamps); LakeDataSourceSpec
  * pins the connector row-identical to [[LakeReader.read]] — which
  * itself is oracle-gated — so the two read paths cannot drift.
  *
  * The WRITE half: `df.write.format("graft-lake").option("table", t)
  * .mode("append").save(root)` appends to an existing table through the
  * staged-publish commit protocol ([[LakeWrite]]) with optional
  * zone-map/bloom sidecars tracked as rows stream — the same
  * [[LakeWriter.RollingObjectWriter]] core as every other write path.
  * Append-only by construction: Overwrite is refused (no truncate
  * capability), and `_event_hour` is derived — carried for Spark's
  * by-name resolution but its values are ignored (the landed hour is
  * `flushTime`'s). */
final class LakeDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-lake"

  override def supportsExternalMetadata(): Boolean = false

  // Spark calls inferSchema then getTable on the SAME provider instance
  // per load; cache the one peek so each connector read does ONE
  // metadata walk, not two (the StructType getTable receives cannot
  // substitute — it erases CUuid to plain STRING, which the reader's
  // header validation must distinguish)
  @volatile private var resolved: Option[(String, String, Boolean, Option[Long], TableSchema, Boolean)] = None
  private def schemaOf(root: String, table: String, reconcile: Boolean,
                       asOf: Option[Long]): (TableSchema, Boolean) =
    resolved match {
      case Some((r, t, rc, ao, s, ev))
          if r == root && t == table && rc == reconcile && ao == asOf =>
        (s, ev)
      case _ =>
        val (s, ev) = if (reconcile)
          (LakeReader.reconciledGroups(new HadoopStore(root), table)._1, false)
        else asOf // schema-at-snapshot: the generation's own schema
          .flatMap(g => LakeDataSource.resolveSchemaAt(root, table, g))
          .getOrElse(LakeDataSource.resolveSchema(root, table))
        resolved = Some((root, table, reconcile, asOf, s, ev))
        (s, ev)
    }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    if (LakeObjectsMeta.requested(options)) {
      LakeObjectsMeta.validate(options)
      return LakeObjectsMeta.Schema
    }
    val (root, table) = LakeDataSource.resolve(options)
    LakeDataSource.outputStruct(
      schemaOf(root, table, LakeDataSource.reconcileOpt(options),
        LakeDataSource.asOfOpt(options))._1)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val (root, table) = LakeDataSource.resolve(opts)
    if (LakeObjectsMeta.requested(opts)) {
      LakeObjectsMeta.validate(opts)
      return new LakeObjectsTable(root, table, LakeDataSource.asOfOpt(opts))
    }
    val reconcile = LakeDataSource.reconcileOpt(opts)
    val asOf = LakeDataSource.asOfOpt(opts)
    val (s, ev) = schemaOf(root, table, reconcile, asOf)
    new LakeTable(root, table, Some(s), reconcile,
      asOfGeneration = asOf, preEvolved = Some(ev))
  }
}

object LakeDataSource {
  /** The scan's output: the wire columns plus the key-derived
    * `_event_hour` — identical to [[LakeReader.read]]'s shape. */
  val EventHourCol = "_event_hour"

  /** The provenance METADATA column ([[LakeTable.metadataColumns]]):
    * present in a scan's required schema only when selected. */
  val ObjectKeyCol = "_object_key"

  /** Row POSITION within its object (0-based data-record ordinal) — the
    * second provenance metadata column. `(_object_key, _row_pos)` is a
    * stable row identity for an immutable rolled object, which is what
    * the delta-based MERGE keys its row-level changes on ([[LakeDelta]]
    * — the Iceberg position-delta `_file`/`_pos` idea on the lake's key
    * layout). Costs nothing unless selected. */
  val RowPosCol = "_row_pos"

  private[lake] def outputStruct(schema: TableSchema): StructType =
    StructType(schema.structType.fields :+
      // key-derived, never null — matching LakeReader.read's nullability
      StructField(EventHourCol, TimestampType, nullable = false))

  /** Parse a `clusterBy` option value: either a plain column list
    * (lexicographic range layout) or `zorder(a,b)` (Morton layout).
    * Shared between [[LakeWriteBuilder]] and the ZOrderWriteLayout rule
    * (which must read the request BEFORE the write is built — extension
    * optimizer rules run ahead of V2Writes). A malformed zorder spec —
    * wrong arity, stray spaces inside — fails HERE naming the real
    * problem, never a misleading not-a-column error downstream. */
  def parseClusterBy(raw: Option[String]): (Seq[String], Option[(String, String)]) = {
    val ZOrderRe = "(?i)^zorder\\(([^,()]+),([^,()]+)\\)$".r
    raw.map(_.trim).filter(_.nonEmpty) match {
      case None => (Nil, None)
      case Some(ZOrderRe(a, b)) => (Nil, Some((a.trim, b.trim)))
      case Some(s) if s.toLowerCase.startsWith("zorder") =>
        throw new IllegalArgumentException(
          s"clusterBy zorder spec must be zorder(colA,colB) — two columns, " +
            s"no nested parens: got '$s'")
      case Some(s) =>
        (s.split(',').map(_.trim).filter(_.nonEmpty).toSeq, None)
    }
  }

  private[lake] def resolve(options: CaseInsensitiveStringMap): (String, String) = {
    val root = Option(options.get("path"))
      .orElse(Option(options.get("root")))
      .getOrElse(throw new IllegalArgumentException(
        "graft-lake: set the lake root via .load(rootUri) or .option(\"path\", rootUri)"))
    val table = Option(options.get("table")).getOrElse(
      throw new IllegalArgumentException("graft-lake: set .option(\"table\", <name>)"))
    (root, table)
  }

  private[lake] def reconcileOpt(options: CaseInsensitiveStringMap): Boolean =
    Option(options.get("reconcile")).exists(_.toBoolean)

  private[lake] def asOfOpt(options: CaseInsensitiveStringMap): Option[Long] =
    Option(options.get("asofgeneration")).map { v =>
      try v.trim.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"graft-lake: asOfGeneration must be a generation number, got '$v'")
      }
    }

  /** Catalyst row → EXTERNAL wire values, BY NAME against the declared
    * schema — THE one conversion table every lake write path shares
    * (append, copy-on-write, delta MERGE), so the wire codec cannot
    * drift per path: one getter per declared column, reading the
    * incoming row's position for that name and boxing the value
    * [[TypedCsv.formatValue]] expects (timestamps truncate to the
    * wire's millis via floorDiv — pre-epoch safe). */
  private[lake] def externalGetters(lakeSchema: TableSchema,
                                    inSchema: StructType)
      : Array[InternalRow => Any] =
    lakeSchema.columns.map { case (nm, t) =>
      val i = inSchema.fieldIndex(nm)
      t match {
        case ColType.CString | ColType.CUuid =>
          (r: InternalRow) => if (r.isNullAt(i)) null else r.getUTF8String(i).toString
        case ColType.CInteger =>
          (r: InternalRow) => if (r.isNullAt(i)) null else java.lang.Long.valueOf(r.getLong(i))
        case ColType.CFloat =>
          (r: InternalRow) => if (r.isNullAt(i)) null else java.lang.Double.valueOf(r.getDouble(i))
        case ColType.CBoolean =>
          (r: InternalRow) => if (r.isNullAt(i)) null else java.lang.Boolean.valueOf(r.getBoolean(i))
        case ColType.CTime =>
          (r: InternalRow) => if (r.isNullAt(i)) null
            else new java.sql.Timestamp(Math.floorDiv(r.getLong(i), 1000L))
      }
    }.toArray


  /** One-object schema peek (the strict single-schema contract,
    * [[LakeReader.read]]'s): O(hour dirs), never a full key listing. */
  private[lake] def peek(root: String, table: String): TableSchema = {
    val store = new HadoopStore(root)
    val first = LakeReader.firstTableKey(store, table).getOrElse(
      throw new IllegalArgumentException(
        s"no lake objects for table $table under $root"))
    LakeReader.peekSchema(store, first, table)
  }

  /** Schema resolution order: the DECLARED schema record if any `ALTER
    * TABLE` ever ran ([[LakeSchemas]] — the table is then EVOLVED and
    * reads resolve per object by name), else the one-object peek.
    * Returns (schema, evolved). */
  private[lake] def resolveSchema(root: String, table: String): (TableSchema, Boolean) = {
    val store = new HadoopStore(root)
    LakeSchemas.current(store, table) match {
      case Some(d) => (d.schema, true)
      case None => (peek(root, table), false)
    }
  }

  /** Schema-AT-SNAPSHOT resolution for a time-travel read: generation
    * `gen`'s record pins the declared-schema version live when that
    * commit ran, so `VERSION AS OF` reads under the schema THAT RUN
    * actually saw — a pre-ALTER snapshot shows pre-ALTER columns, not
    * today's. `Some(0)` on the record = the table was not evolved at
    * commit (strict single-header — the snapshot's own objects carry
    * the schema); None (a pre-r16 record, or an empty snapshot) falls
    * back to current-declared resolution. */
  private[lake] def resolveSchemaAt(root: String, table: String,
                                    gen: Long): Option[(TableSchema, Boolean)] = {
    val store = new HadoopStore(root)
    LakeVersions.readRecord(store, table, gen).flatMap(_.schemaV).flatMap {
      case 0L =>
        LakeVersions.liveAt(store, table, gen).headOption
          .map(k => (LakeReader.peekSchema(store, k, table), false))
      case v =>
        Some((LakeSchemas.readRecord(store, table, v).getOrElse(
          throw new IllegalArgumentException(
            s"graft-lake: generation $gen of '$table' pins schema " +
              s"version $v, which no longer parses — the record was " +
              "reclaimed or torn")), true))
    }
  }
}

/** `reconcile = true` (option `reconcile`) reads a DRIFTED table — the
  * reference's first-record inference legally lands objects of one
  * table with differing column sets/orders/types ([[LakeReader
  * .readReconciled]]'s contract, now on the connector): the table
  * schema is the union-by-name merge (INTEGER→FLOAT and UUID↔STRING
  * widenings only, anything else throws), each object's rows resolve BY
  * NAME against its OWN header, columns an object lacks read as null.
  * Schema inference peeks every object's headers (the documented
  * reconciliation cost); aggregate pushdown is refused (per-object
  * sidecar stats cannot be trusted to cover merged columns), everything
  * else — filter pruning, runtime filters, limit/TopN, hour clustering,
  * the micro-batch source — rides unchanged: sidecar probes are
  * wire-form/JBig-based, so an INTEGER-written object still prunes
  * correctly under its FLOAT-widened merged column, and an object
  * lacking a probed column keeps conservatively. */
final class LakeTable(rootUri: String, tableName: String,
                      preResolved: Option[TableSchema] = None,
                      reconcile: Boolean = false,
                      // time travel: scans resolve generation N's
                      // retained snapshot ([[LakeVersions.liveAt]]);
                      // every mutating face refuses — history is
                      // read-only
                      asOfGeneration: Option[Long] = None,
                      // schema evolution: Some(flag) when the provider
                      // already resolved whether a DECLARED schema
                      // record exists; None = derive lazily
                      preEvolved: Option[Boolean] = None,
                      // WAP BRANCH session (r17, cross-branch r18 — the
                      // full Iceberg `spark.wap.branch` semantics via
                      // the session conf `spark.graft.wap.branch =
                      // <auditId>`): reads resolve the BRANCH VIEW
                      // (live ∪ staged, replaced live originals swapped
                      // for their hidden replacements) and row-level
                      // DELETE/UPDATE mutate the whole view — batch
                      // scrubs swap hidden staged objects; touched LIVE
                      // objects are recorded replaced in the audit
                      // intent's v2 state, their rewrites hidden. The
                      // generation chain is untouched until
                      // publish_audit's one validated CAS (abort_audit
                      // drops every hidden key, live untouched). MERGE
                      // works too (r19): matched arms patch the view,
                      // NOT-MATCHED inserts take batch lineage. Only
                      // TRUNCATE refuses under a branch.
                      branchAudit: Option[String] = None)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsDeleteV2
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  /** SQL `DELETE FROM lake.t WHERE ...`, metadata path ([[LakeRowLevel
    * .translateDelete]] decides the exact shapes; everything else falls
    * to the copy-on-write rewrite below). Spark probes here FIRST
    * (`OptimizeMetadataOnlyDeleteFromTable`), so an IN-list delete
    * stays a bloom-bounded surgical rewrite and a pure `_event_hour`
    * range delete is SQL retention — zero non-matching objects opened. */
  private def refuseTimeTravelWrite(): Unit =
    require(asOfGeneration.isEmpty,
      s"graft-lake: table '$tableName' is resolved VERSION AS OF " +
        s"${asOfGeneration.getOrElse(-1L)} — history is read-only; run " +
        "the mutation against the current table")

  override def canDeleteWhere(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Boolean =
    !reconcile && asOfGeneration.isEmpty && branchAudit.isEmpty &&
      LakeRowLevel.translateDelete(predicates, lakeSchema).isDefined

  override def deleteWhere(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    refuseTimeTravelWrite()
    val md = LakeRowLevel.translateDelete(predicates, lakeSchema).getOrElse(
      throw new IllegalStateException(
        s"graft-lake: deleteWhere called with untranslatable predicates " +
          predicates.mkString("[", ", ", "]")))
    LakeRowLevel.executeDelete(SparkSession.active, new HadoopStore(rootUri),
      tableName, lakeSchema, md, evolved = evolved)
  }

  /** `TRUNCATE TABLE lake.t` / unconditional `DELETE FROM lake.t`:
    * retire EVERYTHING — the distributed retention delete with a
    * far-future cutoff (hour-dir walk on the driver, per-object
    * deletes fanned to executors, manifests invalidated). */
  override def truncateTable(): Boolean = {
    refuseTimeTravelWrite()
    require(branchAudit.isEmpty,
      "graft-lake: TRUNCATE under a WAP branch session is not a branch " +
        "operation — abort_audit drops the staged batch; truncate the " +
        "table outside the branch")
    LakeMaintenance.expire(new HadoopStore(rootUri), tableName,
      Instant.parse("9999-01-01T00:00:00Z"))
    true
  }

  /** SQL UPDATE / MERGE / arbitrary-predicate DELETE — the GROUP-based
    * copy-on-write rewrite ([[LakeRowLevelOperation]]). Refused under
    * `reconcile`: a drifted object's rows cannot round-trip through
    * the strict writer — compact onto one header first. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    refuseTimeTravelWrite()
    require(!reconcile,
      "graft-lake: row-level SQL (DELETE/UPDATE/MERGE) on a reconcile " +
        "table would rewrite drifted objects onto the merged header as " +
        "a side effect — run CALL lake.system.compact first, then " +
        "retry without reconcile")
    // WAP BRANCH: every DML verb mutates the branch view (batch + live)
    // through the position-delta plan with the branch rewrite commit
    // (the patches name each touched object, which is what makes the
    // batch-vs-live lineage split exact); the branch "commit" is an
    // intent-state swap, not a generation commit. MERGE's matched arms
    // are ordinary patches; its NOT-MATCHED inserts take BATCH lineage
    // (hidden until publish, delivered as `inserted` by the CDC split,
    // dropped by abort_audit) — a branch insert is semantically a late
    // member of the staged batch, not a live append.
    branchAudit.foreach { _ =>
      return new LakeRowLevelOperationBuilder(rootUri, tableName,
        lakeSchema, info, byName = evolved, branch = branchAudit)
    }
    // EVOLVED tables (declared schema) are fine: rewriting an old-header
    // object onto the declared header is the evolution contract, not a
    // side effect — the scan resolves by name, the write emits declared
    new LakeRowLevelOperationBuilder(rootUri, tableName, lakeSchema, info,
      byName = evolved)
  }

  /** PROVENANCE metadata column (`SELECT *, _object_key FROM lake.t` —
    * the Delta `_metadata.file_path` analogue): every row knows the
    * lake object it came from, which is what audit/repair workflows
    * key on (count a flush's rows, find the object behind a bad
    * record, feed compaction/scrub decisions). Costs nothing unless
    * selected (column pruning treats it like any field), and an
    * equality/IN filter on it prunes the scan to EXACTLY those objects
    * — the point lookup of the key layout itself.
    *
    * BATCH scans only: Spark's streaming planner resolves the column
    * but runs no pushdown/pruning pass over streaming DSv2 relations,
    * so the scan is never told it was requested and cannot widen its
    * rows (selecting it on `readStream` fails at execution — a planner
    * gap, not a connector choice). */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = LakeDataSource.ObjectKeyCol
        override def dataType(): org.apache.spark.sql.types.DataType = StringType
        override def isNullable: Boolean = false
        override def comment(): String =
          "lake object key (YYYY/MM/DD/HH/table/uuid) this row was read from"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = LakeDataSource.RowPosCol
        override def dataType(): org.apache.spark.sql.types.DataType = LongType
        override def isNullable: Boolean = false
        override def comment(): String =
          "0-based data-record ordinal of this row within its lake object"
      })
  private lazy val resolvedPair: (TableSchema, Boolean) =
    preResolved match {
      case Some(s) => (s, preEvolved.getOrElse(
        LakeSchemas.current(new HadoopStore(rootUri), tableName).isDefined))
      case None =>
        if (reconcile)
          (LakeReader.reconciledGroups(new HadoopStore(rootUri), tableName)._1,
            false)
        else
          // time travel resolves the SNAPSHOT's own schema version
          // (schema-at-snapshot); current-declared otherwise
          asOfGeneration
            .flatMap(g => LakeDataSource.resolveSchemaAt(rootUri, tableName, g))
            .getOrElse(LakeDataSource.resolveSchema(rootUri, tableName))
    }
  private lazy val lakeSchema: TableSchema = resolvedPair._1
  /** DECLARED-schema (evolved) table: objects may carry older headers —
    * readers resolve per object BY NAME against the declared schema
    * (null-fill / widen), writers emit the declared header. */
  private lazy val evolved: Boolean = resolvedPair._2
  /** Reader mode: per-object by-name resolution (reconcile's merged
    * schema, or an evolved table's declared one) vs strict single-header. */
  private def byName: Boolean = reconcile || evolved

  override def name(): String = s"graft-lake:$tableName"
  override def schema(): StructType = LakeDataSource.outputStruct(lakeSchema)

  /** The key layout IS hour partitioning — declared so Spark's own
    * overwrite planning speaks it: `INSERT OVERWRITE` under
    * `spark.sql.sources.partitionOverwriteMode=dynamic` (and
    * `df.writeTo(t).overwritePartitions()`) replaces exactly the HOURS
    * the incoming rows land in, the batch-repair primitive of a
    * `YYYY/MM/DD/HH` lake. */
  override def partitioning(): Array[Transform] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.hours(
      LakeDataSource.EventHourCol))

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE, TableCapability.MICRO_BATCH_READ,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // reconcile is a TABLE-level mode: the table's schema must be the
    // union-by-name merge for the reconciling reader to resolve against.
    // A scan-level-only flag (e.g. .option("reconcile") on a catalog
    // .table() read, whose schema was the strict one-object peek) would
    // silently drop columns other header generations carry — refuse
    // with the remedy instead.
    require(reconcile || !LakeDataSource.reconcileOpt(options),
      s"graft-lake: reconcile must be set where the table resolves — " +
        "pass .option(\"reconcile\", true) on read/readStream.format(\"graft-lake\") " +
        "(it reaches the table), or spark.sql.catalog.<name>.reconcile=true " +
        "for catalog-resolved tables")
    val asOf = asOfGeneration.orElse(LakeDataSource.asOfOpt(options))
    new LakeScanBuilder(rootUri, tableName, lakeSchema,
      Option(options.get("clusterbyhour")).exists(_.toBoolean),
      byName,
      asOfGeneration = asOf,
      withAudit = Option(options.get("withaudit")).map(_.trim)
        .filter(_.nonEmpty).orElse(branchAudit),
      streamOptions = {
        val (latest, fromHour) =
          Option(options.get("startfrom")).map(_.trim) match {
            case None => (false, None)
            case Some(v) if v.equalsIgnoreCase("earliest") => (false, None)
            case Some(v) if v.equalsIgnoreCase("latest") => (true, None)
            case Some(v) if v.toLowerCase.startsWith("version:") => (false, None)
            case Some(v) =>
              val at = try Instant.parse(v) catch {
                case _: java.time.format.DateTimeParseException =>
                  throw new IllegalArgumentException(
                    "graft-lake: startFrom must be earliest|latest|" +
                      "version:<generation-or-tag>|an ISO-8601 instant, " +
                      s"got $v")
              }
              (false, Some(at))
          }
        LakeStreamOptions(
          Option(options.get("maxobjectspertrigger")).map(_.toInt),
          Option(options.get("maxhourage")).map(_.toInt),
          latest, fromHour,
          Option(options.get("startfrom")).map(_.trim)
            .filter(_.toLowerCase.startsWith("version:"))
            .map(_.substring("version:".length).trim))
      })
  }

  /** APPEND to an existing lake table (`.mode("append")` — the lake is
    * append-only, so Overwrite/ErrorIfExists are refused by the absent
    * truncate capability; creating a fresh table is [[LakeWriter.write]]
    * or the Collector's job). Columns resolve BY NAME against the
    * declared schema — the declared schema stays authoritative, the
    * incoming frame may order columns however it likes.
    *
    * `_event_hour`: Spark's by-name write resolution requires data for
    * EVERY table column, including the derived one — the input must
    * carry it, and its VALUES are IGNORED (the landed hour is
    * `flushTime`'s, stamped into the object keys, exactly like every
    * other write path). A lake→lake pipeline (connector read →
    * transform → append) carries it naturally; a fresh frame adds any
    * non-null timestamp literal, or uses [[LakeWriter.write]]. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    refuseTimeTravelWrite()
    val ls = lakeSchema // loud when the table has no objects yet
    val in = info.schema()
    val dataNames = in.fieldNames.filterNot(_ == LakeDataSource.EventHourCol)
    require(dataNames.toSet == ls.columnNames.toSet,
      s"write schema ${dataNames.mkString("(", ",", ")")} must carry exactly " +
        s"the declared lake columns ${ls.columnNames.mkString("(", ",", ")")}")
    ls.columns.foreach { case (nm, t) =>
      val f = in.fields(in.fieldIndex(nm))
      require(f.dataType == t.sparkType,
        s"column $nm: write type ${f.dataType} must match declared ${t.sparkType}")
    }
    new LakeWriteBuilder(rootUri, ls, in, info.options(), info.queryId())
  }
}

final class LakeWriteBuilder(rootUri: String, lakeSchema: TableSchema,
                             inSchema: StructType,
                             options: CaseInsensitiveStringMap,
                             queryId: String = "")
    extends WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsOverwriteV2
    with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {

  private var overwriteMode: Option[LakeRowLevel.OverwriteMode] = None

  /** `INSERT OVERWRITE` / `mode("overwrite")` / `writeTo(t).overwrite
    * (cond)`: hour-scoped replacement (see [[LakeRowLevel
    * .OverwriteMode]]). Rows route to their OWN `_event_hour` in these
    * modes — replacing an hour means landing the repaired rows back in
    * it, not under the write's wall-clock. */
  override def canOverwrite(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Boolean =
    LakeRowLevel.translateOverwrite(predicates, lakeSchema).isDefined

  override def overwrite(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): WriteBuilder = {
    overwriteMode = Some(
      LakeRowLevel.translateOverwrite(predicates, lakeSchema).getOrElse(
        throw new IllegalArgumentException(
          "graft-lake overwrite supports TRUE (full) or a pure " +
            s"_event_hour condition (hour scope), got " +
            predicates.mkString("[", ", ", "]") +
            " — row-level replacement is DELETE FROM + append")))
    this
  }

  override def truncate(): WriteBuilder = {
    overwriteMode = Some(LakeRowLevel.OverwriteAll)
    this
  }

  override def overwriteDynamicPartitions(): WriteBuilder = {
    overwriteMode = Some(LakeRowLevel.OverwriteDynamic)
    this
  }

  override def build(): Write = {
    // clusterBy is either a column list (lexicographic range layout) or
    // `zorder(a,b)` — the Morton two-column layout (see
    // [[LakeWrite.requiredDistribution]] / ZOrderWriteLayout)
    val (clusterBy, zorderBy) =
      LakeDataSource.parseClusterBy(Option(options.get("clusterby")))
    (clusterBy ++ zorderBy.toSeq.flatMap(z => Seq(z._1, z._2))).foreach(c =>
      require(lakeSchema.columnNames.contains(c),
        s"clusterBy column $c is not a lake column " +
          lakeSchema.columnNames.mkString("(", ",", ")")))
    zorderBy.foreach { case (a, b) =>
      val cols = lakeSchema.columns.toMap
      Seq(a, b).foreach(c => require(cols(c) match {
        // CFloat is REFUSED: the z-value interleaves the long cast's low
        // bits, and a fractional domain (scores in [0,1)) truncates to a
        // constant — the layout would silently degenerate to 1-D. Scale
        // to integers first (cents, millis, micros).
        case ColType.CInteger | ColType.CTime => true
        case _ => false
      }, s"zorder column $c must be INTEGER or TIME (got ${cols(c)}); " +
        "scale FLOAT domains to integers first — a fractional cast " +
        "truncates to a constant and the z-layout degenerates"))
    }
    val auditId = Option(options.get("auditid")).map(_.trim).filter(_.nonEmpty)
    auditId.foreach { id =>
      require(id.matches("[A-Za-z0-9._-]{1,64}"),
        s"graft-lake: auditId must be [A-Za-z0-9._-]{1,64}, got '$id'")
      require(overwriteMode.isEmpty,
        "graft-lake: write-audit-publish covers APPENDS — an overwrite " +
          "cannot stage invisibly (its doomed scope must freeze at " +
          "publish); validate with an audited append + DELETE instead")
    }
    new LakeWrite(rootUri, lakeSchema, inSchema,
      Option(options.get("flushtime")).map(Instant.parse).getOrElse(Instant.now()),
      Option(options.get("gzip")).forall(_.toBoolean),
      Option(options.get("maxrecordsperobject")).map(_.toLong).getOrElse(0L),
      Option(options.get("zonemaps")).exists(_.toBoolean),
      Option(options.get("bloomcolumns")).map(_.split(',').map(_.trim)
        .filter(_.nonEmpty).toSeq).getOrElse(Nil),
      clusterBy,
      Option(options.get("writepartitions")).map(_.toInt).getOrElse(0),
      Option(options.get("sinkid")).getOrElse(queryId),
      zorderBy, overwriteMode, auditId)
  }
}

/** Staged-publish batch write — the [[graft.streaming.LakeSink]] /
  * compaction commit protocol on the DSv2 surface: every task attempt
  * writes its rolled objects (and sidecars) under a job-scoped
  * `_staging/` prefix; only COMMITTED attempts' keys reach
  * [[commit]], which renames exactly those into place — a failed,
  * retried, speculative, or hard-killed attempt can never leak a
  * partial object into the table (Spark's commit coordinator picks one
  * winning attempt per partition; the staging prefix is swept on
  * commit AND abort). Rows land under the driver-stamped `flushTime`'s
  * hour (option `flushTime`, ISO-8601; default now). */
final class LakeWrite(rootUri: String, lakeSchema: TableSchema,
                      inSchema: StructType, flushTime: Instant, gzip: Boolean,
                      maxRecordsPerObject: Long, zoneMaps: Boolean,
                      bloomColumns: Seq[String],
                      clusterBy: Seq[String] = Nil, writePartitions: Int = 0,
                      sinkId: String = "",
                      zorderBy: Option[(String, String)] = None,
                      overwriteMode: Option[LakeRowLevel.OverwriteMode] = None,
                      // WRITE-AUDIT-PUBLISH: land the batch INVISIBLY
                      // behind a named audit intent — readers exclude
                      // the keys until `CALL lake.system.publish_audit`
                      // CAS-commits them (or abort_audit removes them)
                      auditId: Option[String] = None)
    extends Write with BatchWrite
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  private val staging = StagedPublish.stagingPrefix("dsv2")

  // what the writers ACTUALLY wrote (overwrite modes may probe the
  // table's sidecar convention) — the commit's renames must follow it
  @volatile private var effectivePolicy: LakeRowLevel.SidecarPolicy =
    LakeRowLevel.SidecarPolicy(gzip, zoneMaps, bloomColumns)

  /** `option("clusterBy", "zorder(a,b)")` — the two-column Morton write
    * layout, consumed by the ZOrderWriteLayout optimizer rule (see
    * [[requiredDistribution]] for why Spark's own distribution machinery
    * cannot express it). Exposes the requested columns and partition
    * count to the rule. */
  def zorderColumns: Option[(String, String)] = zorderBy
  def zorderPartitions: Int = writePartitions

  override def toStreaming
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
    new LakeStreamingWrite(rootUri, lakeSchema, inSchema, gzip,
      maxRecordsPerObject, zoneMaps, sinkId)

  /** Declarative write LAYOUT (`option("clusterBy", "user_id")`): Spark
    * range-partitions and sorts the incoming rows on the cluster
    * columns, so each task's rolled objects land VALUE-BANDED — tight
    * zone-map bands and low-cardinality blooms, i.e. a layout the
    * read-side pruning actually bites on (the Delta OPTIMIZE ZORDER
    * idea, paid once at write time as one shuffle Spark plans anyway).
    * Without `clusterBy` the distribution is unspecified — rows land in
    * whatever partitioning the query produced. `writePartitions` caps
    * the task count (≈ object count when rows fit one object/task).
    *
    * `zorder(a,b)` also reports UNSPECIFIED here — deliberately. The
    * Morton ordering is a function of two columns, and a connector can
    * only hand Spark a custom function-valued SortOrder if the write
    * plan carries a FunctionCatalog to resolve it against, which plain
    * `df.write.format(...)` plans never do (V2ExpressionUtils resolves
    * transforms via the relation's catalog or not at all). So the
    * z-layout is applied by the ZOrderWriteLayout rule in
    * `org.apache.spark.sql.graft` — same range-exchange-plus-sort shape
    * this interface would have produced, on the engine's own
    * [[org.apache.spark.sql.graft.exprs.ZInterleave]] expression. */
  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    if (clusterBy.isEmpty)
      org.apache.spark.sql.connector.distributions.Distributions.unspecified()
    else
      org.apache.spark.sql.connector.distributions.Distributions.ordered(
        clusterOrdering)
  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    if (clusterBy.isEmpty) Array.empty else clusterOrdering
  override def requiredNumPartitions(): Int =
    if (clusterBy.isEmpty) 0 else writePartitions
  private def clusterOrdering
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    clusterBy.map(c => Expressions.sort(Expressions.column(c),
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray

  override def toBatch: BatchWrite = this
  override def description(): String =
    s"graft-lake append table=${lakeSchema.name} root=$rootUri staging=$staging"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    if (overwriteMode.isDefined) {
      // overwrite modes route rows to their OWN _event_hour (replacing
      // an hour means landing its repaired rows back IN it); the COW
      // writer is exactly that shape. Sidecars default to the TABLE's
      // probed convention — an hour repair must not silently replace
      // indexed objects with unindexed ones — with explicit write
      // options (zoneMaps / bloomColumns) taking precedence.
      effectivePolicy =
        if (zoneMaps || bloomColumns.nonEmpty)
          LakeRowLevel.SidecarPolicy(gzip, zoneMaps, bloomColumns)
        else LakeRowLevel.policyFor(new HadoopStore(rootUri),
          lakeSchema.name, lakeSchema)
      new LakeCowWriterFactory(rootUri, lakeSchema, inSchema, s"$staging/",
        effectivePolicy, maxRecordsPerObject)
    }
    else
      new LakeWriterFactory(rootUri, lakeSchema, inSchema, s"$staging/",
        flushTime, gzip, maxRecordsPerObject, zoneMaps, bloomColumns)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val store = new HadoopStore(rootUri)
    try {
      val staged = messages.flatMap { case LakeCommitMessage(keys) => keys }
      // OVERWRITE commits compute the replaced scope BEFORE publishing
      // (the listing must see only pre-existing objects), enforce the
      // replaceWhere containment contract, and retire the scope after
      // the replacements land — the copy-on-write discipline
      val doomed: Seq[String] = overwriteMode.fold(Seq.empty[String]) { mode =>
        val stagedHours = staged.map(k =>
          LakeKeys.hourPrefixOf(k.stripPrefix(s"$staging/"))).distinct
        mode match {
          case LakeRowLevel.OverwriteAll =>
            LakeReader.listTableKeys(store, lakeSchema.name, None)
          case LakeRowLevel.OverwriteHours(f, t) =>
            val lo = f.map(LakeKeys.datePrefix)
            val hi = t.map(LakeKeys.datePrefix)
            val outside = stagedHours.filterNot(h =>
              lo.forall(_ <= h) && hi.forall(h <= _))
            // throwing here aborts cleanly: nothing published, nothing
            // retired, staging swept by the finally
            require(outside.isEmpty,
              s"graft-lake overwrite: incoming rows land in hours " +
                s"${outside.mkString(", ")} OUTSIDE the replaced scope " +
                s"[${lo.getOrElse("-inf")}, ${hi.getOrElse("+inf")}] — a " +
                "replaceWhere must cover its own writes")
            LakeReader.listTableKeys(store, lakeSchema.name,
              Some((f.getOrElse(Instant.EPOCH),
                t.getOrElse(Instant.parse("9999-01-01T00:00:00Z")))))
          case LakeRowLevel.OverwriteDynamic =>
            // version-aware per-hour listing: a tombstoned (logically
            // deleted) object is not part of the replaced scope
            stagedHours.flatMap { h =>
              val at = LakeStreamOffset.hourInstant(h)
              LakeReader.listTableKeys(store, lakeSchema.name, Some((at, at)))
            }
        }
      }
      val hours = staged.map(k =>
        LakeKeys.hourPrefixOf(k.stripPrefix(s"$staging/"))) ++
        doomed.map(LakeKeys.hourPrefixOf) :+ LakeKeys.datePrefix(flushTime)
      // landing in a manifest-sealed hour (an explicit old flushTime, an
      // overwritten sealed hour) invalidates the manifest before the
      // first rename
      Manifests.invalidateIfCovers(store, lakeSchema.name, hours.min)
      // equality-delete scope guard ([[LakeEqDeletes.guardBackfill]]):
      // rows landing BELOW a live equality delete's watermark would be
      // wrongly matched by it (they post-date the delete). OverwriteAll
      // is exempt — it replaces EVERYTHING, so its commit FOLDS the
      // list instead (nothing the deletes targeted survives). The
      // common now-hour append never pays the chain consult: the
      // staged-hour minimum is this hour, and the guard's own listing
      // is skipped unless a staged hour lies in the past.
      val stagedHourMin = staged.map(k =>
        LakeKeys.hourPrefixOf(k.stripPrefix(s"$staging/")))
        .minOption.getOrElse(LakeKeys.datePrefix(flushTime))
      val dropsEqdels = overwriteMode.contains(LakeRowLevel.OverwriteAll)
      if (!dropsEqdels && stagedHourMin < LakeKeys.datePrefix(Instant.now()))
        LakeEqDeletes.guardBackfill(store, lakeSchema.name, stagedHourMin)
      // OVERWRITE commits follow the LakeVersions protocol (plain
      // appends stay outside it — fresh uuid keys cannot conflict):
      // intent → publish renames → CAS the generation → retire the
      // doomed scope. The incoming rows are genuinely NEW data (an hour
      // REPAIR, not a rewrite of surviving rows) — recorded as
      // `inserted`, so a CDC-aware stream always delivers them.
      val versioned = overwriteMode.isDefined
      val dsts = staged.map(_.stripPrefix(s"$staging/")).toSeq
      val intentId = java.util.UUID.randomUUID().toString
      if (versioned)
        LakeVersions.writeIntent(store, lakeSchema.name, intentId, dsts)
      // WRITE-AUDIT-PUBLISH: the batch lands at its FINAL keys but
      // behind a named AUDIT intent — hidden from every reader (an
      // uncommitted intent's keys are excluded) until publish_audit
      // CAS-commits it. One audit = one write: a second batch under the
      // same id would have to REPLACE the intent file, whose torn
      // window would flash the first batch visible — refused loudly.
      auditId.foreach { id =>
        val ik = LakeVersions.intentKey(lakeSchema.name, s"audit-$id")
        require(!store.exists(ik),
          s"graft-lake: audit '$id' already holds a staged batch on " +
            s"'${lakeSchema.name}' — publish or abort it first (one " +
            "audit = one write; use a fresh id per batch)")
        LakeVersions.writeIntent(store, lakeSchema.name, s"audit-$id", dsts)
      }
      staged.foreach { k =>
        StagedPublish.move(store, k, k.stripPrefix(s"$staging/"),
          effectivePolicy.zoneMaps, effectivePolicy.bloomColumns.nonEmpty)
      }
      if (versioned) {
        try LakeVersions.commit(store, lakeSchema.name, op = "overwrite",
          removed = doomed, inserted = dsts, intentId = Some(intentId),
          dropEqdels = dropsEqdels)
        catch { case e: Throwable =>
          dsts.foreach(StagedPublish.remove(store, _, "graft-lake overwrite abort"))
          store.delete(LakeVersions.intentKey(lakeSchema.name, intentId))
          throw e
        }
        if (doomed.nonEmpty &&
            !LakeVersions.isRetained(store, lakeSchema.name)) {
          LakeMaintenance.physicalRetire(store, doomed)
          LakeVersions.pruneChainIfLarge(store, lakeSchema.name, doomed.size)
        }
      }
      // again AFTER the renames: a seal racing the commit heals
      Manifests.invalidateIfCovers(store, lakeSchema.name, hours.min)
    } finally StagedPublish.sweep(store, staging)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    StagedPublish.sweep(new HadoopStore(rootUri), staging)
}

final case class LakeCommitMessage(keys: Seq[String]) extends WriterCommitMessage

/** `df.writeStream.format("graft-lake")`: tasks write rolled objects
  * under an epoch-scoped `_staging/` prefix, and commit publishes the
  * successful attempts' objects through [[StagedPublish.publishEpoch]],
  * the epoch publish [[graft.streaming.LakeSink]] runs too. Names are
  * seeded `sinkId:table:epoch:index`; sinkId defaults to the streaming
  * QUERY id, stable across restarts, so a replayed epoch REWRITES its
  * keys instead of duplicating, and a replay over a key a committed DML
  * statement has since tombstoned or vectored refuses. */
final class LakeStreamingWrite(rootUri: String, lakeSchema: TableSchema,
                               inSchema: StructType, gzip: Boolean,
                               maxRecordsPerObject: Long, zoneMaps: Boolean,
                               sinkId: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  require(sinkId.nonEmpty,
    "graft-lake streaming write needs a sink identity (Spark's queryId or option(\"sinkId\"))")

  // micro-batch epochs run serially: each factory creation stamps the
  // epoch's flushTime + staging prefix, read back by the commit/abort
  // that follows it
  @volatile private var current: (Instant, String) = _

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory = {
    val flushTime = Instant.now()
    val staging = StagedPublish.stagingPrefix(s"dsv2s-${lakeSchema.name}")
    current = (flushTime, staging)
    new LakeStreamingWriterFactory(rootUri, lakeSchema, inSchema,
      s"$staging/", flushTime, gzip, maxRecordsPerObject, zoneMaps)
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val (flushTime, staging) = current
    val store = new HadoopStore(rootUri)
    try StagedPublish.publishEpoch(store, lakeSchema.name, sinkId, epochId,
      flushTime, gzip, zoneMaps,
      messages.toSeq.flatMap { case LakeCommitMessage(keys) => keys })
    finally StagedPublish.sweep(store, staging)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    if (current != null) StagedPublish.sweep(new HadoopStore(rootUri), current._2)
}

final class LakeStreamingWriterFactory(rootUri: String, lakeSchema: TableSchema,
                                       inSchema: StructType, keyPrefix: String,
                                       flushTime: Instant, gzip: Boolean,
                                       maxRecordsPerObject: Long, zoneMaps: Boolean)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new LakeDataWriter(rootUri, lakeSchema, inSchema, keyPrefix, flushTime,
      gzip, maxRecordsPerObject, zoneMaps, Nil)
}

final class LakeWriterFactory(rootUri: String, lakeSchema: TableSchema,
                              inSchema: StructType, keyPrefix: String,
                              flushTime: Instant, gzip: Boolean,
                              maxRecordsPerObject: Long, zoneMaps: Boolean,
                              bloomColumns: Seq[String])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new LakeDataWriter(rootUri, lakeSchema, inSchema, keyPrefix, flushTime,
      gzip, maxRecordsPerObject, zoneMaps, bloomColumns)
}

/** One task attempt's writer: Catalyst rows → external wire values (BY
  * NAME against the declared schema) → the shared rolling object core
  * ([[LakeWriter.RollingObjectWriter]] — the same codec, sidecar
  * tracking, and abort discipline as every other write path). */
final class LakeDataWriter(rootUri: String, lakeSchema: TableSchema,
                           inSchema: StructType, keyPrefix: String,
                           flushTime: Instant, gzip: Boolean,
                           maxRecordsPerObject: Long, zoneMaps: Boolean,
                           bloomColumns: Seq[String])
    extends DataWriter[InternalRow] {

  private val roller = new LakeWriter.RollingObjectWriter(
    new HadoopStore(rootUri), lakeSchema, flushTime, gzip,
    maxRecordsPerObject, keyPrefix, zoneMaps, bloomColumns)

  // the shared declared-schema conversion table (LakeDataSource
  // .externalGetters) — by-name, external-boxed, wire-millis timestamps
  private val getters: Array[InternalRow => Any] =
    LakeDataSource.externalGetters(lakeSchema, inSchema)

  override def write(row: InternalRow): Unit = {
    val vals = new Array[Any](getters.length)
    var i = 0
    while (i < getters.length) { vals(i) = getters(i)(row); i += 1 }
    roller.write(vals)
  }

  override def commit(): WriterCommitMessage =
    LakeCommitMessage(roller.finish().map(_.key))

  override def abort(): Unit = roller.abort()
  override def close(): Unit = ()
}

/** Streaming-read knobs threaded from the reader options (inert for
  * batch scans): see [[LakeMicroBatchStream]]. `startFromHour` is the
  * third `startFrom` mode (an ISO-8601 instant): begin at that hour —
  * the bounded-backfill deployment ("reprocess from last Monday"). */
final case class LakeStreamOptions(maxObjectsPerTrigger: Option[Int] = None,
                                   maxHourAge: Option[Int] = None,
                                   startFromLatest: Boolean = false,
                                   startFromHour: Option[Instant] = None,
                                   // `startFrom=version:<gen-or-tag>`:
                                   // the SNAPSHOT-PINNED start — that
                                   // retained generation's live keys
                                   // begin as SEEN (never replayed),
                                   // only post-pin changes deliver
                                   startFromVersion: Option[String] = None)

final class LakeScanBuilder(rootUri: String, table: String, lakeSchema: TableSchema,
                            clusterByHour: Boolean = false,
                            // per-object BY-NAME resolution (a reconcile
                            // table's merged schema, or an evolved
                            // table's declared one); false = strict
                            byName: Boolean = false,
                            streamOptions: LakeStreamOptions = LakeStreamOptions(),
                            // copy-on-write mode (LakeRowLevelOperation):
                            // the built ROW scan defines the replaced
                            // group set, so aggregate/limit/TopN pushdown
                            // are refused and the scan narrows its runtime
                            // filter face to _object_key group identity
                            cowMode: Boolean = false,
                            onBuild: LakeScan => Unit = null,
                            // time travel: plan generation N's retained
                            // snapshot instead of the live listing
                            asOfGeneration: Option[Long] = None,
                            // write-audit-publish branch view
                            // (validation reads and branch DML): ALSO
                            // scan the named audit's staged (hidden)
                            // keys, and exclude the branch's replaced
                            // live originals (their replacements stand
                            // in)
                            withAudit: Option[String] = None)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit
    with SupportsPushDownTopN {

  private var required: StructType = LakeDataSource.outputStruct(lakeSchema)
  private var pushed: Array[Filter] = Array.empty
  private var pushedAgg: Option[LakeAgg.Pushed] = None
  private var pushedLimit: Option[Int] = None
  private var pushedTopN: Option[(Boolean, Int)] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => LakePrune.prunable(f, lakeSchema))
    // EVERY filter stays post-scan: sidecars bound OBJECTS (bloom false
    // positives, band over-approximation), never rows
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** LIMIT pushdown, n ≥ 0: an unfiltered `LIMIT n` plans only a
    * PREFIX of objects — sidecar `records` accumulate until they cover
    * n, so `SELECT * FROM lake LIMIT 10` opens one object of a
    * million-object lake and reads ONE sidecar to decide so
    * ([[LakeScan.computePlanned]] walks lazily). Always PARTIAL: whole
    * objects are kept, Spark re-applies the exact limit on top.
    * Refused when filters pushed (a residual filter between limit and
    * scan stops Spark offering it anyway — belt and braces). */
  override def pushLimit(limit: Int): Boolean = {
    if (pushed.nonEmpty || pushedAgg.nonEmpty || cowMode) return false
    pushedLimit = Some(limit)
    true
  }
  override def isPartiallyPushed(): Boolean = true

  /** TopN pushdown for the "newest/oldest N events" query: `ORDER BY
    * _event_hour [DESC] LIMIT n` plans an HOUR-ORDERED object prefix —
    * the key layout IS the sort, so the earliest/latest hours' objects
    * provably contain a valid top-n set (rows tie within an hour;
    * Spark's retained final sort+limit picks among them, exactly as
    * SQL's arbitrary tie-break allows). Only `_event_hour` orderings
    * push — a data column's order says nothing about object layout. */
  override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
                        limit: Int): Boolean = {
    if (pushed.nonEmpty || pushedAgg.nonEmpty || cowMode) return false
    orders.toSeq match {
      case Seq(o) => o.expression() match {
        case nr: NamedReference
            if nr.fieldNames().sameElements(Array(LakeDataSource.EventHourCol)) =>
          val desc = o.direction() ==
            org.apache.spark.sql.connector.expressions.SortDirection.DESCENDING
          pushedTopN = Some((desc, limit))
          true
        case _ => false
      }
      case _ => false
    }
  }

  /** Metadata-only aggregates ([[LakeAggScan]]): count/min/max answer
    * from the stats sidecars without opening objects. Only for
    * UNFILTERED scans (sidecars describe whole objects; Spark only
    * offers aggregates here when no filter sits between them and the
    * scan, and the guard keeps that invariant locally too) — and never
    * claimed COMPLETE: Spark's final merge combines the per-object
    * rows, which is what keeps the sidecar-less fallback exact. */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    // byName (reconcile / evolved): a mixed-header object's sidecar
    // describes the object's OWN columns — count(c)/min/max over a
    // column the object lacks must contribute nulls, which its sidecar
    // cannot attest; refuse those. COUNT(*) alone is column-AGNOSTIC
    // (sidecar `records` counts rows whatever the header), so it stays
    // metadata-only even across mixed headers.
    // asOf: LakeAggScan lists the LIVE table — a snapshot read answers
    // from its own key set, so the row scan (still sidecar-pruned) owns
    // it; withAudit likewise (the validation branch reads live ∪ staged)
    if (pushed.nonEmpty || cowMode || asOfGeneration.isDefined ||
        withAudit.isDefined)
      return false
    LakeAgg.translate(aggregation, lakeSchema) match {
      case some @ Some(agg)
          if !byName || agg.specs.forall(_ == LakeAgg.SCountStar) =>
        pushedAgg = some; true
      case _ => false
    }
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    // with a pushed aggregate the output is the AGGREGATE's schema,
    // owned by LakeAggScan; ordinary column pruning no longer applies
    if (pushedAgg.isEmpty) required = requiredSchema

  override def build(): Scan = pushedAgg match {
    // NOTE: a pushed-AGGREGATE scan cannot usefully report hour
    // clustering — Spark's V2ScanPartitioningAndOrdering resolves the
    // reported keys against the TABLE relation's attributes, which a
    // pushed-aggregate relation's freshly-minted output never contains,
    // so the report is structurally ignored there. No loss at scale:
    // the post-aggregate exchange moves ONE metadata-sized row per
    // OBJECT (the sidecar answer), never data rows.
    case Some(agg) => new LakeAggScan(rootUri, table, lakeSchema, agg, byName)
    case None =>
      val s = new LakeScan(rootUri, table, lakeSchema, required, pushed,
        pushedLimit, pushedTopN, clusterByHour, streamOptions, byName,
        groupFilterOnKey = cowMode, asOfGeneration = asOfGeneration,
        withAudit = withAudit)
      if (onBuild != null) onBuild(s)
      s
  }
}

final class LakeScan(rootUri: String, table: String, lakeSchema: TableSchema,
                     required: StructType, pushed: Array[Filter],
                     limit: Option[Int] = None,
                     topN: Option[(Boolean, Int)] = None,
                     clusterByHour: Boolean = false,
                     streamOptions: LakeStreamOptions = LakeStreamOptions(),
                     byName: Boolean = false,
                     groupFilterOnKey: Boolean = false,
                     asOfGeneration: Option[Long] = None,
                     withAudit: Option[String] = None)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering with SupportsReportPartitioning {

  /** `spark.readStream.format("graft-lake")` — the micro-batch twin of
    * this scan ([[LakeMicroBatchStream]]): same codec, same required
    * schema, offsets = the processed-object ledger in the checkpoint.
    * Spark delivers pushed filters to the ScanBuilder but never prunes a
    * streaming scan itself — so the CONNECTOR carries them across: the
    * stream narrows discovery by the predicate's `_event_hour` range/set
    * and drops bloom/band-refuted objects at plan time, the same
    * object-level decision as this batch scan (filters re-apply
    * row-level either way). */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(asOfGeneration.isEmpty,
      "graft-lake: streaming a VERSION AS OF snapshot is contradictory — " +
        "a snapshot does not grow; read it as a batch")
    require(withAudit.isEmpty,
      "graft-lake: streaming a withAudit validation branch is not " +
        "supported — the staged batch is a bounded batch read; the " +
        "stream will deliver it (exactly once) after publish_audit")
    new LakeMicroBatchStream(rootUri, table, lakeSchema, required,
      streamOptions.maxObjectsPerTrigger, streamOptions.maxHourAge,
      streamOptions.startFromLatest, byName,
      streamOptions.startFromHour, pushed,
      streamOptions.startFromVersion)
  }

  /** STORAGE-PARTITIONED execution (`option("clusterByHour", true)` +
    * `spark.sql.sources.v2.bucketing.enabled`): the key layout already
    * clusters every object under exactly one `_event_hour`, so the scan
    * can PROVE hour-clustering to Catalyst — `GROUP BY _event_hour`
    * rollups and lake↔lake joins ON `_event_hour` then run with NO
    * shuffle on the lake side (Spark groups same-hour objects into one
    * task, the Iceberg storage-partitioned-join shape). Opt-IN because
    * the proof costs parallelism: tasks become one-per-HOUR, not
    * one-per-object — right when the query keys on the hour (at lake
    * scale hours outnumber cores), wrong for a plain full scan of a
    * few-hour lake. Reported only while `_event_hour` survives column
    * pruning (the keys must resolve against the scan output). */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (clusterByHour &&
        required.fieldNames.contains(LakeDataSource.EventHourCol)) {
      val hours = plannedKeys.map(LakeKeys.hourPrefixOf).distinct.size
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        Array(Expressions.identity(LakeDataSource.EventHourCol)), hours)
    } else
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
        plannedKeys.size)

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-lake table=$table root=$rootUri " +
      s"PushedFilters: ${pushed.mkString("[", ", ", "]")}, " +
      limit.fold("")(n => s"PushedLimit: $n, ") +
      topN.fold("")(t =>
        s"PushedTopN: ORDER BY ${LakeDataSource.EventHourCol} " +
          s"${if (t._1) "DESC" else "ASC"} LIMIT ${t._2}, ") +
      s"ReadSchema: ${required.simpleString}"

  /** RUNTIME filtering (dynamic file pruning): every wire column can
    * prune objects at execution time (equality/IN → bloom probes and
    * `[v,v]` bands, exactly like the compile-time pushdown), and
    * `_event_hour` prunes at the LISTING level — so a plain JOIN to a
    * filtered dimension through this connector skips lake objects the
    * moment Spark's dynamic-pruning subquery delivers the build side's
    * keys, with no bespoke [[LakeReader.lakeSemiJoin]] call. Spark
    * bounds the key list by the broadcast threshold (runtime filters
    * ride a reused broadcast), the bloom probe is conservative (a
    * false positive costs an opened object, never a wrong row), and
    * the pushed filters all re-apply row-level post-scan. */
  override def filterAttributes(): Array[NamedReference] =
    // copy-on-write scans narrow the runtime-filter face to _object_key
    // ALONE: Spark's row-level group filtering keys its matching-rows
    // subquery on exactly these attributes, and object identity is the
    // group grain — the delivered `_object_key IN (...)` prunes to the
    // objects PROVEN to hold matches (LakePrune keySet), never a
    // many-column tuple filter
    if (groupFilterOnKey &&
        required.fieldNames.contains(LakeDataSource.ObjectKeyCol))
      Array(Expressions.column(LakeDataSource.ObjectKeyCol))
    else
      // only columns surviving column PRUNING: Spark resolves these
      // against the scan's output, and a runtime-filterable join key is
      // necessarily in that output anyway
      required.fieldNames.map(c => Expressions.column(c)).toArray

  override def filter(filters: Array[Filter]): Unit = synchronized {
    val usable = filters.filter(f => LakePrune.prunable(f, lakeSchema))
    // distinct: re-executing the same plan re-delivers the same runtime
    // filters — idempotent semantics, so keep the array bounded too
    val merged = (runtime ++ usable).distinct
    if (!merged.sameElements(runtime)) {
      runtime = merged
      plannedCache = null // next planInputPartitions re-prunes
    }
  }

  /** Runtime filters received so far — exposed (with [[plannedKeys]])
    * so specs and meters can pin that dynamic pruning actually fired. */
  def runtimeFilters: Seq[Filter] = synchronized(runtime.toSeq)

  private var runtime: Array[Filter] = Array.empty

  private final case class PlannedScan(keys: Seq[String], rows: Option[Long],
                                       dvs: Map[String, LakeVersions.DvRef],
                                       eqs: Seq[LakeEqDeletes.Compiled])
  private var plannedCache: PlannedScan = _

  private def planned: PlannedScan =
    synchronized {
      if (plannedCache == null) plannedCache = computePlanned()
      plannedCache
    }

  /** Kept keys plus the kept objects' exact row sum, from ONE walk and
    * ONE stats-sidecar read per object: [[estimateStatistics]]
    * (optimizer time) and [[planInputPartitions]] (execution time) both
    * consume this. Rows are exact-or-absent (the metadata-aggregate
    * contract): None when any kept object lacks a readable sidecar, or
    * when [[KeyWalk]] fans the walk out to executors — they decide keeps
    * only, and optimizer time is no place for a second metadata job. */
  private def computePlanned(): PlannedScan = {
    val store = new HadoopStore(rootUri)
    val pred = LakePrune.compile(pushed ++ runtime, lakeSchema)
    require(withAudit.isEmpty || asOfGeneration.isEmpty,
      "graft-lake: withAudit reads the CURRENT table plus a staged " +
        "batch — combining it with a VERSION AS OF snapshot is " +
        "contradictory (the batch was not part of any generation)")
    // the equality deletes the scan's rows subtract ([[LakeEqDeletes]]):
    // the live list for a current read, generation N's own list for
    // time travel — compiled once (one small file read per delete)
    val eqRefs: Seq[LakeEqDeletes.EqRef] = asOfGeneration match {
      case Some(g) => LakeVersions.eqdelsAt(store, table, g)
      case None => Nil // resolved with the listing below
    }
    // the delete-vector map the scan's rows subtract (merge-on-read):
    // the CURRENT committed map for a live read — resolved in the SAME
    // metadata pass as the tombstone exclusions — or generation N's own
    // map for a time-travel read (the snapshot's vectors, not today's)
    val dvs: Map[String, LakeVersions.DvRef] = asOfGeneration match {
      case Some(g) => LakeVersions.dvsAt(store, table, g)
      case None => Map.empty // resolved with the listing below
    }
    val (listed, dvMap, eqList) = (asOfGeneration, pred.hourRange) match {
      case (_, Some((from, to))) if from.isAfter(to) => (Seq.empty, dvs, eqRefs)
      case (Some(g), hr) =>
        // time travel: generation N's retained snapshot IS the listing;
        // the hour range still prunes it (zero-padded prefix compares),
        // and every sidecar probe below applies unchanged
        val snap = LakeVersions.liveAt(store, table, g)
        (hr.fold(snap) { case (from, to) =>
          import java.time.temporal.ChronoUnit
          val lo = LakeKeys.datePrefix(from.truncatedTo(ChronoUnit.HOURS))
          val hi = LakeKeys.datePrefix(to.truncatedTo(ChronoUnit.HOURS))
          snap.filter { k =>
            val h = LakeKeys.hourPrefixOf(k); h >= lo && h <= hi
          }
        }, dvs, eqRefs)
      case (None, hr) =>
        val view0 = LakeVersions.tableView(store, table)
        // write-audit-publish branch view (validation reads AND branch
        // DML scans): the named audit's hidden keys leave the exclusion
        // set — the scan sees live ∪ staged — and the branch's REPLACED
        // live originals JOIN it (their branch replacements stand in;
        // plain readers keep seeing the originals until publish). Hour
        // pruning and sidecar probes apply to them like any key.
        val view = withAudit.fold(view0) { id =>
          val (ks, branch) = LakeVersions.readIntentFull(store, table,
            s"audit-$id")
            .getOrElse(throw new IllegalArgumentException(
              s"graft-lake: no staged audit '$id' on table '$table' — " +
                "it was never written, already published, or aborted"))
          view0.copy(excl = view0.excl -- ks ++
            branch.map(_.removedKeys).getOrElse(Nil))
        }
        (LakeReader.listTableKeys(store, table, hr, Some(view)), view.dvs,
          view.eqdels)
    }
    val eqCompiled = LakeEqDeletes.compile(store, table, eqList)
    def eqScoped(k: String): Boolean = eqCompiled.exists(_.inScope(k))
    // an hour SET (IN-list / runtime hour filter) refines the listed
    // RANGE to exact hour membership — the key parse is the decision;
    // an _object_key SET decides membership on the key itself; both are
    // conjuncts, so both apply
    val hourKept = pred.hourSet.fold(listed)(hs =>
      listed.filter(k => LakeKeys.parseKey(k).exists(p => hs.contains(p._1))))
    val keys = pred.keySet.fold(hourKept)(ks => hourKept.filter(ks.contains))
    // live rows of a vectored object = sidecar records − vector count
    // (the count rides the generation record, so this stays METADATA-
    // exact — no vector file read at plan time)
    def dvDead(k: String): Long = dvMap.get(k).fold(0L)(_.count)
    if (keys.isEmpty) {
      // hour-pruned-to-nothing (or an empty retained snapshot) is a
      // legitimate empty scan; a table with no objects AT ALL fails
      // loudly like every lake read
      if (asOfGeneration.isEmpty &&
          LakeReader.firstTableKey(store, table).isEmpty)
        throw new IllegalArgumentException(
          s"no lake objects for table $table under $rootUri")
      PlannedScan(Seq.empty, Some(0L), dvMap, eqCompiled)
    } else if ((limit.isDefined || topN.isDefined) && pred.trivial &&
               runtime.isEmpty) {
      // pushed LIMIT (or TopN by _event_hour) on an unpruned scan:
      // greedy PREFIX — one sidecar read per kept object, stopping the
      // moment known rows cover the limit. O(objects needed), never
      // O(lake); an unreadable sidecar contributes unknown (0) rows, so
      // the walk conservatively keeps going — whole objects only, Spark
      // re-applies the exact limit (and the TopN's retained sort owns
      // the within-hour tie-break). TopN DESC walks the keys hour-
      // REVERSED: zero-padded key prefixes make hour order string order.
      val n = limit.orElse(topN.map(_._2)).get.toLong
      val ordered = topN match {
        case Some((desc, _)) =>
          val byHour = keys.sortBy(LakeKeys.hourPrefixOf)
          if (desc) byHour.reverse else byHour
        case None => keys
      }
      val kept = Seq.newBuilder[String]
      var known = 0L
      var allKnown = true
      val it = ordered.iterator
      var covered = n <= 0L
      while (it.hasNext && !covered) {
        val k = it.next()
        kept += k
        // an eq-scoped object's live-row count is UNKNOWN at metadata
        // time (the filter's matches need a read) — contribute nothing
        // and keep walking; the over-kept prefix is re-limited by Spark
        ZoneMaps.read(store, k) match {
          case Some(s) if !eqScoped(k) => known += s.records - dvDead(k)
          case _ => allKnown = false
        }
        covered = known >= n
      }
      PlannedScan(kept.result(), if (allKnown) Some(known) else None,
        dvMap, eqCompiled)
    } else if (KeyWalk.fansOut(keys.length)) {
      // executor walk: the kept keys only, so the row estimate is unknown
      val kept = if (pred.trivial) keys else KeyWalk.filter(store, keys)(pred.keeps)
      PlannedScan(kept, None, dvMap, eqCompiled)
    } else {
      var rows: Option[Long] = Some(0L)
      val kept = keys.filter { k =>
        val (keep, rec) = pred.keepsAndRecords(store, k)
        if (keep) rows =
          if (eqScoped(k)) None // exact-or-absent: filter matches unknown
          else for (a <- rows; r <- rec) yield a + r - dvDead(k)
        keep
      }
      PlannedScan(kept, rows, dvMap, eqCompiled)
    }
  }

  /** The kept object keys this scan will read — the prune decision,
    * exposed so specs can pin it against [[LakeReader.prunedKeys]] /
    * `readPruned*` kept-sets (and callers can meter skipping). */
  def plannedKeys: Seq[String] = planned.keys

  /** The delete-vector map the scan's partitions apply (merge-on-read)
    * — exposed for specs and the copy-on-write commit (a rewritten
    * object's vector dies with it). */
  def plannedDvs: Map[String, LakeVersions.DvRef] = planned.dvs

  /** The equality-delete file keys the scan's partitions apply — the
    * rewrite paths pass this as their `eqBasis` so a racing equality
    * DELETE aborts them instead of resurrecting its rows. */
  def plannedEqdels: Seq[String] = planned.eqs.map(_.ref.key)

  /** POST-PRUNE statistics from the stats sidecars, so Catalyst plans
    * joins against what the scan will actually read — "events for this
    * hour/key" is broadcast-sized even when the table is 100 TB, and
    * without this every lake join would SortMergeJoin on the TABLE's
    * size (or the default-size pessimism). Exact-or-absent (see
    * [[planned]]) — Spark falls back to its conservative default on
    * unknown, never a wrong broadcast. Row count is exact (sidecar
    * `records`); bytes are rows × the read schema's Catalyst default
    * row width — the same estimator shape Spark uses for sized
    * relations. */
  override def estimateStatistics(): Statistics = {
    val rows = planned.rows
    val rowWidth = required.fields.map(_.dataType.defaultSize).sum + 8L
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        rows.fold(java.util.OptionalLong.empty())(r =>
          java.util.OptionalLong.of(math.max(1L, r * rowWidth)))
      override def numRows(): java.util.OptionalLong =
        rows.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val p = planned
    p.keys.map { k =>
      LakeInputPartition(k, LakeKeys.parseKey(k).get._1.toEpochMilli,
        p.dvs.get(k).map(_.key),
        eqIdxs = p.eqs.indices.filter(i => p.eqs(i).inScope(k)))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new LakeReaderFactory(rootUri, lakeSchema, required, byName,
      eqFilters = planned.eqs.map(_.filter).toArray)
}

final case class LakeInputPartition(key: String, hourMillis: Long,
                                    // committed delete vector of this
                                    // object (merge-on-read): the reader
                                    // skips its positions — read in-task,
                                    // so the plan ships one key, not the
                                    // position list
                                    dvKey: Option[String] = None,
                                    // equality deletes IN SCOPE for this
                                    // object, as indexes into the reader
                                    // factory's shared compiled array
                                    // (batch scans: the value sets ship
                                    // once with the factory, not per
                                    // partition)
                                    eqIdxs: Seq[Int] = Nil,
                                    // …or inline filters (the streaming
                                    // source, whose factory outlives the
                                    // eq list: a micro-batch's few
                                    // partitions carry their own)
                                    eqInline: Seq[LakeEqDeletes.Filter] = Nil)
    extends InputPartition with HasPartitionKey {
  /** The object's hour as a one-column key row (timestamp micros) — what
    * lets Spark GROUP same-hour objects into one task when the scan
    * reports [[LakeScan.outputPartitioning]] hour-clustering. Inert
    * otherwise (Spark reads it only under the v2-bucketing conf). */
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](hourMillis * 1000L))
}

final class LakeReaderFactory(rootUri: String, lakeSchema: TableSchema,
                              required: StructType, byName: Boolean = false,
                              adoptEvolved: Boolean = false,
                              // shared equality-delete filters (batch
                              // scans): partitions reference by index
                              eqFilters: Array[LakeEqDeletes.Filter] = Array.empty)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[LakeInputPartition]
    new LakeObjectReader(rootUri, lakeSchema, required, p, byName,
      adoptEvolved, eqs = p.eqIdxs.map(eqFilters) ++ p.eqInline)
  }
}

/** Reads ONE lake object into [[InternalRow]]s of the required schema.
  * Wire semantics match the [[LakeReader]] CSV options exactly (pinned
  * row-identical in LakeSpec): strict header validation against the
  * declared schema (drift fails LOUDLY — the enforceSchema=false
  * contract), empty field = NULL, unparseable typed field = NULL
  * (PERMISSIVE), blank lines skipped, `#` records skipped. */
final class LakeObjectReader(rootUri: String, lakeSchema: TableSchema,
                             required: StructType, part: LakeInputPartition,
                             // by-name resolution against lakeSchema (the
                             // merged or declared target); false = the
                             // strict single-header contract
                             byName: Boolean = false,
                             // restart-free ALTER adoption (streams): in
                             // strict mode, a header MISMATCH re-checks
                             // whether the table has since DECLARED a
                             // schema (LakeSchemas — one metadata probe,
                             // only on mismatching objects) and, if so,
                             // resolves this object BY NAME against the
                             // reader's own schema instead of failing —
                             // columns it lacks read null, INTEGER wires
                             // widen under FLOAT fields, anything else
                             // stays the loud drift error
                             adoptEvolved: Boolean = false,
                             // equality deletes in scope for THIS object
                             // ([[LakeEqDeletes]]): a data record whose
                             // column value (raw wire form) is in any
                             // filter's set is a DEAD row — parsed past
                             // like a vectored position, never emitted
                             eqs: Seq[LakeEqDeletes.Filter] = Nil)
    extends PartitionReader[InternalRow] {

  private val rd: BufferedReader = {
    val store = new HadoopStore(rootUri)
    // a maintenance race (compact republished these rows / retention
    // retired them) may delete a PLANNED object before its task opens
    // it: skip the object — the readFrom ignoreMissingFiles contract —
    // never fail the query over the lake's own maintenance protocol.
    // Only MISSING is tolerated; a present-but-drifted object still
    // fails loudly below.
    val raw = try Some(store.open(part.key)) catch {
      case _: java.io.FileNotFoundException => None
    }
    raw.map { r =>
      val in = if (part.key.endsWith(".gz")) new GZIPInputStream(r) else r
      new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
    }.orNull
  }

  // the object's committed delete vector (merge-on-read): ascending dead
  // positions, walked in lockstep with rowPos below — O(1) per row. A
  // REFERENCED vector that cannot be read fails loudly (LakeDvs.read):
  // silently ignoring it would resurrect deleted rows.
  private val dv: Array[Long] =
    if (rd == null) Array.emptyLongArray
    else part.dvKey.fold(Array.emptyLongArray)(k =>
      LakeDvs.read(new HadoopStore(rootUri), k, lakeSchema.name, part.key))
  private var dvIdx = 0

  // headers: two plain lines (never multiline). Strict mode validates
  // against the declared schema so drifted objects fail the scan
  // loudly; reconcile mode keeps the OBJECT's own header to resolve
  // fields by name below.
  private val objCols: Seq[(String, ColType)] =
    if (rd == null) Nil
    else {
      val types = TypedCsv.parseTypesHeader(rd.readLine())
      val names = TypedCsv.splitLine(rd.readLine())
      names.zip(types)
    }

  /** Whether THIS object resolves by name (see the constructor notes):
    * the mode flag, or — under `adoptEvolved` — a mismatching header on
    * a table that has since declared a schema. */
  private val resolveByName: Boolean =
    if (rd == null || byName) byName
    else {
      val matches = objCols.map(_._1) == lakeSchema.columnNames &&
        objCols.map(_._2) == lakeSchema.colTypes
      if (matches) false
      else {
        val adopted = adoptEvolved && LakeSchemas.current(
          new HadoopStore(rootUri), lakeSchema.name).isDefined
        require(adopted,
          s"schema drift in ${part.key}: header (${objCols.map(_._1)} : " +
            s"${objCols.map(_._2)}) does not match " +
            s"declared ${lakeSchema.columnNames} : ${lakeSchema.colTypes} — " +
            "use option(\"reconcile\", true) or LakeReader.readReconciled " +
            "for drifted tables")
        true
      }
    }

  // one converter per REQUIRED field: wire index + parse, or the
  // key-derived hour constant; everything else is parsed past, never
  // converted (column pruning reaching the codec). Strict mode indexes
  // the declared schema (== the validated header); reconcile mode
  // resolves each field against the OBJECT's header by NAME — a column
  // the object lacks reads as null, an INTEGER wire under a
  // FLOAT-widened merged column parses long-then-widens, and any other
  // type drift fails loudly (the reconciledGroups merge contract).
  private val hourMicros: java.lang.Long = java.lang.Long.valueOf(part.hourMillis * 1000L)
  private val keyUtf8 = UTF8String.fromString(part.key)
  // 0-based ordinal of the CURRENT data record (headers/blank/comment
  // lines never count — the position is the row's index in the object's
  // logical row sequence, the one [[LakeDelta]]'s rewrite re-derives)
  private var rowPos: Long = -1L
  private val getters: Array[Array[String] => Any] = required.fields.map { f =>
    if (f.name == LakeDataSource.EventHourCol) { (_: Array[String]) => hourMicros }
    else if (f.name == LakeDataSource.ObjectKeyCol) { (_: Array[String]) => keyUtf8 }
    else if (f.name == LakeDataSource.RowPosCol) { (_: Array[String]) =>
      java.lang.Long.valueOf(rowPos) }
    else if (!resolveByName) {
      val i = lakeSchema.columnNames.indexOf(f.name)
      require(i >= 0, s"column ${f.name} not in lake table ${lakeSchema.name}")
      val conv = LakeObjectReader.converter(lakeSchema.colTypes(i))
      (fields: Array[String]) =>
        if (i >= fields.length || fields(i).isEmpty) null else conv(fields(i))
    } else {
      val i = objCols.indexWhere(_._1 == f.name)
      if (i < 0) { (_: Array[String]) => null } // absent here: null-fills
      else {
        val t = objCols(i)._2
        val conv: String => Any =
          if (t.sparkType == f.dataType) LakeObjectReader.converter(t)
          else if (t == ColType.CInteger && f.dataType == DoubleType) { s =>
            try java.lang.Double.valueOf(java.lang.Long.parseLong(s).toDouble)
            catch { case _: NumberFormatException => null }
          }
          else throw new IllegalArgumentException(
            s"irreconcilable drift in ${part.key}: column ${f.name} is $t " +
              s"on the wire but ${f.dataType} in the merged schema")
        (fields: Array[String]) =>
          if (i >= fields.length || fields(i).isEmpty) null else conv(fields(i))
      }
    }
  }

  private var current: InternalRow = _

  // equality deletes, resolved to wire ordinals against THIS object's
  // own header (by name — evolved objects resolve correctly; an object
  // lacking ANY of a filter's columns matches nothing, the SQL `= NULL`
  // direction — the whole conjunction drops for that object). A row is
  // dead when EVERY column of some filter's conjunction matches its set.
  private val eqResolved: Array[Array[(Int, Set[String])]] =
    if (rd == null || eqs.isEmpty) Array.empty
    else eqs.map(f => f.conj.map { case (c, vs) =>
        (objCols.indexWhere(_._1 == c), vs) }.toArray)
      .filter(_.forall(_._1 >= 0)).toArray

  private def eqDead(fields: Array[String]): Boolean = {
    var i = 0
    while (i < eqResolved.length) {
      val conj = eqResolved(i)
      var j = 0
      var all = true
      while (all && j < conj.length) {
        val (idx, set) = conj(j)
        all = idx < fields.length && fields(idx).nonEmpty &&
          set.contains(fields(idx))
        j += 1
      }
      if (all) return true
      i += 1
    }
    false
  }

  override def next(): Boolean = {
    if (rd == null) return false // planned object retired by maintenance
    while (true) {
      val rec = LakeObjectReader.readRecord(rd)
      if (rec == null) return false
      rowPos += 1L
      // merge-on-read: a position in the delete vector is a DEAD row —
      // parsed past (rowPos keeps counting PHYSICAL records, the stable
      // identity delete vectors and MERGE patches key on), never emitted;
      // an equality-delete value match is dead the same way
      while (dvIdx < dv.length && dv(dvIdx) < rowPos) dvIdx += 1
      if ((dvIdx >= dv.length || dv(dvIdx) != rowPos) && !eqDead(rec)) {
        val vals = new Array[Any](getters.length)
        var i = 0
        while (i < getters.length) { vals(i) = getters(i)(rec); i += 1 }
        current = new GenericInternalRow(vals)
        return true
      }
    }
    false // unreachable
  }

  override def get(): InternalRow = current
  override def close(): Unit = if (rd != null) rd.close()
}

object LakeObjectReader {

  /** ISO-8601 with optional fractional seconds and a required offset —
    * the read-side twin of the CSV option `yyyy-MM-dd'T'HH:mm:ss[.SSS]XXX`. */
  private val TimeFmt = new DateTimeFormatterBuilder()
    .appendPattern("yyyy-MM-dd'T'HH:mm:ss")
    .optionalStart()
    .appendFraction(ChronoField.NANO_OF_SECOND, 0, 9, true)
    .optionalEnd()
    .appendPattern("XXX")
    .toFormatter

  /** Wire → Catalyst value for a NON-empty field; unparseable = null
    * (PERMISSIVE — the same contract as the Spark CSV read path). */
  private[lake] def converter(t: ColType): String => Any = t match {
    case ColType.CString | ColType.CUuid =>
      s => UTF8String.fromString(s)
    case ColType.CInteger => s =>
      try java.lang.Long.valueOf(s) catch { case _: NumberFormatException => null }
    case ColType.CFloat => s =>
      try java.lang.Double.valueOf(s) catch { case _: NumberFormatException => null }
    case ColType.CBoolean => s =>
      if (s == "true") java.lang.Boolean.TRUE
      else if (s == "false") java.lang.Boolean.FALSE
      else null
    case ColType.CTime => s =>
      try {
        val odt = java.time.OffsetDateTime.parse(s, TimeFmt)
        val inst = odt.toInstant
        java.lang.Long.valueOf(inst.getEpochSecond * 1000000L + inst.getNano / 1000L)
      } catch { case _: java.time.format.DateTimeParseException => null }
  }

  /** One RFC-4180 record off the stream, quote-aware (doubled quotes,
    * quoted newlines); null at EOF. Blank lines and unquoted-`#` lines
    * are skipped — the writer quotes any field-leading `#`
    * ([[TypedCsv.quoteField]]), so an unquoted `#` can only be a header
    * (mirrors the CSV read's `comment=#`). */
  private[lake] def readRecord(rd: java.io.Reader): Array[String] = {
    var c = rd.read()
    var skipping = true
    while (skipping) {
      if (c == '\n' || c == '\r') c = rd.read() // blank line / CRLF tail
      else if (c == '#') { // comment line: to EOL, then resume skipping
        while (c != -1 && c != '\n') c = rd.read()
      } else skipping = false
    }
    if (c == -1) return null
    val fields = Vector.newBuilder[String]
    val sb = new StringBuilder
    var inQ = false
    while (c != -1) {
      val ch = c.toChar
      if (inQ) {
        if (ch == '"') {
          val nxt = rd.read()
          if (nxt == '"') { sb.append('"'); c = rd.read() }
          else { inQ = false; c = nxt }
        } else { sb.append(ch); c = rd.read() }
      } else ch match {
        case '"' => inQ = true; c = rd.read()
        case ',' => fields += sb.toString; sb.clear(); c = rd.read()
        case '\r' => c = rd.read() // CR outside quotes: CRLF line ending
        case '\n' =>
          fields += sb.toString
          return fields.result().toArray
        case other => sb.append(other); c = rd.read()
      }
    }
    fields += sb.toString // EOF ends the last record
    fields.result().toArray
  }
}

/** Filter → object-prune compiler shared by [[LakeScan]]: the SAME
  * decisions as the bespoke entry points ([[LakeReader.probeWires]]/
  * [[LakeReader.probeBand]] for equality, [[ZoneMaps.mayContainRange]]
  * for bands), just driven from Catalyst's pushed [[Filter]]s. */
private[lake] object LakePrune {
  import java.math.{BigDecimal => JBig}

  /** Can this filter contribute to OBJECT-level pruning? (Row-level
    * correctness never depends on the answer — unprunable filters are
    * simply re-applied post-scan, like every other filter.) */
  def prunable(f: Filter, schema: TableSchema): Boolean = {
    val cols = schema.columns.toMap
    def tracked(c: String) = cols.get(c).exists {
      case ColType.CInteger | ColType.CFloat | ColType.CTime => true
      case _ => false
    }
    def hour(c: String) = c == LakeDataSource.EventHourCol
    def objKey(c: String) = c == LakeDataSource.ObjectKeyCol
    f match {
      case And(l, r) => prunable(l, schema) || prunable(r, schema)
      case EqualTo(c, v) =>
        (cols.contains(c) && v != null && v != "") || hour(c) || objKey(c)
      case EqualNullSafe(c, v) =>
        (cols.contains(c) && v != null && v != "") || (objKey(c) && v != null)
      // an IN-list (static or Spark's runtime dynamic-pruning filter)
      // prunes even when EMPTY of usable values: nulls never equal
      // anything and "" never round-trips to a lake row, so an IN-list
      // with no usable value matches NOTHING and the scan legitimately
      // plans zero objects (the empty-build-side dynamic-pruning case)
      case In(c, vs) => (cols.contains(c) || hour(c) || objKey(c)) && vs != null
      case GreaterThan(c, _) => tracked(c) || hour(c)
      case GreaterThanOrEqual(c, _) => tracked(c) || hour(c)
      case LessThan(c, _) => tracked(c) || hour(c)
      case LessThanOrEqual(c, _) => tracked(c) || hour(c)
      // Spark injects IsNotNull under every equality/range filter, and
      // the stats sidecar carries EXACT null counts — an all-null
      // object provably has no matching row and skips
      case IsNotNull(c) => cols.contains(c)
      case _ => false
    }
  }

  /** The compiled per-object decision: an optional hour range (listing-
    * level prune) plus equality probes and open bands (sidecar-level).
    * Serializable with precomputed hashes so the executor walk
    * ([[KeyWalk]]) ships bit tests, not values. */
  final case class Compiled(
      hourRange: Option[(Instant, Instant)],
      hourSet: Option[Set[Instant]],
      eqProbes: Seq[(String, Seq[(Array[Array[Int]], Option[JBig])])],
      bands: Seq[(String, Option[JBig], Option[JBig])],
      keySet: Option[Set[String]] = None) extends Serializable {

    def trivial: Boolean = eqProbes.isEmpty && bands.isEmpty

    private def decide(blooms: => Option[BloomMaps.ObjectBlooms],
                       stats: => Option[ZoneMaps.ObjectStats]): Boolean =
      eqProbes.forall { case (c, vals) =>
        vals.exists { case (hashes, band) =>
          hashes.exists(h => BloomMaps.mightContainHashed(blooms, c, h)) &&
            band.forall(b => ZoneMaps.mayContain(stats, c, b, b))
        }
      } && bands.forall { case (c, lo, hi) =>
        ZoneMaps.mayContainRange(stats, c, lo, hi)
      }

    /** Membership off the KEY alone — the listing-level prunes (hour
      * range/set, key set) as a per-key decision, for callers whose
      * candidate keys did NOT come from this predicate's own narrowed
      * listing (the streaming ledger: pinned/early-discovered keys
      * predate filter delivery). Hour semantics mirror
      * [[LakeReader.listTableKeys]]: whole hours, endpoints truncated. */
    def keepsKeyItself(key: String): Boolean =
      LakeKeys.parseKey(key).exists { case (h, _, _) =>
        hourRange.forall { case (from, to) =>
          !h.isBefore(from.truncatedTo(java.time.temporal.ChronoUnit.HOURS)) &&
            !h.isAfter(to)
        } && hourSet.forall(_.contains(h)) && keySet.forall(_.contains(key))
      }

    /** The executor-walk shape: sidecars read LAZILY (an eq-only probe
      * that misses on the bloom never opens the stats sidecar). */
    def keeps(st: Store, key: String): Boolean = {
      lazy val blooms = BloomMaps.read(st, key)
      lazy val stats = ZoneMaps.read(st, key)
      decide(blooms, stats)
    }

    /** The driver-walk shape: the caller wants the kept object's row
      * count too, so the stats sidecar is read EAGERLY — once, serving
      * both the band decision and the statistics estimate (never a
      * second read of the same sidecar at optimizer time). */
    def keepsAndRecords(st: Store, key: String): (Boolean, Option[Long]) = {
      lazy val blooms = BloomMaps.read(st, key)
      val stats = ZoneMaps.read(st, key)
      (decide(blooms, stats), stats.map(_.records))
    }
  }

  def compile(filters: Array[Filter], schema: TableSchema): Compiled = {
    val cols = schema.columns.toMap
    var from: Option[Instant] = None
    var to: Option[Instant] = None
    var hourSet: Option[Set[Instant]] = None
    var keySet: Option[Set[String]] = None
    def tightenKeys(ks: Set[String]): Unit =
      keySet = Some(keySet.fold(ks)(_ intersect ks))
    val eqProbes = Seq.newBuilder[(String, Seq[(Array[Array[Int]], Option[JBig])])]
    val bands = Seq.newBuilder[(String, Option[JBig], Option[JBig])]

    def tightenFrom(i: Instant): Unit =
      from = Some(from.fold(i)(f => if (i.isAfter(f)) i else f))
    def tightenTo(i: Instant): Unit =
      to = Some(to.fold(i)(t => if (i.isBefore(t)) i else t))
    def instant(v: Any): Option[Instant] = v match {
      case ts: java.sql.Timestamp => Some(ts.toInstant)
      case i: Instant => Some(i)
      case _ => None
    }
    def eqPlan(c: String, vs: Seq[Any]): Unit = {
      val t = cols(c)
      val plans = vs.map { v =>
        (LakeReader.probeWires(t, v).toArray.map(BloomMaps.wireHashes),
          LakeReader.probeBand(t, v))
      }
      if (plans.nonEmpty) eqProbes += (c -> plans)
    }
    def bound(c: String, v: Any): Option[JBig] = (cols(c), v) match {
      case (ColType.CInteger | ColType.CFloat, n: java.lang.Number) =>
        val d = n.doubleValue()
        if (d.isNaN || d.isInfinite) None else Some(new JBig(n.toString))
      case (ColType.CTime, _) =>
        // millis truncation is EXACT against millis-truncated sidecar
        // bounds (every recorded bound is a whole-millis value)
        instant(v).map(i => JBig.valueOf(i.toEpochMilli * 1000L))
      case _ => None
    }
    def walk(f: Filter): Unit = f match {
      case And(l, r) => walk(l); walk(r)
      // provenance point lookup: equality/IN on _object_key decides key
      // MEMBERSHIP exactly (the key IS the listing entry) — and also
      // tightens the LISTED range to the named keys' hours, so the
      // audit read of one object never walks the other years
      case EqualTo(c, v) if c == LakeDataSource.ObjectKeyCol =>
        tightenKeys(Option(v).collect { case s: String => s }.toSet)
      // the column is non-null, so <=> with a non-null literal IS =
      case EqualNullSafe(c, v) if c == LakeDataSource.ObjectKeyCol && v != null =>
        tightenKeys(Option(v).collect { case s: String => s }.toSet)
      case In(c, vs) if c == LakeDataSource.ObjectKeyCol && vs != null =>
        tightenKeys(vs.collect { case s: String => s }.toSet)
      case EqualTo(c, v) if c == LakeDataSource.EventHourCol =>
        // equality = one-member hour SET: besides tightening the listed
        // range, membership is exact — a misaligned timestamp can never
        // equal a key-derived hour, so it prunes everything
        instant(v).foreach { i =>
          tightenFrom(i); tightenTo(i)
          hourSet = Some(hourSet.fold(Set(i))(_ intersect Set(i)))
        }
      case In(c, vs) if c == LakeDataSource.EventHourCol && vs != null =>
        // exact hour MEMBERSHIP (the dynamic-pruning join-key shape):
        // conjoined sets intersect; the min/max also tighten the LISTED
        // range so out-of-band hour dirs are never walked. An empty
        // usable set legally prunes everything (inverted range below).
        val hs = vs.toSet.flatMap(instant)
        hourSet = Some(hourSet.fold(hs)(_ intersect hs))
      case In(c, vs) if cols.contains(c) && vs != null =>
        val usable = vs.toSeq.filter(v => v != null && v != "")
        if (usable.nonEmpty) eqPlan(c, usable)
        // no usable value matches NOTHING (nulls never equal, "" never
        // round-trips): empty hour set → inverted range → empty scan
        else hourSet = Some(Set.empty)
      case GreaterThan(c, v) if c == LakeDataSource.EventHourCol =>
        instant(v).foreach(tightenFrom)
      case GreaterThanOrEqual(c, v) if c == LakeDataSource.EventHourCol =>
        instant(v).foreach(tightenFrom)
      case LessThan(c, v) if c == LakeDataSource.EventHourCol =>
        instant(v).foreach(tightenTo)
      case LessThanOrEqual(c, v) if c == LakeDataSource.EventHourCol =>
        instant(v).foreach(tightenTo)
      case EqualTo(c, v) if cols.contains(c) && v != null && v != "" =>
        eqPlan(c, Seq(v))
      // <=> with a non-null literal decides like = for pruning (an
      // object can only match via an equal non-null row)
      case EqualNullSafe(c, v) if cols.contains(c) && v != null && v != "" =>
        eqPlan(c, Seq(v))
      case IsNotNull(c) if cols.contains(c) =>
        // the UNBOUNDED band: mayContainRange(None, None) keeps any
        // object with non-null values and SKIPS the all-null ones
        // (bounds absent + nulls == records) — exact from the sidecar's
        // null counts, conservative everywhere else
        bands += ((c, None, None))
      case GreaterThan(c, v) if cols.contains(c) =>
        bound(c, v).foreach(b => bands += ((c, Some(b), None)))
      case GreaterThanOrEqual(c, v) if cols.contains(c) =>
        bound(c, v).foreach(b => bands += ((c, Some(b), None)))
      case LessThan(c, v) if cols.contains(c) =>
        bound(c, v).foreach(b => bands += ((c, None, Some(b))))
      case LessThanOrEqual(c, v) if cols.contains(c) =>
        bound(c, v).foreach(b => bands += ((c, None, Some(b))))
      case _ => ()
    }
    filters.foreach(walk)
    // a key set narrows the LISTED range to its keys' hours; keys that
    // don't parse as lake keys can never match a listing entry, and a
    // set with NO parseable key matches nothing (inverted range below)
    keySet.foreach { ks =>
      val hours = ks.flatMap(k => LakeKeys.parseKey(k).map(_._1))
      if (hours.isEmpty) hourSet = Some(Set.empty)
      else { tightenFrom(hours.min); tightenTo(hours.max) }
    }
    // an hour set narrows the LISTED range to its min/max; an empty set
    // inverts the range so the scan plans nothing (from > to)
    hourSet.foreach { hs =>
      if (hs.isEmpty) {
        tightenFrom(Instant.parse("9999-12-31T23:00:00Z")); tightenTo(Instant.EPOCH)
      } else { tightenFrom(hs.min); tightenTo(hs.max) }
    }
    // hour endpoints truncate/extend to the HOUR the key layout prunes at
    // (listTableKeys lists whole hours; the row-level filter re-applies)
    Compiled(
      (from, to) match {
        case (None, None) => None
        case (f, t) => Some((
          f.getOrElse(Instant.EPOCH),
          t.getOrElse(Instant.parse("9999-12-31T23:00:00Z"))))
      },
      hourSet, eqProbes.result(), bands.result(), keySet)
  }
}
