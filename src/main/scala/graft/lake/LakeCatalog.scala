package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{Identifier, ProcedureCatalog, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** SQL catalog for a typed-CSV lake: name lake tables in PLAIN SQL —
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.lake", classOf[LakeCatalog].getName)
  * spark.conf.set("spark.sql.catalog.lake.root", "s3a://bucket/prefix")
  * spark.sql("SELECT count(*) FROM lake.events WHERE ...")
  * spark.sql("INSERT INTO lake.events SELECT ...")   // staged-publish append
  * }}}
  *
  * `loadTable` hands back the same [[LakeTable]] as
  * `spark.read.format("graft-lake")`, so every connector behavior —
  * filter/limit/aggregate pushdown, runtime dynamic pruning, the
  * staged-publish append — applies identically to SQL-resolved tables.
  * Tables LIVE in the key layout (`YYYY/MM/DD/HH/table/…`): listing
  * walks the hour-directory levels (never a full-lake recursive
  * listing), existence = at least one object. DDL is refused loudly —
  * lake tables are CREATED by landing data (Collector, LakeWriter, the
  * connector's append), their schema IS the wire headers, and deletes
  * belong to the retention/maintenance protocol, not a SQL drop.
  *
  * MAINTENANCE runs as SQL stored procedures ([[ProcedureCatalog]] —
  * the Spark-4 `CALL` surface; the Delta `OPTIMIZE`/`VACUUM` jobs as
  * catalog procedures):
  *
  * {{{
  * CALL lake.system.compact(table => 'events', target_records => 200000)
  * CALL lake.system.expire(table => 'events',
  *                         older_than => TIMESTAMP '2024-01-01 00:00:00')
  * CALL lake.system.ensure_indexes(table => 'events',
  *                                 bloom_columns => 'user_id,etype')
  * }}}
  *
  * each delegating to the [[LakeMaintenance]] entry point (staged-
  * publish compaction, distributed retention deletes, one-listing
  * sidecar reconciliation) and returning its report as the result row.
  *
  * The catalog is namespace-flat: identifiers are `<catalog>.<table>`. */
final class LakeCatalog extends TableCatalog with ProcedureCatalog {

  private var catName: String = _
  private var root: String = _
  private var reconcile: Boolean = false

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"graft-lake catalog '$name' needs spark.sql.catalog.$name.root=<lake root URI>"))
    // spark.sql.catalog.<name>.reconcile=true: every table this catalog
    // resolves reads in schema-evolution mode (the merged union-by-name
    // schema; see LakeTable's reconcile doc) — the catalog-level switch,
    // since .table() reads have no per-load option that could rebuild
    // the table's schema
    reconcile = Option(options.get("reconcile")).exists(_.toBoolean)
  }

  override def name(): String = catName

  private def requireFlat(ns: Array[String]): Unit =
    if (ns.nonEmpty) throw new NoSuchNamespaceException(ns)

  /** Table names = the distinct table directories under the existing
    * hour prefixes — O(hour dirs), the same pruned level walk as every
    * lake read. */
  override def listTables(namespace: Array[String]): Array[Identifier] = {
    requireFlat(namespace)
    val store = new HadoopStore(root)
    LakeReader.walkHourPrefixes(store)
      .flatMap(h => store.listDirs(h))
      .distinct.sorted
      .map(t => Identifier.of(Array.empty, t)).toArray
  }

  override def loadTable(ident: Identifier): Table = {
    requireFlat(ident.namespace())
    val store = new HadoopStore(root)
    if (LakeReader.firstTableKey(store, ident.name()).isEmpty)
      throw new NoSuchTableException(ident)
    // WAP BRANCH session (the Iceberg `spark.wap.branch` shape): with
    // `spark.graft.wap.branch = <auditId>` set, reads of EVERY table
    // this catalog resolves see live ∪ that audit's staged batch, and
    // row-level DELETE/UPDATE scrub the batch itself (LakeTable's
    // branchAudit doc) — unset the conf to leave the branch session
    val branch = try SparkSession.active.conf
      .getOption("spark.graft.wap.branch").map(_.trim).filter(_.nonEmpty)
    catch { case _: Exception => None }
    new LakeTable(root, ident.name(), reconcile = reconcile,
      branchAudit = branch)
  }

  /** `SELECT ... FROM lake.t VERSION AS OF <gen | 'tag'>` — time travel
    * on the generation pointer ([[LakeVersions]]): a number names a
    * generation, anything else a TAG (`CALL lake.system.tag` — the
    * training-run label). The scan plans that generation's retained
    * snapshot; mutations against the resolved table refuse. Needs
    * `CALL lake.system.set_retention(..., retain => true)` BEFORE the
    * commits to travel across (the loud error names it). */
  override def loadTable(ident: Identifier, version: String): Table = {
    requireFlat(ident.namespace())
    val store = new HadoopStore(root)
    if (LakeReader.firstTableKey(store, ident.name()).isEmpty)
      throw new NoSuchTableException(ident)
    val gen = LakeVersions.resolveVersion(store, ident.name(), version)
    new LakeTable(root, ident.name(), reconcile = reconcile,
      asOfGeneration = Some(gen))
  }

  /** `TIMESTAMP AS OF t` — resolves to the newest generation committed
    * at or before `t` (commit wall-clock stamps). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    requireFlat(ident.namespace())
    val store = new HadoopStore(root)
    if (LakeReader.firstTableKey(store, ident.name()).isEmpty)
      throw new NoSuchTableException(ident)
    val gen = LakeVersions.genAtTimestamp(store, ident.name(),
      Math.floorDiv(timestampMicros, 1000L)).getOrElse(
      throw new IllegalArgumentException(
        s"graft-lake: no generation of '${ident.name()}' committed at or " +
          "before the requested timestamp — CALL " +
          s"$catName.system.history(table => '${ident.name()}') lists " +
          "the chain"))
    new LakeTable(root, ident.name(), reconcile = reconcile,
      asOfGeneration = Some(gen))
  }

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace().isEmpty &&
      LakeReader.firstTableKey(new HadoopStore(root), ident.name()).isDefined

  private def refuse(what: String): Nothing =
    throw new UnsupportedOperationException(
      s"graft-lake catalog '$catName': $what — lake tables are created by " +
        "landing data (Collector / LakeWriter / connector append), their " +
        "schema is the wire headers, and deletes belong to " +
        "LakeMaintenance.expire, not SQL DDL")

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): Table =
    refuse(s"CREATE TABLE ${ident.name()} is not supported")

  /** METADATA-ONLY schema evolution ([[LakeSchemas]]): `ADD COLUMN`
    * (nullable, at the end), `DROP COLUMN`, and the `INTEGER -> FLOAT
    * type widening — no data object is touched. The first ALTER turns
    * the table EVOLVED: the declared schema becomes authoritative,
    * reads resolve each object by name against it (old objects
    * null-fill new columns), every write path emits it, and
    * `CALL compact` migrates the whole table wholesale. Changes
    * CAS-publish; a racing ALTER makes the loser re-apply on the
    * winner's result (loud when they no longer compose).
    *
    * A table with PRE-EXISTING reference drift (heterogeneous headers,
    * no declared record): the first ALTER baselines on the strict
    * one-object peek — exactly what every plain read of that table
    * already resolves (and fails loudly on, at the first drifted
    * object). Legalizing drift retroactively is the reconcile
    * catalog's job; evolving it forward starts from the declared
    * baseline. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    requireFlat(ident.namespace())
    val store = new HadoopStore(root)
    val table = ident.name()
    if (LakeReader.firstTableKey(store, table).isEmpty)
      throw new NoSuchTableException(ident)
    require(!reconcile,
      "graft-lake: ALTER TABLE on a reconcile catalog is ambiguous — the " +
        "merged union schema is derived, not declared; resolve the table " +
        "through a plain catalog to evolve it")
    var attempt = 0
    while (attempt < 5) {
      attempt += 1
      val cur = LakeSchemas.current(store, table)
      val base = cur.map(_.schema).getOrElse(LakeDataSource.peek(root, table))
      val next = applyChanges(base, changes)
      // RE-ADDING a previously dropped column: the wire format has no
      // column IDs, so if any live object's header still carries the
      // name, the by-name reader would resurrect the OLD values under
      // the new column instead of NULL (or refuse the whole table on a
      // type change). Exact check, a [[KeyWalk]] like every metadata
      // walk; compaction (which rewrites onto the current header)
      // is the remedy.
      val readded = changes.collect {
        case a: TableChange.AddColumn if a.fieldNames().length == 1 =>
          a.fieldNames()(0)
      }.filter(n => !base.columns.exists(_._1 == n))
        .filter(LakeSchemas.historicalColumns(store, table).contains)
      if (readded.nonEmpty) {
        val keys = LakeReader.listTableKeys(store, table, None)
        val carrying = LakeReader.groupKeysByHeader(store, table, keys)
          .filter { case (sch, _) => readded.exists(sch.columnNames.contains) }
        require(carrying.isEmpty,
          s"graft-lake ALTER TABLE: column(s) ${readded.mkString(", ")} " +
            s"were previously dropped and ${carrying.map(_._2.size).sum} " +
            "live object(s) still carry their old values — re-adding the " +
            "name would resurrect them instead of reading NULL; run " +
            s"CALL <catalog>.system.compact(table => '$table') to migrate " +
            "onto the current header, then retry")
      }
      if (LakeSchemas.publish(store, table, next,
          cur.map(_.version).getOrElse(0L)).isDefined) {
        // audit entry on the chain, serialized like every mutation (in
        // retain mode it also snapshots the live set at the ALTER point)
        try {
          LakeVersions.commit(store, table, op = "alter", removed = Nil,
            validateLive = false); ()
        } catch {
          case _: LakeVersions.LakeConcurrentModificationException => ()
        }
        return new LakeTable(root, table, reconcile = reconcile)
      }
      // lost the CAS: re-resolve and re-apply this statement's changes
      // on the winner's schema
    }
    throw new LakeVersions.LakeConcurrentModificationException(
      s"graft-lake: could not publish a schema for '$table' after 5 " +
        "attempts — a DDL storm is holding the schema chain")
  }

  private def applyChanges(base: graft.types.TableSchema,
                           changes: Seq[TableChange]): graft.types.TableSchema = {
    import graft.types.{ColType, TableSchema}
    var cols = base.columns
    def one(names: Array[String], what: String): String = {
      require(names.length == 1,
        s"graft-lake ALTER TABLE: nested columns are not supported ($what " +
          names.mkString(".") + ")")
      names(0)
    }
    changes.foreach {
      case a: TableChange.AddColumn =>
        val n = one(a.fieldNames(), "ADD COLUMN")
        require(a.isNullable,
          s"graft-lake ALTER TABLE: new column '$n' must be nullable — " +
            "every existing row reads it as NULL")
        require(a.position() == null,
          s"graft-lake ALTER TABLE: column '$n' lands at the END — the " +
            "wire header is positional per object; FIRST/AFTER are not " +
            "supported")
        require(!cols.exists(_._1 == n),
          s"graft-lake ALTER TABLE: column '$n' already exists")
        cols :+= (n -> ColType.fromSpark(a.dataType()))
      case d: TableChange.DeleteColumn =>
        val n = one(d.fieldNames(), "DROP COLUMN")
        if (cols.exists(_._1 == n)) {
          require(cols.size > 1,
            s"graft-lake ALTER TABLE: cannot drop the last column '$n'")
          cols = cols.filterNot(_._1 == n)
        } else require(d.ifExists(),
          s"graft-lake ALTER TABLE: no column '$n' to drop")
      case u: TableChange.UpdateColumnType =>
        val n = one(u.fieldNames(), "ALTER COLUMN TYPE")
        val curT = cols.find(_._1 == n).getOrElse(throw
          new IllegalArgumentException(
            s"graft-lake ALTER TABLE: no column '$n'"))._2
        val newT = ColType.fromSpark(u.newDataType())
        require(curT == ColType.CInteger && newT == ColType.CFloat,
          s"graft-lake ALTER TABLE: only INTEGER -> FLOAT widens (existing " +
            s"wires reparse exactly); got $curT -> $newT for '$n'")
        cols = cols.map { case (cn, ct) => if (cn == n) (cn, newT) else (cn, ct) }
      case other => refuse(
        s"ALTER TABLE change ${other.getClass.getSimpleName} is not " +
          "supported (ADD COLUMN / DROP COLUMN / widen INTEGER->FLOAT only)")
    }
    TableSchema(base.name, cols) // revalidates names, incl. reserved ones
  }

  override def dropTable(ident: Identifier): Boolean =
    refuse(s"DROP TABLE ${ident.name()} is not supported")

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    refuse(s"RENAME TABLE ${oldIdent.name()} is not supported")

  // ------------------------------------------------------- procedures

  private val SystemNs = Array("system")

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(SystemNs))
      LakeProcedures.Names.map(n => Identifier.of(SystemNs, n)).toArray
    else Array.empty

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    if (!(ident.namespace().isEmpty || ident.namespace().sameElements(SystemNs)))
      throw new NoSuchNamespaceException(ident.namespace())
    LakeProcedures.load(root, ident.name()).getOrElse(
      throw new IllegalArgumentException(
        s"graft-lake catalog '$catName': no procedure ${ident.name()} " +
          s"(available: ${LakeProcedures.Names.mkString(", ")})"))
  }
}

/** The lake's maintenance protocol as Spark `CALL` procedures — each a
  * thin SQL skin over the [[LakeMaintenance]] entry point, returning
  * the operation's report as a one-row result. */
private[lake] object LakeProcedures {

  val Names: Seq[String] = Seq("compact", "auto_compact", "expire", "ensure_indexes",
    "seal_manifest", "retire_objects", "delete_where", "sweep_staging",
    "stats", "set_retention", "expire_versions", "history", "tag", "rollback",
    "drop_tag", "changes_summary", "set_dml_mode", "publish_audit",
    "abort_audit", "commit_transaction")

  def load(root: String, name: String): Option[UnboundProcedure] = name match {
    case "compact" => Some(new CompactProcedure(root))
    case "auto_compact" => Some(new AutoCompactProcedure(root))
    case "expire" => Some(new ExpireProcedure(root))
    case "ensure_indexes" => Some(new EnsureIndexesProcedure(root))
    case "seal_manifest" => Some(new SealManifestProcedure(root))
    case "retire_objects" => Some(new RetireObjectsProcedure(root))
    case "delete_where" => Some(new DeleteWhereProcedure(root))
    case "sweep_staging" => Some(new SweepStagingProcedure(root))
    case "stats" => Some(new StatsProcedure(root))
    case "set_retention" => Some(new SetRetentionProcedure(root))
    case "expire_versions" => Some(new ExpireVersionsProcedure(root))
    case "history" => Some(new HistoryProcedure(root))
    case "tag" => Some(new TagProcedure(root))
    case "rollback" => Some(new RollbackProcedure(root))
    case "drop_tag" => Some(new DropTagProcedure(root))
    case "changes_summary" => Some(new ChangesSummaryProcedure(root))
    case "set_dml_mode" => Some(new SetDmlModeProcedure(root))
    case "publish_audit" => Some(new PublishAuditProcedure(root))
    case "abort_audit" => Some(new AbortAuditProcedure(root))
    case "commit_transaction" => Some(new CommitTransactionProcedure(root))
    case _ => None
  }

  private def commaCols(v: UTF8String): Seq[String] =
    Option(v).map(_.toString).getOrElse("")
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq

  /** Driver-resident result rows: the reports are tiny and already on
    * the driver — a LocalScan is the honest shape. */
  private final class ReportScan(schema: StructType, rws: Array[Array[Any]])
      extends LocalScan {
    override def rows(): Array[InternalRow] =
      rws.map(new GenericInternalRow(_))
    override def readSchema(): StructType = schema
    override def description(): String = "graft-lake procedure report"
  }

  private abstract class MaintenanceProcedure(procName: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic(): Boolean = false // mutates the lake
    protected def result(schema: StructType, vals: Any*): java.util.Iterator[Scan] =
      java.util.Collections.singletonList[Scan](
        new ReportScan(schema, Array(vals.toArray))).iterator()
    protected def resultRows(schema: StructType,
                             rws: Seq[Seq[Any]]): java.util.Iterator[Scan] =
      java.util.Collections.singletonList[Scan](
        new ReportScan(schema, rws.map(_.toArray).toArray)).iterator()
  }

  private final class CompactProcedure(root: String)
      extends MaintenanceProcedure("compact") {
    override def description(): String =
      "Compact a lake table's objects (staged publish, hour-preserving); " +
        "zone_maps/bloom_columns re-index the compacted objects; " +
        "cluster_by => 'a,b' | 'zorder(a,b)' RE-CLUSTERS each hour's rows " +
        "(the OPTIMIZE ZORDER face — pair with zone_maps); " +
        "dry_run => true reports (listing + sizing counts) and mutates nothing"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("target_records", LongType)
        .defaultValue("200000").build(),
      ProcedureParameter.in("zone_maps", BooleanType)
        .defaultValue("false").build(),
      ProcedureParameter.in("bloom_columns", StringType)
        .defaultValue("''").build(),
      ProcedureParameter.in("dry_run", BooleanType)
        .defaultValue("false").build(),
      ProcedureParameter.in("cluster_by", StringType)
        .defaultValue("''").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val rep = LakeMaintenance.compact(SparkSession.active,
        new HadoopStore(root), input.getUTF8String(0).toString,
        targetRecords = input.getLong(1), zoneMaps = input.getBoolean(2),
        bloomColumns = commaCols(input.getUTF8String(3)),
        dryRun = input.getBoolean(4),
        clusterBy = Option(input.getUTF8String(5).toString.trim)
          .filter(_.nonEmpty))
      result(StructType(Seq(
        StructField("old_objects", IntegerType, nullable = false),
        StructField("new_objects", IntegerType, nullable = false),
        StructField("records", LongType, nullable = false))),
        Integer.valueOf(rep.oldObjects), Integer.valueOf(rep.newObjects),
        java.lang.Long.valueOf(rep.records))
    }
  }

  private final class AutoCompactProcedure(root: String)
      extends MaintenanceProcedure("auto_compact") {
    override def description(): String =
      "SIZE-TIERED auto-compaction: rewrite only the hours carrying " +
        "small-file debt (>= min_objects objects) or merge-on-read " +
        "delete vectors (fold reclaims them), dirtiest first, at most " +
        "max_hours per run — bounded maintenance proportional to the " +
        "DEBT, never the table. Clean hours are never read. dry_run " +
        "reports and mutates nothing."
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("target_records", LongType)
        .defaultValue("200000").build(),
      ProcedureParameter.in("min_objects", IntegerType)
        .defaultValue("4").build(),
      ProcedureParameter.in("max_hours", IntegerType)
        .defaultValue("64").build(),
      ProcedureParameter.in("zone_maps", BooleanType)
        .defaultValue("false").build(),
      ProcedureParameter.in("bloom_columns", StringType)
        .defaultValue("''").build(),
      ProcedureParameter.in("dry_run", BooleanType)
        .defaultValue("false").build(),
      ProcedureParameter.in("cluster_by", StringType)
        .defaultValue("''").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val rep = LakeMaintenance.autoCompact(SparkSession.active,
        new HadoopStore(root), input.getUTF8String(0).toString,
        targetRecords = input.getLong(1),
        minObjects = input.getInt(2),
        maxHours = input.getInt(3),
        zoneMaps = input.getBoolean(4),
        bloomColumns = commaCols(input.getUTF8String(5)),
        dryRun = input.getBoolean(6),
        clusterBy = Option(input.getUTF8String(7).toString.trim)
          .filter(_.nonEmpty))
      result(StructType(Seq(
        StructField("hours_total", IntegerType, nullable = false),
        StructField("hours_selected", IntegerType, nullable = false),
        StructField("old_objects", IntegerType, nullable = false),
        StructField("new_objects", IntegerType, nullable = false),
        StructField("records", LongType, nullable = false))),
        Integer.valueOf(rep.hoursTotal), Integer.valueOf(rep.hoursSelected),
        Integer.valueOf(rep.compaction.oldObjects),
        Integer.valueOf(rep.compaction.newObjects),
        java.lang.Long.valueOf(rep.compaction.records))
    }
  }

  private final class StatsProcedure(root: String)
      extends MaintenanceProcedure("stats") {
    override def description(): String =
      "Metadata-plane table health: object/hour counts, exact-or-null " +
        "row total from the stats sidecars, sidecar coverage, seal " +
        "frontier — no data object opened"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val rep = LakeMaintenance.tableStats(root, input.getUTF8String(0).toString)
      result(StructType(Seq(
        StructField("objects", IntegerType, nullable = false),
        StructField("hours", IntegerType, nullable = false),
        StructField("rows", LongType, nullable = true),
        StructField("stats_objects", IntegerType, nullable = false),
        StructField("bloom_objects", IntegerType, nullable = false),
        StructField("sealed_up_to", StringType, nullable = true))),
        Integer.valueOf(rep.objects), Integer.valueOf(rep.hours),
        rep.rows.map(java.lang.Long.valueOf).orNull,
        Integer.valueOf(rep.statsObjects), Integer.valueOf(rep.bloomObjects),
        rep.sealedUpTo.map(UTF8String.fromString).orNull)
    }
  }

  private final class SweepStagingProcedure(root: String)
      extends MaintenanceProcedure("sweep_staging") {
    override def description(): String =
      "Janitor for staging prefixes ORPHANED by hard-killed jobs: sweep " +
        "every first-level _staging entry (and its zone-map mirror) " +
        "whose newest content is older than older_than; an alive job's " +
        "prefix never qualifies (in-flight writes refresh it)"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("older_than", TimestampType).build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val olderThan = java.time.Instant.ofEpochSecond(0L)
        .plusNanos(input.getLong(0) * 1000L)
      val rep = LakeMaintenance.sweepStaging(new HadoopStore(root), olderThan)
      result(StructType(Seq(
        StructField("swept", IntegerType, nullable = false),
        StructField("kept", IntegerType, nullable = false))),
        Integer.valueOf(rep.sweptPrefixes), Integer.valueOf(rep.keptPrefixes))
    }
  }

  private final class ExpireProcedure(root: String)
      extends MaintenanceProcedure("expire") {
    override def description(): String =
      "Delete a table's objects (and sidecars) in hours STRICTLY OLDER " +
        "than older_than's hour — distributed deletes, idempotent"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("older_than", TimestampType).build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val olderThan = java.time.Instant.ofEpochSecond(0L)
        .plusNanos(input.getLong(1) * 1000L)
      val rep = LakeMaintenance.expire(new HadoopStore(root),
        input.getUTF8String(0).toString, olderThan)
      result(StructType(Seq(
        StructField("deleted", IntegerType, nullable = false),
        StructField("cutoff_prefix", StringType, nullable = false))),
        Integer.valueOf(rep.deleted), UTF8String.fromString(rep.cutoffPrefix))
    }
  }

  private final class EnsureIndexesProcedure(root: String)
      extends MaintenanceProcedure("ensure_indexes") {
    override def description(): String =
      "Reconcile BOTH sidecar kinds off one listing snapshot: build " +
        "missing zone maps (and blooms for bloom_columns), sweep orphans; " +
        "dry_run => true reports the would-build/would-sweep counts and " +
        "mutates nothing"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("bloom_columns", StringType)
        .defaultValue("''").build(),
      ProcedureParameter.in("dry_run", BooleanType)
        .defaultValue("false").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val rep = LakeMaintenance.ensureIndexes(SparkSession.active,
        new HadoopStore(root), input.getUTF8String(0).toString,
        bloomColumns = commaCols(input.getUTF8String(1)),
        dryRun = input.getBoolean(2))
      result(StructType(Seq(
        StructField("stats_built", IntegerType, nullable = false),
        StructField("blooms_built", IntegerType, nullable = false),
        StructField("orphans_deleted", IntegerType, nullable = false))),
        Integer.valueOf(rep.statsBuilt), Integer.valueOf(rep.bloomsBuilt),
        Integer.valueOf(rep.orphansDeleted))
    }
  }

  private final class SealManifestProcedure(root: String)
      extends MaintenanceProcedure("seal_manifest") {
    override def description(): String =
      "Build the sealed-hours manifest for a table: reads of hours <= " +
        "up_to cost ONE manifest GET instead of a LIST per hour; " +
        "write-invalidated, advisory (torn/absent falls back to listing)"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("up_to", TimestampType).build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val upTo = java.time.Instant.ofEpochSecond(0L)
        .plusNanos(input.getLong(1) * 1000L)
      val sealedKeys = Manifests.seal(new HadoopStore(root),
        input.getUTF8String(0).toString, upTo)
      result(StructType(Seq(
        StructField("sealed_keys", LongType, nullable = false),
        StructField("up_to_prefix", StringType, nullable = false))),
        java.lang.Long.valueOf(sealedKeys), UTF8String.fromString(
          LakeKeys.datePrefix(upTo.truncatedTo(
            java.time.temporal.ChronoUnit.HOURS))))
    }
  }

  private final class DeleteWhereProcedure(root: String)
      extends MaintenanceProcedure("delete_where") {
    override def description(): String =
      "Row-level delete (column IN values): bloom/band probe bounds the " +
        "rewrite to containing objects, staged publish, originals " +
        "retired, manifests invalidated; NULL rows never match"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("column", StringType).build(),
      ProcedureParameter.in("values", StringType).build(), // comma-separated
      ProcedureParameter.in("zone_maps", BooleanType)
        .defaultValue("false").build(),
      ProcedureParameter.in("bloom_columns", StringType)
        .defaultValue("''").build(),
      ProcedureParameter.in("dry_run", BooleanType)
        .defaultValue("false").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val store = new HadoopStore(root)
      val table = input.getUTF8String(0).toString
      val column = input.getUTF8String(1).toString
      val raw = commaCols(input.getUTF8String(2))
      require(raw.nonEmpty, "delete_where needs at least one value")
      // values arrive as text; coerce by the DECLARED column type so the
      // probe and the row filter compare typed, not stringly
      val firstKey = LakeReader.firstTableKey(store, table).getOrElse(
        throw new IllegalArgumentException(
          s"no lake objects for table $table under $root"))
      // an EVOLVED table's declared schema is authoritative (the probed
      // column may not exist in the first object's header at all)
      val declared = LakeSchemas.current(store, table).map(_.schema)
      val colType = declared.getOrElse(
        LakeReader.peekSchema(store, firstKey, table))
        .columns.toMap.getOrElse(column, throw new IllegalArgumentException(
          s"no column '$column' in table $table"))
      val values: Seq[Any] = raw.map { v =>
        colType match {
          case graft.types.ColType.CInteger => java.lang.Long.valueOf(v.toLong)
          case graft.types.ColType.CFloat => java.lang.Double.valueOf(v.toDouble)
          case graft.types.ColType.CTime =>
            java.sql.Timestamp.from(java.time.Instant.parse(v))
          case _ => v
        }
      }
      val rep = LakeMaintenance.deleteWhereMulti(SparkSession.active, store,
        table, Seq(column -> values), zoneMaps = input.getBoolean(3),
        bloomColumns = commaCols(input.getUTF8String(4)),
        dryRun = input.getBoolean(5), declared = declared)
      result(StructType(Seq(
        StructField("candidates", IntegerType, nullable = false),
        StructField("rewritten", IntegerType, nullable = false),
        StructField("retired", IntegerType, nullable = false),
        StructField("rows_deleted", LongType, nullable = false),
        StructField("rows_kept", LongType, nullable = false),
        StructField("skipped", IntegerType, nullable = false))),
        Integer.valueOf(rep.candidates), Integer.valueOf(rep.objectsRewritten),
        Integer.valueOf(rep.objectsRetired),
        java.lang.Long.valueOf(rep.rowsDeleted),
        java.lang.Long.valueOf(rep.rowsKept),
        Integer.valueOf(rep.objectsSkipped))
    }
  }

  private final class PublishAuditProcedure(root: String)
      extends MaintenanceProcedure("publish_audit") {
    override def description(): String =
      "WRITE-AUDIT-PUBLISH, the publish half: make an audited append's " +
        "staged (hidden) batch visible as ONE atomic generation commit. " +
        "Stage with df.write.option('auditId', id), validate with " +
        "spark.read.option('withAudit', id), then CALL this (or " +
        "abort_audit to drop the batch)."
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("audit_id", StringType).build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val id = input.getUTF8String(1).toString.trim
      val store = new HadoopStore(root)
      val (keys, branch) = LakeVersions.readIntentFull(store, table,
        s"audit-$id")
        .getOrElse(throw new IllegalArgumentException(
          s"graft-lake: no staged audit '$id' on table '$table' — it " +
            "was never written, already published, or aborted"))
      // the batch is genuinely NEW rows — `inserted`, so a CDC-aware
      // stream delivers it exactly once, starting at this CAS. A
      // CROSS-BRANCH audit (v2 state) additionally removes the live
      // originals its DML replaced (VALIDATED still live — a concurrent
      // mutation of a replaced object aborts this publish loudly, the
      // branch is stale) and adds their replacements (`added`: CDC
      // skips them, their provenance was delivered). The commit deletes
      // the audit intent, flipping visibility atomically.
      val st = branch.getOrElse(LakeVersions.BranchState(keys, Nil, Nil, Nil))
      val rec = LakeVersions.commit(store, table, op = "publish_audit",
        removed = st.removedKeys, added = st.repl, inserted = st.batch,
        intentId = Some(s"audit-$id"),
        dvBasis = st.removed.toMap,
        eqBasis = if (st.removed.nonEmpty) Some(st.eqBasis) else None)
      // the replaced live originals retire like any COW statement's
      // (their tombstones already hide them; kept on disk under
      // retention)
      if (st.removedKeys.nonEmpty &&
          !LakeVersions.isRetained(store, table)) {
        LakeMaintenance.physicalRetire(store, st.removedKeys)
        LakeVersions.pruneChainIfLarge(store, table, st.removedKeys.size)
      }
      // a seal run while the audit PENDED captured the hidden keys (seal
      // lists raw keys) — but a seal whose listing RACED the stage
      // renames can hold only part of the batch, and after publish a
      // manifest-fed read would silently miss the rest. Invalidate
      // conservatively: the manifest is an advisory accelerator, cheap
      // to rebuild; a silent partial read is not. No-op in the common
      // case (a current-hour stage is never inside a seal's upTo). A
      // cross-branch publish also touches the REPLACED originals' hours.
      val hours = (keys ++ st.removedKeys).map(LakeKeys.hourPrefixOf)
      if (hours.nonEmpty)
        Manifests.invalidateIfCovers(store, table, hours.min)
      result(StructType(Seq(
        StructField("generation", LongType, nullable = false),
        StructField("objects_published", IntegerType, nullable = false),
        StructField("objects_replaced", IntegerType, nullable = false))),
        java.lang.Long.valueOf(rec.gen), Integer.valueOf(keys.size),
        Integer.valueOf(st.removedKeys.size))
    }
  }

  private final class AbortAuditProcedure(root: String)
      extends MaintenanceProcedure("abort_audit") {
    override def description(): String =
      "WRITE-AUDIT-PUBLISH, the abort half: drop an audited append's " +
        "staged (hidden) batch — its objects, sidecars, and the audit " +
        "intent. The table never saw the rows."
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("audit_id", StringType).build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val id = input.getUTF8String(1).toString.trim
      val store = new HadoopStore(root)
      val keys = LakeVersions.readIntent(store, table, s"audit-$id")
        .getOrElse(throw new IllegalArgumentException(
          s"graft-lake: no staged audit '$id' on table '$table' — it " +
            "was never written, already published, or aborted"))
      keys.foreach(StagedPublish.remove(store, _, "graft-lake abort_audit"))
      store.delete(LakeVersions.intentKey(table, s"audit-$id"))
      // a seal that ran while this audit PENDED captured the staged keys
      // (Manifests.seal lists raw keys): after the delete above such a
      // manifest names dead keys and manifest-fed maintenance reads
      // (ignoreMissing = false) would fail until rebuilt — invalidate
      // over the batch's hours, the write-side contract
      if (keys.nonEmpty)
        Manifests.invalidateIfCovers(store, table,
          keys.map(LakeKeys.hourPrefixOf).min)
      result(StructType(Seq(
        StructField("objects_dropped", IntegerType, nullable = false))),
        Integer.valueOf(keys.size))
    }
  }

  private final class CommitTransactionProcedure(root: String)
      extends MaintenanceProcedure("commit_transaction") {
    override def description(): String =
      "CROSS-TABLE atomic commit: publish every named table's staged " +
        "audit batch (df.write.option('auditId', id) per table, SAME " +
        "id) as ONE transaction — readers can never observe a subset. " +
        "replace => true makes each part an atomic INSERT OVERWRITE " +
        "(the staged batch replaces the table's live objects). A " +
        "broken attempt leaves every staged batch intact for retry; " +
        "abort_audit per table discards them."
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("tables", StringType).build(),
      ProcedureParameter.in("audit_id", StringType).build(),
      ProcedureParameter.in("replace", BooleanType)
        .defaultValue("false").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val tables = commaCols(input.getUTF8String(0))
      val id = input.getUTF8String(1).toString.trim
      val replace = input.getBoolean(2)
      require(tables.nonEmpty, "graft-lake commit_transaction: no tables")
      val store = new HadoopStore(root)
      val parts = tables.map { t =>
        val (keys, branchSt) = LakeVersions.readIntentFull(store, t,
          s"audit-$id")
          .getOrElse(throw new IllegalArgumentException(
            s"graft-lake: no staged audit '$id' on table '$t' — stage " +
              "every participating table with df.write.option('auditId', " +
              s"'$id') before committing the transaction"))
        branchSt match {
          case Some(st) =>
            // the audit carries BRANCH state (live-row scrubs under
            // spark.graft.wap.branch): the part publishes the exact CDC
            // split a publish_audit would — the transactional scrubbed
            // publish. replace + branch is contradictory (two removed
            // scopes) — refuse with the remedy.
            require(!replace,
              s"graft-lake commit_transaction: audit '$id' on '$t' " +
                "carries branch DML over live rows — replace => true " +
                "would name a second removed scope; publish without " +
                "replace, or abort and restage")
            LakeTxn.Part(t, inserted = st.batch, intentId = s"audit-$id",
              removed = st.removedKeys, added = st.repl,
              dvBasis = st.removed.toMap,
              eqBasis = if (st.removed.nonEmpty) Some(st.eqBasis) else None)
          case None =>
            // replace mode: the part removes the table's whole live
            // scope (version-aware listing — staged keys are
            // intent-excluded, and tombstoned keys are already
            // logically gone); the scope is validated live at the
            // part's CAS like any overwrite
            val removed =
              if (!replace) Nil
              else LakeReader.listTableKeys(store, t, None)
                .filterNot(keys.toSet)
            LakeTxn.Part(t, inserted = keys, intentId = s"audit-$id",
              removed = removed, dropEqdels = replace)
        }
      }
      val recs = LakeTxn.publish(store, parts,
        op = if (replace) "txn_overwrite" else "txn_publish")
      // post-decision follow-ups, per table (the same contract as after
      // any single-table commit): invalidate manifests the batch's
      // hours may have raced, physically retire replaced scopes
      parts.zip(recs).foreach { case (p, rec) =>
        val hours = (p.inserted ++ p.added ++ p.removed)
          .map(LakeKeys.hourPrefixOf)
        if (hours.nonEmpty)
          Manifests.invalidateIfCovers(store, p.table, hours.min)
        if (p.removed.nonEmpty && !LakeVersions.isRetained(store, p.table)) {
          LakeMaintenance.physicalRetire(store, p.removed)
          LakeVersions.pruneChainIfLarge(store, p.table, p.removed.size)
        }
      }
      resultRows(StructType(Seq(
        StructField("table", StringType, nullable = false),
        StructField("generation", LongType, nullable = false),
        StructField("objects_published", IntegerType, nullable = false),
        StructField("objects_replaced", IntegerType, nullable = false))),
        parts.zip(recs).map { case (p, rec) => Seq(
          UTF8String.fromString(p.table),
          java.lang.Long.valueOf(rec.gen),
          Integer.valueOf(p.inserted.size + p.added.size),
          Integer.valueOf(p.removed.size)) })
    }
  }

  private final class SetDmlModeProcedure(root: String)
      extends MaintenanceProcedure("set_dml_mode") {
    override def description(): String =
      "Choose how row-level SQL (DELETE/UPDATE/MERGE) rewrites a table: " +
        "'merge-on-read' publishes position delete vectors + fresh " +
        "objects for changed rows (O(changed rows) — the sparse-DML " +
        "posture; reads subtract until compact folds), " +
        "'copy-on-write' (the default) rewrites touched objects. The " +
        "exactly-translatable metadata DELETE path is unaffected."
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("mode", StringType).build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val mode = input.getUTF8String(1).toString.trim
        .toLowerCase(java.util.Locale.ROOT)
      require(mode == "merge-on-read" || mode == "copy-on-write",
        s"graft-lake set_dml_mode: mode must be 'merge-on-read' or " +
          s"'copy-on-write', got '$mode'")
      LakeDvs.setMor(new HadoopStore(root), table, mode == "merge-on-read")
      result(StructType(Seq(
        StructField("table", StringType, nullable = false),
        StructField("mode", StringType, nullable = false))),
        UTF8String.fromString(table), UTF8String.fromString(mode))
    }
  }

  private final class SetRetentionProcedure(root: String)
      extends MaintenanceProcedure("set_retention") {
    override def description(): String =
      "Enable/disable time-travel history retention for a table: with " +
        "retain => true, mutating commits keep their replaced objects " +
        "and record full snapshots (read them back with VERSION AS OF / " +
        "option asOfGeneration); expire_versions reclaims"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("retain", BooleanType).build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val retain = input.getBoolean(1)
      LakeVersions.setRetain(new HadoopStore(root), table, retain)
      result(StructType(Seq(
        StructField("table", StringType, nullable = false),
        StructField("retain", BooleanType, nullable = false))),
        UTF8String.fromString(table), java.lang.Boolean.valueOf(retain))
    }
  }

  private final class ExpireVersionsProcedure(root: String)
      extends MaintenanceProcedure("expire_versions") {
    override def description(): String =
      "Reclaim retained time-travel history: drop generation records " +
        "older than keep_last generations and physically delete the " +
        "replaced objects no kept snapshot still names; serialized as a " +
        "commit of its own"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("keep_last", IntegerType)
        .defaultValue("2").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val rep = LakeVersions.expireVersions(new HadoopStore(root),
        input.getUTF8String(0).toString, input.getInt(1))
      result(StructType(Seq(
        StructField("records_dropped", IntegerType, nullable = false),
        StructField("objects_reclaimed", IntegerType, nullable = false))),
        Integer.valueOf(rep.recordsDropped),
        Integer.valueOf(rep.objectsReclaimed))
    }
  }

  private final class RollbackProcedure(root: String)
      extends MaintenanceProcedure("rollback") {
    override def description(): String =
      "Roll the table back to a retained generation or tag (the bad-" +
        "commit remedy): mints ONE new generation whose live keys, " +
        "delete-vector map and equality-delete list equal the target's " +
        "— pure metadata at any table size, history preserved (the " +
        "rolled-back range stays time-travelable; re-rollback undoes " +
        "the undo). Data rolls back; the declared schema does not " +
        "(by-name resolution covers resurrected objects)."
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("version", StringType).build(),
      ProcedureParameter.in("dry_run", BooleanType)
        .defaultValue("false").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val rep = LakeVersions.rollbackTo(new HadoopStore(root),
        input.getUTF8String(0).toString,
        input.getUTF8String(1).toString,
        dryRun = input.getBoolean(2))
      result(StructType(Seq(
        StructField("gen", LongType, nullable = false),
        StructField("target", LongType, nullable = false),
        StructField("restored", IntegerType, nullable = false),
        StructField("removed", IntegerType, nullable = false),
        StructField("dv_restored", IntegerType, nullable = false),
        StructField("dv_dropped", IntegerType, nullable = false),
        StructField("eqdels_reset", BooleanType, nullable = false),
        StructField("noop", BooleanType, nullable = false))),
        java.lang.Long.valueOf(rep.gen), java.lang.Long.valueOf(rep.target),
        Integer.valueOf(rep.restored), Integer.valueOf(rep.removed),
        Integer.valueOf(rep.dvRestored), Integer.valueOf(rep.dvDropped),
        java.lang.Boolean.valueOf(rep.eqdelsReset),
        java.lang.Boolean.valueOf(rep.noop))
    }
  }

  private final class TagProcedure(root: String)
      extends MaintenanceProcedure("tag") {
    override def description(): String =
      "NAME a retained generation (the training-run label): VERSION AS " +
        "OF 'name' reads it, and expire_versions keeps it until " +
        "drop_tag; gen defaults to the current head"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("name", StringType).build(),
      ProcedureParameter.in("gen", LongType).defaultValue("-1").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val store = new HadoopStore(root)
      val table = input.getUTF8String(0).toString
      val name = input.getUTF8String(1).toString
      val gen = input.getLong(2) match {
        case -1L =>
          val st = LakeVersions.listDir(store, table)
          LakeVersions.head(store, table, st).map(_.gen).getOrElse(
            throw new IllegalArgumentException(
              s"graft-lake: '$table' has no committed generation to tag"))
        case g => g
      }
      LakeVersions.setTag(store, table, name, gen)
      result(StructType(Seq(
        StructField("name", StringType, nullable = false),
        StructField("gen", LongType, nullable = false))),
        UTF8String.fromString(name), java.lang.Long.valueOf(gen))
    }
  }

  private final class DropTagProcedure(root: String)
      extends MaintenanceProcedure("drop_tag") {
    override def description(): String =
      "Drop a tag: the generation it pinned becomes reclaimable by " +
        "expire_versions (idempotent)"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("name", StringType).build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val name = input.getUTF8String(1).toString
      LakeVersions.dropTag(new HadoopStore(root),
        input.getUTF8String(0).toString, name)
      result(StructType(Seq(
        StructField("dropped", StringType, nullable = false))),
        UTF8String.fromString(name))
    }
  }

  private final class ChangesSummaryProcedure(root: String)
      extends MaintenanceProcedure("changes_summary") {
    override def description(): String =
      "Row-exact change counts between retained snapshots (LakeChanges): " +
        "inserts and deletes from `from` (generation or tag) to `to` " +
        "(generation/tag; default the current table) — only changed " +
        "objects are read; the full row feed is LakeChanges.since/between"
    override def isDeterministic(): Boolean = true // reads, never mutates
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("from", StringType).build(),
      ProcedureParameter.in("to", StringType).defaultValue("''").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val from = input.getUTF8String(1).toString
      val to = Option(input.getUTF8String(2)).map(_.toString)
        .filter(_.nonEmpty)
      val spark = SparkSession.active
      val feed = to match {
        case Some(t) => LakeChanges.between(spark, root, table, from, t)
        case None => LakeChanges.since(spark, root, table, from)
      }
      import org.apache.spark.sql.functions.{col, count, lit, sum, when}
      val r = feed.agg(
        sum(when(col(LakeChanges.ChangeTypeCol) === "insert", 1L)
          .otherwise(0L)),
        sum(when(col(LakeChanges.ChangeTypeCol) === "delete", 1L)
          .otherwise(0L)), count(lit(1))).head()
      val (ins, del) =
        if (r.getLong(2) == 0L) (0L, 0L) else (r.getLong(0), r.getLong(1))
      result(StructType(Seq(
        StructField("inserts", LongType, nullable = false),
        StructField("deletes", LongType, nullable = false))),
        java.lang.Long.valueOf(ins), java.lang.Long.valueOf(del))
    }
  }

  private final class HistoryProcedure(root: String)
      extends MaintenanceProcedure("history") {
    override def description(): String =
      "The table's generation chain, newest first: one row per " +
        "committed mutation (gen, op, object counts, snapshot presence) " +
        "— what VERSION AS OF can name"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val store = new HadoopStore(root)
      val table = input.getUTF8String(0).toString
      val st = LakeVersions.listDir(store, table)
      val rows = st.gens.sorted.reverse.flatMap(g =>
        LakeVersions.readRecord(store, table, g)).map { r =>
        Seq[Any](java.lang.Long.valueOf(r.gen),
          java.lang.Long.valueOf(r.parent),
          UTF8String.fromString(r.op),
          Integer.valueOf(r.removed.size), Integer.valueOf(r.added.size),
          Integer.valueOf(r.inserted.size),
          java.lang.Boolean.valueOf(LakeVersions.isSnapshot(r)),
          java.lang.Long.valueOf(r.at * 1000L), // millis -> micros
          // the newer chain-state columns (merge-on-read vectors,
          // equality deletes, declared-schema pin, transaction marker)
          Integer.valueOf(r.dvs.size), Integer.valueOf(r.eqdels.size),
          r.schemaV.map(java.lang.Long.valueOf).orNull,
          r.txn.map(UTF8String.fromString).orNull)
      }
      resultRows(StructType(Seq(
        StructField("gen", LongType, nullable = false),
        StructField("parent", LongType, nullable = false),
        StructField("op", StringType, nullable = false),
        StructField("removed", IntegerType, nullable = false),
        StructField("added", IntegerType, nullable = false),
        StructField("inserted", IntegerType, nullable = false),
        StructField("has_snapshot", BooleanType, nullable = false),
        StructField("committed_at", TimestampType, nullable = false),
        StructField("dv_objects", IntegerType, nullable = false),
        StructField("eqdel_files", IntegerType, nullable = false),
        StructField("schema_version", LongType, nullable = true),
        StructField("txn", StringType, nullable = true))), rows)
    }
  }

  private final class RetireObjectsProcedure(root: String)
      extends MaintenanceProcedure("retire_objects") {
    override def description(): String =
      "Retire EXPLICIT objects by key (the _object_key audit remedy): " +
        "each deletes with its sidecars, manifests invalidate; idempotent"
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("keys", StringType).build()) // comma-separated
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val keys = commaCols(input.getUTF8String(0))
      val retired = LakeMaintenance.retireObjects(new HadoopStore(root), keys)
      result(StructType(Seq(
        StructField("retired", IntegerType, nullable = false),
        StructField("named", IntegerType, nullable = false))),
        Integer.valueOf(retired), Integer.valueOf(keys.size))
    }
  }
}
