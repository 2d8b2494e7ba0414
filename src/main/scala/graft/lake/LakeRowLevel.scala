package graft.lake

import graft.types.{ColType, TableSchema}

import java.time.Instant
import java.time.temporal.ChronoUnit

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL DML for the lake — the two halves Spark's own rewrite rules
  * expect a table format to provide, so `DELETE FROM` / `UPDATE` /
  * `MERGE INTO lake.t ...` work in PLAIN SQL through the catalog with
  * Catalyst in the driver's seat (the Delta/Iceberg DML surface
  * re-derived on the reference's key layout, `README.md:111-148`):
  *
  *  1. the METADATA path ([[LakeTable.deleteWhere]], `SupportsDeleteV2`):
  *     a DELETE whose whole condition translates to the lake's own
  *     probe shapes — `col = v` / `col IN (...)` (+ optional
  *     `_event_hour` bounds), a pure `_event_hour` range (SQL
  *     retention), or `_object_key` membership (the audit remedy) —
  *     never rewrites a non-matching object: Spark's
  *     `OptimizeMetadataOnlyDeleteFromTable` hands the condition over
  *     and [[LakeMaintenance.deleteWhere]] / [[LakeMaintenance
  *     .retireObjects]] bound the work by bloom/band probes exactly
  *     like `CALL lake.system.delete_where`;
  *
  *  2. the COPY-ON-WRITE path ([[LakeRowLevelOperation]],
  *     `SupportsRowLevelOperations`, GROUP-based): arbitrary-predicate
  *     DELETE and every UPDATE (MERGE takes the position-DELTA path —
  *     [[LakeDelta]], [[LakeDeltaOperation]]) — via
  *     Spark's ReplaceData rewrite: the operation's SCAN plans the
  *     affected objects (static bloom/band pruning from the pushed
  *     condition, then EXACT group runtime filtering — Spark's own
  *     matching-rows subquery delivers `_object_key IN (...)` through
  *     the scan's `SupportsRuntimeFiltering` face, so only objects
  *     PROVEN to hold matches are rewritten), the WRITE stages each
  *     task's surviving/updated rows into per-hour rolled objects
  *     under the staged-publish discipline, and commit publishes the
  *     replacements then retires exactly the scanned objects with
  *     their sidecars, manifests invalidated before AND after.
  *
  * Hour semantics: a row lands under its OWN `_event_hour` (the COW
  * write routes per row), so an UPDATE that does not touch
  * `_event_hour` rewrites every group in place — and one that DOES is
  * an explicit hour MOVE (values floor to the hour, the key layout's
  * grain; NULL `_event_hour` fails loudly). MERGE INSERT rows land
  * under their stated hour the same way.
  *
  * Atomicity: every multi-object statement here commits through the
  * [[LakeVersions]] protocol (intent → publish renames → CAS → retire)
  * — visibility flips at one create-exclusive, racing writers abort
  * loudly, and the old publish-then-retire crash window is gone (a
  * pre-CAS crash never happened; a post-CAS interrupted retire is
  * invisible and finished by the next commit).
  *
  * Mixed headers: an EVOLVED table (declared schema, [[LakeSchemas]])
  * runs row-level SQL fine — the scan resolves per object by name and
  * the write emits the declared header, so touched objects MIGRATE to
  * it as a byproduct. A `reconcile` table (reference-drift, no declared
  * schema) still REFUSES: rewriting onto the merged union header would
  * be a silent schema decision nobody declared — `ALTER TABLE` or
  * compact first. */
object LakeRowLevel {

  /** A DELETE condition the metadata path can serve EXACTLY, decided at
    * `canDeleteWhere` time so Spark only hands over whole conditions. */
  sealed trait MetaDelete
  /** A CONJUNCTION of `col = v` / `col IN (...)` probes (each column at
    * most once) + optional `_event_hour` bounds — the bloom/band-bounded
    * [[LakeMaintenance.deleteWhereMulti]] shape. Conjoining exact
    * probes stays exact (a row deletes iff EVERY column's probe set
    * holds its value), and the object-level decision is the AND of
    * per-column bloom/band tests ([[LakeReader.prunedEqAnyMultiKeys]]),
    * so the common two-column GDPR shape (`tenant = x AND user = y`)
    * never rewrites an object that provably lacks either value. */
  final case class DeleteByProbe(probes: Seq[(String, Seq[Any])],
                                 hourRange: Option[(Instant, Instant)])
      extends MetaDelete
  /** Pure `_event_hour` bounds — SQL retention: every object in range
    * retires WHOLESALE (object hour ≡ row `_event_hour`, so the
    * object-level decision is row-exact). */
  final case class DeleteByHours(from: Option[Instant], to: Option[Instant])
      extends MetaDelete
  /** `_object_key` equality/IN — the l26 audit remedy as SQL: named
    * objects retire (keys of OTHER tables match no row here — ignored). */
  final case class DeleteByKeys(keys: Seq[String]) extends MetaDelete

  private val HourMicros = 3600L * 1000000L

  private def floorHour(i: Instant): Instant = i.truncatedTo(ChronoUnit.HOURS)
  private def aligned(i: Instant): Boolean = floorHour(i) == i

  private def tsInstant(v: Any): Option[Instant] = v match {
    case t: java.sql.Timestamp => Some(t.toInstant)
    case i: Instant => Some(i)
    case _ => None
  }

  /** Translate a conjunction of V2 predicates into a [[MetaDelete]], or
    * None when any conjunct falls outside the exact shapes (the
    * copy-on-write path owns it then). EXACTNESS is the bar — the
    * metadata delete removes whole rows with no residual filter, so:
    * probe values must be non-null/non-empty (`""` round-trips as NULL
    * on the wire, and SQL `= NULL` matches nothing anyway), hour bounds
    * round INWARD to whole hours (rows carry exact hour instants, so a
    * misaligned bound tightens to the hours it truly admits), and a
    * misaligned `_event_hour = t` admits nothing. */
  def translateDelete(predicates: Array[Predicate],
                      schema: TableSchema): Option[MetaDelete] = {
    val v1opt = org.apache.spark.sql.graft.V2Predicates.toV1(predicates)
    if (v1opt.exists(_.isEmpty)) return None // untranslatable conjunct
    translateV1(v1opt.map(_.get), schema)
  }

  /** The translation core, over v1 filters (what Spark's own conversion
    * yields per conjunct — and what the specs drive directly). */
  def translateV1(v1: Array[Filter], schema: TableSchema): Option[MetaDelete] = {
    val cols = schema.columns.toMap

    var from: Option[Instant] = None
    var to: Option[Instant] = None
    def tightenFrom(i: Instant): Unit =
      from = Some(from.fold(i)(f => if (i.isAfter(f)) i else f))
    def tightenTo(i: Instant): Unit =
      to = Some(to.fold(i)(t => if (i.isBefore(t)) i else t))

    var probes: Vector[(String, Seq[Any])] = Vector.empty
    var notNullCols: Set[String] = Set.empty
    var keys: Option[Seq[String]] = None
    var bad = false

    def addProbe(c: String, vs: Seq[Any]): Unit =
      if (probes.exists(_._1 == c)) bad = true // a column probes ONCE —
        // a second conjunct on it (c = a AND c = b) is an intersection
        // shape the exact IN-probe cannot express; COW handles it
      else {
        val usable = vs.forall(v => v != null && v != "")
        if (usable && vs.nonEmpty) probes :+= (c, vs) else bad = true
      }

    v1.foreach {
      case EqualTo(LakeDataSource.ObjectKeyCol, v: String) =>
        if (keys.isEmpty) keys = Some(Seq(v)) else bad = true
      case In(LakeDataSource.ObjectKeyCol, vs) if vs != null =>
        if (keys.isEmpty && vs.forall(_.isInstanceOf[String]))
          keys = Some(vs.toSeq.map(_.asInstanceOf[String]))
        else bad = true
      case EqualTo(LakeDataSource.EventHourCol, v) => tsInstant(v) match {
        case Some(t) if aligned(t) => tightenFrom(t); tightenTo(t)
        case Some(t) => // misaligned hour equality admits nothing
          tightenFrom(floorHour(t).plus(1, ChronoUnit.HOURS))
          tightenTo(floorHour(t))
        case None => bad = true
      }
      case GreaterThanOrEqual(LakeDataSource.EventHourCol, v) => tsInstant(v) match {
        case Some(t) =>
          tightenFrom(if (aligned(t)) t else floorHour(t).plus(1, ChronoUnit.HOURS))
        case None => bad = true
      }
      case GreaterThan(LakeDataSource.EventHourCol, v) => tsInstant(v) match {
        case Some(t) => tightenFrom(floorHour(t).plus(1, ChronoUnit.HOURS))
        case None => bad = true
      }
      case LessThanOrEqual(LakeDataSource.EventHourCol, v) => tsInstant(v) match {
        case Some(t) => tightenTo(floorHour(t))
        case None => bad = true
      }
      case LessThan(LakeDataSource.EventHourCol, v) => tsInstant(v) match {
        case Some(t) =>
          tightenTo(if (aligned(t)) t.minus(1, ChronoUnit.HOURS) else floorHour(t))
        case None => bad = true
      }
      case EqualTo(c, v) if cols.contains(c) => addProbe(c, Seq(v))
      case In(c, vs) if cols.contains(c) && vs != null => addProbe(c, vs.toSeq)
      // Spark may seed IsNotNull alongside an equality on the same
      // column (in EITHER order) — redundant there (NULL never
      // equals); checked against the final probe set below
      case IsNotNull(c) if cols.contains(c) => notNullCols += c
      case _ => bad = true
    }
    // an IsNotNull with no equality probe on its column is a REAL
    // predicate (delete the non-null rows) the probe cannot express
    if (!notNullCols.forall(c => probes.exists(_._1 == c))) bad = true

    if (bad) None
    else (keys, probes) match {
      case (Some(ks), Vector()) if from.isEmpty && to.isEmpty => Some(DeleteByKeys(ks))
      case (Some(_), _) => None // keys + other conjuncts: COW owns it
      case (None, ps) if ps.nonEmpty =>
        val hr = (from, to) match {
          case (None, None) => None
          // probe + hour bounds: LakeMaintenance.deleteWhere's range is
          // inclusive both ends at hour grain; open ends take sentinels
          case _ => Some((from.getOrElse(Instant.EPOCH),
            to.getOrElse(Instant.parse("9999-01-01T00:00:00Z"))))
        }
        Some(DeleteByProbe(ps, hr))
      case (None, _) if from.nonEmpty || to.nonEmpty =>
        Some(DeleteByHours(from, to))
      case _ => None
    }
  }

  /** How an OVERWRITE write replaces existing data — the three faces
    * Spark's write planning produces, each scoped to the hour grain the
    * key layout gives for free. */
  sealed trait OverwriteMode
  /** `mode("overwrite")` static / SQL `INSERT OVERWRITE` static /
    * `TRUNCATE`: every pre-existing object retires. */
  case object OverwriteAll extends OverwriteMode
  /** `df.writeTo(t).overwrite(cond)` — the replaceWhere shape: objects
    * in the condition's hour range retire; incoming rows must land
    * INSIDE that range (enforced at commit — a replaceWhere that writes
    * outside its own scope is a silent data smear). */
  final case class OverwriteHours(from: Option[Instant], to: Option[Instant])
      extends OverwriteMode
  /** Dynamic partition overwrite: exactly the HOURS the incoming rows
    * land in replace their pre-existing objects — hour repair. */
  case object OverwriteDynamic extends OverwriteMode

  /** Translate an overwrite condition: TRUE → [[OverwriteAll]], a pure
    * `_event_hour` conjunction → [[OverwriteHours]] (bounds round INWARD
    * to whole hours — row-exact, object hour ≡ row hour), anything
    * else → None (refused loudly: a non-hour replaceWhere would need
    * row-level surgery, which is `DELETE FROM` + append, not overwrite). */
  def translateOverwrite(predicates: Array[Predicate],
                         schema: TableSchema): Option[OverwriteMode] = {
    val v1opt = org.apache.spark.sql.graft.V2Predicates.toV1(predicates)
    if (v1opt.exists(_.isEmpty)) return None
    val v1 = v1opt.map(_.get).filterNot(_.isInstanceOf[AlwaysTrue])
    if (v1.isEmpty) return Some(OverwriteAll)
    translateV1(v1, schema) match {
      case Some(DeleteByHours(f, t)) => Some(OverwriteHours(f, t))
      case _ => None
    }
  }

  /** Coerce v1-filter literal values to the runtime types [[LakeReader
    * .readKeys]] frames compare with (`isin` on the read DataFrame):
    * strings stay, integers widen to Long, floats to Double, timestamps
    * to java.sql.Timestamp — the [[graft.lake.LakeCatalog]] CALL
    * procedure's coercion, from typed literals instead of text. */
  private[lake] def coerce(t: ColType, v: Any): Any = (t, v) match {
    case (ColType.CInteger, n: Number) => java.lang.Long.valueOf(n.longValue())
    case (ColType.CFloat, n: Number) => java.lang.Double.valueOf(n.doubleValue())
    case (ColType.CTime, ts) => tsInstant(ts).map(java.sql.Timestamp.from).getOrElse(ts)
    case (_, other) => other
  }

  /** Sidecar/codec convention of an existing table, SAMPLED across its
    * life (newest hour, oldest hour, middle hour — one object each):
    * rewritten objects keep the table's gzip setting, stats sidecars,
    * and bloom columns, so a SQL DML pass never silently degrades the
    * pruning layer. Tables drift by ADOPTING indexes mid-life (blooms
    * turned on last month, `ensure_indexes` not yet run over the
    * tail), and a single-key probe would land on whichever side of the
    * adoption the listing starts — so on DISAGREEMENT the result is
    * the UNION of indexing conventions (zone maps if ANY probe carries
    * them, bloom columns unioned) with the NEWEST object's codec, and
    * a loud warning names the drift with `ensure_indexes` as the
    * reconciler. A replacement indexed under the union is never wrong
    * — pruning consults sidecars per object — only ahead of the
    * stragglers. */
  final case class SidecarPolicy(gzip: Boolean, zoneMaps: Boolean,
                                 bloomColumns: Seq[String])

  /** [[detectPolicy]] narrowed to a DECLARED schema: bloom columns the
    * schema no longer carries (ALTER DROP COLUMN) are dropped from the
    * convention — a rewrite must not try to bloom-index a column its
    * rows no longer have (the Tracker would refuse loudly and break
    * every DML statement until compaction). Old objects' sidecars for
    * the dropped column stay harmless (probes on it can no longer be
    * expressed — it is not a schema column). */
  def policyFor(store: Store, table: String,
                schema: TableSchema): SidecarPolicy = {
    val p = detectPolicy(store, table)
    p.copy(bloomColumns = p.bloomColumns.filter(schema.columnNames.contains))
  }

  def detectPolicy(store: Store, table: String): SidecarPolicy = {
    def policyOf(k: String) = SidecarPolicy(
      gzip = k.endsWith(".gz"),
      zoneMaps = store.exists(ZoneMaps.statsKey(k)),
      bloomColumns = BloomMaps.read(store, k)
        .map(_.cols.keys.toSeq.sorted).getOrElse(Nil))
    val hours = LakeReader.walkHourPrefixes(store).sorted
    // newest FIRST: the newest object is what the table is being
    // written as now — its codec wins on disagreement
    val sampleHours =
      if (hours.isEmpty) Nil
      else Seq(hours.last, hours.head, hours(hours.size / 2)).distinct
    val probed = sampleHours.flatMap { h =>
      store.list(s"$h/$table")
        .filter(k => LakeKeys.parseKey(k).exists(_._2 == table))
        .sorted.lastOption
    }.map(policyOf)
    probed match {
      case Nil =>
        // hour dirs may all belong to OTHER tables — fall back to the
        // cheap first-key walk before declaring the defaults
        LakeReader.firstTableKey(store, table)
          .map(policyOf).getOrElse(SidecarPolicy(gzip = true, zoneMaps = false, Nil))
      case newest :: rest =>
        if (rest.forall(_ == newest)) newest
        else {
          val union = SidecarPolicy(newest.gzip,
            probed.exists(_.zoneMaps),
            probed.flatMap(_.bloomColumns).distinct.sorted)
          System.err.println(
            s"[graft.LakeRowLevel.detectPolicy] table '$table' carries " +
              s"MIXED sidecar conventions across its hours " +
              s"(${probed.mkString(", ")}) — rewrites will index under " +
              s"their union ($union); run CALL lake.system.ensure_indexes " +
              "to reconcile the stragglers")
          union
        }
    }
  }

  /** Run a translated metadata delete. Reports (rows when known): the
    * probe path returns [[LakeMaintenance.DeleteReport]] counts; the
    * hour/key paths retire whole objects (row counts live in their
    * sidecars, not re-read here). */
  def executeDelete(spark: SparkSession, store: Store, table: String,
                    schema: TableSchema, md: MetaDelete,
                    evolved: Boolean = false): Unit = md match {
    case DeleteByProbe(ps, hr) =>
      val types = schema.columns.toMap
      // MERGE-ON-READ tables route the canonical GDPR shapes — a
      // conjunction of equality/IN probes over eligible columns,
      // unbounded hours (`user_id = X`; `tenant = T AND user_id = X`)
      // — to an EQUALITY DELETE ([[LakeEqDeletes]]): one small file +
      // one CAS, O(1) writes where the probe rewrite opens O(matching
      // objects). Everything else (hour-bounded, ineligible types)
      // keeps the bloom-bounded rewrite — still exact.
      val eqEligible = hr.isEmpty && ps.nonEmpty &&
        LakeDvs.isMor(store, table) && ps.forall { case (c, vs) =>
          LakeEqDeletes.eligible(types(c)) && vs.nonEmpty && vs.forall(v =>
            LakeEqDeletes.wireForm(types(c), coerce(types(c), v)).isDefined)
        }
      if (eqEligible) {
        executeEqDelete(store, table, schema, ps.map { case (c, vs) =>
          c -> vs.map(v =>
            LakeEqDeletes.wireForm(types(c), coerce(types(c), v)).get)
        })
      } else {
        val p = policyFor(store, table, schema)
        LakeMaintenance.deleteWhereMulti(spark, store, table,
          ps.map { case (c, vs) => (c, vs.map(coerce(types(c), _))) }, hr,
          gzip = p.gzip, zoneMaps = p.zoneMaps, bloomColumns = p.bloomColumns,
          declared = if (evolved) Some(schema) else None)
      }
    case DeleteByHours(from, to) =>
      val hr = Some((from.getOrElse(Instant.EPOCH),
        to.getOrElse(Instant.parse("9999-01-01T00:00:00Z"))))
      val doomed = LakeReader.listTableKeys(store, table, hr)
      if (doomed.nonEmpty) dmlRetire(store, table, doomed)
    case DeleteByKeys(ks) =>
      // only THIS table's parse-able EXISTING keys: a foreign/garbage
      // key names no row of this table, and a re-run of the same DELETE
      // must stay a no-op, not a validation failure
      val mine = ks.filter(k => LakeKeys.parseKey(k).exists(_._2 == table))
        .filter(store.exists)
      if (mine.nonEmpty) dmlRetire(store, table, mine)
  }

  /** The EQUALITY-DELETE write (see [[LakeEqDeletes]]): freeze the
    * boundary-hour key list, stage the file behind an intent (so an
    * expire/janitor sweep racing the pre-CAS window spares it — the
    * same cover the MOR vector publish carries), CAS the generation
    * with the new reference. Rows appended CONCURRENTLY with this
    * statement serialize after it (the CAS is the commit point; an
    * append has none), so they survive — the standard DELETE-vs-INSERT
    * serialization. Future-dated objects (explicit flush time above
    * the current hour) would sit outside the scope watermark, so their
    * presence falls this statement back to the exact probe rewrite —
    * checked cheaply via the bounded hour walk. */
  private def executeEqDelete(store: Store, table: String,
                              schema: TableSchema,
                              probes: Seq[(String, Seq[String])]): Unit = {
    val now = Instant.now()
    val upToHour = LakeKeys.datePrefix(now)
    val futureHours = LakeReader.walkHourPrefixes(store,
      after = Some(LakeKeys.datePrefix(now.plus(1, ChronoUnit.HOURS))))
    val hasFuture = futureHours.exists(h =>
      store.list(s"$h/$table").exists(k =>
        LakeKeys.parseKey(k).exists(_._2 == table)))
    if (hasFuture) {
      // future-dated data cannot be scoped by the hour watermark —
      // exactness wins: take the probe rewrite instead
      val p = policyFor(store, table, schema)
      val types = schema.columns.toMap
      LakeMaintenance.deleteWhereMulti(SparkSession.active, store, table,
        probes.map { case (c, vs) => (c, vs.map(wireBack(types(c), _))) },
        None,
        gzip = p.gzip, zoneMaps = p.zoneMaps, bloomColumns = p.bloomColumns)
      return
    }
    // the frozen boundary must NOT capture intent-hidden keys (a
    // pending write-audit-publish batch staged into this hour): those
    // rows are logically inserted at PUBLISH time — after this delete —
    // and must survive it
    val excl = LakeVersions.exclusions(store, table)
    val boundary = store.list(s"$upToHour/$table")
      .filter(k => LakeKeys.parseKey(k).exists(_._2 == table))
      .filterNot(excl)
    val eqKey = LakeEqDeletes.freshKey(table)
    val intentId = java.util.UUID.randomUUID().toString
    LakeVersions.writeIntent(store, table, intentId, Seq(eqKey))
    LakeEqDeletes.write(store, eqKey, table, probes, upToHour, boundary)
    try LakeVersions.commit(store, table, op = "delete_eq", removed = Nil,
      intentId = Some(intentId),
      eqdelAdds = Seq(LakeEqDeletes.EqRef(eqKey,
        probes.map(_._1).mkString(","),
        probes.map(_._2.size.toLong).sum, upToHour)))
    catch { case e: Throwable =>
      store.delete(eqKey)
      store.delete(LakeVersions.intentKey(table, intentId))
      throw e
    }
  }

  /** Wire string → the runtime value [[LakeMaintenance.deleteWhereMulti]]
    * frames compare with (the fallback path above). */
  private def wireBack(t: ColType, s: String): Any = t match {
    case ColType.CInteger => java.lang.Long.valueOf(s)
    case ColType.CBoolean => java.lang.Boolean.valueOf(s)
    case _ => s
  }

  /** Whole-object removal as a SQL DML statement: versioned commit
    * FIRST (CAS-serialized against every racing mutation; the keys
    * tombstone atomically), then the physical retire — SKIPPED when the
    * table retains history, exactly like the copy-on-write paths. */
  private def dmlRetire(store: Store, table: String,
                        doomed: Seq[String]): Unit = {
    LakeVersions.commit(store, table, op = "delete", removed = doomed)
    if (!LakeVersions.isRetained(store, table)) {
      LakeMaintenance.physicalRetire(store, doomed)
      LakeVersions.pruneChainIfLarge(store, table, doomed.size)
    }
  }
}

/** One SQL row-level command's lifecycle (Spark builds one per
  * DELETE/UPDATE/MERGE statement): the scan face plans + records the
  * affected objects, the write face replaces them. GROUP-based
  * (copy-on-write) — the natural grain of immutable rolled objects. */
final class LakeRowLevelOperation(rootUri: String, tableName: String,
                                  lakeSchema: TableSchema,
                                  cmd: RowLevelOperation.Command,
                                  byName: Boolean = false)
    extends RowLevelOperation {

  /** The operation's CONFIGURED scan — the one Spark plans the
    * ReplaceData read with (built FIRST, during the main pushdown;
    * the runtime group-filter's matching-rows subquery may build
    * later scans from this same operation, which must NOT steal the
    * slot). Commit retires exactly this scan's [[LakeScan
    * .plannedKeys]], post-runtime-filtering. */
  @volatile private[lake] var cowScan: LakeScan = _

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String =
    s"graft-lake $cmd copy-on-write table=$tableName"

  /** `_object_key` rides the row-level plan so Spark's runtime group
    * filtering can key on EXACT object identity (the scan's
    * [[LakeScan.filterAttributes]] narrows to it in COW mode). */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(LakeDataSource.ObjectKeyCol))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LakeScanBuilder(rootUri, tableName, lakeSchema,
      byName = byName,
      cowMode = true,
      onBuild = s => if (cowScan == null) cowScan = s)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val op = this
    new WriteBuilder {
      override def build(): Write =
        new LakeCowWrite(rootUri, lakeSchema, info.schema(), op)
    }
  }
}

/** Picks the rewrite shape per command and per the table's DML mode:
  *
  *  - merge-on-read tables ([[LakeDvs.isMor]], `CALL lake.system
  *    .set_dml_mode`): EVERY row-level command takes the delta path in
  *    MOR mode — dead positions become delete vectors, changed/new rows
  *    land as fresh objects, no touched object is rewritten (O(changed
  *    rows), the sparse-DML posture; `compact` folds);
  *  - otherwise MERGE takes the DELTA path ([[LakeDeltaOperation]] —
  *    exact per-row ops, changed rows only, exact CDC); UPDATE and
  *    arbitrary DELETE stay GROUP-based copy-on-write (their output
  *    derives entirely from scanned groups, so the group rewrite is
  *    already CDC-exact, and Spark's runtime group filtering bounds it
  *    to proven objects). */
final class LakeRowLevelOperationBuilder(rootUri: String, tableName: String,
                                         lakeSchema: TableSchema,
                                         info: RowLevelOperationInfo,
                                         // evolved table: scans resolve
                                         // per object by name against the
                                         // DECLARED lakeSchema
                                         byName: Boolean = false,
                                         branch: Option[String] = None)
    extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation = {
    // a WAP-branch DML always takes the DELTA path with the REWRITE
    // commit (never vectors — they have no meaning before the branch
    // exists on the chain): patches name each touched object exactly,
    // which is what gives cross-branch DML its per-object LINEAGE
    // (rewrites of the staged batch stay batch; rewrites of LIVE
    // objects become branch replacements — the group-based ReplaceData
    // write carries only table columns and cannot tell them apart)
    if (branch.isDefined)
      return new LakeDeltaOperation(rootUri, tableName, lakeSchema, byName,
        cmd = info.command(), mor = false, branch = branch)
    val mor = LakeDvs.isMor(new HadoopStore(rootUri), tableName)
    if (mor || info.command() == RowLevelOperation.Command.MERGE)
      new LakeDeltaOperation(rootUri, tableName, lakeSchema, byName,
        cmd = info.command(), mor = mor)
    else
      new LakeRowLevelOperation(rootUri, tableName, lakeSchema,
        info.command(), byName)
  }
}

/** The ReplaceData write: stages every task's rows into per-hour rolled
  * objects (a row lands under its own `_event_hour` — COW rewrites
  * groups in place; explicit hour updates MOVE rows), then commit
  * publishes the replacements and retires the scan's planned objects.
  * Shares [[LakeWrite]]'s staging discipline: only committed attempts'
  * keys reach commit, staging swept on commit AND abort. */
final class LakeCowWrite(rootUri: String, lakeSchema: TableSchema,
                         inSchema: StructType, op: LakeRowLevelOperation)
    extends Write with BatchWrite {

  private val staging = StagedPublish.stagingPrefix("cow")
  @volatile private var policy: LakeRowLevel.SidecarPolicy = _

  override def toBatch: BatchWrite = this
  override def description(): String =
    s"graft-lake copy-on-write table=${lakeSchema.name} staging=$staging"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    policy = LakeRowLevel.policyFor(new HadoopStore(rootUri),
      lakeSchema.name, lakeSchema)
    new LakeCowWriterFactory(rootUri, lakeSchema, inSchema, s"$staging/", policy,
      cmd = Some(op.command()))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val store = new HadoopStore(rootUri)
    val table = lakeSchema.name
    try {
      val p = if (policy != null) policy
              else LakeRowLevel.policyFor(store, table, lakeSchema)
      val staged = messages.flatMap { case LakeCommitMessage(keys) => keys }
      // the scan IS the replacement contract: its planned objects are
      // exactly the groups whose rows flowed through the query — a
      // write with no recorded scan has nothing sound to replace
      require(op.cowScan != null,
        "graft-lake copy-on-write commit without a configured scan — " +
          "the ReplaceData read never planned, refusing to publish")
      val retired = op.cowScan.plannedKeys
      // a statement that matched NOTHING (no groups scanned, no rows
      // written) is a true no-op: never mint a generation for it — a
      // no-op UPDATE must not turn a never-mutated table versioned
      if (retired.isEmpty && staged.isEmpty) return
      // the CDC boundary: `ins/`-staged objects hold genuinely NEW rows
      // (MERGE INSERT) — a stream must always deliver them; the rest
      // are REWRITES of the retired groups' surviving rows, skippable
      // when their provenance was already delivered
      val (stagedIns, stagedRw) =
        staged.partition(_.startsWith(s"$staging/ins/"))
      def dstOf(k: String): String =
        k.stripPrefix(s"$staging/ins/").stripPrefix(s"$staging/")
      val added = stagedRw.map(dstOf).toSeq
      val inserted = stagedIns.map(dstOf).toSeq
      val hours = (added ++ inserted).map(LakeKeys.hourPrefixOf) ++
        retired.map(LakeKeys.hourPrefixOf)
      if (hours.nonEmpty)
        Manifests.invalidateIfCovers(store, table, hours.min)
      // the LakeVersions protocol: intent → publish renames (readers
      // exclude them until the CAS) → CAS the generation, which
      // VALIDATES the scanned originals are still live — two
      // overlapping COW statements can no longer both publish; the
      // loser aborts here with the table exactly as the winner left it
      val intentId = java.util.UUID.randomUUID().toString
      LakeVersions.writeIntent(store, table, intentId, added ++ inserted)
      staged.foreach { k =>
        StagedPublish.move(store, k, dstOf(k), p.zoneMaps, p.bloomColumns.nonEmpty)
      }
      try LakeVersions.commit(store, table,
        op = op.command().toString.toLowerCase(java.util.Locale.ROOT),
        removed = retired, added = added, inserted = inserted,
        intentId = Some(intentId),
        // the scan read these groups under its resolved vector map
        // (partitions applied it); a racing merge-on-read commit that
        // changed a vector in between must abort this rewrite
        dvBasis = {
          val basis = op.cowScan.plannedDvs
          retired.map(k => k -> basis.get(k).map(_.key)).toMap
        },
        // …and under its resolved equality-delete list: a racing
        // equality DELETE aborts this rewrite rather than having its
        // rows republished by it
        eqBasis = Some(op.cowScan.plannedEqdels))
      catch { case e: Throwable =>
        // un-publish: nothing committed, so deleting our renamed keys
        // (and the intent) restores the exact pre-statement table
        (added ++ inserted).foreach(StagedPublish.remove(store, _, "graft-lake cow abort"))
        store.delete(LakeVersions.intentKey(table, intentId))
        throw e
      }
      // originals retire AFTER the commit (their tombstones already
      // hide them; a crash here is finished by the next commit), kept
      // on disk when the table retains time-travel history; a broad
      // rewrite's deletes fan out (a KeyWalk delete walk)
      if (retired.nonEmpty && !LakeVersions.isRetained(store, table)) {
        LakeMaintenance.physicalRetire(store, retired)
        LakeVersions.pruneChainIfLarge(store, table, retired.size)
      }
      if (hours.nonEmpty)
        Manifests.invalidateIfCovers(store, table, hours.min)
    } finally StagedPublish.sweep(store, staging)
  }


  override def abort(messages: Array[WriterCommitMessage]): Unit =
    StagedPublish.sweep(new HadoopStore(rootUri), staging)
}

final class LakeCowWriterFactory(rootUri: String, lakeSchema: TableSchema,
                                 inSchema: StructType, keyPrefix: String,
                                 policy: LakeRowLevel.SidecarPolicy,
                                 maxRecordsPerObject: Long = 0L,
                                 cmd: Option[RowLevelOperation.Command] = None)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new LakeCowDataWriter(rootUri, lakeSchema, inSchema, keyPrefix, policy,
      maxRecordsPerObject, cmd)
}

/** Routes each row to a [[LakeWriter.RollingObjectWriter]] for its
  * `_event_hour` (UPDATE/DELETE plans are narrow — one object, one
  * hour, one roller per task; MERGE's join may mix hours — the map
  * holds one roller per DISTINCT hour this task sees, bounded by the
  * task's row provenance). Value extraction is [[LakeDataWriter]]'s
  * by-name contract; extra plan columns (`_object_key`) are ignored. */
final class LakeCowDataWriter(rootUri: String, lakeSchema: TableSchema,
                              inSchema: StructType, keyPrefix: String,
                              policy: LakeRowLevel.SidecarPolicy,
                              maxRecordsPerObject: Long = 0L,
                              cmd: Option[RowLevelOperation.Command] = None)
    extends DataWriter[InternalRow] {

  private val store = new HadoopStore(rootUri)
  private val rollers =
    scala.collection.mutable.LinkedHashMap.empty[(Long, Boolean), LakeWriter.RollingObjectWriter]
  private val hourIdx = inSchema.fieldIndex(LakeDataSource.EventHourCol)

  /** The CDC routing decision. UPDATE/DELETE output derives entirely
    * from scanned groups — pure REWRITES, recorded as `added` so a
    * stream that already delivered the originals skips them. MERGE no
    * longer reaches this writer at all (since r15 it rides the
    * position-delta path, [[LakeDelta]], whose per-row ops make the
    * rewrite/insert split exact); the `ins/` routing below is kept as
    * DEFENSE: if a group-based MERGE write were ever planned again
    * (a Spark behavior change, a future command), mixing survivors
    * with genuinely-new rows, every such row records `inserted` —
    * always delivered, never lost. */
  private val objKeyIdx: Option[Int] =
    if (inSchema.fieldNames.contains(LakeDataSource.ObjectKeyCol))
      Some(inSchema.fieldIndex(LakeDataSource.ObjectKeyCol))
    else None
  private val isMerge = cmd.contains(RowLevelOperation.Command.MERGE)
  private def insertRow(row: InternalRow): Boolean =
    isMerge && objKeyIdx.forall(row.isNullAt)

  private val getters: Array[InternalRow => Any] =
    LakeDataSource.externalGetters(lakeSchema, inSchema)

  override def write(row: InternalRow): Unit = {
    require(!row.isNullAt(hourIdx),
      s"graft-lake copy-on-write: NULL ${LakeDataSource.EventHourCol} — " +
        "every row must name its hour (UPDATE SET / MERGE INSERT must " +
        "assign a non-null timestamp)")
    val micros = row.getLong(hourIdx)
    val hourSec = Math.floorDiv(micros, 3600L * 1000000L) * 3600L
    val ins = insertRow(row)
    val roller = rollers.getOrElseUpdate((hourSec, ins),
      new LakeWriter.RollingObjectWriter(store, lakeSchema,
        Instant.ofEpochSecond(hourSec), policy.gzip,
        maxRecordsPerObject, if (ins) s"${keyPrefix}ins/" else keyPrefix,
        policy.zoneMaps, policy.bloomColumns))
    val vals = new Array[Any](getters.length)
    var i = 0
    while (i < getters.length) { vals(i) = getters(i)(row); i += 1 }
    roller.write(vals)
  }

  override def commit(): WriterCommitMessage =
    LakeCommitMessage(rollers.values.flatMap(_.finish().map(_.key)).toSeq)

  override def abort(): Unit = rollers.values.foreach(_.abort())
  override def close(): Unit = ()
}
