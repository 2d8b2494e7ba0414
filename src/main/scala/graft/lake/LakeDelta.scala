package graft.lake

import graft.types.{ColType, TableSchema}

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.time.Instant
import java.util.zip.GZIPInputStream

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, SupportsDelta, WriterCommitMessage}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DELTA-based MERGE for the lake — `SupportsDelta`, the position-delta
  * idea Iceberg v2 popularized (`_file`/`_pos` row ids + per-row change
  * ops), re-derived on the lake's immutable rolled objects (the
  * reference's queryable-lake contract, `README.md:113-117`; objects
  * land once and never mutate in place, `Collector.ts:310-350`, which
  * is exactly what makes `(_object_key, _row_pos)` a stable row id). This is the
  * second of Spark's two row-level rewrite shapes ([[LakeRowLevelOperation]]
  * is the GROUP-based one, which UPDATE/DELETE keep): instead of routing
  * every row of every touched group through the plan, Spark's
  * `RewriteMergeIntoTable` emits only the CHANGED rows, each tagged with
  * its operation and its row id `(_object_key, _row_pos)`, and the
  * connector applies them.
  *
  * Why MERGE gets the delta path (and UPDATE/DELETE do not): the
  * group-based ReplaceData write carries only table columns, so a MERGE's
  * surviving rows and its NOT-MATCHED inserts are per-row
  * indistinguishable there — r13/r14 had to record every MERGE object
  * `inserted` (at-least-once under an active stream). The delta plan
  * names each row's operation, so:
  *
  *  - CDC becomes EXACT: updated/surviving rows land in `added`
  *    (rewrites — a stream that already delivered their originals skips
  *    them), insert rows land in `inserted` (always delivered) — MERGE
  *    under an active stream is now exactly-once per logical row, the
  *    same contract as UPDATE/DELETE/compact;
  *  - the plan ships only changed rows: a MERGE matching 1% of a 100-TB
  *    table moves 1% of it through the shuffle/write instead of every
  *    row of every touched object.
  *
  * '''Execution shape''': each write task streams its not-matched
  * INSERT rows straight into per-hour staged objects (`ins/`, final
  * form), and its DELETE/UPDATE changes into staged PATCH files (typed
  * CSV: op, object key, row position, new values). Commit then runs one
  * distributed job keyed by `_object_key` — each touched object is
  * rewritten LOCALLY in its task (open original, drop deleted
  * positions, swap updated rows in, route every kept row by its own
  * `_event_hour`) — and publishes through the [[LakeVersions]] protocol
  * exactly like every other mutating statement: intent → renames → CAS
  * (validating the touched originals are still live — a racing commit
  * aborts this one loudly) → retire (skipped under retention).
  *
  * Memory is bounded twice: a patch file is streamed, and the rewrite
  * task holds one object's patches (an object is bounded by the
  * writer's record limit). The rewrite job scales with TOUCHED objects,
  * never table size.
  *
  * Small-file note: insert objects land one-per-(task, hour) — a MERGE
  * whose few inserts scatter over many join partitions lands many
  * small objects (the group-based COW write had the same shape).
  * `CALL lake.system.compact` consolidates; scheduled compaction is
  * the standing posture for any DML-heavy table. */
object LakeDelta {

  /** Patch-file schema: positional names (`p0`,`p1`,...) because the
    * payload columns shadow the table's own (including the RESERVED
    * `_event_hour`, which [[TableSchema]] refuses by name) — the file
    * is written and read only here, so names carry no meaning. Layout:
    * p0=op (`u`/`d`), p1=object key, p2=row position, p3.. = the
    * table's columns, last = the row's `_event_hour`. */
  private[lake] def patchSchema(schema: TableSchema): TableSchema =
    TableSchema(schema.name,
      Seq("p0" -> ColType.CString, "p1" -> ColType.CString,
        "p2" -> ColType.CInteger) ++
        schema.colTypes.zipWithIndex.map { case (t, i) => s"p${i + 3}" -> t } :+
        (s"p${schema.columns.size + 3}" -> ColType.CTime))

  /** Wire field → EXTERNAL value (what [[LakeWriter.RollingObjectWriter]]
    * writes): the read path's PERMISSIVE contract — empty = null,
    * unparseable = null — producing the exact value classes
    * [[TypedCsv.formatValue]] round-trips. */
  private[lake] def externalFromWire(t: ColType): String => Any = t match {
    case ColType.CString | ColType.CUuid => s => s
    case ColType.CInteger => s =>
      try java.lang.Long.valueOf(s) catch { case _: NumberFormatException => null }
    case ColType.CFloat => s =>
      try java.lang.Double.valueOf(s) catch { case _: NumberFormatException => null }
    case ColType.CBoolean => s =>
      if (s == "true") java.lang.Boolean.TRUE
      else if (s == "false") java.lang.Boolean.FALSE
      else null
    case ColType.CTime => s =>
      LakeObjectReader.converter(ColType.CTime)(s) match {
        case micros: java.lang.Long =>
          new java.sql.Timestamp(Math.floorDiv(micros.longValue(), 1000L))
        case _ => null
      }
  }

  /** One patch row shipped through the rewrite shuffle. `vals` stays in
    * WIRE form (deletes carry none) — converted once, in the rewrite
    * task that consumes it. */
  private[lake] final case class Patch(pos: Long, op: String,
                                       vals: Array[String])

  /** Stream a staged patch file: (object key, patch) pairs, lazily —
    * the reader closes itself at exhaustion (Spark's flatMap always
    * drains; a task failure abandons the handle to the JVM, which is
    * the standard hadoop-stream failure posture). */
  private[lake] def readPatch(store: Store, key: String,
                              pschema: TableSchema): Iterator[(String, Patch)] = {
    val raw = store.open(key)
    val rd = new BufferedReader(new InputStreamReader(
      if (key.endsWith(".gz")) new GZIPInputStream(raw) else raw,
      StandardCharsets.UTF_8))
    val types = TypedCsv.parseTypesHeader(rd.readLine())
    val names = TypedCsv.splitLine(rd.readLine())
    require(names == pschema.columnNames && types == pschema.colTypes,
      s"not a graft-lake MERGE patch file: $key ($names : $types)")
    new Iterator[(String, Patch)] {
      private var nextRec: Array[String] = advance()
      private def advance(): Array[String] = {
        val r = LakeObjectReader.readRecord(rd)
        if (r == null) rd.close()
        r
      }
      override def hasNext: Boolean = nextRec != null
      override def next(): (String, Patch) = {
        val f = nextRec
        nextRec = advance()
        (f(1), Patch(f(2).toLong, f(0), f.drop(3)))
      }
    }
  }

  /** One touched object's merged delete vector, built by
    * [[buildVectors]]: the staged vector file, its merged position
    * count, and the object's PHYSICAL record count when a stats sidecar
    * answers it (the full-object-delete detection — `count ==
    * physicalRecords` means no live row remains and the object should
    * retire outright). */
  private[lake] final case class BuiltVector(objKey: String,
                                             stagedDvKey: String,
                                             count: Long,
                                             physicalRecords: Option[Long])

  /** The merge-on-read commit job: the staged patches' dead positions,
    * grouped by object, each UNIONED with the object's basis vector (the
    * scan's committed map — CAS re-validates it) into one staged vector
    * file per touched object. Distributed like [[rewriteTouched]]; a
    * task holds one object's positions (bounded by the object's record
    * limit), never the statement's total. */
  private[lake] def buildVectors(spark: SparkSession, rootUri: String,
                                 table: String, schema: TableSchema,
                                 patchKeys: Seq[String],
                                 basis: Map[String, LakeVersions.DvRef],
                                 dvStaging: String): Seq[BuiltVector] = {
    if (patchKeys.isEmpty) return Nil
    val pschema = patchSchema(schema)
    val basisKeys: Map[String, String] =
      basis.map { case (k, r) => k -> r.key }
    spark.sparkContext
      .parallelize(patchKeys, patchKeys.size)
      .flatMap { pk =>
        readPatch(new HadoopStore(rootUri), pk, pschema).map { case (obj, p) =>
          require(p.op == "d",
            s"graft-lake merge-on-read: unexpected patch op '${p.op}' — " +
              "the MOR writer emits delete positions only")
          (obj, p.pos)
        }
      }
      .groupByKey()
      .map { case (obj, posIt) =>
        val st = new HadoopStore(rootUri)
        val fresh = posIt.toArray
        java.util.Arrays.sort(fresh)
        var i = 1
        while (i < fresh.length) {
          require(fresh(i) > fresh(i - 1),
            s"graft-lake merge-on-read: two changes target row " +
              s"${fresh(i)} of $obj — the ON condition matched one " +
              "target row twice")
          i += 1
        }
        val old = basisKeys.get(obj)
          .fold(Array.emptyLongArray)(k => LakeDvs.read(st, k, table, obj))
        val merged = LakeDvs.merge(old, fresh)
        require(merged.length == old.length + fresh.length,
          s"graft-lake merge-on-read: a change targets an already-" +
            s"vector-deleted row of $obj — the scan cannot have emitted " +
            "it; the table changed under the statement")
        val key = s"$dvStaging${java.util.UUID.randomUUID()}.dv.gz"
        LakeDvs.write(st, key, table, obj, merged)
        BuiltVector(obj, key, merged.length.toLong,
          ZoneMaps.read(st, obj).map(_.records))
      }
      .collect().toSeq
  }

  /** The commit-time rewrite job: every touched object (keyed by the
    * patches) is rewritten in ONE task — survivors keep their hour,
    * updated rows route by their own new `_event_hour` — into staged
    * replacements under `rwPrefix`. Returns (original key, its staged
    * replacement keys). */
  private[lake] def rewriteTouched(spark: SparkSession, rootUri: String,
                                   schema: TableSchema, patchKeys: Seq[String],
                                   rwPrefix: String,
                                   policy: LakeRowLevel.SidecarPolicy,
                                   byName: Boolean = false,
                                   // committed delete vectors of the
                                   // touched objects (merge-on-read
                                   // history): dead positions drop from
                                   // the rewrite like pre-deleted rows
                                   dvs: Map[String, String] = Map.empty)
      : Seq[(String, Seq[String])] = {
    if (patchKeys.isEmpty) return Nil
    val pschema = patchSchema(schema)
    val patches = spark.sparkContext
      .parallelize(patchKeys, patchKeys.size)
      .flatMap { pk => readPatch(new HadoopStore(rootUri), pk, pschema) }
    patches.groupByKey().map { case (objKey, ps) =>
      rewriteOne(new HadoopStore(rootUri), schema, objKey, ps, rwPrefix,
        policy, byName, dvs.get(objKey))
    }.collect().toSeq
  }

  private[lake] def rewriteOne(store: Store, schema: TableSchema,
                               objKey: String, patches: Iterable[Patch],
                               rwPrefix: String,
                               policy: LakeRowLevel.SidecarPolicy,
                               byName: Boolean = false,
                               dvKey: Option[String] = None)
      : (String, Seq[String]) = {
    val n = schema.columns.size
    val byPos = new scala.collection.mutable.HashMap[Long, Patch]
    patches.foreach { p =>
      if (byPos.put(p.pos, p).isDefined)
        throw new IllegalStateException(
          s"graft-lake MERGE: two changes target row ${p.pos} of $objKey — " +
            "the ON condition matched one target row twice (Spark's " +
            "cardinality check should have failed the statement)")
    }
    // the object's committed vector: those positions are DEAD rows —
    // dropped like pre-deleted survivors (the scan never emitted them,
    // so a patch naming one is an invariant break, checked below)
    val dv: Array[Long] =
      dvKey.fold(Array.emptyLongArray)(k =>
        LakeDvs.read(store, k, schema.name, objKey))
    var dvIdx = 0
    val raw = store.open(objKey) // a missing original would fail the CAS
                                 // validation anyway; failing here is earlier
    val rd = new BufferedReader(new InputStreamReader(
      if (objKey.endsWith(".gz")) new GZIPInputStream(raw) else raw,
      StandardCharsets.UTF_8))
    val convs: Array[String => Any] =
      schema.colTypes.map(externalFromWire).toArray
    val hourConv = externalFromWire(ColType.CTime)
    def externalRow(wire: Array[String]): Array[Any] = {
      val out = new Array[Any](n)
      var i = 0
      while (i < n) {
        out(i) = if (i >= wire.length || wire(i).isEmpty) null else convs(i)(wire(i))
        i += 1
      }
      out
    }
    val rollers = scala.collection.mutable.LinkedHashMap
      .empty[Long, LakeWriter.RollingObjectWriter]
    def rollerFor(hourSec: Long) = rollers.getOrElseUpdate(hourSec,
      new LakeWriter.RollingObjectWriter(store, schema,
        Instant.ofEpochSecond(hourSec), policy.gzip, 0L, rwPrefix,
        policy.zoneMaps, policy.bloomColumns))
    try {
      val types = TypedCsv.parseTypesHeader(rd.readLine())
      val names = TypedCsv.splitLine(rd.readLine())
      if (!byName)
        require(names == schema.columnNames && types == schema.colTypes,
          s"schema drift in $objKey: header ($names : $types) does not match " +
            s"declared ${schema.columnNames} : ${schema.colTypes} — MERGE " +
            "refuses drifted tables (ALTER TABLE or compact first)")
      // EVOLVED tables resolve the object's OWN header by name against
      // the declared schema: absent columns null-fill, INTEGER wires
      // widen under FLOAT, anything else refuses loudly (the alignTo
      // rule) — survivors land rewritten onto the declared header.
      val srcOf: Array[Int] =
        if (!byName) Array.tabulate(n)(identity)
        else schema.columns.map { case (cn, ct) =>
          val j = names.indexOf(cn)
          if (j < 0) -1
          else {
            val wt = types(j)
            require(wt == ct ||
              (wt == ColType.CInteger && ct == ColType.CFloat),
              s"irreconcilable drift in $objKey: column $cn is $wt on " +
                s"the wire but declared $ct — only INTEGER->FLOAT widens")
            j
          }
        }.toArray
      def survivorRow(wire: Array[String]): Array[Any] = {
        val out = new Array[Any](n)
        var i = 0
        while (i < n) {
          val j = srcOf(i)
          out(i) = if (j < 0 || j >= wire.length || wire(j).isEmpty) null
                   else convs(i)(wire(j))
          i += 1
        }
        out
      }
      val originalHourSec =
        LakeKeys.parseKey(objKey).get._1.getEpochSecond
      var pos = 0L
      var rec = LakeObjectReader.readRecord(rd)
      while (rec != null) {
        while (dvIdx < dv.length && dv(dvIdx) < pos) dvIdx += 1
        val dead = dvIdx < dv.length && dv(dvIdx) == pos
        byPos.remove(pos) match {
          case Some(_) if dead => throw new IllegalStateException(
            s"graft-lake MERGE: a change targets vector-deleted row $pos " +
              s"of $objKey — the scan cannot have emitted it; the table " +
              "changed under the statement")
          case None if dead => () // already deleted by the vector
          case None =>
            // survivor: stays under the object's own hour
            rollerFor(originalHourSec).write(survivorRow(rec))
          case Some(Patch(_, "d", _)) => () // deleted
          case Some(Patch(_, "u", vals)) =>
            // updated: route by the row's NEW hour (an explicit
            // `SET _event_hour` is a MOVE, same as the group-based path)
            val ts = if (n >= vals.length || vals(n).isEmpty) null
                     else hourConv(vals(n))
            ts match {
              case t: java.sql.Timestamp =>
                rollerFor(Math.floorDiv(t.getTime, 3600000L) * 3600L)
                  .write(externalRow(vals))
              case _ => throw new IllegalArgumentException(
                "graft-lake MERGE: NULL _event_hour in an UPDATE arm — " +
                  "every row must name its hour")
            }
          case Some(Patch(_, op, _)) => throw new IllegalStateException(
            s"graft-lake MERGE: unknown patch op '$op' for $objKey")
        }
        pos += 1L
        rec = LakeObjectReader.readRecord(rd)
      }
      if (byPos.nonEmpty)
        throw new IllegalStateException(
          s"graft-lake MERGE: patches name row positions past the end of " +
            s"$objKey (e.g. ${byPos.keys.take(3).mkString(", ")} >= $pos) — " +
            "the scanned object changed under the statement")
      (objKey, rollers.values.flatMap(_.finish().map(_.key)).toSeq)
    } catch { case e: Throwable =>
      rollers.values.foreach(_.abort())
      throw e
    } finally rd.close()
  }
}

/** The position-delta operation face: `SupportsDelta` with row id
  * `(_object_key, _row_pos)` — both non-null metadata columns of
  * [[LakeTable]], so Spark's `resolveRowIdAttrs` finds them on the
  * relation and its nullability check passes. Updates stay whole rows
  * (`representUpdateAsDeleteAndInsert = false`): the update op is what
  * lets the rewrite keep updated rows in `added` (CDC: a rewrite, not a
  * new logical row).
  *
  * Serves TWO rewrite modes off the same delta plan:
  *  - `mor = false` (every MERGE by default): commit REWRITES the
  *    touched objects locally ([[LakeDelta.rewriteTouched]]);
  *  - `mor = true` (tables in merge-on-read DML mode — [[LakeDvs]]):
  *    commit writes DELETE VECTORS for the dead positions and fresh
  *    objects for updated/inserted rows — no touched object is
  *    rewritten, so a statement changing 0.1% of a table's rows writes
  *    O(changed rows), and reads subtract until `compact` folds. */
final class LakeDeltaOperation(rootUri: String, tableName: String,
                               lakeSchema: TableSchema,
                               // evolved table: scan + rewrite resolve
                               // per object by name against the DECLARED
                               // lakeSchema
                               byName: Boolean = false,
                               cmd: RowLevelOperation.Command =
                                 RowLevelOperation.Command.MERGE,
                               mor: Boolean = false,
                               // WAP branch ([[LakeTable]]'s
                               // branchAudit): the scan resolves the
                               // BRANCH VIEW (live ∪ staged, replaced
                               // originals swapped for their
                               // replacements) and commit updates the
                               // audit intent's branch state instead of
                               // CAS-ing a generation — cross-branch
                               // DML, round 18
                               private[lake] val branch: Option[String] = None)
    extends RowLevelOperation with SupportsDelta {

  /** The operation's CONFIGURED scan (the [[LakeRowLevelOperation
    * .cowScan]] arrangement): its resolved delete-vector map is the
    * BASIS every commit-side vector merge and rewrite reads under — the
    * CAS then validates that basis is still the committed one, so a
    * racing merge-on-read statement between scan and commit aborts this
    * one loudly instead of resurrecting its deletions. */
  @volatile private[lake] var deltaScan: LakeScan = _

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String =
    s"graft-lake $cmd ${if (mor) "merge-on-read" else "position-delta"} " +
      s"table=$tableName"

  override def rowId(): Array[NamedReference] = Array(
    Expressions.column(LakeDataSource.ObjectKeyCol),
    Expressions.column(LakeDataSource.RowPosCol))

  override def representUpdateAsDeleteAndInsert(): Boolean = false

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    // cowMode: refuse aggregate/limit/TopN pushdown on the row scan (it
    // must produce rows, not sidecar answers); the delta path needs no
    // plannedKeys contract — the patches name the touched objects exactly
    new LakeScanBuilder(rootUri, tableName, lakeSchema, byName = byName,
      cowMode = true,
      withAudit = branch,
      onBuild = s => if (deltaScan == null) deltaScan = s)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new LakeDeltaWrite(rootUri, lakeSchema, info, byName,
          LakeDeltaOperation.this, mor)
    }
}

/** The delta write: tasks stage inserts (final-form objects under
  * `ins/`), merge-on-read UPDATE rows (final-form under `upd/`) and
  * patches; commit either rewrites the touched objects (`mor = false`:
  * op `merge`; removed = touched originals, added = their rewrites,
  * inserted = the insert objects — the exact CDC split) or publishes
  * delete vectors for the dead positions (`mor = true`: removed = only
  * FULLY-deleted objects, added = the update-row objects with the
  * vectored sources as provenance, dvUpserts = the merged vectors) —
  * both through the [[LakeVersions]] protocol. */
final class LakeDeltaWrite(rootUri: String, lakeSchema: TableSchema,
                           info: LogicalWriteInfo, byName: Boolean = false,
                           op: LakeDeltaOperation = null,
                           mor: Boolean = false)
    extends DeltaWrite with DeltaBatchWrite {

  private val staging = StagedPublish.stagingPrefix("delta")
  @volatile private var policy: LakeRowLevel.SidecarPolicy = _

  override def toBatch: DeltaBatchWrite = this
  override def description(): String =
    s"graft-lake ${if (mor) "merge-on-read" else "MERGE"} delta " +
      s"table=${lakeSchema.name} staging=$staging"

  override def createBatchWriterFactory(pInfo: PhysicalWriteInfo): DeltaWriterFactory = {
    policy = LakeRowLevel.policyFor(new HadoopStore(rootUri),
      lakeSchema.name, lakeSchema)
    new LakeDeltaWriterFactory(rootUri, lakeSchema, info.schema(),
      info.rowIdSchema().orElseThrow(() => new IllegalStateException(
        "graft-lake delta write without a row-id schema")),
      staging, policy, mor)
  }

  /** The delete-vector BASIS: the scan's resolved map — what the rows
    * this statement read were already filtered under. The CAS validates
    * it is still the committed map for every touched object. */
  /** The equality-delete list the statement's scan was planned under —
    * its `eqBasis`: a racing equality DELETE aborts this rewrite
    * instead of having its rows resurrected by it. */
  private def scanEqdels: Seq[String] =
    if (op != null && op.deltaScan != null) op.deltaScan.plannedEqdels
    else Nil

  private def scanDvs: Map[String, LakeVersions.DvRef] =
    if (op != null && op.deltaScan != null) op.deltaScan.plannedDvs
    else Map.empty

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val store = new HadoopStore(rootUri)
    val table = lakeSchema.name
    try {
      val p = if (policy != null) policy
              else LakeRowLevel.policyFor(store, table, lakeSchema)
      val staged = messages.flatMap { case LakeCommitMessage(keys) => keys }
      val (stagedIns, rest) =
        staged.partition(_.startsWith(s"$staging/ins/"))
      val (stagedUpd, stagedPatch) =
        rest.partition(_.startsWith(s"$staging/upd/"))
      // a statement that matched nothing and inserted nothing is a true
      // no-op: no rewrite job, no generation
      if (stagedIns.isEmpty && stagedUpd.isEmpty && stagedPatch.isEmpty) return
      if (op != null && op.branch.isDefined) {
        require(stagedUpd.isEmpty, // branch DML never runs in mor mode
          "graft-lake delta: update-row objects staged under a branch — " +
            "branch DML always takes the rewrite path")
        commitBranchRewrite(store, table, p, op.branch.get,
          stagedIns.toSeq, stagedPatch.toSeq)
      }
      else if (mor) commitMor(store, table, p, stagedIns.toSeq,
        stagedUpd.toSeq, stagedPatch.toSeq)
      else {
        require(stagedUpd.isEmpty, // writer routes upd/ only under mor
          "graft-lake delta: update-row objects staged outside merge-on-read")
        commitRewrite(store, table, p, stagedIns.toSeq, stagedPatch.toSeq)
      }
    } finally StagedPublish.sweep(store, staging)
  }

  /** CROSS-BRANCH DML (round 18, the full `spark.wap.branch`
    * semantics): the branch scan resolved live ∪ staged, so the patches
    * may touch BOTH lineages — and because every patch names its object,
    * the split is exact where the group-based ReplaceData write (table
    * columns only) could never tell them apart:
    *
    *  - a touched STAGED-BATCH object (or a prior scrub's output) swaps
    *    inside the hidden batch exactly as r17 scrubs did — its
    *    original deletes (hidden garbage);
    *  - a touched prior live-REPLACEMENT swaps inside the hidden repl
    *    set the same way (its source original stays recorded);
    *  - a touched LIVE object is NEVER deleted here — plain readers own
    *    it until publish; it is recorded in the intent's v2 REPLACED
    *    set (with its scan-time delete-vector basis) and its hidden
    *    rewrite joins the repl set, standing in for branch readers;
    *  - MERGE's NOT-MATCHED inserts (r19) take BATCH lineage: hidden
    *    alongside the staged batch, `inserted` at publish_audit's CDC
    *    split (a stream delivers them exactly once, from the publish),
    *    dropped wholesale by abort_audit — a branch insert is a late
    *    member of the staged batch, never a live append.
    *
    * The generation chain is untouched; `publish_audit` turns the whole
    * state into ONE CAS (removed = replaced originals VALIDATED live,
    * added = replacements — CDC-skippable, inserted = the batch), and
    * `abort_audit` drops every hidden key with live data untouched.
    *
    * The swap: a TEMP intent hides the fresh rewrites, they rename into
    * place, replaced hidden originals delete, and the AUDIT intent is
    * REPLACED via write-to-temp + rename-over (one file carries hidden
    * list, lineage split, replaced set). The rename-over is ATOMIC —
    * [[HadoopStore.rename]] takes a POSIX atomic move when the local fs
    * refuses an existing destination (and an object store replaces
    * atomically at PUT) — so a racing intent read sees the OLD or the
    * NEW state, never a torn file that would read as "no hidden keys"
    * and flash the whole batch visible to a stream. A crash mid-swap
    * leaves intent-hidden garbage the janitor's orphaned-intent sweep
    * reclaims (the temp intent commits no generation). */
  private def commitBranchRewrite(store: Store, table: String,
                                  p: LakeRowLevel.SidecarPolicy,
                                  auditId: String,
                                  stagedIns: Seq[String],
                                  stagedPatch: Seq[String]): Unit = {
    val ik = s"audit-$auditId"
    val (oldList, oldBranch) = LakeVersions.readIntentFull(store, table, ik)
      .getOrElse(throw new IllegalArgumentException(
        s"graft-lake: no staged audit '$auditId' on table '$table' — " +
          "it was published or aborted under this branch session"))
    val prev = oldBranch.getOrElse(
      LakeVersions.BranchState(oldList, Nil, Nil, Nil))
    // the branch scan ran under the table's CURRENT equality-delete
    // list; replacements computed under a DIFFERENT list than an
    // earlier branch DML's would resurrect rows at publish — refuse
    // with the remedy (the same loud posture as eqBasis at a CAS)
    val scanEq = scanEqdels.sorted
    if (prev.removed.nonEmpty && prev.eqBasis.sorted != scanEq)
      throw new LakeVersions.LakeConcurrentModificationException(
        s"graft-lake: the equality-delete list of '$table' changed " +
          s"between this branch's DML statements — publish or abort " +
          s"audit '$auditId', then re-branch against the current table")
    val basis = scanDvs
    // per-object local rewrite, vector-applied — the patches NAME each
    // touched object, so lineage is exact by construction
    val rewrites = LakeDelta.rewriteTouched(SparkSession.active, rootUri,
      lakeSchema, stagedPatch, s"$staging/rw/", p, byName,
      dvs = basis.map { case (k, r) => k -> r.key })
    if (rewrites.isEmpty && stagedIns.isEmpty) return
    def dstOf(k: String): String =
      k.stripPrefix(s"$staging/ins/").stripPrefix(s"$staging/rw/")
    val batchSet = prev.batch.toSet
    val replSet = prev.repl.toSet
    val touchedBatch = rewrites.filter(r => batchSet(r._1))
    val touchedRepl = rewrites.filter(r => replSet(r._1))
    val touchedLive = rewrites.filterNot(r => batchSet(r._1) || replSet(r._1))
    // MERGE's NOT-MATCHED inserts: BATCH lineage — hidden alongside the
    // staged batch, delivered as `inserted` by publish_audit's CDC
    // split, dropped wholesale by abort_audit. A branch insert is a
    // late member of the staged batch, never a live append (the
    // generation chain stays untouched until the publish CAS).
    val insDsts = stagedIns.map(dstOf)
    val dsts = rewrites.flatMap(_._2).map(dstOf) ++ insDsts
    val tempId = java.util.UUID.randomUUID().toString
    LakeVersions.writeIntent(store, table, tempId, dsts)
    (rewrites.flatMap(_._2) ++ stagedIns).foreach { k =>
      StagedPublish.move(store, k, dstOf(k), p.zoneMaps, p.bloomColumns.nonEmpty)
    }
    (touchedBatch ++ touchedRepl).map(_._1)
      .foreach(StagedPublish.remove(store, _, "graft-lake branch dml"))
    val newState = LakeVersions.BranchState(
      batch = (prev.batch.filterNot(touchedBatch.map(_._1).toSet) ++
        touchedBatch.flatMap(_._2).map(dstOf) ++ insDsts).distinct,
      repl = (prev.repl.filterNot(touchedRepl.map(_._1).toSet) ++
        touchedRepl.flatMap(_._2).map(dstOf) ++
        touchedLive.flatMap(_._2).map(dstOf)).distinct,
      removed = (prev.removed ++ touchedLive.map(r =>
        r._1 -> basis.get(r._1).map(_.key))).distinct,
      eqBasis = if (prev.removed.nonEmpty) prev.eqBasis
                else if (touchedLive.nonEmpty) scanEq else Nil)
    // a branch that never touched live rows keeps the v1 intent —
    // byte-identical to every earlier round's scrub workflow
    val tmpIntent = s"${LakeVersions.dir(table)}/tmpint-$tempId"
    if (newState.repl.isEmpty && newState.removed.isEmpty)
      LakeVersions.writeIntentTo(store, tmpIntent, table, ik, newState.batch)
    else
      LakeVersions.writeIntentTo(store, tmpIntent, table, ik,
        newState.batch ++ newState.repl, branch = Some(newState))
    store.rename(tmpIntent, LakeVersions.intentKey(table, ik))
    store.delete(LakeVersions.intentKey(table, tempId))
  }

  /** `mor = false`: the r15 rewrite commit — touched objects rewritten
    * locally, vector-applied when they carry one. */
  private def commitRewrite(store: Store, table: String,
                            p: LakeRowLevel.SidecarPolicy,
                            stagedIns: Seq[String],
                            stagedPatch: Seq[String]): Unit = {
    val basis = scanDvs
    val rewrites = LakeDelta.rewriteTouched(SparkSession.active, rootUri,
      lakeSchema, stagedPatch, s"$staging/rw/", p, byName,
      dvs = basis.map { case (k, r) => k -> r.key })
    val removed = rewrites.map(_._1)
    val stagedRw = rewrites.flatMap(_._2)
    def dstOf(k: String): String =
      k.stripPrefix(s"$staging/ins/").stripPrefix(s"$staging/rw/")
    val added = stagedRw.map(dstOf)
    val inserted = stagedIns.map(dstOf)
    val hours = (added ++ inserted).map(LakeKeys.hourPrefixOf) ++
      removed.map(LakeKeys.hourPrefixOf)
    if (hours.nonEmpty)
      Manifests.invalidateIfCovers(store, table, hours.min)
    val intentId = java.util.UUID.randomUUID().toString
    LakeVersions.writeIntent(store, table, intentId, added ++ inserted)
    (stagedRw ++ stagedIns).foreach { k =>
      StagedPublish.move(store, k, dstOf(k), p.zoneMaps, p.bloomColumns.nonEmpty)
    }
    try LakeVersions.commit(store, table, op = "merge",
      removed = removed, added = added, inserted = inserted,
      intentId = Some(intentId),
      dvBasis = removed.map(k => k -> basis.get(k).map(_.key)).toMap,
      eqBasis = Some(scanEqdels))
    catch { case e: Throwable =>
      (added ++ inserted).foreach(StagedPublish.remove(store, _, "graft-lake merge abort"))
      store.delete(LakeVersions.intentKey(table, intentId))
      throw e
    }
    if (removed.nonEmpty && !LakeVersions.isRetained(store, table)) {
      LakeMaintenance.physicalRetire(store, removed)
      LakeVersions.pruneChainIfLarge(store, table, removed.size)
    }
    if (hours.nonEmpty)
      Manifests.invalidateIfCovers(store, table, hours.min)
  }

  /** `mor = true`: no touched object is rewritten — dead positions
    * become merged delete vectors (one distributed job, one small file
    * per touched object), update/insert rows land as fresh objects. An
    * object whose merged vector covers EVERY physical row (sidecar
    * `records`, when present) retires wholesale instead — a vector the
    * size of its object is pure read overhead. */
  private def commitMor(store: Store, table: String,
                        p: LakeRowLevel.SidecarPolicy,
                        stagedIns: Seq[String], stagedUpd: Seq[String],
                        stagedPatch: Seq[String]): Unit = {
    val basis = scanDvs
    val vectors = LakeDelta.buildVectors(SparkSession.active, rootUri, table,
      lakeSchema, stagedPatch, basis, s"$staging/dv/")
    val (full, partial) = vectors.partition(v =>
      v.physicalRecords.exists(_ == v.count))
    val removed = full.map(_.objKey)
    def dstOf(k: String): String =
      k.stripPrefix(s"$staging/ins/").stripPrefix(s"$staging/upd/")
    val added = stagedUpd.map(dstOf)
    val inserted = stagedIns.map(dstOf)
    val hours = (added ++ inserted).map(LakeKeys.hourPrefixOf) ++
      removed.map(LakeKeys.hourPrefixOf)
    if (hours.nonEmpty)
      Manifests.invalidateIfCovers(store, table, hours.min)
    val intentId = java.util.UUID.randomUUID().toString
    // the final delete-vector keys are minted BEFORE the intent so the
    // intent COVERS them (round 17, closing the r16 advice race): an
    // unreferenced vector file is inert to readers (vectors resolve only
    // through the committed mapping), but expire_versions sweeps
    // unreferenced `_dv/` files — without intent cover, a sweep racing
    // this statement's pre-CAS window could delete a vector the CAS then
    // commits a reference to, poisoning every later read of the object.
    // Intent-covered keys are spared by the sweep; a crash here leaves
    // intent-hidden garbage the staging janitor reclaims.
    val dvDst = partial.map(v => v -> LakeDvs.freshKey(table))
    LakeVersions.writeIntent(store, table, intentId,
      added ++ inserted ++ dvDst.map(_._2))
    (stagedUpd ++ stagedIns).foreach { k =>
      StagedPublish.move(store, k, dstOf(k), p.zoneMaps, p.bloomColumns.nonEmpty)
    }
    val published = dvDst.map { case (v, dst) =>
      store.rename(v.stagedDvKey, dst)
      (v.objKey, dst, v.count)
    }
    // full deletes: their freshly-built vectors are never referenced
    // (the object retires outright) — staging sweep removes them
    try LakeVersions.commit(store, table,
      op = op.command().toString.toLowerCase(java.util.Locale.ROOT),
      removed = removed, added = added, inserted = inserted,
      intentId = Some(intentId),
      // provenance of the update-row objects: the vectored sources a
      // stream must have delivered before it may skip them
      sources = if (added.nonEmpty) partial.map(_.objKey) else Nil,
      dvUpserts = published.map { case (obj, dst, n) =>
        obj -> LakeVersions.DvUpsert(basis.get(obj).map(_.key),
          LakeVersions.DvRef(dst, n))
      }.toMap,
      dvBasis = removed.map(k => k -> basis.get(k).map(_.key)).toMap,
      eqBasis = Some(scanEqdels))
    catch { case e: Throwable =>
      (added ++ inserted).foreach(StagedPublish.remove(store, _, "graft-lake mor abort"))
      published.foreach { case (_, dst, _) => store.delete(dst) }
      store.delete(LakeVersions.intentKey(table, intentId))
      throw e
    }
    if (removed.nonEmpty && !LakeVersions.isRetained(store, table)) {
      LakeMaintenance.physicalRetire(store, removed)
      LakeVersions.pruneChainIfLarge(store, table, removed.size)
    }
    if (hours.nonEmpty)
      Manifests.invalidateIfCovers(store, table, hours.min)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    StagedPublish.sweep(new HadoopStore(rootUri), staging)
}

final class LakeDeltaWriterFactory(rootUri: String, lakeSchema: TableSchema,
                                   rowSchema: StructType, idSchema: StructType,
                                   staging: String,
                                   policy: LakeRowLevel.SidecarPolicy,
                                   mor: Boolean = false)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new LakeDeltaDataWriter(rootUri, lakeSchema, rowSchema, idSchema,
      staging, policy, mor)
}

/** One task's delta writer: inserts roll into final-form per-hour
  * objects under `ins/`; updates/deletes append to ONE patch file
  * (op, object key, position, new values) — both streamed, nothing
  * buffered per row. Under merge-on-read (`mor`) an UPDATE splits: the
  * old position patches as a DELETE, the new row rolls final-form under
  * `upd/` (routed by its own hour) — commit then vectors the dead
  * positions instead of rewriting anything. */
final class LakeDeltaDataWriter(rootUri: String, lakeSchema: TableSchema,
                                rowSchema: StructType, idSchema: StructType,
                                staging: String,
                                policy: LakeRowLevel.SidecarPolicy,
                                mor: Boolean = false)
    extends DeltaWriter[InternalRow] {

  private val store = new HadoopStore(rootUri)
  private val n = lakeSchema.columns.size
  // LAZY row-side resolution: a pure-DELETE delta plan ships an EMPTY
  // row schema (only row ids flow) — these fields are touched only by
  // insert/update rows, which always carry the full schema
  private lazy val hourIdx = rowSchema.fieldIndex(LakeDataSource.EventHourCol)
  private val idKeyIdx = idSchema.fieldIndex(LakeDataSource.ObjectKeyCol)
  private val idPosIdx = idSchema.fieldIndex(LakeDataSource.RowPosCol)

  // the shared declared-schema conversion table — see
  // LakeDataSource.externalGetters
  private lazy val getters: Array[InternalRow => Any] =
    LakeDataSource.externalGetters(lakeSchema, rowSchema)

  private def hourTs(row: InternalRow): java.sql.Timestamp = {
    require(!row.isNullAt(hourIdx),
      s"graft-lake MERGE: NULL ${LakeDataSource.EventHourCol} — every row " +
        "must name its hour (UPDATE SET / INSERT must assign a non-null " +
        "timestamp)")
    new java.sql.Timestamp(Math.floorDiv(row.getLong(hourIdx), 1000L))
  }

  private val insRollers = scala.collection.mutable.LinkedHashMap
    .empty[(String, Long), LakeWriter.RollingObjectWriter]
  private lazy val patchRoller = new LakeWriter.RollingObjectWriter(
    store, LakeDelta.patchSchema(lakeSchema), Instant.EPOCH, gzip = true,
    maxRecordsPerObject = 0L, keyPrefix = s"$staging/patch/",
    zoneMaps = false, bloomColumns = Nil)
  private var patchUsed = false

  private def values(row: InternalRow): Array[Any] = {
    val vals = new Array[Any](n)
    var i = 0
    while (i < n) { vals(i) = getters(i)(row); i += 1 }
    vals
  }

  private def writePatch(op: String, id: InternalRow, row: InternalRow): Unit = {
    val out = new Array[Any](n + 4)
    out(0) = op
    out(1) = id.getUTF8String(idKeyIdx).toString
    out(2) = java.lang.Long.valueOf(id.getLong(idPosIdx))
    if (row != null) {
      val vals = values(row)
      var i = 0
      while (i < n) { out(i + 3) = vals(i); i += 1 }
      out(n + 3) = hourTs(row)
    }
    patchUsed = true
    patchRoller.write(out)
  }

  private def rollInto(prefix: String, row: InternalRow): Unit = {
    val ts = hourTs(row)
    val hourSec = Math.floorDiv(ts.getTime, 3600000L) * 3600L
    insRollers.getOrElseUpdate((prefix, hourSec),
      new LakeWriter.RollingObjectWriter(store, lakeSchema,
        Instant.ofEpochSecond(hourSec), policy.gzip, 0L, s"$staging/$prefix/",
        policy.zoneMaps, policy.bloomColumns))
      .write(values(row))
  }

  override def insert(row: InternalRow): Unit = rollInto("ins", row)

  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit =
    if (mor) { writePatch("d", id, null); rollInto("upd", row) }
    else writePatch("u", id, row)

  override def delete(meta: InternalRow, id: InternalRow): Unit =
    writePatch("d", id, null)

  override def commit(): WriterCommitMessage = {
    val insKeys = insRollers.values.flatMap(_.finish().map(_.key)).toSeq
    val patchKeys = if (patchUsed) patchRoller.finish().map(_.key) else Nil
    LakeCommitMessage(insKeys ++ patchKeys)
  }

  override def abort(): Unit = {
    insRollers.values.foreach(_.abort())
    if (patchUsed) patchRoller.abort()
  }
  override def close(): Unit = ()
}
