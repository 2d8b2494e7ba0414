package graft.lake

import java.io.{BufferedReader, BufferedWriter, InputStreamReader, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

/** PER-TABLE GENERATION POINTER — the snapshot spine that makes the
  * lake's multi-object commits ATOMIC and SERIALIZED (the Delta/Iceberg
  * commit-log idea re-derived on the reference's key layout, which has
  * no native snapshot object — `README.md:113-117` promises a queryable
  * store; at multi-pipeline scale that includes not losing data to a
  * second writer).
  *
  * '''Layout''' (all under the lake root):
  * {{{
  * _versions/<table>/gen-0000000000000000001   — one record per commit
  * _versions/<table>/intent-<uuid>             — pre-publish intent
  * _versions/<table>/retain                    — retention marker
  * }}}
  *
  * '''The commit protocol''' every MUTATING statement follows (COW DML,
  * INSERT OVERWRITE, compact, delete_where, retire/expire/truncate —
  * plain APPENDS stay outside it: fresh uuid keys can never conflict,
  * so the ingest hot path pays nothing):
  *
  *  1. stage replacement objects under `_staging/` (unchanged);
  *  2. write an INTENT file naming the final keys about to publish;
  *  3. rename replacements into their final keys — readers still do not
  *     see them (an intent not referenced by a committed record hides
  *     its keys, see [[exclusions]]);
  *  4. CAS-commit the next generation record ([[commit]]): re-read the
  *     head, VALIDATE the statement's scanned originals are still live
  *     (not tombstoned by a racing commit, still present), and publish
  *     `gen-(head+1)` via CREATE-EXCLUSIVE — the one atomic step.
  *     A loser whose removals overlap a winner's aborts LOUDLY
  *     ([[LakeConcurrentModificationException]]); a loser whose
  *     removals are disjoint (two statements on different objects)
  *     retries and commits the generation after;
  *  5. physically retire the replaced originals (SKIPPED when the
  *     `retain` marker is set — time travel needs the bytes) and
  *     delete the intent.
  *
  * '''Crash windows''', all closed by construction: before the CAS the
  * statement never happened (replacements hidden by the intent, swept
  * by the janitor); after the CAS it fully happened (originals
  * tombstoned — readers exclude them even though the retire half has
  * not run; the NEXT commit's tombstone maintenance finishes the
  * interrupted retire). The old publish-then-retire duplication window
  * is gone: visibility flips at one create-exclusive.
  *
  * '''Readers''' pay one listing of `_versions/<table>/` per scan
  * ([[LakeReader.listTableKeys]] consults [[exclusions]]); an
  * unversioned table — no mutating statement ever ran — takes the
  * empty-listing fast path and behaves exactly as before.
  *
  * '''Record format''' (gzip text, strict-parsed, `end` marker proves
  * the record complete — a torn record is an uncommitted crash, skipped
  * by readers and reclaimed by the next writer):
  * {{{
  * graft-gen v1 table=<t> gen=<n> parent=<n-1> op=<op> intent=<id|->
  * removed <count>      — keys this commit logically deleted
  * added <count>        — replacement objects (rewrites of removed rows)
  * inserted <count>     — genuinely NEW rows' objects (MERGE INSERT)
  * tombstones <count>   — cumulative removed keys possibly still present
  * live <count|->       — full live-key snapshot (retain mode only)
  * end
  * }}}
  * `added` vs `inserted` is the CDC boundary the streaming source needs:
  * a replacement whose provenance (the record's `removed`) was already
  * delivered carries no new logical rows — `inserted` objects always do.
  *
  * '''CAS primitive''': [[Store.createExclusive]] — atomic O_EXCL on
  * local filesystems, namenode-atomic `create(overwrite=false)` on
  * HDFS-like stores. On S3 proper, conditional PUT (`If-None-Match`)
  * is the equivalent; without it, point the version directory at a
  * filesystem the deployment CAN create-exclusively on (the Delta
  * LogStore posture). */
object LakeVersions {

  val Prefix = "_versions/"

  def dir(table: String): String = s"$Prefix$table"
  def genKey(table: String, gen: Long): String = f"${dir(table)}/gen-$gen%019d"
  def intentKey(table: String, id: String): String = s"${dir(table)}/intent-$id"
  def retainKey(table: String): String = s"${dir(table)}/retain"

  final class LakeConcurrentModificationException(msg: String)
      extends RuntimeException(msg)

  /** One committed delete vector: its file key and position count (the
    * count rides the record so metadata answers stay exact — live rows
    * of a vectored object = sidecar `records` − `count` with no file
    * read). */
  final case class DvRef(key: String, count: Long)

  /** A commit's change to one object's delete vector: `basis` is the
    * vector key the merge was computed AGAINST (None = the object had
    * none) — validated at CAS time so two racing merge-on-read
    * statements on one object cannot both win ([[commit]]). */
  final case class DvUpsert(basis: Option[String], ref: DvRef)

  final case class GenRecord(table: String, gen: Long, parent: Long,
                             op: String, intent: Option[String],
                             removed: Seq[String], added: Seq[String],
                             inserted: Seq[String], tombstones: Seq[String],
                             live: Option[Seq[String]],
                             at: Long = 0L, // commit wall-clock millis
                             // provenance of `added` objects NOT in
                             // `removed` (merge-on-read UPDATE: the
                             // still-live vectored objects the new-row
                             // objects' rows came from) — the stream's
                             // CDC skip decision reads removed ++ sources
                             sources: Seq[String] = Nil,
                             // the FULL object → delete-vector mapping AT
                             // this generation (cumulative, like
                             // tombstones: each commit carries the whole
                             // current map forward)
                             dvs: Map[String, DvRef] = Map.empty,
                             // the DECLARED-schema version live when this
                             // commit ran (schema-AT-snapshot time
                             // travel): Some(v>0) = LakeSchemas version
                             // v, Some(0) = the table was NOT evolved at
                             // commit (strict single-header snapshot),
                             // None = a pre-r16 record (readers fall
                             // back to current-declared resolution)
                             schemaV: Option[Long] = None,
                             // the LIVE equality deletes AT this
                             // generation (cumulative, like dvs/
                             // tombstones — each commit carries the
                             // whole current list forward; compact's
                             // fold drops them) — [[LakeEqDeletes]]
                             eqdels: Seq[LakeEqDeletes.EqRef] = Nil,
                             // DELTA-encoded retained snapshot (round
                             // 17): Some(keys) = this is a retained
                             // commit whose live set derives from the
                             // parent's (live(parent) − removed + added
                             // + inserted + appended, where `appended`
                             // is the plain appends that landed between
                             // the two commits — they have no record of
                             // their own); None + live=Some = a full
                             // CHECKPOINT; None + live=None = not
                             // retained. [[resolveLiveAt]] walks to the
                             // nearest checkpoint — O(checkpoint
                             // interval) record reads, never O(live
                             // objects) record WRITES per commit.
                             appended: Option[Seq[String]] = None,
                             // CROSS-TABLE transaction id ([[LakeTxn]]):
                             // Some(id) = this record is one table's half
                             // of a multi-table commit, visible iff
                             // `_txns/txn-<id>` reads `committed` — see
                             // [[visible]]. None (every single-table
                             // commit) = visible by its own CAS, no
                             // decision file consulted.
                             txn: Option[String] = None)

  // ------------------------------------------------------------- wire

  private[lake] def writeRecord(store: Store, key: String, r: GenRecord): Unit = {
    val out = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(store.createExclusive(key)), StandardCharsets.UTF_8))
    try {
      out.write(s"graft-gen v1 table=${r.table} gen=${r.gen} " +
        s"parent=${r.parent} op=${r.op} intent=${r.intent.getOrElse("-")} " +
        s"at=${r.at}\n")
      def section(name: String, keys: Seq[String]): Unit = {
        out.write(s"$name ${keys.size}\n")
        keys.foreach { k => out.write(k); out.write("\n") }
      }
      section("removed", r.removed)
      section("added", r.added)
      section("inserted", r.inserted)
      // optional sections (absent from pre-dv records, whose strict
      // parse the name-keyed reader below still serves): written only
      // when non-empty so the common no-MOR table's records stay
      // byte-compatible with what every earlier round produced
      if (r.sources.nonEmpty) section("sources", r.sources)
      if (r.dvs.nonEmpty)
        section("dvs", r.dvs.toSeq.sortBy(_._1).map { case (obj, dv) =>
          s"$obj ${dv.key} ${dv.count}" })
      if (r.eqdels.nonEmpty)
        section("eqdels", r.eqdels.map(e =>
          s"${e.key} ${e.col} ${e.count} ${e.upToHour}"))
      r.schemaV.foreach(v => section("schemav", Seq(v.toString)))
      r.appended.foreach(a => section("appended", a))
      r.txn.foreach(id => section("txn", Seq(id)))
      section("tombstones", r.tombstones)
      r.live match {
        case Some(l) => section("live", l)
        case None => out.write("live -\n")
      }
      out.write("end\n")
    } finally out.close()
  }

  private val HeaderRe =
    """^graft-gen v1 table=(\S+) gen=(\d+) parent=(\d+) op=(\S+) intent=(\S+) at=(\d+)$""".r

  /** Strict parse; None = torn/absent/foreign — an UNCOMMITTED record
    * (the crash-mid-CAS case), never wrong data. Deliberately UNCACHED:
    * a committed record is immutable, but its SLOT is not — a table
    * wiped and recreated (or a reclaimed torn slot) reuses generation
    * numbers with different content, and a JVM-lifetime cache would
    * serve the old table's snapshot. The read is one small object
    * (tombstones self-prune after large retires, [[pruneChainIfLarge]]),
    * the same cost class as the manifest header every listing already
    * pays. */
  def readRecord(store: Store, table: String, gen: Long): Option[GenRecord] = {
    val raw = try store.open(genKey(table, gen))
              catch { case _: Exception => return None }
    try {
      val rd = new BufferedReader(new InputStreamReader(
        new GZIPInputStream(raw), StandardCharsets.UTF_8))
      val m = HeaderRe.findFirstMatchIn(Option(rd.readLine()).getOrElse(""))
        .getOrElse(return None)
      if (m.group(1) != table || m.group(2).toLong != gen) return None
      // name-keyed section loop (until `end`): older records omit the
      // optional `sources`/`dvs` sections, newer ones carry them — both
      // parse; an UNKNOWN section name still rejects the whole record
      // (its semantics are unknown, and half-reading a commit is worse
      // than treating it as torn)
      val Known = Set("removed", "added", "inserted", "sources", "dvs",
        "eqdels", "schemav", "appended", "txn", "tombstones", "live")
      val sections = scala.collection.mutable.Map.empty[String, Option[Seq[String]]]
      var line = Option(rd.readLine()).getOrElse(return None)
      while (line != "end") {
        val h = line.split(' ')
        if (h.length != 2 || !Known(h(0)) || sections.contains(h(0))) return None
        if (h(1) == "-") sections(h(0)) = None
        else {
          val n = h(1).toInt
          val b = Vector.newBuilder[String]
          var i = 0
          while (i < n) {
            b += Option(rd.readLine()).getOrElse(return None)
            i += 1
          }
          sections(h(0)) = Some(b.result())
        }
        line = Option(rd.readLine()).getOrElse(return None)
      }
      val dvs: Map[String, DvRef] =
        sections.get("dvs").flatten.getOrElse(Nil).map { l =>
          val p = l.split(' ')
          if (p.length != 3) return None
          p(0) -> DvRef(p(1), p(2).toLong)
        }.toMap
      val eqdels: Seq[LakeEqDeletes.EqRef] =
        sections.get("eqdels").flatten.getOrElse(Nil).map { l =>
          val p = l.split(' ')
          if (p.length != 4) return None
          LakeEqDeletes.EqRef(p(0), p(1), p(2).toLong, p(3))
        }
      for {
        removed <- sections.get("removed").flatten
        added <- sections.get("added").flatten
        inserted <- sections.get("inserted").flatten
        tombstones <- sections.get("tombstones").flatten
        live <- sections.get("live")
      } yield GenRecord(table, gen, m.group(3).toLong, m.group(4),
        Option(m.group(5)).filter(_ != "-"), removed, added, inserted,
        tombstones, live, at = m.group(6).toLong,
        sources = sections.get("sources").flatten.getOrElse(Nil),
        dvs = dvs,
        schemaV = sections.get("schemav").flatten
          .flatMap(_.headOption).map(_.toLong),
        eqdels = eqdels,
        appended = sections.get("appended").flatten,
        txn = sections.get("txn").flatten.flatMap(_.headOption))
    } catch { case _: Exception => None }
    finally { try raw.close() catch { case _: Exception => () } }
  }

  // ------------------------------------------------------ state reads

  /** One listing of the version directory, decoded. */
  final case class DirState(gens: Seq[Long], intents: Seq[String],
                            retain: Boolean,
                            schemaVersions: Seq[Long] = Nil)

  def listDir(store: Store, table: String): DirState = {
    // committers DELETE intent files concurrently with this listing; a
    // recursive local-FS walk can stat an entry that vanished between
    // enumeration and inspection and throw — retry the snapshot (the
    // races are transient deletes, and any post-retry state is a
    // consistent-enough snapshot: records are immutable, intents only
    // ever disappear)
    var attempt = 0
    while (true) {
      try {
        val entries = store.list(dir(table)).map(_.stripPrefix(dir(table) + "/"))
        return DirState(
          entries.collect { case g if g.startsWith("gen-") =>
            g.stripPrefix("gen-").toLong }.sorted,
          entries.collect { case i if i.startsWith("intent-") =>
            i.stripPrefix("intent-") },
          entries.contains("retain"),
          entries.collect { case s if s.startsWith("schema-") =>
            s.stripPrefix("schema-").toLong }.sorted)
      } catch {
        case e: Exception if attempt < 5 =>
          attempt += 1
          Thread.sleep(20L * attempt)
      }
    }
    sys.error("unreachable")
  }

  /** Whether a record is COMMITTED from a reader's point of view: a
    * plain record is committed by its own CAS; a cross-table
    * transaction's record ([[GenRecord.txn]]) is committed iff its
    * decision file reads `committed` ([[LakeTxn]]) — pending and
    * aborted records read as "not yet there", and head selection falls
    * through to the parent. The common single-table chain never pays a
    * decision read. */
  def visible(store: Store, rec: GenRecord): Boolean =
    rec.txn.forall(id => LakeTxn.committed(store, id))

  /** Highest VISIBLE record — a torn head is skipped (its slot
    * reclaimable by the next writer), and so is a pending/aborted
    * cross-table transaction record (its committed parent is the state
    * readers see until the transaction decides). */
  def head(store: Store, table: String, st: DirState): Option[GenRecord] =
    st.gens.sorted.reverse.view
      .flatMap(g => readRecord(store, table, g)).find(visible(store, _))

  /** [[readRecord]] restricted to COMMITTED records — the read every
    * user-addressed generation (time travel, tags, dv/eqdel state at a
    * version) must use: a pending transaction's record is not yet a
    * version of the table, and an aborted one never will be. Ancestor
    * walks below a visible head keep plain [[readRecord]] — a record
    * can only gain visible descendants after its own decision. */
  def readCommitted(store: Store, table: String, gen: Long): Option[GenRecord] =
    readRecord(store, table, gen).filter(visible(store, _))

  /** Keys a version-aware reader must EXCLUDE from a raw listing:
    * the head's tombstones (logically deleted, possibly still present —
    * the interrupted-retire crash window and retained history), plus
    * every key named by an intent whose commit is NOT on the chain
    * (a publish in flight or crashed before its CAS). Empty — one
    * cheap listing — for any table no mutating statement ever touched. */
  def exclusions(store: Store, table: String): Set[String] =
    tableView(store, table).excl

  /** What a version-aware reader needs, from ONE metadata pass (the
    * same listing+head reads [[exclusions]] always cost): the keys to
    * exclude AND the current delete-vector map — so a scan that must
    * consult both never pays the version directory twice. */
  final case class TableView(excl: Set[String], dvs: Map[String, DvRef],
                             eqdels: Seq[LakeEqDeletes.EqRef] = Nil)

  def tableView(store: Store, table: String): TableView = tableView(store, table, relist = true)

  /** An intent the listing named but that no longer reads was deleted
    * by a commit that landed after the listing, whose record the
    * listing therefore lacks: with `relist`, list once more. A torn
    * intent reads the same the second time and hides nothing, as
    * before. */
  private def tableView(store: Store, table: String, relist: Boolean): TableView = {
    val st = listDir(store, table)
    if (st.gens.isEmpty && st.intents.isEmpty)
      return TableView(Set.empty, Map.empty)
    val h = head(store, table, st)
    val pending: Set[String] =
      if (st.intents.isEmpty) Set.empty
      else {
        // an intent survives its commit only across a crash window; the
        // next commit heals — checking head AND parent covers the
        // window without walking the chain on every scan (and the
        // parent record is read at all only while an intent exists)
        val committed = h.flatMap(_.intent).toSet ++
          h.flatMap(r => readRecord(store, table, r.parent))
            .flatMap(_.intent).toSet
        val reads = st.intents.filterNot(committed).map(readIntent(store, table, _))
        if (relist && reads.contains(None)) return tableView(store, table, relist = false)
        reads.flatten.flatten.toSet
      }
    TableView(h.map(_.tombstones.toSet).getOrElse(Set.empty) ++ pending,
      h.map(_.dvs).getOrElse(Map.empty),
      h.map(_.eqdels).getOrElse(Nil))
  }

  /** One refreshed view of the chain for a long-lived reader: the
    * version-aware exclusion set + head delete-vector map (what a scan
    * needs) plus the CDC provenance map (what the micro-batch source's
    * replacement-skip decision needs) and the head generation. */
  final case class CachedChain(view: TableView,
                               provenance: Map[String, Seq[String]],
                               dvs: Map[String, DvRef],
                               headGen: Long,
                               eqdels: Seq[LakeEqDeletes.EqRef] = Nil)

  /** READER-LIFETIME cache of one table's version chain — the streaming
    * source's answer to per-trigger metadata amplification (round 16's
    * task-time lesson: the version-aware read protocol re-listed
    * `_versions/<t>` and re-read the head record THREE times per
    * trigger; multiplied by trigger count that is pure CPU and store-RPC
    * tax at bit-identical data bytes).
    *
    * Cost per [[refresh]]: ONE listing of the version directory (for a
    * never-mutated table, one existence probe — the dir is absent), plus
    * a record read only for generations never seen by THIS cache and an
    * intent read only for intent ids never seen. In the steady state —
    * triggers firing with no commits landing — a refresh is one listing
    * and zero record reads; the old protocol's per-trigger head/parent/
    * intent re-reads are gone.
    *
    * Why a listing at all (not the probe-one-gen-key shortcut): an
    * UNCOMMITTED publish announces itself with an intent file, not a
    * generation record — probing `gen-(head+1)` alone would let a
    * discovery deliver keys renamed into place before a CAS that may
    * still abort. The listing is the only sound way to see intents, and
    * it is one RPC against a directory that holds a handful of entries
    * (the chain self-prunes, [[pruneChainIfLarge]]).
    *
    * Caching contract (same posture the source's record cache always
    * had): committed records and fully-written intents are immutable, so
    * each is read at most once per cache lifetime; torn reads are NOT
    * cached (their slot may be reclaimed and rewritten). The one stale
    * case — a table wiped and RECREATED under a running stream, reusing
    * generation numbers with different content — is accepted and
    * documented: the stream's own ledger is equally stale there, and a
    * wipe under a live consumer is outside the maintenance contract. */
  final class ChainCache(store: Store, table: String) {
    private val records = scala.collection.mutable.Map.empty[Long, GenRecord]
    private val intentCache = scala.collection.mutable.Map.empty[String, Seq[String]]
    @volatile private var cached: Option[CachedChain] = None

    /** The newest refreshed state, refreshing only if never refreshed —
      * the intra-trigger read (planInputPartitions, progress reporting)
      * after [[refresh]] ran at the trigger's discovery step. */
    def currentOrRefresh(): CachedChain = cached.getOrElse(refresh())

    /** One listing + cached reads → the chain state NOW. Callers that
      * filter a DATA listing through `view.excl` must list the data
      * FIRST and refresh AFTER: an uncommitted publish writes its
      * intent before its renames, so any renamed key old enough to make
      * the data listing is visible to this newer chain snapshot. An
      * intent that vanishes between the listing and its read lists
      * once more, as in [[tableView]]. */
    def refresh(): CachedChain = synchronized(refresh(relist = true))

    private def refresh(relist: Boolean): CachedChain = {
      val st = listDir(store, table)
      st.gens.foreach { g =>
        // only VISIBLE records enter the cache: committed records are
        // immutable, but a pending cross-table transaction's record may
        // yet abort and its SLOT be reclaimed and rewritten — caching it
        // would serve the aborted content forever. A pending record is
        // re-read each refresh until its transaction decides (a short
        // window on a rare, explicit operation).
        if (!records.contains(g))
          readRecord(store, table, g).filter(visible(store, _))
            .foreach(records.update(g, _))
      }
      val h = st.gens.sorted.reverse.view.flatMap(records.get).headOption
      val pending: Set[String] =
        if (st.intents.isEmpty) Set.empty
        else {
          // an intent survives its commit only across a crash window
          // (same rule as [[tableView]]): head and parent cover it
          val committed = h.flatMap(_.intent).toSet ++
            h.flatMap(r => records.get(r.parent)
              .orElse(readRecord(store, table, r.parent))).flatMap(_.intent).toSet
          val reads = st.intents.filterNot(committed).map { id =>
            // AUDIT intents are MUTABLE — a WAP branch DML rewrites the
            // file in place (scrubs swap batch keys; cross-branch DML
            // adds replacements) — so they are re-read every refresh:
            // a cached stale hidden-list would let the stream deliver a
            // branch's hidden replacement keys. Ordinary statement
            // intents stay write-once and cache by immutability.
            if (id.startsWith("audit-")) readIntent(store, table, id)
            else intentCache.get(id).orElse {
              val read = readIntent(store, table, id)
              read.foreach(intentCache.update(id, _)) // torn stays uncached
              read
            }
          }
          if (relist && reads.contains(None)) return refresh(relist = false)
          reads.flatten.flatten.toSet
        }
      // drop intent cache entries whose files are gone (healed commits)
      intentCache.keys.filterNot(st.intents.contains).toSeq
        .foreach(intentCache.remove)
      val c = CachedChain(
        TableView(h.map(_.tombstones.toSet).getOrElse(Set.empty) ++ pending,
          h.map(_.dvs).getOrElse(Map.empty),
          h.map(_.eqdels).getOrElse(Nil)),
        // ascending-generation fold so a key `added` by MORE than one
        // record (rollback resurrecting a previously-rewritten key)
        // deterministically carries the NEWEST record's provenance —
        // mutable-map iteration order must never decide a skip
        records.toSeq.sortBy(_._1).iterator.flatMap { case (_, r) =>
          r.added.map(_ -> (r.removed ++ r.sources)) }.toMap,
        h.map(_.dvs).getOrElse(Map.empty),
        h.map(_.gen).getOrElse(0L),
        h.map(_.eqdels).getOrElse(Nil))
      cached = Some(c)
      c
    }
  }

  /** The committed delete-vector map NOW (head record) — empty for any
    * table no merge-on-read statement ever touched. */
  def currentDvs(store: Store, table: String): Map[String, DvRef] = {
    val st = listDir(store, table)
    if (st.gens.isEmpty) Map.empty
    else head(store, table, st).map(_.dvs).getOrElse(Map.empty)
  }

  /** The live equality deletes NOW (head record) — empty for any table
    * no equality DELETE ever touched. */
  def currentEqdels(store: Store, table: String): Seq[LakeEqDeletes.EqRef] = {
    val st = listDir(store, table)
    if (st.gens.isEmpty) Nil
    else head(store, table, st).map(_.eqdels).getOrElse(Nil)
  }

  /** The delete-vector map AT generation `gen` — the time-travel
    * complement of [[liveAt]] (a retained snapshot's rows are its live
    * keys MINUS that generation's vectors). */
  def dvsAt(store: Store, table: String, gen: Long): Map[String, DvRef] =
    readCommitted(store, table, gen).map(_.dvs).getOrElse(
      throw new IllegalArgumentException(
        s"graft-lake: no generation $gen for table '$table' — it never " +
          "committed, or CALL lake.system.expire_versions reclaimed it " +
          s"(present: ${listDir(store, table).gens.mkString(", ")})"))

  /** The live equality deletes AT generation `gen` — the time-travel
    * complement of [[dvsAt]] for the equality MOR shape. */
  def eqdelsAt(store: Store, table: String, gen: Long): Seq[LakeEqDeletes.EqRef] =
    readCommitted(store, table, gen).map(_.eqdels).getOrElse(
      throw new IllegalArgumentException(
        s"graft-lake: no generation $gen for table '$table' — it never " +
          "committed, or CALL lake.system.expire_versions reclaimed it " +
          s"(present: ${listDir(store, table).gens.mkString(", ")})"))

  // ---------------------------------------------------------- intents

  /** The CROSS-BRANCH state a WAP audit intent may carry (v2 — written
    * only once a branch DML touches LIVE rows; batch-only audits stay
    * v1 byte-identically): the hidden keys split by LINEAGE (`batch` =
    * the audited batch and its scrubs → `inserted` at publish; `repl` =
    * replacements of live objects the branch rewrote → `added`), the
    * REPLACED live originals with their scan-time delete-vector basis
    * (→ `removed`, validated live at the publish CAS — a concurrent
    * mutation of a replaced object aborts the publish loudly), and the
    * equality-delete list the branch scan ran under (→ the publish's
    * `eqBasis`). Living INSIDE the intent file keeps the whole branch
    * state one atomic rename-swap — the same crash posture branch
    * scrubs always had, no second file to tear against. */
  final case class BranchState(batch: Seq[String], repl: Seq[String],
                               removed: Seq[(String, Option[String])],
                               eqBasis: Seq[String]) {
    def removedKeys: Seq[String] = removed.map(_._1)
  }

  /** Write the pre-publish intent: the final keys about to rename into
    * place. Fresh uuid key — no exclusivity needed. With `branch` set
    * (a cross-branch WAP audit), the v2 form carries the lineage split
    * and replaced-set; `keys` must then equal batch ++ repl. */
  def writeIntent(store: Store, table: String, id: String,
                  keys: Seq[String],
                  branch: Option[BranchState] = None): Unit =
    writeIntentTo(store, intentKey(table, id), table, id, keys, branch)

  /** [[writeIntent]] to an arbitrary key — branch DML REPLACES a live
    * audit intent by writing the new state to a temp key and renaming
    * over it (atomic on POSIX; copy-over stores degrade to a torn
    * window that reads as a torn intent — hidden keys briefly exposed,
    * the documented branch-swap race, no worse than the in-place
    * rewrite it replaces). */
  private[lake] def writeIntentTo(store: Store, key: String, table: String,
                                  id: String, keys: Seq[String],
                                  branch: Option[BranchState] = None): Unit = {
    val out = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(store.create(key)),
      StandardCharsets.UTF_8))
    try {
      branch match {
        case None =>
          out.write(s"graft-intent v1 table=$table id=$id count=${keys.size}\n")
          keys.foreach { k => out.write(k); out.write("\n") }
        case Some(b) =>
          require((b.batch ++ b.repl).sorted == keys.sorted,
            "graft-intent v2: hidden keys must equal batch ++ repl")
          out.write(s"graft-intent v2 table=$table id=$id " +
            s"batch=${b.batch.size} repl=${b.repl.size} " +
            s"removed=${b.removed.size} eqb=${b.eqBasis.size}\n")
          b.batch.foreach { k => out.write(k); out.write("\n") }
          b.repl.foreach { k => out.write(k); out.write("\n") }
          b.removed.foreach { case (k, dv) =>
            out.write(s"$k ${dv.getOrElse("-")}"); out.write("\n") }
          b.eqBasis.foreach { k => out.write(k); out.write("\n") }
      }
    } finally out.close()
  }

  private val IntentRe =
    """^graft-intent v1 table=(\S+) id=(\S+) count=(\d+)$""".r
  private val IntentV2Re =
    ("""^graft-intent v2 table=(\S+) id=(\S+) batch=(\d+) repl=(\d+) """ +
      """removed=(\d+) eqb=(\d+)$""").r

  /** None = torn/absent (a torn intent names nothing — its publish
    * renames cannot have started: the intent is written BEFORE them).
    * Returns ALL hidden keys (for a v2 branch intent: batch ++ repl) —
    * the exclusion contract every caller relies on. */
  def readIntent(store: Store, table: String, id: String): Option[Seq[String]] =
    readIntentFull(store, table, id).map(_._1)

  /** [[readIntent]] plus the branch state a v2 intent carries. */
  def readIntentFull(store: Store, table: String,
                     id: String): Option[(Seq[String], Option[BranchState])] = {
    val raw = try store.open(intentKey(table, id))
              catch { case _: Exception => return None }
    try {
      val rd = new BufferedReader(new InputStreamReader(
        new GZIPInputStream(raw), StandardCharsets.UTF_8))
      val header = Option(rd.readLine()).getOrElse(return None)
      def lines(n: Int): Option[Seq[String]] = {
        val b = Vector.newBuilder[String]
        var i = 0
        while (i < n) {
          b += Option(rd.readLine()).getOrElse(return None)
          i += 1
        }
        Some(b.result())
      }
      IntentRe.findFirstMatchIn(header) match {
        case Some(m) => lines(m.group(3).toInt).map(ks => (ks, None))
        case None =>
          val m = IntentV2Re.findFirstMatchIn(header).getOrElse(return None)
          for {
            batch <- lines(m.group(3).toInt)
            repl <- lines(m.group(4).toInt)
            removedRaw <- lines(m.group(5).toInt)
            eqb <- lines(m.group(6).toInt)
            removed <- Some(removedRaw.map { l =>
              val i = l.lastIndexOf(' ')
              if (i < 0) return None
              val dv = l.substring(i + 1)
              (l.substring(0, i), if (dv == "-") None else Some(dv))
            })
          } yield (batch ++ repl,
            Some(BranchState(batch, repl, removed, eqb)))
      }
    } catch { case _: Exception => None }
    finally { try raw.close() catch { case _: Exception => () } }
  }

  // ------------------------------------------------------------ commit

  /** Test seam: runs immediately before each CAS attempt (after
    * validation) — specs and the rehearsal driver use it to interleave
    * two writers deterministically. Never set outside tests. */
  @volatile private[graft] var beforeCasHook: String => Unit = _ => ()

  /** How long a writer waits before reclaiming a TORN head-gen slot
    * (a crashed committer's half-written record): the slot's bytes must
    * be unchanged across the wait — an alive committer's stream either
    * finishes or grows within it. */
  private val TornSlotReclaimMs = 1000L

  /** CAS-commit the next generation (step 4 of the protocol).
    *
    *  - `removed`: the statement's scanned/doomed originals — VALIDATED
    *    (unless `validateLive = false`, for retention-class ops that
    *    may legitimately remove already-dead keys) to be neither
    *    tombstoned by a racing commit nor physically gone;
    *  - `added` / `inserted`: the final keys renamed into place under
    *    `intentId` (rewrites vs genuinely-new rows — the CDC split);
    *  - tombstone maintenance runs here: parent tombstones whose keys
    *    are still present are DELETED (finishing any interrupted
    *    retire) unless the table retains history, then pruned to the
    *    still-present set;
    *  - in retain mode the record carries the full live-key snapshot
    *    (current live view − removed + added + inserted) — what a
    *    time-travel read at this generation scans.
    *
    * Returns the committed record. Throws
    * [[LakeConcurrentModificationException]] when validation fails —
    * the statement must clean up its published keys and abort.
    * Disjoint concurrent commits retry on the next generation. */
  def commit(store: Store, table: String, op: String,
             removed: Seq[String], added: Seq[String] = Nil,
             inserted: Seq[String] = Nil, intentId: Option[String] = None,
             validateLive: Boolean = true, maxRetries: Int = 20,
             sources: Seq[String] = Nil,
             dvUpserts: Map[String, DvUpsert] = Map.empty,
             // object → the delete-vector key its rows were READ under
             // (None = none): a rewrite commit (COW DML, compaction,
             // delete_where) passes its scanned objects here so a
             // racing merge-on-read commit that changed a vector under
             // the rewrite aborts it LOUDLY — republishing rows read
             // under a stale vector would resurrect deleted rows
             dvBasis: Map[String, Option[String]] = Map.empty,
             // objects whose delete vector this commit DROPS while the
             // object stays live (rollback un-applying a merge-on-read
             // delete — the rows resurrect by design). Every key here
             // MUST also appear in `dvBasis` with the vector the drop
             // was planned against, so a racing MOR commit aborts this
             // statement rather than having its deletions silently
             // discarded.
             dvRemovals: Seq[String] = Nil,
             // equality deletes to APPEND to the live list (one commit
             // = one or more new eq-delete files)
             eqdelAdds: Seq[LakeEqDeletes.EqRef] = Nil,
             // compact's fold: the statement rewrote every in-scope
             // object with the filters applied — the live list resets
             dropEqdels: Boolean = false,
             // the eq-delete file keys the statement's scan was planned
             // under: a racing equality delete that changed the list
             // aborts this rewrite LOUDLY (republishing rows read under
             // a stale filter would resurrect equality-deleted rows) —
             // the eq twin of dvBasis
             eqBasis: Option[Seq[String]] = None,
             // CROSS-TABLE transaction id ([[LakeTxn]]): the record
             // publishes PENDING (invisible until the transaction's
             // decision file reads committed), and the intent is NOT
             // deleted here — it must keep covering the renamed keys
             // until the decision; the coordinator cleans up after
             // deciding
             txn: Option[String] = None,
             // PIN the parent: the commit must land exactly on this
             // generation or abort loudly (rollback — whose whole plan
             // was computed against that head and would otherwise merge
             // with a DISJOINT concurrent commit into a state equal to
             // neither the target nor an abort). None = the normal
             // disjoint-writers-retry posture.
             expectParent: Option[Long] = None): GenRecord = {
    val removedD = removed.distinct
    require(dvRemovals.forall(dvBasis.contains),
      "graft-lake: every dvRemovals key needs its planned-against vector " +
        "in dvBasis — an unvalidated vector drop would silently discard " +
        "a racing merge-on-read commit's deletions")
    var attempt = 0
    while (true) {
      attempt += 1
      val st = listDir(store, table)
      val h = head(store, table, st)
      val headGen = h.map(_.gen).getOrElse(0L)
      expectParent.foreach { p =>
        if (headGen != p)
          throw new LakeConcurrentModificationException(
            s"graft-lake $op on '$table': the table moved from generation " +
              s"$p to $headGen under this statement — its plan is stale. " +
              "The statement aborted with no effect; re-run it against " +
              "the current table state.")
      }
      if (validateLive && removedD.nonEmpty) {
        val tombs = h.map(_.tombstones.toSet).getOrElse(Set.empty)
        val clashed = removedD.filter(tombs.contains)
        if (clashed.nonEmpty)
          throw new LakeConcurrentModificationException(
            s"graft-lake $op on '$table': ${clashed.size} scanned " +
              s"object(s) were removed by a concurrent commit (now at " +
              s"gen $headGen) — e.g. ${clashed.take(3).mkString(", ")}. " +
              "The statement aborted with no effect; re-run it against " +
              "the current table state.")
        val gone = stillPresent(store, removedD, expectAll = true)
        if (gone.nonEmpty)
          throw new LakeConcurrentModificationException(
            s"graft-lake $op on '$table': ${gone.size} scanned object(s) " +
              s"no longer exist — e.g. ${gone.take(3).mkString(", ")}. " +
              "A concurrent writer or manual delete raced this " +
              "statement; re-run it against the current table state.")
      }
      val parentDvs = h.map(_.dvs).getOrElse(Map.empty)
      val parentEqdels = h.map(_.eqdels).getOrElse(Nil)
      eqBasis.foreach { basis =>
        if (parentEqdels.map(_.key).sorted != basis.sorted)
          throw new LakeConcurrentModificationException(
            s"graft-lake $op on '$table': the table's equality-delete " +
              s"list changed under this statement (scanned under " +
              s"${basis.size}, now ${parentEqdels.size} at gen $headGen) " +
              "— a concurrent equality DELETE raced this rewrite. The " +
              "statement aborted with no effect; re-run it against the " +
              "current table state.")
      }
      if (dvBasis.nonEmpty) {
        val drift = dvBasis.collect {
          case (obj, expected) if parentDvs.get(obj).map(_.key) != expected => obj
        }
        if (drift.nonEmpty)
          throw new LakeConcurrentModificationException(
            s"graft-lake $op on '$table': the delete vector of " +
              s"${drift.size} scanned object(s) changed under this " +
              s"statement (a concurrent merge-on-read commit) — e.g. " +
              s"${drift.take(3).mkString(", ")}. The statement aborted " +
              "with no effect; re-run it against the current table state.")
      }
      if (dvUpserts.nonEmpty) {
        // a merge-on-read statement's vector targets must still be LIVE
        // (a racing rewrite tombstoned one → this statement's positions
        // name rows of a dead object) and its merge BASIS must still be
        // the committed vector (a racing MOR statement superseded it →
        // re-merging is the caller's job, same loud-abort posture)
        val tombs = h.map(_.tombstones.toSet).getOrElse(Set.empty)
        // a key this same commit restores to the live set (rollback) is
        // a legitimate vector target even while the PARENT tombstones it
        val revived = (added ++ inserted).toSet
        val deadTargets =
          dvUpserts.keys.filter(k => tombs.contains(k) && !revived.contains(k))
        if (deadTargets.nonEmpty)
          throw new LakeConcurrentModificationException(
            s"graft-lake $op on '$table': ${deadTargets.size} delete-" +
              s"vector target object(s) were removed by a concurrent " +
              s"commit — e.g. ${deadTargets.take(3).mkString(", ")}. " +
              "The statement aborted with no effect; re-run it against " +
              "the current table state.")
        val basisDrift = dvUpserts.collect {
          case (obj, up) if parentDvs.get(obj).map(_.key) != up.basis => obj
        }
        if (basisDrift.nonEmpty)
          throw new LakeConcurrentModificationException(
            s"graft-lake $op on '$table': the delete vector of " +
              s"${basisDrift.size} object(s) changed under this statement " +
              s"(a concurrent merge-on-read commit) — e.g. " +
              s"${basisDrift.take(3).mkString(", ")}. The statement " +
              "aborted with no effect; re-run it against the current " +
              "table state.")
      }
      val parentTombs = h.map(_.tombstones).getOrElse(Nil)
      val keptTombs =
        if (parentTombs.isEmpty) Nil
        else if (st.retain) stillPresent(store, parentTombs)
        else {
          // finish any interrupted retire: a tombstoned key still
          // present is logically dead on EVERY future chain — deleting
          // it is safe even if this CAS attempt loses
          val present = stillPresent(store, parentTombs)
          present.foreach(StagedPublish.remove(store, _, "graft.LakeVersions"))
          Nil
        }
      // RETAINED SNAPSHOT, delta-encoded (round 17, the scale fix for
      // "every retained commit writes O(live objects) metadata"): the
      // record's own removed/added/inserted already describe the
      // transition — what they miss is the PLAIN APPENDS that landed
      // since the parent (appends commit no generation). So a retained
      // commit resolves the parent's live set (a record-walk to the
      // nearest checkpoint, never a listing), diffs it against the
      // current listing to capture the appends, and writes ONLY that
      // delta; every `LiveCheckpointEvery`-th generation (and any
      // commit whose parent cannot resolve, or where objects VANISHED
      // outside the protocol) writes the full list as a checkpoint.
      // A million-object table's retained commit now writes keys
      // proportional to the CHANGE, and [[liveAt]] reads O(checkpoint
      // interval) records.
      var appendedDelta: Option[Seq[String]] = None
      val live: Option[Seq[String]] =
        if (!st.retain) None
        else {
          val listing = LakeReader.listTableKeys(store, table, None)
          val full = (listing.filterNot(removedD.toSet) ++ added ++ inserted)
            .distinct.sorted
          val checkpointDue = (headGen + 1) % LiveCheckpointEvery == 0L
          val parentLive = if (checkpointDue) None
            else h.flatMap(ph => resolveLiveOpt(store, table, ph))
          parentLive match {
            case Some(pl) if (pl.toSet -- listing.toSet).isEmpty =>
              appendedDelta = Some((listing.toSet -- pl).toSeq.sorted)
              None // delta record: live derives from the parent chain
            case _ => Some(full) // checkpoint (cadence, unresolvable
              // parent, or an out-of-protocol vanish — trust the listing)
          }
        }
      // the dv map carries forward MINUS removed objects (a rewritten/
      // retired object's vector dies with it — readers read its rows
      // vector-applied through readKeys, so replacements hold only live
      // rows) PLUS this commit's upserts
      val nextDvs = (parentDvs -- removedD -- dvRemovals) ++
        dvUpserts.map { case (obj, up) => obj -> up.ref }
      // schema-AT-snapshot: the record pins the declared-schema version
      // live at this commit (0 = not evolved), so `VERSION AS OF` reads
      // the snapshot under the schema that run actually saw. One small
      // record read, only on tables that ever ran an ALTER.
      val schemaV = st.schemaVersions.sorted.reverse.view
        .find(v => LakeSchemas.readRecord(store, table, v).isDefined)
        .getOrElse(0L)
      // a key this commit adds back to the live set leaves the tombstone
      // set (rollback resurrecting retained history): live and tombstoned
      // are mutually exclusive — exclusions would otherwise keep hiding
      // the restored object from every versioned listing
      val rec = GenRecord(table, headGen + 1, headGen, op, intentId,
        removedD, added, inserted,
        (keptTombs ++ removedD).distinct
          .filterNot((added ++ inserted).toSet), live,
        at = System.currentTimeMillis(),
        sources = sources.distinct, dvs = nextDvs,
        schemaV = Some(schemaV),
        eqdels = (if (dropEqdels) Nil else parentEqdels) ++ eqdelAdds,
        appended = appendedDelta, txn = txn)
      beforeCasHook(table)
      val won =
        try { writeRecord(store, genKey(table, rec.gen), rec); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false
                case e: java.io.IOException
                  if Option(e.getMessage).exists(_.toLowerCase.contains("exist")) =>
                    false }
      if (won) {
        // SUPERSEDED delete-vector files (basis files of this commit's
        // upserts; vectors of objects this commit removed) become
        // UNREFERENCED garbage here, deliberately NOT deleted inline
        // (round 17, closing the r16 advice race): a concurrent scan
        // whose partitions were planned under the parent's dv map is
        // still mid-read, and [[LakeDvs.read]] is intentionally loud on
        // a missing referenced vector — an inline delete turns the
        // normally-tolerated maintenance race into a hard failure.
        // Reclamation is swept with a grace window instead, the same
        // posture as tombstoned data objects:
        // [[LakeMaintenance.sweepStaging]]'s age-gated `_dv` orphan
        // sweep (unretained tables) and [[expireVersions]] (retained).
        // heal: every intent whose commit is on the chain has served its
        // purpose (including ours) — delete so readers stop consulting
        // it. The chain walk runs only while foreign intents exist (the
        // crash-window case); the common commit deletes just its own.
        val foreign = st.intents.filterNot(intentId.contains)
        if (foreign.nonEmpty) {
          // VISIBLE records only: a pending cross-table transaction's
          // intent is still doing its job — deleting it would flash the
          // staged keys visible before the decision
          val onChain = st.gens.flatMap(g =>
            readRecord(store, table, g)).filter(visible(store, _))
            .flatMap(_.intent).toSet
          foreign.filter(onChain).foreach(id =>
            store.delete(intentKey(table, id)))
        }
        // a transaction commit keeps its intent alive until the DECISION
        // (the keys must stay hidden while the record pends) — the
        // coordinator deletes it after deciding
        if (txn.isEmpty)
          intentId.foreach(id => store.delete(intentKey(table, id)))
        return rec
      }
      // lost the slot: if the occupant record is TORN (a crashed
      // committer), wait, confirm it is not being actively written,
      // reclaim; if a PENDING cross-table transaction, give its
      // coordinator a moment then BREAK it (decide aborted, reclaim the
      // slot — the staged batches stay intact for a retry); if an
      // ABORTED one, reclaim immediately; if committed, loop —
      // validation re-runs against the new head and disjoint writers
      // commit the generation after
      readRecord(store, table, rec.gen) match {
        case None =>
          val sizeBefore = sizeOf(store, genKey(table, rec.gen))
          Thread.sleep(TornSlotReclaimMs)
          if (readRecord(store, table, rec.gen).isEmpty &&
              sizeOf(store, genKey(table, rec.gen)) == sizeBefore)
            store.delete(genKey(table, rec.gen))
        case Some(occ) if occ.txn.isDefined && !visible(store, occ) =>
          val tid = occ.txn.get
          // re-verify the slot still holds THIS transaction's record
          // immediately before any delete: the coordinator's own
          // rollback (or another contender) may have reclaimed it and a
          // fresh record committed there
          def reclaim(): Unit =
            if (readRecord(store, table, rec.gen).exists(_.txn.contains(tid)))
              store.delete(genKey(table, rec.gen))
          LakeTxn.decision(store, tid) match {
            case Some(LakeTxn.Aborted) => reclaim()
            case Some(_) => () // committed between reads: loop revalidates
            case None =>
              if (System.currentTimeMillis() - occ.at > LakeTxn.breakAfterMs) {
                if (LakeTxn.decide(store, tid, LakeTxn.Aborted) == LakeTxn.Aborted)
                  reclaim()
              } else
                // wait out the coordinator's CAS-to-decision window
                // (milliseconds when alive); long enough per attempt
                // that the retry budget comfortably crosses
                // breakAfterMs for a genuinely dead one
                Thread.sleep(math.min(500L, math.max(50L, LakeTxn.breakAfterMs / 8)))
          }
        case Some(_) => ()
      }
      if (attempt > maxRetries)
        throw new LakeConcurrentModificationException(
          s"graft-lake $op on '$table': could not commit a generation " +
            s"after $maxRetries attempts — a writer storm or a stuck " +
            "torn record is holding the version chain")
    }
    sys.error("unreachable")
  }

  private def sizeOf(store: Store, key: String): Long =
    try {
      val in = store.open(key)
      try {
        var n = 0L
        val buf = new Array[Byte](8192)
        var r = in.read(buf)
        while (r >= 0) { n += r; r = in.read(buf) }
        n
      } finally in.close()
    } catch { case _: Exception => -1L }

  /** Removal-set size past which a retiring statement follows its
    * physical deletes with one extra, tiny PRUNE commit: the commit's
    * ordinary tombstone maintenance sees the keys gone and writes a
    * head record WITHOUT them — otherwise a million-key retention pass
    * would leave a million-line tombstone record that every scan
    * re-reads until some unrelated commit happens along. Below the
    * threshold the next commit's maintenance is cheap enough to wait
    * for (readers subtract small sets for free). */
  val PruneChainAbove = 512

  def pruneChainIfLarge(store: Store, table: String, removedCount: Int): Unit =
    if (removedCount > PruneChainAbove && !isRetained(store, table))
      try { commit(store, table, op = "prune", removed = Nil,
        validateLive = false); () }
      catch { case _: LakeConcurrentModificationException => () }

  /** Which of `keys` still exist — grouped by hour prefix so a broad
    * set costs one LISTING per touched hour, not one probe per key
    * (`expectAll` inverts the result: the keys that are GONE). */
  private def stillPresent(store: Store, keys: Seq[String],
                           expectAll: Boolean = false): Seq[String] = {
    val byPrefix = keys.groupBy { k =>
      val i = k.lastIndexOf('/'); if (i < 0) "" else k.substring(0, i)
    }
    val out = Seq.newBuilder[String]
    byPrefix.foreach { case (pfx, ks) =>
      val present: String => Boolean =
        if (ks.size > 4) store.list(pfx).toSet else store.exists(_)
      ks.foreach { k =>
        if (present(k) != expectAll) out += k
      }
    }
    out.result()
  }

  // ----------------------------------------------------- time travel

  /** Every how many generations a retained commit writes the FULL live
    * list instead of a delta: bounds [[liveAt]]'s record walk (and the
    * records [[expireVersions]] must keep per retained range) while
    * keeping the common commit's metadata write proportional to its
    * CHANGE, not the table. */
  val LiveCheckpointEvery = 32L

  /** Resolve a generation's live set from its record chain: a
    * checkpoint record answers directly; a DELTA record derives from
    * its parent (live(parent) − removed + added + inserted + appended).
    * None = not resolvable (not retained, or the walk crossed an
    * expired/torn record). Iterative — the walk is bounded by the
    * checkpoint cadence in healthy chains, but must not stack-overflow
    * on a pathological one. */
  private def resolveLiveOpt(store: Store, table: String,
                             rec: GenRecord): Option[Seq[String]] = {
    // collect the delta suffix down to the nearest checkpoint
    var chain = List(rec)
    var cur = rec
    while (cur.live.isEmpty) {
      if (cur.appended.isEmpty || cur.gen <= 0L) return None
      readRecord(store, table, cur.parent) match {
        case Some(p) => cur = p; chain = p :: chain
        case None => return None
      }
    }
    // chain.head is the checkpoint; apply deltas forward. Appends join
    // BEFORE removals: an object that landed after the parent and was
    // removed by the same commit (compact rewriting a fresh append)
    // must not survive.
    var live: Set[String] = chain.head.live.get.toSet
    chain.tail.foreach { r =>
      live = live ++ r.appended.getOrElse(Nil) -- r.removed ++
        r.added ++ r.inserted
    }
    Some(live.toSeq.sorted)
  }

  /** The live key set AT generation `gen` — what `VERSION AS OF gen` /
    * `option("asOfGeneration", gen)` scans. Requires the table to
    * RETAIN history ([[setRetain]]); loud errors name the remedy.
    * Checkpoint records answer in one read; delta records walk
    * O(checkpoint interval) records — never a listing. */
  def liveAt(store: Store, table: String, gen: Long): Seq[String] = {
    val rec = readCommitted(store, table, gen).getOrElse(
      throw new IllegalArgumentException(
        s"graft-lake: no generation $gen for table '$table' — it never " +
          "committed, or CALL lake.system.expire_versions reclaimed it " +
          s"(present: ${listDir(store, table).gens.mkString(", ")})"))
    resolveLiveOpt(store, table, rec).getOrElse(
      throw new IllegalArgumentException(
        s"graft-lake: generation $gen of '$table' carries no snapshot — " +
          "time travel needs history retention: CALL " +
          s"lake.system.set_retention(table => '$table', retain => true) " +
          "BEFORE the commits you want to travel to"))
  }

  /** Whether `rec` is a RETAINED snapshot (checkpoint or delta) —
    * the `has_snapshot` face of the delta encoding. */
  def isSnapshot(rec: GenRecord): Boolean =
    rec.live.isDefined || rec.appended.isDefined

  /** The newest generation committed AT or BEFORE `millis` — the
    * `TIMESTAMP AS OF` resolution (commit wall-clock stamps; the usual
    * caveat that clocks order commits only as well as they are
    * synchronized). None when every commit is newer. */
  def genAtTimestamp(store: Store, table: String, millis: Long): Option[Long] = {
    val st = listDir(store, table)
    st.gens.sorted.reverse.view
      .flatMap(g => readRecord(store, table, g))
      .filter(visible(store, _))
      .find(_.at <= millis).map(_.gen)
  }

  // --------------------------------------------------------------- tags

  def tagKey(table: String, name: String): String = s"${dir(table)}/tag-$name"

  private val TagNameRe = "[A-Za-z0-9._-]{1,64}".r

  /** NAME a generation — `VERSION AS OF 'run-2026-08-alpha'`: the
    * training-run label a reproducibility audit actually keys on, so
    * nobody has to remember that run X trained on generation 7. A
    * tagged generation is PINNED: [[expireVersions]] keeps its record
    * and its snapshot's objects until the tag is dropped. Tags resolve
    * at read time (one small object), are freely re-assignable
    * (re-tagging overwrites — a tag is a name, not a commit), and live
    * beside the chain under `_versions/<table>/tag-<name>`. */
  def setTag(store: Store, table: String, name: String, gen: Long): Unit = {
    require(TagNameRe.pattern.matcher(name).matches(),
      s"graft-lake: tag names are [A-Za-z0-9._-]{1,64}, got '$name'")
    val rec = readCommitted(store, table, gen).getOrElse(
      throw new IllegalArgumentException(
        s"graft-lake: cannot tag generation $gen of '$table' — it never " +
          s"committed or was reclaimed (present: " +
          s"${listDir(store, table).gens.mkString(", ")})"))
    require(isSnapshot(rec),
      s"graft-lake: generation $gen of '$table' carries no snapshot — " +
        "a tag must name a retained generation (set_retention first)")
    val out = store.create(tagKey(table, name))
    try out.write(s"graft-tag v1 gen=$gen\n".getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  def dropTag(store: Store, table: String, name: String): Unit =
    store.delete(tagKey(table, name))

  private val TagRe = """^graft-tag v1 gen=(\d+)$""".r

  def readTag(store: Store, table: String, name: String): Option[Long] = {
    val raw = try store.open(tagKey(table, name))
              catch { case _: Exception => return None }
    try {
      val line = new BufferedReader(new InputStreamReader(raw,
        StandardCharsets.UTF_8)).readLine()
      TagRe.findFirstMatchIn(Option(line).getOrElse("")).map(_.group(1).toLong)
    } catch { case _: Exception => None }
    finally { try raw.close() catch { case _: Exception => () } }
  }

  /** Every tag of `table`: name → generation. */
  def listTags(store: Store, table: String): Map[String, Long] =
    store.list(dir(table)).map(_.stripPrefix(dir(table) + "/"))
      .collect { case t if t.startsWith("tag-") => t.stripPrefix("tag-") }
      .flatMap(n => readTag(store, table, n).map(n -> _)).toMap

  /** Resolve a `VERSION AS OF` string: a number is a generation, any
    * other name is a tag — loud when neither resolves. */
  def resolveVersion(store: Store, table: String, version: String): Long = {
    val v = version.trim
    if (v.nonEmpty && v.forall(_.isDigit)) v.toLong
    else readTag(store, table, v).getOrElse(
      throw new IllegalArgumentException(
        s"graft-lake: '$v' is neither a generation number nor a tag of " +
          s"'$table' (tags: ${listTags(store, table).keys.toSeq.sorted
            .mkString(", ")})"))
  }

  // ---------------------------------------------------------- rollback

  final case class RollbackReport(gen: Long, target: Long,
                                  restored: Int, removed: Int,
                                  dvRestored: Int, dvDropped: Int,
                                  eqdelsReset: Boolean, noop: Boolean)

  /** ROLL the table BACK to a retained generation — the bad-commit
    * remedy (Delta `RESTORE` / Iceberg `rollback_to_snapshot`). Forward-
    * rolling: mints a NEW generation whose effective state (live keys +
    * delete-vector map + equality-delete list) equals the target's, so
    * history is preserved — the rolled-back range stays addressable with
    * `VERSION AS OF`, the changes feed across the rollback commit is the
    * row-exact inverse of the feed across the rolled-back range, and a
    * second rollback can re-apply what the first undid.
    *
    * PURE METADATA at any table size: one generation-record CAS; no data
    * object moves (retained bytes never left, sidecars/blooms/manifests
    * intact — manifests seal from RAW listings, so a resurrected key was
    * listed all along and only the exclusion set decided). Protocol cost
    * is O(changed keys) record bytes + O(chain) reads, never O(objects).
    *
    * Semantics notes:
    *  - DATA rolls back; the DECLARED SCHEMA does not (by-name header
    *    resolution serves resurrected objects under the current schema,
    *    the same machinery every evolution read uses). `VERSION AS OF`
    *    the target still reads schema-at-snapshot.
    *  - Streams: a ledger that delivered a resurrected key never
    *    redelivers it (exactly-once by the seen set); a stream that
    *    started after the key's removal delivers it once, post-rollback
    *    (the record's `added` + self-`sources` provenance keeps the
    *    CDC skip decision honest). Removals emit no retraction — the
    *    append-stream posture every DML verb already has.
    *  - Races: a concurrent commit aborts this statement loudly
    *    (validateLive / dv-basis / eq-basis, like every DML); a
    *    concurrent `expire_versions` dropping the TARGET generation is
    *    an operator conflict that fails loudly here or at read, never
    *    silently (same maintenance-race class as every swept artifact).
    *  - A pending WAP-branch publish is NOT blocked; its own CAS
    *    validation aborts the publish if this rollback invalidated its
    *    basis (the established concurrent-mutation posture). */
  def rollbackTo(store: Store, table: String, version: String,
                 dryRun: Boolean = false): RollbackReport = {
    val tgtGen = resolveVersion(store, table, version)
    val st = listDir(store, table)
    val h = head(store, table, st).getOrElse(
      throw new IllegalArgumentException(
        s"graft-lake: cannot roll back '$table' — no committed " +
          "generation exists"))
    require(tgtGen <= h.gen,
      s"graft-lake: cannot roll '$table' back to generation $tgtGen — " +
        s"the head is ${h.gen}")
    // tgtGen == head is NOT an automatic no-op: plain appends landed
    // since the head commit are part of the CURRENT state but not of
    // its snapshot — "rollback(v) ⇒ table ≡ VERSION AS OF v" holds for
    // every v, head included (the no-change case below returns noop)
    val tgt = readCommitted(store, table, tgtGen).getOrElse(
      throw new IllegalArgumentException(
        s"graft-lake: no generation $tgtGen for table '$table' — it " +
          "never committed, or CALL lake.system.expire_versions " +
          s"reclaimed it (present: ${st.gens.mkString(", ")})"))
    val tgtLive = liveAt(store, table, tgtGen) // loud sans retention
    val curLive = LakeReader.listTableKeys(store, table, None)
    val curSet = curLive.toSet
    val tgtSet = tgtLive.toSet
    val removed = curLive.filterNot(tgtSet).sorted
    val restored = tgtLive.filterNot(curSet).sorted
    // the resurrected BYTES must still exist — expire_versions is the
    // only thing that deletes retained history, and it spares every
    // kept generation's snapshot, so a miss here means the target was
    // expired under this statement's feet. Loud, with the remedy.
    val missing = stillPresent(store, restored, expectAll = true)
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"graft-lake rollback on '$table': ${missing.size} object(s) of " +
          s"generation $tgtGen no longer exist — e.g. " +
          s"${missing.take(3).mkString(", ")}. CALL " +
          "lake.system.expire_versions reclaimed the target (or raced " +
          "this statement); roll back to a retained generation.")
    // delete-vector plan: the new head's dv map must EQUAL the target's
    // (restricted to its live set). Three cases per object —
    // restore a vector (re-added object, or a live object whose vector
    // was superseded since), drop a vector (merge-on-read deletes landed
    // after the target — the rows resurrect), keep (identical).
    val curDvs = h.dvs
    val tgtDvs = tgt.dvs.filter { case (obj, _) => tgtSet.contains(obj) }
    val dvUp = scala.collection.mutable.Map.empty[String, DvUpsert]
    val dvBasis = scala.collection.mutable.Map.empty[String, Option[String]]
    val dvDrop = Seq.newBuilder[String]
    var drops = 0
    tgtDvs.foreach { case (obj, ref) =>
      val have = if (curSet.contains(obj)) curDvs.get(obj) else None
      if (!have.map(_.key).contains(ref.key)) {
        if (!store.exists(ref.key))
          throw new IllegalStateException(
            s"graft-lake rollback on '$table': delete-vector file " +
              s"${ref.key} of generation $tgtGen no longer exists — " +
              "expire_versions reclaimed the target's history; roll " +
              "back to a retained generation.")
        dvUp.update(obj, DvUpsert(have.map(_.key), ref))
      }
    }
    curDvs.foreach { case (obj, ref) =>
      if (curSet.contains(obj) && tgtSet.contains(obj) &&
          !tgtDvs.contains(obj)) {
        dvDrop += obj; drops += 1
        dvBasis.update(obj, Some(ref.key))
      }
    }
    // equality-delete plan: reset the live list to the target's when it
    // differs; eqBasis pins the list this statement planned under so a
    // racing equality DELETE aborts us instead of being discarded.
    val eqDiffers = h.eqdels.map(_.key) != tgt.eqdels.map(_.key)
    if (eqDiffers) tgt.eqdels.foreach { e =>
      if (!store.exists(e.key))
        throw new IllegalStateException(
          s"graft-lake rollback on '$table': equality-delete file " +
            s"${e.key} of generation $tgtGen no longer exists — " +
            "expire_versions reclaimed the target's history; roll back " +
            "to a retained generation.")
    }
    if (removed.isEmpty && restored.isEmpty && dvUp.isEmpty &&
        drops == 0 && !eqDiffers)
      return RollbackReport(h.gen, tgtGen, 0, 0, 0, 0,
        eqdelsReset = false, noop = true)
    if (dryRun)
      // the full plan (diff, presence checks, dv/eq arithmetic) ran;
      // nothing commits — `gen` reports the head that WOULD parent it
      return RollbackReport(h.gen, tgtGen, restored.size, removed.size,
        dvUp.size, drops, eqdelsReset = eqDiffers, noop = true)
    val rec = commit(store, table, op = "rollback",
      removed = removed, added = restored,
      // self-provenance: a resurrected object's rows ARE its own rows —
      // the stream's skip decision must never treat them as rewrites of
      // the `removed` set (different logical rows entirely)
      sources = restored,
      dvUpserts = dvUp.toMap, dvBasis = dvBasis.toMap,
      dvRemovals = dvDrop.result(),
      eqdelAdds = if (eqDiffers) tgt.eqdels else Nil,
      dropEqdels = eqDiffers,
      eqBasis = Some(h.eqdels.map(_.key)),
      // the WHOLE plan (removed/restored/dv/eq) was computed against
      // h — ANY intervening commit, even a disjoint one, invalidates
      // it (merging would yield a state equal to neither the target
      // nor an abort)
      expectParent = Some(h.gen))
    RollbackReport(rec.gen, tgtGen, restored.size, removed.size,
      dvUp.size, drops, eqdelsReset = eqDiffers, noop = false)
  }

  /** Enable/disable history retention: with the marker set, mutating
    * commits keep their replaced originals on disk and record full
    * live snapshots; [[expireVersions]] reclaims. ENABLING commits a
    * BASELINE generation capturing the table's current live set — so
    * the state being protected is itself addressable (`VERSION AS OF
    * <that gen>` is "the table as retention was turned on", and the
    * first DML after it travels back cleanly). */
  def setRetain(store: Store, table: String, retain: Boolean): Unit =
    if (retain) {
      val already = isRetained(store, table)
      val out = store.create(retainKey(table))
      try out.write("graft-retain v1\n".getBytes(StandardCharsets.UTF_8))
      finally out.close()
      if (!already)
        commit(store, table, op = "set_retention", removed = Nil,
          validateLive = false)
    } else store.delete(retainKey(table))

  def isRetained(store: Store, table: String): Boolean =
    store.exists(retainKey(table))

  final case class ExpireVersionsReport(recordsDropped: Int,
                                        objectsReclaimed: Int,
                                        keptGens: Seq[Long])

  /** Reclaim retained history: drop every generation record below
    * `keepLast` generations from the head, and physically delete the
    * tombstoned objects NO retained generation's snapshot (nor the
    * current live view) still names. Runs as a commit of its own, so
    * it serializes against every other mutation. */
  def expireVersions(store: Store, table: String,
                     keepLast: Int): ExpireVersionsReport = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val st = listDir(store, table)
    val h = head(store, table, st).getOrElse(
      return ExpireVersionsReport(0, 0, Nil))
    val cut = h.gen - keepLast + 1
    // TAGGED generations are pinned: a named training corpus survives
    // reclamation until its tag is dropped
    val tagged = listTags(store, table).values.toSet
    val (drop, keep) = st.gens.partition(g => g < cut && !tagged.contains(g))
    // DELTA-encoded snapshots (round 17): a kept delta record resolves
    // through ancestors down to the nearest CHECKPOINT — dropping those
    // ancestors would orphan it. Expire therefore RE-CHECKPOINTS each
    // kept delta whose parent is about to drop (materialize its
    // resolved live list, replace the record with a checkpoint form) —
    // the Delta-Lake checkpoint posture: the O(live) metadata write
    // happens HERE, at a maintenance op, never on the per-commit hot
    // path. Ascending order lets later kept deltas resolve through the
    // freshly-checkpointed ones. The replacement is staged + renamed;
    // a reader racing the swap sees a missing/torn record transiently
    // (the "reclaimed" loud error), never wrong keys — the same
    // maintenance-race class as every swept artifact.
    val keepSet = keep.toSet
    keep.sorted.foreach { g =>
      readRecord(store, table, g).foreach { r =>
        if (r.live.isEmpty && r.appended.isDefined &&
            !keepSet.contains(r.parent)) {
          val resolved = resolveLiveOpt(store, table, r).getOrElse(
            throw new IllegalStateException(
              s"graft-lake: cannot materialize generation $g of '$table' " +
                "before expiring its ancestors — a record in its delta " +
                "chain is torn or already gone"))
          val tmp = s"${dir(table)}/tmp-${java.util.UUID.randomUUID()}"
          writeRecord(store, tmp, r.copy(live = Some(resolved), appended = None))
          // rename-over: atomic replace on POSIX; stores without it
          // degrade to copy-over, whose torn window reads as a torn
          // record (loud "reclaimed" error), never wrong keys
          store.rename(tmp, genKey(table, g))
        }
      }
    }
    val keptRecords = keep.flatMap(g => readRecord(store, table, g))
    val needed: Set[String] =
      keptRecords.filter(isSnapshot)
        .flatMap(r => resolveLiveOpt(store, table, r).getOrElse(Nil)).toSet ++
        LakeReader.listTableKeys(store, table, None)
    val reclaim = h.tombstones.filterNot(needed).filter(store.exists)
    reclaim.foreach(StagedPublish.remove(store, _, "graft.LakeVersions"))
    // delete-vector files no kept generation references (superseded
    // vectors retention kept alive; crash-orphans of an aborted MOR
    // publish) reclaim on the same pass — one `_dv/<table>/` listing.
    // ORDERING (round 17, closing the concurrent-MOR race): list the
    // vector files FIRST, then re-snapshot the version directory. A MOR
    // statement writes its intent (covering its final vector keys)
    // before renaming vectors into `_dv/`, and deletes the intent only
    // after its CAS wins — so any vector file old enough to make the
    // first listing is, by the newer snapshot, either intent-covered
    // (pre-CAS or crash window → spared here, janitor's problem if
    // crashed), referenced by a record now on the chain (→ spared), or
    // an aborted statement's file already deleted (idempotent).
    val neededDvs: Set[String] =
      keptRecords.flatMap(_.dvs.values.map(_.key)).toSet ++
        keptRecords.flatMap(_.eqdels.map(_.key)).toSet
    val dvListed = store.list(LakeDvs.dir(table)) ++
      store.list(LakeEqDeletes.dir(table))
    val st2 = listDir(store, table)
    val commitsSince: Set[String] = {
      val recs = st2.gens.filterNot(st.gens.toSet)
        .flatMap(g => readRecord(store, table, g))
      recs.flatMap(_.dvs.values.map(_.key)).toSet ++
        recs.flatMap(_.eqdels.map(_.key)).toSet
    }
    val intentCovered: Set[String] = st2.intents
      .flatMap(id => readIntent(store, table, id).getOrElse(Nil)).toSet
    val dvReclaim = dvListed.filterNot(neededDvs)
      .filterNot(commitsSince).filterNot(intentCovered)
    dvReclaim.foreach(store.delete)
    // drop BELOW-cut records only after their objects are reclaimed —
    // a crash between the two leaves extra records, never dangling
    // snapshots
    drop.foreach(g => store.delete(genKey(table, g)))
    // record the reclamation (tombstones shrink to the still-needed
    // retained set) — serialized like every mutation
    commit(store, table, op = "expire_versions",
      removed = Nil, validateLive = false)
    ExpireVersionsReport(drop.size, reclaim.size, keep :+ (h.gen + 1))
  }
}
