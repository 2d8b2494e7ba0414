package graft.lake

import graft.types.TableSchema

import java.time.Instant
import java.time.temporal.ChronoUnit

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** The typed-CSV lake as a DSv2 MICRO-BATCH source —
  * `spark.readStream.format("graft-lake").option("table", t).load(root)` —
  * completing the connector's read/write × batch/streaming matrix (the
  * write half is [[LakeStreamingWrite]]; the glob-based alternative is
  * [[LakeReader.readStreamOf]]). Rows come off the connector's own codec
  * ([[LakeObjectReader]]), so `_event_hour` and every wire rule match the
  * batch scan exactly.
  *
  * '''Offsets''' are the discovered-object ledger: an offset is the SET of
  * processed object keys (sorted, so the JSON is canonical) plus an
  * optional sealed-hour `frontier`. A micro-batch is exactly
  * `end.seen -- start.seen` — replay-deterministic from the checkpoint
  * alone, which is what gives end-to-end exactly-once with the engine's
  * idempotent sinks. Discovery is the pruned hour walk
  * ([[LakeReader.listTableKeys]] above the frontier), never a full
  * recursive listing.
  *
  * '''Bounded driver state''' (the 100-TB posture): with
  * `option("maxHourAge", n)` hours older than `newest seen hour - n` SEAL —
  * their keys leave the ledger and their directories leave the discovery
  * walk, so offset size is bounded by the age window's object count
  * instead of the lake's. The price is a LATENESS BOUND, exactly the file
  * source's `maxFileAge` trade: an object landing in a sealed hour is
  * ignored. Unset (the default) the ledger is exact and grows with the
  * table — right for tests and bounded topics, wrong for years of hours.
  * Sealing never forfeits a DISCOVERED object: the frontier stays below
  * the oldest undelivered key, however far a `maxObjectsPerTrigger`
  * backlog stretches.
  *
  * '''Admission control''': `maxObjectsPerTrigger` caps a micro-batch (the
  * sorted-prefix objects, so backfills drain oldest-hour-first);
  * `Trigger.AvailableNow` pins the listing at start and drains exactly it,
  * in capped batches. `option("startFrom", "latest")` begins at the
  * current snapshot (everything already landed is marked seen, not
  * replayed) — the backfill-free deployment.
  *
  * '''Object-level pruning''' (`pushed`): the batch ScanBuilder's pushed
  * filters, delivered here by [[LakeScan.toMicroBatchStream]]. Spark
  * itself never prunes a MicroBatchStream, but the connector can — by the
  * SAME argument that makes the batch prune sound (sidecars bound
  * OBJECTS conservatively; every pushed filter re-applies row-level
  * post-scan, so a skip only ever drops provably-non-matching rows):
  *   - an `_event_hour` range/set NARROWS DISCOVERY itself — skipped
  *     hours are never listed, their keys never enter the ledger, so a
  *     `startFrom=<ISO>` backfill of "tenant X from last Monday" walks
  *     only the predicate's hours;
  *   - bloom/zone-band probes drop objects at [[planInputPartitions]]
  *     time (keys still enter the ledger — discovered once, decided
  *     once — and a torn/missing sidecar conservatively KEEPS).
  * Replay stays exactly-once at the row level: offsets are unchanged, and
  * re-planning a checkpointed batch can only skip objects whose rows the
  * row-level filter would discard anyway.
  *
  * Same maintenance contract as [[LakeReader.readStreamOf]]: compact only
  * behind every consumer's frontier (a compacted object would be
  * re-discovered as new data; a deleted planned one degrades to a skip via
  * [[LakeObjectReader]]'s missing-object tolerance). */
final class LakeMicroBatchStream(rootUri: String, table: String,
                                 lakeSchema: TableSchema, required: StructType,
                                 maxObjectsPerTrigger: Option[Int],
                                 maxHourAge: Option[Int],
                                 startFromLatest: Boolean,
                                 reconcile: Boolean = false,
                                 startFromHour: Option[Instant] = None,
                                 pushed: Array[Filter] = Array.empty,
                                 // snapshot-pinned start (see
                                 // initialOffset): a retained
                                 // generation number or tag
                                 startFromVersion: Option[String] = None)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  require(Seq(startFromLatest, startFromHour.isDefined,
      startFromVersion.isDefined).count(identity) <= 1,
    "startFrom is one mode: earliest, latest, version:<gen-or-tag>, " +
      "or an instant")

  require(maxObjectsPerTrigger.forall(_ > 0),
    s"maxObjectsPerTrigger must be positive, got $maxObjectsPerTrigger")
  require(maxHourAge.forall(_ >= 0),
    s"maxHourAge must be >= 0 hours, got $maxHourAge")

  private val store = new HadoopStore(rootUri)

  /** The compiled object-level prune: constructor `pushed` filters plus
    * the CURRENT delivered set from
    * [[org.apache.spark.sql.graft.StreamLakePrune]] (both defensively
    * re-filtered to the prunable subset, so callers can pass raw filter
    * arrays). Any delivered set is sound at any time — pruning only
    * skips provably-non-matching objects and filters re-apply row-level
    * — so recompiling across triggers and restarts is safe. */
  @volatile private var delivered: Array[Filter] = Array.empty
  @volatile private var predCache: LakePrune.Compiled = compilePred()
  private def compilePred(): LakePrune.Compiled = LakePrune.compile(
    (pushed ++ delivered).filter(LakePrune.prunable(_, lakeSchema)),
    lakeSchema)
  private def pred: LakePrune.Compiled = predCache

  /** Deliver a micro-batch plan's `WHERE` conjuncts (see
    * [[org.apache.spark.sql.graft.StreamLakePrune]]). REPLACEMENT
    * semantics, not accumulation: each trigger's set supersedes the
    * last — a predicate holding per-batch-folded literals (a moving
    * `current_timestamp() - INTERVAL 1 HOUR` window) delivers a fresh
    * literal every trigger, and an accumulate-and-conjoin here would
    * both grow without bound and tighten wrongly. Sound in every
    * direction: the CURRENT trigger's filters are exactly what its own
    * rows must satisfy, pruning is advisory (filters re-apply
    * row-level), and a trigger that delivers nothing just keeps the
    * previous — already sound — set. Idempotent re-delivery is free;
    * only a changed set recompiles. Arriving filters narrow FUTURE
    * discovery and FUTURE `planInputPartitions` decisions —
    * already-delivered batches are checkpointed history. */
  def deliverFilters(fs: Array[Filter]): Unit = synchronized {
    val usable = fs.filter(LakePrune.prunable(_, lakeSchema)).distinct
    if (!usable.sameElements(delivered)) {
      delivered = usable
      predCache = compilePred()
    }
  }

  // advisory meter: objects dropped by sidecar probes at plan time
  // (cumulative over planInputPartitions calls; specs and rehearsals read
  // it, the protocol never does)
  @volatile private var prunedCount: Long = 0L
  def objectsPruned: Long = prunedCount

  // advisory meter: replacement objects skipped because their provenance
  // was already delivered (the CDC-safe-DML decision below)
  @volatile private var cdcSkipCount: Long = 0L
  def objectsCdcSkipped: Long = cdcSkipCount

  /** The stream's one version-chain view ([[LakeVersions.ChainCache]]):
    * exclusions for discovery, CDC provenance (addedKey → the retired
    * originals whose surviving rows it holds plus a merge-on-read
    * UPDATE's still-live `sources`; `inserted` keys deliberately absent
    * — they carry genuinely new rows) and the head delete-vector map —
    * all off ONE refresh per trigger (at the discovery step), where the
    * pre-r17 protocol paid three listings and repeated head-record
    * reads per trigger. */
  private val chain = new LakeVersions.ChainCache(store, table)

  // Trigger.AvailableNow pins discovery at prepare time; None = live
  @volatile private var pinned: Option[Seq[String]] = None

  // last frontier seen by latestOffset — progress reporting reuses it so
  // reportLatestOffset never walks hours the ledger has already sealed
  @volatile private var lastFrontier: Option[String] = None

  /** Keys of `table` in hours STRICTLY above `frontier` (the sealed-hour
    * walk: sealed directories are never listed again), further narrowed
    * by the pushed predicate's `_event_hour` range/set and `_object_key`
    * set — the listing-level half of the streaming prune. Keys outside
    * the predicate's hours are never discovered, so they never enter the
    * ledger: a filtered backfill's offset is bounded by the FILTER's
    * object count, not the window's. */
  private def discover(frontier: Option[String]): Seq[String] =
    discoverWith(frontier, refreshChain = true)

  /** `refreshChain = true` (the per-trigger discovery): list the DATA
    * first, then refresh the chain cache and filter its exclusions —
    * that order guarantees an uncommitted publish's renamed keys (its
    * intent is written before the renames) are hidden by the NEWER
    * chain snapshot. `false` (progress reporting): reuse the trigger's
    * already-refreshed view — a progress line needs no extra version
    * listing. */
  private def discoverWith(frontier: Option[String],
                           refreshChain: Boolean): Seq[String] = {
    val frontierLo = frontier.map(f =>
      LakeStreamOffset.hourInstant(f).plus(1, ChronoUnit.HOURS))
    val lo = (frontierLo.toSeq ++ pred.hourRange.map(_._1).toSeq)
      .reduceOption((a, b) => if (a.isAfter(b)) a else b)
    val hi = pred.hourRange.map(_._2)
      .getOrElse(Instant.parse("9999-12-31T23:00:00Z"))
    // lo is None only when frontier AND hourRange are both absent
    // (compile's hourRange is always both-ended) — the plain full walk
    val listed =
      if (lo.exists(_.isAfter(hi))) Seq.empty
      else {
        val raw = LakeReader.listTableKeysUnversioned(store, table,
          lo.map(l => (l, hi)))
        val view = (if (refreshChain) chain.refresh()
                    else chain.currentOrRefresh()).view
        if (view.excl.isEmpty) raw else raw.filterNot(view.excl)
      }
    val hourKept = pred.hourSet.fold(listed)(hs =>
      listed.filter(k => LakeKeys.parseKey(k).exists(p => hs.contains(p._1))))
    pred.keySet.fold(hourKept)(ks => hourKept.filter(ks.contains))
  }

  override def initialOffset(): Offset =
    if (startFromVersion.isDefined) {
      // SNAPSHOT-PINNED start — `startFrom=version:<gen-or-tag>`: the
      // retained generation's live keys begin as SEEN (marked, never
      // replayed), so the stream delivers exactly the changes SINCE
      // that pinned, reproducible point: post-pin appends/MERGE inserts
      // flow; rewrites of pinned objects skip (their provenance is in
      // the seen set — the ordinary CDC rule); vector deletes of pinned
      // rows never re-deliver anything. `startFrom=latest` is this with
      // the pin at wall-clock now — the version pin is the one a
      // training-run handoff can NAME ("follow everything after run-x").
      val id = startFromVersion.get
      val gen = LakeVersions.resolveVersion(store, table, id)
      val snap = LakeVersions.liveAt(store, table, gen)
      LakeStreamOffset(None, snap.sorted)
    }
    else if (startFromLatest) LakeStreamOffset(None, discover(None).sorted)
    else startFromHour match {
      // the bounded backfill ("reprocess from T"): everything strictly
      // below T's hour starts out SEALED — never listed, never
      // delivered, zero ledger entries — and the stream proceeds from
      // T's hour exactly like a fresh earliest stream would there
      case Some(at) => LakeStreamOffset(
        Some(LakeStreamOffset.hourBefore(LakeKeys.datePrefix(
          at.truncatedTo(ChronoUnit.HOURS)))), Nil)
      case None => LakeStreamOffset(None, Nil)
    }

  override def deserializeOffset(json: String): Offset =
    LakeStreamOffset.fromJson(json)

  override def getDefaultReadLimit: ReadLimit =
    maxObjectsPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  override def prepareForTriggerAvailableNow(): Unit = {
    // the snapshot is frontier-free (an AvailableNow run starts from the
    // checkpointed offset, whose frontier filters below)
    pinned = Some(discover(None))
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) drives this source (SupportsAdmissionControl)")

  override def reportLatestOffset(): Offset = {
    // progress-reporting only: the UNCAPPED target. Spark calls this
    // once per trigger, so the walk must stay bounded like latestOffset's
    // — discover above the last-known frontier, never the whole lifetime
    // of the table (and never report sealed-forfeited keys as backlog).
    val f = lastFrontier
    LakeStreamOffset(f, pinned.getOrElse(discoverWith(f, refreshChain = false))
      .filter(k => f.forall(LakeStreamOffset.hourOf(k) > _)).sorted)
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val st = start.asInstanceOf[LakeStreamOffset]
    val listed = pinned.getOrElse(discover(st.frontier))
      // a pinned (AvailableNow) snapshot still honors the sealed frontier
      .filter(k => st.frontier.forall(f => LakeStreamOffset.hourOf(k) > f))
    val seen0 = st.seen.toSet
    val fresh = listed.filterNot(seen0).sorted
    val take = limit match {
      case mf: ReadMaxFiles => fresh.take(mf.maxFiles())
      case _ => fresh
    }
    val seen1 = st.seen ++ take
    // seal: hours STRICTLY OLDER than (newest seen hour - age) — the
    // documented window, so maxHourAge=0 keeps the newest (possibly
    // still-open wall-clock) hour open. And NEVER seal into an hour
    // with a key in `fresh` — neither the undelivered backlog (a
    // capped batch must drain, not forfeit) nor THIS batch's own keys
    // (planInputPartitions(start, end) is `end.seen -- start.seen`;
    // sealing a just-taken key out of `end.seen` would silently drop
    // its delivery). `fresh` is sorted, so its head bounds both. Net
    // effect: an hour seals only on a call AFTER its keys were
    // delivered — exactly when delivery is already checkpointed.
    val frontier1 = maxHourAge match {
      case Some(age) if seen1.nonEmpty =>
        val newest = LakeStreamOffset.hourInstant(
          seen1.iterator.map(LakeStreamOffset.hourOf).max)
        // frontier = last SEALED hour: (newest - age) itself stays open
        val sealCandidate = LakeKeys.datePrefix(
          newest.minus(age.toLong + 1L, ChronoUnit.HOURS))
        val cap = fresh.headOption.map(k =>
          LakeStreamOffset.hourBefore(LakeStreamOffset.hourOf(k)))
        val next = cap.fold(sealCandidate)(c =>
          if (c < sealCandidate) c else sealCandidate)
        // monotone: a frontier never retreats
        Some(st.frontier.fold(next)(f => if (next > f) next else f))
      case _ => st.frontier
    }
    // sealed hours leave the ledger (their keys can never be re-listed)
    val seen2 = frontier1.fold(seen1)(f =>
      seen1.filter(k => LakeStreamOffset.hourOf(k) > f))
    lastFrontier = frontier1
    LakeStreamOffset(frontier1, seen2.sorted)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val startOff = start.asInstanceOf[LakeStreamOffset]
    val s = startOff.seen.toSet
    val e = end.asInstanceOf[LakeStreamOffset].seen
    val discovered = e.filterNot(s).sorted
    // CDC-SAFE DML: a REPLACEMENT object (a committed generation's
    // `added` key) whose whole provenance — the originals it rewrote —
    // was already delivered carries no undelivered logical row: every
    // row it holds is a surviving/updated copy of rows this stream
    // already emitted. Skip its delivery (it stays in the ledger as
    // seen). Provenance counts as delivered when the original is in the
    // START offset's seen set or its hour lies at/below the sealed
    // frontier. MERGE INSERT rows ride `inserted` objects — never in
    // this map, always delivered; a commit whose originals were only
    // PARTLY delivered keeps its replacements flowing (at-least-once
    // for that commit beats losing the undelivered half). Deterministic
    // on replay: records are immutable and the decision keys on the
    // checkpointed start offset.
    // the trigger's already-refreshed chain view (refreshed at the
    // discovery step; first call refreshes — the restart-replay path
    // reaches here without a latestOffset). A commit landing in the
    // sub-second window between discovery and planning applies from the
    // NEXT refresh — the same value-at-delivery race class as a vector
    // landing after delivery, documented below.
    val chainNow = chain.currentOrRefresh()
    val (prov, dvs) = (chainNow.provenance, chainNow.dvs)
    val fresh =
      if (prov.isEmpty) discovered
      else {
        def deliveredAlready(k: String): Boolean =
          s.contains(k) ||
            startOff.frontier.exists(f => LakeStreamOffset.hourOf(k) <= f)
        val (skip, keep) = discovered.partition(k =>
          prov.get(k).exists(rm => rm.nonEmpty && rm.forall(deliveredAlready)))
        cdcSkipCount += skip.size.toLong
        keep
      }
    // the object-level half of the streaming prune, in two steps:
    // key-only membership (hour range/set, key set — free parses; needed
    // here because ledger keys admitted BEFORE filter delivery, e.g. an
    // AvailableNow pinned listing, never went through the narrowed
    // discovery), then bloom/zone-band sidecar probes, exactly the batch
    // scan's decision ([[LakePrune.Compiled.keeps]] — torn/missing
    // sidecar KEEPS). Keys stay in the ledger either way; only delivery
    // is skipped, and only for objects provably holding no matching row.
    // A [[KeyWalk]], like every pruned batch read.
    val p = pred
    val inKey = fresh.filter(p.keepsKeyItself)
    val kept =
      if (p.trivial) inKey
      else KeyWalk.filter(store, inKey)(p.keeps)
    prunedCount += (fresh.size - kept.size).toLong
    // merge-on-read: an undelivered object that acquired a delete vector
    // BEFORE delivery delivers only its live rows (value-at-delivery
    // semantics, the same contract as whole-object retirement racing a
    // stream); replaying a checkpointed batch after a newer vector lands
    // re-reads under the newer vector — the same class of maintenance
    // race as the reader's missing-object tolerance, documented there.
    // EQUALITY deletes apply the same way: an undelivered in-scope
    // object delivers with the filters applied (inline on the
    // partition — the factory outlives the eq list); already-delivered
    // rows are append-only history, the ordinary CDC posture.
    val eqCompiled = compiledEqs(chainNow.eqdels)
    kept.map { k =>
      LakeInputPartition(k, LakeKeys.parseKey(k).get._1.toEpochMilli,
        dvs.get(k).map(_.key),
        eqInline = eqCompiled.filter(_.inScope(k)).map(_.filter))
    }.toArray
  }

  /** Equality-delete files are immutable — compile each once per stream
    * lifetime, keyed by file key (the same caching contract as the
    * chain cache's records). */
  private val eqCache =
    scala.collection.mutable.Map.empty[String, LakeEqDeletes.Compiled]
  private def compiledEqs(refs: Seq[LakeEqDeletes.EqRef])
      : Seq[LakeEqDeletes.Compiled] = synchronized {
    refs.map(r => eqCache.getOrElseUpdate(r.key,
      LakeEqDeletes.read(store, r, table)))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // adoptEvolved: a stream started BEFORE the table's first ALTER is
    // strict single-header by construction (the table was not evolved
    // at resolution time) — when a declared-header object then lands,
    // the reader re-checks for a schema record and resolves it BY NAME
    // against the stream's own start-time schema instead of failing:
    // the stream keeps running across ALTERs with its output shape
    // fixed (Spark pins a stream's schema at start) — post-ALTER
    // columns become visible on the next restart, dropped columns read
    // null, and genuinely drifted tables (no declared schema) still
    // fail loudly
    new LakeReaderFactory(rootUri, lakeSchema, required, reconcile,
      adoptEvolved = !reconcile)

  override def commit(end: Offset): Unit = () // the checkpoint is the state
  override def stop(): Unit = ()
}

/** The ledger offset: sorted processed keys + optional sealed-hour
  * frontier (`YYYY/MM/DD/HH`, lexicographic = chronological). JSON is
  * canonical — sorted keys, fixed field order — so Spark's offset
  * equality (`json()` comparison) means set equality. */
final case class LakeStreamOffset(frontier: Option[String], seen: Seq[String])
    extends Offset {
  override def json(): String = {
    val f = frontier.fold("null")(graft.Json.str)
    s"""{"frontier":$f,"seen":${seen.map(graft.Json.str).mkString("[", ",", "]")}}"""
  }
}

object LakeStreamOffset {
  /** The key's `YYYY/MM/DD/HH` prefix (zero-padded: string order = time). */
  def hourOf(key: String): String = LakeKeys.hourPrefixOf(key)

  def hourInstant(hour: String): Instant = {
    val Array(y, m, d, h) = hour.split('/')
    Instant.parse(f"${y.toInt}%04d-${m.toInt}%02d-${d.toInt}%02dT${h.toInt}%02d:00:00Z")
  }

  def hourBefore(hour: String): String =
    LakeKeys.datePrefix(hourInstant(hour).minus(1, ChronoUnit.HOURS))

  /** Parse [[LakeStreamOffset.json]]. Strict to THIS shape: lake keys
    * contain no quotes or escapes (uuid/date/table segments,
    * [[LakeKeys.isValidTableName]]), so quoted-string extraction is
    * exact; anything unexpected fails loudly rather than resuming a
    * stream from a half-read checkpoint. */
  def fromJson(json: String): LakeStreamOffset = {
    val t = json.trim
    require(t.startsWith("{\"frontier\":") && t.endsWith("]}"),
      s"not a graft-lake stream offset: $t")
    val rest = t.stripPrefix("{\"frontier\":")
    val (frontier, afterF) =
      if (rest.startsWith("null")) (None, rest.stripPrefix("null"))
      else {
        require(rest.startsWith("\""), s"bad frontier in offset: $t")
        val end = rest.indexOf('"', 1)
        require(end > 0, s"unterminated frontier in offset: $t")
        (Some(rest.substring(1, end)), rest.substring(end + 1))
      }
    require(afterF.startsWith(",\"seen\":[") && afterF.endsWith("]}"),
      s"bad seen array in offset: $t")
    val body = afterF.stripPrefix(",\"seen\":[").stripSuffix("]}")
    val seen =
      if (body.isEmpty) Nil
      else body.split(',').toSeq.map { q =>
        require(q.length >= 2 && q.startsWith("\"") && q.endsWith("\"") &&
            !q.substring(1, q.length - 1).contains("\""),
          s"bad key in offset: $q")
        q.substring(1, q.length - 1)
      }
    seen.foreach(k => require(LakeKeys.parseKey(k).isDefined,
      s"offset key is not a lake object key: $k"))
    LakeStreamOffset(frontier, seen)
  }
}
