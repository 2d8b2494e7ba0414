package graft.lake

import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Lake maintenance: small-file compaction.
  *
  * The `YYYY/MM/DD/HH/table/uuid` layout (reference `Collector.ts:341-350`)
  * accumulates one object per flush — at high flush rates that is the
  * classic small-file problem: scans pay per-object open/seek cost and the
  * driver pays per-object listing cost. `compact` rewrites a table's
  * objects (optionally restricted to an hour range) into objects of
  * `targetRecords` rows: a distributed read through [[LakeReader]], a
  * distributed write through [[LakeWriter]] (which rolls objects at the
  * target size), then deletion of the replaced objects.
  *
  * Semantics preserved per hour: objects are compacted WITHIN their hour
  * prefix (one rewrite per hour group), so `_event_hour` and
  * hour-range-pruned reads see exactly the rows they did before —
  * collapsing a multi-hour range into one hour would silently move rows
  * out of pruned windows.
  *
  * Commit protocol: each hour group's new objects are written under a
  * job-scoped `_staging/` prefix and PUBLISHED (renamed into place) only
  * after that group's Spark job has succeeded, using exactly the keys the
  * successful task attempts reported — so a failed, retried, or
  * speculative task attempt can never leak a partial object into the
  * table (its keys are deleted in the task's error path AND never
  * published). The staging prefix is removed when compact() returns,
  * success or failure. Crash behavior: new objects publish before the
  * old keys are deleted, so a crash mid-publish leaves duplicates
  * (at-least-once), never loss — the same durability bias as the
  * reference's flush (store first, dispose after, `Collector.ts:310-339`).
  *
  * Concurrency: the read consumes EXACTLY the listed key snapshot, so
  * objects flushed while compaction runs are neither rewritten nor
  * deleted — they simply survive untouched. Concurrent READERS are a
  * different contract: a scan planned while compact() publishes and
  * deletes can observe old+new objects (transient duplicates) or hit a
  * deleted file mid-scan. [[LakeReader.readFrom]] sets
  * `ignoreMissingFiles` so racing scans degrade to skipping the deleted
  * (rewritten) object rather than failing; deployments that need
  * exactly-once reads during maintenance should either schedule
  * compaction in a reader-quiet window or keep a retention grace period
  * before deleting old keys.
  */
object LakeMaintenance {

  final case class CompactionReport(
      oldObjects: Int, newObjects: Int, records: Long, newKeys: Seq[String])

  /** With `zoneMaps = true`, compacted objects are written with
    * [[ZoneMaps]] sidecars and the sidecars publish/clean with their data
    * objects, so data skipping survives compaction; `bloomColumns` does
    * the same for [[BloomMaps]] equality-probe sidecars. Old objects'
    * sidecars are removed with the old objects either way (a stale
    * sidecar is an orphan, never a correctness hazard — pruning only
    * consults sidecars of LISTED data keys). */
  def compact(spark: SparkSession, store: Store, table: String,
              hourRange: Option[(Instant, Instant)] = None,
              targetRecords: Long = 200000L,
              gzip: Boolean = true,
              zoneMaps: Boolean = false,
              bloomColumns: Seq[String] = Nil,
              dryRun: Boolean = false,
              // RE-CLUSTER while compacting (round 19 — the OPTIMIZE
              // ZORDER face): same spec grammar as the write path's
              // `clusterBy` option — a column list (lexicographic range
              // layout) or `zorder(a,b)` (Morton layout). Each hour's
              // rows land range-partitioned and sorted on the requested
              // layout, so existing unclustered data gains the write
              // path's data-skipping retroactively (pair with
              // zoneMaps = true or the layout buys nothing).
              clusterBy: Option[String] = None): CompactionReport = {
    // Same pruned listing plan as the reader: never a full-lake walk.
    val oldKeys = LakeReader.listTableKeys(store, table, hourRange)
    if (oldKeys.isEmpty) return CompactionReport(0, 0, 0L, Seq.empty)
    compactCore(spark, store, table, oldKeys, targetRecords, gzip,
      zoneMaps, bloomColumns, dryRun, dropAllEqdels = hourRange.isEmpty,
      clusterBy = clusterBy)
  }

  final case class AutoCompactReport(hoursTotal: Int, hoursSelected: Int,
                                     compaction: CompactionReport)

  /** SIZE-TIERED auto-compaction — the scheduled-maintenance half of
    * `compact`: instead of rewriting every listed object, select only
    * the hours WORTH compacting (≥ `minObjects` objects — the
    * small-file debt DML and frequent flushes accumulate — or any
    * object carrying a merge-on-read delete vector, whose fold
    * reclaims the vector file and its per-read subtraction), dirtiest
    * first, capped at `maxHours` per run so one maintenance invocation
    * is BOUNDED work however far behind the table is. Clean hours are
    * never read, never rewritten. At 100-TB scale this is the
    * difference between maintenance proportional to the DEBT and
    * maintenance proportional to the table. */
  def autoCompact(spark: SparkSession, store: Store, table: String,
                  targetRecords: Long = 200000L,
                  minObjects: Int = 4,
                  maxHours: Int = 64,
                  gzip: Boolean = true,
                  zoneMaps: Boolean = false,
                  bloomColumns: Seq[String] = Nil,
                  dryRun: Boolean = false,
                  // re-cluster the selected hours while compacting —
                  // the scheduled OPTIMIZE ZORDER (see [[compact]])
                  clusterBy: Option[String] = None): AutoCompactReport = {
    require(minObjects >= 2, s"minObjects must be >= 2, got $minObjects")
    require(maxHours >= 1, s"maxHours must be >= 1, got $maxHours")
    val all = LakeReader.listTableKeys(store, table, None)
    if (all.isEmpty) return AutoCompactReport(0, 0,
      CompactionReport(0, 0, 0L, Seq.empty))
    val dvs = LakeVersions.currentDvs(store, table)
    val byHour = all.groupBy(LakeKeys.hourPrefixOf)
    // RECORD-WEIGHTED debt (round 19): how many objects the hour holds
    // BEYOND what a target-sized packing of its rows needs — 64 tiny
    // objects of 1k rows carry debt 63 (one object suffices) while 64
    // objects already at target carry debt 0 (a rewrite achieves
    // nothing and must not rank equal, nor run at all). Row counts come
    // from the zone-map sidecars (one metadata read per object, only
    // for hours past the object-count gate); an hour with ANY sidecar
    // missing falls back to object-count debt — conservative, and
    // byte-identical to the pre-r19 behavior on unsidecarred lakes.
    def debtOf(ks: Seq[String]): Long = {
      val recs = ks.map(k => ZoneMaps.read(store, k).map(_.records))
      if (recs.exists(_.isEmpty)) ks.size.toLong
      else {
        val total = recs.flatten.sum
        val ideal = math.max(1L, (total + targetRecords - 1) / targetRecords)
        math.max(0L, ks.size.toLong - ideal)
      }
    }
    val picked = byHour.toSeq
      .filter { case (_, ks) => ks.size >= minObjects || ks.exists(dvs.contains) }
      .map { case (h, ks) => (h, ks, debtOf(ks)) }
      // a vectored hour always compacts (the fold reclaims the vector
      // and its per-read subtraction); a debt-free unvectored hour is
      // already ideally packed — skip it entirely
      .filter { case (_, ks, debt) => debt > 0 || ks.exists(dvs.contains) }
      .sortBy { case (h, _, debt) => (-debt, h) }
      .take(maxHours)
      .map { case (h, ks, _) => (h, ks) }
    val keys = picked.flatMap(_._2)
    val rep =
      if (keys.isEmpty) CompactionReport(0, 0, 0L, Seq.empty)
      else compactCore(spark, store, table, keys, targetRecords, gzip,
        zoneMaps, bloomColumns, dryRun,
        // the equality-delete list may drop only when EVERYTHING is
        // rewritten under it (the full-compact fold rule)
        dropAllEqdels = keys.size == all.size,
        clusterBy = clusterBy)
    AutoCompactReport(byHour.size, picked.size, rep)
  }

  private def compactCore(spark: SparkSession, store: Store, table: String,
                          oldKeys: Seq[String], targetRecords: Long,
                          gzip: Boolean, zoneMaps: Boolean,
                          bloomColumns: Seq[String], dryRun: Boolean,
                          dropAllEqdels: Boolean,
                          clusterBy: Option[String] = None): CompactionReport = {
    // EVOLVED table: compact is the wholesale migration tool — reads
    // resolve each object by name against the declared schema, the
    // rewrite emits it, and the table leaves single-header
    val declared = LakeSchemas.current(store, table).map(_.schema)
    // merge-on-read: the snapshot reads VECTOR-APPLIED (live rows only),
    // so compaction FOLDS delete vectors into clean objects — the
    // rewritten objects' vector entries drop with the commit's removed
    // set, and the basis is CAS-validated (a racing MOR statement on a
    // compacting object aborts this compaction loudly, never silently
    // resurrects its deletions). Resolved ONCE for every hour group.
    val dvMap = Some(LakeVersions.currentDvs(store, table))
    // equality deletes fold the same way: the snapshot reads with the
    // live filters applied, and a FULL compact (no hour range — every
    // object rewritten) drops the list at its commit; a partial compact
    // keeps it (replacements re-filter idempotently — an equality match
    // already removed stays removed). Resolved once, CAS-validated via
    // eqBasis like the vector basis.
    val eqList = LakeVersions.currentEqdels(store, table)
    val eqMap = Some(LakeEqDeletes.compile(store, table, eqList))
    if (dryRun) {
      // report-only: the SAME listing snapshot and the SAME per-hour
      // sizing rule as the real run, nothing mutated — no manifest
      // invalidation, no staging, no deletes. Rows come from one
      // distributed count per hour group (exact, the real run's own
      // sizing read); the projected object count is the roll arithmetic.
      val est = oldKeys.groupBy(k => LakeKeys.parseKey(k).get._1).toSeq
        .map { case (_, hourKeys) =>
          val n = declared.fold(
            LakeReader.readKeys(spark, store, table, hourKeys, dvMap, eqMap))(d =>
            LakeReader.readKeysAligned(spark, store, table, hourKeys, d,
              dvMap, eqMap))
            .count()
          (n, math.max(1L, (n + targetRecords - 1) / targetRecords))
        }
      return CompactionReport(oldKeys.size, est.map(_._2).sum.toInt,
        est.map(_._1).sum, Seq.empty)
    }
    // rewriting covered hours invalidates the sealed-hours manifest
    // BEFORE the first mutation (a crash mid-compact must leave readers
    // on the raw walk, never on a manifest listing retired keys)
    Manifests.invalidateIfCovers(store, table,
      oldKeys.map(LakeKeys.hourPrefixOf).min)
    val staging = StagedPublish.stagingPrefix()
    val schema = declared.getOrElse(
      LakeReader.peekSchema(store, oldKeys.head, table))
    // the re-cluster layout, validated EARLY against the rewrite schema
    // (same grammar and same refusals as the write path's clusterBy)
    val (clusterCols, zorderBy) = LakeDataSource.parseClusterBy(clusterBy)
    val colTypes = schema.columns.toMap
    (clusterCols ++ zorderBy.toSeq.flatMap(z => Seq(z._1, z._2))).foreach(c =>
      require(colTypes.contains(c),
        s"compact clusterBy column '$c' is not a column of '$table' " +
          s"(${schema.columnNames.mkString(", ")})"))
    zorderBy.toSeq.flatMap(z => Seq(z._1, z._2)).foreach(c =>
      require(colTypes(c) == graft.types.ColType.CInteger ||
          colTypes(c) == graft.types.ColType.CTime,
        s"zorder column $c must be INTEGER or TIME (got ${colTypes(c)}); " +
          "fractional casts would degenerate the layout"))
    def shaped(df: org.apache.spark.sql.DataFrame, parts: Int)
        : org.apache.spark.sql.DataFrame = (clusterCols, zorderBy) match {
      case (Nil, None) => df.repartition(parts)
      case (_, Some((a, b))) =>
        graft.operators.Layout.zorder(df,
          org.apache.spark.sql.functions.col(a),
          org.apache.spark.sql.functions.col(b), parts)
      case (cs, None) =>
        val cols = cs.map(org.apache.spark.sql.functions.col)
        df.repartitionByRange(parts, cols: _*).sortWithinPartitions(cols: _*)
    }
    val byHour = oldKeys.groupBy(k => LakeKeys.parseKey(k).get._1).toSeq.sortBy(_._1)
    // Hour groups compact as CONCURRENT Spark jobs (bounded pool): a
    // long-lived table has hundreds of hour groups, and serializing their
    // small count+write job pairs would leave the cluster idle between
    // them.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(8, byHour.size))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // One job group for every hour-group job: interrupting a pool thread
    // only detaches the WAITER — the Spark job keeps running and would
    // write staging objects after the failure path deletes the prefix.
    // Cancelling the group kills the jobs themselves.
    val jobGroup = s"graft-compact-$staging"
    try {
      val futures = byHour.map { case (hour, hourKeys) =>
        Future {
          spark.sparkContext.setJobGroup(jobGroup,
            s"compact $table ${LakeKeys.datePrefix(hour)}", interruptOnCancel = true)
          // Read the SNAPSHOT, not a re-listing: a concurrent flush
          // between the listing and the read would otherwise be rewritten
          // but not deleted — permanent duplication, not the benign
          // crash-duplication above. localCheckpoint materializes the
          // (gunzipped) snapshot once; the sizing count and the write both
          // run off the checkpoint instead of re-scanning the objects.
          val df = declared.fold(
            LakeReader.readKeys(spark, store, table, hourKeys, dvMap, eqMap))(d =>
            LakeReader.readKeysAligned(spark, store, table, hourKeys, d,
              dvMap, eqMap))
            .drop("_event_hour").localCheckpoint()
          try {
            val n = df.count()
            val parts = math.max(1L, (n + targetRecords - 1) / targetRecords).toInt
            LakeWriter.write(
              shaped(df, parts), schema, store.rootUri, hour, gzip,
              maxRecordsPerObject = targetRecords, keyPrefix = s"$staging/",
              zoneMaps = zoneMaps, bloomColumns = bloomColumns)
          } finally releaseCheckpoint(df)
          // staged only: the publish is ONE statement-level commit below
          // (all hours at once) — heavy rewrite work stays concurrent,
          // the cheap renames serialize behind it
        }
      }
      val staged = futures.flatMap(Await.result(_, Duration.Inf))
      val dsts = staged.map(w => w.copy(key = w.key.stripPrefix(s"$staging/")))
      // the versioned-commit protocol (LakeVersions): intent → rename
      // into place (readers still exclude: the intent is uncommitted) →
      // CAS the generation (validates the snapshot's objects were not
      // removed by a racing DML — the loser aborts loudly with nothing
      // published) → retire the originals (kept on disk under retention)
      val intentId = java.util.UUID.randomUUID().toString
      LakeVersions.writeIntent(store, table, intentId, dsts.map(_.key))
      staged.foreach { w =>
        StagedPublish.move(store, w.key, w.key.stripPrefix(s"$staging/"),
          zoneMaps, bloomColumns.nonEmpty)
      }
      try LakeVersions.commit(store, table, op = "compact",
        removed = oldKeys, added = dsts.map(_.key), intentId = Some(intentId),
        dvBasis = oldKeys.map(k => k -> dvMap.get.get(k).map(_.key)).toMap,
        eqBasis = Some(eqList.map(_.key)),
        dropEqdels = dropAllEqdels && eqList.nonEmpty)
      catch { case e: Throwable =>
        // un-publish: our keys never committed, so deleting them (and
        // the intent) restores the exact pre-statement table
        dsts.foreach(w => StagedPublish.remove(store, w.key, Context))
        store.delete(LakeVersions.intentKey(table, intentId))
        throw e
      }
      if (!LakeVersions.isRetained(store, table)) {
        oldKeys.foreach(StagedPublish.remove(store, _, Context))
        LakeVersions.pruneChainIfLarge(store, table, oldKeys.size)
      }
      // again AFTER the rewrites land: a seal racing the compaction heals
      Manifests.invalidateIfCovers(store, table,
        oldKeys.map(LakeKeys.hourPrefixOf).min)
      CompactionReport(oldKeys.size, dsts.size, dsts.map(_.records).sum,
        dsts.map(_.key))
    } catch { case e: Throwable =>
      // On a failed hour group, no sibling may keep mutating the lake
      // after compact() has thrown: cancel the sibling SPARK JOBS (not
      // just their waiting threads), drop queued groups, and WAIT for
      // in-flight ones before propagating (otherwise a retry's listing —
      // or the finally's staging cleanup — races lingering writes/deletes,
      // the duplication this method's snapshot read exists to prevent).
      try spark.sparkContext.cancelJobGroup(jobGroup) catch { case _: Throwable => () }
      pool.shutdownNow()
      pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
      throw e
    } finally {
      pool.shutdown()
      // Success or failure, no unpublished attempt output may linger —
      // including staged zone-map sidecars.
      StagedPublish.sweep(store, staging)
    }
  }

  final case class EnsureReport(statsBuilt: Int, bloomsBuilt: Int,
                                orphansDeleted: Int)

  /** ONE-PASS sidecar reconciliation — the nightly index job: off a
    * SINGLE listing snapshot (one data-key walk + ONE `_zmaps/` listing
    * per hour/table prefix, where the two incremental `buildIndex`es
    * would each do their own), it
    *
    *  1. back-fills every object missing a STATS sidecar
    *     ([[ZoneMaps.buildForKeys]]),
    *  2. back-fills every object missing a BLOOM sidecar (when
    *     `bloomColumns` is non-empty; both sidecar kinds decided from
    *     the same listing — they share the `_zmaps/` prefix dir), and
    *  3. sweeps ORPHAN sidecars (a sidecar whose data object is gone —
    *     retention/compaction signaled a failed sidecar delete, or an
    *     operator removed data by hand). The sweep scope unions the live
    *     data prefixes with the `_zmaps/` MIRROR's own hour walk, so an
    *     hour whose data objects are ALL gone — exactly the failed
    *     retention-delete case — is still swept. Unknown sidecar kinds
    *     are left alone (conservative: this job reconciles what it
    *     understands), and only deletes that SUCCEED are counted.
    *
    * Same incremental semantics as `onlyMissing` builds: never re-reads
    * an indexed object, so it never HEALS a present-but-torn sidecar —
    * healing is a full `buildIndex`'s job. Same concurrency contract as
    * every build: run on settled hours. The spec pins the produced
    * sidecars byte-identical to running both incremental builds, at half
    * the metadata listings. */
  def ensureIndexes(spark: SparkSession, store: Store, table: String,
                    bloomColumns: Seq[String] = Nil,
                    hourRange: Option[(Instant, Instant)] = None,
                    bloomBits: Int = BloomMaps.DefaultBits,
                    bloomHashes: Int = BloomMaps.DefaultHashes,
                    dryRun: Boolean = false): EnsureReport = {
    if (bloomColumns.nonEmpty) BloomMaps.validateShape(bloomBits, bloomHashes)
    val keys = LakeReader.listTableKeys(store, table, hourRange)
    val dataPrefixes = keys.map { k =>
      val i = k.lastIndexOf('/'); if (i < 0) "" else k.substring(0, i)
    }.distinct
    // the sweep scope must include hours whose data objects are ALL gone
    // — the 'retention signaled a failed sidecar delete' case — which no
    // live data key names: walk the `_zmaps/` MIRROR's own hour dirs
    // (same pruned level walk as the data side) and union. Hour-range
    // scoping via the zero-padded prefix compare.
    val mirrorHours = {
      val all = LakeReader.walkHourPrefixes(store, base = ZoneMaps.Prefix)
      hourRange match {
        case Some((from, to)) =>
          import java.time.temporal.ChronoUnit
          val lo = LakeKeys.datePrefix(from.truncatedTo(ChronoUnit.HOURS))
          val hi = LakeKeys.datePrefix(to.truncatedTo(ChronoUnit.HOURS))
          all.filter(h => h >= lo && h <= hi)
        case None => all
      }
    }
    val prefixes = (dataPrefixes ++ mirrorHours.map(h => s"$h/$table")).distinct
    // ONE listing per prefix serves BOTH sidecar kinds and the orphan
    // sweep — .zmap and .bloom files share the _zmaps/<prefix> directory
    val sidecars = prefixes.flatMap(pfx => store.list(ZoneMaps.Prefix + pfx))
    val sidecarSet = sidecars.toSet
    val keySet = keys.toSet
    val missingStats = keys.filterNot(k => sidecarSet.contains(ZoneMaps.statsKey(k)))
    val missingBlooms =
      if (bloomColumns.isEmpty) Nil
      else keys.filterNot(k => sidecarSet.contains(BloomMaps.bloomKey(k)))
    // INTENT-hidden keys (an in-flight publish, a write-audit-publish
    // batch pending validation) are absent from the versioned listing
    // but their sidecars are NOT orphans — sweeping them would silently
    // de-index the batch the moment it publishes
    val intentKeys: Set[String] = {
      val st = LakeVersions.listDir(store, table)
      st.intents.flatMap(id =>
        LakeVersions.readIntent(store, table, id).getOrElse(Nil)).toSet
    }
    val orphans = sidecars.filter { sk =>
      dataKeyOfSidecar(sk).exists(dk =>
        !keySet.contains(dk) && !intentKeys.contains(dk))
    }
    // report-only: the SAME listing snapshot and the SAME three
    // decisions, nothing built and nothing deleted — the counts are
    // what the real run WOULD build/sweep
    if (dryRun)
      return EnsureReport(missingStats.size,
        if (bloomColumns.isEmpty) 0 else missingBlooms.size, orphans.size)
    // count only deletes that SUCCEEDED — a report claiming deletions
    // that failed would read as a clean lake while the orphan persists
    val swept = orphans.count { sk =>
      try { store.delete(sk); true } catch {
        case e: Throwable =>
          System.err.println(
            s"[graft.LakeMaintenance.ensureIndexes] orphan sidecar $sk " +
              s"survives (delete failed: $e)")
          false
      }
    }
    // sidecars index an object's OWN columns: build per header group,
    // so a mixed-header table (evolved / reference drift) never feeds a
    // strict reader objects of another generation's header. Bloom
    // columns an old header LACKS are skipped for that group — the
    // probe keeps such objects conservatively, exactly as if the
    // sidecar carried no entry for the column.
    def perHeader(keys: Seq[String])(
        build: (graft.types.TableSchema, Seq[String]) => Int): Int =
      if (keys.isEmpty) 0
      else LakeReader.groupKeysByHeader(store, table, keys)
        .map { case (sch, ks) => build(sch, ks) }.sum
    EnsureReport(
      perHeader(missingStats)((_, ks) =>
        ZoneMaps.buildForKeys(spark, store.rootUri, table, ks)),
      if (bloomColumns.isEmpty) 0
      else perHeader(missingBlooms) { (sch, ks) =>
        val have = bloomColumns.filter(sch.columnNames.contains)
        if (have.isEmpty) 0
        else BloomMaps.buildForKeys(spark, store.rootUri, table, have,
          ks, bloomBits, bloomHashes)
      },
      swept)
  }

  /** The data key a sidecar key indexes; None for unknown sidecar kinds
    * (left untouched by the orphan sweep). */
  private def dataKeyOfSidecar(sidecarKey: String): Option[String] = {
    val rel = sidecarKey.stripPrefix(ZoneMaps.Prefix)
    if (rel.endsWith(".zmap")) Some(rel.dropRight(5))
    else if (rel.endsWith(".bloom")) Some(rel.dropRight(6))
    else None
  }

  final case class ExpiryReport(deleted: Int, cutoffPrefix: String)

  /** Retention: delete a table's objects whose hour prefix is STRICTLY
    * before `olderThan`'s hour — an object becomes eligible only once its
    * entire hour is past the horizon, so the current (possibly still
    * receiving) hour can never be touched. The data-lifecycle complement
    * of [[compact]]: compaction bounds object COUNT, retention bounds
    * object AGE — at warehouse scale both are what keeps the listing walk
    * and the storage bill flat.
    *
    * The listing is the reader's own pruned level walk
    * ([[LakeReader.walkHourPrefixes]] with the cutoff as upper bound —
    * one walk, shared, so retention and reads can never disagree about
    * which objects exist), so an expiry over a lake with years of history
    * lists only in-horizon directories — never the retained tail, never
    * other tables' objects, never `_staging/`. Idempotent and safe to
    * re-run: per-object deletes, no staging, no rename. The listing
    * stays on the driver (it is already the pruned level walk —
    * O(retired hour dirs)); the per-object deletes are a [[KeyWalk]]
    * delete walk, so a month of retired hours on a million-object table
    * fans out to executors (delete of a missing key is a no-op, so a
    * task retry never fails on its own earlier progress). */
  def expire(store: Store, table: String, olderThan: Instant): ExpiryReport = {
    val (doomed, cutoff) = doomedKeys(store, table, olderThan)
    // version-commit BEFORE the deletes: the doomed keys tombstone at
    // one CAS, serializing retention against every racing DML/compact
    // (whose commit would otherwise silently lose its originals), and a
    // crash mid-delete leaves them invisible, finished by the next
    // commit's tombstone maintenance. Retention is PHYSICAL by intent —
    // expired objects leave even retained history (time travel to a
    // generation naming them fails loudly at read).
    if (doomed.nonEmpty)
      LakeVersions.commit(store, table, op = "expire", removed = doomed,
        validateLive = false)
    // deletes in covered hours invalidate the manifest FIRST (a stale
    // manifest listing retired keys would fail readKeys-style readers)
    if (doomed.nonEmpty)
      Manifests.invalidateIfCovers(store, table,
        doomed.map(LakeKeys.hourPrefixOf).min)
    KeyWalk.foreach(store, doomed, KeyWalk.Delete)(StagedPublish.remove(_, _, Context))
    if (doomed.nonEmpty) { // again after the deletes: a racing seal heals
      Manifests.invalidateIfCovers(store, table,
        doomed.map(LakeKeys.hourPrefixOf).min)
      LakeVersions.pruneChainIfLarge(store, table, doomed.size)
    }
    ExpiryReport(doomed.size, cutoff)
  }

  private def doomedKeys(store: Store, table: String,
                         olderThan: Instant): (Seq[String], String) = {
    val cutoff = LakeKeys.datePrefix(
      olderThan.truncatedTo(java.time.temporal.ChronoUnit.HOURS))
    val raw = for {
      h <- LakeReader.walkHourPrefixes(store, before = Some(cutoff))
      k <- store.list(s"$h/$table")
      if LakeKeys.parseKey(k).exists(_._2 == table)
    } yield k
    // retention expires the LIVE view: already-tombstoned keys (retained
    // history, crash windows) belong to expire_versions, not to this
    // walk's report
    val excl = LakeVersions.exclusions(store, table)
    (if (excl.isEmpty) raw else raw.filterNot(excl), cutoff)
  }

  /** Free a `localCheckpoint()` snapshot's blocks once its last job has
    * run. The checkpointed RDD stays persisted until released, and
    * `Dataset.unpersist` only consults the cache manager, which never saw
    * it; a statement that snapshots every kept object would otherwise
    * leave one persisted RDD per object in the session. */
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }
      .foreach(_.unpersist(blocking = false))

  /** The signal context of a sidecar this object's retirements orphan
    * ([[StagedPublish.remove]]). */
  private val Context = "graft.LakeMaintenance"

  /** One candidate's `(rows, rows matching)` in ONE aggregate job — the
    * figures both [[deleteWhereMulti]] runs decide on. */
  private def rowAndMatchCounts(df: DataFrame,
                                matches: org.apache.spark.sql.Column): (Long, Long) = {
    import org.apache.spark.sql.functions.{count, lit, sum, when}
    val r = df.agg(count(lit(1)), sum(when(matches, 1L).otherwise(0L))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  final case class DeleteReport(candidates: Int, objectsRewritten: Int,
                                objectsRetired: Int, rowsDeleted: Long,
                                rowsKept: Long, objectsSkipped: Int)

  /** ROW-LEVEL DELETE — `DELETE FROM table WHERE column IN (values)`,
    * the right-to-be-forgotten shape an LLM-data lake needs (drop
    * user_id = X everywhere), composed from what the engine already
    * proves:
    *
    *  1. '''find''': the bloom/band probe ([[LakeReader]]'s
    *     `readPrunedEqAny` kept-set) bounds the rewrite to objects that
    *     MIGHT hold a matching row — at 100 TB the work is proportional
    *     to the key's objects, not the lake. Conservative by the probe's
    *     own contract: a torn/missing sidecar keeps, so an unprunable
    *     object is still scanned (and rewritten if it matches);
    *  2. '''rewrite''': each matching object's surviving rows publish as
    *     a NEW object in the same hour through the compaction staging
    *     discipline (write under `_staging/`, rename into place, retire
    *     the original) — readers see old → old+new/old-retired, never a
    *     torn object. A candidate with NO matching rows (bloom false
    *     positive) is left byte-identical; an object whose every row
    *     matches is retired outright;
    *  3. '''metadata''': the table's sealed-hours manifest invalidates
    *     BEFORE the first mutation and again after the last (the same
    *     discipline as every publish path), and sidecars are rebuilt for
    *     rewritten objects per `zoneMaps`/`bloomColumns` (pass the
    *     table's index config, as with [[compact]]).
    *
    * SQL equality semantics: NULL rows never match (never deleted);
    * probe values must be non-null/non-empty ("" round-trips as NULL on
    * the wire). Candidate objects rewrite as CONCURRENT Spark jobs
    * (bounded pool, one job group — the [[compact]] discipline) since a
    * years-old key can live in one object per hour; the PUBLISH is one
    * statement-level [[LakeVersions]] commit — intent → renames → CAS —
    * so the whole delete is atomic: a crash before the CAS never
    * happened (intent-hidden replacements, janitor-swept), after it the
    * originals are tombstone-excluded even while the physical retire is
    * pending, and a racing commit on the same objects aborts one
    * statement loudly instead of duplicating. Surviving rows change
    * `_object_key` provenance, exactly as under compaction. */
  def deleteWhere(spark: SparkSession, store: Store, table: String,
                  column: String, values: Seq[Any],
                  hourRange: Option[(Instant, Instant)] = None,
                  gzip: Boolean = true,
                  zoneMaps: Boolean = false,
                  bloomColumns: Seq[String] = Nil,
                  dryRun: Boolean = false): DeleteReport =
    deleteWhereMulti(spark, store, table, Seq(column -> values), hourRange,
      gzip, zoneMaps, bloomColumns, dryRun)

  /** [[deleteWhere]] over a CONJUNCTION of per-column probe sets —
    * `DELETE WHERE c1 IN (…) AND c2 IN (…)`, the two-column GDPR shape
    * (tenant AND user). A row deletes iff EVERY column's probe set
    * holds its value (NULL in any probed column never matches — SQL
    * conjunction semantics), and the candidate set is the AND of
    * per-column bloom/band probes ([[LakeReader.prunedEqAnyMultiKeys]])
    * — strictly TIGHTER than any single column's, so adding a conjunct
    * only ever shrinks the rewrite. */
  def deleteWhereMulti(spark: SparkSession, store: Store, table: String,
                  probes: Seq[(String, Seq[Any])],
                  hourRange: Option[(Instant, Instant)] = None,
                  gzip: Boolean = true,
                  zoneMaps: Boolean = false,
                  bloomColumns: Seq[String] = Nil,
                  dryRun: Boolean = false,
                  // EVOLVED table: read candidates by name against the
                  // declared schema (mixed headers legal), write
                  // replacements onto it — rewritten objects migrate
                  declared: Option[graft.types.TableSchema] = None): DeleteReport = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    def matchRule: org.apache.spark.sql.Column = probes.map { case (c, vs) =>
      coalesce(col(c).isin(vs: _*), lit(false))
    }.reduce(_ && _)
    val (allKeys, kept) = LakeReader.prunedEqAnyMultiKeys(store, table,
      probes, hourRange, declared = declared)
    if (kept.isEmpty)
      return DeleteReport(0, 0, 0, 0L, 0L, allKeys.size)
    // merge-on-read: candidates read VECTOR-APPLIED (resolved once for
    // every per-object job), so a rewrite never resurrects vector-deleted
    // rows; the commit's basis check aborts on a racing MOR statement
    val dvMap = Some(LakeVersions.currentDvs(store, table))
    // equality deletes: both runs read live rows (filters applied via
    // readKeys) resolved once here; the real run CAS-validates the list
    // it read under (eqBasis)
    val eqList = LakeVersions.currentEqdels(store, table)
    val eqMap = Some(LakeEqDeletes.compile(store, table, eqList))
    def read(key: String): DataFrame = declared.fold(
      LakeReader.readKeys(spark, store, table, Seq(key), dvMap, eqMap))(d =>
      LakeReader.readKeysAligned(spark, store, table, Seq(key), d, dvMap, eqMap))
      .drop("_event_hour")
    if (dryRun) {
      // the GDPR dry run: the SAME probe decision, the SAME per-object
      // match rule, nothing mutated — one aggregate per candidate
      // reports what the real run WOULD do (a bloom false positive
      // shows up as a candidate with zero matches, exactly as the real
      // run would skip it). Sequential: a dry run is an operator
      // reading a report, not a fleet rewriting a key's history.
      var rewritten = 0; var retired = 0
      var nDel = 0L; var nKeep = 0L
      kept.foreach { key =>
        val (n, d) = rowAndMatchCounts(read(key), matchRule)
        if (d > 0L && d == n) retired += 1
        else if (d > 0L) rewritten += 1
        nDel += d; nKeep += (if (d > 0L) n - d else 0L)
      }
      return DeleteReport(kept.size, rewritten, retired, nDel, nKeep,
        allKeys.size - kept.size)
    }
    val schema = declared.getOrElse(
      LakeReader.peekSchema(store, allKeys.head, table))
    Manifests.invalidateIfCovers(store, table,
      kept.map(LakeKeys.hourPrefixOf).min)
    val staging = StagedPublish.stagingPrefix()
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, kept.size))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val jobGroup = s"graft-delete-$staging"
    try {
      val futures = kept.map { key =>
        Future {
          spark.sparkContext.setJobGroup(jobGroup,
            s"delete_where $table $key", interruptOnCancel = true)
          val hour = LakeKeys.parseKey(key).get._1
          // snapshot the object once; the counts and the rewrite both
          // run off the checkpoint, not a second object read
          val df = read(key).localCheckpoint()
          try {
            val (n, nDel) = rowAndMatchCounts(df, matchRule)
            val nKeep = n - nDel
            if (nDel == 0L) (key, nDel, nKeep, Seq.empty[(String, String)])
            else if (nKeep == 0L) (key, nDel, nKeep, Seq.empty[(String, String)])
            else {
              val keepDf = df.filter(not(matchRule)) // NULL rows never match: kept
              val staged = LakeWriter.write(keepDf.coalesce(1), schema,
                store.rootUri, hour, gzip, maxRecordsPerObject = 0L,
                keyPrefix = s"$staging/", zoneMaps = zoneMaps,
                bloomColumns = bloomColumns)
              // FRESH replacement names (the staged uuids), never derived
              // from the original: the generation pointer owns crash
              // healing now (a pre-CAS crash leaves intent-hidden orphans
              // the janitor sweeps; tombstones cover post-CAS), and
              // deterministic names were actively UNSAFE under
              // concurrency — two statements scanning the same original
              // derive the same destination, so the loser's publish or
              // cleanup could overwrite or delete the winner's live object
              val pairs = staged.map(w =>
                (w.key, w.key.stripPrefix(s"$staging/")))
              (key, nDel, nKeep, pairs)
            }
          } finally releaseCheckpoint(df)
        }
      }
      val results = futures.map(Await.result(_, Duration.Inf))
      // ONE statement-level versioned commit publishes every rewrite
      // (LakeVersions protocol): intent → clear+rename the replacements
      // into their derived keys (readers exclude them until the CAS) →
      // CAS the generation, validating no racing commit removed the
      // scanned originals → retire the originals (kept under retention)
      val removed = results.collect { case (k, d, _, _) if d > 0L => k }
      val added = results.flatMap(_._4.map(_._2))
      if (removed.nonEmpty) {
        val intentId = java.util.UUID.randomUUID().toString
        LakeVersions.writeIntent(store, table, intentId, added)
        results.foreach { case (_, _, _, pairs) => pairs.foreach {
          case (stagedKey, dst) =>
            StagedPublish.move(store, stagedKey, dst, zoneMaps, bloomColumns.nonEmpty)
        } }
        try LakeVersions.commit(store, table, op = "delete_where",
          removed = removed, added = added, intentId = Some(intentId),
          dvBasis = removed.map(k => k -> dvMap.get.get(k).map(_.key)).toMap,
          eqBasis = Some(eqList.map(_.key)))
        catch { case e: Throwable =>
          added.foreach(StagedPublish.remove(store, _, Context))
          store.delete(LakeVersions.intentKey(table, intentId))
          throw e
        }
        if (!LakeVersions.isRetained(store, table)) {
          removed.foreach(StagedPublish.remove(store, _, Context))
          LakeVersions.pruneChainIfLarge(store, table, removed.size)
        }
      }
      // again AFTER the rewrites land: a seal racing the delete heals
      Manifests.invalidateIfCovers(store, table,
        kept.map(LakeKeys.hourPrefixOf).min)
      DeleteReport(kept.size,
        results.count(r => r._2 > 0L && r._3 > 0L),
        results.count(r => r._2 > 0L && r._3 == 0L),
        results.map(_._2).sum, results.map(r => if (r._2 > 0L) r._3 else 0L).sum,
        allKeys.size - kept.size)
    } catch { case e: Throwable =>
      // the compact() failure discipline: kill sibling JOBS, wait, then
      // propagate — no lingering write may race the staging sweep below
      try spark.sparkContext.cancelJobGroup(jobGroup) catch { case _: Throwable => () }
      pool.shutdownNow()
      pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
      throw e
    } finally {
      pool.shutdown()
      StagedPublish.sweep(store, staging)
    }
  }

  /** Retire EXPLICIT objects — the remedy an `_object_key` audit points
    * at (a bad flush, a corrupted upload, a right-to-forget scope): each
    * named object deletes with both its sidecars, and the tables'
    * sealed-hours manifests invalidate before AND after (the same
    * discipline as every publish path). Keys must parse as lake object
    * keys — retiring by name is surgical, never a prefix sweep (that is
    * [[expire]]'s job). Idempotent: deleting a missing key is a no-op,
    * so a retry never fails on its own earlier progress; returns how
    * many of the named objects EXISTED when retired. */
  def retireObjects(store: Store, rawKeys: Seq[String]): Int = {
    // version-commit FIRST (per table), then delete: a crash between the
    // two leaves the keys tombstoned — invisible to readers — and the
    // next commit's tombstone maintenance finishes the delete. Missing
    // named keys stay a no-op (idempotent re-runs), so only the keys
    // that EXIST enter the records.
    val existing = rawKeys.distinct.filter(store.exists)
    existing.groupBy(k => LakeKeys.parseKey(k).map(_._2)).foreach {
      case (Some(table), ks) =>
        LakeVersions.commit(store, table, op = "retire_objects",
          removed = ks, validateLive = false)
      case (None, _) => () // physicalRetire's parse guard reports these
    }
    physicalRetire(store, rawKeys)
    existing.groupBy(k => LakeKeys.parseKey(k).map(_._2)).foreach {
      case (Some(table), ks) =>
        LakeVersions.pruneChainIfLarge(store, table, ks.size)
      case _ => ()
    }
    existing.size
  }

  /** The PHYSICAL half of retirement — manifest discipline + idempotent
    * deletes, NO version record (the caller has already committed one;
    * [[retireObjects]] is the statement-level op). The deletes are a
    * [[KeyWalk]] delete walk: the SQL copy-on-write commit retires one
    * original per rewritten group, and a broad UPDATE/MERGE can name
    * 100k of them, which fan out to executors. */
  private[lake] def physicalRetire(store: Store, rawKeys: Seq[String]): Unit = {
    val keys = rawKeys.distinct // a key named twice is one retirement
    val parsed = keys.map(k => k -> LakeKeys.parseKey(k))
    val bad = parsed.collect { case (k, None) => k }
    require(bad.isEmpty,
      s"not lake object keys (YYYY/MM/DD/HH/table/uuid): ${bad.mkString(", ")}")
    val byTable = parsed.map { case (k, p) => (p.get._2, k) }.groupBy(_._1)
    byTable.foreach { case (table, ks) =>
      Manifests.invalidateIfCovers(store, table,
        ks.map(t => LakeKeys.hourPrefixOf(t._2)).min)
    }
    KeyWalk.foreach(store, keys, KeyWalk.Delete)(StagedPublish.remove(_, _, Context))
    byTable.foreach { case (table, ks) => // again after: a racing seal heals
      Manifests.invalidateIfCovers(store, table,
        ks.map(t => LakeKeys.hourPrefixOf(t._2)).min)
    }
  }

  final case class TableStats(objects: Int, hours: Int,
                              rows: Option[Long],
                              statsObjects: Int, bloomObjects: Int,
                              sealedUpTo: Option[String])

  /** Operational health report for one table, METADATA-plane only (no
    * data object opened): object/hour counts off the pruned listing
    * (manifest-backed when sealed), rows summed from the stats sidecars
    * — EXACT-OR-ABSENT, the metadata-aggregate contract: one unreadable
    * sidecar makes the total None rather than a wrong number — and
    * sidecar COVERAGE (how many objects carry stats / blooms), which is
    * what `ensure_indexes` planning wants to know. The per-object
    * sidecar probes are a [[KeyWalk]] like every metadata walk. */
  def tableStats(rootUri: String, table: String): TableStats = {
    val store = new HadoopStore(rootUri)
    val view = LakeVersions.tableView(store, table)
    val keys = LakeReader.listTableKeys(store, table, None, Some(view))
    // merge-on-read: live rows of a vectored object = sidecar records −
    // its committed position count (the count rides the generation
    // record, so the health report stays metadata-exact)
    val dvDead: Map[String, Long] = view.dvs.map { case (k, r) => k -> r.count }
    def probe(st: Store, k: String): (Option[Long], Boolean, Boolean) = {
      val stats = ZoneMaps.read(st, k)
      (stats.map(_.records - dvDead.getOrElse(k, 0L)), stats.isDefined,
        BloomMaps.read(st, k).isDefined)
    }
    val probed = KeyWalk.map(store, keys)(probe)
    val rows = probed.foldLeft(Option(0L)) {
      case (acc, (r, _, _)) => for (a <- acc; v <- r) yield a + v
    }
    TableStats(keys.size,
      keys.map(LakeKeys.hourPrefixOf).distinct.size,
      if (keys.isEmpty) Some(0L) else rows,
      probed.count(_._2), probed.count(_._3),
      Manifests.readHeader(store, table))
  }

  final case class StagingSweepReport(sweptPrefixes: Int, keptPrefixes: Int)

  /** Janitor for ORPHANED staging state — every publish path (batch
    * write, streaming epoch, compaction, delete, copy-on-write, manifest
    * seal) stages under a job-scoped `_staging/<id>` and sweeps its OWN
    * prefix on commit and abort, but a hard-killed driver (kill -9, OOM,
    * lost instance) leaves its prefix forever, and no live job may touch
    * another job's staging. This sweeps every first-level staging entry
    * whose NEWEST content is older than `olderThan` — mtime is the only
    * age signal an uuid-named prefix carries, and the newest-entry bound
    * means a prefix an ALIVE job is still writing into never qualifies
    * (each in-flight write refreshes it; pick a cutoff comfortably above
    * the longest legitimate job). Zone-map mirrors (`_zmaps/_staging/…`)
    * sweep with their data prefix. Published objects are out of scope by
    * construction. */
  def sweepStaging(store: HadoopStore, olderThan: Instant): StagingSweepReport = {
    def firstLevel(root: String): Seq[String] =
      store.list(root).map { k =>
        val rest = k.stripPrefix(root + "/")
        val cut = rest.indexOf('/')
        if (cut < 0) s"$root/$rest" else s"$root/${rest.take(cut)}"
      }.distinct
    var swept = 0
    var kept = 0
    // the zone-map mirror of a data prefix sweeps with it; mirrors whose
    // data prefix is already gone (a crash between the two deletePrefix
    // calls of a normal cleanup) are swept on their own age below
    val entries = firstLevel(StagedPublish.Root) ++
      firstLevel(ZoneMaps.Prefix + StagedPublish.Root).map(_.stripPrefix(ZoneMaps.Prefix))
    entries.distinct.foreach { prefix =>
      val newest = Seq(store.newestModification(prefix),
        store.newestModification(ZoneMaps.Prefix + prefix)).flatten
      if (newest.nonEmpty && newest.forall(_.isBefore(olderThan))) {
        StagedPublish.sweep(store, prefix)
        swept += 1
      } else kept += 1
    }
    // ORPHANED INTENTS: a commit that crashed between its publish
    // renames and its CAS left an intent file plus replacement objects
    // in FINAL locations — invisible to every reader (the intent is
    // uncommitted) but occupying storage forever. An old-enough intent
    // whose id no committed generation references is that crash: delete
    // the keys it names (with sidecars), then the intent. An intent a
    // LIVE commit is about to CAS is never old enough (the publish and
    // CAS are milliseconds apart; the cutoff is hours), and a committed
    // intent's keys are live data — referenced, so never touched here.
    store.listDirs(LakeVersions.Prefix.stripSuffix("/")).foreach { table =>
      // a branch DML that crashed between writing its replacement
      // intent to `tmpint-*` and renaming it over the audit intent
      // leaves the temp file behind — harmless (no reader consults
      // it), reclaimed here once old
      store.list(LakeVersions.dir(table))
        .filter(_.stripPrefix(LakeVersions.dir(table) + "/")
          .startsWith("tmpint-"))
        .filter(k => store.newestModification(k).exists(_.isBefore(olderThan)))
        .foreach { k => store.delete(k); swept += 1 }
      val st = LakeVersions.listDir(store, table)
      if (st.intents.nonEmpty) {
        val referenced = st.gens.flatMap(g =>
          LakeVersions.readRecord(store, table, g)).flatMap(_.intent).toSet
        // AUDIT intents are exempt: a write-audit-publish batch pending
        // validation is deliberate staged state, not a crash — however
        // old it gets, publish_audit/abort_audit are its only exits
        st.intents.filterNot(referenced)
          .filterNot(_.startsWith("audit-")).foreach { id =>
          val ik = LakeVersions.intentKey(table, id)
          val old = store.newestModification(ik).exists(_.isBefore(olderThan))
          if (old) {
            LakeVersions.readIntent(store, table, id).getOrElse(Nil)
              .foreach(StagedPublish.remove(store, _, "graft.LakeMaintenance.sweepStaging"))
            store.delete(ik)
            swept += 1
          } else kept += 1
        }
      }
    }
    // ORPHANED DELETE-VECTOR FILES (round 17): a superseded vector (its
    // mapping replaced by a later MOR commit) or a crashed publish's
    // vector is unreferenced garbage — commit() deliberately leaves
    // them on disk so a scan planned under the old mapping can finish
    // (the tombstone-grace posture), and THIS sweep reclaims them once
    // old. Ordering mirrors expire_versions' dv sweep: list the vector
    // files FIRST, then snapshot the version directory — any file old
    // enough to be listed is by the newer snapshot either referenced by
    // a chain record, covered by a live statement's intent (vector keys
    // ride the MOR intent since round 17), or genuinely orphaned.
    (store.listDirs(LakeDvs.Prefix.stripSuffix("/")) ++
      store.listDirs(LakeEqDeletes.Prefix.stripSuffix("/")))
      .distinct.foreach { table =>
      val dvListed = store.list(LakeDvs.dir(table)) ++
        store.list(LakeEqDeletes.dir(table))
      if (dvListed.nonEmpty) {
        val st = LakeVersions.listDir(store, table)
        // what still READS a vector: the head record's current map, and
        // any retained generation's snapshot (time travel reads under
        // that generation's own dv state). An older unretained record's
        // dv references are history — its vectors were superseded and
        // nothing can reach them again.
        val records = st.gens.flatMap(g =>
          LakeVersions.readRecord(store, table, g))
        val headGen = records.map(_.gen).maxOption.getOrElse(0L)
        val keepers = records.filter(r =>
          r.gen == headGen || LakeVersions.isSnapshot(r))
        val referenced = keepers.flatMap(_.dvs.values.map(_.key)).toSet ++
          keepers.flatMap(_.eqdels.map(_.key)).toSet
        val intentCovered = st.intents.flatMap(id =>
          LakeVersions.readIntent(store, table, id).getOrElse(Nil)).toSet
        dvListed.filterNot(referenced).filterNot(intentCovered).foreach { k =>
          if (store.newestModification(k).exists(_.isBefore(olderThan))) {
            store.delete(k)
            swept += 1
          } else kept += 1
        }
      }
    }
    // TRANSACTION DECISIONS (round 19): a decision file is chain
    // metadata while ANY table's generation record still references its
    // txn id — visibility resolves through it ([[LakeVersions.visible]]).
    // Once no record does (the committed records expired, or an aborted
    // transaction's slots were reclaimed and rewritten), the decision is
    // unreachable: nothing can ever read it again, so it sweeps. This
    // bounds `_txns/` at O(live references) instead of
    // O(transactions-ever) on a long-lived warehouse. Ordering: list
    // `_txns/` FIRST, then scan records — a decision is created only
    // AFTER its pending records CAS, so any decision old enough to make
    // the first listing has its referencing records visible to the later
    // scan (or they are already gone, which IS the reclaim criterion).
    // The age cutoff additionally spares any in-flight decide window.
    val txnListed = store.list(LakeTxn.Prefix.stripSuffix("/"))
    if (txnListed.nonEmpty) {
      val referenced: Set[String] =
        store.listDirs(LakeVersions.Prefix.stripSuffix("/")).flatMap { table =>
          LakeVersions.listDir(store, table).gens
            .flatMap(g => LakeVersions.readRecord(store, table, g))
            .flatMap(_.txn)
        }.toSet
      txnListed.foreach { k =>
        val id = k.stripPrefix(LakeTxn.Prefix).stripPrefix("txn-")
        if (!referenced.contains(id) &&
            store.newestModification(k).exists(_.isBefore(olderThan))) {
          store.delete(k)
          swept += 1
        } else kept += 1
      }
    }
    StagingSweepReport(swept, kept)
  }
}
