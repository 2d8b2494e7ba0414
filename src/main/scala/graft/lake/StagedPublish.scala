package graft.lake

import java.nio.charset.StandardCharsets
import java.time.Instant
import java.util.UUID

/** Staged publishing, the one discipline under every lake writer: tasks
  * land objects under a job-scoped `_staging/` prefix (invisible to
  * readers, whose key parser rejects it), and the driver moves only the
  * objects it commits into the readable `YYYY/MM/DD/HH/table/uuid` layout.
  * This module owns what those writers share:
  *
  *  - which files travel with a data object: its zone-map stats sidecar
  *    ([[ZoneMaps.statsKey]]) and its bloom ([[BloomMaps.bloomKey]]), both
  *    under the `_zmaps/` mirror of the data key — [[move]] and [[remove]];
  *  - how a staging prefix is named and swept, the data prefix together
  *    with its `_zmaps/` mirror — [[stagingPrefix]] and [[sweep]];
  *  - the deterministic epoch publish both streaming sinks run —
  *    [[publishEpoch]].
  *
  * The versioned commits (overwrite, compaction, `delete_where`,
  * copy-on-write and merge-on-read DML) wrap [[move]] and [[remove]] in
  * the [[LakeVersions]] intent → rename → CAS protocol themselves. */
object StagedPublish {

  /** The root of every staging prefix: non-numeric, so
    * [[LakeReader.walkHourPrefixes]] never descends into it. */
  val Root = "_staging"

  /** A fresh job-scoped staging prefix, `_staging/<tag>-<uuid>` (or
    * `_staging/<uuid>` with no tag). No live job touches another's. */
  def stagingPrefix(tag: String = ""): String = {
    val id = UUID.randomUUID()
    if (tag.isEmpty) s"$Root/$id" else s"$Root/$tag-$id"
  }

  /** Rename staged object `src` to `dst`, with the sidecars its writer's
    * policy wrote (stats when `zoneMaps`, bloom when `blooms`). */
  def move(store: Store, src: String, dst: String,
           zoneMaps: Boolean, blooms: Boolean): Unit = {
    store.rename(src, dst)
    if (zoneMaps) store.rename(ZoneMaps.statsKey(src), ZoneMaps.statsKey(dst))
    if (blooms) store.rename(BloomMaps.bloomKey(src), BloomMaps.bloomKey(dst))
  }

  /** Delete data object `key`, then its stats sidecar and its bloom, one
    * delete each. A failed object delete throws. A failed sidecar delete
    * is SIGNALED under `context`, never thrown or swallowed: the data key
    * is already gone, and reads never consult orphan sidecars (they are
    * driven by data-key listing), so failing the operation over one is
    * wrong — but an unreported orphan is a silent storage leak. */
  def remove(store: Store, key: String, context: String): Unit = {
    store.delete(key)
    Seq(ZoneMaps.statsKey(key), BloomMaps.bloomKey(key)).foreach { sk =>
      try store.delete(sk) catch {
        case e: Throwable => System.err.println(
          s"[$context] orphaned sidecar $sk under deleted key (delete failed: $e)")
      }
    }
  }

  /** Delete staging prefix `staging` and its `_zmaps/` mirror, best
    * effort: this runs on success and failure alike, and a prefix a
    * fault leaves behind is what [[LakeMaintenance.sweepStaging]]
    * reclaims. */
  def sweep(store: Store, staging: String): Unit = {
    try store.deletePrefix(staging) catch { case _: Throwable => () }
    try store.deletePrefix(ZoneMaps.Prefix + staging) catch { case _: Throwable => () }
  }

  /** One published epoch object: the staged key it came from, its final
    * key and the uuid in that key. */
  final case class Published(staged: String, key: String, id: UUID)

  /** Publish one streaming epoch's staged objects under DETERMINISTIC
    * names, so a replayed epoch (the driver died after publishing but
    * before Spark committed the epoch) REWRITES its keys instead of
    * duplicating them. Object `i` of the staged keys in sorted order gets
    * the uuid `nameUUIDFromBytes("[sinkId:]table:epoch:i")`; with an empty
    * `sinkId` the seed is `table:epoch:i`, byte-identical to the format
    * before sink ids existed. A replay is idempotent as long as it lands
    * in the same UTC flush hour (one that crosses the hour re-lands under
    * the new hour; compaction or [[graft.operators.Upsert]] are the
    * recovery).
    *
    * Steps, in order:
    *  1. invalidate a manifest that covers the flush hour;
    *  2. refuse (before any store mutation) a replay that would rewrite a
    *     key a committed DML statement has since TOMBSTONED (the rewrite
    *     would resurrect a retired object) or VECTORED (its positions were
    *     computed against the first attempt's bytes), or delete a vectored
    *     leftover (its mapping would dangle). The chain is consulted for
    *     every epoch, not only when the epoch's first key exists: on a
    *     table without retention a DML statement may physically retire
    *     key 0 while key 1 still carries a vector;
    *  3. rename each staged object to its key. With `zoneMaps` its stats
    *     sidecar moves with it; otherwise a stats sidecar a previous
    *     attempt left at the key is deleted. A bloom at the key is always
    *     deleted (the sinks never write one, but a batch index pass may
    *     have). A stale sidecar under rewritten bytes could prune wrongly,
    *     so these deletes are not swallowed: a store fault fails the epoch
    *     and the replay heals;
    *  4. remove the keys a FATTER first attempt left at indices at and
    *     above the published count — contiguous by construction, so
    *     probing stops at the first missing key;
    *  5. invalidate the manifest again: a seal racing the publish heals.
    *
    * The caller owns the staging prefix and [[sweep]]s it either way. */
  def publishEpoch(store: Store, table: String, sinkId: String, epochId: Long,
                   flushTime: Instant, gzip: Boolean, zoneMaps: Boolean,
                   staged: Seq[String]): Seq[Published] = {
    val hour = LakeKeys.datePrefix(flushTime)
    Manifests.invalidateIfCovers(store, table, hour)
    def epochKey(i: Int): (UUID, String) = {
      val seed = if (sinkId.isEmpty) s"$table:$epochId:$i" else s"$sinkId:$table:$epochId:$i"
      val id = UUID.nameUUIDFromBytes(seed.getBytes(StandardCharsets.UTF_8))
      (id, LakeKeys.objectKey(table, flushTime, id, gzip))
    }
    val published = staged.sorted.zipWithIndex.map { case (src, i) =>
      val (id, dst) = epochKey(i)
      Published(src, dst, id)
    }
    val leftovers = Iterator.from(published.length).map(epochKey(_)._2)
      .takeWhile(store.exists).toSeq
    val view = LakeVersions.tableView(store, table)
    def chainGuard(k: String, rewriting: Boolean): Unit =
      // deleting a tombstoned leftover just finishes the interrupted retire
      require(!view.dvs.contains(k) && !(rewriting && view.excl.contains(k)),
        s"graft-lake sink: replaying epoch $epochId would " +
          s"${if (rewriting) "rewrite" else "delete"} $k, which a committed " +
          "DML statement has since tombstoned or vectored — that would " +
          s"corrupt. CALL lake.system.compact on '$table', then restart the stream.")
    published.foreach(p => chainGuard(p.key, rewriting = true))
    leftovers.foreach(chainGuard(_, rewriting = false))
    published.foreach { p =>
      store.rename(p.staged, p.key)
      if (zoneMaps) store.rename(ZoneMaps.statsKey(p.staged), ZoneMaps.statsKey(p.key))
      else store.delete(ZoneMaps.statsKey(p.key))
      store.delete(BloomMaps.bloomKey(p.key))
    }
    leftovers.foreach(remove(store, _, "graft-lake epoch leftover-cleanup"))
    Manifests.invalidateIfCovers(store, table, hour)
    published
  }
}
