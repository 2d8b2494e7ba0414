package graft.lake

import java.io.{BufferedReader, BufferedWriter, InputStreamReader, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.Instant
import java.time.temporal.ChronoUnit
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

/** SEALED-HOURS table manifest: one object (`_manifests/<table>`)
  * listing every data key in hours ≤ `upTo`, so a read of a years-old
  * table costs ONE manifest GET plus a live walk of the unsealed tail —
  * not one LIST call per hour directory of the table's lifetime. At
  * warehouse scale the hour listing is the driver's metadata bottleneck
  * (the reason table formats carry manifests); this is that idea
  * re-derived on the reference's key layout, as a pure ACCELERATOR:
  *
  *  - '''advisory, never authoritative''': a missing, torn, or
  *    unparseable manifest just falls back to the raw walk
  *    ([[LakeReader.listTableKeys]] consults it, everything else is
  *    unchanged);
  *  - '''write-invalidated''': every publish path that can land or
  *    remove a data object in a covered hour (backfill writes,
  *    compaction, retention) deletes the manifest FIRST — a reader can
  *    never miss an object that a raw listing would have shown. Normal
  *    present-time flushes land in hours above `upTo` and leave it
  *    untouched (one `exists` probe per publish);
  *  - '''maintenance-built''': [[seal]] belongs with the nightly
  *    compaction/index jobs ([[LakeMaintenance]]); `upTo` must sit
  *    strictly below the current hour, so the open wall-clock hour — the
  *    one still receiving flushes — is never sealed.
  *
  * Format (gzip text, staged-published like every lake object):
  * {{{
  * graft-manifest v1 upTo=YYYY/MM/DD/HH count=N
  * <object key>                                  — N lines, sorted
  * }}}
  * The strict read re-validates everything (header shape, count, every
  * key parses to this table, no key above `upTo`) — anything off reads
  * as "no manifest", never as wrong keys. */
object Manifests {

  val Prefix = "_manifests/"

  def manifestKey(table: String): String = s"$Prefix$table"

  final case class Manifest(upTo: String, keys: Seq[String])

  /** The header alone (upTo prefix) — ONE ranged-size read, so callers
    * whose hour range lies entirely above `upTo` can skip downloading
    * a years-old table's full key list (the streaming-discovery hot
    * path: a frontier-bounded trigger must never pay a full manifest
    * parse just to filter everything out). None = absent/unreadable. */
  def readHeader(store: Store, table: String): Option[String] = {
    val raw = try store.open(manifestKey(table))
              catch { case _: Exception => return None }
    try {
      val rd = new BufferedReader(new InputStreamReader(
        new GZIPInputStream(raw), StandardCharsets.UTF_8))
      HeaderRe.findFirstMatchIn(Option(rd.readLine()).getOrElse(""))
        .map(_.group(1))
    } catch { case _: Exception => None }
    finally { try raw.close() catch { case _: Exception => () } }
  }

  /** Strict parse; None = absent or not trustworthy (fall back to the
    * raw walk — the conservative direction). */
  def read(store: Store, table: String): Option[Manifest] = {
    val key = manifestKey(table)
    val in = try Some(store.open(key)) catch { case _: Exception => None }
    in.flatMap { raw =>
      try {
        val rd = new BufferedReader(new InputStreamReader(
          new GZIPInputStream(raw), StandardCharsets.UTF_8))
        try {
          val header = rd.readLine()
          val m = HeaderRe.findFirstMatchIn(Option(header).getOrElse(""))
            .getOrElse(return None)
          val upTo = m.group(1)
          val count = m.group(2).toInt
          val keys = Vector.newBuilder[String]
          var i = 0
          var line = rd.readLine()
          while (line != null) {
            keys += line
            i += 1
            line = rd.readLine()
          }
          val ks = keys.result()
          val ok = i == count && ks.forall { k =>
            LakeKeys.parseKey(k).exists(_._2 == table) &&
              LakeKeys.hourPrefixOf(k) <= upTo
          }
          if (ok) Some(Manifest(upTo, ks)) else None
        } finally rd.close()
      } catch { case _: Exception => None }
      // rd.close() closes raw too on the normal path; this covers the
      // GZIP-constructor-throws path (corrupt manifest), where `raw`
      // would otherwise leak a handle on EVERY read of the bad object
      finally { try raw.close() catch { case _: Exception => () } }
    }
  }

  private val HeaderRe =
    """^graft-manifest v1 upTo=(\d{4}/\d{2}/\d{2}/\d{2}) count=(\d+)$""".r

  /** Build (or rebuild) the manifest from a raw listing of hours ≤
    * `upTo`. Staged-published onto a CLEARED destination (rename onto an
    * existing key degrades to copy+delete on every real filesystem, which
    * a reader could catch mid-copy): the old manifest is deleted first,
    * so readers see old → absent (raw walk) → new, never a torn one (and
    * the strict read would reject a torn one anyway). Returns the number
    * of keys sealed.
    *
    * OPERATIONAL CONTRACT (the compact/stream window discipline): do not
    * seal while a write into hours ≤ `upTo` is IN FLIGHT. A backfill
    * invalidates the manifest before AND after it lands, which heals a
    * seal that ran mid-job — but a seal whose listing raced the landing
    * objects and whose publish outlived the writer's post-invalidate
    * would keep a key list missing those objects. Normal present-time
    * ingestion is never affected (`upTo` sits strictly below the current
    * hour); the hazard is exclusively seal-vs-backfill/compaction into
    * the same sealed past, which one maintenance scheduler serializes
    * naturally. */
  def seal(store: Store, table: String, upTo: Instant): Long = {
    val hour = upTo.truncatedTo(ChronoUnit.HOURS)
    require(hour.isBefore(Instant.now().truncatedTo(ChronoUnit.HOURS)),
      s"seal upTo=$hour must lie strictly below the current hour — the " +
        "open wall-clock hour still receives flushes")
    val keys = LakeReader.rawListTableKeys(store, table,
      Some((Instant.EPOCH, hour))).sorted
    val upToPfx = LakeKeys.datePrefix(hour)
    val staging = StagedPublish.stagingPrefix("manifest")
    // any failure between create and the rename landing deletes the
    // staged key — no other job's staging sweep covers `_staging/
    // manifest-*`, so a leaked orphan would accumulate forever
    try {
      val out = new BufferedWriter(new OutputStreamWriter(
        new GZIPOutputStream(store.create(staging)), StandardCharsets.UTF_8))
      try {
        out.write(s"graft-manifest v1 upTo=$upToPfx count=${keys.size}\n")
        keys.foreach { k => out.write(k); out.write("\n") }
      } finally out.close()
      // clear the destination so the rename is a fresh-key move (atomic),
      // not a copy-over-existing a reader could catch half-written
      store.delete(manifestKey(table))
      store.rename(staging, manifestKey(table))
    } catch { case e: Throwable =>
      try store.delete(staging) catch { case _: Exception => () }
      throw e
    }
    keys.size.toLong
  }

  /** Delete the manifest iff it covers `hourPrefix` — the write-side
    * guard every publish path runs BEFORE landing or removing a data
    * object AND AGAIN AFTER (`hourPrefix` = the lowest hour the
    * operation touches): the pre-call keeps readers from missing an
    * already-landed object, the post-call heals a [[seal]] that raced
    * the in-flight operation (see seal's operational contract). Absent
    * manifest: one `exists` probe and done — the common
    * present-time-flush case stays O(1). An unreadable manifest is
    * deleted too (readers ignore it, but leaving garbage invites
    * confusion).
    *
    * The guard is CONVENTIONAL, not structural — it lives at every
    * data-object publish/retire site: `LakeWriter.write` (direct,
    * non-staged), the Collector flush, `StagedPublish.publishEpoch`
    * (both streaming sinks), `LakeWrite.commit`,
    * `LakeMaintenance.compact`, and both expire variants. A NEW path
    * that lands or deletes a data object must call it too, or sealed
    * reads go quietly stale (ManifestSpec pins each existing site). */
  def invalidateIfCovers(store: Store, table: String, hourPrefix: String): Unit = {
    val key = manifestKey(table)
    // the HEADER alone decides (one ranged read, never the full key
    // list): a sealed years-old table's every present-time flush lands
    // in hours above `upTo`, and that hot path must stay one exists()
    // probe plus one header read — not two full manifest downloads per
    // publish. A parse-able header with `upTo < hourPrefix` proves the
    // manifest cannot cover this publish regardless of body state (a
    // body-corrupt manifest is already ignored by the strict read);
    // anything else — covering, or unreadable header — deletes.
    if (store.exists(key)) readHeader(store, table) match {
      case Some(upTo) if upTo < hourPrefix =>
        () // covers only older hours than this publish
      case _ => store.delete(key)
    }
  }
}
