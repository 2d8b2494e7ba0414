package graft.collector

import graft.lake.{GzipOut, LakeKeys, Store, TypedCsv}
import graft.types.{ColType, TableSchema, Wildcard}

import java.io.{BufferedOutputStream, FileInputStream, FileOutputStream, OutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.time.Instant
import java.util.UUID
import java.util.concurrent.{CompletableFuture, Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.util.{Failure, Success, Try}
import scala.util.control.NonFatal

/** Flush trigger taxonomy, matching the reference's `FlushTrigger` enum
  * (`/root/reference/lib/collector/Collector.ts:11-21`). */
sealed trait FlushTrigger
object FlushTrigger {
  /** Downstream buffer full (reference: `Writable.write() === false`). */
  case object Backpressure extends FlushTrigger
  /** Batch reached `batchRecordLimit` records (`Collector.ts:281-283`). */
  case object RecordLimit extends FlushTrigger
  /** Batch older than `batchAgeLimit` ms (`Collector.ts:284-286`). */
  case object AgeLimit extends FlushTrigger
  /** `stop()` drain (`Collector.ts:182-200`). */
  case object Stop extends FlushTrigger
}

/** Flush event payload (reference `FlushInfo`, `Collector.ts:60-72`). */
final case class FlushInfo(table: String, id: UUID, trigger: FlushTrigger,
                           records: Long, ageMillis: Long, key: String)

/** Collector configuration (reference `CollectorConfig`,
  * `Collector.ts:43-57`): per-table/per-column logical-type overrides keyed
  * by the *schema* table name (wildcard `$` form — `Collector.ts:228,257`,
  * CHANGELOG 0.1.1), gzip on by default, 200k-record / 1h flush thresholds
  * (`Collector.ts:177-179`). `schemas` additionally allows declaring a table
  * up-front, making the schema authoritative instead of first-record
  * inferred (SURVEY.md §7.4 delta 1 — inference remains the fallback).
  * `batchByteLimit` backs the Backpressure flush trigger: the reference
  * detects pressure when its downstream `Writable` buffer fills
  * (`Collector.ts:19-20,278-280`); our spool is a synchronous local file, so
  * the equivalent pressure signal is the spooled-byte volume of the batch —
  * a bound on local disk held per table. The spool is plain UTF-8 CSV
  * whether or not `batchZip` is on (deflate runs in the upload), so the
  * limit bounds the temp file exactly. */
final case class CollectorConfig(
    columnTypes: Map[String, Map[String, ColType]] = Map.empty,
    schemas: Map[String, TableSchema] = Map.empty,
    batchZip: Boolean = true,
    batchRecordLimit: Long = 200000L,
    batchAgeLimitMillis: Long = 3600000L,
    batchByteLimit: Long = 256L * 1024 * 1024)

/** Driver-side event Collector with the reference's exact semantics:
  * records spool straight to a local temp file (O(1) heap per record,
  * `Collector.ts:238-254`), one in-flight batch per resolved table name,
  * flush → one lake object under `YYYY/MM/DD/HH/table/uuid.csv[.gz]`.
  * `track` only encodes: gzip runs on an upload thread while the store
  * reads the spool ([[graft.lake.GzipOut.reading]]), as the reference's
  * zlib pipeline stage runs off the caller's thread. Up to
  * [[Collector.UploadThreads]] uploads overlap, as the reference's
  * fire-and-forget flushes do; further flushed batches wait in an
  * unbounded queue. `onFlush`/`onError` callbacks of flushes run one at a
  * time, on an upload thread, in the order the flushes were triggered.
  *
  * Scale note: this facade is the ingestion *edge* (the reference is a
  * single-process library embedded in an app server). The 100-TB path is
  * [[graft.streaming.LakeSink]], which lands whole streaming DataFrames with
  * the same codec/key layout from every executor in parallel; both sides of
  * the contract are byte-compatible.
  */
final class Collector(store: Store, config: CollectorConfig = CollectorConfig()) {

  private final class Batch(
      val id: UUID,
      val table: String, // resolved name → lake key
      schema: TableSchema,
      val tempFile: java.io.File,
      val out: OutputStream,
      val started: Long) {
    var records: Long = 0L
    var bytes: Long = 0L // spooled UTF-8 bytes (backpressure gauge)
    // the row encoder's state, reused for every record of the batch
    val names: Array[String] = schema.columnNames.toArray
    val types: Array[ColType] = schema.colTypes.toArray
    // a schema inferred from a record that repeats a field repeats the
    // column: every copy takes the value of its name's first column
    val first: Array[Int] = names.map(names.indexOf(_))
    val repeats: Boolean = first.indices.exists(j => first(j) != j)
    val position: Map[String, Int] = Map.from(names.zip(first))
    val values = new Array[Any](names.length)
  }

  private val batches = mutable.HashMap.empty[String, Batch]
  // track's scratch space, reused for every record (track holds the
  // monitor): the row's text, its chars, its UTF-8 bytes
  private val line = new StringBuilder(256)
  private var lineChars = new Array[Char](256)
  private var lineBytes = new Array[Byte](3 * 256)
  private var stopped = false
  private val flushListeners = mutable.ArrayBuffer.empty[FlushInfo => Unit]
  private val errorListeners = mutable.ArrayBuffer.empty[Throwable => Unit]

  /** Store uploads run off the caller thread (the reference's flush is
    * fire-and-forget from `track`, `Collector.ts:280-286`) on daemon
    * threads, so `track` never waits for deflate or the store. */
  private val uploadPool = Executors.newFixedThreadPool(Collector.UploadThreads, {
    val n = new AtomicInteger(0)
    (r: Runnable) => {
      val t = new Thread(r, s"graft-collector-upload-${n.incrementAndGet()}")
      t.setDaemon(true); t
    }
  })
  /** Completes once the last triggered flush has run its callbacks. */
  private var published: CompletableFuture[Unit] = CompletableFuture.completedFuture(())

  def onFlush(f: FlushInfo => Unit): Unit = synchronized { flushListeners += f }
  def onError(f: Throwable => Unit): Unit = synchronized { errorListeners += f }

  /** Errors are a signal, never a throw (`Collector.ts:205-208`); with no
    * receivers (e.g. after stop()'s purge) they go to stderr, matching the
    * reference's fire-into-purged-signal no-op but leaving a trace. */
  private def emitError(e: Throwable): Unit = {
    val ls = synchronized { errorListeners.toList }
    if (ls.isEmpty) System.err.println(s"[graft.collector] unhandled: $e")
    else ls.foreach(_.apply(e))
  }

  /** Ingest one record. Records are ordered field sequences (first record
    * defines column order when no schema is declared, matching the
    * reference's for-in order semantics, `Collector.ts:291-308`). Errors
    * surface on `onError`, never thrown (`Collector.ts:205-208`). */
  def track(table: String, record: Seq[(String, Any)], token: Option[String] = None): Unit = synchronized {
    if (stopped) { emitError(new IllegalStateException(s"track('$table') after stop()")); return }
    try {
      val resolved = Wildcard.resolve(table, token)
      var batch = batches.getOrElse(resolved, null)
      if (batch == null) {
        // A resolved name with a '/' (or other non-segment character) would
        // land keys whose positional parse attributes the data to a DIFFERENT
        // table — unreadable as written. Signal, never throw (the error
        // contract), and drop the record. Checked only here: a batch is
        // opened for valid names only.
        if (!LakeKeys.isValidTableName(resolved)) {
          emitError(new IllegalArgumentException(
            s"resolved table name '$resolved' is not a valid lake key segment " +
              s"(table='$table', token=$token)"))
          return
        }
        batch = createBatch(table, resolved, record)
        batches(resolved) = batch
      }
      writeRecord(batch, record)
      // Trigger checks in the reference's priority order (backpressure →
      // record limit → age; age is lazy — only examined when the next record
      // arrives, `Collector.ts:278-287`).
      if (batch.bytes >= config.batchByteLimit)
        flushBatch(batch, FlushTrigger.Backpressure)
      else if (batch.records >= config.batchRecordLimit)
        flushBatch(batch, FlushTrigger.RecordLimit)
      else if (System.currentTimeMillis() - batch.started >= config.batchAgeLimitMillis)
        flushBatch(batch, FlushTrigger.AgeLimit)
    } catch { case NonFatal(e) => emitError(e) }
  }

  private def createBatch(schemaTable: String, resolved: String, first: Seq[(String, Any)]): Batch = {
    val schema = config.schemas.getOrElse(schemaTable, inferSchema(schemaTable, resolved, first))
    val id = UUID.randomUUID()
    // the spool is plain CSV; with batchZip the upload deflates it
    val tmp = Files.createTempFile(s"graft-analytics-$id", ".csv").toFile
    val out = new BufferedOutputStream(new FileOutputStream(tmp), 64 * 1024)
    out.write(s"${schema.typesHeader}\n${schema.namesHeader}\n".getBytes(StandardCharsets.UTF_8))
    new Batch(id, resolved, schema, tmp, out, System.currentTimeMillis())
  }

  /** First-record inference: column order = record field order, type = per
    * column override else value inference (`Collector.ts:294-306`). */
  private def inferSchema(schemaTable: String, resolved: String, first: Seq[(String, Any)]): TableSchema = {
    val overrides = config.columnTypes.getOrElse(schemaTable, Map.empty)
    TableSchema(resolved, first.map { case (name, v) =>
      name -> overrides.getOrElse(name, ColType.infer(v))
    })
  }

  /** Project `record` onto the batch's columns in one walk — a field
    * usually sits at its schema position, else its name is looked up; a
    * later duplicate overwrites an earlier one, unknown names are
    * ignored, missing columns stay null — and spool it as one CSV line. */
  private def writeRecord(batch: Batch, record: Seq[(String, Any)]): Unit = {
    val vals = batch.values
    java.util.Arrays.fill(vals.asInstanceOf[Array[AnyRef]], null)
    val it = record.iterator
    var k = 0
    while (it.hasNext) {
      val (name, v) = it.next()
      val i =
        if (k < vals.length && batch.names(k) == name) batch.first(k)
        else batch.position.getOrElse(name, -1)
      if (i >= 0) vals(i) = v
      k += 1
    }
    if (batch.repeats) vals.indices.foreach(j => vals(j) = vals(batch.first(j)))
    line.setLength(0)
    TypedCsv.appendRow(line, vals, batch.types)
    line.append('\n')
    batch.bytes += spoolLine(batch.out) // the row and its '\n'
    batch.records += 1
  }

  /** Write [[line]] to `out` as UTF-8 and return the bytes written (the
    * backpressure gauge counts encoded bytes: a char count undercounts
    * non-ASCII text up to 3×). The bytes are the JDK UTF-8 encoder's: a
    * well-formed surrogate pair takes 4 bytes, an UNPAIRED surrogate
    * becomes the 1-byte replacement '?'. */
  private def spoolLine(out: OutputStream): Int = {
    val n = line.length
    if (lineChars.length < n) {
      lineChars = new Array[Char](2 * n)
      lineBytes = new Array[Byte](3 * lineChars.length) // ≤ 3 bytes a char
    }
    val cs = lineChars
    val bs = lineBytes
    line.underlying.getChars(0, n, cs, 0)
    var i = 0
    var j = 0
    while (i < n) {
      val c = cs(i)
      if (c < 0x80) { bs(j) = c.toByte; j += 1 }
      else if (c < 0x800) {
        bs(j) = (0xc0 | c >> 6).toByte
        bs(j + 1) = (0x80 | c & 0x3f).toByte
        j += 2
      } else if (Character.isHighSurrogate(c) && i + 1 < n && Character.isLowSurrogate(cs(i + 1))) {
        val cp = Character.toCodePoint(c, cs(i + 1))
        bs(j) = (0xf0 | cp >> 18).toByte
        bs(j + 1) = (0x80 | cp >> 12 & 0x3f).toByte
        bs(j + 2) = (0x80 | cp >> 6 & 0x3f).toByte
        bs(j + 3) = (0x80 | cp & 0x3f).toByte
        j += 4; i += 1 // consume the pair
      } else if (Character.isSurrogate(c)) { bs(j) = '?'; j += 1 }
      else {
        bs(j) = (0xe0 | c >> 12).toByte
        bs(j + 1) = (0x80 | c >> 6 & 0x3f).toByte
        bs(j + 2) = (0x80 | c & 0x3f).toByte
        j += 3
      }
      i += 1
    }
    out.write(bs, 0, j)
    j
  }

  private def flushBatch(batch: Batch, trigger: FlushTrigger): Unit = {
    // Remove first: the next track() opens a fresh batch (`Collector.ts:315`).
    batches.remove(batch.table)
    // The flush TIME (→ the object's hour prefix) and the batch age are
    // captured at trigger time, not upload time — under an upload
    // backlog the upload may run in a later hour, and the key must reflect
    // when the batch was flushed (reference: key composed in flushBatch,
    // `Collector.ts:341-350`).
    val flushedAt = Instant.now()
    val age = System.currentTimeMillis() - batch.started
    // Chained before the upload starts, so the callbacks run on the upload
    // thread that completes the later of this upload and the previous
    // flush's callbacks: one flush at a time, in trigger order. A failed
    // upload completes too (its error is the outcome) and releases the next.
    val uploaded = new CompletableFuture[Try[FlushInfo]]
    published = published.handle((_, _) => ())
      .thenCombine(uploaded, (_: Unit, outcome: Try[FlushInfo]) => publish(outcome))
    uploadPool.execute { () =>
      try { uploaded.complete(upload(batch, trigger, flushedAt, age)); () }
      finally if (!uploaded.isDone) // a fatal error escaped the upload
        uploaded.complete(Failure(new IllegalStateException(s"upload of batch ${batch.id} aborted")))
    }
  }

  /** Deflate (with `batchZip`) and put one flushed batch; the spool is
    * always disposed (`Collector.ts:352-362`). */
  private def upload(batch: Batch, trigger: FlushTrigger, flushedAt: Instant, age: Long): Try[FlushInfo] =
    try Try {
      batch.out.close()
      val key = LakeKeys.objectKey(batch.table, flushedAt, batch.id, config.batchZip)
      // flushes land in the current hour — above any legal manifest
      // seal point — but the guard is one exists() probe per flush,
      // re-run AFTER the put so a seal racing the upload heals
      graft.lake.Manifests.invalidateIfCovers(store, batch.table,
        LakeKeys.datePrefix(flushedAt))
      // deflate runs here, on the upload thread, as the store reads
      val spool = new FileInputStream(batch.tempFile)
      val in = if (config.batchZip) GzipOut.reading(spool) else spool
      try store.put(key, in) finally in.close() // not every Store closes it
      graft.lake.Manifests.invalidateIfCovers(store, batch.table,
        LakeKeys.datePrefix(flushedAt))
      FlushInfo(batch.table, batch.id, trigger, batch.records, age, key)
    } finally { batch.tempFile.delete(); () }

  private def publish(outcome: Try[FlushInfo]): Unit =
    try outcome match {
      case Success(info) => synchronized(flushListeners.toList).foreach(_.apply(info))
      case Failure(e) => emitError(e)
    } catch { case NonFatal(e) => emitError(e) }

  /** Graceful drain: disable intake, flush every pending batch with trigger
    * `Stop`, await every in-flight upload and its callbacks (the
    * reference's `Promise.allSettled`, `Collector.ts:182-200`), then detach
    * listeners. The await happens OUTSIDE the monitor — callbacks briefly
    * take it to snapshot listeners. */
  def stop(): Unit = {
    val last = synchronized {
      if (stopped) return
      stopped = true
      batches.values.toList.foreach(b => flushBatch(b, FlushTrigger.Stop))
      published
    }
    try { last.get(); () } catch { case NonFatal(e) => emitError(e) }
    synchronized {
      // listeners purged after drain, like the reference's signal purge
      flushListeners.clear()
      errorListeners.clear()
    }
    uploadPool.shutdown()
  }
}

object Collector {
  /** Upload threads per Collector: how many flushed batches deflate and
    * put at once. */
  val UploadThreads: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  /** Convenience for literal records: `rec("a" -> 1, "b" -> "x")`. */
  def rec(fields: (String, Any)*): Seq[(String, Any)] = fields
}
