package graft.lake

import graft.types.TableSchema

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.Instant
import java.util.UUID

import org.apache.spark.sql.DataFrame

/** Distributed lake writer: lands a DataFrame as typed-CSV(.gz) objects
  * under `YYYY/MM/DD/HH/{table}/{uuid}.csv[.gz]`.
  *
  * One object per non-empty partition — the Spark-native analogue of the
  * reference's one-object-per-batch flush (`Collector.ts:310-350`). Tasks
  * write directly to the store (any Hadoop scheme) with no driver
  * collection, so this scales with executor count; object size is governed
  * by upstream partitioning (repartition to target ~batchRecordLimit rows
  * per object, like the reference's 200k default).
  */
object LakeWriter {

  /** One landed lake object: its key, batch id (the key's uuid), and the
    * exact row count it holds. */
  final case class WrittenObject(key: String, id: UUID, records: Long)

  /** Write `df` (columns must be alignable to `schema`) as lake objects.
    * Each task streams its partition straight to the store and — when
    * `maxRecordsPerObject > 0` — rolls to a fresh object every time the
    * limit fills, so object size is enforced exactly in ONE pass with no
    * pre-count and no repartition (the analogue of the reference's
    * record-limit flush, `Collector.ts:281-283`). Returns one
    * [[WrittenObject]] per object (small: ~one per partition).
    *
    * Commit discipline: a task attempt that FAILS IN-JVM deletes every
    * object it created (the in-progress one and any it already rolled)
    * before propagating. That does not cover a hard-killed executor (no
    * JVM left to clean up) or a speculative twin that runs to completion
    * (no exception) — failure modes only a staged publish closes: write
    * with `keyPrefix` under a non-readable `_staging/` prefix and rename
    * exactly the returned keys into place after the job succeeds, as
    * [[graft.streaming.LakeSink]] and [[LakeMaintenance.compact]] do.
    * Direct `write()` to final keys is for bounded batch jobs where a
    * rerun-after-cleanup is acceptable. */
  /** With `zoneMaps = true`, every landed object also writes a
    * [[ZoneMaps]] sidecar (per-column min/max/nulls, O(1) tracking per
    * row) enabling [[LakeReader.readPruned]] data skipping; sidecars of
    * an aborted attempt are cleaned up with its data objects. */
  def write(df: DataFrame, schema: TableSchema, rootUri: String,
            flushTime: Instant = Instant.now(), gzip: Boolean = true,
            maxRecordsPerObject: Long = 0L, keyPrefix: String = "",
            zoneMaps: Boolean = false,
            bloomColumns: Seq[String] = Nil,
            bloomBits: Int = BloomMaps.DefaultBits,
            bloomHashes: Int = BloomMaps.DefaultHashes): Seq[WrittenObject] = {
    // validate bloom config on the DRIVER: a bad column name must fail
    // the call, not every task
    if (bloomColumns.nonEmpty) {
      new BloomMaps.Tracker(schema, bloomColumns, bloomBits, bloomHashes)
      ()
    }
    import org.apache.spark.sql.functions.col
    require(LakeKeys.isValidTableName(schema.name),
      s"table name '${schema.name}' is not a valid key segment (see LakeKeys.isValidTableName)")
    // Align column order + Spark types to the declared schema (declared
    // schemas are authoritative — SURVEY.md §7.4).
    val aligned = df.select(schema.columns.map { case (n, t) => col(n).cast(t.sparkType) }: _*)
    val table = schema.name
    val types = schema.colTypes
    val nCols = schema.columns.length
    val typesHeader = schema.typesHeader
    val namesHeader = schema.namesHeader
    // a direct write landing in a manifest-SEALED hour (backfills with
    // an explicit old flushTime) must invalidate the manifest BEFORE any
    // object appears — staged writes (keyPrefix) invalidate at their own
    // publish point instead. Invalidated AGAIN after the job (below):
    // a seal_manifest racing the in-flight job could republish a
    // manifest missing these objects; the post-invalidate heals it.
    if (keyPrefix.isEmpty)
      Manifests.invalidateIfCovers(new HadoopStore(rootUri), table,
        LakeKeys.datePrefix(flushTime))
    // equality-delete scope guard: a direct backfill (explicit PAST
    // flushTime) landing below a live equality delete's watermark would
    // be wrongly matched by it — refused loudly, compact is the remedy
    // ([[LakeEqDeletes.guardBackfill]]). The common now-hour flush never
    // pays the chain consult; staged writes (keyPrefix) publish through
    // a protocol commit that carries its own basis validation.
    if (keyPrefix.isEmpty &&
        LakeKeys.datePrefix(flushTime) < LakeKeys.datePrefix(Instant.now()))
      LakeEqDeletes.guardBackfill(new HadoopStore(rootUri), table,
        LakeKeys.datePrefix(flushTime))

    aligned.rdd.mapPartitions { rows =>
      if (!rows.hasNext) Iterator.empty
      else {
        val store = new HadoopStore(rootUri)
        val w = new RollingObjectWriter(store, schema, flushTime, gzip,
          maxRecordsPerObject, keyPrefix, zoneMaps, bloomColumns,
          bloomBits, bloomHashes)
        try {
          rows.foreach { r =>
            val vals = new Array[Any](nCols)
            var i = 0
            while (i < nCols) { vals(i) = r.get(i); i += 1 }
            w.write(vals)
          }
          w.finish().iterator
        } catch { case e: Throwable =>
          w.abort()
          throw e
        }
      }
    }.collect().toSeq match { case written =>
      if (keyPrefix.isEmpty)
        Manifests.invalidateIfCovers(new HadoopStore(rootUri), table,
          LakeKeys.datePrefix(flushTime))
      written
    }
  }

  /** The per-task writing core LakeWriter's partitions and the DSv2
    * write path ([[LakeDataSource]]) share: streams rows into typed-CSV
    * objects, rolling at `maxRecordsPerObject`, tracking zone-map/bloom
    * sidecars as rows pass. Opens LAZILY on the first row (an empty
    * partition creates nothing). NOT thread-safe; one instance per task
    * attempt.
    *
    * Abort discipline (the contract the inline writer had): [[abort]]
    * closes and deletes the in-progress object, every object this
    * attempt already rolled, and their sidecars — a retry or a
    * speculative twin re-writes the whole partition, so any key a
    * failed attempt leaves behind is permanent duplication. */
  private[lake] final class RollingObjectWriter(
      store: Store, schema: TableSchema, flushTime: Instant, gzip: Boolean,
      maxRecordsPerObject: Long, keyPrefix: String, zoneMaps: Boolean,
      bloomColumns: Seq[String],
      bloomBits: Int = BloomMaps.DefaultBits,
      bloomHashes: Int = BloomMaps.DefaultHashes) {
    private val types = schema.colTypes.toArray
    private val line = new StringBuilder(256)
    private val written = Seq.newBuilder[WrittenObject]
    private var id: UUID = null
    private var key: String = null
    private var out: BufferedWriter = null
    private var n = 0L
    private var tracker: ZoneMaps.Tracker = null
    private var blooms: BloomMaps.Tracker = null

    private def open(): Unit = {
      id = UUID.randomUUID()
      key = keyPrefix + LakeKeys.objectKey(schema.name, flushTime, id, gzip)
      val raw = store.create(key)
      out = new BufferedWriter(new OutputStreamWriter(
        if (gzip) GzipOut(raw) else raw, StandardCharsets.UTF_8), 256 * 1024)
      out.write(schema.typesHeader); out.write("\n")
      out.write(schema.namesHeader); out.write("\n")
      n = 0L
      if (zoneMaps) tracker = new ZoneMaps.Tracker(schema)
      if (bloomColumns.nonEmpty)
        blooms = new BloomMaps.Tracker(schema, bloomColumns, bloomBits, bloomHashes)
    }

    private def closeObject(): Unit = {
      out.close(); written += WrittenObject(key, id, n)
      if (zoneMaps) ZoneMaps.write(store, key, tracker.result())
      if (blooms != null) BloomMaps.write(store, key, blooms.result())
      out = null
    }

    /** Append one row (external-typed values in schema order). */
    def write(vals: Array[Any]): Unit = {
      if (out == null) open()
      else if (maxRecordsPerObject > 0 && n >= maxRecordsPerObject) {
        closeObject(); open()
      }
      if (tracker != null) tracker.observe(vals)
      if (blooms != null) blooms.observe(vals)
      line.setLength(0)
      TypedCsv.appendRow(line, vals, types)
      out.append(line.append('\n'))
      n += 1
    }

    /** Close the in-progress object and return every object written. */
    def finish(): Seq[WrittenObject] = {
      if (out != null) closeObject()
      written.result()
    }

    /** Delete everything this attempt created (objects + sidecars). */
    def abort(): Unit = {
      if (out != null) { try out.close() catch { case _: Throwable => () }; out = null }
      (written.result().map(_.key) ++ Option(key)).foreach { k =>
        try store.delete(k) catch { case _: Throwable => () }
        if (zoneMaps) {
          try store.delete(ZoneMaps.statsKey(k)) catch { case _: Throwable => () }
        }
        if (bloomColumns.nonEmpty) {
          try store.delete(BloomMaps.bloomKey(k)) catch { case _: Throwable => () }
        }
      }
    }
  }
}
