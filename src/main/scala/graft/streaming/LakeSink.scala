package graft.streaming

import graft.collector.{FlushInfo, FlushTrigger}
import graft.lake.{LakeWriter, StagedPublish}
import graft.types.TableSchema

import java.time.Instant

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/** Structured-Streaming lake sink: the scale path of the ingestion contract.
  *
  * Where [[graft.collector.Collector]] is the single-process edge (reference
  * parity), this sink lands an arbitrary-volume streaming DataFrame into the
  * same `YYYY/MM/DD/HH/table/uuid.csv.gz` layout: each micro-batch epoch is
  * the durability unit (the analogue of the reference's `TableBatch`,
  * `Collector.ts:74-90`), each task writes its partition as one object
  * directly to the store — no driver bottleneck, no shuffle beyond the
  * record-limit repartition.
  *
  * Trigger mapping (SURVEY.md §2A row 10): `batchAgeLimit` →
  * `Trigger.ProcessingTime` (timer-driven, strictly tighter than the
  * reference's lazy age check); `batchRecordLimit` → repartition so each
  * object holds ≤ limit rows; backpressure → native micro-batch admission
  * control.
  */
object LakeSink {

  /** Attach a lake sink to a streaming DataFrame. Caller starts the query.
    *
    * Micro-batch hygiene: the batch is persisted once, counted off the
    * cache, reshaped (repartition up so no writer exceeds the record limit;
    * coalesce down for small batches but never below `writerFloor` tasks —
    * a sub-limit batch must not serialize through one writer), and written
    * in a single pass. [[LakeWriter]] rolls objects at the record limit and
    * reports exact per-object counts, so each `FlushInfo` carries the real
    * object id (the key's uuid) and its real row count. */
  def writer(df: DataFrame, schema: TableSchema, rootUri: String,
             gzip: Boolean = true,
             recordLimit: Long = 200000L,
             ageLimit: java.time.Duration = java.time.Duration.ofHours(1),
             writerFloor: Int = 4,
             sinkId: String = "",
             onFlush: FlushInfo => Unit = _ => (),
             zoneMaps: Boolean = false): DataStreamWriter[Row] = {
    df.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(ageLimit.toMillis))
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val cached = batch.persist()
        try landBatch(cached, cached.count(), schema, rootUri, gzip, recordLimit,
          writerFloor, onFlush, epochId, sinkId, zoneMaps)
        finally { cached.unpersist(); () }
      }
  }

  /** Multi-table routing sink: `tableCol` carries each record's resolved
    * table name (the wildcard-family case at scale — `Collector.ts:95-96`
    * resolves `$`→token per record, so the table name is DATA, not
    * topology). Each micro-batch splits by table off one cached pass and
    * lands per-table objects with per-table schemas. The distinct-table
    * collect is bounded by family cardinality (metadata-sized).
    *
    * Records with a NULL route name are invalid input (the reference's
    * `track` requires a table, `Collector.ts:205-214`). They are never
    * silently lost: when `deadLetterTable` is set they land there (same
    * columns, minus the route column) for later inspection; otherwise
    * `onDropped` fires with the per-batch count — the routing analogue of
    * `Collector.onError`'s signal-never-throw contract. */
  def routedWriter(df: DataFrame, tableCol: String, schemaFor: String => TableSchema,
                   rootUri: String,
                   gzip: Boolean = true,
                   recordLimit: Long = 200000L,
                   ageLimit: java.time.Duration = java.time.Duration.ofHours(1),
                   writerFloor: Int = 4,
                   sinkId: String = "",
                   onFlush: FlushInfo => Unit = _ => (),
                   deadLetterTable: Option[String] = None,
                   onDropped: Long => Unit = n =>
                     System.err.println(s"[graft.LakeSink] dropped $n record(s) with null route"),
                   zoneMaps: Boolean = false): DataStreamWriter[Row] = {
    import org.apache.spark.sql.functions.col
    df.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(ageLimit.toMillis))
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val cached = batch.persist()
        try {
          val counts = cached.groupBy(col(tableCol)).count().collect()
            .map(r => (if (r.isNullAt(0)) null else r.getString(0)) -> r.getLong(1))
          counts.find(_._1 == null).foreach { case (_, n) =>
            deadLetterTable match {
              case Some(dlt) =>
                val sub = cached.filter(col(tableCol).isNull).drop(tableCol)
                landBatch(sub, n, schemaFor(dlt), rootUri, gzip, recordLimit,
                  writerFloor, onFlush, epochId, sinkId, zoneMaps)
              case None => onDropped(n)
            }
          }
          counts.filter(_._1 != null).foreach { case (table, n) =>
            val sub = cached.filter(col(tableCol) === table).drop(tableCol)
            landBatch(sub, n, schemaFor(table), rootUri, gzip, recordLimit,
              writerFloor, onFlush, epochId, sinkId, zoneMaps)
          }
        } finally { cached.unpersist(); () }
      }
  }

  /** Shared micro-batch landing: reshape (repartition up so no writer
    * exceeds the record limit; coalesce down but never below `writerFloor`)
    * and write in one pass with exact per-object accounting.
    *
    * Commit protocol (the piece task-level delete-on-failure can't give):
    * tasks write under a job-scoped `_staging/` prefix, and only the keys
    * the SUCCESSFUL attempts reported are published, so a hard-killed
    * executor's partial object or a speculative twin that ran to
    * completion never reaches readable keys. The publish is
    * [[graft.lake.StagedPublish.publishEpoch]], the one both streaming
    * sinks share: deterministic per-(sinkId, table, epoch, index) names
    * that a replay rewrites, the merge-on-read × replay chain guard,
    * stale-sidecar deletes and leftover cleanup. `sinkId` folds into the
    * name seed: two CONCURRENT writers landing the same table (separate
    * checkpoints, both starting at epoch 0) would otherwise overwrite
    * each other's objects. It must be STABLE across restarts of the same
    * query — a per-run random id would break replay idempotence.
    *
    * FlushInfo.ageMillis on this path is the epoch's
    * land-to-publish duration (streaming has no per-record arrival clock —
    * a semantic delta from the Collector's batch age, noted here on
    * purpose). */
  private[streaming] def landBatch(batch: DataFrame, n: Long, schema: TableSchema,
                        rootUri: String, gzip: Boolean, recordLimit: Long,
                        writerFloor: Int, onFlush: FlushInfo => Unit,
                        epochId: Long, sinkId: String = "",
                        zoneMaps: Boolean = false,
                        publishStore: graft.lake.Store = null): Unit =
    if (n > 0) {
      val parts = ((n + recordLimit - 1) / recordLimit).toInt
      val cur = batch.rdd.getNumPartitions
      val sized =
        if (parts > cur) batch.repartition(parts)
        else batch.coalesce(math.max(math.min(writerFloor, cur), parts))
      val trigger =
        if (n >= recordLimit) FlushTrigger.RecordLimit else FlushTrigger.AgeLimit
      val t0 = System.currentTimeMillis()
      val flushTime = Instant.now()
      val staging = StagedPublish.stagingPrefix(s"${schema.name}-$epochId")
      // publishStore is a test seam: the driver-side publish runs against
      // an injectable Store so its behavior under S3-like semantics —
      // copy+delete rename, transient put failures — is spec-pinned
      // (FaultyStoreSpec) even though the sandbox has no real object
      // store. Task-side object writes (LakeWriter) construct their own
      // per-executor HadoopStore either way.
      val store = if (publishStore != null) publishStore
                  else new graft.lake.HadoopStore(rootUri)
      try {
        val written = LakeWriter.write(sized, schema, rootUri, flushTime, gzip,
          maxRecordsPerObject = recordLimit, keyPrefix = s"$staging/",
          zoneMaps = zoneMaps)
        val published = StagedPublish.publishEpoch(store, schema.name, sinkId,
          epochId, flushTime, gzip, zoneMaps, written.map(_.key))
        val records = written.map(w => w.key -> w.records).toMap
        val age = System.currentTimeMillis() - t0
        published.foreach { p =>
          onFlush(FlushInfo(schema.name, p.id, trigger, records(p.staged), age, p.key))
        }
      } finally StagedPublish.sweep(store, staging)
    }

  /** Start with availableNow semantics (drain whatever is buffered, then
    * keep running on the age-limit timer). */
  def start(df: DataFrame, schema: TableSchema, rootUri: String,
            gzip: Boolean = true,
            recordLimit: Long = 200000L,
            onFlush: FlushInfo => Unit = _ => ()): StreamingQuery =
    writer(df, schema, rootUri, gzip, recordLimit, onFlush = onFlush).start()
}
