package graft.streaming

import graft.SparkSuite
import graft.collector.{FlushInfo, FlushTrigger}
import graft.lake.LakeReader
import graft.operators.Scoring
import graft.types.{ColType, TableSchema}

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

case class Ev(event_id: Long, ts: Timestamp, user_id: Long, value: Double)
case class REv(table: String, event_id: Long, v: Double)
case class Pur(pid: Long, pts: Timestamp, puser: Long)

class StreamingSpec extends SparkSuite {
  import scala.collection.mutable

  private def ts(s: String) = Timestamp.from(java.time.Instant.parse(s))

  // avoidHourBoundary is inherited from SparkSuite (shared with
  // FaultyStoreSpec — any replay-style test needs it)

  test("LakeSink lands micro-batches as lake objects with FlushInfo") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val root = tempUri("graft-sink-spec")
    val schema = TableSchema("stream_ev", Seq(
      "event_id" -> ColType.CInteger, "ts" -> ColType.CTime,
      "user_id" -> ColType.CInteger, "value" -> ColType.CFloat))
    val ms = MemoryStream[Ev]
    val flushes = mutable.Buffer.empty[FlushInfo]
    // data lands BEFORE start: AvailableNow snapshots offsets at start time
    ms.addData((0 until 250).map(i =>
      Ev(i, ts("2024-07-01T00:00:00Z"), i % 7, i * 1.5)))
    val q = LakeSink.writer(ms.toDF(), schema, root, recordLimit = 100,
      onFlush = flushes.synchronized { flushes += _ })
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(flushes.nonEmpty)
    assert(flushes.map(_.trigger).distinct == Seq(FlushTrigger.RecordLimit))
    val back = LakeReader.read(spark, root, "stream_ev")
    assert(back.count() == 250)
    assert(back.agg(countDistinct("user_id")).collect()(0).getLong(0) == 7)
    // staged publish leaves no unpublished attempt output behind, and the
    // final object ids are the deterministic per-(table, epoch, index)
    // names a replayed epoch would rewrite idempotently
    val store = new graft.lake.HadoopStore(root)
    assert(store.list("_staging").isEmpty, "staging prefix must be cleaned")
    // default (no sinkId) keeps the ORIGINAL seed format — byte-identical
    // names across code versions are what make epoch replay idempotent
    // for streams that landed objects before sinkId existed
    val expectIds = flushes.indices.map(i => java.util.UUID.nameUUIDFromBytes(
      s"stream_ev:0:$i".getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    assert(flushes.map(_.id).toSet == expectIds.toSet)
  }

  test("replayed epoch rewrites the same objects instead of duplicating") {
    avoidHourBoundary()
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val root = tempUri("graft-replay-spec")
    val schema = TableSchema("replay_ev", Seq(
      "event_id" -> ColType.CInteger, "ts" -> ColType.CTime,
      "user_id" -> ColType.CInteger, "value" -> ColType.CFloat))
    val data = (0 until 120).map(i => Ev(i, ts("2024-07-01T00:00:00Z"), i % 3, i * 1.0))
    // land the SAME data twice as epoch 0 of two fresh queries (fresh
    // checkpoint = the replay a driver crash between publish and epoch
    // commit produces): deterministic per-(table, epoch, index) names must
    // make the second landing overwrite the first, not double it
    (1 to 2).foreach { _ =>
      val ms = MemoryStream[Ev]
      ms.addData(data)
      val q = LakeSink.writer(ms.toDF(), schema, root, recordLimit = 100)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    assert(LakeReader.read(spark, root, "replay_ev").count() == 120,
      "epoch replay within the hour must be idempotent")
  }

  test("replay with fewer objects deletes the first attempt's leftovers") {
    avoidHourBoundary()
    import spark.implicits._
    val root = tempUri("graft-shrink-spec")
    val schema = TableSchema("shrink_ev", Seq(
      "event_id" -> ColType.CInteger, "ts" -> ColType.CTime,
      "user_id" -> ColType.CInteger, "value" -> ColType.CFloat))
    def land(n: Int): Unit = {
      val df = (0 until n).map(i => Ev(i, ts("2024-07-01T00:00:00Z"), i % 3, i * 1.0))
        .toDF("event_id", "ts", "user_id", "value")
      LakeSink.landBatch(df, n.toLong, schema, root, gzip = true,
        recordLimit = 100L, writerFloor = 1, onFlush = _ => (), epochId = 0L)
    }
    land(250) // 3 objects at indices 0..2
    land(120) // replayed epoch produces only 2 — index 2 must be deleted
    val store = new graft.lake.HadoopStore(root)
    val keys = LakeReader.listTableKeys(store, "shrink_ev", None)
    assert(keys.length == 2, s"leftover objects must be removed, got $keys")
    assert(LakeReader.read(spark, root, "shrink_ev").count() == 120)
  }

  test("streamed-then-pruned: sink sidecars skip objects with NO compaction; replay keeps them fresh") {
    avoidHourBoundary()
    import spark.implicits._
    val root = tempUri("graft-zm-sink-spec")
    val schema = TableSchema("zm_ev", Seq(
      "event_id" -> ColType.CInteger, "ts" -> ColType.CTime,
      "user_id" -> ColType.CInteger, "value" -> ColType.CFloat))
    def land(epoch: Long, base: Int, zm: Boolean = true): Unit = {
      val df = (0 until 100).map(i => Ev(i, ts("2024-07-01T00:00:00Z"), i % 3,
          (base + i).toDouble))
        .toDF("event_id", "ts", "user_id", "value")
      LakeSink.landBatch(df, 100L, schema, root, gzip = true, recordLimit = 100L,
        writerFloor = 1, onFlush = _ => (), epochId = epoch, zoneMaps = zm)
    }
    land(0, 0); land(1, 1000); land(2, 2000)
    def dec(l: Long) = java.math.BigDecimal.valueOf(l)
    // straight off the stream — no compaction ran — the pruned read must
    // open ONLY the epoch whose value band intersects
    val (df1, rep1) = LakeReader.readPruned(spark, root, "zm_ev", "value",
      dec(1000), dec(1099))
    assert(rep1.candidates == 3 && rep1.kept == 1,
      s"streamed sidecars must skip 2 of 3 objects: $rep1")
    assert(df1.count() == 100)
    // a replayed epoch REWRITES its sidecar with the new bytes: the old
    // band stops matching, the new one matches
    land(1, 5000)
    val (df2, rep2) = LakeReader.readPruned(spark, root, "zm_ev", "value",
      dec(1000), dec(1099))
    assert(rep2.kept == 0 && df2.count() == 0,
      s"replayed epoch must not match its OLD band: $rep2")
    val (df3, rep3) = LakeReader.readPruned(spark, root, "zm_ev", "value",
      dec(5000), dec(5099))
    assert(rep3.kept == 1 && df3.count() == 100,
      s"replayed epoch must match its NEW band: $rep3")
    // a replay with zone maps OFF must delete the stale sidecar (fresh
    // bytes under an old sidecar is the one config that could prune
    // wrongly) — the object degrades to conservative always-keep
    land(2, 9000, zm = false)
    val (_, rep4) = LakeReader.readPruned(spark, root, "zm_ev", "value",
      dec(-50), dec(-1))
    assert(rep4.kept == 1,
      s"stat-less rewritten object must be kept conservatively: $rep4")
    // and no staged sidecars linger
    val store = new graft.lake.HadoopStore(root)
    assert(store.list(graft.lake.ZoneMaps.Prefix + "_staging").isEmpty,
      "staged sidecars must be cleaned with the staging prefix")
    // per-hour metadata rollups compose with STREAMED sidecars too: the
    // stat-less rewritten epoch (zm = false above) poisons its — only —
    // hour, and the hybrid walk scans exactly that hour back to an exact
    // answer (everything streamed this run shares one flush hour, so the
    // one bucket must be scanned, not metadata-served)
    val hours = LakeReader.statsByHour(store, "zm_ev")
    assert(hours.size == 1 && hours.head._2.isEmpty,
      s"a stat-less object must poison its hour bucket: $hours")
    val hybrid = LakeReader.statsByHourHybrid(spark, root, "zm_ev")
    assert(hybrid.size == 1 && !hybrid.head._3 &&
      hybrid.head._2.records == 300,
      s"the hybrid walk must scan the poisoned hour to exactness: $hybrid")
  }

  test("concurrent writers with distinct sinkIds never overwrite each other") {
    avoidHourBoundary()
    import spark.implicits._
    val root = tempUri("graft-sinkid-spec")
    val schema = TableSchema("dual_ev", Seq(
      "event_id" -> ColType.CInteger, "ts" -> ColType.CTime,
      "user_id" -> ColType.CInteger, "value" -> ColType.CFloat))
    // two independent queries (separate checkpoints → both at epoch 0)
    // land the same table; distinct sinkIds keep their key spaces disjoint
    Seq("ckpt-a" -> 100, "ckpt-b" -> 70).foreach { case (sinkId, n) =>
      val df = (0 until n).map(i => Ev(i, ts("2024-07-01T00:00:00Z"), i % 3, i * 1.0))
        .toDF("event_id", "ts", "user_id", "value")
      LakeSink.landBatch(df, n.toLong, schema, root, gzip = true,
        recordLimit = 1000L, writerFloor = 1, onFlush = _ => (),
        epochId = 0L, sinkId = sinkId)
    }
    assert(LakeReader.read(spark, root, "dual_ev").count() == 170,
      "same (table, epoch, index) from two sinkIds must land as distinct objects")
  }

  test("rate source drives a windowed aggregation (declared source smoke)") {
    val agg = StreamOps.tumbling(
      spark.readStream.format("rate").option("rowsPerSecond", "500").load(),
      "timestamp", "0 seconds", "1 second",
      keys = Seq.empty, aggs = Seq(count(lit(1)).as("n")))
    val q = agg.writeStream.outputMode("update").format("memory")
      .queryName("rate_out").start()
    val deadline = System.currentTimeMillis() + 30000
    var rows = 0L
    while (rows == 0 && System.currentTimeMillis() < deadline) {
      Thread.sleep(500)
      rows = spark.table("rate_out").count()
    }
    q.stop()
    assert(rows > 0, "rate source produced no windows within 30s")
  }

  test("sink volume: 200k rows roll into record-limit-bounded objects") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val root = tempUri("graft-vol-spec")
    val schema = TableSchema("vol_ev", Seq(
      "event_id" -> ColType.CInteger, "ts" -> ColType.CTime,
      "user_id" -> ColType.CInteger, "value" -> ColType.CFloat))
    val ms = MemoryStream[Ev]
    (0 until 4).foreach { b =>
      ms.addData((0 until 50000).map(i =>
        Ev(b * 50000L + i, ts("2024-07-01T00:00:00Z"), i % 97, i * 0.25)))
    }
    val flushes = mutable.Buffer.empty[FlushInfo]
    val q = LakeSink.writer(ms.toDF(), schema, root, recordLimit = 60000L,
      onFlush = f => flushes.synchronized { flushes += f })
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(flushes.map(_.records).sum == 200000L)
    assert(flushes.forall(_.records <= 60000L)) // roll limit enforced exactly
    assert(LakeReader.read(spark, root, "vol_ev").count() == 200000L)
  }

  test("routed sink splits a wildcard-family stream into per-table objects") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val root = tempUri("graft-routed-spec")
    def schemaFor(t: String) = TableSchema(t, Seq(
      "event_id" -> ColType.CInteger, "v" -> ColType.CFloat))
    val ms = MemoryStream[REv]
    // wildcard family game_event_$: tokens "pool" (every 3rd) and "main"
    ms.addData((0 until 60).map(i =>
      REv(s"game_event_${if (i % 3 == 0) "pool" else "main"}", i, i * 0.5)))
    val flushes = mutable.Buffer.empty[FlushInfo]
    val q = LakeSink.routedWriter(ms.toDF(), "table", schemaFor, root,
      onFlush = f => flushes.synchronized { flushes += f })
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(flushes.map(_.table).toSet == Set("game_event_pool", "game_event_main"))
    assert(flushes.filter(_.table == "game_event_pool").map(_.records).sum == 20L)
    val pool = LakeReader.read(spark, root, "game_event_pool")
    val main = LakeReader.read(spark, root, "game_event_main")
    assert(pool.count() == 20 && main.count() == 40)
    assert(pool.columns.toSeq.take(2) == Seq("event_id", "v")) // tableCol dropped
  }

  test("routed sink lands null-route records in the dead-letter table") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val root = tempUri("graft-dlq-spec")
    def schemaFor(t: String) = TableSchema(t, Seq(
      "event_id" -> ColType.CInteger, "v" -> ColType.CFloat))
    val ms = MemoryStream[REv]
    ms.addData((0 until 30).map(i =>
      REv(if (i % 10 == 0) null else "game_event_main", i, i * 0.5)))
    val q = LakeSink.routedWriter(ms.toDF(), "table", schemaFor, root,
      deadLetterTable = Some("_dead_letter"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(LakeReader.read(spark, root, "game_event_main").count() == 27)
    val dl = LakeReader.read(spark, root, "_dead_letter")
    assert(dl.count() == 3) // nothing silently lost
    assert(dl.select("event_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 10L, 20L))
  }

  test("routed sink reports null-route drops through onDropped") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val root = tempUri("graft-drop-spec")
    def schemaFor(t: String) = TableSchema(t, Seq(
      "event_id" -> ColType.CInteger, "v" -> ColType.CFloat))
    val ms = MemoryStream[REv]
    ms.addData((0 until 20).map(i =>
      REv(if (i < 5) null else "game_event_main", i, i * 0.5)))
    val dropped = new java.util.concurrent.atomic.AtomicLong(0)
    val q = LakeSink.routedWriter(ms.toDF(), "table", schemaFor, root,
      onDropped = dropped.addAndGet(_))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(dropped.get() == 5L)
    assert(LakeReader.read(spark, root, "game_event_main").count() == 15)
  }

  test("tumbling window with watermark drops late data") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Ev]
    val agg = StreamOps.tumbling(ms.toDF(), "ts", "10 minutes", "5 minutes",
      keys = Seq.empty, aggs = Seq(count(lit(1)).as("n")))
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("tumbling_out").start()
    // batch 1: two on-time events in [00:00, 00:05)
    ms.addData(Ev(1, ts("2024-07-01T00:01:00Z"), 1, 1.0),
               Ev(2, ts("2024-07-01T00:03:00Z"), 1, 1.0))
    q.processAllAvailable()
    // batch 2: advance watermark far ahead, then a LATE event for the old window
    ms.addData(Ev(3, ts("2024-07-01T01:00:00Z"), 1, 1.0))
    q.processAllAvailable()
    ms.addData(Ev(4, ts("2024-07-01T00:02:00Z"), 1, 1.0)) // late by ~1h > watermark
    q.processAllAvailable()
    ms.addData(Ev(5, ts("2024-07-01T02:00:00Z"), 1, 1.0)) // push watermark to close 01:00
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("tumbling_out")
      .select(col("window.start").as("ws"), col("n")).collect()
      .map(r => (r.getTimestamp(0).toInstant.toString, r.getLong(1))).toMap
    // late event 4 was dropped: window 00:00 closed with n=2
    assert(rows("2024-07-01T00:00:00Z") == 2L)
    assert(rows("2024-07-01T01:00:00Z") == 1L)
  }

  test("session windows split on gap and close via watermark") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Ev]
    val agg = StreamOps.sessions(ms.toDF(), "ts", "10 minutes", "30 minutes",
      keys = Seq(col("user_id")), aggs = Seq(count(lit(1)).as("n")))
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("sessions_out").start()
    // user 1: 00:00 and 00:10 fall in one session (gap < 30m); 01:00 starts
    // a new one (50m > gap) — mirrors q29_sessionize's semantics.
    ms.addData(Ev(1, ts("2024-07-01T00:00:00Z"), 1, 1.0),
               Ev(2, ts("2024-07-01T00:10:00Z"), 1, 1.0),
               Ev(3, ts("2024-07-01T01:00:00Z"), 1, 1.0))
    q.processAllAvailable()
    // advance the watermark past 01:30 (last session end) + 10m horizon so
    // append mode emits the closed sessions
    ms.addData(Ev(4, ts("2024-07-01T03:00:00Z"), 2, 1.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sessions_out")
      .select(col("user_id"), col("session_window.start").as("ws"),
        col("session_window.end").as("we"), col("n")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toInstant.toString,
        r.getTimestamp(2).toInstant.toString, r.getLong(3))).toSet
    // session end = last event + gap; the late-closing user-2 session is
    // still open (watermark never passed it) → exactly user 1's two sessions
    assert(rows == Set(
      (1L, "2024-07-01T00:00:00Z", "2024-07-01T00:40:00Z", 2L),
      (1L, "2024-07-01T01:00:00Z", "2024-07-01T01:30:00Z", 1L)))
  }

  test("streaming dedup within watermark") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = StreamOps.dedup(ms.toDF(), "ts", "1 hour", Seq("event_id"))
      .writeStream.outputMode("append").format("memory").queryName("dedup_out").start()
    ms.addData(Ev(1, ts("2024-07-01T00:00:00Z"), 1, 1.0),
               Ev(1, ts("2024-07-01T00:00:30Z"), 1, 1.0), // dup id
               Ev(2, ts("2024-07-01T00:01:00Z"), 2, 2.0))
    q.processAllAvailable()
    ms.addData(Ev(1, ts("2024-07-01T00:05:00Z"), 1, 1.0)) // dup again, within horizon
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dedup_out").count() == 2)
  }

  test("stream-stream interval join matches within the bound only") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val views = MemoryStream[Ev]
    val purch = MemoryStream[Pur]
    val joined = StreamOps.intervalJoin(
      views.toDF(), "ts", purch.toDF(), "pts", "10 minutes",
      col("user_id") === col("puser"), before = "0 seconds", after = "1 hour")
      .select("event_id", "pid")
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("ssjoin_out").start()
    views.addData(Ev(1, ts("2024-07-01T00:00:00Z"), 1, 0.0),
                  Ev(2, ts("2024-07-01T00:05:00Z"), 2, 0.0))
    purch.addData(Pur(100, ts("2024-07-01T00:30:00Z"), 1),  // within 1h of view 1
                  Pur(101, ts("2024-07-01T02:00:00Z"), 2))  // outside view 2's bound
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ssjoin_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 100L)))
  }

  test("stream-stream LEFT OUTER interval join: null-padded non-matches emit only after the watermark passes the join window") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val views = MemoryStream[Ev]
    val purch = MemoryStream[Pur]
    val joined = StreamOps.intervalJoinOuter(
      views.toDF(), "ts", purch.toDF(), "pts", "10 minutes",
      col("user_id") === col("puser"), before = "0 seconds", after = "1 hour")
      .select("event_id", "pid")
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("ssjoin_outer_out").start()
    views.addData(Ev(1, ts("2024-07-01T00:00:00Z"), 1, 0.0),  // will match
                  Ev(2, ts("2024-07-01T00:05:00Z"), 2, 0.0))  // never matches
    purch.addData(Pur(100, ts("2024-07-01T00:30:00Z"), 1))
    q.processAllAvailable()
    // the watermark hasn't passed view 2's window [00:05, 01:05] yet: the
    // match may stream out, but the null-padded non-match must NOT —
    // a premature emit here would be retracted-row semantics Spark doesn't
    // have, i.e. wrong data
    def rows() = spark.table("ssjoin_outer_out").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(rows() == Set((1L, 100L)))
    // advance event time on BOTH streams so the watermark (min of the two)
    // clears 01:05 + 10min; the no-data micro-batch that follows evicts
    // view 2's buffered row and emits it null-padded
    views.addData(Ev(9, ts("2024-07-01T03:00:00Z"), 9, 0.0))
    purch.addData(Pur(900, ts("2024-07-01T03:00:00Z"), 9))
    q.processAllAvailable()
    q.stop()
    assert(rows() == Set((1L, 100L), (2L, -1L), (9L, 900L)))
  }

  test("lake as streaming source: new objects discovered incrementally") {
    import graft.lake.LakeWriter
    import spark.implicits._
    val root = tempUri("graft-lake-src")
    val schema = TableSchema("events_s", Seq(
      "event_id" -> ColType.CInteger, "ts" -> ColType.CTime,
      "user_id" -> ColType.CInteger, "value" -> ColType.CFloat))
    def batch(from: Int, n: Int) = (from until from + n)
      .map(i => Ev(i, ts("2024-07-01T00:00:00Z"), i % 5, i * 1.0)).toDF()
    LakeWriter.write(batch(0, 100), schema, root)
    val stream = LakeReader.readStreamOf(spark, root, "events_s", schema)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    val q = stream.writeStream.outputMode("complete").format("memory")
      .queryName("lake_src_out").start()
    q.processAllAvailable()
    assert(spark.table("lake_src_out").agg(sum("n")).collect()(0).getLong(0) == 100)
    // a later flush lands new objects: the SAME query discovers them
    LakeWriter.write(batch(100, 50), schema, root)
    q.processAllAvailable()
    assert(spark.table("lake_src_out").agg(sum("n")).collect()(0).getLong(0) == 150)
    q.stop()
    // _event_hour partition column parses from the object keys
    val hours = LakeReader.read(spark, root, "events_s")
      .select("_event_hour").distinct().collect()
    assert(hours.length == 1 && hours(0).getTimestamp(0) != null)
  }

  test("lake glob stream resumes from its checkpoint across a restart: guarded-scheme offsets re-resolve, nothing replays") {
    import graft.lake.LakeWriter
    import spark.implicits._
    val root = tempUri("graft-lake-rs")
    val schema = TableSchema("events_r", Seq(
      "event_id" -> ColType.CInteger, "ts" -> ColType.CTime,
      "user_id" -> ColType.CInteger, "value" -> ColType.CFloat))
    def batch(from: Int, n: Int) = (from until from + n)
      .map(i => Ev(i, ts("2024-07-01T00:00:00Z"), i % 5, i * 1.0)).toDF()
    LakeWriter.write(batch(0, 100), schema, root)
    val ckpt = tempDir("graft-lake-rs-ckpt")
      .toFile.getAbsolutePath
    // incarnation 1: drains the first flush, checkpoints graftlake://
    // offsets (the r19 guarded scheme), stops
    val got1 = new java.util.concurrent.atomic.AtomicLong
    val q1 = LakeReader.readStreamOf(spark, root, "events_r", schema)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got1.addAndGet(df.count()); ()
      }.start()
    q1.processAllAvailable(); q1.stop()
    assert(got1.get() == 100L, "first incarnation drains the flush")
    LakeWriter.write(batch(100, 50), schema, root)
    // incarnation 2, rebuilt through readStreamOf (which re-registers
    // the guard token): the checkpointed graftlake:// offsets resolve
    // and ONLY the new flush delivers — a failed resolution would
    // error, a ledger reset would replay all 150
    val got2 = new java.util.concurrent.atomic.AtomicLong
    val q2 = LakeReader.readStreamOf(spark, root, "events_r", schema)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got2.addAndGet(df.count()); ()
      }.start()
    q2.processAllAvailable(); q2.stop()
    assert(got2.get() == 50L,
      s"the restart must deliver exactly the new flush, got ${got2.get()}")
  }

  test("flatMapGroupsWithState: inactivity summary emits on timeout, state evicted") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Keyed]
    val out = StreamOps.inactivitySummaries(ms.toDS(), "10 minutes",
      gapMs = 30L * 60 * 1000)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("fmgws_out").start()
    // user 1: burst of two events
    ms.addData(Keyed(1, ts("2024-07-01T00:00:00Z")),
               Keyed(1, ts("2024-07-01T00:10:00Z")))
    q.processAllAvailable()
    // user 2 far in the future: watermark (02:50) passes user 1's timeout
    // (last event 00:10 + 30m gap = 00:40) → user 1's summary emits
    ms.addData(Keyed(2, ts("2024-07-01T03:00:00Z")))
    q.processAllAvailable()
    // one more tick so the timeout fires in a batch after the watermark moved
    ms.addData(Keyed(2, ts("2024-07-01T03:05:00Z")))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("fmgws_out").as[ActivitySummary].collect()
      .map(a => (a.key, a.n_events, a.first_ts.toInstant.toString,
        a.last_ts.toInstant.toString)).toSet
    assert(rows == Set((1L, 2L, "2024-07-01T00:00:00Z", "2024-07-01T00:10:00Z")))
  }

  test("flatMapGroupsWithState: bursts in one batch split on the gap") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Keyed]
    val out = StreamOps.inactivitySummaries(ms.toDS(), "10 minutes",
      gapMs = 30L * 60 * 1000)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("fmgws_split_out").start()
    // two bursts of key 1 arrive in the SAME micro-batch, 6h apart: the
    // first must emit from the data path (no timeout has fired yet)
    ms.addData(Keyed(1, ts("2024-07-01T00:00:00Z")),
               Keyed(1, ts("2024-07-01T00:05:00Z")),
               Keyed(1, ts("2024-07-01T06:00:00Z")))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("fmgws_split_out").as[ActivitySummary].collect()
      .map(a => (a.key, a.n_events, a.first_ts.toInstant.toString,
        a.last_ts.toInstant.toString)).toSet
    assert(rows == Set((1L, 2L, "2024-07-01T00:00:00Z", "2024-07-01T00:05:00Z")))
  }

  test("streaming curation: quality gate + Bloom screen + exact anti-join, per-row state-free") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.graft.exprs
    // Static deduplicated corpus; its Bloom filter is built ONCE in batch
    // (at steady state: persisted next to the corpus) and probed per
    // arriving row — the whole curation chain below is stateless, so it
    // runs identically in a micro-batch stream and needs no watermark.
    val corpus = Seq((100L, "existing corpus document body"),
                     (101L, "another corpus document body")).toDF("doc_id", "text")
    val bloom = corpus
      .select(exprs.bloom_agg(md5($"text"), 1000L, 8192L).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    // weights: every token weighs -1 milli; bias 2 → docs with >2 tokens
    // fail the quality gate (deterministic, no float in sight)
    val w = Seq.fill(64)(-1L)
    val ms = MemoryStream[(Long, String)]
    val scored = Scoring.linearScore(
        ms.toDF().toDF("doc_id", "text"), "text", w, biasMilli = 2L)
      .filter($"keep")
    // d17's shape on a stream: Bloom misses are DEFINITELY novel and pass
    // free; only hits (true dups + ~fpp false positives) pay the exact
    // stream-static anti-join, so a false positive can never drop a row
    val hit = exprs.bloom_might_contain(bloom, md5($"text"))
    val verified = scored.filter(hit)
      .join(corpus.select(md5($"text").as("_ch")), md5($"text") === $"_ch", "left_anti")
    val curated = scored.filter(!hit).unionByName(verified)
      .select("doc_id", "text")
    val q = curated.writeStream.outputMode("append").format("memory")
      .queryName("curation_out").start()
    ms.addData(
      (1L, "short novel"),                    // keep: 2 tokens, novel
      (2L, "existing corpus document body"),  // low quality AND a dup → drop
      (3L, "too many tokens in this one"),    // quality fail (6 tokens) → drop
      (4L, "corpus body"))                    // keep: 2 tokens, novel
    q.processAllAvailable()
    q.stop()
    val out = spark.table("curation_out").collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 4L))
  }

  test("streaming funnel buffers until quiet, matches the batch fold on out-of-order input") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[TypedEvent]
    val out = StreamOps.funnelResults(ms.toDS(), "10 minutes",
      Seq("view", "click", "buy"), quietMs = 30L * 60 * 1000)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("funnel_out").start()
    // batch 1: user 1's view and BUY arrive; the click is still in flight.
    // user 3's click-before-view arrives complete.
    ms.addData(
      TypedEvent(1, ts("2024-07-01T00:00:00Z"), "view"),
      TypedEvent(1, ts("2024-07-01T00:30:00Z"), "buy"),
      TypedEvent(3, ts("2024-07-01T00:05:00Z"), "click"),
      TypedEvent(3, ts("2024-07-01T00:15:00Z"), "view"))
    q.processAllAvailable()
    // batch 2: user 1's click lands LATE but inside the watermark (00:25 >
    // watermark 00:20). An eager per-batch fold would already have refused
    // the buy (no click at the time); buffering admits all three stages.
    ms.addData(TypedEvent(1, ts("2024-07-01T00:25:00Z"), "click"))
    q.processAllAvailable()
    assert(spark.table("funnel_out").isEmpty, "nothing may emit before quiescence")
    // advance the watermark past both keys' quiet timeouts; one more tick
    // lets the timeouts fire in the following micro-batch
    ms.addData(TypedEvent(9, ts("2024-07-01T03:00:00Z"), "view"))
    q.processAllAvailable()
    ms.addData(TypedEvent(9, ts("2024-07-01T03:05:00Z"), "view"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("funnel_out").as[FunnelHit].collect()
      .filter(_.key != 9L).map(h => (h.key, h.stage, h.ts.getTime)).toSet
    // the batch twin on the same events is the ground truth
    val batchEvents = Seq(
      (1L, ts("2024-07-01T00:00:00Z").getTime, 1L, "view"),
      (1L, ts("2024-07-01T00:30:00Z").getTime, 2L, "buy"),
      (1L, ts("2024-07-01T00:25:00Z").getTime, 3L, "click"),
      (3L, ts("2024-07-01T00:05:00Z").getTime, 4L, "click"),
      (3L, ts("2024-07-01T00:15:00Z").getTime, 5L, "view")
    ).toDF("u", "t", "id", "tp")
    val expected = graft.operators.Funnel.stages(batchEvents,
        col("u"), col("t"), col("id"), col("tp"),
        Seq("view", "click", "buy"), Seq("s0", "s1", "s2"))
      .collect().flatMap { r =>
        (0 to 2).flatMap(i => if (r.isNullAt(i + 1)) None
          else Some((r.getLong(0), i, r.getLong(i + 1))))
      }.toSet
    assert(got == expected, s"stream $got != batch $expected")
    // and concretely: user 1 converts fully, user 3 only views
    assert(got.map(h => (h._1, h._2)) == Set((1L, 0), (1L, 1), (1L, 2), (3L, 0)))
  }

  test("streaming funnel maxEventsPerKey: a never-quiet bot key fails loudly, not OOM") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[TypedEvent]
    val out = StreamOps.funnelResults(ms.toDS(), "10 minutes",
      Seq("view", "click"), quietMs = 30L * 60 * 1000, maxEventsPerKey = 5)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("funnel_guard_out").start()
    // key 7 is a bot: 6 stage events, never quiet — over the bound of 5
    ms.addData((0 until 6).map(i =>
      TypedEvent(7, ts(f"2024-07-01T00:0$i:00Z"), "view")): _*)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    val msg = Option(e.getCause).map(_.toString).getOrElse("") + e.getMessage
    assert(msg.contains("maxEventsPerKey=5") && msg.contains("7"),
      s"guard must name the bot key and bound: $msg")
    try q.stop() catch { case _: Throwable => () }
    // under the bound: same data minus one event completes and emits
    val ms2 = MemoryStream[TypedEvent]
    val out2 = StreamOps.funnelResults(ms2.toDS(), "10 minutes",
      Seq("view", "click"), quietMs = 30L * 60 * 1000, maxEventsPerKey = 5)
    val q2 = out2.writeStream.outputMode("append").format("memory")
      .queryName("funnel_guard_ok").start()
    ms2.addData((0 until 5).map(i =>
      TypedEvent(7, ts(f"2024-07-01T00:0$i:00Z"), "view")): _*)
    q2.processAllAvailable()
    ms2.addData(TypedEvent(9, ts("2024-07-01T03:00:00Z"), "view"))
    q2.processAllAvailable()
    ms2.addData(TypedEvent(9, ts("2024-07-01T03:05:00Z"), "view"))
    q2.processAllAvailable()
    q2.stop()
    assert(spark.table("funnel_guard_ok").as[FunnelHit].collect()
      .exists(h => h.key == 7L && h.stage == 0),
      "at the bound the funnel completes and emits")
  }

  test("streaming funnel state survives a query restart from its checkpoint") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ckpt = tempDir("graft-funnel-ckpt").toString
    val ms = MemoryStream[TypedEvent]
    val out = StreamOps.funnelResults(ms.toDS(), "10 minutes",
      Seq("view", "buy"), quietMs = 30L * 60 * 1000)
    // foreachBatch, not the memory sink: memory cannot resume from a
    // checkpoint, and resumption is exactly what this test exercises
    val hits = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, Int, Long)]()
    def start() = out.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[FunnelHit], _: Long) =>
        batch.collect().foreach(h => hits.add((h.key, h.stage, h.ts.getTime))); ()
      }.start()
    // first incarnation buffers the view, emits nothing, stops
    val q1 = start()
    ms.addData(TypedEvent(1, ts("2024-07-01T00:00:00Z"), "view"))
    q1.processAllAvailable()
    q1.stop()
    assert(hits.isEmpty)
    // second incarnation resumes from the checkpointed state store: the
    // buy must join the RESTORED buffered view, and advancing the
    // watermark must emit the complete funnel from state written by the
    // previous query incarnation
    val q2 = start()
    ms.addData(TypedEvent(1, ts("2024-07-01T00:05:00Z"), "buy"))
    q2.processAllAvailable()
    ms.addData(TypedEvent(9, ts("2024-07-01T03:00:00Z"), "view"))
    q2.processAllAvailable()
    ms.addData(TypedEvent(9, ts("2024-07-01T03:05:00Z"), "view"))
    q2.processAllAvailable()
    q2.stop()
    import scala.jdk.CollectionConverters._
    val got = hits.asScala.toSet.filter(_._1 == 1L).map(h => (h._2, h._3))
    assert(got == Set((0, ts("2024-07-01T00:00:00Z").getTime),
                      (1, ts("2024-07-01T00:05:00Z").getTime)),
      s"restored state must complete the funnel across the restart: $got")
  }

  test("stream-static enrichment join stays broadcast") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val ms = MemoryStream[Ev]
    val joined = StreamOps.enrich(ms.toDF().withColumnRenamed("user_id", "uid"), dim,
      col("uid") === col("user_id"), "left_outer")
      .select("event_id", "tier")
    val sq2 = joined.writeStream.outputMode("append").format("memory")
      .queryName("enrich_out").start()
    ms.addData(Ev(10, ts("2024-07-01T00:00:00Z"), 1, 1.0),
               Ev(11, ts("2024-07-01T00:00:00Z"), 9, 1.0))
    sq2.processAllAvailable()
    sq2.stop()
    val out = spark.table("enrich_out").collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out(10L) == "gold")
    assert(out(11L) == null)
  }

  test("streaming heavy hitters: merged MG candidates + exact recount ≡ the batch operator") {
    import graft.operators.Frequency
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[String]
    val cands = StreamOps.heavyHitterCandidates(ms.toDS(), 5, 100) // φ=5% ⇒ k=20
    val q = cands.writeStream.outputMode("update").format("memory")
      .queryName("hh_cands").start()
    // the FrequencySpec corpus: 4 planted heavies + a 1200-value singleton
    // tail (N=2000: alpha/beta/gamma pass 5%, delta at 1.5% does not),
    // drained in 3 interleaved micro-batches
    val heavy = Seq.fill(400)("alpha") ++ Seq.fill(250)("beta") ++
      Seq.fill(120)("gamma") ++ Seq.fill(30)("delta")
    val tail = (0 until 1200).map(i => s"tail-$i")
    val rows = (heavy ++ tail).zipWithIndex
      .sortBy { case (_, i) => (i % 7, i) }.map(_._1) // deterministic interleave
    rows.grouped((rows.size + 2) / 3).foreach { b =>
      ms.addData(b: _*); q.processAllAvailable()
    }
    q.stop()
    val t = spark.table("hh_cands").as[(String, Long, Long)].collect()
    val n = t.map(_._3).max
    assert(n == rows.size.toLong, s"final trigger must have seen all rows: $n")
    val finalRows = t.filter(_._3 == n)
    val candidates = finalRows.map(_._1).distinct.toSeq
    assert(candidates.size <= 20, s"state stays ≤ k counters: $candidates")
    // weights bracket true counts: w ≤ c ≤ w + n/(k+1)
    finalRows.foreach { case (v, w, _) =>
      val c = rows.count(_ == v).toLong
      assert(w <= c && c <= w + n / 21, s"$v: weight=$w true=$c")
    }
    val static = rows.toDF("v")
    val exact = Frequency.heavyHitters(static, "v", 5, 100)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(exact == Set(("alpha", 400L), ("beta", 250L), ("gamma", 120L)))
    // the streamed summary nominates a SUPERSET of the true heavy hitters...
    assert(exact.map(_._1).subsetOf(candidates.toSet),
      s"candidates $candidates must cover $exact")
    // ...and the exact recount of that candidate list over the retained
    // corpus decides identically to the batch operator
    val recounted = Frequency.recount(static, "v", candidates, 5, 100)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(recounted == exact, s"$recounted vs $exact")
  }

  test("streaming heavy hitters over a LONG domain ≡ the batch operator's typed Long path") {
    import graft.operators.Frequency
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Long]
    // typed generic variant — Long IDs without a String round-trip
    val cands = StreamOps.heavyHitterCandidatesOf[Long](ms.toDS(), 5, 100)
    val q = cands.writeStream.outputMode("update").format("memory")
      .queryName("hh_cands_long").start()
    // 2 planted heavy IDs over a 700-ID singleton tail, N=1000
    val heavy = Seq.fill(200)(777L) ++ Seq.fill(100)(42L)
    val tail = (0 until 700).map(i => 100000L + i)
    val rows = (heavy ++ tail).zipWithIndex
      .sortBy { case (_, i) => (i % 5, i) }.map(_._1)
    rows.grouped((rows.size + 2) / 3).foreach { b =>
      ms.addData(b: _*); q.processAllAvailable()
    }
    q.stop()
    val t = spark.table("hh_cands_long").as[(Long, Long, Long)].collect()
    val n = t.map(_._3).max
    assert(n == rows.size.toLong)
    val finalRows = t.filter(_._3 == n)
    assert(finalRows.map(_._1).distinct.length <= 20,
      "state stays ≤ k counters")
    finalRows.foreach { case (v, w, _) =>
      val c = rows.count(_ == v).toLong
      assert(w <= c && c <= w + n / 21, s"$v: weight=$w true=$c")
    }
    // the batch typed-Long operator decides the same corpus identically
    val static = rows.toDF("v")
    val exact = Frequency.heavyHitters(static, "v", 5, 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == Set((777L, 200L), (42L, 100L)))
    val candidates = finalRows.map(_._1).distinct.toSeq
    assert(exact.map(_._1).subsetOf(candidates.toSet))
    val recounted = Frequency.recount(static, "v", candidates, 5, 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(recounted == exact, s"$recounted vs $exact")
  }
}
