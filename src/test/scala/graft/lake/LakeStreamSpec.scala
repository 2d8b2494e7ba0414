package graft.lake

import graft.SparkSuite
import graft.types.{ColType, TableSchema}

import java.time.Instant

import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The DSv2 micro-batch source ([[LakeMicroBatchStream]]):
  * `spark.readStream.format("graft-lake")`. Query-level behavior runs
  * real streams against real checkpoints; ledger mechanics (sealing,
  * admission, replay determinism) drive the stream object directly —
  * offsets are pure data, so the unit layer IS the protocol. */
class LakeStreamSpec extends SparkSuite {

  private val schema = TableSchema("st", Seq(
    "id" -> ColType.CInteger, "tag" -> ColType.CString))

  private def freshRoot() = tempUri("graft-stream-spec")
  private def freshCkpt() =
    tempDir("graft-stream-ckpt").toFile.getAbsolutePath

  /** n rows landed at `hour` as ~`objects` rolled objects. */
  private def land(root: String, hour: String, ids: Range, objects: Int = 2): Unit = {
    import spark.implicits._
    val df = ids.map(i => (i.toLong, s"t${i % 3}")).toDF("id", "tag")
      .orderBy("id").coalesce(1)
    LakeWriter.write(df, schema, root, Instant.parse(hour),
      maxRecordsPerObject = math.max(1L, (ids.size + objects - 1) / objects))
  }

  private def readStreamDf(root: String, opts: (String, String)*) = {
    val base = spark.readStream.format("graft-lake").option("table", "st")
    opts.foldLeft(base) { case (b, (k, v)) => b.option(k, v) }.load(root)
  }

  test("AvailableNow drains the lake once and equals the batch read, _event_hour included") {
    val root = freshRoot()
    land(root, "2024-06-10T08:00:00Z", 0 until 40)
    land(root, "2024-06-10T09:00:00Z", 40 until 100, objects = 3)
    spark.catalog.dropTempView("st_drain") // idempotent re-runs
    val q = readStreamDf(root).writeStream.format("memory")
      .queryName("st_drain").outputMode("append")
      .option("checkpointLocation", freshCkpt())
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("st_drain")
    val batch = spark.read.format("graft-lake").option("table", "st").load(root)
    assert(streamed.schema == batch.schema)
    assert(streamed.count() == 100)
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0)
  }

  test("incremental discovery and exactly-once across a checkpoint restart") {
    val root = freshRoot()
    val ckpt = freshCkpt()
    land(root, "2024-06-10T08:00:00Z", 0 until 30)
    val got = new scala.collection.mutable.ArrayBuffer[(Long, Long)] // (batch, id)
    def start() = readStreamDf(root).writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, bid: Long) =>
        val ids = df.select("id").collect().map(_.getLong(0))
        got.synchronized { got ++= ids.map(bid -> _) }; ()
      }.start()
    val q1 = start()
    q1.processAllAvailable()
    assert(got.map(_._2).sorted == (0L until 30L), s"first drain: ${got.size}")
    land(root, "2024-06-10T09:00:00Z", 30 until 75)
    q1.processAllAvailable()
    assert(got.map(_._2).sorted == (0L until 75L), "second hour discovered live")
    q1.stop()
    // objects landing while the stream is DOWN replay exactly once from
    // the checkpointed ledger on restart — and nothing older re-emits
    land(root, "2024-06-10T10:00:00Z", 75 until 90)
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    assert(got.map(_._2).sorted == (0L until 90L),
      s"restart must deliver exactly the missed rows, got ${got.size}")
  }

  test("maxObjectsPerTrigger bounds every micro-batch; backlog drains oldest-first") {
    val root = freshRoot()
    land(root, "2024-06-10T08:00:00Z", 0 until 40, objects = 4) // 4 objects
    val batches = new scala.collection.mutable.ArrayBuffer[Array[Long]]
    val q = readStreamDf(root, "maxObjectsPerTrigger" -> "1").writeStream
      .option("checkpointLocation", freshCkpt())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.synchronized { batches += df.select("id").collect().map(_.getLong(0)) }; ()
      }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val nonEmpty = batches.filter(_.nonEmpty)
    assert(nonEmpty.size == 4,
      s"4 objects at 1/trigger = 4 batches, got ${batches.map(_.length)}")
    assert(nonEmpty.flatten.sorted.toSeq == (0L until 40L))
    assert(nonEmpty.forall(_.length == 10), "one 10-row object per batch")
  }

  test("startFrom=<instant> bounds the backfill: older hours start sealed, the stream begins at T") {
    val root = freshRoot()
    land(root, "2024-06-10T07:00:00Z", 0 until 10)  // below T: never delivered
    land(root, "2024-06-10T08:00:00Z", 10 until 20) // T's hour onward: delivered
    land(root, "2024-06-10T09:00:00Z", 20 until 30)
    val got = new scala.collection.mutable.ArrayBuffer[Long]
    val q = readStreamDf(root, "startFrom" -> "2024-06-10T08:00:00Z")
      .writeStream.option("checkpointLocation", freshCkpt())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got.synchronized { got ++= df.select("id").collect().map(_.getLong(0)) }; ()
      }.start()
    q.processAllAvailable()
    assert(got.sorted.toSeq == (10L until 30L),
      s"hours below the start point stay sealed: ${got.sorted}")
    // a late object below T is ignored; a new live one delivers
    land(root, "2024-06-10T07:00:00Z", 90 until 95)
    land(root, "2024-06-10T10:00:00Z", 30 until 35)
    q.processAllAvailable()
    q.stop()
    assert(got.sorted.toSeq == ((10L until 35L)),
      s"below-T lates are forfeited by the start contract: ${got.sorted}")
    // a malformed startFrom refuses loudly (the same option parser runs
    // at scan building for batch and stream alike; the batch path
    // surfaces it synchronously)
    val ex = intercept[Exception] {
      spark.read.format("graft-lake").option("table", "st")
        .option("startFrom", "yesterday").load(root).count()
    }
    assert(ex.getMessage.contains(
      "earliest|latest|version:<generation-or-tag>|an ISO-8601"),
      ex.getMessage)
  }

  test("startFrom=version:<tag> pins the start at a NAMED snapshot: the pinned corpus is seen (never replayed), only post-pin changes deliver — rewrites of pinned objects skip") {
    val root = freshRoot()
    land(root, "2024-06-10T08:00:00Z", 0 until 50)
    val cat = s"stv${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CALL $cat.system.set_retention(table => 'st', retain => true)")
    spark.sql(s"CALL $cat.system.tag(table => 'st', name => 'run-x')")
    // the table moves on AFTER the pin: an append and a COW UPDATE of
    // pinned rows (whose rewrites must not re-deliver — the pinned
    // originals count as delivered)
    land(root, "2024-06-10T09:00:00Z", 100 until 110)
    spark.sql(s"UPDATE $cat.st SET tag = 'moved' WHERE id < 5")
    val got = new scala.collection.mutable.ArrayBuffer[Long]
    val q = readStreamDf(root, "startFrom" -> "version:run-x").writeStream
      .option("checkpointLocation", freshCkpt())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got.synchronized { got ++= df.select("id").collect().map(_.getLong(0)) }; ()
      }.start()
    q.processAllAvailable()
    assert(got.sorted.toSeq == (100L until 110L),
      s"only the post-pin append delivers, got ${got.sorted.toSeq}")
    // ...and the stream follows live from there
    land(root, "2024-06-10T10:00:00Z", 200 until 205)
    q.processAllAvailable()
    q.stop()
    assert(got.sorted.toSeq == ((100L until 110L) ++ (200L until 205L)),
      s"live appends keep flowing, got ${got.sorted.toSeq}")
    // an unretained pin is loud (liveAt's retention contract), surfaced
    // at the first trigger
    val root2 = freshRoot()
    land(root2, "2024-06-10T08:00:00Z", 0 until 10)
    val q2 = readStreamDf(root2, "startFrom" -> "version:7").writeStream
      .option("checkpointLocation", freshCkpt())
      .format("memory").queryName("stv_bad").start()
    try {
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(m =>
          m.contains("no generation") || m.contains("neither a generation"))),
        s"a bad pin must be loud, got $e")
    } finally q2.stop()
  }

  test("startFrom=latest skips the backlog and sees only new objects") {
    val root = freshRoot()
    land(root, "2024-06-10T08:00:00Z", 0 until 50)
    val got = new scala.collection.mutable.ArrayBuffer[Long]
    val q = readStreamDf(root, "startFrom" -> "latest").writeStream
      .option("checkpointLocation", freshCkpt())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got.synchronized { got ++= df.select("id").collect().map(_.getLong(0)) }; ()
      }.start()
    q.processAllAvailable()
    assert(got.isEmpty, s"latest must skip the 50-row backlog, got ${got.size}")
    land(root, "2024-06-10T09:00:00Z", 50 until 60)
    q.processAllAvailable()
    q.stop()
    assert(got.sorted.toSeq == (50L until 60L))
  }

  test("lake→lake streaming pipeline: readStream(graft-lake) → writeStream(graft-lake), exactly-once through a restart") {
    avoidHourBoundary()
    val src = freshRoot(); val dst = freshRoot()
    val ckpt = freshCkpt()
    land(src, "2024-06-10T08:00:00Z", 0 until 30)
    // bootstrap: the destination table is the connector's schema authority
    land(dst, "2024-06-10T00:00:00Z", 1000 until 1005, objects = 1)
    def start() = readStreamDf(src).writeStream.format("graft-lake")
      .option("table", "st").option("sinkId", "pipe-spec")
      .option("checkpointLocation", ckpt)
      .start(dst)
    val q1 = start()
    q1.processAllAvailable()
    land(src, "2024-06-10T09:00:00Z", 30 until 60)
    q1.processAllAvailable()
    q1.stop()
    land(src, "2024-06-10T10:00:00Z", 60 until 80) // lands while DOWN
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val out = spark.read.format("graft-lake").option("table", "st").load(dst)
      .select("id", "tag")
    val expected = ((1000L until 1005L) ++ (0L until 80L)).sorted
    assert(out.count() == expected.size,
      s"exactly-once through the restart: ${out.count()} vs ${expected.size}")
    assert(out.select("id").collect().map(_.getLong(0)).sorted.toSeq == expected)
  }

  test("windowed event-time aggregation over the stream: watermark on _event_hour, append-mode close") {
    val root = freshRoot()
    land(root, "2024-06-10T08:00:00Z", 0 until 40)
    land(root, "2024-06-10T09:00:00Z", 40 until 100, objects = 3)
    val got = new scala.collection.mutable.ArrayBuffer[(java.sql.Timestamp, Long)]
    val q = readStreamDf(root)
      .withWatermark("_event_hour", "1 hour")
      .groupBy(window(col("_event_hour"), "1 hour")).agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("n"))
      .writeStream.outputMode("append") // only CLOSED windows emit
      .option("checkpointLocation", freshCkpt())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got.synchronized {
          got ++= df.collect().map(r => (r.getTimestamp(0), r.getLong(1)))
        }; ()
      }.start()
    q.processAllAvailable()
    // both hours arrive in the INITIAL batch and the watermark lags one
    // batch (it is computed from the previous batch's max event time):
    // nothing has provably closed yet — append mode emits nothing
    assert(got.isEmpty, s"append mode may not emit open windows, got $got")
    // hour 11 advances the watermark to 10:00 — hours 08 and 09 close
    // with their exact counts, each exactly once
    land(root, "2024-06-10T11:00:00Z", 100 until 105, objects = 1)
    q.processAllAvailable()
    q.stop()
    assert(got.toSeq.map(t => (t._1.toInstant.toString, t._2)).sorted ==
      Seq(("2024-06-10T08:00:00Z", 40L), ("2024-06-10T09:00:00Z", 60L)),
      s"closed hours must emit exactly once the watermark passes them: $got")
  }

  test("maintenance race: an object deleted after planning degrades to a skip, never a failed batch") {
    val root = freshRoot()
    land(root, "2024-06-10T08:00:00Z", 0 until 20, objects = 2)
    val s = stream(root)
    val a = s.initialOffset()
    val b = s.latestOffset(a, ReadLimit.allAvailable())
    val parts = s.planInputPartitions(a, b)
    assert(parts.length == 2)
    // retention/compaction retires one PLANNED object before its task
    // opens it — the readFrom ignoreMissingFiles contract: its rows are
    // gone from THIS read (compaction republishes them as new objects
    // the ledger discovers later), the batch itself must not fail
    val victim = parts.head.asInstanceOf[LakeInputPartition]
    new HadoopStore(root).delete(victim.key)
    val factory = s.createReaderFactory()
    val rows = parts.map { p =>
      val r = factory.createReader(p)
      var n = 0
      while (r.next()) n += 1
      r.close(); n
    }
    assert(rows.toSeq.sorted == Seq(0, 10),
      s"the deleted object reads as zero rows, the survivor in full: $rows")
  }

  // ---- ledger mechanics, driven directly (offsets are pure data) ----

  private def stream(root: String, maxPer: Option[Int] = None,
                     age: Option[Int] = None) =
    new LakeMicroBatchStream(root, "st", schema,
      LakeDataSource.outputStruct(schema), maxPer, age, startFromLatest = false)

  test("offset JSON round-trips canonically; corrupt offsets fail loudly") {
    val off = LakeStreamOffset(Some("2024/06/10/07"),
      Seq("2024/06/10/08/st/aa.csv.gz", "2024/06/10/09/st/bb.csv"))
    assert(LakeStreamOffset.fromJson(off.json()) == off)
    val none = LakeStreamOffset(None, Nil)
    assert(LakeStreamOffset.fromJson(none.json()) == none)
    intercept[IllegalArgumentException] {
      LakeStreamOffset.fromJson("""{"frontier":null,"seen":["not-a-key"]}""")
    }
    intercept[IllegalArgumentException] {
      LakeStreamOffset.fromJson("""{"wrong":1}""")
    }
    intercept[IllegalArgumentException] { // truncated mid-frontier
      LakeStreamOffset.fromJson("""{"frontier":"2024/06/1""" + "]}")
    }
  }

  test("maxHourAge seals old hours: the ledger stays bounded, late arrivals in sealed hours are ignored") {
    val root = freshRoot()
    for ((h, r) <- Seq("2024-06-10T00:00:00Z" -> (0 until 10),
                       "2024-06-10T01:00:00Z" -> (10 until 20),
                       "2024-06-10T02:00:00Z" -> (20 until 30)))
      land(root, h, r, objects = 1)
    val s = stream(root, age = Some(1))
    val start = s.initialOffset().asInstanceOf[LakeStreamOffset]
    val end = s.latestOffset(start, ReadLimit.allAvailable())
      .asInstanceOf[LakeStreamOffset]
    // the batch delivers EVERYTHING — a batch's own keys never seal out
    // of its end offset (the set difference IS the delivery)
    assert(s.planInputPartitions(start, end).length == 3)
    assert(end.seen.size == 3, s"nothing seals mid-delivery: ${end.seen}")
    // the NEXT call seals: newest hour 02, age 1 → hours STRICTLY older
    // than 01 seal (hour 00), its keys leave the ledger — (newest - age)
    // itself stays open, so maxHourAge=0 can never seal the still-open
    // wall-clock hour
    val end2 = s.latestOffset(end, ReadLimit.allAvailable())
      .asInstanceOf[LakeStreamOffset]
    assert(s.planInputPartitions(end, end2).isEmpty)
    assert(end2.frontier.contains("2024/06/10/00"), s"frontier: ${end2.frontier}")
    assert(end2.seen.forall(k => k.startsWith("2024/06/10/01/") ||
        k.startsWith("2024/06/10/02/")) && end2.seen.size == 2,
      s"sealed hours must leave the ledger: ${end2.seen}")
    // a LATE object into sealed hour 00 is never discovered again…
    land(root, "2024-06-10T00:00:00Z", 90 until 95, objects = 1)
    val end3 = s.latestOffset(end2, ReadLimit.allAvailable())
      .asInstanceOf[LakeStreamOffset]
    assert(s.planInputPartitions(end2, end3).isEmpty,
      "an object landing in a sealed hour is ignored (the lateness bound)")
    // …but a late object in the OPEN newest hour is
    land(root, "2024-06-10T02:00:00Z", 95 until 99, objects = 1)
    val end4 = s.latestOffset(end3, ReadLimit.allAvailable())
      .asInstanceOf[LakeStreamOffset]
    assert(s.planInputPartitions(end3, end4).length == 1)

    // age=0 (the tightest allowed): the newest hour itself must STAY
    // OPEN — a live stream's current wall-clock hour keeps receiving
    val root0 = freshRoot()
    land(root0, "2024-06-10T05:00:00Z", 0 until 4, objects = 1)
    val s0 = stream(root0, age = Some(0))
    var o0 = s0.initialOffset().asInstanceOf[LakeStreamOffset]
    o0 = s0.latestOffset(o0, ReadLimit.allAvailable()).asInstanceOf[LakeStreamOffset]
    o0 = s0.latestOffset(o0, ReadLimit.allAvailable()).asInstanceOf[LakeStreamOffset]
    assert(o0.frontier.contains("2024/06/10/04"), s"frontier: ${o0.frontier}")
    land(root0, "2024-06-10T05:00:00Z", 4 until 8, objects = 1) // same open hour
    val o1 = s0.latestOffset(o0, ReadLimit.allAvailable()).asInstanceOf[LakeStreamOffset]
    assert(s0.planInputPartitions(o0, o1).length == 1,
      "an object landing in the newest hour under age=0 must still deliver")
  }

  test("sealing never forfeits a capped backlog: the frontier waits below undelivered keys") {
    val root = freshRoot()
    for ((h, r) <- Seq("2024-06-10T00:00:00Z" -> (0 until 10),
                       "2024-06-10T05:00:00Z" -> (10 until 20),
                       "2024-06-10T06:00:00Z" -> (20 until 30)))
      land(root, h, r, objects = 1)
    val s = stream(root, maxPer = Some(1), age = Some(1))
    var off = s.initialOffset().asInstanceOf[LakeStreamOffset]
    val delivered = Seq.newBuilder[String]
    for (_ <- 0 until 3) {
      val next = s.latestOffset(off, s.getDefaultReadLimit)
        .asInstanceOf[LakeStreamOffset]
      val parts = s.planInputPartitions(off, next)
      assert(parts.length <= 1)
      delivered ++= parts.map(_.asInstanceOf[LakeInputPartition].key)
      // invariant: no undelivered discovered key may ever sit at or
      // below the frontier (sealing forfeits only what was delivered)
      off = next
    }
    val keys = delivered.result()
    assert(keys.length == 3 && keys == keys.sorted,
      s"the capped backlog drains oldest-first and completely: $keys")
    // after the drain the frontier seals hours strictly older than
    // newest(06) - age(1) = 05 → last sealed hour is 04
    assert(off.frontier.contains("2024/06/10/04"), s"frontier: ${off.frontier}")
  }

  test("ledger property: random land/deliver/seal/restart sequences stay exactly-once (seeded)") {
    // deterministic randomized protocol exercise: any interleaving of
    //   - landing an object (sometimes LATE, into an older hour)
    //   - advancing the offset under a random per-trigger cap
    //   - restarting (offsets round-trip through their JSON — the
    //     checkpoint path — into a FRESH stream instance)
    // must deliver every key exactly once, except keys landed into an
    // hour at-or-below the frontier AT LAND TIME (the documented
    // lateness forfeit) — those must never be delivered at all.
    val rnd = new scala.util.Random(20260815L)
    for (scenario <- 0 until 4) {
      val root = freshRoot()
      val maxPer = if (rnd.nextBoolean()) Some(1 + rnd.nextInt(2)) else None
      val age = if (rnd.nextBoolean()) Some(rnd.nextInt(2)) else None
      def mk() = stream(root, maxPer, age)
      var s = mk()
      var off = s.initialOffset().asInstanceOf[LakeStreamOffset]
      val delivered = scala.collection.mutable.ArrayBuffer.empty[String]
      val expectDelivered = scala.collection.mutable.Set.empty[String]
      val expectForfeited = scala.collection.mutable.Set.empty[String]
      var curHour = 0
      var nextId = 0
      def landOne(): Unit = {
        if (rnd.nextInt(3) == 0) curHour = math.min(23, curHour + 1 + rnd.nextInt(2))
        val hour = math.max(0, curHour - (if (rnd.nextInt(4) == 0) 1 + rnd.nextInt(3) else 0))
        val hourStr = f"2024-06-10T$hour%02d:00:00Z"
        val before = LakeReader.listTableKeys(new HadoopStore(root), "st", None).toSet
        land(root, hourStr, nextId until (nextId + 2), objects = 1)
        nextId += 2
        val key = (LakeReader.listTableKeys(new HadoopStore(root), "st", None)
          .toSet -- before).head
        val inSealedHour = off.frontier.exists(f => LakeStreamOffset.hourOf(key) <= f)
        if (inSealedHour) expectForfeited += key else expectDelivered += key
      }
      def advance(): Unit = {
        val next = s.latestOffset(off, s.getDefaultReadLimit)
          .asInstanceOf[LakeStreamOffset]
        delivered ++= s.planInputPartitions(off, next)
          .map(_.asInstanceOf[LakeInputPartition].key)
        off = next
      }
      for (_ <- 0 until 14) rnd.nextInt(4) match {
        case 0 | 1 => landOne()
        case 2 => advance()
        case 3 => // restart: JSON round-trip into a fresh instance
          off = LakeStreamOffset.fromJson(off.json())
          s = mk()
      }
      // full drain: advance until two consecutive empty batches
      var empties = 0
      while (empties < 2) {
        val before = delivered.size
        advance()
        if (delivered.size == before) empties += 1 else empties = 0
      }
      val seq = delivered.toSeq
      assert(seq.distinct.size == seq.size,
        s"scenario $scenario (maxPer=$maxPer age=$age): duplicate delivery in $seq")
      assert(seq.toSet == expectDelivered.toSet,
        s"scenario $scenario (maxPer=$maxPer age=$age): delivered ${seq.toSet} " +
          s"!= expected $expectDelivered (forfeited: $expectForfeited)")
      assert(expectForfeited.forall(k => !seq.contains(k)))
    }
  }

  test("replay determinism: planInputPartitions is a pure set difference of persisted offsets") {
    val root = freshRoot()
    land(root, "2024-06-10T08:00:00Z", 0 until 20, objects = 2)
    val s = stream(root)
    val a = s.initialOffset()
    val b = s.latestOffset(a, ReadLimit.allAvailable())
    land(root, "2024-06-10T09:00:00Z", 20 until 40, objects = 2)
    val c = s.latestOffset(b, ReadLimit.allAvailable())
    // replay through JSON (what a restart actually reads back)
    val b2 = s.deserializeOffset(b.json())
    val c2 = s.deserializeOffset(c.json())
    def keysOf(ps: Array[org.apache.spark.sql.connector.read.InputPartition]) =
      ps.map(_.asInstanceOf[LakeInputPartition].key).sorted.toSeq
    assert(keysOf(s.planInputPartitions(a, b2)) == keysOf(s.planInputPartitions(a, b)))
    assert(keysOf(s.planInputPartitions(b2, c2)) == keysOf(s.planInputPartitions(b, c)))
    assert(keysOf(s.planInputPartitions(b2, c2)).forall(_.startsWith("2024/06/10/09/")))
  }

  // ---- object-level pruning on the streaming scan (round 13) ----

  /** One object at `hour` carrying only `tag`, with stats + tag blooms —
    * the prunable fixture shape (each (hour, tag) is one object).
    * Returns the landed object's key. */
  private def landTagged(root: String, hour: String, tag: String,
                         ids: Range): String = {
    import spark.implicits._
    val df = ids.map(i => (i.toLong, tag)).toDF("id", "tag")
      .orderBy("id").coalesce(1)
    LakeWriter.write(df, schema, root, Instant.parse(hour),
      zoneMaps = true, bloomColumns = Seq("tag")).head.key
  }

  private def batchPlanned(root: String,
                           cond: org.apache.spark.sql.Column): Seq[String] = {
    val df = spark.read.format("graft-lake").option("table", "st")
      .load(root).where(cond)
    df.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan
    }.get.asInstanceOf[LakeScan].plannedKeys
  }

  private def keysOfParts(
      ps: Array[org.apache.spark.sql.connector.read.InputPartition]) =
    ps.map(_.asInstanceOf[LakeInputPartition].key).sorted.toSeq

  test("stream-planned objects equal the batch scan's plannedKeys under the same filter") {
    val root = freshRoot()
    for (h <- 8 to 13; tg <- Seq("t0", "t1"))
      landTagged(root, f"2024-06-10T$h%02d:00:00Z", tg, 0 until 20)
    val lo = java.sql.Timestamp.from(Instant.parse("2024-06-10T10:00:00Z"))
    import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual}
    val pushed: Array[org.apache.spark.sql.sources.Filter] =
      Array(EqualTo("tag", "t1"), GreaterThanOrEqual("_event_hour", lo))
    val bKeys = batchPlanned(root,
      col("tag") === "t1" && col("_event_hour") >= lo)
    assert(bKeys.size == 4, s"fixture: 4 of 12 objects survive, got $bKeys")
    val s = new LakeMicroBatchStream(root, "st", schema,
      LakeDataSource.outputStruct(schema), None, None,
      startFromLatest = false, pushed = pushed)
    val start = s.initialOffset()
    val end = s.latestOffset(start, ReadLimit.allAvailable())
    assert(keysOfParts(s.planInputPartitions(start, end)) == bKeys.sorted)
    // the listing-level half: out-of-window hours were never DISCOVERED,
    // so the ledger is bounded by the filter's hours, not the lake's
    val seen = end.asInstanceOf[LakeStreamOffset].seen
    assert(seen.nonEmpty &&
      seen.forall(k => LakeStreamOffset.hourOf(k) >= "2024/06/10/10"))
    assert(s.objectsPruned == seen.size - bKeys.size,
      "every in-window non-matching object is a plan-time skip")
  }

  test("filters delivered AFTER admission still prune, and a torn sidecar keeps conservatively") {
    val root = freshRoot()
    val keys = (for (h <- Seq("2024-06-10T08:00:00Z", "2024-06-10T09:00:00Z");
                     tg <- Seq("t0", "t1"))
      yield (h, tg) -> landTagged(root, h, tg, 0 until 10)).toMap
    // tear the 08 T0 object's sidecars: unprobeable → conservatively
    // kept even though its rows can't match (the 09 t0 object, intact,
    // is bloom-refuted — that contrast IS the conservatism under test)
    val store = new HadoopStore(root)
    val torn = keys(("2024-06-10T08:00:00Z", "t0"))
    store.delete(BloomMaps.bloomKey(torn))
    store.delete(ZoneMaps.statsKey(torn))
    assert(BloomMaps.read(store, torn).isEmpty &&
      ZoneMaps.read(store, torn).isEmpty, "sidecar tear must land")
    val bKeys = batchPlanned(root, col("tag") === "t1")
    assert(bKeys.contains(torn),
      "an object with no sidecars cannot be refuted — the batch scan keeps it")
    assert(bKeys.size == 3, s"2×t1 matching + 1 torn conservative: $bKeys")
    // the deliverFilters path (what StreamLakePrune does per trigger):
    // admission ran FIRST, so the full ledger predates the filter
    val s = stream(root)
    val start = s.initialOffset()
    val end = s.latestOffset(start, ReadLimit.allAvailable())
    assert(end.asInstanceOf[LakeStreamOffset].seen.size == 4,
      "unfiltered admission saw every object")
    s.deliverFilters(Array(org.apache.spark.sql.sources.EqualTo("tag", "t1")))
    assert(keysOfParts(s.planInputPartitions(start, end)) == bKeys.sorted,
      "plan-time prune after late delivery equals the batch decision, " +
        "torn-sidecar conservatism included")
  }

  test("the stream prune's executor walk keeps exactly the driver walk's objects (torn + stat-less included)") {
    val root = freshRoot()
    val keys = (for (h <- Seq("2024-06-10T08:00:00Z", "2024-06-10T09:00:00Z",
                              "2024-06-10T10:00:00Z");
                     tg <- Seq("t0", "t1"))
      yield (h, tg) -> landTagged(root, h, tg, 0 until 10)).toMap
    val store = new HadoopStore(root)
    // 08 t0: both sidecars TORN to a valid prefix; 09 t0: no sidecars at
    // all (stat-less writer). Neither can be refuted, so both are kept;
    // the intact 10 t0 object is bloom-refuted
    val torn = keys(("2024-06-10T08:00:00Z", "t0"))
    for (sk <- Seq(BloomMaps.bloomKey(torn), ZoneMaps.statsKey(torn))) {
      val text = new String(store.open(sk).readAllBytes(), "UTF-8")
      val out = store.create(sk)
      out.write(text.take(text.length / 2).getBytes("UTF-8")); out.close()
    }
    val statless = keys(("2024-06-10T09:00:00Z", "t0"))
    store.delete(BloomMaps.bloomKey(statless))
    store.delete(ZoneMaps.statsKey(statless))
    def planned(branch: KeyWalk.Branch): (Seq[String], Long) = {
      val s = new LakeMicroBatchStream(root, "st", schema,
        LakeDataSource.outputStruct(schema), None, None, startFromLatest = false,
        pushed = Array(org.apache.spark.sql.sources.EqualTo("tag", "t1")))
      val start = s.initialOffset()
      val end = s.latestOffset(start, ReadLimit.allAvailable())
      (KeyWalk.pinned(branch)(keysOfParts(s.planInputPartitions(start, end))),
        s.objectsPruned)
    }
    val driver = planned(KeyWalk.OnDriver)
    assert(driver == ((keys - (("2024-06-10T10:00:00Z", "t0"))).values.toSeq.sorted, 1L),
      s"3×t1 matching + torn + stat-less kept, intact 10 t0 pruned: $driver")
    assert(planned(KeyWalk.OnExecutors()) == driver,
      "the executor walk must keep the driver walk's objects")
    assert(planned(KeyWalk.OnExecutors(3)) == driver, "at any task count")
  }

  test("a self-union with per-branch WHEREs never loses rows: the shared stream is left unpruned") {
    // MicroBatchExecution deduplicates the shared source into ONE stream
    // instance; conjoining the branches' different filters there would
    // refute objects a branch still needs. StreamLakePrune's
    // single-occurrence guard delivers nothing in this shape — the
    // correctness bar is exact union rows, pruning forgone.
    val root = freshRoot()
    for (h <- 8 to 9; tg <- Seq("t0", "t1", "t2"))
      landTagged(root, f"2024-06-10T$h%02d:00:00Z", tg, 0 until 10)
    spark.catalog.dropTempView("st_union")
    val base = readStreamDf(root)
    val q = base.where(col("tag") === "t1")
      .union(base.where(col("tag") === "t2"))
      .writeStream.format("memory").queryName("st_union")
      .outputMode("append").option("checkpointLocation", freshCkpt())
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val drained = spark.table("st_union")
    val batchBase = spark.read.format("graft-lake").option("table", "st")
      .load(root)
    val expect = batchBase.where(col("tag") === "t1")
      .union(batchBase.where(col("tag") === "t2"))
    assert(drained.count() == 40,
      s"both branches' rows must arrive: ${drained.count()}")
    assert(drained.exceptAll(expect).count() == 0 &&
      expect.exceptAll(drained).count() == 0,
      "per-branch filters must never leak into a shared stream's prune")
  }

  test("a plain WHERE on readStream prunes object delivery end-to-end (StreamLakePrune)") {
    val root = freshRoot()
    for (h <- 8 to 10; tg <- Seq("t0", "t1", "t2"))
      landTagged(root, f"2024-06-10T$h%02d:00:00Z", tg, 0 until 50)
    spark.catalog.dropTempView("st_pruned")
    val q = readStreamDf(root).where(col("tag") === "t1")
      .writeStream.format("memory").queryName("st_pruned")
      .outputMode("append").option("checkpointLocation", freshCkpt())
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val drained = spark.table("st_pruned")
    val batch = spark.read.format("graft-lake").option("table", "st")
      .load(root).where(col("tag") === "t1")
    assert(drained.exceptAll(batch).count() == 0 &&
      batch.exceptAll(drained).count() == 0,
      "pruned stream result must equal the filtered batch read")
    val inputRows = q.recentProgress.map(_.numInputRows).sum
    assert(inputRows < 9L * 50,
      s"stream must not read the whole lake: $inputRows of ${9 * 50}")
    assert(inputRows == 3L * 50,
      s"blooms prune to exactly the matching objects: $inputRows")
  }

  test("CDC-safe DML: COW rewrites of delivered rows never re-deliver; MERGE inserts flow exactly once; appends keep flowing") {
    val root = freshRoot()
    val ckpt = freshCkpt()
    land(root, "2024-06-10T08:00:00Z", 0 until 30)
    val cat = s"cdc${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val got = new scala.collection.mutable.ArrayBuffer[Long]
    val q = readStreamDf(root).writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val ids = df.select("id").collect().map(_.getLong(0))
        got.synchronized { got ++= ids }; ()
      }.start()
    q.processAllAvailable()
    assert(got.sorted == (0L until 30L), "initial drain")
    // an UPDATE inside the admission window: the replacements' whole
    // provenance is in the ledger — each logical row was already
    // delivered, so the stream skips them (pre-r14 this re-delivered
    // the rewritten objects; the README known-gap paragraph this spec
    // retires)
    spark.sql(s"UPDATE $cat.st SET tag = 'upd' WHERE id < 10")
    q.processAllAvailable()
    assert(got.size == 30, s"a rewrite of delivered rows re-delivered: " +
      s"${got.sorted.mkString(",")}")
    // the TABLE sees the update (the skip is a stream decision only)
    assert(spark.table(s"$cat.st").where(col("tag") === "upd").count() == 10)
    // MERGE rides the DELTA path (LakeDelta): per-row ops split updated
    // /surviving rows (`added` — rewrites, skippable once their
    // provenance delivered) from the NOT MATCHED inserts (`inserted` —
    // always delivered). Pre-r15 the group-based write had no row
    // provenance and the rewritten group's survivors re-delivered
    // (at-least-once); now MERGE is exactly-once per logical row, the
    // same contract as UPDATE/DELETE/compact.
    import spark.implicits._
    val hot = java.sql.Timestamp.from(Instant.parse("2024-06-10T08:00:00Z"))
    ((0L until 5L).map(i => (i, "m")) ++ (100L until 105L).map(i => (i, "ins")))
      .toDF("id", "tag").withColumn("_event_hour", lit(hot))
      .createOrReplaceTempView("cdc_src")
    spark.sql(
      s"""MERGE INTO $cat.st t USING cdc_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET tag = s.tag
         |WHEN NOT MATCHED THEN INSERT (id, tag, _event_hour)
         |  VALUES (s.id, s.tag, s._event_hour)""".stripMargin)
    q.processAllAvailable()
    assert(got.sorted == ((0L until 30L) ++ (100L until 105L)).sorted,
      s"MERGE: inserts exactly once, updated/surviving rows NEVER " +
        s"re-deliver: ${got.sorted.mkString(",")}")
    // the TABLE sees the merge
    assert(spark.table(s"$cat.st").where(col("tag") === "m").count() == 5)
    // plain appends keep flowing
    land(root, "2024-06-10T09:00:00Z", 200 until 210)
    q.processAllAvailable()
    q.stop()
    assert(got.sorted ==
      ((0L until 30L) ++ (100L until 105L) ++ (200L until 210L)).sorted,
      "appends after DML flow normally")
  }

  test("a CROSS-TABLE transaction is CDC-exact: nothing delivers while pending records exist (triggers fire at the brink of the decision), the batch delivers exactly once from the publish") {
    val root = freshRoot()
    val ckpt = freshCkpt()
    land(root, "2024-06-10T08:00:00Z", 0 until 30)
    // the sibling table completing the transaction
    import spark.implicits._
    LakeWriter.write((0L until 5L).map(i => (i, s"s$i")).toDF("id", "tag")
        .coalesce(1),
      TableSchema("st2", Seq("id" -> ColType.CInteger,
        "tag" -> ColType.CString)),
      root, Instant.parse("2024-06-10T08:00:00Z"))
    val cat = s"txs${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val got = new scala.collection.mutable.ArrayBuffer[Long]
    val q = readStreamDf(root).writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val ids = df.select("id").collect().map(_.getLong(0))
        got.synchronized { got ++= ids }; ()
      }.start()
    q.processAllAvailable()
    assert(got.sorted == (0L until 30L), "initial drain")
    // stage both halves
    val hot = java.sql.Timestamp.from(Instant.parse("2024-06-10T09:00:00Z"))
    (100L until 110L).map(i => (i, "tx")).toDF("id", "tag")
      .withColumn("_event_hour", lit(hot)).coalesce(1)
      .write.format("graft-lake").option("table", "st")
      .option("auditId", "xtx").mode("append").save(root)
    (100L until 103L).map(i => (i, "tx")).toDF("id", "tag")
      .withColumn("_event_hour", lit(hot)).coalesce(1)
      .write.format("graft-lake").option("table", "st2")
      .option("auditId", "xtx").mode("append").save(root)
    q.processAllAvailable()
    assert(got.size == 30, "staged batches must not deliver")
    // at the BRINK of the decision — every pending record CAS'd — fire
    // triggers: the txn-marked records are invisible, nothing delivers
    var atBrink = -1
    LakeTxn.beforeDecideHook = () => {
      q.processAllAvailable()
      atBrink = got.synchronized(got.size)
    }
    try
      spark.sql(s"CALL $cat.system.commit_transaction(" +
        "tables => 'st,st2', audit_id => 'xtx')").collect()
    finally LakeTxn.beforeDecideHook = () => ()
    assert(atBrink == 30,
      s"pending transaction records delivered rows: $atBrink")
    // from the decision: the batch delivers exactly once, and the
    // sibling table's half is visible to batch reads
    q.processAllAvailable()
    q.stop()
    assert(got.sorted == ((0L until 30L) ++ (100L until 110L)).sorted,
      s"txn batch must deliver exactly once: ${got.sorted.mkString(",")}")
    assert(spark.table(s"$cat.st2").count() == 8)
  }

  test("DML on an hour older than the admission window is INVISIBLE to a running stream (the maxHourAge bound, pinned)") {
    val root = freshRoot()
    val ckpt = freshCkpt()
    land(root, "2024-06-10T08:00:00Z", 0 until 20)
    val cat = s"age${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val got = new scala.collection.mutable.ArrayBuffer[Long]
    val q = readStreamDf(root, "maxHourAge" -> "1").writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val ids = df.select("id").collect().map(_.getLong(0))
        got.synchronized { got ++= ids }; ()
      }.start()
    q.processAllAvailable()
    // hour 12 advances the frontier: 08 seals (12 - 1 - 1 = 10 >= 08)
    land(root, "2024-06-10T12:00:00Z", 100 until 110)
    q.processAllAvailable()
    assert(got.sorted == ((0L until 20L) ++ (100L until 110L)).sorted)
    // DML whose replacements land BELOW the frontier: sealed hours left
    // the discovery walk, so the rewrite is invisible to this stream —
    // the documented lateness trade, now pinned (provenance skipping
    // never even gets to decide: the keys are never listed)
    spark.sql(s"UPDATE $cat.st SET tag = 'upd' WHERE id < 5")
    q.processAllAvailable()
    q.stop()
    assert(got.size == 30, s"sealed-hour DML must not re-deliver: ${got.size}")
    assert(spark.table(s"$cat.st").where(col("tag") === "upd").count() == 5,
      "the table itself sees the update")
  }

  test("chain cache: idle triggers on a versioned table pay a constant store-op budget with zero record re-reads") {
    // Round 17, the r16 task-time lesson: the per-trigger protocol used
    // to pay three `_versions/<t>` listings plus repeated head/parent
    // record reads; the ChainCache collapses that to ONE listing and
    // cached reads. Pinned as a store-op METER, not a timing: two
    // consecutive no-data triggers must cost exactly the same op count
    // (no per-trigger growth), and that count must stay small.
    val root = freshRoot()
    land(root, "2024-06-10T08:00:00Z", 0 until 20)
    val cat = s"ops${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    // make the table VERSIONED (a committed chain + tombstones to read)
    spark.sql(s"UPDATE $cat.st SET tag = 'v' WHERE id < 3")
    val s = stream(root)
    var off = s.initialOffset().asInstanceOf[LakeStreamOffset]
    def advance(): Int = {
      val next = s.latestOffset(off, s.getDefaultReadLimit)
        .asInstanceOf[LakeStreamOffset]
      val n = s.planInputPartitions(off, next).length
      off = next
      n
    }
    assert(advance() > 0, "first trigger delivers the lake")
    advance() // settle: caches warm (chain records, manifest header)
    val a0 = StoreOps.total
    advance()
    val idle1 = StoreOps.total - a0
    val a1 = StoreOps.total
    advance()
    val idle2 = StoreOps.total - a1
    assert(idle1 == idle2,
      s"idle triggers must cost a CONSTANT op count: $idle1 vs $idle2")
    assert(idle1 <= 25,
      s"an idle trigger on a 1-hour versioned table must stay under ~25 " +
        s"store ops (discovery walk + one version listing), got $idle1")
  }

  test("an in-flight publish (intent written, keys renamed, CAS pending) stays invisible; its commit makes inserted keys deliver") {
    val root = freshRoot()
    val store = new HadoopStore(root)
    land(root, "2024-06-10T08:00:00Z", 0 until 10, objects = 1)
    val s = stream(root)
    var off = s.initialOffset().asInstanceOf[LakeStreamOffset]
    def advance(): Seq[String] = {
      val next = s.latestOffset(off, s.getDefaultReadLimit)
        .asInstanceOf[LakeStreamOffset]
      val keys = s.planInputPartitions(off, next)
        .map(_.asInstanceOf[LakeInputPartition].key).toSeq
      off = next
      keys
    }
    assert(advance().nonEmpty)
    // simulate step 2+3 of the commit protocol mid-flight: an intent
    // names a final key, the replacement is ALREADY renamed into place,
    // the CAS has not happened — a discovery must hide the key (the
    // chain refresh runs AFTER the data listing precisely so a renamed
    // key old enough to be listed always has its intent visible)
    val existing = LakeReader.listTableKeys(store, "st", None).head
    val pendingKey = s"2024/06/10/08/st/${java.util.UUID.randomUUID()}.csv.gz"
    LakeVersions.writeIntent(store, "st", "test-intent", Seq(pendingKey))
    store.put(pendingKey, store.open(existing))
    assert(advance().isEmpty,
      "keys of an uncommitted publish must never be delivered")
    // the CAS lands, naming the key as a genuine INSERT: next trigger
    // delivers it exactly once
    LakeVersions.commit(store, "st", op = "merge", removed = Nil,
      inserted = Seq(pendingKey), intentId = Some("test-intent"))
    assert(advance() == Seq(pendingKey),
      "a committed inserted key delivers on the next trigger")
    assert(advance().isEmpty, "and only once")
  }
}
