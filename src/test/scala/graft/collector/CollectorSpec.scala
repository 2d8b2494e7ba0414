package graft.collector

import graft.lake.{HadoopStore, LakeReader}
import graft.types.ColType
import graft.SparkSuite

import java.util.zip.GZIPInputStream
import scala.collection.mutable

/** Port of the reference's two test scenarios
  * (`/root/reference/tests/Collector-test.ts:28-117`) plus lake read-back.
  */
class CollectorSpec extends SparkSuite {

  private def freshStore() = {
    val dir = tempDir("graft-collector-spec").toFile
    (new HadoopStore(s"file://${dir.getAbsolutePath}"), dir)
  }

  private val KeyRe =
    """\d{4}/\d{2}/\d{2}/\d{2}/([a-zA-Z0-9_]+)/[0-9a-f-]{36}\.csv(\.gz)?""".r

  test("scenario 1: three tables + wildcard, batchZip off, UUID overrides, stop() drain") {
    val (store, _) = freshStore()
    val cfg = CollectorConfig(
      columnTypes = Map(
        "game_user_event" -> Map("user_id" -> ColType.CUuid),
        "game_custom_event_$" -> Map("session_id" -> ColType.CUuid)),
      batchZip = false)
    val c = new Collector(store, cfg)
    val errors = mutable.Buffer.empty[Throwable]
    val flushes = mutable.Buffer.empty[FlushInfo]
    c.onError(errors += _)
    c.onFlush(flushes += _)

    val uid = "8b5f33e4-06ab-4df7-9f01-0e329e39c6d1"
    c.track("app_event", Collector.rec("name" -> "boot", "ok" -> true,
      "at" -> new java.sql.Timestamp(1700000000000L)))
    c.track("game_user_event", Collector.rec("user_id" -> uid, "score" -> 12L))
    c.track("game_session_event", Collector.rec("n" -> 1L, "ratio" -> 0.5))
    // wildcard family instance, token "pool" (Collector-test.ts:67-72)
    c.track("game_custom_event_$", Collector.rec("session_id" -> uid, "kind" -> "spawn"),
      token = Some("pool"))
    c.stop()

    assert(errors.isEmpty, s"unexpected errors: $errors")
    assert(flushes.map(_.table).sorted == Seq("app_event", "game_custom_event_pool",
      "game_session_event", "game_user_event"))
    assert(flushes.forall(_.trigger == FlushTrigger.Stop))
    flushes.foreach(f => assert(KeyRe.matches(f.key), s"bad key ${f.key}"))
    // key format: uncompressed => .csv, no .gz (README.md:119-123)
    assert(flushes.forall(_.key.endsWith(".csv")))

    // #types header honors the UUID override against the WILDCARD schema
    // name (CHANGELOG 0.1.1 regression)
    val poolKey = flushes.find(_.table == "game_custom_event_pool").get.key
    val lines = scala.io.Source.fromInputStream(store.open(poolKey)).getLines().toList
    assert(lines.head == "#UUID,STRING")
    assert(lines(1) == "session_id,kind")
    assert(lines(2) == s"$uid,spawn")
  }

  test("scenario 2: volume — record-limit flushes then stop drain") {
    val (store, _) = freshStore()
    val c = new Collector(store, CollectorConfig(batchRecordLimit = 10000, batchZip = false))
    val flushes = mutable.Buffer.empty[FlushInfo]
    val errors = mutable.Buffer.empty[Throwable]
    c.onFlush(flushes += _); c.onError(errors += _)
    for (i <- 0 until 30500)
      c.track("game_user_event", Collector.rec("i" -> i.toLong, "blob" -> s"payload-$i"))
    c.stop()
    assert(errors.isEmpty)
    assert(flushes.count(_.trigger == FlushTrigger.RecordLimit) == 3)
    assert(flushes.count(_.trigger == FlushTrigger.Stop) == 1)
    assert(flushes.map(_.records).sum == 30500L)
    assert(flushes.last.records == 500L)
  }

  test("age-limit trigger fires lazily on next track (Collector.ts:284-286)") {
    val (store, _) = freshStore()
    val c = new Collector(store, CollectorConfig(batchAgeLimitMillis = 50, batchZip = false))
    val flushes = mutable.Buffer.empty[FlushInfo]
    c.onFlush(flushes += _)
    c.track("t", Collector.rec("a" -> 1L))
    Thread.sleep(80)
    assert(flushes.isEmpty) // lazy: no timer
    c.track("t", Collector.rec("a" -> 2L))
    c.stop() // awaits the async flush; no batch left → no extra Stop flush
    assert(flushes.map(_.trigger) == Seq(FlushTrigger.AgeLimit))
    assert(flushes.head.records == 2L)
  }

  test("backpressure trigger: spooled-byte limit flushes before record limit") {
    val (store, _) = freshStore()
    // ~18 bytes/row → the 200-byte spool cap fills after ~11 rows, far
    // before the record limit; priority order is backpressure first
    // (Collector.ts:278-287).
    val c = new Collector(store, CollectorConfig(
      batchByteLimit = 200, batchRecordLimit = 10000, batchZip = false))
    val flushes = mutable.Buffer.empty[FlushInfo]
    val errors = mutable.Buffer.empty[Throwable]
    c.onFlush(flushes += _); c.onError(errors += _)
    for (i <- 0 until 100)
      c.track("t", Collector.rec("i" -> i.toLong, "blob" -> f"payload-$i%04d"))
    c.stop()
    assert(errors.isEmpty)
    assert(flushes.count(_.trigger == FlushTrigger.Backpressure) >= 5)
    assert(flushes.count(_.trigger == FlushTrigger.RecordLimit) == 0)
    assert(flushes.map(_.records).sum == 100L)
  }

  test("store failure during async flush surfaces on onError, temp file disposed") {
    val failing = new graft.lake.Store {
      def put(key: String, data: java.io.InputStream): Unit = {
        data.close(); throw new java.io.IOException("store down")
      }
      def create(key: String) = throw new java.io.IOException("store down")
      def open(key: String) = throw new java.io.IOException("store down")
      def list(prefix: String) = Seq.empty
      def exists(key: String) = false
      def delete(key: String): Unit = ()
      def listDirs(prefix: String) = Seq.empty
      def rootUri = "memory://failing"
    }
    val c = new Collector(failing, CollectorConfig(batchZip = false))
    val errors = mutable.Buffer.empty[Throwable]
    val flushes = mutable.Buffer.empty[FlushInfo]
    c.onError(errors += _); c.onFlush(flushes += _)
    c.track("t", Collector.rec("a" -> 1L))
    c.stop() // awaits the async flush and its error
    assert(flushes.isEmpty)
    assert(errors.nonEmpty && errors.head.getMessage == "store down")
  }

  test("wildcard token with '/' surfaces on onError; record dropped, no object") {
    val (store, _) = freshStore()
    val errors = scala.collection.mutable.Buffer.empty[Throwable]
    val c = new Collector(store, CollectorConfig(batchZip = false))
    c.onError(errors.synchronized { errors += _ })
    c.track("game_event_$", Collector.rec("k" -> 1L), token = Some("pool/eu"))
    c.stop()
    assert(errors.exists(_.getMessage.contains("game_event_pool/eu")))
    assert(store.list("").isEmpty, "no object may land under a malformed key")
  }

  test("track after stop surfaces on onError, never throws") {
    val (store, _) = freshStore()
    val c = new Collector(store, CollectorConfig())
    val errors = mutable.Buffer.empty[Throwable]
    c.onError(errors += _)
    c.stop()
    val c2 = new Collector(store, CollectorConfig())
    val errs2 = mutable.Buffer.empty[Throwable]
    c2.onError(errs2 += _)
    c2.track("t", Collector.rec("a" -> 1L))
    c2.stop()
    c2.track("t", Collector.rec("a" -> 2L)) // post-stop: listeners purged, must not throw
  }

  test("missing record fields spool as empty CSV and read back as null") {
    val (store, dir) = freshStore()
    val c = new Collector(store, CollectorConfig(
      schemas = Map("nt" -> graft.types.TableSchema("nt", Seq(
        "id" -> ColType.CInteger, "opt" -> ColType.CString, "v" -> ColType.CFloat)))))
    c.track("nt", Collector.rec("id" -> 1L, "opt" -> "here", "v" -> 0.5))
    c.track("nt", Collector.rec("id" -> 2L, "v" -> 1.5)) // opt absent
    c.stop()
    val back = LakeReader.read(spark, s"file://${dir.getAbsolutePath}", "nt")
    val r2 = back.filter(org.apache.spark.sql.functions.col("id") === 2L).collect()(0)
    assert(r2.isNullAt(r2.fieldIndex("opt")))
    assert(r2.getAs[Double]("v") == 1.5)
  }

  test("concurrent producers: all records land exactly once across threads") {
    val (store, _) = freshStore()
    val c = new Collector(store, CollectorConfig(batchRecordLimit = 500, batchZip = false))
    val flushes = mutable.Buffer.empty[FlushInfo]
    val errors = mutable.Buffer.empty[Throwable]
    c.onFlush(flushes += _); c.onError(errors += _)
    val threads = (0 until 8).map { t =>
      new Thread(() => {
        for (i <- 0 until 1000)
          c.track("conc", Collector.rec("t" -> t.toLong, "i" -> i.toLong))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    c.stop()
    assert(errors.isEmpty)
    assert(flushes.map(_.records).sum == 8000L)
    assert(flushes.count(_.trigger == FlushTrigger.RecordLimit) == 16)
  }

  test("gzip batches decompress to the same typed CSV and read back via Spark") {
    val (store, dir) = freshStore()
    val c = new Collector(store, CollectorConfig(
      schemas = Map("ev" -> graft.types.TableSchema("ev", Seq(
        "id" -> ColType.CInteger, "at" -> ColType.CTime, "tag" -> ColType.CString)))))
    val flushes = mutable.Buffer.empty[FlushInfo]
    c.onFlush(flushes += _)
    val t0 = java.time.Instant.parse("2024-05-05T08:00:00Z")
    for (i <- 0 until 100)
      c.track("ev", Collector.rec("id" -> i.toLong,
        "at" -> java.sql.Timestamp.from(t0.plusMillis(i * 250L)),
        "tag" -> s"x,$i\"q\""))
    c.stop()
    val key = flushes.head.key
    assert(key.endsWith(".csv.gz"))
    val head = scala.io.Source.fromInputStream(
      new GZIPInputStream(store.open(key))).getLines().take(2).toList
    assert(head == List("#INTEGER,TIME,STRING", "id,at,tag"))

    val back = LakeReader.read(spark, s"file://${dir.getAbsolutePath}", "ev")
    assert(back.count() == 100)
    import org.apache.spark.sql.functions._
    val r42 = back.filter(col("id") === 42).collect()(0)
    assert(r42.getAs[String]("tag") == "x,42\"q\"")
    assert(r42.getAs[java.sql.Timestamp]("at").toInstant == t0.plusMillis(42 * 250L))
  }
}
