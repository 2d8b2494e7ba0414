package graft.collector

import graft.lake.{GzipOut, HadoopStore, LakeReader, TypedCsv}
import graft.types.{ColType, TableSchema}
import graft.SparkSuite

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPInputStream
import scala.collection.mutable
import scala.jdk.CollectionConverters._

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

  /** The Collector's spool files now in the temp directory. */
  private def spools(): Set[String] = {
    val s = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try s.iterator.asScala.map(_.getFileName.toString)
      .filter(_.startsWith("graft-analytics-")).toSet
    finally s.close()
  }

  test("store failure during async flush surfaces on onError, temp file disposed") {
    for (zip <- Seq(false, true)) {
      val before = spools()
      val spooledDuringPut = mutable.Buffer.empty[String]
      val failing = new graft.lake.Store {
        def put(key: String, data: java.io.InputStream): Unit = {
          spooledDuringPut ++= spools() -- before
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
      val c = new Collector(failing, CollectorConfig(batchZip = zip))
      val errors = mutable.Buffer.empty[Throwable]
      val flushes = mutable.Buffer.empty[FlushInfo]
      c.onError(errors += _); c.onFlush(flushes += _)
      c.track("t", Collector.rec("a" -> 1L))
      c.stop() // awaits the async flush and its error
      assert(flushes.isEmpty)
      assert(errors.nonEmpty && errors.head.getMessage == "store down")
      // the spool is a plain .csv, gzip on or off, and gone after the failure
      assert(spooledDuringPut.size == 1 && spooledDuringPut.head.endsWith(".csv"), s"zip=$zip")
      assert(spools() -- before == Set.empty, s"zip=$zip: temp file left behind")
    }
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

  private val EncSchema = TableSchema("enc", Seq("s" -> ColType.CString,
    "n" -> ColType.CInteger, "t" -> ColType.CString, "f" -> ColType.CFloat))

  /** Record shapes and field texts the spool encoder must project and
    * quote exactly as `toMap` + `TypedCsv.formatRow` do. */
  private val EncCorpus: Seq[Seq[(String, Any)]] = Seq(
    Collector.rec("s" -> "plain", "n" -> 1L, "t" -> "x", "f" -> 0.5), // schema order
    Collector.rec("f" -> 1.5, "t" -> "y", "n" -> 2L, "s" -> "permuted"),
    Collector.rec("s" -> "first", "n" -> 3L, "s" -> "last"), // last wins
    Collector.rec("n" -> 4L), // missing fields
    Collector.rec("s" -> "e", "zz" -> "extra", "n" -> 5L, "t" -> "z"),
    Collector.rec("s" -> "", "n" -> 6L, "t" -> ""),
    Collector.rec("s" -> "#not a header", "t" -> "a#b"),
    Collector.rec("s" -> "say \"hi\"", "t" -> "\""),
    Collector.rec("s" -> "a,b", "t" -> ","),
    Collector.rec("s" -> "cr\rhere", "t" -> "lf\nhere", "f" -> 2.25),
    Collector.rec("s" -> "crlf\r\n", "t" -> "\n"),
    Collector.rec("s" -> "na\u00efve \u2013 \u6771\u4eac", "t" -> "\u00e9"),
    Collector.rec("s" -> "pair \uD83D\uDE00", "t" -> "\uD83D\uDE00"),
    Collector.rec("s" -> "lone \uD83D", "t" -> "x\uDE00y", "n" -> 7L))

  /** An object's full text with each row encoded as `TypedCsv.formatRow`
    * of its `toMap` projection. */
  private def projectedText(schema: TableSchema, recs: Seq[Seq[(String, Any)]]): String = {
    val rows = recs.map { r =>
      val byName = r.toMap
      TypedCsv.formatRow(schema.columnNames.map(byName.getOrElse(_, null)), schema.colTypes)
    }
    // through the UTF-8 encoder, as the spool is: an unpaired surrogate
    // becomes '?'
    new String((Seq(schema.typesHeader, schema.namesHeader) ++ rows)
      .map(_ + "\n").mkString.getBytes(UTF_8), UTF_8)
  }

  test("every spooled row equals formatRow of the toMap projection, gzip on and off") {
    // a schema inferred from a record that repeats a field repeats the column
    val repeated = Seq(Collector.rec("a" -> 1L, "b" -> "x", "a" -> 2L),
      Collector.rec("b" -> "y", "a" -> 3L))
    val repSchema = TableSchema("rep",
      Seq("a" -> ColType.CInteger, "b" -> ColType.CString, "a" -> ColType.CInteger))
    for (zip <- Seq(false, true)) {
      val (store, _) = freshStore()
      val c = new Collector(store, CollectorConfig(schemas = Map("enc" -> EncSchema),
        batchZip = zip))
      val flushes = mutable.Buffer.empty[FlushInfo]
      val errors = mutable.Buffer.empty[Throwable]
      c.onFlush(flushes += _); c.onError(errors += _)
      EncCorpus.foreach(c.track("enc", _))
      repeated.foreach(c.track("rep", _))
      c.stop()
      assert(errors.isEmpty)
      def text(table: String): String = {
        val in = store.open(flushes.find(_.table == table).get.key)
        val raw = if (zip) new GZIPInputStream(in) else in
        try new String(raw.readAllBytes(), UTF_8) finally raw.close()
      }
      assert(text("enc") == projectedText(EncSchema, EncCorpus), s"zip=$zip")
      assert(text("rep") == projectedText(repSchema, repeated), s"zip=$zip")
    }
  }

  test("GzipOut.reading yields the bytes GzipOut writes") {
    val random = new Array[Byte](1 << 20)
    new scala.util.Random(11).nextBytes(random)
    val csv = {
      val sb = new StringBuilder
      var i = 0
      while (sb.length < (1 << 20)) {
        sb.append(s"$i,user-$i,\"q,$i\",${i * 0.25},\u6771\n"); i += 1
      }
      sb.toString.getBytes(UTF_8).take(1 << 20)
    }
    for ((what, bytes) <- Seq("empty" -> Array.emptyByteArray, "1 byte" -> Array[Byte](42),
        "1 MiB random" -> random, "1 MiB CSV" -> csv)) {
      // pushed in the 8 KiB chunks the spool's UTF-8 encoder writes
      val pushed = new ByteArrayOutputStream
      val gz = GzipOut(pushed)
      bytes.grouped(8192).foreach(gz.write)
      gz.close()
      val in = GzipOut.reading(new ByteArrayInputStream(bytes))
      val pulled = try in.readAllBytes() finally in.close()
      assert(java.util.Arrays.equals(pulled, pushed.toByteArray), what)
      val back = new GZIPInputStream(new ByteArrayInputStream(pulled)).readAllBytes()
      assert(java.util.Arrays.equals(back, bytes), what)
    }
  }

  test("backpressure counts UTF-8 bytes of multi-byte text") {
    val (store, _) = freshStore()
    val c = new Collector(store, CollectorConfig(batchByteLimit = 300,
      batchRecordLimit = 10000))
    val flushes = mutable.Buffer.empty[FlushInfo]
    val errors = mutable.Buffer.empty[Throwable]
    c.onFlush(flushes += _); c.onError(errors += _)
    val texts = Seq("\u00e9", "\u6771\u4eac", "\uD83D\uDE00", "\uD83D", "a,\"\u00e9\"")
    for (i <- 0 until 200)
      c.track("mb", Collector.rec("i" -> i.toLong, "txt" -> texts(i % 5) * (i % 7)))
    c.stop()
    assert(errors.isEmpty)
    // the record counts at which a gauge of utf8Length(formatRow of the
    // toMap projection) + 1 per record flushes this stream
    assert(flushes.map(_.records) == Seq(20, 19, 17, 19, 20, 16, 19, 16, 19, 16, 19))
    assert(flushes.forall(_.trigger == FlushTrigger.Backpressure))
  }

  test("track's thread only encodes: no gzip in the Collector, no per-row formatRow or toMap, one quoting scan") {
    def source(path: String): String = {
      val p = Paths.get("src", "main", "scala", "graft").resolve(path)
      assert(Files.isRegularFile(p), s"run from the repo root; no $p")
      new String(Files.readAllBytes(p), UTF_8)
    }
    val collector = source("collector/Collector.scala")
    val writer = source("lake/LakeWriter.scala")
    val csv = source("lake/TypedCsv.scala")
    val hits = Seq(
      "Collector.scala constructs a gzip stream (deflate belongs in the upload)" ->
        Seq("GzipOut(", "GZIPOutputStream").exists(collector.contains),
      "Collector.scala calls formatRow( or .toMap (rows go through TypedCsv.appendRow)" ->
        Seq("formatRow(", ".toMap").exists(collector.contains),
      "LakeWriter.scala calls formatRow( or .toMap (rows go through TypedCsv.appendRow)" ->
        Seq("formatRow(", ".toMap").exists(writer.contains),
      "TypedCsv.scala holds a second quoting scan (quoteField's rule lives in appendField)" ->
        (Seq("indexOf(','", "indexOf('\"'", "indexOf('\\n'", "indexOf('\\r'",
          "replace(\"\\\"\"").exists(csv.contains) ||
          "== ','".r.findAllMatchIn(csv).size != 1)
    ).collect { case (what, true) => what }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
