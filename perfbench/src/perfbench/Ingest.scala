package perfbench

import graft.collector.{Collector, CollectorConfig, FlushInfo, FlushTrigger}
import graft.lake.{GzipOut, HadoopStore, TypedCsv}
import graft.types.{ColType, TableSchema}

import java.io.{BufferedReader, File, InputStreamReader, OutputStream}
import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import java.time.ZoneOffset
import java.time.format.DateTimeFormatter
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import java.util.zip.GZIPInputStream
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

/** The `ingest` workload's input: a seeded stream of records for three
  * tables shaped like the reference README's. */
final case class IngestInput(
    tables: Array[String], tokens: Array[String], fields: Array[Seq[(String, Any)]],
    /** record i is the one that fills its batch to the record limit */
    crossing: Array[Boolean],
    /** per resolved table: (records, order-independent checksum of the
      * records' wire fields) */
    expected: Map[String, (Long, Long)],
    columnOrder: Map[String, Seq[String]]) {
  def size: Int = fields.length
  def resolved(i: Int): String =
    if (tokens(i) == null) tables(i) else tables(i).replace("$", tokens(i))
}

object IngestGen {
  val Records = 200000
  /** Small enough that one pass flushes on the record limit ≥ 100 times. */
  val RecordLimit = 2000L
  val Tokens: IndexedSeq[String] = (0 until 50).map(i => f"t$i%02d")

  val User = "game_user_event"
  val Wide = "game_round_wide"
  val Custom = "game_custom_event_$"

  val WideSchema: TableSchema = TableSchema(Wide, Seq(
    "round_id" -> ColType.CInteger, "started_at" -> ColType.CTime, "ended_at" -> ColType.CTime,
    "session_id" -> ColType.CUuid, "user_id" -> ColType.CString, "game_id" -> ColType.CString,
    "player_name" -> ColType.CString, "opponent" -> ColType.CString, "chat" -> ColType.CString,
    "score" -> ColType.CFloat, "moves" -> ColType.CInteger, "won" -> ColType.CBoolean,
    "rating_delta" -> ColType.CFloat, "device" -> ColType.CString, "region" -> ColType.CString,
    "client_version" -> ColType.CString, "tags" -> ColType.CString))

  val config: CollectorConfig = CollectorConfig(
    columnTypes = Map(User -> Map("session_id" -> ColType.CUuid),
      Custom -> Map("session_id" -> ColType.CUuid)),
    schemas = Map(Wide -> WideSchema),
    batchZip = true,
    batchRecordLimit = RecordLimit)

  private val TimeFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(ZoneOffset.UTC)

  /** The wire text of one value: what a reader of the lake object must see
    * in that field (empty for null, ISO-8601 UTC milliseconds for times). */
  def wire(v: Any): String = v match {
    case null => ""
    case t: Timestamp => TimeFmt.format(t.toInstant)
    case other => other.toString
  }

  /** Order-independent 64-bit digest of one row's fields. */
  def rowHash(fields: Seq[String]): Long = {
    val s = fields.mkString("\u0001")
    (MurmurHash3.stringHash(s, 17).toLong << 32) | (MurmurHash3.stringHash(s, 91).toLong & 0xffffffffL)
  }

  private val names = Array("Zoë", "José", "Łukasz", "Müller", "Ana", "李雷", "Søren", "Amélie",
    "Chloé", "Ødegaard", "Jürgen", "Renée", "Ahmed", "Иван", "Ngozi", "Björk")
  private val chats = Array("gg", "nice move, well played", "say \"hi\"", "#1 player",
    "¿otra?", "a,b,\"c\"", "too slow…", "rematch?", "ok", "good game 👍")

  def generate(seed: Long): IngestInput = {
    val rnd = new java.util.SplittableRandom(seed)
    val zipf = {
      val w = Tokens.indices.map(k => 1.0 / math.pow(k + 1, 1.1))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def token(): String = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(zipf, u)
      Tokens(math.min(Tokens.size - 1, if (i >= 0) i else -i - 1))
    }
    def uuid() = new UUID(rnd.nextLong(), rnd.nextLong()).toString
    def pick[A](xs: Array[A]) = xs(rnd.nextInt(xs.length))
    def orNull[A](p: Double, v: => A): Any = if (rnd.nextDouble() < p) null else v
    val base = 1786492800000L // 2026-08-12T00:00:00Z
    val n = Records
    val tables = new Array[String](n)
    val toks = new Array[String](n)
    val fields = new Array[Seq[(String, Any)]](n)
    var i = 0
    while (i < n) {
      val at = new Timestamp(base + i * 7L + rnd.nextInt(5))
      val r = rnd.nextDouble()
      if (r < 0.45) {
        tables(i) = User
        fields(i) = Seq("event_time" -> at, "event_type" -> pick(Array("join", "leave", "move", "chat", "score")),
          "game_id" -> pick(Array("fourinarow", "chess", "go", "checkers")), "session_id" -> uuid(),
          "user_id" -> s"u${rnd.nextInt(5000)}")
      } else if (r < 0.65) {
        tables(i) = Wide
        fields(i) = Seq("round_id" -> i.toLong, "started_at" -> at,
          "ended_at" -> orNull(0.1, new Timestamp(at.getTime + rnd.nextInt(600000))),
          "session_id" -> uuid(), "user_id" -> s"u${rnd.nextInt(5000)}",
          "game_id" -> pick(Array("fourinarow", "chess", "go", "checkers")),
          "player_name" -> pick(names), "opponent" -> orNull(0.2, pick(names)), "chat" -> pick(chats),
          "score" -> (rnd.nextInt(1000000) / 100.0 + 0.5), "moves" -> rnd.nextInt(200).toLong,
          "won" -> rnd.nextBoolean(), "rating_delta" -> orNull(0.3, (rnd.nextInt(8001) - 4000) / 100.0 + 0.25),
          "device" -> pick(Array("ios", "android", "web")), "region" -> orNull(0.2, pick(Array("eu", "us", "apac"))),
          "client_version" -> s"1.${rnd.nextInt(20)}.${rnd.nextInt(10)}",
          "tags" -> Seq("ranked", "casual", "timed", "bot").filter(_ => rnd.nextBoolean()).mkString(","))
      } else {
        tables(i) = Custom
        toks(i) = token()
        fields(i) = Seq("event_time" -> at, "event_type" -> pick(Array("pool", "bonus", "level_up", "purchase")),
          "event_value" -> (if (rnd.nextBoolean()) rnd.nextInt(100000).toString else s"v${rnd.nextInt(100)}, x${rnd.nextInt(9)}"),
          "session_id" -> uuid())
      }
      i += 1
    }
    val counts = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val sums = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val order = mutable.HashMap.empty[String, Seq[String]]
    val crossing = new Array[Boolean](n)
    val in0 = IngestInput(tables, toks, fields, crossing, Map.empty, Map.empty)
    i = 0
    while (i < n) {
      val t = in0.resolved(i)
      val cols = order.getOrElseUpdate(t,
        if (tables(i) == Wide) WideSchema.columnNames else fields(i).map(_._1))
      val byName = fields(i).toMap
      counts(t) += 1
      crossing(i) = counts(t) % RecordLimit == 0
      sums(t) += rowHash(cols.map(c => wire(byName.getOrElse(c, null))))
      i += 1
    }
    in0.copy(expected = counts.keys.map(t => t -> (counts(t), sums(t))).toMap, columnOrder = order.toMap)
  }
}

/** Result of one ingest pass. Times in seconds unless named otherwise. */
final case class IngestPass(
    wallS: Double, cpuS: Double, stopS: Double, trackS: Double, trackP99Us: Option[Double],
    lagsMs: Seq[Double], flushesLimit: Int, flushesStop: Int, errors: Int,
    putS: Double, storeOps: Map[String, Double], storedBytes: Long,
    failedRecords: Long, problems: Seq[String],
    /** live heap the Collector held before `stop()`, when probed */
    collectorHeapMb: Option[Double] = None)

object Ingest {
  /** One pass: a fresh Collector over a fresh lake under `dir`, every
    * record tracked on this thread, then `stop()`. The lake is read back
    * and checked after the timed region, then deleted.
    *
    * With `heapProbe` the pass also measures the live heap the Collector
    * holds at its fullest: after the last `track`, once every record-limit
    * upload has reported, and before `stop()`, minus the live heap just
    * before the store and the Collector were created. The probe's
    * collections and waits fall inside the pass, so a probed pass is never
    * a timed one. */
  def pass(in: IngestInput, dir: File, tracer: Option[(Tracer, Long)], heapProbe: Boolean = false): IngestPass = {
    Main.deleteTree(dir)
    dir.mkdirs()
    val heap0 = if (heapProbe) Main.heapLiveMb() else 0.0
    val putSpans = new ConcurrentLinkedQueue[(String, Long, Long)]()
    val store = new TimedStore(new HadoopStore(dir.toURI.toString.stripSuffix("/")),
      (k, a, b) => if (tracer.isDefined) { putSpans.add((k, a, b)); () })
    val c = new Collector(store, IngestGen.config)
    val pendingLimit = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Long]]()
    val lags = new ConcurrentLinkedQueue[Double]()
    val flushes = new ConcurrentLinkedQueue[(FlushInfo, Long, Long)]() // info, triggered ns, done ns
    val errors = new AtomicLong(0L)
    @volatile var stopAt = 0L
    c.onFlush { f =>
      val done = System.nanoTime()
      val from = f.trigger match {
        case FlushTrigger.RecordLimit =>
          val t = pendingLimit.get(f.table).poll()
          lags.add((done - t) / 1e6); t
        case _ => stopAt
      }
      flushes.add((f, from, done))
    }
    c.onError { _ => errors.incrementAndGet(); () }
    val traced = tracer.isDefined
    val trackNs = if (traced) new Array[Long](in.size) else null
    val ops0 = Main.storeOps
    val cpu0 = Main.cpuNanos
    val t0 = System.nanoTime()
    var i = 0
    while (i < in.size) {
      val tok = in.tokens(i)
      if (in.crossing(i))
        pendingLimit.computeIfAbsent(in.resolved(i), _ => new ConcurrentLinkedQueue[Long]()).add(System.nanoTime())
      if (traced) {
        val a = System.nanoTime()
        c.track(in.tables(i), in.fields(i), Option(tok))
        trackNs(i) = System.nanoTime() - a
      } else c.track(in.tables(i), in.fields(i), Option(tok))
      i += 1
    }
    val collectorHeapMb = if (!heapProbe) None else {
      val limitFlushes = in.crossing.count(identity)
      val waitUntil = System.nanoTime() + 60000000000L
      while (lags.size < limitFlushes && errors.get == 0 && System.nanoTime() < waitUntil) Thread.sleep(5)
      Some(Main.heapLiveMb() - heap0)
    }
    stopAt = System.nanoTime()
    c.stop()
    val t1 = System.nanoTime()
    val cpu1 = Main.cpuNanos
    val ops1 = Main.storeOps
    val fl = flushes.asScala.toSeq
    val (stored, failed, problems) = check(in, dir, fl.map(_._1))
    for ((tr, passSpan) <- tracer) {
      for ((f, a, b) <- fl)
        tr.add(passSpan, "flush", tr.usOfNanos(a), tr.usOfNanos(b),
          Seq("table" -> f.table, "trigger" -> f.trigger.toString, "records" -> f.records.toString))
      for ((k, a, b) <- putSpans.asScala)
        tr.add(-1, "store.put", tr.usOfNanos(a), tr.usOfNanos(b), Seq("key" -> k))
      tr.add(passSpan, "stop", tr.usOfNanos(stopAt), tr.usOfNanos(t1))
    }
    IngestPass(
      wallS = (t1 - t0) / 1e9, cpuS = (cpu1 - cpu0) / 1e9, stopS = (t1 - stopAt) / 1e9,
      trackS = if (traced) trackNs.sum / 1e9 else 0.0,
      trackP99Us = if (traced) Stats.percentile(trackNs.toSeq.map(_ / 1e3), 99) else None,
      lagsMs = lags.asScala.toSeq,
      flushesLimit = fl.count(_._1.trigger == FlushTrigger.RecordLimit),
      flushesStop = fl.count(_._1.trigger == FlushTrigger.Stop),
      errors = errors.get.toInt, putS = store.putNanos.get / 1e9,
      storeOps = ops1.map { case (k, v) => k -> (v - ops0(k)) },
      storedBytes = stored, failedRecords = failed, problems = problems, collectorHeapMb = collectorHeapMb)
  }

  /** RFC-4180 split of one line (no embedded line breaks). */
  def splitCsv(line: String): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var inQ = false
    var i = 0
    while (i < line.length) {
      val ch = line.charAt(i)
      if (inQ) {
        if (ch == '"' && i + 1 < line.length && line.charAt(i + 1) == '"') { sb.append('"'); i += 1 }
        else if (ch == '"') inQ = false
        else sb.append(ch)
      } else if (ch == '"') inQ = true
      else if (ch == ',') { out += sb.toString; sb.clear() }
      else sb.append(ch)
      i += 1
    }
    out += sb.toString
    out.toSeq
  }

  /** Reads every lake object back and compares, per table, the row count
    * and row checksum with the generator's, and the object count with the
    * flush count. Returns (stored bytes, records of tables that failed the
    * check, problems). */
  def check(in: IngestInput, dir: File, flushes: Seq[FlushInfo]): (Long, Long, Seq[String]) = {
    val problems = mutable.ArrayBuffer.empty[String]
    val got = mutable.HashMap.empty[String, (Long, Long)].withDefaultValue((0L, 0L))
    val files = Option(dir.listFiles()).map(_ => walk(dir)).getOrElse(Nil)
    var bytes = 0L
    for (f <- files) {
      bytes += f.length()
      val rel = dir.toPath.relativize(f.toPath).toString.split(File.separatorChar)
      val table = if (rel.length == 6) rel(4) else "?"
      val cols = in.columnOrder.getOrElse(table, Nil)
      val r = new BufferedReader(new InputStreamReader(
        new GZIPInputStream(new java.io.FileInputStream(f)), StandardCharsets.UTF_8))
      try {
        val types = r.readLine()
        val header = r.readLine()
        if (types == null || !types.startsWith("#") || header == null || splitCsv(header) != cols)
          problems += s"$table: bad header in ${f.getName}"
        var (n, sum) = got(table)
        var line = r.readLine()
        while (line != null) {
          n += 1; sum += IngestGen.rowHash(splitCsv(line)); line = r.readLine()
        }
        got(table) = (n, sum)
      } finally r.close()
    }
    var failed = 0L
    for ((t, (n, sum)) <- in.expected) {
      if (got(t) != (n, sum)) { problems += s"$t: read back ${got(t)._1} rows, expected $n"; failed += n }
    }
    for (t <- got.keySet -- in.expected.keySet) problems += s"unexpected table $t"
    if (files.size != flushes.size) problems += s"${files.size} objects for ${flushes.size} flushes"
    if (flushes.map(_.records).sum != in.size) problems += s"flushed ${flushes.map(_.records).sum} of ${in.size} records"
    (bytes, failed, problems.toSeq)
  }

  private def walk(d: File): Seq[File] =
    Option(d.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) walk(f) else Seq(f))

  /** Replays the records through the lake codec outside the Collector:
    * every row through `TypedCsv.formatRow`, then the encoded bytes
    * through `GzipOut`. Returns (encode seconds, deflate seconds). */
  def replay(in: IngestInput, tracer: Tracer, parent: Long): (Double, Double) = {
    val types: Map[String, Seq[ColType]] = in.columnOrder.map { case (t, cols) =>
      val base = if (t.startsWith("game_custom_event_")) IngestGen.Custom else t
      t -> (if (base == IngestGen.Wide) IngestGen.WideSchema.colTypes
      else {
        val first = in.fields.indices.find(i => in.resolved(i) == t).map(in.fields(_).toMap).get
        val ov = IngestGen.config.columnTypes.getOrElse(base, Map.empty)
        cols.map(c => ov.getOrElse(c, ColType.infer(first(c))))
      })
    }
    val out = new java.io.ByteArrayOutputStream(16 << 20)
    val e0 = System.nanoTime()
    var i = 0
    while (i < in.size) {
      val t = in.resolved(i)
      val byName = in.fields(i).toMap
      val row = TypedCsv.formatRow(in.columnOrder(t).map(byName.getOrElse(_, null)), types(t))
      out.write(row.getBytes(StandardCharsets.UTF_8)); out.write('\n')
      i += 1
    }
    val e1 = System.nanoTime()
    val raw = out.toByteArray
    val sink = new OutputStream { def write(b: Int): Unit = (); override def write(b: Array[Byte], o: Int, l: Int): Unit = () }
    val d0 = System.nanoTime()
    val gz = GzipOut(sink)
    gz.write(raw); gz.close()
    val d1 = System.nanoTime()
    tracer.add(parent, "encode", tracer.usOfNanos(e0), tracer.usOfNanos(e1))
    tracer.add(parent, "deflate", tracer.usOfNanos(d0), tracer.usOfNanos(d1))
    ((e1 - e0) / 1e9, (d1 - d0) / 1e9)
  }
}
