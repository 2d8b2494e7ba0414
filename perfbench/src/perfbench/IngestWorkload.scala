package perfbench

import java.io.File
import scala.collection.mutable

/** `ingest`: one producer thread tracks a pre-generated record stream into
  * a Collector (gzip on, default age limit) and calls `stop()`; that is
  * one pass. Each pass writes a fresh lake, which is read back and checked
  * after the timed region. */
object IngestWorkload {
  /** Set-up repeats: the record stream is generated this many times and
    * the median generation time enters `setup_s`. */
  val GenRepeats = 3
  val WarmupPasses = 2
  val MinPasses = 5

  def run(args: Main.Args): String = {
    // set-up: JVM start (measured from the launcher's clock), generating the
    // inputs (repeated, median kept), warm-up passes
    val jvmReadyS = (System.currentTimeMillis() - args.t0Ms) / 1e3
    var in: IngestInput = null
    val genS = (1 to GenRepeats).map { _ =>
      in = null
      val t = System.nanoTime(); in = IngestGen.generate(args.seed); (System.nanoTime() - t) / 1e9
    }
    val lakeDir = new File(args.work, s"lake-ingest-${ProcessHandle.current().pid()}")
    var failed = 0L
    var attempted = 0L
    val problems = mutable.LinkedHashSet.empty[String]
    def account(p: IngestPass): Unit = {
      attempted += in.size
      failed += math.min(in.size.toLong, p.failedRecords + p.errors)
      problems ++= p.problems
    }
    val w0 = System.nanoTime()
    (1 to WarmupPasses).foreach(_ => account(Ingest.pass(in, lakeDir, None)))
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = jvmReadyS + Stats.median(genS) + warmS
    // the Collector's own live heap, from one probed pass after set-up (the
    // harness's pre-generated input is live too, and left out)
    val probe = Ingest.pass(in, lakeDir, None, heapProbe = true)
    account(probe)
    val heapMb = probe.collectorHeapMb.get

    val tracer = new Tracer
    val untraced = mutable.ArrayBuffer.empty[IngestPass]
    val traced = mutable.ArrayBuffer.empty[(IngestPass, Map[String, Double])]
    val budget = if (args.trace) args.seconds / 2 else args.seconds
    def loop(f: => Unit, count: => Int): Unit = {
      val t0 = System.nanoTime()
      while ((System.nanoTime() - t0) / 1e9 < budget || count < MinPasses) f
    }
    loop({
      System.gc()
      val p = Ingest.pass(in, lakeDir, None); account(p); untraced += p
    }, untraced.size)
    if (args.trace) loop({
      System.gc()
      val gc0 = Main.gcSeconds; val a0 = Main.allocMb
      val passId = tracer.nextId()
      val s0 = tracer.nowUs
      val p = Ingest.pass(in, lakeDir, Some((tracer, passId)))
      val gc1 = Main.gcSeconds; val a1 = Main.allocMb
      tracer.add(Span(passId, 0, "pass", s0, s0 + (p.wallS * 1e6).toLong, Seq("workload" -> "ingest")))
      account(p)
      traced += p -> Map("jvm.gc_s" -> (gc1 - gc0), "jvm.alloc_mb" -> (a1 - a0))
    }, traced.size)
    Main.deleteTree(lakeDir)
    val correct = failed == 0 && problems.isEmpty
    problems.take(5).foreach(p => System.err.println(s"[perfbench] ingest: $p"))
    val extra = Seq("records_per_pass" -> in.size.toString, "record_limit" -> IngestGen.RecordLimit.toString,
      "passes" -> untraced.size.toString,
      "pass_wall_s" -> untraced.map(p => Json.num(p.wallS)).mkString("[", ",", "]"))

    if (!args.trace) {
      val lags = untraced.flatMap(_.lagsMs).toSeq
      val metrics = Seq(
        ("setup_s", setupS, "s"),
        ("pass_s", Stats.median(untraced.map(_.wallS).toSeq), "s"),
        ("cpu_s", Stats.median(untraced.map(_.cpuS).toSeq), "s"),
        ("heap_live_mb", heapMb, "MB"))
      Main.result(correct, attempted, failed, metrics, args,
        extra ++ Seq("rec_per_s" -> Json.num(Stats.median(untraced.map(p => in.size / p.wallS).toSeq)),
          "op" -> Json.str("flush lag: record-limit track() to onFlush"), "op_samples" -> lags.size.toString,
          "op_p50_ms" -> Stats.percentile(lags, 50).map(Json.num).getOrElse("null")))
    } else {
      val replayId = tracer.nextId()
      val r0 = tracer.nowUs
      val (encS, defS) = Ingest.replay(in, tracer, replayId)
      tracer.add(Span(replayId, 0, "replay", r0, tracer.nowUs))
      tracer.resolveParents()
      val out = new File(args.work, s"trace-ingest-${args.seed}")
      tracer.write(new File(out, "spans.jsonl"))
      val per = traced.map { case (p, jvm) =>
        Map("collector.track_s" -> p.trackS, "collector.track_p99_us" -> p.trackP99Us.getOrElse(Double.NaN),
          "collector.stop_s" -> p.stopS, "collector.flushes_limit" -> p.flushesLimit.toDouble,
          "collector.flushes_stop" -> p.flushesStop.toDouble, "collector.errors" -> p.errors.toDouble,
          "lake.store_put_s" -> p.putS, "lake.stored_bytes" -> p.storedBytes.toDouble,
          "lake.stored_bytes_per_rec" -> p.storedBytes.toDouble / in.size,
          "trace.pass_s" -> p.wallS) ++ p.storeOps ++ jvm
      }.toSeq
      val med = Main.medianByKey(per)
      val untracedPass = Stats.median(untraced.map(_.wallS).toSeq)
      // a percentile with too few samples beyond it is refused and prints
      // as null, never as 0
      val lags = traced.flatMap(_._1.lagsMs).toSeq
      val values = (med - "trace.pass_s") ++ Map(
        "lake.csv_encode_s" -> encS, "lake.deflate_s" -> defS,
        "collector.rec_per_s" -> Stats.median(untraced.map(p => in.size / p.wallS).toSeq),
        "collector.flush_lag_p50_ms" -> Stats.percentile(lags, 50).getOrElse(Double.NaN),
        "collector.flush_lag_p90_ms" -> Stats.percentile(lags, 90).getOrElse(Double.NaN),
        "session.pass_drift" -> untraced.last.wallS / untraced.head.wallS,
        "trace.overhead_frac" -> (med("trace.pass_s") / untracedPass - 1))
      Census.write(new File(out, "census.json"), per, Map.empty, tracer.selfTimesUs)
      Main.result(correct, attempted, failed, Main.perLayer(values), args,
        extra ++ Seq("span_file" -> Json.str(new File(out, "spans.jsonl").getPath),
          "traced_passes" -> traced.size.toString, "flush_lag_samples" -> lags.size.toString,
          "track_samples_per_pass" -> in.size.toString))
    }
  }
}
