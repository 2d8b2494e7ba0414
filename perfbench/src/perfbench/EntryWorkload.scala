package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A workload made of declared entries run at one scale factor.
  *
  * @param op what one latency sample is: `entry` (one entry's build +
  *           exec) or `statement` (one Dataset action an entry issues:
  *           a fixture write, a DML statement, a read, the final write)
  * @param fitSf a second scale the traced run also runs, for the
  *              fixed + proportional split of each entry's time */
final case class WorkloadDef(name: String, sf: Double, entries: Seq[String], op: String,
                             fitSf: Option[Double])

/** Timed execution of entry workloads (`queries`, `lake`). */
object EntryWorkload {
  val MinPasses = 2

  final case class Pass(wallS: Double, cpuS: Double, ops: Seq[Entries.Op],
                        failures: Seq[(String, String)], stmtMs: Seq[Double],
                        counters: Map[String, Double])

  /** Durations of successful Dataset actions, while `on`. */
  final class StatementTimes extends QueryExecutionListener {
    @volatile var on = false
    val ms = new ConcurrentLinkedQueue[Double]()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) { ms.add(durationNs / 1e6); () }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    def take(): Seq[Double] = { val out = ms.asScala.toSeq; ms.clear(); out }
  }

  /** Latency samples of one pass, in ms: statement durations, or the
    * build + exec time of every entry that did not fail. */
  def samples(p: Pass, op: String): Seq[Double] =
    if (op == "statement") p.stmtMs
    else p.ops.filterNot(o => p.failures.exists(_._1 == o.name)).map(_.totalS * 1e3)

  /** Wall and CPU seconds per pass: medians over the passes in which no
    * operation failed. None when every pass held a failure, because a pass
    * that ends early on a throw, or runs a wrong plan, would read as a
    * speedup: a failed operation is never timed, not even inside a pass. */
  def passFigures(passes: Seq[Pass]): Option[(Double, Double)] = {
    val ok = passes.filter(_.failures.isEmpty)
    if (ok.isEmpty) None else Some((Stats.median(ok.map(_.wallS)), Stats.median(ok.map(_.cpuS))))
  }

  private def catalogs(spark: SparkSession): Set[String] =
    spark.conf.getAll.keys.filter(k => k.startsWith("spark.sql.catalog.") && k.count(_ == '.') == 3).toSet

  def run(args: Main.Args, wd: WorkloadDef): String = {
    val spark = Main.session(args)
    val sigs = Signatures.load(args.signatures)
    val dir = Gen.generate(spark, wd.sf)
    val fns = wd.entries.map(n => n -> graft.SparkEntry.queries(n)).toMap
    val stmts = new StatementTimes
    spark.listenerManager.register(stmts)
    val catalogs0 = catalogs(spark)
    val lakeSources = sys.props.getOrElse("perfbench.lakeSources", "").split(',').filter(_.nonEmpty).toSet

    var attempted = 0L
    val failures = mutable.ArrayBuffer.empty[(String, String)]
    var passNo = 0

    def runPass(sf: Double, dataDir: String, trace: Option[(Tracer, SparkMeters)]): Pass = {
      passNo += 1
      val order = Main.shuffled(wd.entries, args.seed * 1000003L + passNo)
      System.gc()
      trace.foreach(_._2.drain())
      val before = trace.map(_._2.snapshot()).getOrElse(Map.empty)
      val sites0 = trace.map(_._2.sitesSnapshot()).getOrElse(Map.empty)
      val ops0 = Main.storeOps
      val gc0 = Main.gcSeconds
      val alloc0 = Main.allocMb
      stmts.take()
      stmts.on = true
      val passId = trace.map(_._1.nextId()).getOrElse(0L)
      val passStartUs = trace.map(_._1.nowUs).getOrElse(0L)
      val cpu0 = Main.cpuNanos
      val t0 = System.nanoTime()
      val ops = order.map { n =>
        val s0 = System.nanoTime()
        val op = Entries.run(spark, n, fns(n), dataDir)
        for ((tr, _) <- trace) {
          val e0 = tr.usOfNanos(s0)
          val b1 = e0 + (op.buildS * 1e6).toLong
          val id = tr.add(passId, "entry", e0, tr.nowUs, Seq("entry" -> n))
          tr.add(id, "build", e0, b1)
          tr.add(id, "exec", b1, b1 + (op.execS * 1e6).toLong)
        }
        op
      }
      val t1 = System.nanoTime()
      val cpu1 = Main.cpuNanos
      stmts.on = false
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      val fails = ops.flatMap(o => Entries.failure(o, sigs.get(Signatures.key(o.name, sf))).map(o.name -> _))
      attempted += ops.size
      failures ++= fails
      val wall = (t1 - t0) / 1e9
      val counters = trace.map { case (tr, m) =>
        tr.add(Span(passId, 0, "pass", passStartUs, tr.usOfNanos(t1), Seq("workload" -> wd.name, "sf" -> sf.toString)))
        m.drain()
        val after = m.snapshot()
        val sites1 = m.sitesSnapshot()
        val siteDelta = sites1.map { case (s, (n, secs)) =>
          val (n0, secs0) = sites0.getOrElse(s, (0L, 0.0)); s -> (n - n0, secs - secs0) }
        def sitesWhere(p: String => Boolean) = siteDelta.filter { case (s, _) => p(s) }.values
        val inferSites = sitesWhere(s => s.startsWith("parquet at QueryDef.scala"))
        val lakeJobs = sitesWhere(s => lakeSources.exists(f => s.contains(s" at $f:"))).map(_._1).sum
        val delta = (after.keySet ++ before.keySet).map(k => k -> (after.getOrElse(k, 0.0) - before.getOrElse(k, 0.0))).toMap
        val ops1 = Main.storeOps
        delta ++ ops1.map { case (k, v) => k -> (v - ops0(k)) } ++ Map(
          "exec.skew" -> after("exec.skew"),
          "exec.busy_frac" -> delta.getOrElse("exec.task_s", 0.0) / (wall * Main.cpus.toDouble),
          "lake.jobs" -> lakeJobs.toDouble,
          "queries.schema_infer_jobs" -> inferSites.map(_._1).sum.toDouble,
          "queries.schema_infer_s" -> inferSites.map(_._2).sum,
          "queries.build_s" -> ops.map(_.buildS).sum,
          "exec.s" -> ops.map(_.execS).sum,
          "session.cached_left" -> spark.sparkContext.getPersistentRDDs.size.toDouble,
          "session.streams_left" -> spark.streams.active.length.toDouble,
          "session.catalogs_left" -> (catalogs(spark) -- catalogs0).size.toDouble,
          "jvm.gc_s" -> (Main.gcSeconds - gc0),
          "jvm.alloc_mb" -> (Main.allocMb - alloc0),
          "trace.pass_s" -> wall)
      }.getOrElse(Map.empty)
      Pass(wall, (cpu1 - cpu0) / 1e9, ops, fails, stmts.take(), counters)
    }

    def samples(p: Pass): Seq[Double] = EntryWorkload.samples(p, wd.op)

    // set-up: JVM start, session, input tables, one warm-up pass
    runPass(wd.sf, dir, None)
    val setupS = (System.currentTimeMillis() - args.t0Ms) / 1e3
    // taken after the same work in every run (the timed passes are as
    // many as fit in the time, and Spark keeps state per execution)
    val heapMb = Main.heapLiveMb()

    val untraced = mutable.ArrayBuffer.empty[Pass]
    val traced = mutable.ArrayBuffer.empty[Pass]
    val budget = if (args.trace) args.seconds / 2 else args.seconds
    val deadline = args.seconds * 4
    val m0 = System.nanoTime()
    def elapsed(from: Long) = (System.nanoTime() - from) / 1e9
    val u0 = System.nanoTime()
    while ((elapsed(u0) < budget || untraced.size < MinPasses) && elapsed(m0) < deadline)
      untraced += runPass(wd.sf, dir, None)

    val tracer = new Tracer
    var fit = Map.empty[String, Double]
    var sitesAll = Map.empty[String, (Long, Double)]
    if (args.trace) {
      val meters = new SparkMeters(spark, tracer)
      meters.install()
      val s0 = System.nanoTime()
      while ((elapsed(s0) < budget || traced.size < MinPasses) && elapsed(m0) < deadline)
        traced += runPass(wd.sf, dir, Some((tracer, meters)))
      sitesAll = meters.sitesSnapshot()
      meters.uninstall()
      for (fsf <- wd.fitSf) {
        val fdir = Gen.generate(spark, fsf)
        val smallPass = runPass(fsf, fdir, None)
        def clean(p: Pass, n: String) = p.ops.filter(o => o.name == n && !p.failures.exists(_._1 == n)).map(_.totalS)
        val small = wd.entries.map(n => n -> clean(smallPass, n).headOption.getOrElse(Double.NaN)).toMap
        val big = wd.entries.map { n =>
          val xs = untraced.flatMap(clean(_, n)).toSeq
          n -> (if (xs.isEmpty) Double.NaN else Stats.median(xs))
        }.toMap
        val (r0, r1) = (Gen.totalRows(fsf).toDouble, Gen.totalRows(wd.sf).toDouble)
        // per entry a + b·rows through the two points, (a, b·rows at the
        // timed scale); an entry no slower on more rows counts as all fixed,
        // and an entry that failed at either scale leaves the fit unreported
        val parts = wd.entries.map { n =>
          val b = math.max(0.0, (big(n) - small(n)) / (r1 - r0))
          (big(n) - b * r1, b * r1)
        }
        fit = Map("queries.fixed_s" -> parts.map(_._1).sum, "queries.proportional_s" -> parts.map(_._2).sum)
      }
    }
    failures.take(10).foreach { case (n, e) => System.err.println(s"[perfbench] ${wd.name}: $n: $e") }
    val failedNames = failures.map(_._1).distinct
    val extra = Seq("sf" -> Json.num(wd.sf), "entries" -> wd.entries.size.toString,
      "passes" -> untraced.size.toString,
      "pass_wall_s" -> untraced.map(p => Json.num(p.wallS)).mkString("[", ",", "]"),
      "pass_cpu_s" -> untraced.map(p => Json.num(p.cpuS)).mkString("[", ",", "]"),
      "failed_entries" -> failedNames.map(Json.str).mkString("[", ",", "]"))
    if (!args.trace) {
      val lat = untraced.flatMap(samples).toSeq
      // null, not a figure, when no pass ran clean
      val figures = passFigures(untraced.toSeq)
      val metrics = Seq(
        ("setup_s", setupS, "s"),
        ("pass_s", figures.map(_._1).getOrElse(Double.NaN), "s"),
        ("cpu_s", figures.map(_._2).getOrElse(Double.NaN), "s"),
        ("heap_live_mb", heapMb, "MB"))
      Main.result(failures.isEmpty, attempted, failures.size, metrics, args,
        extra ++ Seq("op" -> Json.str(wd.op), "op_samples" -> lat.size.toString,
          "op_p50_ms" -> Stats.percentile(lat, 50).map(Json.num).getOrElse("null")))
    } else {
      val out = new File(args.work, s"trace-${wd.name}-${args.seed}")
      tracer.resolveParents()
      tracer.write(new File(out, "spans.jsonl"))
      val per = traced.map(_.counters).toSeq
      Census.write(new File(out, "census.json"), per, sitesAll, tracer.selfTimesUs)
      val med = Main.medianByKey(per)
      val untracedPass = Stats.median(untraced.map(_.wallS).toSeq)
      val values = (med - "trace.pass_s") ++ fit ++ Map(
        "session.pass_drift" -> untraced.last.wallS / untraced.head.wallS,
        "trace.overhead_frac" -> (med("trace.pass_s") / untracedPass - 1))
      Main.result(failures.isEmpty, attempted, failures.size, Main.perLayer(values), args,
        extra ++ Seq("span_file" -> Json.str(new File(out, "spans.jsonl").getPath),
          "traced_passes" -> traced.size.toString))
    }
  }

}
