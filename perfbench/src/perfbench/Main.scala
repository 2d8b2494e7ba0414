package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Benchmark harness: one JVM per run.
  *
  * {{{
  * perfbench.Main --workload ingest|queries|lake --seed N --seconds S --trace 0|1
  *                --work DIR --signatures FILE --t0-ms EPOCH_MS
  * perfbench.Main --record --work DIR --signatures FILE
  * }}}
  *
  * The last line of stdout is the result object. `--t0-ms` is when the
  * launcher started, so `setup_s` covers JVM start-up as well. */
object Main {
  final case class Args(workload: String = "", seed: Long = 1L, seconds: Double = 20, trace: Boolean = false,
                        work: File = new File("."), signatures: File = new File("signatures.tsv"),
                        t0Ms: Long = System.currentTimeMillis(), record: Boolean = false)

  def parse(a: List[String], acc: Args = Args()): Args = a match {
    case "--workload" :: v :: r => parse(r, acc.copy(workload = v))
    case "--seed" :: v :: r => parse(r, acc.copy(seed = v.toLong))
    case "--seconds" :: v :: r => parse(r, acc.copy(seconds = v.toDouble))
    case "--trace" :: v :: r => parse(r, acc.copy(trace = v == "1"))
    case "--work" :: v :: r => parse(r, acc.copy(work = new File(v)))
    case "--signatures" :: v :: r => parse(r, acc.copy(signatures = new File(v)))
    case "--t0-ms" :: v :: r => parse(r, acc.copy(t0Ms = v.toLong))
    case "--record" :: r => parse(r, acc.copy(record = true))
    case Nil => acc
    case other => throw new IllegalArgumentException(s"unknown arguments: ${other.mkString(" ")}")
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toList)
    args.work.mkdirs()
    val result =
      if (args.record) Record.run(args)
      else args.workload match {
        case "ingest" => IngestWorkload.run(args)
        case "queries" | "lake" => EntryWorkload.run(args, Workloads.byName(args.workload))
        case w => throw new IllegalArgumentException(s"unknown workload '$w'")
      }
    println(result)
    // The result is out and every output file is written: end the JVM
    // without Spark's shutdown hooks (the launcher removes the run's temp
    // directory) and without waiting for non-daemon threads.
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }

  // ---------------------------------------------------------------- shared

  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

  def cpuNanos: Long =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** The engine's process-wide store-operation counters, by kind. */
  def storeOps: Map[String, Double] = {
    import graft.lake.StoreOps._
    Map("lake.store_lists" -> lists.get.toDouble, "lake.store_reads" -> reads.get.toDouble,
      "lake.store_writes" -> writes.get.toDouble, "lake.store_deletes" -> deletes.get.toDouble)
  }

  def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def allocMb: Double =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean].getTotalThreadAllocatedBytes / 1048576.0

  /** Heap in use after full collections, in MB: the live set. Read from
    * each heap pool's usage as the collection left it: the current usage
    * would also count the allocation buffers threads take right after the
    * collection, which vary by megabytes. Spark frees some memory
    * (broadcast blocks, shuffle state) from a cleaner thread only after a
    * collection has found its owner unreachable, so collect until the
    * figure stops falling. */
  def heapLiveMb(): Double = {
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null).toSeq
    def used() = { System.gc(); pools.map(_.getCollectionUsage.getUsed).sum / 1048576.0 }
    var prev = used()
    var cur = { Thread.sleep(200); used() }
    var rounds = 0
    while (cur < prev * 0.99 && rounds < 8) { prev = cur; Thread.sleep(200); cur = used(); rounds += 1 }
    cur
  }

  /** The result line: every metric with its unit, plus the environment the
    * figures were taken in. */
  def result(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[(String, Double, String)],
             args: Args, extra: Seq[(String, String)]): String = {
    val ms = metrics.map { case (n, v, u) => n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }
    val env = Seq("workload" -> Json.str(args.workload), "seed" -> args.seed.toString,
      "seconds" -> Json.num(args.seconds), "trace" -> (if (args.trace) "1" else "0"),
      "cpus" -> Json.str(cpus), "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "work_dir" -> Json.str(args.work.getPath)) ++ extra
    Json.obj(Seq("correct" -> correct.toString, "attempted" -> attempted.toString, "failed" -> failed.toString,
      "metrics" -> Json.obj(ms), "env" -> Json.obj(env)))
  }

  def session(args: Args): SparkSession = {
    val spark = graft.Sessions.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Per-layer metric names, in the order they are printed. A traced run
    * of any workload prints all of them; a layer the workload does not
    * use reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "collector.track_s" -> "s", "collector.track_p99_us" -> "us", "collector.stop_s" -> "s",
    "collector.rec_per_s" -> "rec/s", "collector.flush_lag_p50_ms" -> "ms", "collector.flush_lag_p90_ms" -> "ms",
    "collector.flushes_limit" -> "count", "collector.flushes_stop" -> "count", "collector.errors" -> "count",
    "lake.csv_encode_s" -> "s", "lake.deflate_s" -> "s", "lake.store_put_s" -> "s",
    "lake.stored_bytes" -> "B", "lake.stored_bytes_per_rec" -> "B/rec",
    "lake.store_lists" -> "count", "lake.store_reads" -> "count", "lake.store_writes" -> "count",
    "lake.store_deletes" -> "count", "lake.jobs" -> "count",
    "streaming.triggers" -> "count", "streaming.trigger_s" -> "s", "streaming.planning_s" -> "s",
    "streaming.latest_offset_s" -> "s",
    "queries.build_s" -> "s", "queries.schema_infer_jobs" -> "count", "queries.schema_infer_s" -> "s",
    "queries.fixed_s" -> "s", "queries.proportional_s" -> "s",
    "plan.analysis_s" -> "s", "plan.optimization_s" -> "s", "plan.planning_s" -> "s", "plan.exchanges" -> "count",
    "exec.s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_s" -> "s", "exec.task_cpu_s" -> "s", "exec.busy_frac" -> "ratio",
    "exec.input_bytes" -> "B", "exec.shuffle_write_bytes" -> "B", "exec.spill_bytes" -> "B",
    "exec.gc_s" -> "s", "exec.skew" -> "ratio",
    "session.cached_left" -> "count", "session.streams_left" -> "count", "session.catalogs_left" -> "count",
    "session.pass_drift" -> "ratio",
    "jvm.gc_s" -> "s", "jvm.alloc_mb" -> "MB",
    "trace.overhead_frac" -> "ratio")

  def perLayer(values: Map[String, Double]): Seq[(String, Double, String)] = {
    val unknown = values.keySet -- PerLayer.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: ${unknown.mkString(", ")}")
    PerLayer.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
  }

  /** Median of each key over a run's passes (a key absent from a pass
    * counts as 0 there). */
  def medianByKey(passes: Seq[Map[String, Double]]): Map[String, Double] =
    passes.flatMap(_.keys).distinct.map(k => k -> Stats.median(passes.map(_.getOrElse(k, 0.0)))).toMap

  /** Shuffled copy of `xs`, seeded. */
  def shuffled[A](xs: Seq[A], seed: Long): Seq[A] = new scala.util.Random(seed).shuffle(xs)

  def writeText(f: File, s: String): Unit = {
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, s.getBytes("UTF-8")); ()
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete(); ()
  }
}
