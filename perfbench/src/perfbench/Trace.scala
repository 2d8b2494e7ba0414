package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.io.{File, PrintWriter}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** One traced interval. Times are epoch microseconds; `parent` is 0 for a
  * root span. */
final case class Span(id: Long, parent: Long, name: String, startUs: Long, endUs: Long,
                      attrs: Seq[(String, String)] = Nil) {
  def durUs: Long = endUs - startUs
}

/** In-memory span store, written once when the run ends. Spans opened by
  * the benchmark carry their parent explicitly; spans reported by Spark's
  * listeners (jobs, stream triggers) are parented afterwards to the
  * innermost benchmark span that contains their start. */
final class Tracer {
  private val ids = new AtomicLong(0L)
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val nano0 = System.nanoTime()
  private val epochUs0 = System.currentTimeMillis() * 1000L

  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L
  def usOfNanos(ns: Long): Long = epochUs0 + (ns - nano0) / 1000L
  def nextId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = synchronized { buf += s; () }

  def add(parent: Long, name: String, startUs: Long, endUs: Long,
          attrs: Seq[(String, String)] = Nil): Long = {
    val id = nextId(); add(Span(id, parent, name, startUs, endUs, attrs)); id
  }

  def spans: Seq[Span] = synchronized(buf.toList)

  /** Re-parent every span with `parent == -1` to the innermost span that
    * contains its start (the latest-starting container wins; ties go to
    * the shorter). */
  def resolveParents(): Unit = synchronized {
    val containers = buf.filter(_.parent != -1).sortBy(s => (s.startUs, -s.durUs)).toIndexedSeq
    for (i <- buf.indices if buf(i).parent == -1) {
      val s = buf(i)
      val host = containers.filter(c => c.startUs <= s.startUs && s.startUs <= c.endUs)
        .sortBy(c => (c.startUs, -c.durUs)).lastOption
      buf(i) = s.copy(parent = host.map(_.id).getOrElse(0L))
    }
  }

  /** Self time per span name: a span's duration minus the part of it its
    * children cover (children's intervals merged, clipped to the span). */
  def selfTimesUs: Map[String, Long] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val iv = kids.getOrElse(s.id, Nil).map(k => (k.startUs max s.startUs, k.endUs min s.endUs))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var curA = -1L
        var curB = -1L
        for ((a, b) <- iv) {
          if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
          else curB = curB max b
        }
        if (curB > curA) covered += curB - curA
        s.durUs - covered
      }.sum
    }
  }

  def write(file: File): Unit = {
    file.getParentFile.mkdirs()
    val w = new PrintWriter(file, "UTF-8")
    try spans.sortBy(_.startUs).foreach { s =>
      val attrs = s.attrs.map { case (k, v) => s""","${Json.esc(k)}":"${Json.esc(v)}"""" }.mkString
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${Json.esc(s.name)}","start_us":${s.startUs},"end_us":${s.endUs}$attrs}""")
    } finally w.close()
  }
}

object PlanShape extends AdaptiveSparkPlanHelper {
  /** Shuffle and broadcast exchanges in the executed plan, subqueries and
    * adaptive query stages included. */
  def exchanges(p: SparkPlan): Int = collectWithSubqueries(p) { case e: Exchange => e }.size
}

/** Counters one traced run takes from Spark's listener interfaces. The
  * listener bus delivers asynchronously: call [[SparkMeters.drain]]
  * before reading. */
final class SparkMeters(spark: SparkSession, tracer: Tracer) {
  val c = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  /** Jobs by call site (the user frame that started the job). */
  val sites = mutable.LinkedHashMap.empty[String, (Long, Double)].withDefaultValue((0L, 0.0))
  private val jobStart = mutable.HashMap.empty[Int, (Long, String)]
  private val stageTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val skews = mutable.ArrayBuffer.empty[Double]

  private def bump(k: String, v: Double): Unit = c(k) = c(k) + v

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = SparkMeters.this.synchronized {
      val site = if (e.stageInfos.isEmpty) "?" else e.stageInfos.maxBy(_.stageId).name
      jobStart(e.jobId) = (e.time, site)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = SparkMeters.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, site) =>
        val s = (e.time - t0) / 1e3
        bump("exec.jobs", 1)
        val (n, secs) = sites(site)
        sites(site) = (n + 1, secs + s)
        tracer.add(-1, "job", t0 * 1000, e.time * 1000, Seq("site" -> site))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = SparkMeters.this.synchronized {
      bump("exec.stages", 1)
      stageTasks.remove(e.stageInfo.stageId).foreach { ts =>
        if (ts.size >= 2) skews += ts.max.toDouble / math.max(1.0, Stats.median(ts.map(_.toDouble).toSeq))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = SparkMeters.this.synchronized {
      bump("exec.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        bump("exec.task_s", m.executorRunTime / 1e3)
        bump("exec.task_cpu_s", m.executorCpuTime / 1e9)
        bump("exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
        bump("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        bump("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        bump("exec.gc_s", m.jvmGCTime / 1e3)
        stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Long]) += m.executorRunTime
      }
    }
  }

  val planListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = SparkMeters.this.synchronized {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
      bump("plan.analysis_s", ms("analysis"))
      bump("plan.optimization_s", ms("optimization"))
      bump("plan.planning_s", ms("planning"))
      bump("plan.exchanges", scala.util.Try(PlanShape.exchanges(qe.executedPlan)).getOrElse(0).toDouble)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = SparkMeters.this.synchronized {
      val d = e.progress.durationMs
      def s(k: String) = Option(d.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
      bump("streaming.triggers", 1)
      bump("streaming.trigger_s", s("triggerExecution"))
      bump("streaming.planning_s", s("queryPlanning"))
      bump("streaming.latest_offset_s", s("latestOffset"))
      val startUs = java.time.Instant.parse(e.progress.timestamp).toEpochMilli * 1000
      tracer.add(-1, "trigger", startUs, startUs + (s("triggerExecution") * 1e6).toLong,
        Seq("batch" -> e.progress.batchId.toString))
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Counters so far, with `exec.skew` as the mean over finished stages of
    * (slowest task ÷ median task). */
  def snapshot(): Map[String, Double] = synchronized {
    c.toMap + ("exec.skew" -> (if (skews.isEmpty) 0.0 else skews.sum / skews.size))
  }

  def sitesSnapshot(): Map[String, (Long, Double)] = synchronized(sites.toMap)
}
