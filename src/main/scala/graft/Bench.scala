package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    // Warm every query once on the smallest SF so per-query times measure
    // the engine (plan + shuffle + compute), not first-call classloading
    // and whole-stage-codegen compilation — one-time JVM costs that a
    // long-lived cluster amortizes to zero. The compiled classes survive to
    // the timed passes only while they fit Spark's generated-class cache
    // (`spark.sql.codegen.cache.maxEntries`, 2000 in graft.Sessions; at
    // Spark's default 100 they were evicted before pass 1 ran), so each
    // pass reports its `codegen_compiles`. Pass 1 may still compile plans
    // the sf0.001 warm-up did not make (AQE picks joins by size); pass 2
    // at 0 means the cache held the whole workload.
    SparkEntry.queries.foreach { case (_, fn) =>
      try fn(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
    // A failed query must never be timed: round 6 reported q29/q41 at
    // 0.066s/0.057s — the wall-time of the AnalysisException — which reads
    // as a 10× speedup. Failures go to `errors`, not `queries`.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      val t0 = System.nanoTime()
      // noop sink forces full materialization of every output row
      // (count() would let Catalyst prune the computed columns away).
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name: $e")
        errors(name) = s"${e.getClass.getName}: ${e.getMessage}".take(300)
        None
      }
    }
    // Two timed passes per query, report the MIN — but INTERLEAVED at the
    // suite level (pass 1 over all queries, then pass 2 over all queries)
    // rather than back-to-back per query: the sandbox host shows bursty
    // multi-minute external interference (identical binaries measured 53s
    // vs 150s totals; round 4's driver bench lost six alphabetically
    // contiguous queries to one burst), and back-to-back sampling lets a
    // single burst consume BOTH samples of a query. Minutes apart, the two
    // samples of any one query can't share a burst, so min-of-2 actually
    // clips the noise. Per-pass times are emitted too, so interference is
    // diagnosable (a noisy run shows pass1/pass2 disagreeing, not a slow
    // engine).
    // Streaming end-to-end entry (the one number the batch queries can't
    // give: a state-store / file-source regression shows up as a timing).
    // Setup (untimed): the documents table written as a 16-object typed-CSV
    // lake — the collector's output shape. Timed: a fresh streaming query
    // (new checkpoint per pass, so every pass re-drains all objects) reads
    // the lake as a file stream in 4-object micro-batches, runs the
    // stateless curation gate (quality + language), and drains to noop.
    val streamName = "s01_stream_curation"
    val streamRoot = java.nio.file.Files.createTempDirectory("graft-bench-stream")
    val streamSchema = graft.types.TableSchema("docs_s", Seq(
      "doc_id" -> graft.types.ColType.CInteger, "text" -> graft.types.ColType.CString))
    def timeStreamDrain(): Option[Double] = {
      import org.apache.spark.sql.functions.col
      val t0 = System.nanoTime()
      try {
        val qc = graft.functions.Text.qualityColumns(col("text")).toMap
        val curated = graft.lake.LakeReader
          .readStreamOf(spark, s"file://$streamRoot", "docs_s", streamSchema,
            maxFilesPerTrigger = Some(4))
          .filter(qc("n_words") >= 10 && qc("alpha_ratio_milli") >= 500 &&
            graft.functions.Text.langId(col("text")) === "en")
        val ckpt = java.nio.file.Files.createTempDirectory("graft-bench-stream-ckpt")
        val q = curated.writeStream.format("noop")
          .option("checkpointLocation", ckpt.toString).start()
        try { q.processAllAvailable() } finally {
          q.stop()
          Fs.deleteRecursively(ckpt.toFile)
        }
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $streamName: $e")
        errors(streamName) = s"${e.getClass.getName}: ${e.getMessage}".take(300)
        None
      }
    }
    // Only a SETUP failure (no lake to drain) suppresses the drain
    // attempts. A pass-1 DRAIN failure must not skip pass 2 — batch
    // queries attempt both passes precisely so a one-pass interference
    // kill stays diagnosable, and the stream entry follows the same rule.
    val streamSetupOk =
      try {
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          .select("doc_id", "text").repartition(16)
        graft.lake.LakeWriter.write(docs, streamSchema, s"file://$streamRoot")
        true
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $streamName setup: $e")
        errors(streamName) = s"setup: ${e.getClass.getName}: ${e.getMessage}".take(300)
        false
      }

    // classes compiled by whole-stage codegen during one pass (read
    // outside the per-query timed region)
    def compiles(): Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def timedPass(): (Seq[(String, Option[Double])], Long) = {
      val c0 = compiles()
      val pass = names.map { case (n, fn) => n -> once(n, fn) } :+
        (streamName -> (if (streamSetupOk) timeStreamDrain() else None))
      (pass, compiles() - c0)
    }
    val (pass1, compiles1) = timedPass()
    val (pass2, compiles2) = timedPass()
    Fs.deleteRecursively(streamRoot.toFile)
    // A query enters the timings only if BOTH passes succeeded — a
    // one-pass-failed query has no honest min-of-2.
    val mins = pass1.zip(pass2).collect {
      case ((n, Some(a)), (_, Some(b))) => n -> math.min(a, b) }
    val qs = mins.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // Per-pass values keep every sample that RAN, null for the pass that
    // failed — so a one-pass interference kill (the exact scenario the
    // interleaving exists for) stays diagnosable instead of vanishing.
    def num(o: Option[Double]): String = o.fold("null")(_.toString)
    val passes = pass1.zip(pass2).collect {
      case ((k, a), (_, b)) if a.isDefined || b.isDefined =>
        "\"" + k + "\":[" + num(a) + "," + num(b) + "]" }.mkString("{", ",", "}")
    // BYTE meters for the scale-claim queries (graft.Meter's rationale:
    // local wall time hides skipped-byte and avoided-shuffle wins — a
    // plan regression on these shows as a byte delta even when seconds
    // can't see it). One extra untimed run each, AFTER the timed passes
    // so the listener never rides a timed sample. Honesty note: the
    // meters cover the WHOLE QueryDef — for the lake queries that
    // includes the in-query fixture write — so they detect deltas
    // (fixture cost is constant run-to-run) rather than isolate the
    // scan; the isolated pruned-scan byte evidence came from the round-11
    // driver `graft.examples.RehearsalR11.metered` (commit 57b8149),
    // which measured the scan alone on a prebuilt lake.
    val meterSet = Seq("l06_lake_pruned_read", "l13_lake_bloom_eq",
      "l14_lake_semi_join", "l15_lake_dsv2_scan", "l16_lake_semi_join_multi",
      "l18_lake_dsv2_runtime_prune", "l19_lake_dsv2_agg_pushdown",
      "l22_lake_hour_clustered_agg", "l23_lake_stream_read",
      "l27_lake_stream_pruned_backfill", "l30_lake_sql_update",
      "l31_lake_sql_merge", "l34_lake_time_travel",
      "l35_lake_changes_feed", "l36_lake_schema_evolution",
      "l37_lake_mor_dml", "l39_lake_eq_delete", "l41_lake_txn",
      "l42_lake_eq_delete_multi", "l43_lake_branch_live_dml",
      "l44_lake_auto_compact", "l45_lake_branch_merge",
      "l46_lake_recluster", "l47_lake_rollback", "l48_lake_cdf_stream",
      "l49_lake_objects_meta", "t18_heavy_hitters")
    val metered: Map[String, Meter.Metrics] = meterSet.flatMap { n =>
      SparkEntry.queries.get(n).flatMap { fn =>
        try {
          val (_, m) = Meter.measure(spark) {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          }
          Some(n -> m)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] meter $n: $e"); None
        }
      }
    }.toMap
    val meters = metered.toSeq.sortBy(_._1).map { case (n, m) =>
      "\"" + n + "\":{\"input_bytes\":" + m.inputBytes +
        ",\"shuffle_bytes\":" + m.shuffleBytes +
        ",\"task_ms\":" + m.taskMs +
        ",\"store_ops\":" + m.storeOps + "}"
    }.mkString("{", ",", "}")
    // ASSERTED ceilings (BenchGates): at the driver's recorded SF a byte
    // blow-up on a scale-claim query is a PLAN regression and must fail
    // the run loudly — it lands in the errors map (never an empty-errors
    // pass) and on stderr, not just in a number nobody diffs.
    if (sfDir == BenchGates.ContractSfDir)
      BenchGates.violations(metered).foreach { v =>
        System.err.println(s"[bench] METER CEILING VIOLATED: $v")
        // key on query AND metric: a query violating both ceilings must
        // record two entries, not overwrite one with the other
        errors(s"meter_ceiling:${v.split(' ').take(2).mkString(":")}") = v
      }
    val errs = errors.map { case (k, v) => "\"" + k + "\":" + Json.str(v) }
      .mkString("{", ",", "}")
    val total = mins.map(_._2).sum
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"passes":$passes,"codegen_compiles":[$compiles1,$compiles2],"meters":$meters,"errors":$errs,"sf":"$sfDir"}"""
    println(json)
    // Stdout of the harness run is tail-truncated (rounds 3 and 4 both lost
    // the JSON line to it); the file copy is the durable record.
    try {
      val w = new java.io.PrintWriter("BENCH_LOCAL.json", "UTF-8")
      try w.println(json) finally w.close()
    } catch { case e: Throwable => System.err.println(s"[bench] BENCH_LOCAL.json: $e") }
    spark.stop()
  }
}
