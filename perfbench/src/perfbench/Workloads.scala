package perfbench

/** The entry workloads: which declared entries, at which scale. The lists
  * are fixed so every run does the same work; the run's seed orders them.
  * Each list is a cross-section of its families small enough for several
  * passes per run (see the README for the selection). */
object Workloads {
  val queries: WorkloadDef = WorkloadDef("queries", sf = 0.01, op = "entry", fitSf = Some(0.001), entries = Seq(
    "q01_pricing_summary", "q03_join_revenue_nation", "q69_tpch_q5", "t05_tfidf", "t18_heavy_hitters",
    "d05_simhash_pairs"))

  val lake: WorkloadDef = WorkloadDef("lake", sf = 0.001, op = "statement", fitSf = None, entries = Seq(
    "l23_lake_stream_read", "l28_lake_delete_where", "l31_lake_sql_merge"))

  val all: Seq[WorkloadDef] = Seq(queries, lake)
  val byName: Map[String, WorkloadDef] = all.map(w => w.name -> w).toMap
}
