package graft.operators

import org.apache.spark.sql.DataFrame

/** One place for the operators' "materialize this multi-consumer /
  * iterative intermediate" decision (r16 ADVICE: gate the mechanism
  * behind a config instead of hard-coding `localCheckpoint`).
  *
  * `localCheckpoint` stores lineage-free blocks on executors: the cheapest
  * way to truncate a plan and run a subtree exactly once (guide §3.3/§5),
  * but NOT fault-tolerant — a lost executor invalidates the blocks and
  * fails the query, which is wrong for dynamic allocation / spot
  * decommissioning, and it eagerly executes at call time. The right
  * mechanism is a deployment property, not an operator property, so it is
  * one session conf:
  *
  *   spark.graft.materialize = local     (default) localCheckpoint —
  *                                       retry-the-query semantics; right
  *                                       for benches, notebooks, static
  *                                       executors
  *                             reliable  RDD checkpoint to
  *                                       `sparkContext.setCheckpointDir`
  *                                       (required) — survives executor
  *                                       loss; right for spot fleets and
  *                                       multi-hour pipelines
  *
  * Every operator cut point calls [[cut]]; the per-site comments at the
  * call sites say WHY that subtree must run once (self-join, N consumers,
  * iterative lineage growth).
  */
object Materialize {
  def cut(df: DataFrame): DataFrame =
    df.sparkSession.conf.get("spark.graft.materialize", "local") match {
      case "local"    => df.localCheckpoint()
      case "reliable" => df.checkpoint()
      case other => throw new IllegalArgumentException(
        s"spark.graft.materialize must be local|reliable, got '$other'")
    }

  /** Raise `df`'s partition count to the session's shuffle parallelism
    * when (and only when) the input arrives with fewer partitions — the
    * guide §2.5 "one huge unsplittable file" remedy, for the case where
    * heavy per-row compute (an edit-distance DP fanned out by a pair
    * join, a full-text kernel) would otherwise serialize on the scan's
    * task count (a single-row-group parquet file scans as ONE task no
    * matter what `minPartitionNum` asks for).
    *
    * Scale posture: on a real cluster a large input already carries
    * ≥ numShufflePartitions splits, so this is a NO-OP there — it never
    * adds an exchange to a properly-parallel scan (shuffling a corpus
    * to "spread" a single-pass kernel would double its I/O, guide §8).
    * The repartition hashes on `keys`, which are required: hashing is
    * deterministic under retry, where round-robin carries the sort +
    * SPARK-38388 hazards guide §2.5 warns off. Callers pass a unique id
    * (or a hash of the row's identifying columns) so the hash spreads
    * evenly. */
  def spread(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    require(keys.nonEmpty, "Materialize.spread needs hash keys (round-robin is not retry-deterministic)")
    // Only scan-shaped plans (projections/filters over a leaf) can be
    // partition-starved by an unsplittable input; anything containing a
    // join/aggregate/window/etc. is downstream of an exchange and already
    // carries the session's parallelism. The shape check also keeps the
    // .rdd partition probe SAFE: under AQE, .rdd on a plan with exchanges
    // eagerly materializes its query stages (running real jobs for a
    // probe) — on an exchange-free scan plan it is a pure metadata walk.
    val scanShaped = df.queryExecution.optimizedPlan.collect {
      case p if !p.isInstanceOf[Project] && !p.isInstanceOf[Filter] &&
        !p.isInstanceOf[SubqueryAlias] && p.children.nonEmpty => p
    }.isEmpty
    if (!scanShaped) return df
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions >= n) df
    else df.repartition(n, keys: _*)
  }
}
