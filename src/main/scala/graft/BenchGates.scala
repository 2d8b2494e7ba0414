package graft

/** Asserted ceilings on the bench's byte meters — the half of the meter
  * story round 11 asked for and round 12 only recorded. A plan regression
  * on the scale-claim queries (agg pushdown silently falling back to row
  * scans, hour clustering losing its zero-shuffle proof, the heavy-hitter
  * recount re-shuffling raw rows) shows as a byte delta that local
  * wall-seconds cannot see; with ceilings, it also FAILS the bench run
  * loudly instead of waiting for someone to diff a gitignored JSON.
  *
  * Ceilings are absolute bytes at the driver's recorded scale
  * (`/root/testdata/sf0.1`) and are only applied there — at other SFs
  * the meters are still recorded, just not judged (the constants would
  * be meaningless). Each ceiling is ~3× the round-12 recorded value:
  * loose enough for run-to-run noise and fixture drift, tight enough
  * that losing a prune/pushdown (a 10–100× byte jump, see
  * BenchGatesSpec's deliberate plan-break) cannot pass. The meters
  * cover the WHOLE QueryDef — fixture writes included — so these are
  * regression tripwires, not isolated-scan measurements (those live in
  * the rehearsal drivers). */
object BenchGates {

  final case class Ceiling(maxInputBytes: Option[Long] = None,
                           maxShuffleBytes: Option[Long] = None,
                           // round 17, after r16's lesson: the streaming
                           // source's task time TRIPLED round-over-round
                           // at bit-identical byte meters (l23 task_ms
                           // 13.6s→46.3s) and the byte-only gates never
                           // fired. Two new axes close that class:
                           //  - maxStoreOps: store RPCs (LIST/GET/PUT/
                           //    DELETE through StoreOps) — DETERMINISTIC,
                           //    the metadata-amplification tripwire (a
                           //    listing-per-trigger regression is an op-
                           //    count jump whatever the host is doing);
                           //  - maxTaskMs: summed executorRunTime — the
                           //    CPU tripwire, with WIDE headroom (local
                           //    task time rides GC and host contention,
                           //    so these only catch multiples, not
                           //    percentages).
                           maxStoreOps: Option[Long] = None,
                           maxTaskMs: Option[Long] = None)

  private val MB = 1L << 20

  /** Applied only when the bench runs against this SF dir. */
  val ContractSfDir = "/root/testdata/sf0.1"

  /** name -> ceilings at sf0.1 (recorded round-12 values in comments). */
  val ceilings: Map[String, Ceiling] = Map(
    // 0.67 MB in / 1.92 MB shuffled: zone-band prune keeps the scan at
    // kept-object bytes; losing it re-reads the whole 16-object lake
    "l06_lake_pruned_read" -> Ceiling(Some(3 * MB), Some(8 * MB)),
    // 0.56 MB in: bloom equality opens only the containing objects
    "l13_lake_bloom_eq" -> Ceiling(Some(3 * MB), None),
    // 0.32 MB in: the semi-join prunes to the dim keys' objects
    "l14_lake_semi_join" -> Ceiling(Some(2 * MB), None),
    // 0.01 MB in: the DSv2 scan pushes filters into object pruning
    "l15_lake_dsv2_scan" -> Ceiling(Some(1 * MB), None),
    // 0.20 MB in: composite-key semi-join, one bloom read per object
    "l16_lake_semi_join_multi" -> Ceiling(Some(2 * MB), None),
    // 0.02 MB in: runtime dynamic pruning delivers the join keys
    "l18_lake_dsv2_runtime_prune" -> Ceiling(Some(1 * MB), None),
    // 0.01 MB in: metadata-only aggregate — sidecars, never data objects
    "l19_lake_dsv2_agg_pushdown" -> Ceiling(Some(1 * MB), None),
    // 1.46 MB shuffled (fixture write included): hour clustering keeps
    // the GROUP BY _event_hour itself exchange-free
    "l22_lake_hour_clustered_agg" -> Ceiling(None, Some(6 * MB)),
    // 0.29 MB in: the stream drains the small fixture lake, not more.
    // Round 17 (the r16 lesson — task_ms tripled at identical bytes and
    // no gate fired): ~64 store RPCs fresh (fixture write + 2-trigger
    // AvailableNow drain + the sig gates) — a per-trigger metadata
    // amplification regression multiplies this; ~7–10 s task_ms fresh —
    // the ceiling is 3×, wide enough for host contention, and r16's
    // 46.3 s would have FAILED it
    "l23_lake_stream_read" -> Ceiling(Some(2 * MB), None,
      maxStoreOps = Some(250), maxTaskMs = Some(30000)),
    // 0.01 MB shuffled: heavy-hitter candidates + bounded recount —
    // raw rows never leave their partitions (the verdict's 1 MB bound)
    "t18_heavy_hitters" -> Ceiling(None, Some(1 * MB)),
    // streaming prune (round 13): the backfill reads in-band objects
    // of 2 of 6 hours, not the lake. Round 17 meters: ~160 store RPCs
    // fresh (24-object fixture write dominates), ~6 s task_ms — same
    // rationale as l23; r16's 53.0 s would have FAILED the task ceiling
    "l27_lake_stream_pruned_backfill" -> Ceiling(Some(3 * MB), None,
      maxStoreOps = Some(500), maxTaskMs = Some(30000)),
    // 0.20 MB in (round 13): the SQL UPDATE's copy-on-write read is
    // bounded by the static band pushdown + the _object_key group
    // filter — losing either rewrites the whole fixture lake, a 10×+
    // input jump over this ceiling
    // ~169 store RPCs fresh (round 17): fixture write + the COW
    // UPDATE's intent/CAS/retire protocol — commit-protocol metadata
    // growth (the r16 CPU finding's smaller twin) now fails loudly
    "l30_lake_sql_update" -> Ceiling(Some(1 * MB), None,
      maxStoreOps = Some(500)),
    // 0.32 MB in (round 14): fixture write + UPDATE + DELETE + two
    // snapshot reads — a VERSION AS OF read that lost its per-record
    // key resolution or its band pruning (scanning live + retained
    // history wholesale) jumps an order over this ceiling
    "l34_lake_time_travel" -> Ceiling(Some(3 * MB), None),
    // 0.25 MB in / 4.1 MB shuffled (round 15): the position-delta MERGE
    // ships only CHANGED rows (matched updates + inserts) through the
    // plan and the patch shuffle — a fallback to a group-based rewrite
    // (every row of every touched object through the exchange) blows
    // the shuffle ceiling an order of magnitude
    // ~208 store RPCs fresh (round 17): the delta MERGE's protocol cost
    // is metered like l30's
    "l31_lake_sql_merge" -> Ceiling(Some(2 * MB), Some(16 * MB),
      maxStoreOps = Some(600)),
    // 29.7 MB in / 7.4 MB shuffled (round 15): the changes feed reads
    // gone+fresh objects ONCE and diffs in ONE signed-count shuffle;
    // a second read per side (the naive exceptAll-per-direction) or a
    // full-history walk breaks these
    "l35_lake_changes_feed" -> Ceiling(Some(60 * MB), Some(20 * MB)),
    // 0.17 MB in (round 15): ALTER is metadata-only and the evolved
    // UPDATE's copy-on-write read stays band-bounded + group-filtered —
    // an ALTER that rewrote data, or an evolved COW scan that lost its
    // pruning, jumps an order over this
    "l36_lake_schema_evolution" -> Ceiling(Some(2 * MB), None),
    // 0.38 MB in / 1.53 MB shuffled (round 16): merge-on-read DML ships
    // dead positions + changed rows only — a fallback to object
    // rewrites (every touched object's rows through the plan and back
    // out as replacements) blows both by an order of magnitude
    "l37_lake_mor_dml" -> Ceiling(Some(2 * MB), Some(6 * MB)),
    // round 17: the equality delete is O(1) writes — ONE value file, no
    // data-object churn (gated in-query); ~128 store RPCs fresh (the
    // fixture write dominates). A fallback to the probe rewrite (one
    // publish per containing object) or a lost prune multiplies the op
    // count; the read side's in-scope routing keeps input at one pass
    // of the fixture
    "l39_lake_eq_delete" -> Ceiling(Some(5 * MB), None,
      maxStoreOps = Some(400)),
    // 0.52 MB in / ~103 store RPCs (round 18): the CONJUNCTION is still
    // one value file + one CAS — a fallback to the probe rewrite (or a
    // per-column file split) multiplies the RPC count; input stays at
    // one pass of the fixture
    "l42_lake_eq_delete_multi" -> Ceiling(Some(4 * MB), None,
      maxStoreOps = Some(400)),
    // 13.3 MB in / ~133 store RPCs (round 18): auto_compact reads the
    // two DIRTY hours once (plus the fixture write) — a selection that
    // lost its size tier (reading/rewriting the clean hour, or looping
    // on a debt-free table) grows input and the RPC count together
    "l44_lake_auto_compact" -> Ceiling(Some(24 * MB), None,
      maxStoreOps = Some(400)),
    // 3.1 MB in / 1.4 MB shuffled / ~391 store RPCs (round 18): the
    // cross-branch DML ships only CHANGED rows through the delta plan
    // and rewrites only the objects the patches name — a fallback to a
    // whole-view rewrite (every branch object through the plan) blows
    // input/shuffle; the RPC count pins the per-statement swap cost
    "l43_lake_branch_live_dml" -> Ceiling(Some(12 * MB), Some(6 * MB),
      maxStoreOps = Some(1200)),
    // 2.6 MB in / 3.5 MB shuffled / ~218 store RPCs (round 19): branch
    // MERGE ships only changed rows through the delta plan, rewrites
    // only patched objects, and commits by ONE intent swap (no
    // generation) — a fallback to a whole-view rewrite or a per-object
    // protocol blows these together
    "l45_lake_branch_merge" -> Ceiling(Some(12 * MB), Some(16 * MB),
      maxStoreOps = Some(700)),
    // 27.7 MB in / ~241 store RPCs (round 19): the re-cluster compact
    // reads the fixture hour ONCE and rewrites it z-banded — a layout
    // that re-read per band or lost its single-pass rewrite multiplies
    // input and RPCs together
    "l46_lake_recluster" -> Ceiling(Some(60 * MB), None,
      maxStoreOps = Some(600)),
    // 4.0 MB in / 11.4 MB shuffled / ~588 store RPCs (round 20): the
    // rollback itself is ~40 RPCs and ZERO data bytes (flat at 100x;
    // `graft.examples.RehearsalR20`, commit 57b8149) — the meter here
    // is fixture + three DMLs + two rollbacks + the four exceptAll
    // equivalence gates. A rollback that rewrote data (instead of
    // re-pointing the chain) or a time-travel read that lost key
    // resolution multiplies input and RPCs together
    "l47_lake_rollback" -> Ceiling(Some(12 * MB), Some(40 * MB),
      maxStoreOps = Some(1500)),
    // 37.4 MB in / 22.9 MB shuffled / ~331 store RPCs (round 20): the
    // CDF drain reads each commit's CHANGED objects once per per-commit
    // diff plus the in-query batch-equivalence gates — a feed that
    // re-read the whole lake per generation (or a second full drain
    // where the checkpoint should deliver nothing) blows input; the
    // signed-count diffs bound the shuffle
    "l48_lake_cdf_stream" -> Ceiling(Some(80 * MB), Some(60 * MB),
      maxStoreOps = Some(1000)),
    // 0.38 MB in / ~114 store RPCs (round 20): the objects metadata
    // read costs the fixture write + one listing + per-object stat and
    // sidecar probes — a read that opened the DATA objects (the whole
    // point is that it never does) multiplies input by the table size
    "l49_lake_objects_meta" -> Ceiling(Some(2 * MB), None,
      maxStoreOps = Some(400)),
    // 0.84 MB in / 1.03 MB shuffled / ~177 store RPCs (round 18): the
    // cross-table transaction's protocol cost is O(parts) — two pending
    // records, ONE decision file, two intent deletions — on top of the
    // fixture writes. A protocol that re-listed or re-read per object
    // (or a coordinator that republished batches on retry) multiplies
    // the RPC count; the byte meters pin that the commit itself moves
    // METADATA, not data
    "l41_lake_txn" -> Ceiling(Some(4 * MB), Some(4 * MB),
      maxStoreOps = Some(500)),
  )

  /** Human-readable violations; empty = all metered queries in bounds.
    * A query in `ceilings` but absent from `meters` is NOT a violation
    * (its meter run may have failed — that already lands in `errors`). */
  def violations(meters: Map[String, Meter.Metrics]): Seq[String] =
    ceilings.toSeq.sortBy(_._1).flatMap { case (name, c) =>
      meters.get(name).toSeq.flatMap { m =>
        c.maxInputBytes.filter(_ < m.inputBytes).map(max =>
          s"$name input_bytes ${m.inputBytes} exceeds ceiling $max").toSeq ++
          c.maxShuffleBytes.filter(_ < m.shuffleBytes).map(max =>
            s"$name shuffle_bytes ${m.shuffleBytes} exceeds ceiling $max") ++
          c.maxStoreOps.filter(_ < m.storeOps).map(max =>
            s"$name store_ops ${m.storeOps} exceeds ceiling $max") ++
          c.maxTaskMs.filter(_ < m.taskMs).map(max =>
            s"$name task_ms ${m.taskMs} exceeds ceiling $max")
      }
    }
}
