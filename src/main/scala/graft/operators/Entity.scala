package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Entity resolution end to end: fuzzy matching → connected components →
  * survivorship — with THREE candidate-generation regimes and loud
  * guards on the quadratic each one carries, plus an incremental fold
  * for the batch-vs-entity-table job.
  *
  * '''Blocked''' ([[canonicalize]]): edges form only WITHIN a block; the
  * per-block pair join is what bounds the quadratic, so the operator now
  * takes a `maxBlockRows` guard that raises IN-PLAN (the
  * RangeJoin-guard philosophy) when one viral block — one domain with 10⁶
  * records is routine in web data — would otherwise pin 10¹² DP
  * evaluations onto that key's tasks.
  *
  * '''Indexed''' ([[canonicalizeIndexed]]): no blocking key at all. A
  * positional q-gram prefix index (the Ed-Join family — Xiao, Wang, Lin,
  * VLDB'08) generates candidate pairs corpus-wide and the
  * threshold-form Levenshtein verifies them, so the corpus NEVER
  * self-joins: `ed(a,b) ≤ k` destroys at most `k·q` positional q-grams
  * and shifts survivors by at most `k` positions, so a matching pair must
  * share a q-gram within the first `k·q+1` grams of each side under a
  * global rarest-first order, at positions within `k` and lengths within
  * `k`. Strings too short for that pigeonhole (`len − q + 1 ≤ k·q`) fall
  * into a short-string pool whose pairwise check is guarded by
  * `maxShortPool` — the one place a quadratic survives, bounded and loud.
  *
  * '''Segment-indexed''' (`generator = "segment"`, [[segmentPairs]]):
  * the PassJoin alternative — k+1 even segments, exact aligned-substring
  * equi-join — for the regime where gram frequency tails collapse (keys
  * from a tiny vocabulary); see [[segmentCandidates]].
  *
  * '''Incremental''' ([[canonicalizeIncremental]]): fold a new batch
  * into an already-resolved entity table; the corpus contributes only
  * k+1 slim segment rows per record and never self-joins.
  *
  * Measured (local[32], driver `graft.examples.RehearsalR9` as of
  * commit 57b8149): one planted 120k-record viral block — the blocked
  * path's guard raises in 1.9 s (refusing 7.2·10⁹ DP evaluations); the
  * q-gram-indexed path completes the exact planted clustering (1200
  * clusters × 100 members) in ~19 s and the segment (PassJoin)
  * generator in ~13 s, because one hot block is just 120k more rows
  * through either index. On the tiny-vocab oracle corpus the
  * ordering is the same and wider (e03 segment 2.5 s vs e02 q-gram
  * 3.5 s at sf0.1; 109k vs 545k candidates) — segments are the default
  * recommendation when key entropy is low.
  *
  * Each surviving candidate evaluates the Levenshtein DP once, in
  * threshold form (the DP abandons past `maxDist`, O(len·k) cells);
  * components come from [[Dedup.connectedComponents]] (min-label +
  * pointer doubling, O(log diameter) rounds); survivorship is the classic
  * min-id keeper. The output is a TOTAL mapping — singletons included via
  * the left join — which is what a downstream "replace each record with
  * its canonical form" step actually consumes.
  */
object Entity {

  /** Annotate `df` with an in-plan guard: any block (group of equal
    * `blockCol` values) larger than `maxRows` rows raises during the scan
    * with the block key and size in the message — a bot domain fails
    * loudly instead of silently pinning a quadratic onto one task.
    * Delegates to [[Guards.perKeyRows]]; `maxRows ≤ 0` disables. */
  def guardBlockSize(df: DataFrame, blockCol: Column, maxRows: Long,
                     what: String): DataFrame =
    Guards.perKeyRows(df, blockCol, maxRows, what, "maxBlockRows",
      "a block this size makes the per-block pair join quadratic; use the " +
        "indexed path (canonicalizeIndexed / editPairs) or raise the bound " +
        "deliberately")

  /** Map every record to its duplicate-cluster: returns `(idCol,
    * cluster_id, is_canonical, n_members)`, one row per input record,
    * `cluster_id` = the component's minimum id. `keyCol` is the match key
    * (e.g. a normalized name or a text head window); records match when
    * their keys' edit distance is ≤ `maxDist` AND they share `blockCol`.
    * `maxBlockRows > 0` arms the in-plan viral-block guard. */
  def canonicalize(df: DataFrame, idCol: String, blockCol: Column,
                   keyCol: Column, maxDist: Int,
                   maxBlockRows: Long = 0L): DataFrame = {
    // spread the probe side (r17, guide §2.5): the per-block pair join
    // multiplies rows by the block size and every surviving pair pays a
    // levenshtein DP, all INSIDE the probe side's scan stage (the block
    // side broadcasts) — an unsplittable input file would serialize the
    // whole quadratic onto its one scan task. Hashing on the unique id
    // costs one slim pre-fan-out exchange and parallelizes the DP.
    val base = df.select(col(idCol), blockCol.as("_blk"), keyCol.as("_key"))
    // guard ONE side only: side a scans every row, so every block is
    // checked exactly once — guarding both sides would evaluate the slim
    // count subtree twice for the same raise semantics
    val a = guardBlockSize(Materialize.spread(base, col(idCol)),
        col("_blk"), maxBlockRows, "Entity.canonicalize")
      .select(col(idCol).as("a_id"), col("_blk"), col("_key").as("a_key"))
    // b stays on the raw projection: it is the (broadcast) build side, so
    // spreading it would only add an exchange under the broadcast
    val b = base.select(col(idCol).as("b_id"), col("_blk"), col("_key").as("b_key"))
    val pairs = a.join(b, "_blk").filter(col("a_id") < col("b_id"))
      .filter(levenshtein(col("a_key"), col("b_key"), maxDist) =!= -1)
      .select("a_id", "b_id")
    survivorship(df, idCol, pairs)
  }

  /** [[canonicalize]] without a blocking key: candidates from the
    * positional q-gram prefix index ([[editPairs]]) or, with
    * `generator = "segment"`, the PassJoin segment index
    * ([[segmentPairs]] — `q` applies to the q-gram generator only and is
    * ignored there); same components and survivorship either way.
    * Semantically identical to
    * `canonicalize(df, id, lit(1), key, maxDist)` — spec-pinned — at
    * index cost instead of corpus² cost. */
  def canonicalizeIndexed(df: DataFrame, idCol: String, keyCol: Column,
                          maxDist: Int, q: Int = 2,
                          maxShortPool: Long = 100000L,
                          generator: String = "qgram"): DataFrame = {
    require(generator == "qgram" || generator == "segment",
      s"generator must be 'qgram' or 'segment', got '$generator'")
    val pairs =
      if (generator == "segment") segmentPairs(df, idCol, keyCol, maxDist, maxShortPool)
      else editPairs(df, idCol, keyCol, maxDist, q, maxShortPool)
    survivorship(df, idCol, pairs)
  }

  /** All unordered pairs `(a_id < b_id)` with `ed(key_a, key_b) ≤
    * maxDist`, corpus-wide, WITHOUT a blocking key: [[editCandidates]]
    * generates, threshold-form Levenshtein verifies. Output columns
    * `(a_id, b_id, dist)`. */
  def editPairs(df: DataFrame, idCol: String, keyCol: Column, maxDist: Int,
                q: Int = 2, maxShortPool: Long = 100000L): DataFrame = {
    val keys = df.select(col(idCol).as("_id"), keyCol.as("_key"))
    val cand = editCandidates(df, idCol, keyCol, maxDist, q, maxShortPool)
    cand
      .join(keys.select(col("_id").as("a_id"), col("_key").as("_ak")), "a_id")
      .join(keys.select(col("_id").as("b_id"), col("_key").as("_bk")), "b_id")
      .select(col("a_id"), col("b_id"),
        levenshtein(col("_ak"), col("_bk"), maxDist).cast("long").as("dist"))
      .filter(col("dist") =!= -1)
  }

  /** Candidate pairs for edit-distance ≤ `maxDist` over `keyCol`, by
    * positional q-gram prefix filtering (Ed-Join). Guaranteed complete:
    * every true pair is a candidate (verification prunes the rest).
    *
    * Plan: explode each key into positional q-grams; ONE slim keyed
    * aggregation computes corpus gram frequencies; each key indexes only
    * its `k·q+1` globally-rarest grams (rarest-first ranking is also what
    * keeps viral grams — `th`, `er` — out of the prefixes and the posting
    * lists joinable); the prefix self-join matches on gram with position
    * and length filters `|Δpos| ≤ k`, `|Δlen| ≤ k` in the join condition.
    * Strings with `len − q + 1 ≤ k·q` grams can evade the pigeonhole ONLY
    * against each other (against any longer string the count filter still
    * forces a shared indexed gram), so the short pool pairs among itself
    * via a length-filtered nested-loop join guarded IN-PLAN by
    * `maxShortPool` — with realistic thresholds (k small relative to key
    * length) the pool is near-empty; a corpus of mostly-sub-`k·q` keys is
    * the wrong operator domain and fails loudly.
    *
    * Selectivity caveat, measured: the index's pruning power is the gram
    * frequency distribution's rare TAIL. On high-entropy keys (random or
    * real-world names/URLs — the `RehearsalR9` corpus as of commit
    * 57b8149) pruning is near total. On keys drawn from a tiny
    * vocabulary every gram is viral and candidates degrade toward
    * per-gram-quadratic — raise `q` until grams
    * clear the vocabulary's combinatorics (the e02 query uses q=4 against
    * word-salad text; q=2 there generates 3× the candidates), or switch
    * to [[segmentCandidates]], whose exact-aligned-substring keys stay
    * selective in exactly that regime (measured on the same corpus at
    * k=2: 109k candidates vs this index's 545k). Treat the verified-pair
    * count as the budget: verification cost is candidate-bound, never
    * corpus². */
  def editCandidates(df: DataFrame, idCol: String, keyCol: Column,
                     maxDist: Int, q: Int = 2,
                     maxShortPool: Long = 100000L): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    require(q >= 1, s"q must be >= 1, got $q")
    val kq = maxDist.toLong * q
    // spread (r17, guide §2.5): the positional q-gram explode is the
    // heavy per-row kernel and rides the input's scan stage — serialize-
    // proof single-split inputs (no-op on already-parallel inputs)
    val base = Materialize.spread(
        df.select(col(idCol).as("_id"), keyCol.as("_key")), col("_id"))
      .withColumn("_len", length(col("_key")).cast("long"))
    val isShort = col("_len") - (q - 1) <= kq // gram count len−q+1 ≤ k·q
    // positional q-grams of the long strings (0-based positions)
    val grams = base.filter(!isShort)
      .select(col("_id"), col("_len"),
        posexplode(expr(
          s"transform(sequence(1, int(_len) - ${q - 1}), i -> substring(_key, i, $q))")))
      .withColumnRenamed("pos", "_pos").withColumnRenamed("col", "_gram")
    val freq = grams.groupBy("_gram").agg(count(lit(1)).as("_f"))
    // rank() over (freq, gram) — NOT row_number — so the prefix is CLOSED
    // under gram ties: the pigeonhole proof compares tokens by their
    // (freq, gram) sort key, and a positional tie-break could split one
    // gram's occurrences across the prefix boundary, voiding the shared-
    // prefix guarantee. Tie closure over-indexes repeated grams slightly;
    // correctness over parsimony.
    val ranked = grams.join(freq, "_gram")
      .withColumn("_r", rank().over(
        Window.partitionBy("_id").orderBy(col("_f"), col("_gram"))))
    // prefix = the kq+1 rarest grams (tie-closed); short strings index ALL
    // grams (they have ≤ kq), so short×long pairs ride the same index
    // join — only short×short needs the pool below.
    val shortGrams = base.filter(isShort && col("_len") >= q)
      .select(col("_id"), col("_len"),
        posexplode(expr(
          s"transform(sequence(1, int(_len) - ${q - 1}), i -> substring(_key, i, $q))")))
      .withColumnRenamed("pos", "_pos").withColumnRenamed("col", "_gram")
    // self-joined below — materialize once (r16, guide §3.3) so the
    // gram explode + frequency join + rank window don't run per side
    val prefix = ranked.filter(col("_r") <= kq + 1)
      .select("_id", "_len", "_gram", "_pos")
      .unionByName(shortGrams.select("_id", "_len", "_gram", "_pos"))
      .transform(Materialize.cut)
    val idxCand = prefix.as("a").join(prefix.as("b"),
        col("a._gram") === col("b._gram") &&
          col("a._id") < col("b._id") &&
          abs(col("a._pos") - col("b._pos")) <= maxDist &&
          abs(col("a._len") - col("b._len")) <= maxDist)
      .select(col("a._id").as("a_id"), col("b._id").as("b_id"))
    // short×short: both sides below the pigeonhole bound — pair them all
    // (length-filtered), under a loud in-plan pool-size guard.
    val shortCand = poolCandidates(base, isShort, maxDist, maxShortPool,
      "Entity.editCandidates", s"shorter than q·maxDist+q−1 = ${kq + q - 1} chars",
      "raise q or lower maxDist")
    idxCand.unionByName(shortCand).dropDuplicates("a_id", "b_id")
  }

  /** In-plan count guard shared by every pool below: rows flow through
    * untouched while their 1-row count stays ≤ `maxRows`; over it, the
    * scan raises with the count, the bound, and `remedy`. */
  private def guardCount(df: DataFrame, cntCol: String, maxRows: Long,
                         what: String, desc: String, remedy: String): DataFrame = {
    val n = df.agg(count(lit(1)).as(cntCol))
    df.crossJoin(broadcast(n))
      .filter(when(col(cntCol) <= maxRows, lit(true)).otherwise(raise_error(
        format_string(
          s"$what: %s keys $desc, over maxShortPool=$maxRows — $remedy",
          col(cntCol)))))
  }

  /** Short-string pool shared by both candidate generators: keys below an
    * index's pigeonhole bound pair among themselves (length-filtered)
    * under a loud in-plan pool-size guard. The remedy is generator-
    * specific — "raise q" is meaningless advice on the segment path. */
  private def poolCandidates(base: DataFrame, isShort: Column, maxDist: Int,
                             maxShortPool: Long, what: String,
                             shortDesc: String, remedy: String): DataFrame = {
    val shortPool = guardCount(base.filter(isShort), "_n", maxShortPool,
        what, shortDesc,
        s"the short-string pool pairs quadratically; $remedy, pre-filter " +
          "degenerate keys, or raise the bound deliberately")
      .select("_id", "_len")
    shortPool.as("a").join(shortPool.as("b"),
        col("a._id") < col("b._id") &&
          abs(col("a._len") - col("b._len")) <= maxDist)
      .select(col("a._id").as("a_id"), col("b._id").as("b_id"))
  }

  /** All unordered pairs with `ed ≤ maxDist`, corpus-wide, via the
    * SEGMENT (PassJoin — Li, Deng & Feng, VLDB'11) candidate generator:
    * [[segmentCandidates]] generates, threshold-form levenshtein
    * verifies. Output `(a_id, b_id, dist)`.
    *
    * Use THIS generator when the q-gram index's selectivity collapses —
    * keys drawn from a tiny vocabulary, where every gram is viral
    * ([[editCandidates]]' measured caveat). Segment matching requires an
    * EXACT aligned substring of length ~len/(k+1), which stays selective
    * where 2-4-char grams cannot. */
  def segmentPairs(df: DataFrame, idCol: String, keyCol: Column, maxDist: Int,
                   maxShortPool: Long = 100000L): DataFrame = {
    val keys = df.select(col(idCol).as("_id"), keyCol.as("_key"))
    val cand = segmentCandidates(df, idCol, keyCol, maxDist, maxShortPool)
    cand
      .join(keys.select(col("_id").as("a_id"), col("_key").as("_ak")), "a_id")
      .join(keys.select(col("_id").as("b_id"), col("_key").as("_bk")), "b_id")
      .select(col("a_id"), col("b_id"),
        levenshtein(col("_ak"), col("_bk"), maxDist).cast("long").as("dist"))
      .filter(col("dist") =!= -1)
  }

  /** PassJoin candidate pairs for `ed ≤ k`: partition each key into k+1
    * segments (even split — the first `len mod (k+1)` segments one char
    * longer); by pigeonhole, `ed(a,b) ≤ k` leaves at least one segment of
    * the INDEX side untouched, so it appears in the other key as an
    * exact substring shifted by at most k.
    *
    * Plan: the index side emits its k+1 `(len, segIdx, content)` rows;
    * the probe side emits, for each hypothesized index length `La ∈
    * [len−k, len+k]` and segment index, every substring of the segment's
    * length starting within ±k of the segment's position — O(k²·(2k+1))
    * slim rows per key, joined as a pure EQUI join on `(La, segIdx,
    * content)`. (The classic multi-match-aware selection would shrink
    * the ±k window further; the symmetric window keeps the expression
    * simple and is conservative, never incomplete.) Both directions of
    * each pair are generated (each side indexes AND probes), normalized
    * by least/greatest and deduped. Keys with `len ≤ k` cannot fill k+1
    * non-empty segments and fall to the shared short pool. */
  def segmentCandidates(df: DataFrame, idCol: String, keyCol: Column,
                        maxDist: Int, maxShortPool: Long = 100000L): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    // spread (r17): the segment/probe-substring explodes ride the scan
    val base = Materialize.spread(
        df.select(col(idCol).as("_id"), keyCol.as("_key")), col("_id"))
      .withColumn("_len", length(col("_key")).cast("long"))
    val isShort = col("_len") <= maxDist
    val idxCand = segIndexRows(base, maxDist).join(segProbeRows(base, maxDist),
        col("_iseg") === col("_psub") && col("_ii") === col("_pi") &&
          col("_ilen") === col("_pla") && col("_iid") =!= col("_pid"))
      .select(least(col("_iid"), col("_pid")).as("a_id"),
        greatest(col("_iid"), col("_pid")).as("b_id"))
    val shortCand = poolCandidates(base, isShort, maxDist, maxShortPool,
      "Entity.segmentCandidates", s"of length ≤ maxDist = $maxDist",
      "lower maxDist")
    idxCand.unionByName(shortCand).dropDuplicates("a_id", "b_id")
  }

  /** Index half of the PassJoin join: each key of length ≥ k+1 emits its
    * k+1 even-split segments as `(_iid, _ilen, _ii, _iseg)`. */
  private[graft] def segIndexRows(base: DataFrame, k: Int): DataFrame = {
    val m = k + 1
    base.filter(col("_len") > k)
      .select(col("_id"), col("_len"), explode(expr(
        s"""transform(sequence(0, $k), i -> named_struct(
           |  'i', i,
           |  'seg', substring(_key,
           |    cast(i * (int(_len) div $m) + least(i, int(_len) % $m) as int) + 1,
           |    cast((int(_len) div $m) + if(i < int(_len) % $m, 1, 0) as int))))"""
          .stripMargin)).as("_s"))
      .select(col("_id").as("_iid"), col("_len").as("_ilen"),
        col("_s.i").as("_ii"), col("_s.seg").as("_iseg"))
  }

  /** Probe half: each key emits every substring at the valid (La, i,
    * start) combinations — La the hypothesized index-side length, the
    * start window around segment i's position under La, clipped to the
    * probe key — as `(_pid, _pla, _pi, _psub)`. The d-enumeration over a
    * FIXED 0..2k range keeps sequence() ascending (sequence(lo, hi) with
    * lo > hi silently DESCENDS in Spark).
    *
    * The window is the MULTI-MATCH-AWARE substring selection (PassJoin
    * §4, Li/Deng/Feng VLDB'11): a match at shift σ = st − stI needs
    * ≥ |σ| edits strictly before the segment and ≥ |Δ − σ| after it
    * (Δ = probe len − La), and the paper's lemma guarantees some segment
    * i matches with ≤ i edits before and ≤ k − i after — so segment i
    * claims only σ ∈ [max(−i, Δ−(k−i)), min(i, Δ+(k−i))] and the union
    * over i stays complete. Measured on the e03 corpus (sf0.1
    * documents.head(24), k=2, against the plain symmetric ±k window;
    * driver `graft.examples.RehearsalR10` as of commit 57b8149): probe
    * rows 275,000 → 95,000 (2.9×), distinct join candidates 109,639 →
    * 60,748 (1.8×), verified-pair sets identical (287 pairs both ways) —
    * the brute-force completeness spec additionally covers
    * q∈{1,2}×k∈{1,2,3}. */
  private[graft] def segProbeRows(base: DataFrame, k: Int): DataFrame = {
    val m = k + 1
    val stI = s"(i * (La div $m) + least(i, La % $m))"
    val liI = s"((La div $m) + if(i < La % $m, 1, 0))"
    val dlt = s"(int(_len) - La)"
    // lower/upper bounds on st, inclusive; both already fold in the
    // probe-key clip [0, len − liI]
    val lo = s"greatest(0, $stI + greatest(-i, $dlt - ($k - i)))"
    val hi = s"least(int(_len) - $liI, $stI + least(i, $dlt + ($k - i)))"
    base.filter(col("_len") >= 1)
      .select(col("_id"), col("_len"), explode(expr(
        s"""flatten(flatten(
           |  transform(sequence(greatest(int(_len) - $k, $m), int(_len) + $k), La ->
           |    transform(sequence(0, $k), i ->
           |      transform(
           |        filter(transform(sequence(0, ${2 * k}), d -> $lo + d),
           |               st -> st <= $hi),
           |        st -> named_struct('la', La, 'i', i,
           |                          'sub', substring(_key, st + 1, $liI)))))))"""
          .stripMargin)).as("_p"))
      .select(col("_id").as("_pid"),
        col("_p.la").as("_pla"), col("_p.i").as("_pi"), col("_p.sub").as("_psub"))
  }

  /** INCREMENTAL entity resolution: fold a new `batch` into an already-
    * resolved `corpus` WITHOUT ever self-joining the corpus — the d16
    * incremental-dedup arrangement applied to entities (the nightly
    * "new records vs the entity table" job).
    *
    * Edges come from three bounded sources: (1) batch-internal pairs via
    * [[segmentPairs]] (the batch indexes itself); (2) batch→corpus pairs
    * via the ASYMMETRIC PassJoin join — the corpus side emits only its
    * k+1 slim segment rows per record (the pigeonhole needs just ONE
    * side's segments to appear in the other, so indexing the corpus and
    * probing the batch is complete), verified by threshold levenshtein
    * and mapped to the record's existing cluster id; (3) the corpus's
    * own cluster structure as (member, cluster) edges — metadata-sized,
    * no keys touched. Connected components over that union MERGES
    * existing clusters when a batch record bridges them, exactly as a
    * full re-resolution would.
    *
    * Precondition (documented, not checked): `corpus`'s clustering is
    * COMPLETE under the same (key, maxDist) — then the incremental
    * result EQUALS the full re-resolution of corpus ∪ batch (the e04
    * oracle proves this hash-exactly). Ids must be unique across both
    * frames and cluster ids must be min member ids (what [[canonicalize]]
    * family outputs). Corpus keys of length ≤ maxDist cannot fill k+1
    * segments; they pair against length-≤2k batch keys in a pool guarded
    * by `maxShortPool` on BOTH sides.
    *
    * Output: the TOTAL mapping `(idCol, cluster_id, is_canonical,
    * n_members)` over corpus ∪ batch.
    *
    * Measured (local[32], `graft.examples.RehearsalR9` step 4 as of
    * commit 57b8149): folding a 12k-record batch into the resolved
    * 120k-record viral-block corpus runs in
    * ~7 s (vs ~12 s to re-resolve the corpus from scratch with the same
    * generator) with the planted cluster growth exact — and the gap
    * widens with corpus size, since the corpus side only ever emits
    * k+1 segment rows per record. */
  def canonicalizeIncremental(batch: DataFrame, corpus: DataFrame,
                              idCol: String, clusterCol: String,
                              batchKey: Column, corpusKey: Column,
                              maxDist: Int,
                              maxShortPool: Long = 100000L): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    val k = maxDist
    // spread (r17): both sides' segment explodes ride their scan stages
    val b = Materialize.spread(
        batch.select(col(idCol).as("_id"), batchKey.as("_key")), col("_id"))
      .withColumn("_len", length(col("_key")).cast("long"))
    val c = Materialize.spread(
        corpus.select(col(idCol).as("_id"), col(clusterCol).as("_cl"),
          corpusKey.as("_key")), col("_id"))
      .withColumn("_len", length(col("_key")).cast("long"))
    // (1) batch-internal pairs — the batch is the only thing that self-joins
    val bb = segmentPairs(batch, idCol, batchKey, k, maxShortPool)
      .select("a_id", "b_id")
    // (2) batch→corpus: corpus indexes (k+1 slim rows/record), batch probes
    val idxCand = segIndexRows(c.select("_id", "_key", "_len"), k)
      .join(segProbeRows(b, k),
        col("_iseg") === col("_psub") && col("_ii") === col("_pi") &&
          col("_ilen") === col("_pla") && col("_iid") =!= col("_pid"))
      .select(col("_pid").as("b_id"), col("_iid").as("c_id"))
    // short-corpus hole: a ≤k-char corpus key can't index; its partners
    // are ≤2k-char batch keys — both pools bounded and loud
    val poolRemedy = "pre-filter degenerate keys or raise the bound deliberately"
    val poolCand = guardCount(b.filter(col("_len") <= 2L * k), "_nb",
        maxShortPool, "Entity.canonicalizeIncremental",
        "on the batch side of the short pool", poolRemedy)
      .select(col("_id").as("b_id"), col("_len").as("_lb"))
      .join(guardCount(c.filter(col("_len") <= k), "_nc",
          maxShortPool, "Entity.canonicalizeIncremental",
          "on the corpus side of the short pool", poolRemedy)
        .select(col("_id").as("c_id"), col("_len").as("_lc")),
        abs(col("_lb") - col("_lc")) <= k)
      .select("b_id", "c_id")
    val bc = idxCand.unionByName(poolCand).dropDuplicates("b_id", "c_id")
      .join(b.select(col("_id").as("b_id"), col("_key").as("_bk")), "b_id")
      .join(c.select(col("_id").as("c_id"), col("_key").as("_ck"), col("_cl")), "c_id")
      .filter(levenshtein(col("_bk"), col("_ck"), k) =!= -1)
      .select(col("b_id").as("a_id"), col("_cl").as("b_id"))
    // (3) the existing cluster structure rides as metadata-sized edges
    val structE = c.filter(col("_id") =!= col("_cl"))
      .select(col("_id").as("a_id"), col("_cl").as("b_id"))
    val ids = batch.select(col(idCol)).unionByName(corpus.select(col(idCol)))
    survivorship(ids, idCol, bb.unionByName(bc).unionByName(structE))
  }

  /** Shared tail: duplicate-pair edges → connected components → TOTAL
    * canonical mapping with cluster sizes. */
  private def survivorship(df: DataFrame, idCol: String,
                           pairs: DataFrame): DataFrame = {
    val cc = Dedup.connectedComponents(pairs.select("a_id", "b_id"))
    df.select(col(idCol))
      .join(cc.withColumnRenamed("doc_id", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("component_id"), col(idCol)).as("cluster_id"))
      .withColumn("is_canonical", col(idCol) === col("cluster_id"))
      .withColumn("n_members", count(lit(1)).over(
        Window.partitionBy("cluster_id")))
  }
}
