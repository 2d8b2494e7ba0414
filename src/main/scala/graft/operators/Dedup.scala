package graft.operators

import graft.functions.{HashFunctions, Text}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard (exact pairwise), MinHash+LSH (approximate candidate generation
  * + exact verification), SimHash (Hamming banding).
  *
  * Scale design:
  *  - exact: one hash-shuffle, map-side partial agg prunes most duplicates
  *    before the exchange.
  *  - Jaccard: the shared-shingle self-join is exact but blows up on
  *    high-frequency shingles → `maxShingleFreq` caps the posting-list
  *    length (stop-shingle removal, the standard trade-off).
  *  - MinHash: signature is per-row compute (custom single-pass
  *    expression); only (bands × N) small rows shuffle. Band count is
  *    chosen so P[miss | j ≥ threshold] is negligible, then candidates are
  *    verified with exact Jaccard — output = true pairs w.h.p.
  *  - SimHash: 64-bit fingerprint per row; near-dup candidates via 4×16-bit
  *    band equality (Hamming ≤ 3 guarantee by pigeonhole when using 4
  *    bands), verified with bit_count(xor).
  */
object Dedup {

  /** One raised-cap Bloom-build session per SparkContext (see
    * [[exactIncremental]]) — cached so the per-batch steady state doesn't
    * construct a SessionState per call. */
  private val bloomBuildSessions =
    new java.util.concurrent.ConcurrentHashMap[
      org.apache.spark.SparkContext, org.apache.spark.sql.SparkSession]()

  /** Exact dedup: groups of byte-identical `col`, keeping the min id as the
    * canonical representative. */
  def exact(df: DataFrame, idCol: String, col: String): DataFrame =
    df.groupBy(md5(org.apache.spark.sql.functions.col(col)).as("content_hash"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Normalized exact dedup: case-folded, whitespace-collapsed content hash
    * — catches re-encodes/reflows that byte-exact dedup misses while
    * staying a pure one-shuffle group-by (the standard first pass before
    * near-dup detection). The whitespace class is EXPLICIT (not `\s`)
    * because Java and RE2 disagree on `\s` membership (vertical tab) and
    * the oracle must collapse the identical set. */
  def exactNormalized(df: DataFrame, idCol: String, col: String): DataFrame =
    df.groupBy(
        md5(regexp_replace(trim(lower(org.apache.spark.sql.functions.col(col))),
          "[ \\t\\n\\x0B\\f\\r]+", " "))
          .as("content_hash"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact n-gram Jaccard pairs with similarity ≥ `threshold`.
    * `maxShingleFreq` drops shingles shared by more than that many docs
    * (0 = keep all; the Jaccard universe is the retained shingle sets).
    *
    * Plan: prefix-filtered inverted-index join (the AllPairs/PPJoin family
    * — Bayardo et al. WWW'07, Xiao et al. WWW'08). Under a global
    * rarest-first shingle order, a pair with J ≥ τ' MUST share one of the
    * first `sz − ⌈τ'·sz⌉ + 1` shingles of each side (prefix-filter lemma
    * with required overlap α = ⌈τ'/(1+τ')·(szₐ+sz_b)⌉ ≥ ⌈τ'·szₓ⌉; τ' is
    * the rounded-output boundary (threshold·1000 − 0.5)/1000), so only
    * those prefixes — the globally rarest ~(1−τ) fraction — are indexed
    * and self-joined. Candidates then verify with exact Jaccard over the
    * full sets. Joining full posting lists is quadratic in list length; the
    * prefix join is what keeps the exact operator alive on dup-heavy
    * corpora (measured ~20× fewer join rows at τ=0.8). The length filter
    * (|b| ≥ τ|a|) prunes cross-size candidates in the join condition. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, threshold: Double = 0.8,
                   maxShingleFreq: Int = 0): DataFrame = {
    val tm = (threshold * 1000).toLong // integer milli-threshold: exact ⌈τ·sz⌉
    // (r17 note: a Materialize.spread here measured 0.85x — the posting
    // pipeline's first shuffle is the frequency aggregate, so the extra
    // exchange buys parallelism the plan reaches one stage later anyway)
    val sh = df.select(col(idCol).as("id"),
      explode(Text.shinglesOfText(col(textCol), shingleN)).as("sh"))
    // Frequency annotation, skew-safe at corpus scale: a count-over-window
    // by shingle would pin every posting of a viral shingle into ONE window
    // partition (windows are not AQE-splittable). Instead: (1) aggregate
    // frequencies with map-side combine; (2) anti-join the over-cap
    // (viral) shingle list away — inverted lists longer than the cap
    // contribute O(len²) candidate pairs for near-zero signal, and they're
    // removed from sizes and intersections alike (the Jaccard universe is
    // the retained sets); (3) annotate the survivors with a by-shingle
    // join whose per-key size is then bounded by the cap.
    // No forced broadcast on the stop list: its cardinality is unbounded
    // (a web-scale corpus puts every common n-gram over the cap) — AQE
    // broadcasts it when small and falls back to a shuffled anti-join
    // (skew-splittable) when not.
    val freq = sh.groupBy("sh").agg(count(lit(1)).as("f"))
    val capped = if (maxShingleFreq > 0) {
      val stop = freq.filter(col("f") > maxShingleFreq).select("sh")
      sh.join(stop, Seq("sh"), "left_anti")
    } else sh
    // MATERIALIZE the posting list once (r16 optimization, guide §3.3
    // "materialising an intermediate truncates the plan" / §1.2 "don't
    // compute things twice"): posting is consumed by the ranked-prefix
    // branch AND the verification branch, and DataFrame reuse re-EXPANDS
    // the subtree per reference — the pre-change physical plan held ~6
    // copies of the shingle explode + frequency aggregation (140
    // Exchange nodes), re-shingling the corpus per copy. localCheckpoint
    // (the connectedComponents pattern: blocks freed by the
    // ContextCleaner, lineage truncated) computes it exactly once.
    val posting = capped.join(freq, "sh").transform(Materialize.cut)
    // Global rarest-first order (freq, then shingle) ranked within each doc.
    // Both window columns share one partition+order spec (sz uses the full
    // frame), so they evaluate in a single sorted WindowExec — one shuffle
    // by id, one sort.
    val W = org.apache.spark.sql.expressions.Window
    val wDoc = W.partitionBy("id").orderBy(col("f"), col("sh"))
    val ranked = posting
      .withColumn("r", row_number().over(wDoc))
      .withColumn("sz", count(lit(1)).over(
        wDoc.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)))
    // The OUTPUT predicate is the rounded milli-Jaccard:
    // floor(J·1000 + 0.5) ≥ tm  ⟺  J ≥ τ' = (tm − 0.5)/1000 — strictly
    // below τ. The prefix and length filters must therefore be computed at
    // τ', not τ, or pairs with J ∈ [τ', τ) (which the output and the oracle
    // include) would be pruned from the candidate set. Integer-exact:
    // ⌈τ'·sz⌉ = ⌈(2·tm − 1)·sz / 2000⌉.
    val tm2 = 2 * tm - 1
    // self-joined below — materialize so the window ranking runs once,
    // not once per join side
    val prefix = ranked
      .filter(col("r") <= col("sz") - floor((col("sz") * tm2 + 1999) / 2000) + 1)
      .select("id", "sh", "sz").transform(Materialize.cut)
    val candIds = prefix.as("a")
      .join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id") &&
          // length filter: J ≥ τ' requires τ'·|a| ≤ |b| and τ'·|b| ≤ |a|
          col("a.sz") * tm2 <= col("b.sz") * 2000 &&
          col("b.sz") * tm2 <= col("a.sz") * 2000)
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .dropDuplicates("a_id", "b_id")
      .transform(Materialize.cut) // consumed three times (both candDocs legs + verify)
    // Exact verification over the full (capped-universe) sets of candidate
    // docs only: a semi-join bounds the collect_list to candidates.
    val candDocs = candIds.select(col("a_id").as("id"))
      .union(candIds.select(col("b_id").as("id"))).distinct()
    val sets = posting.join(candDocs, Seq("id"), "left_semi")
      .groupBy("id").agg(collect_list(col("sh")).as("shs"))
      .transform(Materialize.cut) // joined on both pair sides — aggregate once
    candIds
      .join(sets.select(col("id").as("a_id"), col("shs").as("a_sh")), "a_id")
      .join(sets.select(col("id").as("b_id"), col("shs").as("b_sh")), "b_id")
      // single-pass compiled set-Jaccard: same arithmetic as
      // floor(|∩|·1000/|∪| + 0.5) via array_intersect, minus the
      // interpreted per-pair array allocation — verification is the
      // dominant cost on dup-heavy corpora (pair count, not corpus size)
      .withColumn("jaccard_milli",
        HashFunctions.jaccard_milli(col("a_sh"), col("b_sh")))
      .filter(col("jaccard_milli") >= tm)
      .select("a_id", "b_id", "jaccard_milli")
  }

  /** MinHash+LSH near-dup pairs: signature (single-pass custom expression) →
    * band buckets → candidate join → exact-Jaccard verification ≥
    * `threshold`. With bands=32, rowsPerBand=4: P[miss at j=0.8] =
    * (1-0.8^4)^32 ≈ 5e-8 — the verified output is the true pair set w.h.p.,
    * at O(bands·N) shuffle instead of the inverted index's worst case. */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, threshold: Double = 0.8,
                   bands: Int = 32, rowsPerBand: Int = 4,
                   seed: Long = 1L): DataFrame = {
    val k = bands * rowsPerBand
    // Slim banded self-join: only (id, band, bkey) rows cross the shuffle —
    // never the shingle arrays (replicating those ×bands is the classic LSH
    // scale bug). The shingle→signature pipeline is one projection, consumed
    // exactly once; no cache needed (caching the shingled corpus at 100 TB
    // would itself be the scale bug).
    // spread (r17, guide §2.5): shingle+minhash is the per-row kernel in
    // the scan stage; parallelize off single-split inputs (no-op when
    // the input is already parallel)
    val dfS = Materialize.spread(df.select(col(idCol), col(textCol)), col(idCol))
    val banded = dfS
      .select(col(idCol).as("id"),
        HashFunctions.minhash(Text.shinglesOfText(col(textCol), shingleN), k, seed).as("sig"))
      .select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
    val candIds = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .dropDuplicates("a_id", "b_id")
      // three consumers (both candDocs legs + the verify join) re-expand
      // the banded self-join per reference — materialize once (r16)
      .transform(Materialize.cut)
    // Exact-Jaccard verification shingles ONLY candidate docs, each ONCE:
    // a semi-join against the candidate id set bounds the shingling (the
    // corpus streams through unshuffled; AQE broadcasts the id set), and
    // per-doc sets are computed before the pair joins — on dup-heavy data a
    // doc sits in many pairs, and shingling per PAIR multiplies that work
    // by the pair degree.
    val candDocs = candIds.select(col("a_id").as("id"))
      .union(candIds.select(col("b_id").as("id"))).distinct()
    val sets = dfS.select(col(idCol).as("id"), col(textCol).as("txt"))
      .join(candDocs, Seq("id"), "left_semi")
      .select(col("id"), Text.shinglesOfText(col("txt"), shingleN).as("sh"))
      .transform(Materialize.cut) // joined on both pair sides — shingle once
    val cands = candIds
      .join(sets.select(col("id").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(sets.select(col("id").as("b_id"), col("sh").as("b_sh")), "b_id")
    cands
      .withColumn("jaccard_milli",
        HashFunctions.jaccard_milli(col("a_sh"), col("b_sh")))
      .filter(col("jaccard_milli") >= (threshold * 1000).toLong)
      .select("a_id", "b_id", "jaccard_milli")
  }

  /** Connected components of the near-dup pair graph: each doc that appears
    * in at least one pair is labeled with the minimum doc id reachable from
    * it — the canonical keeper of its dup cluster. Iterative min-label
    * propagation (the Pregel pattern as DataFrame joins): each round every
    * node takes the min of its own and its neighbors' labels, then JUMPS:
    * `label ← label(label)` (pointer doubling). The min step alone
    * converges in O(diameter) rounds — fine for clique-shaped dup
    * clusters, dead on a chain-shaped graph (round 7's documented abort);
    * the jump step halves the remaining path each round, so convergence is
    * O(log diameter) — a diameter-1000 chain closes in ~11 rounds
    * (spec-pinned), and maxIter 25 covers any graph that fits in storage.
    * The fixed point is identical (labels decrease monotonically to the
    * component min; the jump only forwards along already-derived
    * reachability), so d11 verifies against the same reachability oracle.
    * Each round is two joins + one aggregation — no driver-side data
    * beyond the convergence count. */
  def connectedComponents(pairs: DataFrame, aCol: String = "a_id", bCol: String = "b_id",
                          maxIter: Int = 25): DataFrame =
    connectedComponentsWithRounds(pairs, aCol, bCol, maxIter)._1

  /** [[connectedComponents]] exposing the round count, so the O(log
    * diameter) convergence claim is assertable by spec rather than taken
    * on faith. */
  private[graft] def connectedComponentsWithRounds(
      pairs: DataFrame, aCol: String = "a_id", bCol: String = "b_id",
      maxIter: Int = 25): (DataFrame, Int) = {
    // The pair list is referenced twice (symmetric closure) and per
    // iteration — materialize it once with localCheckpoint so an expensive
    // producer (e.g. the banded Jaccard join) runs once; checkpointing also
    // truncates the loop's growing lineage, and the ContextCleaner frees
    // the blocks when the result is consumed (persist() would leak them in
    // the cache manager for the session's lifetime). Pair lists are small
    // by construction (near-dups).
    val p = pairs.transform(Materialize.cut) // run the pair producer exactly once
    // SMALL-GRAPH FAST PATH (r17). The distributed loop costs ~3 driver
    // actions per round and the e01-shaped near-dup graphs carry chain
    // components whose min label must walk one edge-hop per round (the
    // measured tail: rounds 4-6 move 3-4 labels each — pointer squaring
    // cannot beat edge propagation there). When the WHOLE edge list is
    // driver-bounded — p is already materialized, so the count is a cheap
    // block scan — a single collect + union-find computes the identical
    // min-id labeling in O(E α(E)) with ONE job, the same k-bounded
    // broadcast-side pattern the k-means centroid collect uses. The cap
    // is config (spark.graft.cc.localEdgeCap, edges; 0 disables) and the
    // distributed O(log diameter) loop below remains the scale path —
    // 100 TB near-dup edge lists exceed any driver and take it unchanged.
    // Eligibility: both id columns (resolved BY NAME, wherever they sit in
    // the schema) are LongType, the list holds at most `localCap` edges and
    // no null id (a null would throw in the union-find; the loop below
    // keeps its own null semantics). One bounded aggregate answers both:
    // count and null-count over the first cap+1 rows, so a list over the
    // cap is not counted in full.
    val localCap = pairs.sparkSession.conf
      .get("spark.graft.cc.localEdgeCap", "1048576").toLong
    val ids = p.select(col(aCol), col(bCol))
    val longIds = ids.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    val localOk = localCap > 0 && longIds && {
      val r = ids.limit(math.min(localCap, Int.MaxValue - 1L).toInt + 1)
        .agg(count(lit(1)), count(when(col(aCol).isNull || col(bCol).isNull, 1)))
        .head()
      r.getLong(0) <= localCap && r.getLong(1) == 0
    }
    if (localOk) {
      val es = ids.collect()
      val parent = new java.util.HashMap[Long, Long]()
      def find(x0: Long): Long = {
        var x = x0
        while (parent.getOrDefault(x, x) != x) {
          val gp = parent.getOrDefault(parent.get(x), parent.get(x))
          parent.put(x, gp); x = gp
        }
        x
      }
      es.foreach { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        val (ra, rb) = (find(a), find(b))
        // union by MIN root so every set's root IS its min id — the same
        // labeling the distributed loop converges to
        if (ra < rb) parent.put(rb, ra)
        else if (rb < ra) parent.put(ra, rb)
      }
      val nodes = es.iterator.flatMap(r => Iterator(r.getLong(0), r.getLong(1)))
        .toArray.distinct
      val out = pairs.sparkSession.createDataFrame(
        nodes.toSeq.map(n => (n, find(n))))
        .toDF("doc_id", "component_id")
      return (out, 0)
    }
    val edges = p.select(col(aCol).as("u"), col(bCol).as("v"))
      .union(p.select(col(bCol).as("u"), col(aCol).as("v")))
      .distinct().transform(Materialize.cut)
    // Seed with round 0 fused into the init: label = min(self, neighbors).
    // Cliques (the common dup-cluster shape) converge immediately and pay
    // exactly one convergence-check round.
    var labels = edges.groupBy(col("u").as("node"))
      .agg(least(min(col("v")), first(col("u"))).as("label")).transform(Materialize.cut)
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val neighborMin = edges
        .join(labels.select(col("node").as("v"), col("label").as("vlabel")), "v")
        .groupBy(col("u").as("node")).agg(min(col("vlabel")).as("nmin"))
      // carry the previous label through the checkpoint so the convergence
      // check is a filter over already-materialized rows — not a second
      // join + recompute per round (per-round actions dominate iterative
      // DataFrame loops; one action materializes, the other just scans)
      val half = labels.join(neighborMin, Seq("node"), "left_outer")
        .select(col("node"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"),
          col("label").as("prev"))
        .transform(Materialize.cut) // referenced twice below (self-join) — run once
      // pointer doubling: follow the label TWO more hops through THIS
      // round's half-updated table (label(label(u)), then once more).
      // Every label value is itself a node (a min over reachable ids), so
      // each lookup is a self-join against the one materialized table;
      // left_outer + coalesce only for the degenerate self-loop rows the
      // distinct edge closure can produce. Two hops instead of one (r17):
      // each extra hop is one more broadcast join INSIDE the same job over
      // the already-materialized `half` — nearly free — while multiplying
      // the per-round reach, so chain-shaped components converge in ~half
      // the rounds, and rounds (3 driver actions each) are the loop's
      // dominant cost (measured: 1,288-edge e01 graph, 7 rounds → 4).
      // Labels only ever decrease and stay within the component, so the
      // fixed-point/convergence argument is unchanged by extra hops.
      def hop(t: DataFrame, lookup: DataFrame, tag: String): DataFrame =
        t.as("h")
          .join(lookup.select(col("node").as(s"pnode$tag"),
              col("label").as(s"plabel$tag")),
            col("h.label") === col(s"pnode$tag"), "left_outer")
          .select(col("h.node").as("node"),
            least(col("h.label"),
              coalesce(col(s"plabel$tag"), col("h.label"))).as("label"),
            col("h.prev").as("prev"))
      // square twice: sq1 = l∘l through half; next = sq1∘sq1 — the second
      // squaring must look up in sq1 ITSELF (composing with `half` again
      // would add reach +1, not ×2). sq1 is two broadcast joins over the
      // materialized half, so its re-expansion on both sides of the
      // second join stays cheap.
      val sq1 = hop(half, half, "1")
      val next = hop(sq1, sq1, "2").transform(Materialize.cut)
      changed = next.filter(col("label") =!= col("prev")).count()
      labels = next.select("node", "label")
      i += 1
    }
    // wrong labels must not be returned silently: a graph this deep for
    // the budget needs a larger maxIter (log2(diameter) rounds suffice)
    require(changed == 0,
      s"connectedComponents did not converge in $maxIter rounds ($changed labels still changing)")
    (labels.select(col("node").as("doc_id"), col("label").as("component_id")), i)
  }

  /** Incremental near-dedup: admit only the NEW batch docs that duplicate
    * neither the existing corpus nor an earlier (lower-id) doc of the same
    * batch — the steady-state shape of a production pipeline, where the
    * corpus is already deduplicated and each arriving increment must be
    * screened against it without re-running the corpus self-join.
    *
    * Plan: MinHash band keys for both sides; candidates are
    * (batch × corpus) band collisions plus the (batch × batch) earlier-id
    * collisions — the corpus NEVER self-joins, so the per-increment cost is
    * O(batch + collisions), not O(corpus²) (and corpus signatures are a
    * pure projection — at scale, precompute and store them with the
    * corpus). Candidates verify with exact Jaccard over re-shingled
    * surviving docs only ([[minhashPairs]]' recall argument: banded miss
    * probability ≈ 5e-8 at the 0.8 threshold, so the verified output is the
    * exact answer w.h.p. — d16 checks it against an exact-Jaccard oracle).
    * Returns the kept batch ids as `(doc_id)`. Assumes batch and corpus id
    * spaces are disjoint (same-id rows would be dropped as self-pairs). */
  def incremental(batch: DataFrame, corpus: DataFrame, idCol: String, textCol: String,
                  shingleN: Int = 3, threshold: Double = 0.8,
                  bands: Int = 32, rowsPerBand: Int = 4, seed: Long = 1L): DataFrame = {
    val k = bands * rowsPerBand
    def bandedOf(df: DataFrame) = df
      .select(col(idCol).as("id"),
        HashFunctions.minhash(Text.shinglesOfText(col(textCol), shingleN), k, seed).as("sig"))
      .select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
    // The batch's banded rows feed THREE consumers (the corpus join and
    // both sides of the self-join): materialize them once, or the
    // shingle→minhash projection runs 3×. Safe to pin at any scale — the
    // banded shape is (id, band, bkey), bands × |batch| slim rows, never
    // the shingle arrays. The corpus side has exactly one consumer and
    // streams through unmaterialized.
    val bb = bandedOf(batch).transform(Materialize.cut)
    val cb = bandedOf(corpus)
    val vsCorpus = bb.as("a")
      .join(cb.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.id") =!= col("b.id"))
      .select(col("a.id").as("b_id"), col("b.id").as("o_id"))
    val vsBatch = bb.as("a")
      .join(bb.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.id") < col("b.id"))
      .select(col("b.id").as("b_id"), col("a.id").as("o_id")) // later id is on trial
    val cands = vsCorpus.union(vsBatch).dropDuplicates("b_id", "o_id")
      // three consumers (both involved legs + the verify join) would
      // re-run both banded joins per reference — materialize once (r16)
      .transform(Materialize.cut)
    // exact verification: shingle only the docs that appear in a candidate
    // pair (semi-join bound), each once, from whichever side holds them
    val all = batch.select(col(idCol).as("id"), col(textCol).as("txt"))
      .unionByName(corpus.select(col(idCol).as("id"), col(textCol).as("txt")))
    val involved = cands.select(col("b_id").as("id"))
      .union(cands.select(col("o_id").as("id"))).distinct()
    val sets = all.join(involved, Seq("id"), "left_semi")
      .select(col("id"), Text.shinglesOfText(col("txt"), shingleN).as("sh"))
      .transform(Materialize.cut) // joined on both pair sides — shingle once
    val dropped = cands
      .join(sets.select(col("id").as("b_id"), col("sh").as("b_sh")), "b_id")
      .join(sets.select(col("id").as("o_id"), col("sh").as("o_sh")), "o_id")
      .filter(HashFunctions.jaccard_milli(col("b_sh"), col("o_sh"))
        >= (threshold * 1000).toLong)
      .select(col("b_id").as("doc_id")).distinct()
    batch.select(col(idCol).as("doc_id")).join(dropped, Seq("doc_id"), "left_anti")
  }

  /** Bloom-prefiltered incremental EXACT dedup: drop batch rows whose
    * content is byte-identical to an existing corpus row, then keep one
    * (min-id) representative per surviving batch hash group — the exact
    * counterpart of [[incremental]] for the "same page crawled again"
    * steady state. Returns the kept batch ids as `(doc_id)`.
    *
    * The screen is a Bloom filter over corpus content hashes, built with
    * Spark's distributed `BloomFilterAggregate` (merge-combinable partial
    * sketches — the same machinery AQE's runtime filters plan) and probed
    * with the codegen'd `BloomFilterMightContain`; no UDF, and the only
    * driver-side data is the filter bytes. Sizing: `expectedItems` at `fpp`
    * → m = ⌈−n·ln p / ln²2⌉ bits (1e9 items at 1% ≈ 1.2 GB — still a
    * broadcastable one-off; at steady state build ONCE and persist the
    * bytes next to the corpus instead of re-aggregating per increment).
    *
    * Scale shape: each arriving batch probes the filter per-row,
    * UNSHUFFLED; only Bloom hits (true duplicates + ~fpp false positives)
    * reach the exact verification semi-join, whose tiny probe side
    * broadcasts under AQE — the corpus is never reshuffled per increment.
    * False positives cannot drop good rows: every hit is verified
    * against the real corpus hashes before a batch row is discarded. */
  def exactIncremental(batch: DataFrame, corpus: DataFrame,
                       idCol: String, textCol: String,
                       expectedItems: Long = 1000000L, fpp: Double = 0.01): DataFrame = {
    require(expectedItems > 0, s"expectedItems must be positive, got $expectedItems")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    import org.apache.spark.sql.graft.exprs
    val cHash = corpus.select(md5(col(textCol)).as("content_hash"))
    val numBits = math.max(64L,
      math.ceil(-expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    // BloomFilterAggregate SILENTLY clamps its arguments to
    // spark.sql.optimizer.runtime.bloomFilter.maxNumItems/maxNumBits
    // (defaults 4e6 / 6.7e7) — sized for AQE's runtime join filters, not a
    // corpus screen. Without this, a >7M-doc corpus quietly builds a
    // saturated filter (fpp → 1) and every batch row flows into the verify
    // join — the degradation is invisible because the result stays correct.
    // The caps are raised on a dedicated CHILD session (same SparkContext,
    // separate SQLConf) that runs only build jobs: the caller's session
    // confs are never touched, so concurrent queries in it — including AQE
    // runtime bloom filters reading these very keys — can't observe the
    // raise (a raise/restore on the shared session was the round-4 shape;
    // the advisor flagged the visibility window). The child session is
    // CACHED per SparkContext: this operator's steady state is one call
    // per arriving batch, and a fresh SessionState per call would pay full
    // analyzer/catalog/listener construction each time and leak session
    // state onto the shared listener bus. Builds serialize on the session
    // lock — the raise-then-analyze window is otherwise racy (a smaller
    // concurrent build could re-lower the cap before this build's
    // aggregate is constructed) — which is the right trade: corpus-scale
    // filter builds are heavyweight jobs that gain nothing from driver-
    // side concurrency.
    val spark = corpus.sparkSession
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val buildSession = bloomBuildSessions.computeIfAbsent(
      spark.sparkContext, _ => spark.newSession())
    // one corpus pass; null when the corpus is empty (nothing to screen)
    val bloom = buildSession.synchronized {
      buildSession.conf.set(itemsKey,
        math.max(buildSession.conf.get(itemsKey).toLong, expectedItems))
      buildSession.conf.set(bitsKey,
        math.max(buildSession.conf.get(bitsKey).toLong, numBits))
      exprs.onSession(buildSession, cHash)
        .select(exprs.bloom_agg(col("content_hash"), expectedItems, numBits).as("bf"))
        .head().getAs[Array[Byte]]("bf")
    }
    val hashed = batch.select(col(idCol).as("doc_id"), md5(col(textCol)).as("content_hash"))
    val confirmed = Option(bloom) match {
      case None => hashed.limit(0) // empty corpus: no duplicates possible
      case Some(bytes) =>
        hashed.filter(exprs.bloom_might_contain(bytes, col("content_hash")))
          .join(cHash, Seq("content_hash"), "left_semi")
    }
    hashed.join(confirmed.select("doc_id"), Seq("doc_id"), "left_anti")
      .groupBy("content_hash").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
  }

  /** Benchmark decontamination: training docs sharing any `shingleN`-gram
    * with an evaluation/benchmark set must be flagged (and usually dropped)
    * before training — verbatim eval spans in the corpus inflate benchmark
    * scores. Returns one row per CONTAMINATED training doc:
    * `(doc_id, n_bench_docs, n_shared_shingles)` (distinct benchmark docs
    * hit, distinct shared shingles).
    *
    * Scale shape: the training corpus streams through shingle-explode →
    * broadcast-hash-join with NO shuffle of the corpus itself; only the
    * matching (doc, bench, shingle) hits — contamination is rare by
    * construction — reach the final aggregation. The benchmark shingle
    * table is explicitly `broadcast()`: eval sets are thousands of docs,
    * metadata-sized next to a 100-TB corpus. `shingleN` defaults to 5 —
    * long enough that generic phrases don't flag everything, short enough
    * to catch partial span copies (13 is the common choice for web-scale
    * corpora; the fixture docs are short). */
  def decontaminate(train: DataFrame, trainId: String, trainText: String,
                    bench: DataFrame, benchId: String, benchText: String,
                    shingleN: Int = 5): DataFrame = {
    val tSh = train.select(col(trainId).as("doc_id"),
      explode(Text.shinglesOfText(col(trainText), shingleN)).as("sh"))
    val bSh = bench.select(col(benchId).as("bench_id"),
      explode(Text.shinglesOfText(col(benchText), shingleN)).as("sh"))
    tSh.join(broadcast(bSh), "sh")
      .groupBy("doc_id")
      .agg(countDistinct(col("bench_id")).as("n_bench_docs"),
        countDistinct(col("sh")).as("n_shared_shingles"))
  }

  /** 64-bit SimHash fingerprints. */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      HashFunctions.simhash64(Text.tokens(col(textCol))).as("simhash"))

  /** SimHash near-dup pairs with Hamming distance ≤ `maxHamming`, found by
    * 16-bit band collision (exact for maxHamming ≤ 3 with 4 bands, by
    * pigeonhole) then verified with bit_count(xor). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    // spread (r17): the token+simhash kernel rides the scan stage
    val fp = simhash(Materialize.spread(
      df.select(col(idCol), col(textCol)), col(idCol)), idCol, textCol)
    val banded = fp.select(col("id"), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(lit(0xFFFFL))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
    // Both full fingerprints ride the banded rows (they're one long each),
    // so a pair colliding in several bands is kept only on its FIRST
    // matching band — computed per-row from the xor, which removes the
    // per-pair dropDuplicates exchange entirely (the classic LSH dedup).
    val joined = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"), col("a.band").as("band"),
        col("a.simhash").bitwiseXOR(col("b.simhash")).as("xor"))
    def bandMatches(k: Int) =
      shiftrightunsigned(col("xor"), k * 16).bitwiseAND(lit(0xFFFFL)) === 0
    val firstMatch = (0 until 3).foldRight(lit(3): org.apache.spark.sql.Column) {
      (k, acc) => when(bandMatches(k), lit(k)).otherwise(acc)
    }
    joined
      .withColumn("hamming", bit_count(col("xor")).cast("long"))
      .filter(col("band") === firstMatch && col("hamming") <= maxHamming)
      .select("a_id", "b_id", "hamming")
  }

  /** Documents split into `sep`-separated lines with their 0-based position
    * — the shared front end of the structural (sub-document) dedup pair
    * below. `sep` is a LITERAL (regex-quoted): Spark's `split` takes a
    * regex and an unquoted "." or "|" separator would silently split on
    * everything. `limit = -1` keeps trailing empty lines, matching DuckDB's
    * `string_split`, so reassembly is loss-free for texts ending in `sep`. */
  private def splitLines(docs: DataFrame, idCol: String, textCol: String,
                         sep: String): DataFrame =
    docs.select(col(idCol).as("_doc"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep), -1)))
      .toDF("_doc", "pos", "line")

  /** Reassemble documents from surviving lines in original order, keeping
    * every input document (zero survivors → empty text) and reporting
    * kept/dropped line counts. One groupBy per side; the `totals` and
    * reassembly aggregations are both hash-partitioned on `_doc`, so the
    * final join plans without a third exchange. */
  private def reassembleLines(lines: DataFrame, kept: DataFrame,
                              idCol: String, sep: String): DataFrame = {
    val totals = lines.groupBy(col("_doc")).agg(count(lit(1)).as("lines_total"))
    val reasm = kept.groupBy(col("_doc")).agg(
      array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x.getField("line")), sep).as("clean_text"),
      count(lit(1)).as("lines_kept"))
    totals.join(reasm, Seq("_doc"), "left").select(
      col("_doc").as(idCol),
      coalesce(col("clean_text"), lit("")).as("clean_text"),
      coalesce(col("lines_kept"), lit(0L)).as("lines_kept"),
      (col("lines_total") - coalesce(col("lines_kept"), lit(0L))).as("lines_dropped"))
  }

  /** Structural dedup, C4/RefinedWeb-style boilerplate removal: a line
    * whose exact text occurs in more than `maxDocs` DISTINCT documents is
    * chrome (navigation, cookie banners, footers — content that survives
    * document-level dedup because every page's text differs while every
    * page's furniture repeats) and is removed from every document; each
    * document is then reassembled from its surviving lines in original
    * order. Returns `(idCol, clean_text, lines_kept, lines_dropped)` with
    * one row per input document.
    *
    * Scale shape: per-line distinct-doc counts are one map-side-combined
    * shuffle of (line, doc) — no window over a per-line partition, which a
    * viral line ("Subscribe now" in 10⁸ docs) would turn into a straggler.
    * The anti-join's build side is only lines that cleared `maxDocs`
    * (bounded by total_lines / maxDocs, in practice tiny), so AQE converts
    * it to broadcast at runtime; the reassembly groupBy is the one
    * unavoidable full-text shuffle. */
  def dropBoilerplateLines(docs: DataFrame, idCol: String, textCol: String,
                           maxDocs: Int, sep: String = "\n"): DataFrame = {
    val lines = splitLines(docs, idCol, textCol, sep)
    val boiler = lines.groupBy(col("line"))
      .agg(countDistinct(col("_doc")).as("_ndocs"))
      .filter(col("_ndocs") > maxDocs)
      .select("line")
    val kept = lines.join(boiler, Seq("line"), "left_anti")
    reassembleLines(lines, kept, idCol, sep)
  }

  /** Structural dedup with keep-first semantics (the C4 span rule at line
    * granularity): a line that occurs anywhere else in the corpus survives
    * only at its first occurrence — lowest `(idCol, pos)` — and is removed
    * everywhere else, including later repeats INSIDE the same document.
    * Unlike [[dropBoilerplateLines]] this collapses even two-document
    * duplication; use it when repeated content should survive exactly once
    * rather than not at all. Same output shape as the boilerplate variant.
    *
    * Scale shape: the first-occurrence winner per line is a single
    * `min(struct(doc, pos))` aggregation (map-side combined, no window);
    * the winner join back to the lines is co-partitioned with that
    * aggregation's hash partitioning on `line`, so the corpus text itself
    * shuffles only for the final reassembly. */
  def dedupLinesKeepFirst(docs: DataFrame, idCol: String, textCol: String,
                          sep: String = "\n"): DataFrame = {
    val lines = splitLines(docs, idCol, textCol, sep)
    val firsts = lines.groupBy(col("line"))
      .agg(min(struct(col("_doc"), col("pos"))).as("_first"))
    val kept = lines.join(firsts, Seq("line"))
      .filter(struct(col("_doc"), col("pos")) === col("_first"))
      .select("_doc", "pos", "line")
    reassembleLines(lines, kept, idCol, sep)
  }

  /** Exact-substring (passage-level) duplication detection, the
    * RefinedWeb-style complement to the line-level passes: maximal token
    * spans whose every `n`-gram also occurs in at least one OTHER
    * document. Returns (`idCol`, start_tok, end_tok, n_shingles) — token
    * indexes are 0-based inclusive; spans shorter than `minShingles`
    * consecutive duplicated `n`-grams drop.
    *
    * Scale shape: positional shingles come from `lead()` windows over the
    * exploded token stream — linear work, no O(L²) per-document array
    * slicing; cross-corpus duplicate `n`-grams are one map-side-combined
    * count-distinct keyed by the shingle text; the surviving positions
    * regroup per document, where the gap-and-islands trick (pos −
    * row_number is constant exactly on a consecutive run) closes maximal
    * runs without a second window pass. Three keyed shuffles (doc, shingle,
    * doc), nothing global, nothing quadratic. A viral shingle's posting
    * list concentrates on one `shv` key in the count aggregate, but the
    * partial count collapses it map-side — unlike a join on the shingle,
    * the hot key never materializes its pair fan-out. */
  /** Apply [[dupPassages]]: rewrite each document with its duplicated
    * passages removed (tokens inside any detected span drop; survivors
    * rejoin in original order). Returns one row per input document —
    * zero-token documents included (empty text, zero counts), untouched
    * documents pass through with zero removed — the WRITE side of
    * exact-substring dedup. DETECTION is case-insensitive (Text.tokens
    * lowers), but reassembly uses CASE-PRESERVING tokens — same
    * positions, because lowering never changes whitespace boundaries —
    * so untouched text keeps its casing; whitespace runs do collapse to
    * single spaces (inherent to a token-level rebuild, documented
    * contract). The span table is span-count-sized, so the anti-join's
    * build side is tiny; the reassembly groupBy is the one full-text
    * shuffle (the d19/d20 reassembly bound). */
  def scrubDupPassages(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 5, minShingles: Int = 2): DataFrame = {
    val spans = dupPassages(docs, idCol, textCol, n, minShingles)
      .select(col(idCol).as("_sid"), col("start_tok"), col("end_tok"))
    // case-preserving twin of Text.tokens: same split, no lower()
    val rawTokens = filter(split(col(textCol), "\\s+"), t => length(t) > 0)
    val toks = docs.select(col(idCol).as("_doc"),
      posexplode(rawTokens).as(Seq("pos", "tok")))
    val kept = toks.join(spans,
      toks("_doc") === spans("_sid") &&
        col("pos") >= col("start_tok") && col("pos") <= col("end_tok"),
      "left_anti")
    val reasm = kept.groupBy(col("_doc")).agg(
      array_join(transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
        x => x.getField("tok")), " ").as("clean_text"),
      count(lit(1)).as("kept_tokens"))
    // totals from the DOCUMENTS, not the exploded tokens: a zero-token
    // document explodes to nothing and must still appear in the output
    val totals = docs.select(col(idCol).as("_doc"),
      size(rawTokens).cast("long").as("total_tokens"))
    totals.join(reasm, Seq("_doc"), "left").select(
      col("_doc").as(idCol),
      coalesce(col("clean_text"), lit("")).as("clean_text"),
      coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
      (col("total_tokens") - coalesce(col("kept_tokens"), lit(0L))).as("removed_tokens"))
  }

  def dupPassages(docs: DataFrame, idCol: String, textCol: String,
                  n: Int = 5, minShingles: Int = 2): DataFrame = {
    require(n >= 2, s"shingle width must be >= 2, got $n")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_doc").orderBy("pos")
    val toks = Materialize.spread( // r17: tokenize off the scan stage
        docs.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol).as("_doc"), posexplode(Text.tokens(col(textCol))).as(Seq("pos", "tok")))
    val leads = (1 until n).map(i => lead("tok", i).over(w).as(s"t$i"))
    // consumed twice (the cross-corpus dup aggregate AND the position
    // join) — materialize once so the tokenize + positional-window
    // pipeline doesn't re-run per consumer (r16, guide §3.3; the
    // jaccardPairs/connectedComponents localCheckpoint pattern)
    val sh = toks
      .select((Seq(col("_doc"), col("pos"), col("tok")) ++ leads): _*)
      .filter(col(s"t${n - 1}").isNotNull)
      .select(col("_doc"), col("pos"),
        concat_ws(" ", (col("tok") +: (1 until n).map(i => col(s"t$i"))): _*).as("shv"))
      .transform(Materialize.cut)
    val dup = sh.groupBy("shv")
      .agg(countDistinct(col("_doc")).as("nd")).filter(col("nd") > 1)
      .select("shv")
    sh.join(dup, "shv")
      .withColumn("rn", row_number().over(w))
      .groupBy(col("_doc"), (col("pos") - col("rn")).as("grp"))
      .agg(min("pos").cast("long").as("start_tok"),
        (max(col("pos")) + (n - 1)).cast("long").as("end_tok"),
        count(lit(1)).as("n_shingles"))
      .filter(col("n_shingles") >= minShingles)
      .select(col("_doc").as(idCol), col("start_tok"), col("end_tok"), col("n_shingles"))
  }

  /** Cross-source overlap matrix (the d24 diagnostic): for every source
    * pair, how many DISTINCT `n`-gram shingles occur in both — the signal
    * that two crawls/dumps overlap enough to need cross-source dedup or
    * decontamination review. One shingle→source-set aggregate (distinct
    * sources, map-side combined), then pairs explode WITHIN each
    * shingle's source set — bounded by |sources|² per shingle, never by
    * corpus size.
    *
    * That |sources|² is fine for MIXTURE-level sources (a handful of
    * crawls) and DoA for per-domain keys: one stop-word shingle present
    * in 10⁵ domains is 10¹⁰ pair rows from a single aggregate row. The
    * `maxSources` guard raises IN-PLAN — naming the shingle and its
    * source count — the moment any shingle's source set exceeds the
    * bound, which is also exactly the configuration where the matrix
    * stops being a readable diagnostic. */
  def sourceOverlap(docs: DataFrame, srcCol: String, textCol: String,
                    n: Int = 5, maxSources: Int = 64): DataFrame = {
    require(maxSources >= 2, s"maxSources must be >= 2, got $maxSources")
    // r17: shingle off the scan stage. Spread on a hash of (source, text),
    // not the raw text: the corpora this diagnostic is for repeat texts
    // across sources, and keyed on text alone every copy of a text lands
    // on one task — the skew the spread exists to remove.
    val sh = Materialize.spread(
        docs.select(col(srcCol), col(textCol)), xxhash64(col(srcCol), col(textCol)))
      .select(col(srcCol).as("_src"),
        explode(Text.shinglesOfText(col(textCol), n)).as("shv"))
    // collect_set dedups sources per shingle itself (map-side combined) —
    // a pre-distinct would just add a second full exchange of the
    // exploded shingle stream for the same result
    val bySh = sh.groupBy("shv").agg(collect_set(col("_src")).as("srcs"))
      .filter(when(size(col("srcs")) <= maxSources, lit(true))
        .otherwise(raise_error(format_string(
          s"Dedup.sourceOverlap: shingle %s occurs in %s sources, over " +
            s"maxSources=$maxSources — the per-shingle pair fan-out is " +
            "|sources|²; this diagnostic expects mixture-level sources " +
            "(crawls/dumps), not per-domain keys — regroup sources " +
            "coarser or raise the bound deliberately",
          col("shv"), size(col("srcs"))))))
    bySh.select(explode(col("srcs")).as("src_a"), col("srcs"))
      .select(col("src_a"), explode(col("srcs")).as("src_b"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("shared_shingles"))
  }
}
