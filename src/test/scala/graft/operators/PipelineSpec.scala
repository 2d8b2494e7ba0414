package graft.operators

import graft.SparkSuite
import graft.functions.{HashFunctions, Text}

import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSuite {

  lazy val docs = spark.read.parquet(s"${sf("sf0.001")}/documents.parquet").cache()

  test("quantized ANN: 8-bit bins keep most of the float-dot neighbor order") {
    import org.apache.spark.sql.functions._
    val emb = graft.queries.Tables.t(spark, sf("sf0.001"), "embeddings")
    val queries = emb.filter(col("vec_id") < 20)
    // float-dot reference (the metric quantization approximates — NOT
    // cosine: unnormalized dot is what the integer score estimates)
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      transform(col("embedding"), _.cast("double")).as("qe")))
    val c = emb.select(col("vec_id").as("neighbor_id"),
      transform(col("embedding"), _.cast("double")).as("ce"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("dot").desc, col("neighbor_id"))
    val exact = q.crossJoin(c).filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("dot", aggregate(zip_with(col("qe"), col("ce"), _ * _), lit(0.0), _ + _))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 10)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = Similarity.quantizedTopK(emb, queries, 10)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = (exact & quant).size.toDouble / exact.size
    assert(overlap >= 0.6, f"quantized top-10 overlap with float dot: $overlap%.2f")
  }

  test("minhash+LSH pairs == exact jaccard pairs (sf0.001)") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text").cache()
    val lsh = Dedup.minhashPairs(docs, "doc_id", "text").cache()
    assert(exact.count() > 0, "fixture should contain near-dups")
    assert(exact.except(lsh).isEmpty && lsh.except(exact).isEmpty)
  }

  test("structural line dedup: boilerplate vs keep-first") {
    import spark.implicits._
    val d = Seq(
      (1L, "alpha\nSHARED\nbeta\nbeta"),
      (2L, "SHARED\ngamma"),
      (3L, "SHARED\ndelta\n"),
      (4L, "SHARED")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    val b = rows(Dedup.dropBoilerplateLines(d, "doc_id", "text", maxDocs = 2))
    assert(b(1L) == (("alpha\nbeta\nbeta", 3L, 1L)),
      "within-doc repeat is distinct-doc count 1, not boilerplate")
    assert(b(2L) == (("gamma", 1L, 1L)))
    assert(b(3L) == (("delta\n", 2L, 1L)), "trailing empty line survives split+join")
    assert(b(4L) == (("", 0L, 1L)), "all-dropped doc stays with empty text")
    val k = rows(Dedup.dedupLinesKeepFirst(d, "doc_id", "text"))
    assert(k(1L) == (("alpha\nSHARED\nbeta", 3L, 1L)),
      "first occurrence survives; the SAME doc's later repeat drops")
    assert(k(2L) == (("gamma", 1L, 1L)))
    assert(k(3L) == (("delta\n", 2L, 1L)))
    assert(k(4L) == (("", 0L, 1L)))
    // the separator is a literal, not a regex
    val dot = Seq((1L, "a.b"), (2L, "a.c")).toDF("doc_id", "text")
    val s = rows(Dedup.dropBoilerplateLines(dot, "doc_id", "text", maxDocs = 1, sep = "."))
    assert(s(1L) == (("b", 1L, 1L)) && s(2L) == (("c", 1L, 1L)))
  }

  test("kmeans: Lloyd iterations recover well-separated clusters") {
    import spark.implicits._
    // three tight clusters along orthogonal axes (axis = id % 3), plus
    // jitter in the fourth dimension; the 3 lowest-id seeds span the three
    // clusters, and the iterations must pull each centroid from its raw
    // seed vector to the cluster mean (k-means cannot recover from all
    // seeds landing in ONE cluster — that degenerate draw is out of scope)
    val mk = (axis: Int, jit: Double) =>
      Seq.tabulate(4)(d => if (d == axis) 1.0 else if (d == 3) jit else 0.0)
    val rows = (0 until 18).map(i => (i.toLong, mk(i % 3, 0.01 * (i / 3))))
    val df = rows.toDF("vec_id", "embedding")
    val cents = Clustering.kmeans(df, k = 3, iters = 4)
    val labels = Clustering.assign(df, cents.toSeq)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every axis's members agree, and different axes get different labels
    def labelOf(axis: Int) = {
      val ls = (0 until 18).filter(_ % 3 == axis).map(i => labels(i.toLong)).distinct
      assert(ls.size == 1, s"axis $axis split across clusters: $ls")
      ls.head
    }
    val (a, b, c) = (labelOf(0), labelOf(1), labelOf(2))
    assert(Set(a, b, c).size == 3, s"axes collapsed into $a,$b,$c")
    // assignment cosine is near-perfect once centroids settle on the axes
    val minCos = Clustering.assign(df, cents.toSeq)
      .agg(min("cos_milli")).collect()(0).getLong(0)
    assert(minCos >= 990, s"weak assignment cosine $minCos")
  }

  test("semDedup keeps exactly the lowest-id member of each near-dup group") {
    import spark.implicits._
    val v = Seq(1.0, 0.0, 0.0, 0.0)
    val dup = Seq(0.999, 0.01, 0.0, 0.0)   // cosine ≈ 0.9999 with v
    val far = Seq(0.0, 1.0, 0.0, 0.0)
    // seeds (2 lowest ids) span the two true clusters: 0 → v-axis, 1 → far-axis
    val df = Seq((0L, v), (1L, far), (5L, dup), (9L, v))
      .toDF("vec_id", "embedding")
    val cents = Clustering.seedCentroids(df, 2)
    val kept = Clustering.semDedup(df, cents.toSeq, 0.95)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 1L), s"kept $kept — 5 and 9 duplicate 0 in-cluster")
  }

  test("incremental dedup: corpus dups and earlier-batch dups drop, rest keep") {
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog by the river bank"
    val b = "completely unrelated text about catalyst plans and shuffle exchanges"
    val c = "a third distinct document mentioning watermarks and session windows"
    val corpus = Seq((1000L, a)).toDF("doc_id", "text")
    val batch = Seq(
      (1L, a), // duplicates the corpus → drop
      (2L, b), // first arrival of b → keep
      (3L, b), // duplicates earlier batch doc 2 → drop
      (4L, c)) // unique → keep
      .toDF("doc_id", "text")
    val kept = Dedup.incremental(batch, corpus, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L), s"kept $kept")
  }

  test("packing: bins fill contiguously and never start past capacity") {
    val cap = 100L
    val packed = Packing.pack(docs, "doc_id", "text", cap, buckets = 4).cache()
    assert(packed.count() == docs.count(), "every doc gets exactly one bin")
    // a doc starts in the bin its cumulative offset falls into: reconstruct
    // cum_before independently and check floor(cum/cap) == bin everywhere
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket").orderBy("doc_id")
    val re = packed.withColumn("cum",
        coalesce(sum(col("n_tokens")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
          lit(0L)))
      .filter(floor(col("cum") / lit(cap)).cast("long") =!= col("bin"))
    assert(re.isEmpty, "bin assignment must equal the cumsum rule")
    // bins are dense per bucket: the last bin's index is bounded exactly by
    // floor(total/cap) above and floor((total - last_doc)/cap) below
    val stats = packed.groupBy("bucket")
      .agg(max("bin").as("mx"), sum("n_tokens").as("tot"), max("n_tokens").as("big"))
      .collect()
    stats.foreach { r =>
      val (mx, tot, big) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(mx <= tot / cap, s"bucket ${r.getLong(0)}: bin past the token total")
      assert(mx >= (tot - big) / cap,
        s"bucket ${r.getLong(0)}: sparse bins ($mx for $tot tokens)")
    }
  }

  test("decontaminate: flags any shared 5-gram, ignores shorter overlap") {
    import spark.implicits._
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"), // 5-gram overlap
      (2L, "alpha beta gamma delta unrelated tail words here"), // only 4 shared
      (3L, "nothing in common with the benchmark at all"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma delta epsilon"))
      .toDF("bench_id", "bench_text")
    val got = Dedup.decontaminate(train, "doc_id", "text",
        bench, "bench_id", "bench_text", shingleN = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 1L, 1L)),
      "exactly doc 1 shares a full 5-gram with the benchmark")
  }

  test("simhash: near-dups land at small Hamming distance, unrelated far") {
    import spark.implicits._
    val near = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (3L, "completely different words about spark shuffles and partition pruning plans"))
      .toDF("doc_id", "text")
    val fp = Dedup.simhash(near, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fp(1L), fp(2L)) <= 6)
    assert(ham(fp(1L), fp(3L)) > 12)
  }

  test("connected components: chains merge, min id labels the cluster") {
    import spark.implicits._
    // two clusters: a 4-chain {1-2, 2-3, 3-4} and a pair {10-11}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a_id", "b_id")
    val cc = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connected components: diameter-1000 chain converges in O(log d) rounds") {
    import spark.implicits._
    // the pathological shape for pure label propagation (O(diameter)
    // rounds, round 7's documented abort at 25): a single 1001-node path.
    // Pointer doubling must close it in ~log2(1000) rounds, and the min
    // label must ripple the full length. Cap 0 FORCES the distributed
    // loop (r17's small-graph fast path would otherwise absorb it).
    spark.conf.set("spark.graft.cc.localEdgeCap", "0")
    try {
      val chain = (0L until 1000L).map(i => (i, i + 1)).toDF("a_id", "b_id")
      val (df, rounds) = Dedup.connectedComponentsWithRounds(chain, "a_id", "b_id")
      val labels = df.collect().map(r => r.getLong(0) -> r.getLong(1))
      assert(labels.length == 1001)
      assert(labels.forall(_._2 == 0L), "every chain node must label to the min id 0")
      assert(rounds < 15, s"pointer jumping should need ~11 rounds, took $rounds")
    } finally spark.conf.unset("spark.graft.cc.localEdgeCap")
  }

  test("connected components: star and clique converge in a round or two") {
    import spark.implicits._
    spark.conf.set("spark.graft.cc.localEdgeCap", "0") // force the loop
    try {
      val star = (1L to 50L).map(i => (0L, i)).toDF("a_id", "b_id")
      val (sdf, srounds) = Dedup.connectedComponentsWithRounds(star, "a_id", "b_id")
      assert(sdf.collect().forall(_.getLong(1) == 0L))
      assert(srounds <= 2, s"star took $srounds rounds")
      val clique = (for (i <- 0L to 9L; j <- i + 1 to 9L) yield (i, j)).toDF("a_id", "b_id")
      val (cdf, crounds) = Dedup.connectedComponentsWithRounds(clique, "a_id", "b_id")
      assert(cdf.collect().forall(_.getLong(1) == 0L))
      assert(crounds <= 2, s"clique took $crounds rounds")
    } finally spark.conf.unset("spark.graft.cc.localEdgeCap")
  }

  test("connected components: local union-find path equals the distributed loop") {
    import spark.implicits._
    // r17 small-graph fast path: same labeling, zero loop rounds. A
    // seeded random graph with chains, cliques, self-loops and
    // singletons-by-absence; compare label maps path-vs-path exactly.
    val rnd = new scala.util.Random(7)
    val es = (0 until 400).map { _ =>
      (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong) } ++
      (500L to 520L).map(i => (i, i + 1)) // a chain away from the blob
    val pairs = es.toDF("a_id", "b_id")
    val (local, lr) = Dedup.connectedComponentsWithRounds(pairs, "a_id", "b_id")
    assert(lr == 0, "under the cap the fast path must answer without rounds")
    val localMap = local.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.conf.set("spark.graft.cc.localEdgeCap", "0")
    val distMap = try {
      val (dist, dr) = Dedup.connectedComponentsWithRounds(pairs, "a_id", "b_id")
      assert(dr > 0)
      dist.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    } finally spark.conf.unset("spark.graft.cc.localEdgeCap")
    assert(localMap == distMap,
      "the two paths must produce the identical min-id labeling")
  }

  test("connected components: fast path finds Long ids by name, not position") {
    import spark.implicits._
    // id columns at positions 2-3 behind a double and a string: the fast
    // path must still take them (it once probed the first two columns)
    val rnd = new scala.util.Random(11)
    val pairs = (0 until 200).map { i =>
      (i * 0.5, s"e$i", rnd.nextInt(80).toLong, rnd.nextInt(80).toLong)
    }.toDF("score", "note", "src", "dst")
    val (local, lr) = Dedup.connectedComponentsWithRounds(pairs, "src", "dst")
    assert(lr == 0, "Long ids anywhere in the schema take the fast path")
    val localMap = local.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.conf.set("spark.graft.cc.localEdgeCap", "0")
    val distMap = try {
      val (dist, dr) = Dedup.connectedComponentsWithRounds(pairs, "src", "dst")
      assert(dr > 0)
      dist.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    } finally spark.conf.unset("spark.graft.cc.localEdgeCap")
    assert(localMap == distMap)
  }

  test("connected components: null ids and over-cap lists take the distributed loop") {
    import spark.implicits._
    val withNull = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(2L), Some(3L)), (None, Some(4L)), (Some(5L), None))
      .toDF("a_id", "b_id")
    val (nul, nr) = Dedup.connectedComponentsWithRounds(withNull, "a_id", "b_id")
    assert(nr > 0, "a null id must not reach the union-find")
    val labels = nul.collect().filter(!_.isNullAt(0)).map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L).forall(labels.get(_).contains(1L)))
    spark.conf.set("spark.graft.cc.localEdgeCap", "3")
    try {
      val four = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a_id", "b_id")
      val (over, or) = Dedup.connectedComponentsWithRounds(four, "a_id", "b_id")
      assert(or > 0, "4 edges over a cap of 3 take the loop")
      assert(over.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    } finally spark.conf.unset("spark.graft.cc.localEdgeCap")
  }

  test("Materialize.spread requires hash keys") {
    val df = spark.range(10).toDF("id")
    intercept[IllegalArgumentException](Materialize.spread(df))
  }

  test("exact dedup groups byte-identical docs") {
    import spark.implicits._
    val df = Seq((1L, "aaa"), (2L, "aaa"), (3L, "bbb")).toDF("doc_id", "text")
    val out = Dedup.exact(df, "doc_id", "text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.length == 2)
    assert(out.find(_._3 == 2L).get._2 == 1L) // keeps min id
  }

  test("brute-force cosine top-k: identical vector ranks first") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.01f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0), 2)
      .orderBy("rank").collect()
    assert(top(0).getAs[Long]("neighbor_id") == 1L)
    assert(top(1).getAs[Long]("neighbor_id") == 2L)
  }

  test("SRP-banded near-dup pairs == exact cosine pairs on planted dups") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val base = (0L until 200L).map(i => (i, Array.fill(64)(rnd.nextGaussian().toFloat)))
    // plant: ids 1000+i are perturbed copies of i (cosine ≈ 0.999)
    val planted = (0L until 20L).map { i =>
      (1000L + i, base(i.toInt)._2.map(v => v * 1.001f + 0.002f))
    }
    val corpus = (base ++ planted).toDF("vec_id", "embedding")
    val exact = Similarity.cosinePairs(corpus, 0.95).cache()
    val lsh = Similarity.srpNearDupPairs(corpus, 0.95).cache()
    assert(exact.count() == 20, "every planted pair and nothing else")
    assert(exact.except(lsh).isEmpty && lsh.except(exact).isEmpty)
  }

  test("SRP ANN achieves usable recall vs brute force on real embeddings") {
    val emb = spark.read.parquet(s"${sf("sf0.001")}/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
    val bf = Similarity.bruteForceTopK(emb, queries, 5).select("query_id", "neighbor_id")
    val srp = Similarity.srpTopK(emb, queries, 5).select("query_id", "neighbor_id")
    val recall = bf.intersect(srp).count().toDouble / bf.count()
    assert(recall >= 0.5, s"recall $recall")
  }

  test("IVF ANN achieves usable recall vs brute force on real embeddings") {
    val emb = spark.read.parquet(s"${sf("sf0.001")}/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
    val bf = Similarity.bruteForceTopK(emb, queries, 5).select("query_id", "neighbor_id")
    val ivf = Similarity.ivfTopK(emb, queries, 5).select("query_id", "neighbor_id")
    val recall = bf.intersect(ivf).count().toDouble / bf.count()
    assert(recall >= 0.5, s"recall $recall")
  }

  test("typed Aggregator (Welford variance) matches var_samp as partial+final agg") {
    import spark.implicits._
    val v = udaf(graft.functions.VarianceAgg)
    val orders = spark.read.parquet(s"${sf("sf0.01")}/orders.parquet")
      .repartition(8) // force several partials so merge() really runs
    val got = orders.groupBy($"o_orderpriority")
      .agg(v($"o_totalprice").as("welford"), var_samp($"o_totalprice").as("builtin"))
      .collect()
    assert(got.length > 1)
    got.foreach { r =>
      val (w, b) = (r.getDouble(1), r.getDouble(2))
      assert(math.abs(w - b) <= 1e-9 * math.max(math.abs(b), 1.0),
        s"${r.getString(0)}: welford=$w builtin=$b")
    }
  }

  test("langid/stopword hits: null text scores 'unknown'/0; phrases rejected") {
    import spark.implicits._
    val df = Seq((1L, "the cat and the dog"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = df.select($"doc_id", Text.langId($"text").as("lang"),
      Text.stopwordHits($"text", Seq("the", "and")).as("hits"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set((1L, "en", 2L), (2L, "unknown", 0L)))
    // multi-token entries can never match the chunk scan — reject loudly
    intercept[IllegalArgumentException] {
      new graft.functions.StopwordMatcher(Array("g"), Array(Array("of the")))
        .scores(org.apache.spark.unsafe.types.UTF8String.fromString("x"))
    }
  }

  test("upsert latest: one row per key by (version, tiebreak); _rn reserved") {
    import spark.implicits._
    val log = Seq((1L, 10L, "a"), (1L, 20L, "b"), (1L, 20L, "c"), (2L, 5L, "d"))
      .toDF("k", "ver", "payload")
    val got = Upsert.latest(log, Seq("k"), col("ver"), col("payload"))
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(got == Set((1L, "c"), (2L, "d"))) // ties broken by payload desc
    intercept[IllegalArgumentException] {
      Upsert.latest(log.withColumn("_rn", lit(1)), Seq("k"), col("ver"))
    }
  }

  test("salted join == plain join; hot key spread over several salts") {
    import spark.implicits._
    // heavily skewed fact: one hot key with 10k rows, cold keys with 1
    val fact = ((1 to 10000).map(i => (7L, i.toLong)) ++
      (1 to 50).map(i => (i.toLong % 5, i.toLong * 100))).toDF("k", "v")
    val dim = Seq((7L, "hot"), (0L, "a"), (1L, "b"), (2L, "c"), (3L, "d"), (4L, "e"))
      .toDF("k", "name")
    val plain = fact.join(dim, "k")
    val salted = Skew.saltedJoin(fact, dim, "k", salts = 8)
    assert(salted.columns.toSeq == plain.columns.toSeq)
    assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty)
    // the hot key's rows really do carry several distinct salts
    val spread = fact.withColumn("_salt",
      pmod(xxhash64(fact.columns.map(col).toIndexedSeq: _*), lit(8)))
      .filter($"k" === 7L).select("_salt").distinct().count()
    assert(spread >= 4, s"hot key used only $spread of 8 salts")
    // salted two-level aggregation reproduces the exact integer sums
    val sums = Skew.saltedSum(fact, Seq("k"), "v", salts = 8, resultName = "total")
    val expect = fact.groupBy("k").agg(sum($"v").as("total"))
    assert(sums.except(expect).isEmpty && expect.except(sums).isEmpty)
    // both salted operators reject a pre-existing reserved _salt column
    intercept[IllegalArgumentException] {
      Skew.saltedSum(fact.withColumn("_salt", lit(1)), Seq("k"), "v", salts = 8)
    }
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(fact.withColumn("_salt", lit(1)), dim, "k", salts = 8)
    }
  }

  test("as-of join: at-or-before match, forward fill, null when no state") {
    import spark.implicits._
    val probe = Seq(
      (1L, 10L, ts("2024-07-01T00:05:00Z")), // after state@00:01 → matches it
      (2L, 10L, ts("2024-07-01T00:10:00Z")), // after state@00:10 (equal ts) → matches 00:10
      (3L, 10L, ts("2024-07-01T00:00:30Z")), // before any state → null
      (4L, 99L, ts("2024-07-01T01:00:00Z"))  // keyed user with no state → null
    ).toDF("event_id", "user_id", "ts")
    val build = Seq(
      (10L, ts("2024-07-01T00:01:00Z"), 100L),
      (10L, ts("2024-07-01T00:10:00Z"), 200L)
    ).toDF("user_id", "ts", "v")
    val out = AsOf.join(probe, build, Seq("user_id"), "ts", "ts")
      .select($"event_id", $"asof_v").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(out == Map(1L -> 100L, 2L -> 200L, 3L -> -1L, 4L -> -1L))
  }

  test("as-of join: matched row's null attribute stays null (no stale leak)") {
    import spark.implicits._
    val probe = Seq((1L, 10L, ts("2024-07-01T01:00:00Z"))).toDF("event_id", "user_id", "ts")
    val build = Seq(
      (10L, ts("2024-07-01T00:01:00Z"), Some(100L)),
      (10L, ts("2024-07-01T00:30:00Z"), Option.empty[Long]) // matched row, null v
    ).toDF("user_id", "ts", "v")
    val r = AsOf.join(probe, build, Seq("user_id"), "ts", "ts")
      .select($"asof_ts", $"asof_v").collect()(0)
    // the MATCHED state is the 00:30 row with null v — an older non-null
    // value must not leak through the fill
    assert(r.getTimestamp(0).toInstant == java.time.Instant.parse("2024-07-01T00:30:00Z"))
    assert(r.isNullAt(1))
  }

  test("range join: containment exact across bucket boundaries, no dup pairs") {
    import spark.implicits._
    val points = Seq(
      (1L, ts("2024-07-01T00:30:00Z")), // inside iv A only
      (2L, ts("2024-07-01T01:30:00Z")), // inside A and B (overlap), crosses bucket
      (3L, ts("2024-07-01T02:00:00Z")), // == A's end (exclusive) → B only
      (4L, ts("2024-07-01T05:00:00Z"))  // outside all
    ).toDF("pid", "ts")
    val ivs = Seq(
      ("A", ts("2024-07-01T00:00:00Z"), ts("2024-07-01T02:00:00Z")),
      ("B", ts("2024-07-01T01:00:00Z"), ts("2024-07-01T03:00:00Z"))
    ).toDF("iv", "start_ts", "end_ts")
    val out = RangeJoin.pointInInterval(points, "ts", ivs, "start_ts", "end_ts")
      .select("pid", "iv").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out == Set((1L, "A"), (2L, "A"), (2L, "B"), (3L, "B")))
  }

  test("keyed range join: same time window, different key never pairs") {
    import spark.implicits._
    val points = Seq(
      (1L, 10L, ts("2024-07-01T00:30:00Z")),  // user 10, inside user-10 window
      (2L, 20L, ts("2024-07-01T00:30:00Z")),  // user 20, same instant — no 20-window
      (3L, 10L, ts("2024-07-01T03:30:00Z"))   // user 10, inside user-20 window only
    ).toDF("pid", "user_id", "ts")
    val ivs = Seq(
      (10L, "W1", ts("2024-07-01T00:00:00Z"), ts("2024-07-01T01:00:00Z")),
      (20L, "W2", ts("2024-07-01T03:00:00Z"), ts("2024-07-01T04:00:00Z"))
    ).toDF("user_id", "win", "start_ts", "end_ts")
    val out = RangeJoin.pointInInterval(points, "ts", ivs, "start_ts", "end_ts",
        equiKeys = Seq("user_id"))
      .select("pid", "win").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out == Set((1L, "W1")))
    val e = intercept[IllegalArgumentException] {
      RangeJoin.pointInInterval(points, "ts", ivs, "start_ts", "end_ts",
        equiKeys = Seq("nope"))
    }
    assert(e.getMessage.contains("nope"))
  }

  test("range join rejects degenerate intervals instead of exploding") {
    import spark.implicits._
    val points = Seq((1L, ts("2024-07-01T00:30:00Z"))).toDF("pid", "ts")
    // a two-year interval at the default 1h bucket ≈ 17.5k replicas/row —
    // over the 10k default cap, must abort loudly inside the plan
    val pathological = Seq(
      ("OK", ts("2024-07-01T00:00:00Z"), ts("2024-07-01T02:00:00Z")),
      ("BAD", ts("2024-01-01T00:00:00Z"), ts("2026-01-01T00:00:00Z"))
    ).toDF("iv", "start_ts", "end_ts")
    val err = intercept[Exception] {
      RangeJoin.pointInInterval(points, "ts", pathological, "start_ts", "end_ts").count()
    }
    def chain(t: Throwable) = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
    assert(chain(err).exists(e =>
      Option(e.getMessage).exists(_.contains("maxBucketsPerInterval"))), s"got $err")
    // the same join passes when the caller sizes the cap deliberately
    val ok = RangeJoin.pointInInterval(points, "ts", pathological, "start_ts", "end_ts",
      maxBucketsPerInterval = 20000L)
    assert(ok.select("iv").collect().map(_.getString(0)).toSet == Set("OK", "BAD"))

    // a REVERSED interval must also raise — sequence's default step -1
    // would otherwise silently fan out descending buckets the post-filter
    // discards (the guard's own blind spot until reviewed)
    val reversed = Seq(
      ("REV", ts("2026-01-01T00:00:00Z"), ts("2024-01-01T00:00:00Z"))
    ).toDF("iv", "start_ts", "end_ts")
    val err2 = intercept[Exception] {
      RangeJoin.pointInInterval(points, "ts", reversed, "start_ts", "end_ts").count()
    }
    assert(chain(err2).exists(e =>
      Option(e.getMessage).exists(_.contains("reversed interval"))), s"got $err2")

    // a NULL endpoint is DATA (open-ended row), not an error: it simply
    // contributes no pairs — the pre-guard semantics, preserved
    val withNull = Seq(
      ("OK", Some(ts("2024-07-01T00:00:00Z")), Some(ts("2024-07-01T02:00:00Z"))),
      ("OPEN", Some(ts("2024-07-01T00:00:00Z")), None)
    ).toDF("iv", "start_ts", "end_ts")
    val got = RangeJoin.pointInInterval(points, "ts", withNull, "start_ts", "end_ts")
      .select("iv").collect().map(_.getString(0)).toSet
    assert(got == Set("OK"), s"null-endpoint row must drop silently: $got")
  }

  test("as-of and range joins reject reserved/colliding column names") {
    import spark.implicits._
    val probe = Seq((1L, 10L, ts("2024-07-01T00:05:00Z"), 7L))
      .toDF("event_id", "user_id", "ts", "asof_v") // collides with output asof_v
    val build = Seq((10L, ts("2024-07-01T00:01:00Z"), 100L)).toDF("user_id", "ts", "v")
    val e1 = intercept[IllegalArgumentException] {
      AsOf.join(probe, build, Seq("user_id"), "ts", "ts")
    }
    assert(e1.getMessage.contains("asof_v"))
    val points = Seq((1L, ts("2024-07-01T00:30:00Z"), 0L)).toDF("pid", "ts", "_b")
    val ivs = Seq(("A", ts("2024-07-01T00:00:00Z"), ts("2024-07-01T02:00:00Z")))
      .toDF("iv", "start_ts", "end_ts")
    val e2 = intercept[IllegalArgumentException] {
      RangeJoin.pointInInterval(points, "ts", ivs, "start_ts", "end_ts")
    }
    assert(e2.getMessage.contains("_b"))
    // checks follow the resolver: under default case-insensitive analysis
    // a differently-cased spelling still collides / still resolves
    val probeUpper = Seq((1L, 10L, ts("2024-07-01T00:05:00Z"), 7L))
      .toDF("event_id", "user_id", "ts", "ASOF_V")
    val e3 = intercept[IllegalArgumentException] {
      AsOf.join(probeUpper, build, Seq("user_id"), "ts", "ts")
    }
    assert(e3.getMessage.contains("ASOF_V"))
    val pointsUpperB = Seq((1L, ts("2024-07-01T00:30:00Z"), 0L)).toDF("pid", "ts", "_B")
    val e4 = intercept[IllegalArgumentException] {
      RangeJoin.pointInInterval(pointsUpperB, "ts", ivs, "start_ts", "end_ts")
    }
    assert(e4.getMessage.contains("_b"))
  }

  private def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))

  test("langid picks the language whose stopwords dominate") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat and the dog of a house"),
      (2L, "el perro y la casa de que si"),
      (3L, "le chat et les maisons des villes"),
      (4L, "der hund und das haus ist hier"),
      (5L, "xyzzy plugh")).toDF("doc_id", "text")
    val out = df.select($"doc_id", Text.langId($"text").as("l")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "en", 2L -> "es", 3L -> "fr", 4L -> "de", 5L -> "unknown"))
  }

  test("rolling_hash is stable and order-sensitive") {
    import spark.implicits._
    val out = Seq(Tuple1("ab"), Tuple1("ba"), Tuple1("ab")).toDF("text")
      .select(HashFunctions.rolling_hash($"text")).collect().map(_.getLong(0))
    assert(out(0) == out(2))
    assert(out(0) != out(1))
    assert(out(0) == (((7L * 31 + 'a') % 2147483647L) * 31 + 'b') % 2147483647L)
  }

  test("SQL-registered custom functions match the Column API") {
    import spark.implicits._
    org.apache.spark.sql.graft.exprs.register(spark)
    Seq(Tuple1("the quick brown fox")).toDF("text").createOrReplaceTempView("sqlfn_t")
    val r = spark.sql(
      """SELECT rolling_hash(text) AS h,
        |  shingles(split(text, ' '), 2) AS sh,
        |  minhash(split(text, ' '), 4, 1)[0] AS m,
        |  simhash64(split(text, ' ')) AS f,
        |  srp_sig(array(1.0d, -2.0d, 0.5d), 8) AS p,
        |  cosine_sim(array(3.0d, 4.0d), array(3.0d, 4.0d)) AS c
        |FROM sqlfn_t""".stripMargin).collect()(0)
    val viaCol = Seq(Tuple1("the quick brown fox")).toDF("text")
      .select(HashFunctions.rolling_hash($"text")).collect()(0).getLong(0)
    assert(r.getAs[Long]("h") == viaCol)
    assert(r.getSeq[String](1) == Seq("the quick", "quick brown", "brown fox"))
    assert(r.getAs[Double]("c") == 1.0)
  }

  test("multimodal: resize hits the target byte budget deterministically") {
    val media = Multimodal.synthesize(docs, "doc_id", "text")
    val small = Multimodal.resize(media, 32, 32).collect()
    assert(small.forall(_.payload.length == 32 * 32 / 64))
    val again = Multimodal.resize(media, 32, 32).collect()
    assert(small.map(_.payload.toSeq).toSeq == again.map(_.payload.toSeq).toSeq)
  }

  test("multimodal: frame sampling yields nFrames strided windows") {
    val media = Multimodal.synthesize(docs, "doc_id", "text")
    val frames = Multimodal.sampleFrames(media, nFrames = 3, frameBytes = 16)
    assert(frames.count() == docs.count() * 3)
    val f0 = frames.filter(_.media_id == 0L).collect().sortBy(_.frame_no)
    assert(f0.map(_.frame_no).toSeq == Seq(0, 1, 2))
    assert(f0.forall(_.payload.length == 16)) // doc 0 is 128 bytes, all full
  }

  test("multimodal: Y4M synthesize → decode round-trips the planted arithmetic") {
    val media = Multimodal.synthesizeY4m(docs, "doc_id")
    val feats = Multimodal.decodeFeatures(media, Multimodal.Y4mDecoder)
      .collect().sortBy(_.media_id)
    assert(feats.length == docs.count())
    for (f <- feats) {
      val id = f.media_id
      assert(f.width == (2 * (1 + id % 8)).toInt, s"width for $id")
      assert(f.height == (2 * (1 + id % 6)).toInt, s"height for $id")
      assert(f.feature(0) == (2 + id % 5).toFloat, s"frames for $id")
      assert(f.feature(1) == (16 + (id * 31) % 220).toFloat, s"first luma for $id")
      assert(f.feature(2) == (16 + (id * 31 + (1 + id % 5) * 7) % 220).toFloat,
        s"last luma for $id")
    }
  }

  test("multimodal: Y4M frame sampling decodes evenly-strided real frames") {
    val media = Multimodal.synthesizeY4m(docs, "doc_id")
    val frames = Multimodal.sampleVideoFrames(media, nFrames = 3)
      .collect().sortBy(f => (f.media_id, f.frame_no))
    assert(frames.length == docs.count() * 3)
    for (f <- frames) {
      val nTotal = 2 + f.media_id % 5
      val expectIdx = (f.frame_no * (nTotal - 1) / 2).toInt
      assert(f.frame_idx == expectIdx, s"stride for ${f.media_id}/${f.frame_no}")
      assert(f.mean_luma == (16 + (f.media_id * 31 + expectIdx * 7) % 220).toFloat,
        s"luma for ${f.media_id}/${f.frame_no}")
    }
  }

  test("multimodal: Y4M parser signals, never throws, on junk payloads") {
    for (junk <- Seq(null, Array.empty[Byte], "not a y4m".getBytes,
        "YUV4MPEG2 W4 H4 C420jpeg\nFRAME\nxx".getBytes, // truncated frame
        "YUV4MPEG2 W3 H3 C420jpeg\nFRAME\n".getBytes)) { // odd dims for 4:2:0
      val (w, h, feat) = Multimodal.Y4mDecoder.decode(junk, "video/x-yuv4mpeg")
      assert(w == -1 && h == -1 && feat.isEmpty)
    }
  }

  test("multimodal: unsupported mimes fail loudly, never fabricate features") {
    val ex = intercept[IllegalArgumentException](Multimodal.decoderFor("application/x-fake"))
    assert(ex.getMessage.contains("no decoder for mime"))
    val media = Multimodal.synthesize(docs, "doc_id", "text") // mime application/x-fake
    val err = intercept[Exception](Multimodal.decodeFeatures(media).collect())
    def rootChain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(rootChain(err).exists(_.isInstanceOf[IllegalArgumentException]))
  }

  test("multimodal: WAV synthesize → decode round-trips the planted arithmetic") {
    val media = Multimodal.synthesizeWav(docs, "doc_id")
    val feats = Multimodal.decodeFeatures(media, Multimodal.WavDecoder)
      .collect().sortBy(_.media_id)
    assert(feats.length == docs.count())
    for (f <- feats) {
      val id = f.media_id
      assert(f.width == (8000 + 4000 * (id % 3)).toInt, s"rate for $id")
      assert(f.height == 1, s"channels for $id")
      assert(f.feature(0) == (100 + id % 400).toFloat, s"frames for $id")
      assert(f.feature(1) == (id % 30000).toFloat, s"mean amp for $id")
      assert(f.feature(2) == (id % 30000).toFloat, s"peak amp for $id")
    }
  }

  test("multimodal: stereo WAV mean is per sample, not channel-inflated") {
    // L=1000, R=3000 on every frame: mean abs over SAMPLES is 2000; the
    // frame-count divisor bug would report 4000
    val nFrames = 64
    val pcm = new Array[Byte](nFrames * 4) // 2ch × 16-bit LE
    for (i <- 0 until nFrames; (amp, ch) <- Seq((1000, 0), (3000, 1))) {
      pcm(4 * i + 2 * ch) = (amp & 0xFF).toByte
      pcm(4 * i + 2 * ch + 1) = ((amp >> 8) & 0xFF).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 2, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val (rate, channels, feat) = Multimodal.WavDecoder.decode(bos.toByteArray, "audio/wav")
    assert(rate == 8000 && channels == 2)
    assert(feat(0) == nFrames.toFloat)
    assert(feat(1) == 2000f, s"mean abs per sample, got ${feat(1)}")
    assert(feat(2) == 3000f)
  }

  test("multimodal: WAV decoder signals, never throws, on junk payloads") {
    for (junk <- Seq(null, Array.empty[Byte], Array[Byte](1, 2, 3),
        "RIFFxxxxWAVEfmt garbage".getBytes)) {
      val (w, h, feat) = Multimodal.WavDecoder.decode(junk, "audio/wav")
      assert(w == -1 && h == -1 && feat.isEmpty)
    }
  }
}
