package graft.queries

import graft.functions.{HashFunctions, Redact, Text, Web}
import graft.operators.{AsOf, Chunking, Clustering, Dedup, Frequency, Indexing, Layout, Multimodal, Packing, PageRank, RangeJoin, Sampling, Scoring, Similarity, Upsert}

import org.apache.spark.sql.functions._

/** Training-data pipeline operators as verifiable queries (SURVEY.md §2B
  * "extensions" row + the builder brief): deduplication (exact, n-gram
  * Jaccard, MinHash+LSH, SimHash), embedding similarity search, text
  * analysis (language-ID, quality, token counts, fingerprints), multimodal
  * binary plumbing, and a lake-codec round-trip.
  *
  * Oracle notes: the DuckDB SQL is generated from the same Scala constants
  * (stopword lists, shingle size, thresholds) as the Spark plan, so the two
  * sides cannot drift. Ratio-valued outputs are integer milli-units
  * (floor(x*1000+0.5)) — exact cross-engine comparison, no float rounding
  * hazard. Approximate operators (SimHash pairs, SRP-LSH ANN) get rows-only
  * checks; their exact counterparts (Jaccard pairs, brute-force ANN) are
  * the oracle-checked ground truth, and MinHash is verified against the
  * EXACT Jaccard oracle — its banded recall at the 0.8 threshold leaves
  * P[miss] ≈ 5e-8, so agreement is expected, not hoped for.
  */
object Pipeline {
  import Tables.t
  import Fixtures.{EventsVc, eventsVc, freshDir, freshLake, lakeCatalog, slot}

  private val ShingleN = 3
  private val JaccardThreshold = 0.8

  /** Order-insensitive multiset signature of a DataFrame — (row count,
    * sum of per-row xxhash64, xor of per-row xxhash64) — the CHEAP
    * stream≡batch equality gate for the metered streaming queries.
    * Round 17: the old two-direction `exceptAll` gate cost two full
    * hash-aggregate shuffles per side and DOMINATED l23/l27's task_ms
    * meter (~13 s of a 16 s total), so the scale-claim meter was
    * measuring the gate, not the stream. Two single-pass scans with a
    * 3-value aggregate pin the same multiset equality (collision odds
    * ~2⁻⁶⁴ per pair — and the CORRECTNESS oracle still compares the
    * query's real output value-exactly; this gate only guards the
    * in-bench drain). */
  private def multisetSig(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.Row =
    // per-column null indicators ride along in the hash input (r16 ADVICE):
    // xxhash64 SKIPS null arguments (a null leaves the accumulator
    // unchanged), so without them (a,null,c) and (null,a,c) over same-typed
    // columns would collide and two genuinely different frames could pass
    // the gate. The isNull bytes make every column occupy a position.
    df.select(xxhash64((df.columns.map(col) ++
        df.columns.map(c => col(c).isNull)).toSeq: _*).as("__h"))
      .agg(count(lit(1)).as("n"),
        // decimal(38,0) sum: 2⁶³-magnitude terms never overflow it at
        // any realistic row count (ANSI mode makes a long sum throw)
        sum(col("__h").cast("decimal(38,0)")).as("hsum"),
        expr("bit_xor(__h)").as("hxor")).head()

  /** Tear `dataKey`'s zone-map sidecar to a valid PREFIX of itself — the
    * l11/l12 fault fixture (what a hard-killed writer or a ranged-GET
    * cutoff leaves), one definition so "torn" means the same bytes
    * wherever the contract is pinned. */
  private def tearSidecar(store: graft.lake.Store, dataKey: String): Unit = {
    val zk = graft.lake.ZoneMaps.statsKey(dataKey)
    val whole = {
      val in = store.open(zk)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    val out = store.create(zk)
    try out.write(whole.take(whole.length / 2).getBytes("UTF-8")) finally out.close()
  }

  /** t09's "trained" linear model: 64 hashed-feature milli-weights in
    * [-1000, 1000], generated by one fixed multiplicative-hash formula so
    * the Spark literal array and the oracle's SQL list are the SAME
    * constants (a real deployment would paste exported fastText weights
    * here; the plumbing under test is identical). */
  private[queries] val QualityWeightsMilli: Seq[Long] =
    (0 until 64).map(i => (i * 2654435761L) % 2001L - 1000L)

  /** t09/p05's oracle-side score: the identical hashed-feature dot product
    * in DuckDB terms, generated from the same weight constants. */
  private def sqlScoreMilli: String =
    s"""50 + CAST(coalesce(list_sum(list_transform($sqlTokens,
       |    t -> list_extract([${QualityWeightsMilli.mkString(", ")}],
       |      CAST(list_reduce(
       |        list_prepend(7::BIGINT, list_transform(string_split(t, ''), c -> ord(c)::BIGINT)),
       |        (acc, c) -> (acc * 31 + c) % 2147483647) % ${QualityWeightsMilli.size} AS INT) + 1))), 0) AS BIGINT)""".stripMargin
  /** Stop-shingle cap for the registered d02: shingles shared by more docs
    * than this are dropped from the Jaccard universe (posting lists longer
    * than the cap contribute O(len²) candidate pairs for near-zero signal —
    * the standard exact-dedup scale guard). Mirrored in the oracle SQL. */
  private val MaxShingleFreq = 1000

  /** Tokenizer in DuckDB terms — must mirror [[Text.tokens]]. The
    * whitespace class is EXPLICIT, not `\s`: Java (Spark's regex engine)
    * counts vertical tab in `\s`, RE2 (DuckDB's) does not — the same
    * dialect trap [[Dedup.exactNormalized]] documents. */
  private val sqlTokens =
    """list_filter(string_split_regex(lower(text), '[ \t\n\x0B\f\r]+'), x -> len(x) > 0)"""

  /** Case-preserving twin of [[sqlTokens]] (same split, no lower) —
    * mirrors the reassembly tokens of [[Dedup.scrubDupPassages]]. */
  private val sqlTokensRaw =
    """list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), x -> len(x) > 0)"""

  /** CTE chain computing per-document SimHash fingerprints, mirroring
    * [[graft.functions.HashImpls.simHash64]] bit-for-bit: per token, two
    * rolling-hash lanes (seeds 7 and 13, the t04 recurrence) packed as
    * `lane7 | lane13 << 31`; per bit 0..61, a ±1 vote per token INSTANCE
    * (unnest keeps duplicates); fingerprint = the sign bits. Terminal CTE:
    * `fp(doc_id, simhash)` — every document, tokenless docs at 0.
    * DuckDB's sum(BIGINT) is HUGEINT, hence the final CAST. */
  private val simhashCtes = {
    def lane(seed: Int) =
      s"""list_reduce(
         |      list_prepend($seed::BIGINT, list_transform(string_split(tok, ''), c -> ord(c)::BIGINT)),
         |      (acc, c) -> (acc * 31 + c) % 2147483647)""".stripMargin
    // lane7 + (lane13 << 31) == lane7 | (lane13 << 31): the lanes occupy
    // disjoint bits. `+` rather than `|` because this fragment passes
    // through the embedding query's stripMargin, which would eat a
    // line-leading `|` as a margin marker.
    s"""toks AS (SELECT doc_id, unnest($sqlTokens) AS tok FROM documents),
       |th AS (SELECT doc_id, ${lane(7)}
       |    + (${lane(13)} << 31) AS h
       |  FROM toks),
       |votes AS (
       |  SELECT doc_id, b,
       |    CASE WHEN sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) > 0
       |      THEN 1::BIGINT << b ELSE 0::BIGINT END AS bitval
       |  FROM th, (SELECT unnest(range(0, 62)) AS b) bs
       |  GROUP BY doc_id, b),
       |fp AS (
       |  SELECT d.doc_id, COALESCE(v.simhash, 0) AS simhash
       |  FROM documents d LEFT JOIN (
       |    SELECT doc_id, CAST(sum(bitval) AS BIGINT) AS simhash
       |    FROM votes GROUP BY doc_id) v USING (doc_id))""".stripMargin
  }

  /** CTE chain computing capped-universe Jaccard pairs ≥ threshold from a
    * `(doc_id, text)` source relation `src` (mirrors [[Dedup.jaccardPairs]]'
    * semantics — the prefix-filter plan computes the identical result set).
    * Terminal CTE: `jpairs(a_id, b_id, jaccard_milli)`. */
  private def jaccardCtes(cap: Int, src: String): String = {
    val posting =
      if (cap > 0)
        s"""posting AS (
           |  SELECT doc_id, sh FROM sh
           |  WHERE sh NOT IN (SELECT sh FROM sh GROUP BY sh HAVING count(*) > $cap)),""".stripMargin
      else "posting AS (SELECT doc_id, sh FROM sh),"
    s"""toks AS (
       |  SELECT doc_id, $sqlTokens AS w FROM $src),
       |sh AS (
       |  SELECT DISTINCT doc_id, array_to_string(w[i:i+${ShingleN - 1}], ' ') AS sh
       |  FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(w) - ${ShingleN - 1}, 0) + 1)) AS i) g),
       |$posting
       |sizes AS (SELECT doc_id, count(*) AS sz FROM posting GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
       |  FROM posting a JOIN posting b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |jpairs AS (
       |  SELECT a_id, b_id,
       |    CAST(floor(inter * 1000.0 / (sa.sz + sb.sz - inter) + 0.5) AS BIGINT) AS jaccard_milli
       |  FROM pairs
       |  JOIN sizes sa ON sa.doc_id = a_id
       |  JOIN sizes sb ON sb.doc_id = b_id
       |  WHERE floor(inter * 1000.0 / (sa.sz + sb.sz - inter) + 0.5) >= ${(JaccardThreshold * 1000).toInt})""".stripMargin
  }

  /** Recursive-CTE chain computing per-document wordpiece counts,
    * mirroring [[graft.functions.WordpieceMatcher]]'s greedy walk exactly
    * (longest matching vocab piece, else one code point of fallback).
    * Terminal CTE: `wp(doc_id, n_pieces, n_fallback)` — tokenless
    * documents are absent (callers LEFT JOIN + coalesce). Must appear
    * after `WITH RECURSIVE`. Shared by t13 (counts) and p08 (packing by
    * exact subword budget). */
  private val subwordCtes =
    s"""toks AS (SELECT doc_id, $sqlTokens AS w FROM documents),
       |words AS (SELECT doc_id, i, w[i] AS word
       |  FROM toks, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i) g),
       |vocab(piece) AS (VALUES ${Text.SubwordVocab.map(p => s"('$p')").mkString(", ")}),
       |split AS (
       |  SELECT doc_id, i, word AS rem, 0::BIGINT AS pieces, 0::BIGINT AS fallback
       |  FROM words
       |  UNION ALL
       |  SELECT doc_id, i,
       |    substr(rem, length(coalesce(best, substr(rem, 1, 1))) + 1),
       |    pieces + CASE WHEN best IS NOT NULL THEN 1 ELSE 0 END,
       |    fallback + CASE WHEN best IS NULL THEN 1 ELSE 0 END
       |  FROM split, LATERAL (SELECT (SELECT piece FROM vocab
       |      WHERE starts_with(rem, piece)
       |      ORDER BY length(piece) DESC, piece LIMIT 1) AS best) b
       |  WHERE rem <> ''),
       |wp AS (SELECT doc_id, CAST(sum(pieces) AS BIGINT) AS n_pieces,
       |    CAST(sum(fallback) AS BIGINT) AS n_fallback
       |  FROM split WHERE rem = '' GROUP BY doc_id)""".stripMargin

  /** Fixed iteration count for g01 — mirrored in [[linkRankOracle]]. */
  private val LinkRankIters = 10

  /** PageRank oracle: the identical power iteration UNROLLED as chained
    * CTEs (standard SQL forbids aggregates in a recursive term, and an
    * unrolled chain is also easier to audit). Every float literal is cast
    * ::DOUBLE — DuckDB otherwise computes 0.15/cnt in DECIMAL arithmetic,
    * which rounds differently from the engine's double math. */
  private def linkRankOracle: String = {
    val iters = (1 to LinkRankIters).map { i =>
      s"""pr$i AS (
         |  SELECT d.doc_id AS id,
         |    0.15::DOUBLE / (SELECT cnt FROM n) + 0.85::DOUBLE * coalesce(s.inflow, 0) AS pr
         |  FROM documents d LEFT JOIN (
         |    SELECT e.dst AS id2, sum(p.pr / e.outdeg) AS inflow
         |    FROM edges e JOIN pr${i - 1} p ON p.id = e.src GROUP BY e.dst) s
         |  ON s.id2 = d.doc_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH n AS (SELECT count(*) AS cnt FROM documents),
       |edges AS (
       |  SELECT doc_id AS src, (doc_id * 7 + 1) % cnt AS dst, 3 AS outdeg FROM documents, n
       |  UNION ALL SELECT doc_id, (doc_id * 13 + 5) % cnt, 3 FROM documents, n
       |  UNION ALL SELECT doc_id, (doc_id * 31 + 11) % cnt, 3 FROM documents, n),
       |pr0 AS (SELECT doc_id AS id, 1.0::DOUBLE / cnt AS pr FROM documents, n),
       |$iters
       |SELECT id AS doc_id, CAST(floor(pr * 1000000 + 0.5) AS BIGINT) AS rank_micro
       |FROM pr$LinkRankIters ORDER BY doc_id""".stripMargin
  }

  private def jaccardOracle(cap: Int): String =
    s"""WITH ${jaccardCtes(cap, "documents")}
       |SELECT a_id, b_id, jaccard_milli FROM jpairs ORDER BY a_id, b_id""".stripMargin

  /** Near-dup cosine threshold for d08/d09 (milli-units in the output). */
  private val CosineThreshold = 0.95

  /** Embeddings corpus with planted near-dups: perturbed copies (second
    * half of the vector scaled ×1.05) of the first 50 vectors, ids offset
    * by 1,000,000. Mirrored exactly by [[cosinePairOracle]]'s CTE. */
  private def plantedEmbeddings(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val base = t(s, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("embedding"))
    val planted = base.filter(col("vec_id") < 50)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        concat(slice(col("embedding"), 1, 32),
          transform(slice(col("embedding"), 33, 32), x => x * 1.05)).as("embedding"))
    base.unionByName(planted)
  }

  /** Exact near-dup pair SQL over the same planted corpus (mirrors
    * [[Similarity.cosinePairs]] on [[plantedEmbeddings]]). */
  private val cosinePairOracle: String =
    s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |planted AS (
       |  SELECT vec_id + 1000000 AS vec_id,
       |    list_concat(emb[1:32], list_transform(emb[33:64], x -> x * 1.05)) AS emb
       |  FROM base WHERE vec_id < 50),
       |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
       |p AS (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |    list_cosine_similarity(a.emb, b.emb) AS c
       |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id)
       |SELECT a_id, b_id, CAST(floor(c * 1000 + 0.5) AS BIGINT) AS cos_milli
       |FROM p WHERE floor(c * 1000 + 0.5) >= ${(CosineThreshold * 1000).toInt}
       |ORDER BY a_id, b_id""".stripMargin

  /** ANN corpus with PLANTED ground truth (the d08/d09 pattern applied to
    * top-k): for each query vector (vec_id < 10), five perturbed copies at
    * ids 2000000 + vec_id·10 + j (j = 0..4), second half scaled by
    * 1 + 0.01·(j+1). Copy cosines land at ≈ 0.9997+ while the fixture's max
    * natural pairwise cosine is ≈ 0.51, so each query's TRUE top-5 is
    * exactly its five copies, in scale-factor order — known by
    * construction. The approximate paths must recall them: SRP at 12
    * bands × 4 bits leaves P[miss] ≈ 1e-15 per copy at cosine 0.9988;
    * IVF assigns a copy to its source's own cell (the source IS a centroid
    * — ids 0..31 seed the quantizer), which is the query's first probe.
    * The factor arithmetic (1.0 + (j+1)·0.01, then x·f) is IEEE double on
    * both engines, so the planted vectors are bit-identical. */
  private def annPlantedEmbeddings(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val base = t(s, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("embedding"))
    val planted = base.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"),
        explode(sequence(lit(0L), lit(4L))).as("j"))
      .select((col("vec_id") * 10 + col("j") + 2000000L).as("vec_id"),
        concat(slice(col("embedding"), 1, 32),
          transform(slice(col("embedding"), 33, 32),
            x => x * (lit(1.0) + (col("j") + 1).cast("double") * lit(0.01))))
          .as("embedding"))
    base.unionByName(planted)
  }

  /** Exact top-5 SQL over the same planted ANN corpus (mirrors
    * [[Similarity.bruteForceTopK]] on [[annPlantedEmbeddings]]) — the
    * ground-truth oracle d07 (SRP) and d10 (IVF) are held to. */
  private val annTopKOracle: String =
    """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |planted AS (
      |  SELECT b.vec_id * 10 + g.j + 2000000 AS vec_id,
      |    list_concat(b.emb[1:32],
      |      list_transform(b.emb[33:64], x -> x * (1.0 + (g.j + 1) * 0.01))) AS emb
      |  FROM (SELECT * FROM base WHERE vec_id < 10) b,
      |  LATERAL (SELECT unnest(range(0, 5)) AS j) g),
      |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
      |q AS (SELECT vec_id AS query_id, emb AS qe FROM base WHERE vec_id < 10),
      |s AS (SELECT query_id, c.vec_id AS neighbor_id,
      |        list_cosine_similarity(qe, c.emb) AS cosine
      |      FROM q, corpus c WHERE query_id <> c.vec_id),
      |r AS (SELECT query_id, neighbor_id, cosine,
      |        row_number() OVER (PARTITION BY query_id
      |                           ORDER BY cosine DESC, neighbor_id) AS rank
      |      FROM s)
      |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
      |  round(cosine, 6) AS cosine
      |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Stopword-hit expression in DuckDB terms — mirrors [[Text.stopwordHits]]. */
  private def sqlHits(words: Seq[String]): String =
    words.map(w => s"CAST(((' ' || lower(text) || ' ') LIKE '% $w %') AS BIGINT)").mkString(" + ")

  /** Language-ID CASE expression in DuckDB terms — mirrors [[Text.langId]]
    * (max stopword score wins, ties to the earlier language, no hits →
    * 'unknown'). Shared by t02 and the curation pipeline. */
  private def langCaseSql: String = {
    val scores = Text.StopwordSets.map { case (lang, ws) => lang -> s"(${sqlHits(ws)})" }
    val Seq((l1, s1), (l2, s2), (l3, s3), (l4, s4)) = scores
    s"""CASE WHEN text IS NULL THEN 'unknown'
       |     WHEN $s1 = 0 AND $s2 = 0 AND $s3 = 0 AND $s4 = 0 THEN 'unknown'
       |     WHEN $s1 >= $s2 AND $s1 >= $s3 AND $s1 >= $s4 THEN '$l1'
       |     WHEN $s2 >= $s3 AND $s2 >= $s4 THEN '$l2'
       |     WHEN $s3 >= $s4 THEN '$l3'
       |     ELSE '$l4' END""".stripMargin
  }

  /** Alpha-ratio (milli) expression in DuckDB terms — mirrors
    * [[Text.qualityColumns]]'s `alpha_ratio_milli`. */
  private val alphaMilliSql: String =
    """CASE WHEN length(text) > 0
      |  THEN CAST(floor(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1000.0 / length(text) + 0.5) AS BIGINT)
      |  ELSE 0 END""".stripMargin

  /** Oracle for the end-to-end curation pipeline (quality → language →
    * exact dedup → near-dup removal), each stage mirroring its Spark
    * operator. */
  private def curationOracle: String =
    s"""WITH quality AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE CAST(len($sqlTokens) AS BIGINT) >= 10
       |    AND ($alphaMilliSql) >= 500
       |    AND ($langCaseSql) = 'en'),
       |keep AS (SELECT min(doc_id) AS doc_id FROM quality GROUP BY md5(text)),
       |kept AS (SELECT doc_id, text FROM quality WHERE doc_id IN (SELECT doc_id FROM keep)),
       |${jaccardCtes(0, "kept")},
       |nd AS (SELECT DISTINCT b_id AS doc_id FROM jpairs)
       |SELECT doc_id FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM nd)
       |ORDER BY doc_id""".stripMargin

  /** d19/d20's planted line structure (Spark side; the oracle CTE below is
    * the same construction in DuckDB terms — both engines concat_ws-skip
    * the NULL fourth line). */
  private def plantedLines(s: org.apache.spark.sql.SparkSession, dir: String) =
    t(s, dir, "documents").select(col("doc_id"),
      concat_ws("\n", col("text"),
        when(pmod(col("doc_id"), lit(5)) === 0, lit("subscribe to our newsletter"))
          .otherwise(concat(lit("footer "), col("doc_id").cast("string"))),
        when(pmod(col("doc_id"), lit(3)) === 0, lit("all rights reserved 2026"))
          .otherwise(concat(lit("sig "), col("doc_id").cast("string"))),
        when(pmod(col("doc_id"), lit(7)) === 0, col("text"))).as("text"))

  private val plantedLinesSql: String =
    """planted AS (
      |  SELECT doc_id, concat_ws(chr(10), text,
      |    CASE WHEN doc_id % 5 = 0 THEN 'subscribe to our newsletter'
      |         ELSE 'footer ' || CAST(doc_id AS VARCHAR) END,
      |    CASE WHEN doc_id % 3 = 0 THEN 'all rights reserved 2026'
      |         ELSE 'sig ' || CAST(doc_id AS VARCHAR) END,
      |    CASE WHEN doc_id % 7 = 0 THEN text END) AS text
      |  FROM documents)""".stripMargin

  private val splitLinesSql: String =
    """split AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM planted),
      |lines AS (
      |  SELECT doc_id, ls[i] AS line, i AS pos
      |  FROM split, LATERAL (SELECT unnest(range(1, len(ls) + 1)) AS i) g)""".stripMargin

  /** Shared oracle tail: ordered reassembly + kept/dropped counts over a
    * `kept` CTE, keeping zero-survivor docs with empty text (mirrors
    * [[Dedup.reassembleLines]]'s left join + coalesce). */
  private val reassembleLinesSql: String =
    """totals AS (SELECT doc_id, count(*) AS lines_total FROM lines GROUP BY doc_id),
      |reasm AS (
      |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
      |         count(*) AS lines_kept
      |  FROM kept GROUP BY doc_id)
      |SELECT t.doc_id, coalesce(r.clean_text, '') AS clean_text,
      |  coalesce(r.lines_kept, 0) AS lines_kept,
      |  t.lines_total - coalesce(r.lines_kept, 0) AS lines_dropped
      |FROM totals t LEFT JOIN reasm r ON t.doc_id = r.doc_id
      |ORDER BY t.doc_id""".stripMargin

  def defs: Map[String, QueryDef] = Map(

    // ------------------------------------------------------------- dedup
    "d01_dedup_exact" -> QueryDef(
      (s, dir) => Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("content_hash"),
      Some("""SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
             |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin)),

    "d12_dedup_normalized" -> QueryDef(
      (s, dir) => Dedup.exactNormalized(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("content_hash"),
      Some("""SELECT md5(regexp_replace(trim(lower(text)), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS content_hash,
             |  min(doc_id) AS keep_id, count(*) AS n_copies
             |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin)),

    "d02_jaccard_pairs" -> QueryDef(
      (s, dir) => Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        ShingleN, JaccardThreshold, MaxShingleFreq).orderBy("a_id", "b_id"),
      Some(jaccardOracle(MaxShingleFreq))),

    // MinHash+LSH candidates verified with exact Jaccard — checked against
    // the exact (uncapped) oracle (recall argument in the header).
    "d03_minhash_pairs" -> QueryDef(
      (s, dir) => Dedup.minhashPairs(t(s, dir, "documents"), "doc_id", "text",
        ShingleN, JaccardThreshold).orderBy("a_id", "b_id"),
      Some(jaccardOracle(0))),

    // SimHash is hash-exact since round 8: the per-token hash is two
    // rolling-hash lanes (seeds 7/13 — the t04 recurrence), so the DuckDB
    // oracle reproduces the full bit-majority fold in plain SQL.
    "d04_simhash" -> QueryDef(
      (s, dir) => Dedup.simhash(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("id"),
      Some(s"""WITH $simhashCtes
              |SELECT doc_id AS id, simhash FROM fp ORDER BY id""".stripMargin)),

    // The banded-LSH candidate step is EXACT for maxHamming ≤ 3 with 4
    // 16-bit bands (pigeonhole: ≤3 flipped bits can't touch all 4 bands),
    // so the oracle computes the same result set directly: all pairs at
    // Hamming distance ≤ 3.
    "d05_simhash_pairs" -> QueryDef(
      (s, dir) => Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", 3)
        .orderBy("a_id", "b_id"),
      Some(s"""WITH $simhashCtes
              |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
              |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
              |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
              |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
              |ORDER BY a_id, b_id""".stripMargin)),

    // Incremental dedup: the steady-state pipeline shape — a new batch
    // (every 5th doc) screened against the already-deduplicated corpus
    // (the rest) plus its own earlier arrivals, without any corpus
    // self-join. LSH + exact verify on the Spark side; the oracle computes
    // the exact cross-relation Jaccard directly (d03's recall argument
    // makes agreement expected, not hoped for).
    "d16_dedup_incremental" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
        Dedup.incremental(batch, corpus, "doc_id", "text",
          ShingleN, JaccardThreshold).orderBy("doc_id")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $sqlTokens AS w FROM documents),
              |sh AS (
              |  SELECT DISTINCT doc_id, array_to_string(w[i:i+${ShingleN - 1}], ' ') AS sh
              |  FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(w) - ${ShingleN - 1}, 0) + 1)) AS i) g),
              |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
              |pairs AS (
              |  SELECT b.doc_id AS b_id, o.doc_id AS o_id, count(*) AS inter
              |  FROM sh b JOIN sh o ON b.sh = o.sh
              |  WHERE b.doc_id % 5 = 0 AND b.doc_id <> o.doc_id
              |    AND (o.doc_id % 5 <> 0 OR o.doc_id < b.doc_id)
              |  GROUP BY 1, 2),
              |dropped AS (
              |  SELECT DISTINCT b_id FROM pairs
              |  JOIN sizes sb ON sb.doc_id = b_id
              |  JOIN sizes so ON so.doc_id = o_id
              |  WHERE floor(inter * 1000.0 / (sb.sz + so.sz - inter) + 0.5)
              |    >= ${(JaccardThreshold * 1000).toInt})
              |SELECT doc_id FROM documents
              |WHERE doc_id % 5 = 0 AND doc_id NOT IN (SELECT b_id FROM dropped)
              |ORDER BY doc_id""".stripMargin)),

    // Bloom-prefiltered incremental EXACT dedup (the "same page crawled
    // again" steady state, d16's exact sibling). Built on Spark's native
    // BloomFilterAggregate / BloomFilterMightContain — distributed build,
    // codegen'd probe, no UDF. The fixture has no cross-doc exact dups, so
    // duplicates are PLANTED: the corpus additionally carries re-id'd
    // copies of every 15th doc's text (t06's planted-ground-truth pattern)
    // — those batch docs must drop, everything else survives. Bloom false
    // positives can't affect the result (every hit is exact-verified), so
    // the oracle is plain exact SQL.
    "d17_dedup_bloom" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
          .select(col("doc_id"), col("text"))
          .unionByName(docs.filter(pmod(col("doc_id"), lit(15)) === 0)
            .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
        Dedup.exactIncremental(batch, corpus, "doc_id", "text",
          expectedItems = 100000L).orderBy("doc_id")
      },
      Some("""WITH corpus AS (
             |  SELECT text FROM documents WHERE doc_id % 5 <> 0
             |  UNION ALL SELECT text FROM documents WHERE doc_id % 15 = 0),
             |batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
             |survivors AS (
             |  SELECT doc_id, md5(text) AS h FROM batch
             |  WHERE md5(text) NOT IN (SELECT md5(text) FROM corpus))
             |SELECT min(doc_id) AS doc_id FROM survivors GROUP BY h
             |ORDER BY doc_id""".stripMargin)),

    // Structural (sub-document) dedup. The fixture texts are single-line,
    // so the line structure is PLANTED deterministically on both engines:
    // every doc becomes (its text, a footer line shared corpus-wide for
    // doc_id%5=0 else unique, a rights line shared for doc_id%3=0 else
    // unique, and for doc_id%7=0 a verbatim repeat of its own text — a
    // WITHIN-doc duplicate). concat_ws skips the NULL fourth line
    // identically in Spark and DuckDB. d19 removes corpus-wide boilerplate
    // (>2 distinct docs): the two shared lines vanish everywhere, unique
    // lines and within-doc repeats survive (countDistinct, not count).
    "d19_line_boilerplate" -> QueryDef(
      (s, dir) => Dedup.dropBoilerplateLines(
        plantedLines(s, dir), "doc_id", "text", maxDocs = 2).orderBy("doc_id"),
      Some(s"""WITH $plantedLinesSql,
              |$splitLinesSql,
              |boiler AS (
              |  SELECT line FROM lines GROUP BY line
              |  HAVING count(DISTINCT doc_id) > 2),
              |kept AS (
              |  SELECT * FROM lines WHERE line NOT IN (SELECT line FROM boiler)),
              |$reassembleLinesSql""".stripMargin)),

    // d20 is the keep-first flavor (the C4 span rule at line granularity):
    // every repeated line survives only at its lowest (doc_id, pos) — doc 0
    // keeps both shared lines, every later doc drops them, and the %7=0
    // within-doc repeat drops at its SECOND position.
    "d20_line_keepfirst" -> QueryDef(
      (s, dir) => Dedup.dedupLinesKeepFirst(
        plantedLines(s, dir), "doc_id", "text").orderBy("doc_id"),
      Some(s"""WITH $plantedLinesSql,
              |$splitLinesSql,
              |kept AS (
              |  SELECT l.doc_id, l.line, l.pos FROM lines l
              |  WHERE NOT EXISTS (
              |    SELECT 1 FROM lines o
              |    WHERE o.line = l.line
              |      AND (o.doc_id < l.doc_id
              |           OR (o.doc_id = l.doc_id AND o.pos < l.pos)))),
              |$reassembleLinesSql""".stripMargin)),

    // Benchmark decontamination: flag training docs sharing any 5-gram
    // with the eval set. The fixture has no external benchmark, so the
    // eval set is PLANTED as verbatim 12-token spans lifted from every
    // 50th doc (the real contamination scenario: benchmark items quote
    // the crawl) — span extraction mirrored exactly in the oracle. Flags
    // the span sources plus their near-dup twins.
    "d13_decontaminate" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val bench = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
          .select(col("doc_id").as("bench_id"),
            concat_ws(" ", slice(Text.tokens(col("text")), 6, 12)).as("bench_text"))
        Dedup.decontaminate(docs, "doc_id", "text",
          bench, "bench_id", "bench_text", shingleN = 5)
          .orderBy("doc_id")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $sqlTokens AS w FROM documents),
              |bsh AS (
              |  SELECT DISTINCT bench_id, array_to_string(w[i:i+4], ' ') AS sh
              |  FROM (SELECT doc_id AS bench_id, w[6:17] AS w FROM toks
              |        WHERE doc_id % 50 = 0) b,
              |  LATERAL (SELECT unnest(range(1, greatest(len(w) - 4, 0) + 1)) AS i) g),
              |tsh AS (
              |  SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS sh
              |  FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(w) - 4, 0) + 1)) AS i) g)
              |SELECT doc_id, count(DISTINCT bench_id) AS n_bench_docs,
              |  count(DISTINCT sh) AS n_shared_shingles
              |FROM tsh JOIN bsh USING (sh)
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // -------------------------------------------------------- similarity
    "d06_knn_bruteforce" -> QueryDef(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), 5)
          .orderBy("query_id", "rank")
      },
      Some("""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
             |          FROM embeddings WHERE vec_id < 10),
             |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS ce FROM embeddings),
             |s AS (SELECT query_id, neighbor_id, list_cosine_similarity(qe, ce) AS cosine
             |      FROM q, c WHERE query_id <> neighbor_id),
             |r AS (SELECT query_id, neighbor_id, cosine,
             |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
             |      FROM s)
             |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, round(cosine, 6) AS cosine
             |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // Quantized ANN: SYMMETRIC global-scale int8 (inference-style; the
    // per-vector and per-dimension affine alternatives both collapse ANN
    // overlap to 0.07 — measured, see the operator scaladoc) scored by
    // INTEGER dot product: ordering has no float surface at all.
    // Training = exact max |x|; bins use IEEE-exact ops only, so both
    // engines agree bit-for-bit. The 4×-memory lever of embedding stores.
    "d21_knn_quantized" -> QueryDef(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.quantizedTopK(emb, emb.filter(col("vec_id") < 10), 5)
          .orderBy("query_id", "rank")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
             |sc AS (SELECT max(list_max(list_transform(emb, x -> abs(x)))) AS s FROM e),
             |qz AS (
             |  SELECT vec_id,
             |    list_transform(emb, x -> CAST(floor(x / s * 127 + 0.5) AS BIGINT)) AS q
             |  FROM e, sc),
             |s AS (
             |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             |    CAST(list_dot_product(a.q::DOUBLE[], b.q::DOUBLE[]) AS BIGINT) AS score
             |  FROM qz a, qz b
             |  WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id),
             |r AS (SELECT query_id, neighbor_id, score,
             |        row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
             |      FROM s)
             |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, score
             |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // SRP-LSH ANN over the planted corpus: the true top-5 per query is the
    // five planted copies (header of annPlantedEmbeddings), so the banded
    // approximate path is held to the EXACT brute-force oracle — the d09
    // conversion pattern (was rows-only through round 4). Recall on natural
    // (unplanted) data is separately asserted in PipelineSpec.
    "d07_knn_srp" -> QueryDef(
      (s, dir) => {
        val corpus = annPlantedEmbeddings(s, dir)
        Similarity.srpTopK(corpus, corpus.filter(col("vec_id") < 10), 5)
          .orderBy("query_id", "rank")
      },
      Some(annTopKOracle)),

    // IVF ANN: coarse-quantizer cells + probe re-rank (the second scale
    // path next to SRP-LSH), on the same planted corpus and held to the
    // same exact oracle — each copy lives in its source's own cell, the
    // query's first probe.
    "d10_knn_ivf" -> QueryDef(
      (s, dir) => {
        val corpus = annPlantedEmbeddings(s, dir)
        Similarity.ivfTopK(corpus, corpus.filter(col("vec_id") < 10), 5)
          .orderBy("query_id", "rank")
      },
      Some(annTopKOracle)),

    // Embedding-cosine near-dup. The synthetic embeddings carry no natural
    // near-dups (max pairwise cosine ≈ 0.51), so the corpus is augmented
    // in-query with perturbed copies of the first 50 vectors (second half
    // scaled ×1.05 → cosine ≈ 0.9997) — identical augmentation in the
    // oracle SQL, so ground truth is planted and verifiable at any SF.
    // d08 = exact quadratic baseline; d09 = SRP-banded scale path, checked
    // against the SAME exact oracle (recall argument at srpNearDupPairs).
    "d08_embedding_neardup" -> QueryDef(
      (s, dir) => Similarity.cosinePairs(plantedEmbeddings(s, dir), CosineThreshold)
        .orderBy("a_id", "b_id"),
      Some(cosinePairOracle)),

    "d09_embedding_neardup_lsh" -> QueryDef(
      (s, dir) => Similarity.srpNearDupPairs(plantedEmbeddings(s, dir), CosineThreshold)
        .orderBy("a_id", "b_id"),
      Some(cosinePairOracle)),

    // Semantic decontamination: d13's embedding-space cousin — training
    // vectors within CosineThreshold of ANY eval vector are flagged
    // (paraphrased eval material that n-gram overlap misses). The eval set
    // is PLANTED: every 40th vector re-id'd verbatim (cos = 1.0 against
    // its source) — those sources must flag; random other vectors hit only
    // if they genuinely clear the threshold, which the oracle reproduces.
    "d18_decontaminate_semantic" -> QueryDef(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val eval = emb.filter(pmod(col("vec_id"), lit(40)) === 0)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
        Similarity.decontaminateSemantic(emb, eval, CosineThreshold)
          .orderBy("vec_id")
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
              |ev AS (SELECT vec_id + 1000000 AS eval_id, emb AS eemb
              |       FROM e WHERE vec_id % 40 = 0),
              |hits AS (
              |  SELECT t.vec_id, ev.eval_id,
              |    CAST(floor(list_cosine_similarity(t.emb, ev.eemb) * 1000 + 0.5) AS BIGINT)
              |      AS cos_milli
              |  FROM e t, ev)
              |SELECT vec_id, count(DISTINCT eval_id) AS n_eval_hits,
              |  max(cos_milli) AS max_cos_milli
              |FROM hits WHERE cos_milli >= ${(CosineThreshold * 1000).toInt}
              |GROUP BY vec_id ORDER BY vec_id""".stripMargin)),

    // Embedding clustering: deterministic cosine argmax over fixed seed
    // centroids (the k-means assignment step / IVF coarse quantizer —
    // per-row compute, unshuffled corpus scan). Seeds = the 8 lowest-id
    // vectors on both sides; full Lloyd iterations are covered by the
    // PipelineSpec k-means test (the iterative means are float-order-
    // sensitive, so the hash-exact gate pins the assignment step).
    "d14_kmeans_assign" -> QueryDef(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val cents = Clustering.seedCentroids(emb.filter(col("vec_id") < 8), 8)
        Clustering.assign(emb, cents.toSeq).orderBy("vec_id")
      },
      Some("""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
             |cent AS (SELECT vec_id AS cid, emb AS cemb FROM c WHERE vec_id < 8),
             |scored AS (SELECT c.vec_id, cent.cid,
             |    list_cosine_similarity(c.emb, cent.cemb) AS cos
             |  FROM c, cent),
             |best AS (SELECT vec_id, cid, cos,
             |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid DESC) AS rn
             |  FROM scored)
             |SELECT vec_id, cid AS cluster_id,
             |  CAST(floor(cos * 1000 + 0.5) AS BIGINT) AS cos_milli
             |FROM best WHERE rn = 1 ORDER BY vec_id""".stripMargin)),

    // SemDedup (cluster-then-dedup): near-dup removal scoped WITHIN each
    // cluster — clustering bounds the quadratic pair search. Runs on the
    // planted near-dup corpus (d08's pattern) so there is real ground
    // truth to remove; the oracle mirrors assignment + in-cluster pair
    // drop exactly.
    "d15_semdedup" -> QueryDef(
      (s, dir) => {
        val corpus = plantedEmbeddings(s, dir)
        val cents = Clustering.seedCentroids(corpus.filter(col("vec_id") < 8), 8)
        Clustering.semDedup(corpus, cents.toSeq, CosineThreshold).orderBy("vec_id")
      },
      Some(s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
              |planted AS (
              |  SELECT vec_id + 1000000 AS vec_id,
              |    list_concat(emb[1:32], list_transform(emb[33:64], x -> x * 1.05)) AS emb
              |  FROM base WHERE vec_id < 50),
              |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
              |cent AS (SELECT vec_id AS cid, emb AS cemb FROM corpus WHERE vec_id < 8),
              |scored AS (SELECT c.vec_id, c.emb, cent.cid,
              |    list_cosine_similarity(c.emb, cent.cemb) AS cos
              |  FROM corpus c, cent),
              |asg AS (SELECT vec_id, emb, cid FROM (
              |    SELECT vec_id, emb, cid,
              |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid DESC) AS rn
              |    FROM scored) t WHERE rn = 1),
              |dropped AS (
              |  SELECT DISTINCT b.vec_id
              |  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
              |  WHERE floor(list_cosine_similarity(a.emb, b.emb) * 1000 + 0.5)
              |    >= ${(CosineThreshold * 1000).toInt})
              |SELECT vec_id, cid AS cluster_id FROM asg
              |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
              |ORDER BY vec_id""".stripMargin)),

    // ------------------------------------------------------ text analysis
    "t01_text_stats" -> QueryDef(
      (s, dir) => {
        val cols = Text.qualityColumns(col("text")).map { case (n, c) => c.as(n) }
        t(s, dir, "documents").select((col("doc_id") +: cols): _*).orderBy("doc_id")
      },
      Some(s"""WITH tk AS (SELECT doc_id, text, $sqlTokens AS w FROM documents)
              |SELECT doc_id,
              |  CAST(length(text) AS BIGINT) AS n_chars,
              |  CAST(len(w) AS BIGINT) AS n_words,
              |  CASE WHEN len(w) > 0
              |    THEN CAST(floor((length(text) - (len(w) - 1)) * 1000.0 / len(w) + 0.5) AS BIGINT)
              |    ELSE 0 END AS mean_word_len_milli,
              |  CASE WHEN length(text) > 0
              |    THEN CAST(floor(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1000.0 / length(text) + 0.5) AS BIGINT)
              |    ELSE 0 END AS alpha_ratio_milli,
              |  ${sqlHits(Text.StopwordSets.flatMap(_._2).distinct)} AS stopword_hits
              |FROM tk ORDER BY doc_id""".stripMargin)),

    "t02_langid" -> QueryDef(
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), Text.langId(col("text")).as("pred_lang"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, $langCaseSql AS pred_lang
              |FROM documents ORDER BY doc_id""".stripMargin)),

    "t03_token_count" -> QueryDef(
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          size(Text.tokens(col("text"))).cast("long").as("ws_tokens"),
          size(Text.lexTokens(col("text"))).cast("long").as("lex_tokens"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              |  CAST(len($sqlTokens) AS BIGINT) AS ws_tokens,
              |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]')) AS BIGINT) AS lex_tokens
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // Custom Catalyst expression (RollingHash) vs the oracle computing the
    // identical fold with list_reduce — the expression's contract is
    // SQL-reproducibility.
    "t04_fingerprint" -> QueryDef(
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), HashFunctions.rolling_hash(col("text")).as("fingerprint"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  list_reduce(
             |    list_prepend(7::BIGINT, list_transform(string_split(text, ''), c -> ord(c)::BIGINT)),
             |    (acc, c) -> (acc * 31 + c) % 2147483647) AS fingerprint
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // -------------------------------------------------------- multimodal
    "m01_binary_stats" -> QueryDef(
      (s, dir) => Multimodal.binaryStats(
        Multimodal.synthesize(t(s, dir, "documents"), "doc_id", "text").toDF())
        .orderBy("media_id"),
      Some("""SELECT doc_id AS media_id,
             |  CAST(octet_length(text::BLOB) AS BIGINT) AS n_bytes,
             |  sha256(text) AS sha256,
             |  hex(left(text, 8)) AS magic_hex
             |FROM documents ORDER BY media_id""".stripMargin)),

    // REAL codec round-trip (was the StubDecoder's rows-only entry through
    // round 4): synthesize genuine grayscale PNGs whose dimensions and
    // pixel value are arithmetic in doc_id, encode with javax.imageio,
    // decode with the same — the decoded width/height/mean-gray must equal
    // the construction arithmetic, which is exactly what the oracle
    // computes. n_bytes is deliberately excluded (PNG-encoder-specific).
    "m02_decode_features" -> QueryDef(
      (s, dir) => Multimodal.decodeFeatures(
        Multimodal.synthesizePng(t(s, dir, "documents"), "doc_id"),
        Multimodal.ImageIoDecoder)
        .toDF()
        .select(col("media_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          floor(element_at(col("feature"), 1) + 0.5).cast("long").as("mean_gray"))
        .orderBy("media_id"),
      // ((x % k) + k) % k = floorMod: SQL % follows the sign of the
      // dividend, but synthesizePng floorMods so any long id synthesizes —
      // the oracle must mirror that, not assume non-negative fixture ids.
      Some("""SELECT doc_id AS media_id,
             |  CAST(1 + ((doc_id % 16) + 16) % 16 AS BIGINT) AS width,
             |  CAST(1 + ((doc_id % 12) + 12) % 12 AS BIGINT) AS height,
             |  CAST(((doc_id % 256) + 256) % 256 AS BIGINT) AS mean_gray
             |FROM documents ORDER BY media_id""".stripMargin)),

    // REAL audio codec round-trip (the m02 pattern applied to sound):
    // synthesize genuine mono 16-bit PCM WAVs whose rate / frame count /
    // amplitude are arithmetic in doc_id, encode with javax.sound.sampled,
    // decode with the same — the decoded format and sample stats must equal
    // the construction arithmetic, which is exactly what the oracle
    // computes. duration_ms derives from decoded frames/rate, so it checks
    // the codec's header round-trip, not just payload bytes.
    "m04_audio_features" -> QueryDef(
      (s, dir) => Multimodal.decodeFeatures(
        Multimodal.synthesizeWav(t(s, dir, "documents"), "doc_id"),
        Multimodal.WavDecoder)
        .toDF()
        .select(col("media_id"),
          col("width").cast("long").as("sample_rate"),
          col("height").cast("long").as("channels"),
          element_at(col("feature"), 1).cast("long").as("n_frames"),
          element_at(col("feature"), 2).cast("long").as("amp"),
          floor(element_at(col("feature"), 1).cast("long") * 1000 /
            col("width")).cast("long").as("duration_ms"))
        .orderBy("media_id"),
      // ((x % k) + k) % k = floorMod, mirroring synthesizeWav (see m02).
      Some("""WITH m AS (
             |  SELECT doc_id,
             |    8000 + 4000 * (((doc_id % 3) + 3) % 3) AS rate,
             |    100 + ((doc_id % 400) + 400) % 400 AS frames,
             |    ((doc_id % 30000) + 30000) % 30000 AS amp0
             |  FROM documents)
             |SELECT doc_id AS media_id,
             |  CAST(rate AS BIGINT) AS sample_rate,
             |  CAST(1 AS BIGINT) AS channels,
             |  CAST(frames AS BIGINT) AS n_frames,
             |  CAST(amp0 AS BIGINT) AS amp,
             |  CAST(frames * 1000 // rate AS BIGINT) AS duration_ms
             |FROM m ORDER BY media_id""".stripMargin)),

    // Near-dup clusters: connected components of the near-dup pair graph,
    // each doc labeled with its cluster's min id (the keeper). Pairs come
    // from the MinHash path — the scale default, which verifies against
    // UNCAPPED exact Jaccard (d03's oracle) — so the reachability oracle
    // uses the uncapped universe too.
    "d11_dedup_clusters" -> QueryDef(
      (s, dir) => Dedup.connectedComponents(
        Dedup.minhashPairs(t(s, dir, "documents"), "doc_id", "text",
          ShingleN, JaccardThreshold))
        .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE ${jaccardCtes(0, "documents")},
              |edges AS (
              |  SELECT a_id AS u, b_id AS v FROM jpairs
              |  UNION SELECT b_id, a_id FROM jpairs),
              |cc(node, label) AS (
              |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
              |  UNION
              |  SELECT e.u, c.label FROM edges e JOIN cc c ON c.node = e.v)
              |SELECT node AS doc_id, min(label) AS component_id
              |FROM cc GROUP BY node ORDER BY doc_id""".stripMargin)),

    // As-of join: each view event paired with the user's most recent
    // purchase at-or-before it — verified against DuckDB's NATIVE ASOF
    // JOIN (build rows are unique per (user, ts) in the fixture).
    "q40_asof_join" -> QueryDef(
      (s, dir) => {
        val ev = t(s, dir, "events")
        val views = ev.filter(col("event_type") === "view")
          .select("event_id", "user_id", "ts")
        // pre-aggregate to ONE build row per (user, ts): with duplicate
        // timestamps both Spark's ordered forward-fill and DuckDB's ASOF
        // pick an arbitrary winner — max() pins the tie identically on
        // both sides (AsOf.join's documented uniqueness contract)
        val purchases = ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(floor(col("value") * 100 + 0.5).cast("long")).as("pval_cents"))
        AsOf.join(views, purchases, Seq("user_id"), "ts", "ts")
          .select(col("event_id"), col("user_id"), col("ts"),
            col("asof_ts").as("last_purchase_ts"),
            col("asof_pval_cents").as("last_purchase_cents"))
          .orderBy("event_id")
      },
      Some("""WITH v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
             |p AS (SELECT user_id, ts AS pts,
             |        max(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS pval_cents
             |      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
             |SELECT v.event_id, v.user_id, v.ts,
             |  p.pts AS last_purchase_ts, p.pval_cents AS last_purchase_cents
             |FROM v ASOF LEFT JOIN p ON v.user_id = p.user_id AND v.ts >= p.pts
             |ORDER BY v.event_id""".stripMargin)),

    // Range join: clicks landing inside each signup's 2-hour window —
    // bucketed equi-join + exact post-filter on the Spark side, DuckDB's
    // native range join as the oracle. No equi-key exists; intervals
    // overlap, so pairs are genuinely many-to-many.
    "q41_range_join" -> QueryDef(
      (s, dir) => {
        val ev = t(s, dir, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("ts"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        val windows = ev.filter(col("event_type") === "signup")
          .select(col("event_id").as("iv_id"), col("ts").as("start_ts"),
            (col("ts") + expr("INTERVAL 2 HOURS")).as("end_ts"))
        RangeJoin.pointInInterval(clicks, "ts", windows, "start_ts", "end_ts")
          .groupBy("iv_id")
          .agg(count(lit(1)).as("n_clicks"), sum(col("cents")).as("sum_cents"))
          .orderBy("iv_id")
      },
      Some("""WITH c AS (SELECT event_id, ts, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
             |          FROM events WHERE event_type = 'click'),
             |w AS (SELECT event_id AS iv_id, ts AS start_ts, ts + INTERVAL 2 HOUR AS end_ts
             |      FROM events WHERE event_type = 'signup')
             |SELECT iv_id, count(*) AS n_clicks, CAST(sum(cents) AS BIGINT) AS sum_cents
             |FROM w JOIN c ON c.ts >= w.start_ts AND c.ts < w.end_ts
             |GROUP BY iv_id ORDER BY iv_id""".stripMargin)),

    // KEYED range join — per-entity intervals, the common production shape
    // (per-user sessions, per-device windows). The shuffle key becomes
    // (user_id, bucket): a bucket's population shrinks from every
    // concurrent interval globally to one user's, which is what keeps the
    // post-filter cheap at 100 TB. Each user's window is their first
    // 2 hours of activity.
    "q52_range_join_keyed" -> QueryDef(
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"))
        val windows = ev.groupBy(col("user_id"))
          .agg(min(col("ts")).as("start_ts"))
          .withColumn("end_ts", col("start_ts") + expr("INTERVAL 2 HOURS"))
        RangeJoin.pointInInterval(ev, "ts", windows, "start_ts", "end_ts",
            equiKeys = Seq("user_id"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_in_window"), min(col("event_id")).as("first_event"))
          .orderBy("user_id")
      },
      Some("""SELECT e.user_id, count(*) AS n_in_window,
             |  min(e.event_id) AS first_event
             |FROM events e JOIN (
             |  SELECT user_id, min(ts) AS start_ts,
             |    min(ts) + INTERVAL 2 HOUR AS end_ts
             |  FROM events GROUP BY user_id) w
             |ON e.user_id = w.user_id AND e.ts >= w.start_ts AND e.ts < w.end_ts
             |GROUP BY e.user_id ORDER BY e.user_id""".stripMargin)),

    // --------------------------------------------------- curation capstone
    // The end-to-end training-data use case: quality gates → language
    // filter → exact dedup (min-id keeper) → near-dup removal (greedy:
    // drop the higher id of each surviving Jaccard pair). Every stage is
    // the already-verified operator; the oracle mirrors the whole chain.
    "p01_corpus_curation" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val qc = Text.qualityColumns(col("text")).toMap
        // Materialize the stage boundary with localCheckpoint: everything
        // downstream (exact dedup, the near-dup chain's several
        // self-references, the final anti-join) would otherwise re-run the
        // full quality+langid scan per reference. Unlike persist(), the
        // checkpointed blocks are freed by the ContextCleaner once the
        // query's result is consumed — no per-run cache leak. (On a real
        // cluster, prefer reliable checkpoint() for executor-loss
        // tolerance.)
        val quality = docs.filter(
          qc("n_words") >= 10 && qc("alpha_ratio_milli") >= 500 &&
            Text.langId(col("text")) === "en").localCheckpoint()
        val keep = Dedup.exact(quality, "doc_id", "text").select(col("keep_id").as("doc_id"))
        val kept = quality.join(keep, Seq("doc_id"), "left_semi").localCheckpoint()
        // Near-dup stage uses the MinHash path — the scale default, which
        // verifies against UNCAPPED exact Jaccard (d03's oracle); the
        // curation oracle's near-dup CTE is uncapped to match.
        val nearDropped = Dedup.minhashPairs(kept, "doc_id", "text",
          ShingleN, JaccardThreshold)
          .select(col("b_id").as("doc_id")).distinct()
        kept.join(nearDropped, Seq("doc_id"), "left_anti")
          .select("doc_id").orderBy("doc_id")
      },
      Some(curationOracle)),

    // Sequence packing: curated docs → fixed token-budget training bins.
    // Deterministic contiguous fill within rolling-hash buckets (global
    // packing is one sequential cumsum = a single-partition window; the
    // bucketed rule is the parallel, layout-stable variant). The oracle
    // reproduces the identical hash, order, cumsum, and bin arithmetic.
    "p02_pack_sequences" -> QueryDef(
      (s, dir) => Packing.packedBins(t(s, dir, "documents"),
          "doc_id", "text", capacity = 512L, buckets = 8)
        .orderBy("bucket", "bin"),
      Some(s"""WITH tk AS (
              |  SELECT doc_id, CAST(len($sqlTokens) AS BIGINT) AS n_tokens,
              |    list_reduce(
              |      list_prepend(7::BIGINT, list_transform(
              |        string_split(CAST(doc_id AS VARCHAR), ''), c -> ord(c)::BIGINT)),
              |      (acc, c) -> (acc * 31 + c) % 2147483647) % 8 AS bucket
              |  FROM documents),
              |c AS (
              |  SELECT doc_id, bucket, n_tokens,
              |    COALESCE(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
              |  FROM tk)
              |SELECT bucket, CAST(floor(cum_before / 512) AS BIGINT) AS bin,
              |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
              |FROM c GROUP BY 1, 2 ORDER BY bucket, bin""".stripMargin)),

    // REAL video frame sampling (was a byte-window slicing stub through
    // round 7): synthesize genuine yuv4mpeg2 clips whose dimensions, frame
    // count, and per-frame luma are arithmetic in doc_id, then decode the
    // container and keep 3 evenly-strided DECODED frames — the sampled
    // frame index and its Y-plane mean must equal the construction
    // arithmetic, which is exactly what the oracle computes. Every luma
    // sample in a frame is equal, so the per-frame mean is integer-exact.
    "m03_frame_sample" -> QueryDef(
      (s, dir) => Multimodal.sampleVideoFrames(
        Multimodal.synthesizeY4m(t(s, dir, "documents"), "doc_id"), nFrames = 3)
        .toDF()
        .select(col("media_id"), col("frame_no").cast("long").as("frame_no"),
          col("frame_idx").cast("long").as("frame_idx"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("mean_luma").cast("long").as("mean_luma"))
        .orderBy("media_id", "frame_no"),
      // ((x % k) + k) % k = floorMod, mirroring synthesizeY4m (see m02).
      // frame_idx = frame_no·(F-1) // 2 is the sampler's stride for n=3.
      Some("""WITH m AS (
             |  SELECT doc_id,
             |    2 * (1 + ((doc_id % 8) + 8) % 8) AS w,
             |    2 * (1 + ((doc_id % 6) + 6) % 6) AS h,
             |    2 + ((doc_id % 5) + 5) % 5 AS f
             |  FROM documents),
             |k AS (SELECT unnest(range(0, 3)) AS frame_no)
             |SELECT doc_id AS media_id, CAST(frame_no AS BIGINT) AS frame_no,
             |  CAST(frame_no * (f - 1) // 2 AS BIGINT) AS frame_idx,
             |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(16 + ((doc_id * 31 + (frame_no * (f - 1) // 2) * 7) % 220 + 220) % 220
             |    AS BIGINT) AS mean_luma
             |FROM m, k ORDER BY media_id, frame_no""".stripMargin)),

    // REAL video codec round-trip (the m02/m04 pattern applied to video):
    // decode the synthesized yuv4mpeg2 clips end-to-end and check the
    // container header (dims), frame count, and first/last frame mean luma
    // against the construction arithmetic.
    "m05_video_features" -> QueryDef(
      (s, dir) => Multimodal.decodeFeatures(
        Multimodal.synthesizeY4m(t(s, dir, "documents"), "doc_id"),
        Multimodal.Y4mDecoder)
        .toDF()
        .select(col("media_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          element_at(col("feature"), 1).cast("long").as("n_frames"),
          element_at(col("feature"), 2).cast("long").as("luma_first"),
          element_at(col("feature"), 3).cast("long").as("luma_last"))
        .orderBy("media_id"),
      Some("""WITH m AS (
             |  SELECT doc_id, 2 + ((doc_id % 5) + 5) % 5 AS f
             |  FROM documents)
             |SELECT doc_id AS media_id,
             |  CAST(2 * (1 + ((doc_id % 8) + 8) % 8) AS BIGINT) AS width,
             |  CAST(2 * (1 + ((doc_id % 6) + 6) % 6) AS BIGINT) AS height,
             |  CAST(f AS BIGINT) AS n_frames,
             |  CAST(16 + (doc_id * 31 % 220 + 220) % 220 AS BIGINT) AS luma_first,
             |  CAST(16 + ((doc_id * 31 + (f - 1) * 7) % 220 + 220) % 220 AS BIGINT) AS luma_last
             |FROM m ORDER BY media_id""".stripMargin)),

    // ------------------------------------------------------------- TF-IDF
    // Per-document top-3 salient terms by tf·idf. idf here is the RAW
    // inverse frequency N/df — kept rational so tf·N·1000/df is integer-
    // exact on both engines (log-smoothed idf has the same plan shape but
    // ln() differs in final ulps across libms, which an exact hash compare
    // can't tolerate). Plan: explode → (doc,term) counts → term df —
    // two shuffles — then a per-doc top-k window, never a global sort.
    "t05_tfidf" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val n = docs.count() // corpus size: one cheap metadata-ish job
        val terms = docs.select(col("doc_id"),
          explode(Text.tokens(col("text"))).as("term"))
        val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id")
          .orderBy(col("tfidf_milli").desc, col("term"))
        tf.join(dfreq, "term")
          .withColumn("tfidf_milli",
            floor(col("tf") * lit(n) * 1000 / col("df") + 0.5).cast("long"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("doc_id"), col("rk"), col("term"), col("tfidf_milli"))
          .orderBy("doc_id", "rk")
      },
      Some(s"""WITH terms AS (
              |  SELECT doc_id, unnest($sqlTokens) AS term FROM documents),
              |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
              |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
              |n AS (SELECT count(*) AS n FROM documents),
              |scored AS (
              |  SELECT doc_id, term,
              |    CAST(floor(tf * n * 1000 / df + 0.5) AS BIGINT) AS tfidf_milli
              |  FROM tf JOIN dfreq USING (term), n),
              |ranked AS (
              |  SELECT doc_id, term, tfidf_milli,
              |    row_number() OVER (PARTITION BY doc_id
              |                       ORDER BY tfidf_milli DESC, term) AS rk
              |  FROM scored)
              |SELECT doc_id, rk, term, tfidf_milli FROM ranked
              |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin)),

    // ------------------------------------------------ deterministic sample
    // Stratified reproducible sampling (see [[Sampling]]): membership is a
    // pure function of the row key, so the drawn corpus is identical on
    // any cluster layout AND reproducible by the oracle — the rolling-hash
    // fold is the same one t04 verifies in DuckDB. sample()/TABLESAMPLE
    // can't do this (per-partition RNG).
    "q44_hash_sample" -> QueryDef(
      (s, dir) => Sampling.stratified(t(s, dir, "events"),
          col("event_id"), col("event_type"),
          Map("purchase" -> 500, "view" -> 100), defaultRateMilli = 50)
        .select(col("event_id"), col("event_type"))
        .orderBy(col("event_id")),
      Some("""WITH h AS (
             |  SELECT event_id, event_type,
             |    list_reduce(
             |      list_prepend(7::BIGINT, list_transform(
             |        string_split(CAST(event_id AS VARCHAR), ''), c -> ord(c)::BIGINT)),
             |      (acc, c) -> (acc * 31 + c) % 2147483647) % 1000 AS bucket
             |  FROM events)
             |SELECT event_id, event_type FROM h
             |WHERE bucket < CASE event_type WHEN 'purchase' THEN 500
             |                               WHEN 'view' THEN 100 ELSE 50 END
             |ORDER BY event_id""".stripMargin)),

    // ------------------------------------------------------ PII redaction
    // The fixture text carries no natural PII, so each doc gets ONE planted
    // email and ONE planted phone (derived from doc_id — deterministic at
    // any SF, mirrored in the oracle, the d08 planted-pair pattern). The
    // hash of the redacted text verifies the exact replacement spans, not
    // just the counts.
    "t06_redact_pii" -> QueryDef(
      (s, dir) => {
        val planted = t(s, dir, "documents").select(col("doc_id"),
          concat(col("text"),
            lit(" contact u"), col("doc_id").cast("string"), lit("@mail.example.org or "),
            (pmod(col("doc_id"), lit(900)) + 100).cast("string"), lit("-555-"),
            lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")).as("text"))
        val Seq((_, nEmails), (_, nPhones)) = Redact.counts(col("text"))
        planted.select(col("doc_id"),
            nEmails.as("n_emails"),
            // counted after email redaction (redact()'s precedence), so
            // counts reconcile with emitted tokens even on overlap
            nPhones.as("n_phones"),
            md5(Redact.redact(col("text"))).as("redacted_md5"))
          .orderBy("doc_id")
      },
      Some(s"""WITH planted AS (
              |  SELECT doc_id,
              |    text || ' contact u' || CAST(doc_id AS VARCHAR) || '@mail.example.org or ' ||
              |    CAST(doc_id % 900 + 100 AS VARCHAR) || '-555-' ||
              |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
              |  FROM documents)
              |SELECT doc_id,
              |  CAST(len(regexp_extract_all(text, '${Redact.Patterns(0)._2}')) AS BIGINT) AS n_emails,
              |  CAST(len(regexp_extract_all(regexp_replace(text,
              |    '${Redact.Patterns(0)._2}', '<EMAIL>', 'g'),
              |    '${Redact.Patterns(1)._2}')) AS BIGINT) AS n_phones,
              |  md5(regexp_replace(regexp_replace(text,
              |    '${Redact.Patterns(0)._2}', '<EMAIL>', 'g'),
              |    '${Redact.Patterns(1)._2}', '<PHONE>', 'g')) AS redacted_md5
              |FROM planted ORDER BY doc_id""".stripMargin)),

    // -------------------------------------------- repetition signals (t07)
    // Gopher-style repetition filters: duplicate-line fraction, duplicate-
    // line char fraction, top-2-gram char fraction — the standard "machine-
    // generated boilerplate" gates next to t01's quality stats. The fixture
    // texts are single-line, so each doc gets a deterministic multi-line
    // page planted in-query (text + a header line + doc_id%4 copies of its
    // own 40-char prefix — the t06 planted-ground-truth pattern), mirrored
    // exactly in the oracle. Both kernels are single-pass compiled
    // expressions; the whole query is per-row, shuffle-free.
    "t07_repetition" -> QueryDef(
      (s, dir) => {
        val planted = t(s, dir, "documents").select(col("doc_id"),
          concat(col("text"), lit("\nhdr "), pmod(col("doc_id"), lit(7)).cast("string"),
            repeat(concat(lit("\n"), substring(col("text"), 1, 40)),
              pmod(col("doc_id"), lit(4)).cast("int"))).as("text"))
        // materialize the stat arrays once per row (a flat projection would
        // re-evaluate the kernel per derived column)
        planted.select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
            Text.lineStats(col("text")).as("ls"),
            Text.topBigramCover(col("text")).as("cover"))
          .select(col("doc_id"),
            element_at(col("ls"), 1).as("n_lines"),
            when(element_at(col("ls"), 1) > 0,
              floor((element_at(col("ls"), 1) - element_at(col("ls"), 2)) * lit(1000.0)
                / element_at(col("ls"), 1) + 0.5).cast("long"))
              .otherwise(lit(0L)).as("dup_line_frac_milli"),
            when(element_at(col("ls"), 3) > 0,
              floor(element_at(col("ls"), 4) * lit(1000.0)
                / element_at(col("ls"), 3) + 0.5).cast("long"))
              .otherwise(lit(0L)).as("dup_line_char_frac_milli"),
            when(col("n_chars") > 0,
              floor(col("cover") * lit(1000.0) / col("n_chars") + 0.5).cast("long"))
              .otherwise(lit(0L)).as("top_bigram_frac_milli"))
          .orderBy("doc_id")
      },
      Some(s"""WITH planted AS (
              |  SELECT doc_id,
              |    text || chr(10) || 'hdr ' || CAST(doc_id % 7 AS VARCHAR) ||
              |    repeat(chr(10) || substring(text, 1, 40), CAST(doc_id % 4 AS INT)) AS text
              |  FROM documents),
              |lines AS (
              |  SELECT doc_id, x AS line FROM planted,
              |  LATERAL (SELECT unnest(string_split(text, chr(10))) AS x) g
              |  WHERE length(x) > 0),
              |lc AS (SELECT doc_id, line, count(*) AS cnt, length(line) AS ln
              |       FROM lines GROUP BY 1, 2),
              |lagg AS (
              |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_lines,
              |    CAST(count(*) AS BIGINT) AS n_distinct,
              |    CAST(sum(cnt * ln) AS BIGINT) AS line_chars,
              |    CAST(sum((cnt - 1) * ln) AS BIGINT) AS dup_chars
              |  FROM lc GROUP BY doc_id),
              |toks AS (SELECT doc_id, $sqlTokens AS w FROM planted),
              |bg AS (
              |  SELECT doc_id, array_to_string(w[i:i+1], ' ') AS bg FROM toks,
              |  LATERAL (SELECT unnest(range(1, greatest(len(w) - 1, 0) + 1)) AS i) g),
              |bc AS (SELECT doc_id, bg, count(*) AS cnt FROM bg GROUP BY 1, 2),
              |bagg AS (SELECT doc_id, max(cnt * length(bg)) AS cover FROM bc GROUP BY doc_id)
              |SELECT p.doc_id,
              |  COALESCE(l.n_lines, 0) AS n_lines,
              |  CASE WHEN COALESCE(l.n_lines, 0) > 0
              |    THEN CAST(floor((l.n_lines - l.n_distinct) * 1000.0 / l.n_lines + 0.5) AS BIGINT)
              |    ELSE 0 END AS dup_line_frac_milli,
              |  CASE WHEN COALESCE(l.line_chars, 0) > 0
              |    THEN CAST(floor(l.dup_chars * 1000.0 / l.line_chars + 0.5) AS BIGINT)
              |    ELSE 0 END AS dup_line_char_frac_milli,
              |  CASE WHEN length(p.text) > 0 AND b.cover IS NOT NULL
              |    THEN CAST(floor(b.cover * 1000.0 / length(p.text) + 0.5) AS BIGINT)
              |    ELSE 0 END AS top_bigram_frac_milli
              |FROM planted p
              |LEFT JOIN lagg l ON l.doc_id = p.doc_id
              |LEFT JOIN bagg b ON b.doc_id = p.doc_id
              |ORDER BY p.doc_id""".stripMargin)),

    // ------------------------------------------------- chunking (t08)
    // Overlapping token-window chunking — long documents become multiple
    // training sequences (window 32, stride 24 → 8-token overlap). Chunk
    // identity is (doc_id, chunk_no), a pure function of the input; the
    // md5 pins the exact token window content. Per-row + one explode, no
    // shuffle.
    "t08_chunk_tokens" -> QueryDef(
      (s, dir) => Chunking.tokenChunks(t(s, dir, "documents"), "doc_id", "text",
          window = 32, stride = 24).orderBy("doc_id", "chunk_no"),
      Some(s"""WITH tk AS (SELECT doc_id, $sqlTokens AS w FROM documents),
              |c AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n FROM tk
              |      WHERE len(w) > 0),
              |idx AS (
              |  SELECT doc_id, w, n, CAST(i AS BIGINT) AS chunk_no
              |  FROM c, LATERAL (SELECT unnest(range(0,
              |    1 + (greatest(n - 32, 0) + 23) // 24)) AS i) g)
              |SELECT doc_id, chunk_no,
              |  least(32, n - chunk_no * 24) AS n_tokens,
              |  md5(array_to_string(w[chunk_no * 24 + 1 : chunk_no * 24 + 32], ' ')) AS chunk_md5
              |FROM idx ORDER BY doc_id, chunk_no""".stripMargin)),

    // --------------------------------------------- mixture resampling (p03)
    // Deterministic data-mixture resampling: per-language milli-weights
    // (es ×2.4, de ×2, en ×1.5, fr ×0.7, everything else ×0.25) realized as
    // ⌊w⌋ full copies + one more iff the doc's hash bucket < frac(w) — the
    // same rolling-hash fold q44 verifies, so replication is reproducible
    // on any cluster AND by the oracle. Per-row + one explode, no shuffle.
    "p03_resample_mixture" -> QueryDef(
      (s, dir) => Sampling.resampleMixture(
          t(s, dir, "documents")
            .select(col("doc_id"), Text.langId(col("text")).as("pred_lang")),
          col("doc_id"), col("pred_lang"),
          Map("en" -> 1500, "es" -> 2400, "fr" -> 700, "de" -> 2000),
          defaultMilli = 250)
        .orderBy("doc_id", "copy"),
      Some(s"""WITH l AS (
              |  SELECT doc_id, $langCaseSql AS pred_lang,
              |    list_reduce(
              |      list_prepend(7::BIGINT, list_transform(
              |        string_split(CAST(doc_id AS VARCHAR), ''), c -> ord(c)::BIGINT)),
              |      (acc, c) -> (acc * 31 + c) % 2147483647) % 1000 AS bucket
              |  FROM documents),
              |w AS (SELECT doc_id, pred_lang, bucket,
              |    CASE pred_lang WHEN 'en' THEN 1500 WHEN 'es' THEN 2400
              |                   WHEN 'fr' THEN 700 WHEN 'de' THEN 2000
              |                   ELSE 250 END AS wm FROM l),
              |cp AS (SELECT doc_id, pred_lang,
              |    wm // 1000 + CASE WHEN bucket < wm % 1000 THEN 1 ELSE 0 END AS copies
              |  FROM w)
              |SELECT doc_id, pred_lang, CAST(i AS BIGINT) AS copy
              |FROM cp, LATERAL (SELECT unnest(range(1, copies + 1)) AS i) g
              |WHERE copies > 0 ORDER BY doc_id, copy""".stripMargin)),

    // ------------------------------ cross-source overlap matrix (d24)
    // Corpus-health diagnostic: for every source pair, how many DISTINCT
    // 5-gram shingles occur in both — the signal that two crawls/dumps
    // overlap enough to need cross-source dedup (d22) or decontamination
    // review. Shape: one shingle→source-set aggregate (distinct shingles,
    // map-side combined), then pairs explode WITHIN each shingle's source
    // set — bounded by |sources|² per shingle, never by corpus size, and
    // GUARDED: a shingle in more than maxSources sources raises in-plan
    // (per-domain keys fed here would otherwise be 10¹⁰ pair rows from
    // one stop-word shingle — see the Dedup.sourceOverlap scaladoc).
    // NATURAL-DATA recall bound for the two approximate ANN scale paths
    // (round 19, the q28/q43 error-bound pattern): d07/d10 are held
    // hash-exact on PLANTED corpora (where ground truth is pinned by
    // construction); this row holds them to a recall floor on the RAW
    // embeddings table, where the exact answer is genuinely hard. The
    // query computes brute-force top-5 (the exact pass — d06's
    // operator), SRP and IVF top-5 over the same 20 queries, and hashes
    // the bound BOOLEANS plus the exact row count; the oracle's TRUE
    // literals check the floor itself — a silent recall regression
    // (a broken band hash, a mis-probed cell) flips a hashed value.
    // Floors are honest with margin: measured srp 81–85%, ivf 90–99%
    // across sf0.001/0.01/0.1; bounds 60%/70%.
    "d25_ann_recall_bound" -> QueryDef(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 20)
        def ids(df: org.apache.spark.sql.DataFrame) =
          df.select("query_id", "neighbor_id")
        val bf = ids(Similarity.bruteForceTopK(emb, queries, 5))
        val srp = ids(Similarity.srpTopK(emb, queries, 5))
        val ivf = ids(Similarity.ivfTopK(emb, queries, 5))
        bf.select(count(lit(1)).as("n_exact"))
          .crossJoin(bf.intersect(srp).select(count(lit(1)).as("srp_hits")))
          .crossJoin(bf.intersect(ivf).select(count(lit(1)).as("ivf_hits")))
          .select(col("n_exact"),
            (col("srp_hits") * 10L >= col("n_exact") * 6L)
              .as("srp_recall_ge_p60"),
            (col("ivf_hits") * 10L >= col("n_exact") * 7L)
              .as("ivf_recall_ge_p70"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb
             |           FROM embeddings),
             |q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < 20),
             |s AS (SELECT q.qid, e.vec_id,
             |        list_cosine_similarity(q.qemb, e.emb) AS cos
             |      FROM q, e WHERE q.qid <> e.vec_id),
             |r AS (SELECT qid, row_number() OVER (
             |        PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
             |      FROM s)
             |SELECT count(*) AS n_exact,
             |  TRUE AS srp_recall_ge_p60,
             |  TRUE AS ivf_recall_ge_p70
             |FROM r WHERE rank <= 5""".stripMargin)),

    "d24_source_overlap" -> QueryDef(
      (s, dir) => graft.operators.Dedup.sourceOverlap(
          t(s, dir, "documents"), "source", "text", n = 5, maxSources = 64)
        .orderBy("src_a", "src_b"),
      Some(s"""WITH toks AS (SELECT doc_id, source, $sqlTokens AS w FROM documents),
              |sh AS (
              |  SELECT DISTINCT source, array_to_string(w[i:i+4], ' ') AS shv
              |  FROM toks, LATERAL (SELECT unnest(
              |    range(1, greatest(len(w) - 4, 0) + 1)) AS i) g),
              |p AS (SELECT a.shv, a.source AS src_a, b.source AS src_b
              |      FROM sh a JOIN sh b ON a.shv = b.shv AND a.source < b.source)
              |SELECT src_a, src_b, count(*) AS shared_shingles
              |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ------------------------------ reproducible training corpus (p12)
    // The question every training-data audit asks: "EXACTLY which rows
    // did run X train on?" — answered by pinning the corpus GENERATION.
    // documents land in the lake, retention goes on (gen 1 = raw), a
    // curation DELETE produces the training corpus (gen 2), the table
    // keeps evolving afterwards (gen 3) — and the run's sample is
    // re-derived LATER from `VERSION AS OF 2` + the deterministic
    // hash-mod sample, row-exact against the oracle even though the
    // current table no longer contains that corpus. Gates pin that the
    // three generations exist and the current table differs.
    "p12_reproducible_corpus" -> QueryDef(
      (s, dir) => {
        import graft.lake.LakeVersions
        import graft.types.{ColType, TableSchema}
        val schema = TableSchema("docs_rc", Seq(
          "doc_id" -> ColType.CInteger, "lang" -> ColType.CString,
          "n_chars" -> ColType.CInteger))
        val (root, store) = freshLake("graft-reprocorpus-lake", dir)
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        graft.lake.LakeWriter.write(
          docs.repartitionByRange(4, col("doc_id")), schema, root,
          java.time.Instant.parse("2024-06-01T00:00:00Z"), zoneMaps = true)
        val cat = lakeCatalog(s, "p12cat", root)
        s.sql(s"CALL $cat.system.set_retention(table => 'docs_rc', " +
          "retain => true)") // gen 1: the raw corpus
        s.sql(s"DELETE FROM $cat.docs_rc WHERE n_chars < 100") // gen 2: TRAINED ON
        s.sql(s"DELETE FROM $cat.docs_rc WHERE lang = 'de'")   // gen 3: moved on
        require(LakeVersions.listDir(store, "docs_rc").gens == Seq(1L, 2L, 3L),
          "three generations must exist")
        // the run's sample, re-derived from the PINNED generation
        val sample = s.sql(s"SELECT * FROM $cat.docs_rc VERSION AS OF 2")
          .where(pmod(col("doc_id"), lit(10)) < 3)
        val corpus = s.sql(
          s"SELECT count(*) AS n_corpus FROM $cat.docs_rc VERSION AS OF 2")
        val current = s.table(s"$cat.docs_rc")
          .agg(count(lit(1)).as("n_current"))
        corpus.crossJoin(
          sample.agg(count(lit(1)).as("n_sample"),
            sum("n_chars").as("sum_chars_sample"),
            sum("doc_id").as("sum_ids_sample")))
          .crossJoin(current)
      },
      Some("""SELECT
             |  (SELECT count(*) FROM documents WHERE n_chars >= 100)
             |    AS n_corpus,
             |  (SELECT count(*) FROM documents
             |   WHERE n_chars >= 100 AND doc_id % 10 < 3) AS n_sample,
             |  (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents
             |   WHERE n_chars >= 100 AND doc_id % 10 < 3) AS sum_chars_sample,
             |  (SELECT CAST(sum(doc_id) AS BIGINT) FROM documents
             |   WHERE n_chars >= 100 AND doc_id % 10 < 3) AS sum_ids_sample,
             |  (SELECT count(*) FROM documents
             |   WHERE n_chars >= 100 AND lang <> 'de') AS n_current""".stripMargin)),

    // ------------------------------ corpus diff across generations (p13)
    // The companion audit to p12: "what changed between the corpus run
    // A trained on and today's table?" — a TAGGED generation (the
    // training-run label, retained through reclamation) diffed against
    // the current table with plain exceptAll, both directions: rows a
    // later curation DELETE removed AND rows a later MERGE inserted.
    // Oracle: both diff sides in closed form over the original parquet.
    // CDF-driven INCREMENTAL curation (round 20): the standing-query
    // twin of p01's batch pipeline, and the "right to be forgotten
    // reaches derived corpora" requirement made mechanical. A curated
    // lake table is seeded from the corpus's retained baseline snapshot
    // (quality-gated), then maintained per CDF batch by ONE distributed
    // MERGE each: inserts enter iff they pass the quality gate,
    // deletes (GDPR takedowns) propagate, and a replacement that now
    // fails quality leaves. Gated in-query: the maintenance processes
    // exactly the CHANGE rows (never a corpus rescan) and the final
    // curated table is row-identical to the batch recompute over the
    // final corpus. Oracle: the closed-form quality filter over the
    // surviving documents.
    "p14_incremental_curation" -> QueryDef(
      (s, dir) => {
        import graft.lake.LakeWriter
        import graft.types.{ColType, TableSchema}
        val corpusSchema = TableSchema("docs_ic", Seq(
          "doc_id" -> ColType.CInteger, "text" -> ColType.CString))
        val curSchema = TableSchema("docs_cur", Seq(
          "doc_id" -> ColType.CInteger, "text" -> ColType.CString))
        val (root, store) = freshLake("graft-inccur-lake", dir)
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val hour0 = java.time.Instant.parse("2024-06-01T00:00:00Z")
        // half A is the baseline corpus; half B arrives later
        LakeWriter.write(docs.where(pmod(col("doc_id"), lit(2)) === 0)
          .repartitionByRange(2, col("doc_id")), corpusSchema, root, hour0)
        val cat = lakeCatalog(s, "p14cat", root)
        s.sql(s"CALL $cat.system.set_retention(table => 'docs_ic', " +
          "retain => true)").collect()                             // gen 1
        // the curated table SEEDS from the baseline snapshot the feed
        // streams changes against — quality-gated
        val qc = Text.qualityColumns(col("text")).toMap
        def quality(df: org.apache.spark.sql.DataFrame) = df.filter(
          qc("n_words") >= 10 && qc("alpha_ratio_milli") >= 500 &&
            Text.langId(col("text")) === "en")
        LakeWriter.write(
          quality(s.sql(
            s"SELECT doc_id, text FROM $cat.docs_ic VERSION AS OF 1"))
            .repartitionByRange(2, col("doc_id")), curSchema, root, hour0)
        // the corpus moves on: half B lands, then two takedown waves
        LakeWriter.write(docs.where(pmod(col("doc_id"), lit(2)) === 1)
          .repartitionByRange(2, col("doc_id")), corpusSchema, root,
          java.time.Instant.parse("2024-06-01T01:00:00Z"))
        s.sql(s"DELETE FROM $cat.docs_ic WHERE doc_id % 13 = 3")   // gen 2
        s.sql(s"DELETE FROM $cat.docs_ic WHERE doc_id % 13 = 7")   // gen 3
        // ---- the incremental maintainer: one MERGE per CDF batch
        var changeRows = 0L
        val ckpt = freshDir("graft-p14-ckpt", dir)
        val q = s.readStream.format("graft-lake-cdf")
          .option("table", "docs_ic").option("startingVersion", "1")
          .load(root).writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            val batch = b.persist()
            changeRows += batch.count()
            // net action per doc across the WINDOW: the LATEST commit
            // wins (a doc inserted at gen N and taken down at gen N+1
            // in one catch-up batch must net to delete); within one
            // commit an insert beats its paired delete (the update
            // shape: delete(pre) + insert(post) nets to the post-image)
            val latest = batch.withColumn("_rk",
              row_number().over(
                org.apache.spark.sql.expressions.Window
                  .partitionBy("doc_id")
                  .orderBy(col("_commit_gen").desc,
                    when(col("_change_type") === "insert", 0)
                      .otherwise(1))))
              .where(col("_rk") === 1)
            val ins = latest.where(col("_change_type") === "insert")
              .select(col("doc_id"), col("text"))
            val del = latest.where(col("_change_type") === "delete")
              .select(col("doc_id"))
            // quality decides entry — a quality-failing (re)insert must
            // also LEAVE the curated table if present
            val upserts = quality(ins)
              .select(col("doc_id"), col("text"), lit("u").as("act"))
            val drops = del.join(ins, Seq("doc_id"), "left_anti")
              .unionByName(ins.join(quality(ins), Seq("doc_id"), "left_anti")
                .select("doc_id"))
              .select(col("doc_id"), lit(null).cast("string").as("text"),
                lit("d").as("act"))
            // the batch's own (cloned) session: a temp view registered
            // here is invisible to the outer session and vice versa
            val bs = batch.sparkSession
            upserts.unionByName(drops)
              .createOrReplaceTempView("p14_net")
            bs.sql(
              s"""MERGE INTO $cat.docs_cur t USING p14_net s
                 |ON t.doc_id = s.doc_id
                 |WHEN MATCHED AND s.act = 'd' THEN DELETE
                 |WHEN MATCHED AND s.act = 'u' THEN UPDATE SET text = s.text
                 |WHEN NOT MATCHED AND s.act = 'u' THEN
                 |  INSERT (doc_id, text, _event_hour)
                 |  VALUES (s.doc_id, s.text, TIMESTAMP '2024-06-01 00:00:00+00:00')
                 |""".stripMargin)
            batch.unpersist(); ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination(300000)
        // the maintenance touched exactly the CHANGE rows, never the
        // corpus: |B| minus its takedowns entering as inserts, plus the
        // live takedown rows leaving as deletes
        // ONE aggregate job for all five expected-change counts (r16
        // optimization: five separate .count() actions were five scans
        // of the same parquet for one gate's arithmetic)
        val cnt = docs.agg(
          count(lit(1)).as("total"),
          count(when(pmod(col("doc_id"), lit(2)) === 1, 1)).as("halfB"),
          count(when(pmod(col("doc_id"), lit(2)) === 1 &&
            pmod(col("doc_id"), lit(13)) === 3, 1)).as("b13_3"),
          count(when(pmod(col("doc_id"), lit(13)) === 3, 1)).as("t1"),
          count(when(pmod(col("doc_id"), lit(13)) === 7, 1)).as("t2")).head()
        val (total, halfB, b13_3, t1, t2) = (cnt.getLong(0), cnt.getLong(1),
          cnt.getLong(2), cnt.getLong(3), cnt.getLong(4))
        val expected = (halfB - b13_3) + (t1 - b13_3) + t2
        require(changeRows == expected,
          s"the feed must carry exactly the change: $changeRows vs " +
            s"$expected (corpus $total)")
        // the incrementally-maintained table IS the batch recompute —
        // multiset-signature gate (the l23/l27 pattern, r16 optimization:
        // the two-direction exceptAll read both tables twice)
        val cur = s.table(s"$cat.docs_cur").select("doc_id", "text")
        val recomputed = quality(s.table(s"$cat.docs_ic")
          .select("doc_id", "text"))
        require(multisetSig(cur) == multisetSig(recomputed),
          "incremental maintenance must equal the batch recompute")
        cur.agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"),
          sum(length(col("text"))).as("sum_len"), max("doc_id").as("max_id"))
      },
      Some(s"""SELECT CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
              |  CAST(sum(length(text)) AS BIGINT) AS sum_len,
              |  max(doc_id) AS max_id
              |FROM documents
              |WHERE doc_id % 13 <> 3 AND doc_id % 13 <> 7
              |  AND CAST(len($sqlTokens) AS BIGINT) >= 10
              |  AND ($alphaMilliSql) >= 500
              |  AND ($langCaseSql) = 'en'""".stripMargin)),

    "p13_corpus_diff" -> QueryDef(
      (s, dir) => {
        import graft.types.{ColType, TableSchema}
        val schema = TableSchema("docs_cd", Seq(
          "doc_id" -> ColType.CInteger, "lang" -> ColType.CString,
          "n_chars" -> ColType.CInteger))
        val (root, store) = freshLake("graft-corpusdiff-lake", dir)
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        graft.lake.LakeWriter.write(
          docs.repartitionByRange(4, col("doc_id")), schema, root,
          java.time.Instant.parse("2024-06-01T00:00:00Z"), zoneMaps = true)
        val cat = lakeCatalog(s, "p13cat", root)
        s.sql(s"CALL $cat.system.set_retention(table => 'docs_cd', " +
          "retain => true)")
        s.sql(s"DELETE FROM $cat.docs_cd WHERE n_chars < 100") // gen 2
        s.sql(s"CALL $cat.system.tag(table => 'docs_cd', " +
          "name => 'run-2024-06')") // the corpus run A trained on
        // the table moves on: a curation delete AND new documents
        s.sql(s"DELETE FROM $cat.docs_cd WHERE lang = 'de'") // gen 3
        val hot = java.sql.Timestamp.from(
          java.time.Instant.parse("2024-06-01T00:00:00Z"))
        s.range(1, 101).select(
          (lit(2000000000L) + col("id")).as("doc_id"),
          lit("xx").as("lang"), lit(12345L).as("n_chars"),
          lit(hot).as("_event_hour"))
          .createOrReplaceTempView("p13_src")
        s.sql(
          s"""MERGE INTO $cat.docs_cd t USING p13_src s ON t.doc_id = s.doc_id
             |WHEN NOT MATCHED THEN INSERT (doc_id, lang, n_chars, _event_hour)
             |  VALUES (s.doc_id, s.lang, s.n_chars, s._event_hour)""".stripMargin)
        // each side feeds BOTH exceptAll directions and an aggregate —
        // materialize once (r16, guide §3.3) so the lake snapshot reads
        // run once instead of once per consumer
        val runA = s.sql(
          s"SELECT doc_id, lang, n_chars FROM $cat.docs_cd " +
            "VERSION AS OF 'run-2024-06'").localCheckpoint()
        val now = s.table(s"$cat.docs_cd").select("doc_id", "lang", "n_chars")
          .localCheckpoint()
        val removed = runA.exceptAll(now)
        val added = now.exceptAll(runA)
        runA.agg(count(lit(1)).as("n_run")).crossJoin(
          removed.agg(count(lit(1)).as("n_removed"),
            sum("n_chars").as("sum_removed_chars"))).crossJoin(
          added.agg(count(lit(1)).as("n_added"),
            sum("doc_id").as("sum_added_ids")))
      },
      Some("""SELECT
             |  (SELECT count(*) FROM documents WHERE n_chars >= 100)
             |    AS n_run,
             |  (SELECT count(*) FROM documents
             |   WHERE n_chars >= 100 AND lang = 'de') AS n_removed,
             |  (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents
             |   WHERE n_chars >= 100 AND lang = 'de') AS sum_removed_chars,
             |  CAST(100 AS BIGINT) AS n_added,
             |  (SELECT CAST(sum(2000000000 + i) AS BIGINT)
             |   FROM range(1, 101) r(i)) AS sum_added_ids""".stripMargin)),

    // ------------------------------ deterministic epoch shuffle (p11)
    // The "shuffle the corpus before sharding" step of a training run,
    // REPRODUCIBLY: order by (rolling_hash(doc_id), doc_id) — a
    // pseudo-random permutation any engine replays — and assign
    // contiguous positions via the two-pass range-bucket numbering (no
    // single-partition window). doc_id breaks hash collisions via the
    // packed key hash·1e7 + doc_id — collision-free only while
    // doc_id < 1e7 (the q63 bound pattern; both sides share it, and the
    // hash already spans 2^31 so the two can't BOTH widen inside one
    // BIGINT — for wider id spaces rank a (hash, id) struct instead).
    "p11_epoch_shuffle" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
          .withColumn("_shuf",
            graft.functions.HashFunctions.rolling_hash(col("doc_id").cast("string"))
              * 10000000L + col("doc_id"))
        Indexing.globalIndex(docs, col("_shuf"), buckets = 32)
          .select(col("doc_id"), col("source"), col("global_idx").as("shuffle_pos"))
          .orderBy("doc_id")
      },
      Some("""WITH h AS (
             |  SELECT doc_id, source,
             |    list_reduce(
             |      list_prepend(7::BIGINT, list_transform(
             |        string_split(CAST(doc_id AS VARCHAR), ''), c -> ord(c)::BIGINT)),
             |      (acc, c) -> (acc * 31 + c) % 2147483647)
             |      * 10000000 + doc_id AS shuf
             |  FROM documents)
             |SELECT doc_id, source,
             |  CAST(row_number() OVER (ORDER BY shuf) AS BIGINT) AS shuffle_pos
             |FROM h ORDER BY doc_id""".stripMargin)),

    // ------------------------------ temperature-balanced mixture (p10)
    // The α=0.5 rebalancing knob: each language stratum keeps
    // √(c_min/c_i) of its rows, so post-sample masses track √count —
    // big strata shrink toward small ones without flattening. The rate
    // formula deliberately normalizes by MIN, not SUM: c_min/c, sqrt and
    // the milli floor are single IEEE operations both engines compute
    // bit-for-bit, where a float sum over strata would depend on
    // summation order. Rates broadcast; the corpus never shuffles.
    "p10_temperature_mix" -> QueryDef(
      (s, dir) => Sampling.temperatureBalance(
          t(s, dir, "documents")
            .select(col("doc_id"), Text.langId(col("text")).as("pred_lang")),
          col("doc_id"), col("pred_lang"))
        .select(col("doc_id"), col("pred_lang"), col("rate_milli"))
        .orderBy("doc_id"),
      Some(s"""WITH l AS (
              |  SELECT doc_id, $langCaseSql AS pred_lang,
              |    list_reduce(
              |      list_prepend(7::BIGINT, list_transform(
              |        string_split(CAST(doc_id AS VARCHAR), ''), c -> ord(c)::BIGINT)),
              |      (acc, c) -> (acc * 31 + c) % 2147483647) % 1000 AS bucket
              |  FROM documents),
              |c AS (SELECT pred_lang, count(*) AS c FROM l GROUP BY 1),
              |m AS (SELECT min(c) AS cmin FROM c),
              |r AS (SELECT pred_lang,
              |        CAST(floor(sqrt(CAST((SELECT cmin FROM m) AS DOUBLE)
              |                        / CAST(c AS DOUBLE)) * 1000 + 0.5) AS BIGINT)
              |          AS rate_milli
              |      FROM c)
              |SELECT l.doc_id, l.pred_lang, r.rate_milli
              |FROM l JOIN r ON l.pred_lang = r.pred_lang
              |WHERE l.bucket < r.rate_milli ORDER BY l.doc_id""".stripMargin)),

    // ----------------------------- parquet schema-merge read (l08)
    // Parquet-native schema evolution (the l04 lake variant's columnar
    // twin): two writer generations with different column sets land under
    // one root; mergeSchema unions them BY NAME with null fill, and the
    // generation directory becomes a partition column. The oracle
    // reconstructs both generations from the original table.
    "l08_parquet_merge_schema" -> QueryDef(
      (s, dir) => {
        val ev = t(s, dir, "events")
        val out = slot("graft-pqmerge", dir)
        ev.select(col("event_id"), col("user_id"))
          .write.mode("overwrite").parquet(s"$out/v=1")
        ev.select(col("event_id"),
            floor(col("value") * 100 + 0.5).cast("long").as("vc"))
          .write.mode("overwrite").parquet(s"$out/v=2")
        s.read.option("mergeSchema", "true").parquet(out)
          .select(col("event_id"), col("user_id"), col("vc"), col("v").cast("long"))
          .orderBy("v", "event_id")
      },
      Some("""SELECT event_id, user_id, CAST(NULL AS BIGINT) AS vc, 1 AS v
             |FROM events
             |UNION ALL
             |SELECT event_id, CAST(NULL AS BIGINT),
             |  CAST(floor(value * 100 + 0.5) AS BIGINT), 2
             |FROM events
             |ORDER BY v, event_id""".stripMargin)),

    // --------------------------------------- quality-model scoring (t09)
    // Linear classifier inference at corpus scale: hashed bag-of-tokens ·
    // literal milli-weight vector, one unshuffled scan, no UDF. Weights
    // are generated from one fixed formula shared with the oracle SQL (the
    // stopword-inventory pattern: both sides read the same constants, so
    // they cannot drift) and integer milli-units keep the scores exact.
    "t09_quality_model" -> QueryDef(
      (s, dir) => Scoring.linearScore(t(s, dir, "documents"), "text",
          QualityWeightsMilli, biasMilli = 50L)
        .select(col("doc_id"), col("n_tokens"), col("score_milli"), col("keep"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              |  CAST(len($sqlTokens) AS BIGINT) AS n_tokens,
              |  $sqlScoreMilli AS score_milli,
              |  ($sqlScoreMilli) >= 0 AS keep
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------- URL analysis (t10)
    // Web-corpus curation keys policy (domain quotas, block lists, junk
    // path shapes) off the URL. documents has no URL column, so one is
    // synthesized deterministically from (source, lang, doc_id) — the
    // m01/m02 pattern — and the oracle builds the identical string: what
    // is verified is the PARSE (host / registrable domain / path depth /
    // query param), not the synthesis.
    "t10_url_stats" -> QueryDef(
      (s, dir) => {
        val url = concat(lit("https://www."), col("source"), lit(".org/"),
          col("lang"), lit("/doc-"), col("doc_id"), lit(".html?ref="),
          pmod(col("doc_id"), lit(5)))
        t(s, dir, "documents").select(col("doc_id"), url.as("url"))
          .select(col("doc_id"),
            Web.host(col("url")).as("host"),
            Web.registrableDomain(Web.host(col("url"))).as("domain"),
            Web.pathDepth(Web.path(col("url"))).as("path_depth"),
            Web.queryParam(col("url"), "ref").as("ref"))
          .orderBy("doc_id")
      },
      Some("""WITH u AS (SELECT doc_id,
             |    'https://www.' || source || '.org/' || lang || '/doc-' || doc_id
             |      || '.html?ref=' || ((doc_id % 5) + 5) % 5 AS url
             |  FROM documents),
             |p AS (SELECT doc_id,
             |    regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
             |    regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path,
             |    regexp_extract(url, 'ref=([0-9]+)', 1) AS ref
             |  FROM u)
             |SELECT doc_id, host,
             |  regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain,
             |  CAST(len(list_filter(string_split(path, '/'), x -> len(x) > 0)) AS BIGINT) AS path_depth,
             |  ref
             |FROM p ORDER BY doc_id""".stripMargin)),

    // ------------------------------------- corpus top n-grams (t11)
    // Corpus-level document frequency of trigram shingles, exact top-20
    // (ties broken by shingle text). The plan is the scalable shape:
    // map-side partial count below the single shuffle, then
    // TakeOrderedAndProject — never a full sort of the n-gram universe.
    // At 100 TB this is THE vocabulary/boilerplate-mining primitive.
    "t11_top_shingles" -> QueryDef(
      (s, dir) => t(s, dir, "documents")
        .select(explode(Text.shinglesOfText(col("text"), 3)).as("shingle"))
        .groupBy("shingle").agg(count(lit(1)).as("doc_freq"))
        .orderBy(col("doc_freq").desc, col("shingle")).limit(20),
      Some(s"""WITH toks AS (SELECT doc_id, $sqlTokens AS w FROM documents),
              |sh AS (
              |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
              |  FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(w) - 2, 0) + 1)) AS i) g)
              |SELECT shingle, count(*) AS doc_freq FROM sh
              |GROUP BY 1 ORDER BY doc_freq DESC, shingle LIMIT 20""".stripMargin)),

    // ---------------------------------------- char entropy (t12)
    // Code-point Shannon entropy in milli-nats (see
    // [[graft.functions.HashImpls.charEntropyMilli]] for the determinism
    // contract: ascending-code-point fold both sides, milli-rounding
    // absorbs libm ulps). The oracle recomputes the identical formula;
    // its ORDER BY c inside list() visits the same ascending sequence
    // because UTF-8 byte order equals code-point order.
    "t12_char_entropy" -> QueryDef(
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), Text.charEntropyMilli(col("text")).as("entropy_milli"))
        .orderBy("doc_id"),
      Some("""WITH cc AS (
             |  SELECT doc_id, c, count(*)::DOUBLE AS k
             |  FROM (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents) u
             |  GROUP BY doc_id, c),
             |ag AS (
             |  SELECT doc_id, sum(k) AS n, list(k * ln(k) ORDER BY c) AS terms
             |  FROM cc GROUP BY doc_id)
             |SELECT d.doc_id,
             |  CAST(coalesce(floor((ln(ag.n) - list_reduce(ag.terms, (a, b) -> a + b) / ag.n) * 1000 + 0.5), 0) AS BIGINT) AS entropy_milli
             |FROM documents d LEFT JOIN ag ON d.doc_id = ag.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    // ------------------------------------------- subword tokens (t13)
    // Greedy longest-prefix wordpiece with character fallback — the exact
    // token-count primitive (t03's regex count is the cheap proxy). One
    // codegen'd kernel pass per row; the oracle replays the identical
    // greedy walk with a recursive CTE over the same vocab (longest
    // matching piece, else consume one char as fallback), so the
    // segmentation itself is verified, not just a count's plausibility.
    "t13_subword" -> QueryDef(
      (s, dir) => {
        val stats = Text.wordpieceStats(Text.tokens(col("text")))
        t(s, dir, "documents")
          .select(col("doc_id"),
            element_at(stats, 1).as("n_pieces"),
            element_at(stats, 2).as("n_fallback"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE
              |$subwordCtes
              |SELECT d.doc_id, coalesce(n_pieces, 0) AS n_pieces,
              |  coalesce(n_fallback, 0) AS n_fallback
              |FROM documents d LEFT JOIN wp ON d.doc_id = wp.doc_id
              |ORDER BY d.doc_id""".stripMargin)),

    // ------------------------------------------- HTML stripping (t16)
    // Markup → text before any quality/dedup signal (raw tags inflate
    // n-grams and split identical prose into distinct shingles). The
    // fixture wraps each document's words in tags and injects a real
    // entity ('q' → &quot;), so the strip exercises tag removal, entity
    // decode order, and whitespace collapse; the oracle replays the
    // identical synthesis and the identical strip.
    "t16_html_strip" -> QueryDef(
      (s, dir) => {
        val html = concat(lit("<html><p class=\"c\">"),
          regexp_replace(regexp_replace(col("text"), "q", "&quot;"), " ", "</p> <p>"),
          lit("</p></html>"))
        t(s, dir, "documents")
          .select(col("doc_id"), Web.stripHtml(html).as("clean"))
          .select(col("doc_id"),
            length(col("clean")).cast("long").as("n_clean"),
            substring(col("clean"), 1, 60).as("head"))
          .orderBy("doc_id")
      },
      Some("""WITH h AS (SELECT doc_id,
             |    '<html><p class="c">'
             |      || replace(replace(text, 'q', '&quot;'), ' ', '</p> <p>')
             |      || '</p></html>' AS html
             |  FROM documents),
             |c AS (SELECT doc_id, trim(regexp_replace(
             |    replace(replace(replace(replace(replace(
             |      regexp_replace(html, '<[^>]*>', ' ', 'g'),
             |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&'),
             |    '[ \t\n\r]+', ' ', 'g')) AS clean FROM h)
             |SELECT doc_id, CAST(length(clean) AS BIGINT) AS n_clean,
             |  substr(clean, 1, 60) AS head
             |FROM c ORDER BY doc_id""".stripMargin)),

    // ----------------------------------- fuzzy (edit-distance) match (t17)
    // Entity-resolution primitive: each document's closest same-source
    // neighbor by levenshtein over a fixed head window (ties → lowest
    // id). The BLOCKING KEY (source/domain) is what bounds the quadratic
    // at scale — per-block pairs only, never corpus×corpus — and the
    // Entity.guardBlockSize wrapper makes that bound LOUD: one viral
    // domain past maxBlockRows raises in-plan instead of pinning a
    // quadratic onto one key's tasks (a threshold-form variant would then
    // use Entity.editPairs, the positional-q-gram candidate generator —
    // see e02; nearest-neighbor semantics has no threshold to index on).
    // Both engines implement the standard DP edit distance, so values
    // are integer-exact.
    "t17_fuzzy_match" -> QueryDef(
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
          substring(col("text"), 1, 24).as("head"))
        // guard ONE side only (side a scans every row, so every block is
        // checked once; guarding both sides doubles the count subtree).
        // spread the probe side (r17, guide §2.5): the pair join fans out
        // inside a's scan stage (b broadcasts), so an unsplittable input
        // file serializes ALL the DP work onto one task without it
        val a = graft.operators.Entity.guardBlockSize(
            graft.operators.Materialize.spread(d, col("doc_id")), col("source"),
            100000L, "t17 fuzzy-match")
          .select(col("doc_id").as("a_id"), col("source"), col("head").as("a_head"))
        val b = d.select(col("doc_id").as("b_id"), col("source"), col("head").as("b_head"))
        // Levenshtein is symmetric: evaluate each unordered pair ONCE
        // (a_id < b_id — half the DP work, the dominant cost) and mirror
        // the result row instead of re-running the DP in both directions.
        // localCheckpoint makes the evaluate-once claim TRUE (r16): the
        // union's two branches re-EXPAND `half` in the physical plan, so
        // without materialization the join + DP ran twice anyway
        val half = a.join(b, "source").filter(col("a_id") < col("b_id"))
          .select(col("a_id"), col("b_id"),
            levenshtein(col("a_head"), col("b_head")).cast("long").as("dist"))
          .localCheckpoint()
        val sym = half.unionAll(half.select(col("b_id").as("a_id"),
          col("a_id").as("b_id"), col("dist")))
        // min(struct(dist, b_id)) replaces the per-key row_number window:
        // the same (dist, id) tie-break, but as a partial-aggregable min —
        // map-side combine instead of a full per-key sort.
        sym.groupBy(col("a_id"))
          .agg(min(struct(col("dist"), col("b_id"))).as("m"))
          .select(col("a_id").as("doc_id"), col("m.b_id").as("match_id"),
            col("m.dist").as("dist"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, source, substr(text, 1, 24) AS head FROM documents),
             |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             |        CAST(levenshtein(a.head, b.head) AS BIGINT) AS dist
             |      FROM d a JOIN d b ON a.source = b.source AND a.doc_id <> b.doc_id),
             |r AS (SELECT a_id, b_id, dist,
             |        row_number() OVER (PARTITION BY a_id ORDER BY dist, b_id) AS rk
             |      FROM p)
             |SELECT a_id AS doc_id, b_id AS match_id, dist
             |FROM r WHERE rk = 1 ORDER BY doc_id""".stripMargin)),

    // ------------------------------- exact heavy hitters (t18)
    // Vocabulary heavy hitters over the corpus, EXACT, without the
    // full-distribution shuffle the naive GROUP BY pays: a per-partition
    // Misra–Gries pass nominates a proven-superset candidate set
    // (bounded at k·partitions values — broadcastable by construction),
    // then one aggregate recounts candidates exactly and tail-buckets
    // the rest, which also yields exact N. Integer cross-multiplication
    // decides the φ = 2/1000 threshold — no float boundary. The oracle
    // is the naive recompute in DuckDB over the same tokenizer.
    "t18_heavy_hitters" -> QueryDef(
      (s, dir) => {
        val terms = t(s, dir, "documents")
          .select(explode(Text.tokens(col("text"))).as("term"))
        Frequency.heavyHitters(terms, "term", phiNum = 2L, phiDen = 1000L)
          .orderBy("term")
      },
      Some(s"""WITH terms AS (SELECT unnest($sqlTokens) AS term FROM documents),
              |n AS (SELECT count(*) AS n FROM terms),
              |c AS (SELECT term, count(*) AS cnt FROM terms GROUP BY 1)
              |SELECT term, CAST(cnt AS BIGINT) AS cnt FROM c, n
              |WHERE cnt * 1000 >= n * 2 ORDER BY term""".stripMargin)),

    // ------------------------------- entity canonicalization (e01)
    // The dedup-survivorship composition end to end: blocked fuzzy-match
    // edges (levenshtein over the t17 head window ≤ 10, evaluated once per
    // unordered pair) → connected components (the d11 operator — min-label
    // + pointer doubling, O(log diameter)) → per-cluster survivorship:
    // every document mapped to its cluster, the min-id member marked
    // canonical, cluster sizes attached. Isolated documents form their
    // own singleton clusters via the left join + coalesce, so the output
    // is a TOTAL mapping — the thing a downstream "replace each record
    // with its canonical form" step actually needs. maxBlockRows arms the
    // in-plan viral-block guard (one 10⁶-record domain raises loudly
    // instead of going quadratic — the indexed path in e02 is the escape
    // hatch). The oracle replays reachability with a recursive CTE (the
    // d11 pattern) over the same edge predicate.
    "e01_entity_canonical" -> QueryDef(
      (s, dir) => graft.operators.Entity.canonicalize(
          t(s, dir, "documents").select(col("doc_id"), col("source"), col("text")),
          "doc_id", col("source"), substring(col("text"), 1, 24), maxDist = 10,
          maxBlockRows = 100000L)
        .orderBy("doc_id"),
      Some("""WITH RECURSIVE d AS (
             |  SELECT doc_id, source, substr(text, 1, 24) AS head FROM documents),
             |e0 AS (
             |  SELECT a.doc_id AS u, b.doc_id AS v FROM d a JOIN d b
             |  ON a.source = b.source AND a.doc_id < b.doc_id
             |    AND levenshtein(a.head, b.head) <= 10),
             |edges AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
             |cc(node, label) AS (
             |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
             |  UNION
             |  SELECT e.u, c.label FROM edges e JOIN cc c ON c.node = e.v),
             |lab AS (SELECT node, min(label) AS cluster_id FROM cc GROUP BY node),
             |m AS (
             |  SELECT doc_id, coalesce(lab.cluster_id, doc_id) AS cluster_id
             |  FROM documents LEFT JOIN lab ON documents.doc_id = lab.node)
             |SELECT doc_id, cluster_id, doc_id = cluster_id AS is_canonical,
             |  count(*) OVER (PARTITION BY cluster_id) AS n_members
             |FROM m ORDER BY doc_id""".stripMargin)),

    // -------------------- UNBLOCKED entity canonicalization (e02)
    // The same cluster/survivorship contract as e01 with NO blocking key:
    // candidate pairs come from the positional q-gram prefix index
    // (Ed-Join — each key indexes only its k·q+1 globally-rarest bigrams;
    // candidates must share an indexed gram at positions within k and
    // lengths within k), verified by threshold-form levenshtein — the
    // corpus NEVER self-joins, which is what survives the viral-block
    // case that raises e01's guard. The oracle replays the full quadratic
    // edge predicate (oracle-scale only) + recursive-CTE reachability:
    // hash-exactness proves the index generates EVERY true candidate.
    // q=4 against this corpus's tiny word vocabulary (see the
    // editCandidates scaladoc on gram selectivity); k=2 is the realistic
    // near-dup threshold for a 24-char key.
    "e02_entity_canonical_indexed" -> QueryDef(
      (s, dir) => graft.operators.Entity.canonicalizeIndexed(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", substring(col("text"), 1, 24), maxDist = 2, q = 4)
        .orderBy("doc_id"),
      Some("""WITH RECURSIVE d AS (
             |  SELECT doc_id, substr(text, 1, 24) AS head FROM documents),
             |e0 AS (
             |  SELECT a.doc_id AS u, b.doc_id AS v FROM d a JOIN d b
             |  ON a.doc_id < b.doc_id AND levenshtein(a.head, b.head) <= 2),
             |edges AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
             |cc(node, label) AS (
             |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
             |  UNION
             |  SELECT e.u, c.label FROM edges e JOIN cc c ON c.node = e.v),
             |lab AS (SELECT node, min(label) AS cluster_id FROM cc GROUP BY node),
             |m AS (
             |  SELECT doc_id, coalesce(lab.cluster_id, doc_id) AS cluster_id
             |  FROM documents LEFT JOIN lab ON documents.doc_id = lab.node)
             |SELECT doc_id, cluster_id, doc_id = cluster_id AS is_canonical,
             |  count(*) OVER (PARTITION BY cluster_id) AS n_members
             |FROM m ORDER BY doc_id""".stripMargin)),

    // -------------- segment-indexed entity canonicalization (e03)
    // The SAME contract as e02 through the OTHER candidate generator:
    // PassJoin segments (each key split into k+1 even segments; ed ≤ k
    // leaves one index-side segment appearing as an exact aligned
    // substring of the other key) instead of q-gram prefixes. Measured
    // on this corpus's tiny word vocabulary at sf0.1: 61k candidates at
    // k=2 (109k before the multi-match-aware start-window selection,
    // measured by `graft.examples.RehearsalR10` at commit 57b8149) where
    // the q-gram index (q=4) generates 545k — exact-substring matching
    // stays selective where short grams go viral. The oracle is
    // e02's full-quadratic recursive CTE verbatim: hash-exactness proves
    // THIS generator, too, produces every true candidate.
    "e03_entity_canonical_segment" -> QueryDef(
      (s, dir) => graft.operators.Entity.canonicalizeIndexed(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", substring(col("text"), 1, 24), maxDist = 2,
          generator = "segment")
        .orderBy("doc_id"),
      Some("""WITH RECURSIVE d AS (
             |  SELECT doc_id, substr(text, 1, 24) AS head FROM documents),
             |e0 AS (
             |  SELECT a.doc_id AS u, b.doc_id AS v FROM d a JOIN d b
             |  ON a.doc_id < b.doc_id AND levenshtein(a.head, b.head) <= 2),
             |edges AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
             |cc(node, label) AS (
             |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
             |  UNION
             |  SELECT e.u, c.label FROM edges e JOIN cc c ON c.node = e.v),
             |lab AS (SELECT node, min(label) AS cluster_id FROM cc GROUP BY node),
             |m AS (
             |  SELECT doc_id, coalesce(lab.cluster_id, doc_id) AS cluster_id
             |  FROM documents LEFT JOIN lab ON documents.doc_id = lab.node)
             |SELECT doc_id, cluster_id, doc_id = cluster_id AS is_canonical,
             |  count(*) OVER (PARTITION BY cluster_id) AS n_members
             |FROM m ORDER BY doc_id""".stripMargin)),

    // ------------ INCREMENTAL entity canonicalization (e04)
    // The nightly "new records vs the entity table" job: a third of the
    // documents arrive as a fresh batch against the other two thirds
    // already resolved (by e03's segment path). The corpus NEVER
    // self-joins — it contributes k+1 slim segment rows per record to an
    // asymmetric PassJoin probe plus its metadata-sized cluster-structure
    // edges; bridging batch records MERGE existing clusters through the
    // shared connected components. The oracle is the e02/e03 full-
    // quadratic CTE over ALL documents: hash-exactness proves the
    // incremental composition equals the full re-resolution (the
    // documented completeness precondition made checkable).
    "e04_entity_canonical_incremental" -> QueryDef(
      (s, dir) => {
        val head = substring(col("text"), 1, 24)
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val corpusDocs = docs.filter(col("doc_id") % 3 =!= 0)
        val batchDocs = docs.filter(col("doc_id") % 3 === 0)
        val resolved = graft.operators.Entity.canonicalizeIndexed(
            corpusDocs, "doc_id", head, maxDist = 2, generator = "segment")
          .select(col("doc_id"), col("cluster_id"))
          .join(corpusDocs, "doc_id")
        graft.operators.Entity.canonicalizeIncremental(
            batchDocs, resolved, "doc_id", "cluster_id", head, head,
            maxDist = 2)
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE d AS (
             |  SELECT doc_id, substr(text, 1, 24) AS head FROM documents),
             |e0 AS (
             |  SELECT a.doc_id AS u, b.doc_id AS v FROM d a JOIN d b
             |  ON a.doc_id < b.doc_id AND levenshtein(a.head, b.head) <= 2),
             |edges AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
             |cc(node, label) AS (
             |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
             |  UNION
             |  SELECT e.u, c.label FROM edges e JOIN cc c ON c.node = e.v),
             |lab AS (SELECT node, min(label) AS cluster_id FROM cc GROUP BY node),
             |m AS (
             |  SELECT doc_id, coalesce(lab.cluster_id, doc_id) AS cluster_id
             |  FROM documents LEFT JOIN lab ON documents.doc_id = lab.node)
             |SELECT doc_id, cluster_id, doc_id = cluster_id AS is_canonical,
             |  count(*) OVER (PARTITION BY cluster_id) AS n_members
             |FROM m ORDER BY doc_id""".stripMargin)),

    // --------------------------------- unigram log-probability (t15)
    // The perplexity-filter primitive (CCNet-style): score each document
    // by the mean log-probability of its tokens under the corpus's own
    // unigram model. Two-pass: ONE shuffle builds the unigram table; the
    // corpus total (denominator) and the frequency-floored vocab both
    // derive from that same aggregate — vocab-sized inputs, never a
    // second pass over the exploded term stream (ReuseExchange shares the
    // unigram shuffle between the two consumers). The broadcast vocab is
    // BOUNDED by the floor: hapax terms (tf < vocabFloor) are dropped and
    // score as OOV under a pinned half-count fallback (0.5/total) — the
    // statistically right perplexity filter (hapax mass carries no model
    // signal, only typos) and the invariant that makes "the vocab
    // broadcasts" true at web scale, where the floor is raised until the
    // kept vocab fits the broadcast budget. All-negative ln terms, so no
    // cancellation: milli-rounding absorbs summation order.
    "t15_unigram_logprob" -> QueryDef(
      (s, dir) => {
        val vocabFloor = 2L // tf >= floor stays in-vocab; below → OOV
        val docs = t(s, dir, "documents")
        val terms = docs.select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
        val unigram = terms.groupBy("term").agg(count(lit(1)).as("tf"))
        val kept = unigram.filter(col("tf") >= vocabFloor)
        val tot = unigram.agg(sum(col("tf")).cast("double").as("_total"))
        terms.join(broadcast(kept), Seq("term"), "left")
          .crossJoin(broadcast(tot))
          .groupBy("doc_id")
          .agg(floor(avg(log(coalesce(col("tf").cast("double"), lit(0.5))
              / col("_total"))) * 1000 + 0.5)
            .cast("long").as("mean_logprob_milli"))
          .orderBy("doc_id")
      },
      Some(s"""WITH terms AS (
              |  SELECT doc_id, unnest($sqlTokens) AS term FROM documents),
              |unigram AS (SELECT term, count(*) AS tf FROM terms GROUP BY term),
              |total AS (SELECT sum(tf)::DOUBLE AS n FROM unigram),
              |kept AS (SELECT term, tf FROM unigram WHERE tf >= 2)
              |SELECT doc_id,
              |  CAST(floor(avg(ln(coalesce(tf, 0.5) / (SELECT n FROM total)))
              |    * 1000 + 0.5) AS BIGINT) AS mean_logprob_milli
              |FROM terms LEFT JOIN kept USING (term)
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ------------------------------------- unicode normalization (t14)
    // NFC before hashing/dedup: composed ('é') and decomposed ('e'+U+0301)
    // encodings of the SAME text otherwise defeat exact dedup. The fixture
    // decomposes every 'e' deterministically, then normalizes back; the
    // oracle does the identical replace + nfc_normalize — the Unicode
    // normalization algorithm is fully specified, so conformant engines
    // agree byte-for-byte (hash-exact by standard, not by luck).
    "t14_nfc_normalize" -> QueryDef(
      (s, dir) => {
        val dec = regexp_replace(col("text"), "e", "e\u0301") // e + combining acute
        val nfc = org.apache.spark.sql.graft.exprs.unicode_normalize(dec, "NFC")
        t(s, dir, "documents")
          .select(col("doc_id"),
            length(dec).cast("long").as("n_decomposed"),
            length(nfc).cast("long").as("n_nfc"),
            substring(nfc, 1, 40).as("head"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, replace(text, 'e', 'e' || chr(769)) AS dec FROM documents)
             |SELECT doc_id,
             |  CAST(length(dec) AS BIGINT) AS n_decomposed,
             |  CAST(length(nfc_normalize(dec)) AS BIGINT) AS n_nfc,
             |  substr(nfc_normalize(dec), 1, 40) AS head
             |FROM d ORDER BY doc_id""".stripMargin)),

    // --------------------------------------- weighted sampling (p07)
    // Efraimidis–Spirakis weighted-without-replacement top-k (see
    // [[operators.Sampling.weightedTopK]]): u is a pure rolling-hash
    // function of the key, so the oracle replays the identical draw and
    // the SAME 100 docs win on both engines. Selection is by full-double
    // A-ES keys (never materialized in the output) — a cross-libm pow ulp
    // could in principle flip a boundary row, but adjacent keys differ by
    // ~1e-3, not 1e-16.
    "p07_weighted_sample" -> QueryDef(
      (s, dir) => Sampling.weightedTopK(
          t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          col("doc_id"), col("n_chars"), 100)
        .orderBy("doc_id"),
      Some("""WITH k AS (
             |  SELECT doc_id, n_chars,
             |    pow((list_reduce(
             |        list_prepend(7::BIGINT, list_transform(
             |          string_split(CAST(doc_id AS VARCHAR), ''), c -> ord(c)::BIGINT)),
             |        (acc, c) -> (acc * 31 + c) % 2147483647) + 1) / 2147483648.0,
             |      1.0::DOUBLE / n_chars) AS aes
             |  FROM documents)
             |SELECT doc_id, n_chars
             |FROM (SELECT doc_id, n_chars FROM k ORDER BY aes DESC, doc_id LIMIT 100)
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------ pack by exact subword budget (p08)
    // The t13 × p02 composition: sequences packed by the EXACT subword
    // count (pieces + fallbacks — what the training run actually pays),
    // not the whitespace-token proxy. Packing.packBy takes any size
    // expression; the oracle reuses the t13 recursive walk and the p02
    // packing algebra unchanged — composability is the point.
    "p08_pack_subword" -> QueryDef(
      (s, dir) => {
        val st = Text.wordpieceStats(Text.tokens(col("text")))
        Packing.binSummary(Packing.packBy(t(s, dir, "documents"), "doc_id",
            element_at(st, 1) + element_at(st, 2), capacity = 1024L, buckets = 8))
          .orderBy("bucket", "bin")
      },
      Some(s"""WITH RECURSIVE
              |$subwordCtes,
              |tk AS (
              |  SELECT d.doc_id,
              |    coalesce(n_pieces + n_fallback, 0) AS n_tokens,
              |    list_reduce(
              |      list_prepend(7::BIGINT, list_transform(
              |        string_split(CAST(d.doc_id AS VARCHAR), ''), c -> ord(c)::BIGINT)),
              |      (acc, c) -> (acc * 31 + c) % 2147483647) % 8 AS bucket
              |  FROM documents d LEFT JOIN wp ON d.doc_id = wp.doc_id),
              |c AS (
              |  SELECT doc_id, bucket, n_tokens,
              |    COALESCE(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
              |  FROM tk)
              |SELECT bucket, CAST(floor(cum_before / 1024) AS BIGINT) AS bin,
              |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
              |FROM c GROUP BY 1, 2 ORDER BY bucket, bin""".stripMargin)),

    // ------------------------------------------- z-order layout (p06)
    // The write-side clustering primitive (see [[operators.Layout]]):
    // verified here at the z-VALUE level — the oracle recomputes the
    // Morton interleave per bit in plain SQL — while LayoutSpec asserts
    // the layout property itself (per-partition extents bounded in BOTH
    // dimensions after the range exchange).
    "p06_zorder_index" -> QueryDef(
      (s, dir) => t(s, dir, "events")
        .select(col("event_id"),
          Layout.zvalue(col("user_id"), unix_timestamp(col("ts"))).as("zval"))
        .orderBy("event_id"),
      Some("""SELECT event_id,
             |  list_reduce(list_transform(range(0, 31), i ->
             |    ((((user_id & 2147483647) >> i) & 1) << (2*i))
             |      | ((((CAST(floor(epoch(ts)) AS BIGINT) & 2147483647) >> i) & 1) << (2*i + 1))),
             |    (a, b) -> a | b) AS zval
             |FROM events ORDER BY event_id""".stripMargin)),

    // --------------------------------------------- link rank (g01)
    // PageRank over a deterministic synthetic link graph (3 out-links per
    // doc via affine maps mod N — the m01/m02 synthesis pattern): the
    // link-authority signal web curation uses for crawl prioritization
    // and quality weighting. 10 fixed power iterations (see
    // [[operators.PageRank]] for the edges-never-move scale shape); the
    // oracle unrolls the identical iteration. Micro-units absorb float
    // summation order.
    "g01_linkrank" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents").select(col("doc_id"))
        val n = docs.count()
        def edgeSet(a: Int, b: Int) = docs.select(col("doc_id").as("src"),
          pmod(col("doc_id") * a + b, lit(n)).as("dst"))
        val edges = edgeSet(7, 1).unionAll(edgeSet(13, 5)).unionAll(edgeSet(31, 11))
        PageRank.run(docs.select(col("doc_id").as("id")), edges, 0.85, LinkRankIters)
          .select(col("id").as("doc_id"),
            floor(col("pr") * 1000000 + 0.5).cast("long").as("rank_micro"))
          .orderBy("doc_id")
      },
      Some(linkRankOracle)),

    // --------------------------------------------- triangle counting (g02)
    // Per-node triangle counts over a planted undirected graph (K4 cliques
    // per 4-id block — 4 triangles each — plus one affine noise map; same
    // doc_id-arithmetic synthesis as g01, so the oracle rebuilds the exact
    // graph). The scale shape is the standard degree-orientation
    // enumeration: orient every edge from its (degree, id)-smaller
    // endpoint, so the oriented graph is a DAG whose out-degrees are
    // bounded by O(√m) — wedge generation (the first self-join) is
    // O(m^{3/2}) total instead of Σ deg² of the hub nodes, and each
    // triangle appears exactly once (no ÷6 dedup). All three joins are
    // plain keyed shuffles; degrees cost one groupBy over the edge table.
    "g02_triangles" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents").select(col("doc_id"))
        val n = docs.count()
        val cliq = (1 to 3).map(j => docs.selectExpr("doc_id AS u",
          s"doc_id DIV 4 * 4 + ((doc_id % 4 + $j) % 4) AS v"))
        val noise = docs.selectExpr("doc_id AS u", s"(7*doc_id + 1) % $n AS v")
        graft.operators.Graph.triangleCounts((cliq :+ noise).reduce(_ unionAll _))
          .select(col("node").as("doc_id"), col("n_tri"))
          .orderBy("doc_id")
      },
      Some("""WITH ids AS (SELECT doc_id AS id FROM documents),
             |nn AS (SELECT count(*) AS n FROM ids),
             |e0 AS (
             |  SELECT id AS u, (id // 4) * 4 + ((id % 4 + j) % 4) AS v
             |  FROM ids, (SELECT unnest([1, 2, 3]) AS j)
             |  UNION ALL SELECT id, (7 * id + 1) % (SELECT n FROM nn) FROM ids),
             |und AS (SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v
             |        FROM e0 WHERE u <> v),
             |deg AS (SELECT node, count(*) AS d FROM (
             |          SELECT u AS node FROM und UNION ALL SELECT v FROM und)
             |        GROUP BY 1),
             |o AS (
             |  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
             |         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst
             |  FROM und e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v),
             |tri AS (
             |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
             |  FROM o e1 JOIN o e2 ON e1.dst = e2.src
             |  JOIN o e3 ON e3.src = e1.src AND e3.dst = e2.dst)
             |SELECT doc_id, count(*) AS n_tri FROM (
             |  SELECT a AS doc_id FROM tri
             |  UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ------------------------------------- duplicated passage spans (d22)
    // Exact-substring (passage-level) dedup detection, the RefinedWeb-style
    // complement to d19's line dedup: find maximal token spans whose every
    // 5-gram also appears in ANOTHER document. Positional shingles come
    // from lead() windows over the exploded token stream (linear work —
    // no O(L²) per-doc array slicing); cross-corpus duplicate 5-grams are
    // one count-distinct aggregate keyed by shingle; the surviving
    // positions regroup per document and close into maximal runs by the
    // gap-and-islands trick (pos − row_number is constant exactly on a
    // consecutive run). Spans shorter than 2 shingles (6 tokens) drop.
    // Three keyed shuffles total (doc_id, shingle, doc_id), each on the
    // join/group key it needs — nothing global, nothing quadratic.
    "d22_dup_passages" -> QueryDef(
      (s, dir) => Dedup.dupPassages(t(s, dir, "documents"), "doc_id", "text",
          n = 5, minShingles = 2)
        .orderBy("doc_id", "start_tok"),
      Some(s"""WITH d AS (SELECT doc_id, $sqlTokens AS w FROM documents),
              |toks AS (
              |  SELECT doc_id, i - 1 AS pos, w[i] AS tok FROM d,
              |    LATERAL (SELECT unnest(range(1, greatest(len(w), 0) + 1)) AS i) g),
              |sh0 AS (
              |  SELECT doc_id, pos,
              |    concat_ws(' ', tok, lead(tok, 1) OVER wd, lead(tok, 2) OVER wd,
              |              lead(tok, 3) OVER wd, lead(tok, 4) OVER wd) AS shv,
              |    lead(tok, 4) OVER wd AS t4
              |  FROM toks WINDOW wd AS (PARTITION BY doc_id ORDER BY pos)),
              |sh AS (SELECT doc_id, pos, shv FROM sh0 WHERE t4 IS NOT NULL),
              |dup AS (SELECT shv FROM (
              |          SELECT shv, count(DISTINCT doc_id) AS nd FROM sh GROUP BY 1)
              |        WHERE nd > 1),
              |m AS (
              |  SELECT s.doc_id, s.pos,
              |    row_number() OVER (PARTITION BY s.doc_id ORDER BY s.pos) AS rn
              |  FROM sh s JOIN dup USING (shv))
              |SELECT doc_id, CAST(min(pos) AS BIGINT) AS start_tok,
              |  CAST(max(pos) + 4 AS BIGINT) AS end_tok, count(*) AS n_shingles
              |FROM m GROUP BY doc_id, pos - rn HAVING count(*) >= 2
              |ORDER BY doc_id, start_tok""".stripMargin)),

    // --------------------------------------- binary-file source (l05)
    // The real multimodal ingest path: media arrives as FILES, and Spark's
    // `binaryFile` source is the distributed scan that turns a directory
    // into (path, length, content) rows — partitioned by file, no driver
    // involvement at read time. The fixture synthesis (one .bin per
    // document, content = the text's UTF-8 bytes) is driver-side test
    // plumbing only; the oracle recomputes length and md5 from the
    // ORIGINAL table, so any byte lost or reordered through the
    // write→scan round-trip hash-mismatches. DuckDB's md5(VARCHAR) hashes
    // the UTF-8 bytes — exactly what Spark's md5(BINARY) sees.
    "l05_binaryfile_source" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val out = freshDir("graft-binfile-src", dir)
        val outPath = java.nio.file.Paths.get(new java.net.URI(out))
        java.nio.file.Files.createDirectories(outPath)
        docs.collect().foreach { r =>
          java.nio.file.Files.write(outPath.resolve(f"doc_${r.getLong(0)}%06d.bin"),
            r.getString(1).getBytes("UTF-8")); ()
        }
        s.read.format("binaryFile").load(out)
          .select(
            regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1).cast("long").as("doc_id"),
            col("length"), md5(col("content")).as("content_md5"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS length,
             |  md5(text) AS content_md5
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ------------------------------- passage scrubbing (d23)
    // The WRITE side of d22: rewrite each document with its duplicated
    // passages removed — tokens inside any detected span drop, survivors
    // rejoin in original order, untouched documents pass through with
    // zero removed. The md5 over the rebuilt text pins the reassembly
    // byte-exactly; the oracle rebuilds the same spans and scrubs with
    // NOT EXISTS + ordered string_agg.
    "d23_passage_scrub" -> QueryDef(
      (s, dir) => Dedup.scrubDupPassages(t(s, dir, "documents"), "doc_id", "text",
          n = 5, minShingles = 2)
        .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
          col("kept_tokens"), col("removed_tokens"))
        .orderBy("doc_id"),
      Some(s"""WITH d AS (SELECT doc_id, $sqlTokens AS w FROM documents),
              |toks AS (
              |  SELECT doc_id, i - 1 AS pos, w[i] AS tok FROM d,
              |    LATERAL (SELECT unnest(range(1, greatest(len(w), 0) + 1)) AS i) g),
              |sh0 AS (
              |  SELECT doc_id, pos,
              |    concat_ws(' ', tok, lead(tok, 1) OVER wd, lead(tok, 2) OVER wd,
              |              lead(tok, 3) OVER wd, lead(tok, 4) OVER wd) AS shv,
              |    lead(tok, 4) OVER wd AS t4
              |  FROM toks WINDOW wd AS (PARTITION BY doc_id ORDER BY pos)),
              |sh AS (SELECT doc_id, pos, shv FROM sh0 WHERE t4 IS NOT NULL),
              |dup AS (SELECT shv FROM (
              |          SELECT shv, count(DISTINCT doc_id) AS nd FROM sh GROUP BY 1)
              |        WHERE nd > 1),
              |m AS (
              |  SELECT s.doc_id, s.pos,
              |    row_number() OVER (PARTITION BY s.doc_id ORDER BY s.pos) AS rn
              |  FROM sh s JOIN dup USING (shv)),
              |spans AS (
              |  SELECT doc_id, min(pos) AS sp_s, max(pos) + 4 AS sp_e
              |  FROM m GROUP BY doc_id, pos - rn HAVING count(*) >= 2),
              |dr AS (SELECT doc_id, $sqlTokensRaw AS wr FROM documents),
              |tokr AS (
              |  SELECT doc_id, i - 1 AS pos, wr[i] AS tok FROM dr,
              |    LATERAL (SELECT unnest(range(1, greatest(len(wr), 0) + 1)) AS i) g),
              |kept AS (
              |  SELECT t.doc_id, t.pos, t.tok FROM tokr t
              |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
              |    WHERE sp.doc_id = t.doc_id AND t.pos BETWEEN sp.sp_s AND sp.sp_e)),
              |r AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
              |        count(*) AS kept_tokens FROM kept GROUP BY doc_id),
              |tot AS (SELECT doc_id, CAST(len(wr) AS BIGINT) AS total FROM dr)
              |SELECT tot.doc_id, md5(coalesce(r.clean_text, '')) AS clean_md5,
              |  CAST(coalesce(r.kept_tokens, 0) AS BIGINT) AS kept_tokens,
              |  CAST(tot.total - coalesce(r.kept_tokens, 0) AS BIGINT) AS removed_tokens
              |FROM tot LEFT JOIN r ON tot.doc_id = r.doc_id
              |ORDER BY tot.doc_id""".stripMargin)),

    // ------------------------------------------ source interleaving (p09)
    // Curriculum/mixture interleave: order the corpus so any contiguous
    // training shard reads a balanced round-robin of sources (position =
    // rank of (per-source sequence, source)). The per-source sequence is a
    // keyed window; the global position rides [[Indexing.globalIndex]]'s
    // two-pass range-bucket numbering over a packed (seq, source) key — no
    // single-partition global window touches the corpus. The packed key is
    // exact: src_seq · |sources| + dense source index, unique by
    // construction. |sources| is model-sized (a domain/dataset registry).
    "p09_interleave" -> QueryDef(
      (s, dir) => {
        val wSrc = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy("doc_id")
        val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
        val seqd = docs.withColumn("src_seq", row_number().over(wSrc).cast("long"))
        // dense 0-based source index; the source registry is model-sized.
        // Derived from `docs`, not `seqd` (r16): the distinct doesn't need
        // the sequence window, and referencing seqd re-ran the window here
        val srcs = docs.select("source").distinct()
          .withColumn("src_idx", row_number().over(
            org.apache.spark.sql.expressions.Window.orderBy("source")).cast("long") - 1)
        val nSrc = srcs.count()
        val keyed = seqd.join(broadcast(srcs), "source")
          .withColumn("mix_key", col("src_seq") * nSrc + col("src_idx"))
        Indexing.globalIndex(keyed, col("mix_key"), buckets = 32)
          .select(col("doc_id"), col("source"), col("src_seq"),
            col("global_idx").as("mix_pos"))
          .orderBy("doc_id")
      },
      Some("""WITH s AS (
             |  SELECT doc_id, source,
             |    CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
             |         AS BIGINT) AS src_seq
             |  FROM documents)
             |SELECT doc_id, source, src_seq,
             |  CAST(row_number() OVER (ORDER BY src_seq, source) AS BIGINT) AS mix_pos
             |FROM s ORDER BY doc_id""".stripMargin)),

    // --------------------------------------------- per-source quota (p05)
    // Web-corpus domain capping: at most 50 docs per source, preferring
    // higher t09 quality score (ties → lower doc_id). Registered with
    // presalts=4 — the skew-bounded two-window plan — which is
    // result-identical to the plain per-source window the oracle runs.
    "p05_source_cap" -> QueryDef(
      (s, dir) => Sampling.capPerStratum(
          Scoring.linearScore(t(s, dir, "documents"), "text",
              QualityWeightsMilli, biasMilli = 50L)
            .select(col("doc_id"), col("source"), col("score_milli")),
          col("source"), col("score_milli"), col("doc_id"),
          k = 50, presalts = 4)
        .orderBy("source", "doc_id"),
      Some(s"""WITH sc AS (
              |  SELECT doc_id, source, $sqlScoreMilli AS score_milli FROM documents),
              |r AS (
              |  SELECT doc_id, source, score_milli,
              |    row_number() OVER (PARTITION BY source
              |      ORDER BY score_milli DESC, doc_id) AS rk
              |  FROM sc)
              |SELECT doc_id, source, score_milli FROM r
              |WHERE rk <= 50 ORDER BY source, doc_id""".stripMargin)),

    // --------------------------------------------- global indexing (p04)
    // Contiguous stable training-example ids, 1..N in doc_id order. The
    // oracle IS the single-partition global window; the Spark side is the
    // scale-safe two-pass (range buckets → model-sized offset table →
    // parallel per-bucket ranks) that produces the identical numbering
    // without moving the corpus through one task.
    "p04_global_index" -> QueryDef(
      (s, dir) => Indexing.globalIndex(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          col("doc_id"), buckets = 32)
        .orderBy("doc_id"),
      Some("""SELECT doc_id, source,
             |  CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS global_idx
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------- latest-by-key view
    // Upsert view over the append-only event log: current state per user =
    // the row with the max (ts, event_id). One shuffle + per-partition
    // top-1 — the standard CDC "latest record wins" materialization.
    "q46_latest_by_key" -> QueryDef(
      (s, dir) => Upsert.latest(t(s, dir, "events"),
          Seq("user_id"), col("ts"), col("event_id"))
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("ts").as("last_ts"), col("event_type").as("last_type"))
        .orderBy(col("user_id")),
      Some("""SELECT user_id, event_id AS last_event_id, ts AS last_ts,
             |  event_type AS last_type
             |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
             |        ORDER BY ts DESC, event_id DESC) AS rn FROM events) t
             |WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // ----------------------------------------------- lake codec round-trip
    // events → typed-CSV lake objects → read back → aggregate; the oracle
    // aggregates the ORIGINAL parquet, so any codec loss would mismatch.
    // JSONL(.gz) corpus round-trip — the interchange format LLM corpora
    // actually ship in. Write is distributed (one object per task, gzip),
    // read is schema-on-read (explicit schema: inferSchema would scan the
    // data twice and silently widen types). The md5 over the text column
    // pins byte-exact round-trip through JSON string escaping.
    "l02_jsonl_roundtrip" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val out = slot("graft-jsonl-rt", dir)
        docs.repartition(4).write.mode("overwrite").option("compression", "gzip").json(out)
        s.read.schema(docs.schema).json(out)
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
            md5(col("text")).as("text_md5"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ORC round-trip — the other columnar format that ships in spark-sql
    // (no external package; spark-avro is absent from the jar set, noted
    // in README known gaps). Row-level compare INCLUDING the timestamp
    // column pins type fidelity through the codec — ORC stores timestamps
    // differently from parquet, so a tz/precision bug would hash-mismatch
    // every row. The oracle reads the ORIGINAL parquet.
    "l03_orc_roundtrip" -> QueryDef(
      (s, dir) => {
        val ev = t(s, dir, "events")
        val out = slot("graft-orc-rt", dir)
        ev.repartition(4).write.mode("overwrite").orc(out)
        s.read.schema(ev.schema).orc(out)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
            floor(col("value") * 100 + 0.5).cast("long").as("value_cents"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, ts, user_id, event_type,
             |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_cents
             |FROM events ORDER BY event_id""".stripMargin)),

    // ------------------------------- zone-map pruned lake read (l06)
    // Data skipping on the typed-CSV lake: write the events table
    // range-partitioned on the value column with [[ZoneMaps]] sidecars
    // (per-object min/max), then read back through
    // [[LakeReader.readPruned]] — the require() makes "pruning actually
    // skipped objects" part of the correctness gate, and the oracle
    // recomputes the band from the ORIGINAL parquet, so a sidecar bound
    // that lost or gained a row would hash-mismatch. The exact predicate
    // re-applies after the object-level skip (zone maps bound objects,
    // not rows).
    "l06_lake_pruned_read" -> QueryDef(
      (s, dir) => {
        import graft.lake.{LakeReader, LakeWriter}
        import graft.types.TableSchema
        val schema = TableSchema("events_z", EventsVc)
        val (root, _) = freshLake("graft-zmap-lake", dir)
        val ev = eventsVc(s, dir)
        LakeWriter.write(ev.repartitionByRange(8, col("vc")), schema, root,
          zoneMaps = true)
        val (df, report) = LakeReader.readPruned(s, root, "events_z", "vc",
          java.math.BigDecimal.valueOf(1000), java.math.BigDecimal.valueOf(5000))
        require(report.skipped > 0,
          s"zone maps must skip out-of-band objects, got $report")
        df.filter(col("vc").between(1000, 5000))
          .select(col("event_id"), col("user_id"), col("vc"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
             |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
             |FROM events
             |WHERE floor(value * 100 + 0.5) BETWEEN 1000 AND 5000
             |ORDER BY event_id""".stripMargin)),

    // ------------------- metadata-only lake aggregates (l09)
    // COUNT(*) / per-column null counts / MIN / MAX answered from the
    // zone-map sidecars alone — NOT ONE data object is opened (the
    // parquet-footer / manifest-stats aggregate pushdown, natively on
    // the lake). Nulls are planted (every 7th event) so the null path
    // is exercised; the in-query require()s pin the contract's both
    // halves: the summary exists and merges >1 object, and the moment a
    // sidecar is deleted the answer becomes None (exact or absent,
    // never approximate — the caller falls back to a scan). The oracle
    // recomputes the identical aggregates from the ORIGINAL parquet.
    "l09_lake_stats_agg" -> QueryDef(
      (s, dir) => {
        import graft.lake.{LakeReader, LakeWriter, ZoneMaps}
        import graft.types.{ColType, TableSchema}
        val schema = TableSchema("events_s", Seq(
          "event_id" -> ColType.CInteger, "vc" -> ColType.CInteger))
        val (root, store) = freshLake("graft-stats-lake", dir)
        val ev = t(s, dir, "events").select(col("event_id"),
          when(col("event_id") % 7 === 0, lit(null))
            .otherwise(floor(col("value") * 100 + 0.5)).cast("long").as("vc"))
        LakeWriter.write(ev.repartition(8), schema, root, zoneMaps = true)
        val sum0 = LakeReader.statsSummary(store, "events_s")
        require(sum0.exists(_.objects > 1),
          s"metadata summary must merge several sidecars, got $sum0")
        val st = sum0.get
        val vc = st.cols("vc")
        require(vc.boundsExact, s"clean lake must have exact bounds: $vc")
        // exact-or-absent: kill one sidecar, the whole answer must vanish
        val oneKey = LakeReader.listTableKeys(store, "events_s", None).head
        store.delete(ZoneMaps.statsKey(oneKey))
        require(LakeReader.statsSummary(store, "events_s").isEmpty,
          "a lost sidecar must yield None (fall back to a scan), not a guess")
        import s.implicits._
        Seq((st.records, vc.nulls,
          vc.min.get.longValueExact(), vc.max.get.longValueExact()))
          .toDF("n_rows", "n_null_vc", "min_vc", "max_vc")
      },
      Some("""SELECT count(*) AS n_rows,
             |  CAST(sum(CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_null_vc,
             |  min(CASE WHEN event_id % 7 = 0 THEN NULL
             |           ELSE CAST(floor(value * 100 + 0.5) AS BIGINT) END) AS min_vc,
             |  max(CASE WHEN event_id % 7 = 0 THEN NULL
             |           ELSE CAST(floor(value * 100 + 0.5) AS BIGINT) END) AS max_vc
             |FROM events""".stripMargin)),

    // ------- z-ordered lake + TWO-dimensional data skipping (l10)
    // The Layout.zorder × ZoneMaps composition: range-partition the
    // events by the interleaved (user_id, vc) Morton key before landing,
    // so every object is TIGHT in both dimensions, then prune a
    // two-column predicate with readPrunedMulti — one sidecar read per
    // object decides all bands. The require()s pin the 2D payoff: the
    // conjunction must open STRICTLY fewer objects than either
    // single-column band alone (a single-column sort can only ever bound
    // one side). Exact predicate re-applies after the object-level skip;
    // the oracle recomputes from the original parquet.
    "l10_lake_zorder_prune" -> QueryDef(
      (s, dir) => {
        import graft.lake.{LakeReader, LakeWriter}
        import graft.types.TableSchema
        val schema = TableSchema("events_zz", EventsVc)
        val (root, store) = freshLake("graft-zorder-lake", dir)
        // vc takes the cents' LOW 10 bits: the raw value distribution is
        // exponential-ish (median ~3.5k, max ~49k), so a mid-RANGE band
        // would hold almost no rows and z-order could show no 2D win;
        // the low bits of a smooth distribution are near-uniform, which
        // is what a layout demo needs. Both engines replay the modulo.
        val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
          (floor(col("value") * 100 + 0.5).cast("long") % 1024).as("vc"))
        // z-order needs COMPARABLE bit widths: user_id spans ~15k·sf
        // (15/149/1499 at sf0.001/0.01/0.1) against vc's fixed 0..1023,
        // so whichever dimension is narrower must stretch or the
        // interleave's top bits belong to one dimension alone and its
        // objects stay wide in the other. The stretch is TWO-SIDED —
        // user grows below sf≈0.07, vc grows above — which is what makes
        // the fixture hold at every scale factor. Only the Morton layout
        // key stretches; the data columns are untouched. Bands derive by
        // EXACT integer arithmetic both engines replay.
        val Array(r) = ev.agg(min("user_id"), max("user_id"),
          min("vc"), max("vc")).collect()
        val (umin, umax, vmin, vmax) =
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
        val urange = math.max(1L, umax - umin)
        val vrange = math.max(1L, vmax - vmin)
        val (ukey, vkey) =
          if (urange >= vrange) (col("user_id"), col("vc") * (urange / vrange))
          else (col("user_id") * (vrange / urange), col("vc"))
        LakeWriter.write(graft.operators.Layout.zorder(
            ev, ukey, vkey, 16), schema, root, zoneMaps = true)
        def dec(l: Long) = java.math.BigDecimal.valueOf(l)
        // the SECOND fifth of each dimension, not the middle: a box
        // straddling the 50% point crosses both dims' top z-bit
        // boundaries — the curve's worst case, where nearly every cell
        // intersects — while [20%,40%] sits inside the lower halves
        def band(lo: Long, hi: Long) = (lo + (hi - lo) / 5, lo + (hi - lo) * 2 / 5)
        val (ulo, uhi) = band(umin, umax)
        val (vlo, vhi) = band(vmin, vmax)
        val userBand = ("user_id", dec(ulo), dec(uhi))
        val vcBand = ("vc", dec(vlo), dec(vhi))
        // the 2D-vs-1D comparison reads each sidecar ONCE and derives all
        // three kept-counts from it — three readPrunedMulti calls would
        // triple the metadata walk just to discard two DataFrames
        val stats = LakeReader.listTableKeys(store, "events_zz", None)
          .map(k => graft.lake.ZoneMaps.read(store, k))
        def kept(bands: (String, java.math.BigDecimal, java.math.BigDecimal)*) =
          stats.count(st => bands.forall { case (c, lo, hi) =>
            graft.lake.ZoneMaps.mayContain(st, c, lo, hi) })
        val (kMulti, kUser, kVc) =
          (kept(userBand, vcBand), kept(userBand), kept(vcBand))
        require(kMulti < kUser && kMulti < kVc,
          s"z-order must make the 2D prune strictly tighter than either " +
            s"band alone: multi=$kMulti user=$kUser vc=$kVc of ${stats.length}")
        val (df, multi) = LakeReader.readPrunedMulti(s, root, "events_zz",
          Seq(userBand, vcBand))
        require(multi.kept == kMulti, s"prune report drifted: $multi vs $kMulti")
        df.filter(col("user_id").between(ulo, uhi) && col("vc").between(vlo, vhi))
          .select(col("event_id"), col("user_id"), col("vc"))
          .orderBy("event_id")
      },
      Some("""WITH e AS (
             |  SELECT event_id, user_id,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) % 1024 AS vc
             |  FROM events),
             |b AS (
             |  SELECT min(user_id) + (max(user_id) - min(user_id)) // 5 AS ulo,
             |         min(user_id) + (max(user_id) - min(user_id)) * 2 // 5 AS uhi,
             |         min(vc) + (max(vc) - min(vc)) // 5 AS vlo,
             |         min(vc) + (max(vc) - min(vc)) * 2 // 5 AS vhi
             |  FROM e)
             |SELECT event_id, user_id, vc FROM e, b
             |WHERE user_id BETWEEN ulo AND uhi AND vc BETWEEN vlo AND vhi
             |ORDER BY event_id""".stripMargin)),

    // --------------- HOUR-BUCKETED metadata aggregates (l11)
    // The dashboard primitive the reference's own key layout invites
    // (YYYY/MM/DD/HH prefixes — README.md:119-123): per-hour GROUP BY
    // rollups of COUNT(*)/nulls/MIN/MAX answered from zone-map sidecars
    // alone, no data object opened. Three flush hours land disjoint
    // event thirds; the in-query require()s pin the contract: (a) the
    // executor walk (pinned through KeyWalk's seam) returns bit-identical
    // per-hour summaries to the driver walk, (b) tearing one sidecar nulls ONLY its own hour —
    // the other hours stay exact (per-hour exact-or-absent, so a
    // dashboard falls back to scanning one hour, not the lake). The
    // oracle recomputes the same per-hour aggregates from the original
    // parquet via the event_id % 3 routing.
    "l11_lake_stats_by_hour" -> QueryDef(
      (s, dir) => {
        import graft.lake.{KeyWalk, LakeReader, LakeWriter}
        import graft.types.{ColType, TableSchema}
        import java.time.Instant
        val schema = TableSchema("events_h", Seq(
          "event_id" -> ColType.CInteger, "vc" -> ColType.CInteger))
        val (root, store) = freshLake("graft-hour-stats-lake", dir)
        val ev = t(s, dir, "events").select(col("event_id"),
          when(col("event_id") % 7 === 0, lit(null))
            .otherwise(floor(col("value") * 100 + 0.5)).cast("long").as("vc"))
        val hourOf = (i: Int) => Instant.parse(f"2024-06-01T$i%02d:00:00Z")
        for (i <- 0 until 3)
          LakeWriter.write(ev.filter(col("event_id") % 3 === i).repartition(2),
            schema, root, hourOf(i), zoneMaps = true)
        val hours = LakeReader.statsByHour(store, "events_h")
        require(hours.map(_._1) == (0 until 3).map(hourOf) &&
            hours.forall(_._2.nonEmpty),
          s"three exact hour buckets expected, got $hours")
        require(KeyWalk.pinned(KeyWalk.OnExecutors(2)) {
            LakeReader.statsByHour(store, "events_h") } == hours,
          "executor hour walk must equal the driver walk bit-identically")
        // tear ONE sidecar in hour 1: only that hour's answer may vanish
        tearSidecar(store, LakeReader.listTableKeys(store, "events_h",
          Some((hourOf(1), hourOf(1)))).head)
        val after = LakeReader.statsByHour(store, "events_h")
        require(after(1)._2.isEmpty,
          "the torn hour must fall to None (scan that one hour)")
        require(after(0) == hours(0) && after(2) == hours(2),
          "hours with healthy sidecars must stay exact")
        require(KeyWalk.pinned(KeyWalk.OnExecutors()) {
            LakeReader.statsByHour(store, "events_h") } == after,
          "executor walk must agree after the tear too")
        val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH")
          .withZone(java.time.ZoneOffset.UTC)
        import s.implicits._
        hours.map { case (h, st0) =>
          val st = st0.get; val vc = st.cols("vc")
          (fmt.format(h), st.records, vc.nulls,
            vc.min.get.longValueExact(), vc.max.get.longValueExact())
        }.toDF("hr", "n_rows", "n_null_vc", "min_vc", "max_vc")
          .orderBy("hr")
      },
      Some("""SELECT
             |  CASE CAST(event_id % 3 AS INTEGER) WHEN 0 THEN '2024-06-01 00'
             |       WHEN 1 THEN '2024-06-01 01' ELSE '2024-06-01 02' END AS hr,
             |  count(*) AS n_rows,
             |  CAST(sum(CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_null_vc,
             |  min(CASE WHEN event_id % 7 = 0 THEN NULL
             |           ELSE CAST(floor(value * 100 + 0.5) AS BIGINT) END) AS min_vc,
             |  max(CASE WHEN event_id % 7 = 0 THEN NULL
             |           ELSE CAST(floor(value * 100 + 0.5) AS BIGINT) END) AS max_vc
             |FROM events GROUP BY 1 ORDER BY hr""".stripMargin)),

    // --------- HYBRID hour rollup: metadata + scan-the-torn-hour (l12)
    // l11's contract says a torn hour "falls back to scanning one hour,
    // not the lake" — this query IS that fallback, as a first-class
    // operator ([[LakeReader.statsByHourHybrid]]): hours with readable
    // sidecars answer from metadata; the one torn hour is scanned in a
    // single job over exactly its objects. The require()s pin the
    // routing (exactly one hour scanned, the others metadata-served) and
    // the output — identical shape to l11 — is oracled against the full
    // DuckDB recompute, so the scanned hour's numbers must agree with
    // the metadata hours' numbers bit-for-bit.
    "l12_lake_stats_hybrid" -> QueryDef(
      (s, dir) => {
        import graft.lake.{LakeReader, LakeWriter}
        import graft.types.{ColType, TableSchema}
        import java.time.Instant
        val schema = TableSchema("events_hh", Seq(
          "event_id" -> ColType.CInteger, "vc" -> ColType.CInteger))
        val (root, store) = freshLake("graft-hybrid-stats-lake", dir)
        val ev = t(s, dir, "events").select(col("event_id"),
          when(col("event_id") % 7 === 0, lit(null))
            .otherwise(floor(col("value") * 100 + 0.5)).cast("long").as("vc"))
        val hourOf = (i: Int) => Instant.parse(f"2024-06-01T$i%02d:00:00Z")
        for (i <- 0 until 3)
          LakeWriter.write(ev.filter(col("event_id") % 3 === i).repartition(2),
            schema, root, hourOf(i), zoneMaps = true)
        // tear hour 1's first sidecar BEFORE querying: the hybrid walk
        // must route hour 1 to the scan and keep hours 0/2 on metadata
        tearSidecar(store, LakeReader.listTableKeys(store, "events_hh",
          Some((hourOf(1), hourOf(1)))).head)
        val hybrid = LakeReader.statsByHourHybrid(s, root, "events_hh")
        require(hybrid.map(h => (h._1, h._3)) ==
            Seq((hourOf(0), true), (hourOf(1), false), (hourOf(2), true)),
          s"exactly the torn hour must be scanned: ${hybrid.map(h => (h._1, h._3))}")
        val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH")
          .withZone(java.time.ZoneOffset.UTC)
        import s.implicits._
        hybrid.map { case (h, st, _) =>
          val vc = st.cols("vc")
          (fmt.format(h), st.records, vc.nulls,
            vc.min.get.longValueExact(), vc.max.get.longValueExact())
        }.toDF("hr", "n_rows", "n_null_vc", "min_vc", "max_vc")
          .orderBy("hr")
      },
      Some("""SELECT
             |  CASE CAST(event_id % 3 AS INTEGER) WHEN 0 THEN '2024-06-01 00'
             |       WHEN 1 THEN '2024-06-01 01' ELSE '2024-06-01 02' END AS hr,
             |  count(*) AS n_rows,
             |  CAST(sum(CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_null_vc,
             |  min(CASE WHEN event_id % 7 = 0 THEN NULL
             |           ELSE CAST(floor(value * 100 + 0.5) AS BIGINT) END) AS min_vc,
             |  max(CASE WHEN event_id % 7 = 0 THEN NULL
             |           ELSE CAST(floor(value * 100 + 0.5) AS BIGINT) END) AS max_vc
             |FROM events GROUP BY 1 ORDER BY hr""".stripMargin)),

    // ---------------- BLOOM equality-probe pruned read (l13)
    // The point-lookup path zone maps cannot serve: STRING columns are
    // deliberately untracked by min/max sidecars (collation trap), so
    // `tag = value` over the lake would open every object. Bloom
    // sidecars ([[graft.lake.BloomMaps]] — the Delta/Iceberg bloom-index
    // idea) hash each value's wire form at write time; the probe skips
    // every object whose filter provably lacks the value. The layout
    // clusters etypes into objects (repartition by the column), so the
    // probe's require() pins real skipping; false positives may KEEP an
    // extra object but can never skip one, and the exact predicate
    // re-applies after the object-level cut. The oracle replays the
    // derivation + filter from the original parquet.
    "l13_lake_bloom_eq" -> QueryDef(
      (s, dir) => {
        import graft.lake.{LakeReader, LakeWriter}
        import graft.types.{ColType, TableSchema}
        val schema = TableSchema("events_bl", Seq(
          "event_id" -> ColType.CInteger, "etype" -> ColType.CString))
        val (root, store) = freshLake("graft-bloom-lake", dir)
        val ev = t(s, dir, "events").select(col("event_id"),
          concat(lit("e"), (col("user_id") % 7).cast("string")).as("etype"))
        LakeWriter.write(ev.repartition(4, col("etype")), schema, root,
          bloomColumns = Seq("etype"))
        val (df, report) = LakeReader.readPrunedEq(s, root, "events_bl",
          "etype", "e3")
        require(report.skipped > 0,
          s"blooms must skip objects lacking e3, got $report")
        // the OFFLINE index build ("CREATE INDEX" on an existing lake)
        // must reproduce the writer-time pruning: drop every sidecar,
        // back-fill in one distributed pass, and the probe's kept set
        // must come back identical
        val keys = LakeReader.listTableKeys(store, "events_bl", None)
        keys.foreach(k => store.delete(graft.lake.BloomMaps.bloomKey(k)))
        require(LakeReader.readPrunedEq(s, root, "events_bl", "etype", "e3")
          ._2.skipped == 0, "with no sidecars every object must be kept")
        require(graft.lake.BloomMaps.buildIndex(s, root, "events_bl",
          Seq("etype")) == keys.size)
        require(LakeReader.readPrunedEq(s, root, "events_bl", "etype", "e3")
          ._2 == report,
          "the back-filled index must prune exactly like writer-time blooms")
        df.filter(col("etype") === "e3")
          .select(col("event_id"), col("etype"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, 'e' || CAST(user_id % 7 AS VARCHAR) AS etype
             |FROM events
             |WHERE 'e' || CAST(user_id % 7 AS VARCHAR) = 'e3'
             |ORDER BY event_id""".stripMargin)),

    // ---------------- lake semi-join / dynamic object pruning (l14)
    // The star-schema point of the bloom sidecars: a JOIN to a filtered
    // dimension becomes a key-list probe over the metadata, skipping
    // every object whose filter provably lacks ALL the dim keys before
    // the exact (bounded-broadcast) semi-join touches a row — runtime
    // file pruning at the lake layer. The layout orders by the join key
    // so both sidecar kinds compose (bloom bits AND [v,v] bands); the
    // in-query gates pin real skipping AND the loud over-bound raise —
    // a too-big dimension must fail with the remedy, never silently
    // degrade to a full scan. The oracle replays the semi-join in SQL.
    "l14_lake_semi_join" -> QueryDef(
      (s, dir) => {
        import graft.lake.{LakeReader, LakeWriter}
        import graft.types.{ColType, TableSchema}
        val schema = TableSchema("events_sj", Seq(
          "event_id" -> ColType.CInteger, "user_id" -> ColType.CInteger))
        val (root, store) = freshLake("graft-semijoin-lake", dir)
        val ev = t(s, dir, "events").select(col("event_id"), col("user_id"))
        val n = ev.count() // sizes the rolled write: ~16 user-ranged objects
        LakeWriter.write(ev.orderBy("user_id", "event_id").coalesce(1),
          schema, root, maxRecordsPerObject = math.max(1L, (n + 15) / 16),
          zoneMaps = true, bloomColumns = Seq("user_id"))
        val dim = t(s, dir, "customer")
          .filter(col("c_nationkey").isin(1, 2) && col("c_custkey") < 40)
        // the guard is armed: an over-bound dim raises with the remedy
        val raised = try {
          LakeReader.lakeSemiJoin(s, root, "events_sj", "user_id",
            dim, "c_custkey", maxDimKeys = 2); false
        } catch { case _: IllegalStateException => true }
        require(raised, "a dim over maxDimKeys must raise, not degrade")
        val (df, report) = LakeReader.lakeSemiJoin(s, root, "events_sj",
          "user_id", dim, "c_custkey")
        require(report.skipped > 0,
          s"the key-list probe must skip user-disjoint objects: $report")
        df.select(col("event_id"), col("user_id")).orderBy("event_id")
      },
      Some("""SELECT event_id, user_id FROM events
             |WHERE user_id IN (SELECT c_custkey FROM customer
             |                  WHERE c_nationkey IN (1, 2) AND c_custkey < 40)
             |ORDER BY event_id""".stripMargin)),

    // ---------------- DataSource V2 lake connector (l15)
    // The new FRONT DOOR for every lake prune primitive: a plain
    // `spark.read.format("graft-lake")...where(...)` and CATALYST pushes
    // the filters down — `etype = 'e3'` becomes a bloom probe,
    // `event_id < 2500` a zone-map band ([[graft.lake.LakeDataSource]]),
    // no bespoke readPruned* call in sight. The layout range-partitions
    // by (etype, event_id) so both sidecar kinds bite; the in-query gate
    // reads the scan's PLANNED OBJECTS out of the executed plan and pins
    // real skipping. Rows come off the connector's own typed-CSV codec
    // (spec-pinned row-identical to LakeReader.read); the oracle replays
    // the derivation + filter from the original parquet.
    "l15_lake_dsv2_scan" -> QueryDef(
      (s, dir) => {
        import graft.lake.{LakeReader, LakeWriter}
        import graft.types.{ColType, TableSchema}
        val schema = TableSchema("events_ds", Seq(
          "event_id" -> ColType.CInteger, "user_id" -> ColType.CInteger,
          "etype" -> ColType.CString))
        val (root, store) = freshLake("graft-dsv2-lake", dir)
        val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
          concat(lit("e"), pmod(col("user_id"), lit(7)).cast("string")).as("etype"))
        LakeWriter.write(ev.repartitionByRange(8, col("etype"), col("event_id")),
          schema, root, zoneMaps = true, bloomColumns = Seq("etype"))
        val total = LakeReader.listTableKeys(store, "events_ds", None).size
        val df = s.read.format("graft-lake").option("table", "events_ds")
          .load(root)
          .where(col("etype") === "e3" && col("event_id") < 2500L)
        val scan = df.queryExecution.executedPlan.collectFirst {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.scan
        }.getOrElse(sys.error("no DSv2 scan in the plan"))
          .asInstanceOf[graft.lake.LakeScan]
        val planned = scan.plannedKeys.size
        require(planned > 0 && planned < total,
          s"Catalyst-pushed filters must skip objects: planned $planned of $total")
        df.select(col("event_id"), col("user_id"), col("etype"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
             |  'e' || CAST(((user_id % 7) + 7) % 7 AS VARCHAR) AS etype
             |FROM events
             |WHERE 'e' || CAST(((user_id % 7) + 7) % 7 AS VARCHAR) = 'e3'
             |  AND event_id < 2500
             |ORDER BY event_id""".stripMargin)),

    // ---------------- DataSource V2 lake WRITE path (l17)
    // The connector's write half under the oracle gate: half the events
    // land via LakeWriter (bootstrapping the table), the other half
    // APPEND through df.write.format("graft-lake") — the staged-publish
    // commit, by-name columns, flushTime-stamped hour — and the union
    // reads back through the connector. Any row lost, duplicated, or
    // corrupted through the DSv2 commit protocol hash-mismatches the
    // full DuckDB recompute. The require()s pin the appended rows to
    // the flushTime hour (the planted _event_hour column is IGNORED)
    // and zero staging residue.
    "l17_lake_dsv2_write" -> QueryDef(
      (s, dir) => {
        import graft.lake.{LakeReader, LakeWriter}
        import graft.types.TableSchema
        val schema = TableSchema("events_dw", EventsVc)
        val (root, store) = freshLake("graft-dsv2-write-lake", dir)
        val ev = eventsVc(s, dir)
        val evenHalf = ev.filter(pmod(col("event_id"), lit(2)) === 0)
        val oddHalf = ev.filter(pmod(col("event_id"), lit(2)) === 1)
        LakeWriter.write(evenHalf.repartition(4), schema, root,
          java.time.Instant.parse("2024-06-01T08:00:00Z"), zoneMaps = true)
        val oddN = oddHalf.count()
        oddHalf
          // carried for Spark's by-name write resolution; the VALUE is
          // ignored — planted at hour 23 to prove the landed hour below
          .withColumn("_event_hour", lit(java.sql.Timestamp.from(
            java.time.Instant.parse("2024-06-01T23:00:00Z"))))
          .write.format("graft-lake").option("table", "events_dw")
          .option("flushTime", "2024-06-01T09:00:00Z")
          .option("zoneMaps", "true")
          .mode("append").save(root)
        val back = s.read.format("graft-lake").option("table", "events_dw")
          .load(root)
        require(back.where(col("_event_hour") === lit(java.sql.Timestamp.from(
            java.time.Instant.parse("2024-06-01T09:00:00Z")))).count() == oddN,
          "appended rows must land under the flushTime hour, not the column's")
        require(store.list("_staging").isEmpty &&
          store.list(graft.lake.ZoneMaps.Prefix + "_staging").isEmpty,
          "the staged publish must leave zero staging residue")
        back.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"), sum(col("vc")).as("sum_vc"),
            min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, count(*) AS n,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_vc,
             |  min(event_id) AS min_id, max(event_id) AS max_id
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ---------------- COMPOSITE-key lake semi-join (l16)
    // Real star schemas join on more than one column — (tenant, user),
    // here (user_id, etype). The object prune is the conjunction of
    // per-column disjunction probes ([[LakeReader.readPrunedEqAnyMulti]]):
    // sound because blooms summarize columns independently (an object
    // holding both VALUES but never the PAIR stays kept and the exact
    // composite join rejects its rows — pinned in BloomMapsSpec), never a
    // wrong skip. The layout orders by user_id, so the user probes skip
    // the high-user objects while the etype probe keeps everything —
    // the require() pins that the conjunction still prunes. The oracle
    // replays the composite semi-join as an EXISTS.
    "l16_lake_semi_join_multi" -> QueryDef(
      (s, dir) => {
        import graft.lake.{LakeReader, LakeWriter}
        import graft.types.{ColType, TableSchema}
        val schema = TableSchema("events_cj", Seq(
          "event_id" -> ColType.CInteger, "user_id" -> ColType.CInteger,
          "etype" -> ColType.CString))
        val (root, store) = freshLake("graft-semijoin-multi-lake", dir)
        val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
          concat(lit("e"), pmod(col("event_id"), lit(5)).cast("string")).as("etype"))
        val n = ev.count() // sizes the rolled write: ~16 user-ranged objects
        LakeWriter.write(ev.orderBy("user_id", "event_id").coalesce(1),
          schema, root, maxRecordsPerObject = math.max(1L, (n + 15) / 16),
          zoneMaps = true, bloomColumns = Seq("user_id", "etype"))
        val dim = t(s, dir, "customer")
          .filter(col("c_nationkey").isin(1, 2) && col("c_custkey") < 40)
          .select(col("c_custkey"),
            concat(lit("e"), pmod(col("c_custkey"), lit(5)).cast("string"))
              .as("c_etype"))
        val (df, report) = LakeReader.lakeSemiJoinMulti(s, root, "events_cj",
          Seq(("user_id", "c_custkey"), ("etype", "c_etype")), dim)
        require(report.skipped > 0,
          s"the composite probe must skip user-disjoint objects: $report")
        df.select(col("event_id"), col("user_id"), col("etype"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
             |  'e' || CAST(((event_id % 5) + 5) % 5 AS VARCHAR) AS etype
             |FROM events e
             |WHERE EXISTS (SELECT 1 FROM customer c
             |              WHERE c.c_nationkey IN (1, 2) AND c.c_custkey < 40
             |                AND c.c_custkey = e.user_id
             |                AND 'e' || CAST(((c.c_custkey % 5) + 5) % 5 AS VARCHAR)
             |                    = 'e' || CAST(((e.event_id % 5) + 5) % 5 AS VARCHAR))
             |ORDER BY event_id""".stripMargin)),

    // ---------------- DSv2 RUNTIME filtering / dynamic file pruning (l18)
    // l14's semi-join, with CATALYST in the driver's seat: a plain
    // `fact.join(dim, ...)` through the connector and Spark's
    // dynamic-pruning subquery delivers the dim's keys to the scan AT
    // EXECUTION TIME ([[graft.lake.LakeScan.filter]]) — the IN-list
    // probes blooms + [v,v] bands per object, exactly like
    // readPrunedEqAny, with no bespoke entry point named anywhere. The
    // dim's predicate is deliberately NON-TRANSLATABLE (floor-division
    // band), so no static constraint can reach the scan: only the
    // runtime filter prunes, and the in-query gates pin that it FIRED
    // (runtimeFilters delivered, planned < total). The oracle replays
    // the join in SQL.
    "l18_lake_dsv2_runtime_prune" -> QueryDef(
      (s, dir) => {
        import graft.lake.{LakeReader, LakeWriter}
        import graft.types.{ColType, TableSchema}
        val schema = TableSchema("events_dp", Seq(
          "event_id" -> ColType.CInteger, "user_id" -> ColType.CInteger))
        val (root, store) = freshLake("graft-dsv2-dpp-lake", dir)
        val ev = t(s, dir, "events").select(col("event_id"), col("user_id"))
        val n = ev.count() // sizes the rolled write: ~16 user-ranged objects
        LakeWriter.write(ev.orderBy("user_id", "event_id").coalesce(1),
          schema, root, maxRecordsPerObject = math.max(1L, (n + 15) / 16),
          zoneMaps = true, bloomColumns = Seq("user_id"))
        val total = LakeReader.listTableKeys(store, "events_dp", None).size
        val fact = s.read.format("graft-lake").option("table", "events_dp")
          .load(root)
        val dim = t(s, dir, "customer")
          .filter(floor(col("c_custkey") / 5) === 1) // keys 5..9, clustered
          .select(col("c_custkey"))
        val joined = fact.join(dim, col("user_id") === col("c_custkey"))
        // force THIS plan's execution so the dynamic-pruning subquery runs
        // and delivers the runtime IN-list to the very scan we inspect
        joined.queryExecution.executedPlan.executeCollect()
        def scans(p: org.apache.spark.sql.execution.SparkPlan)
            : Seq[graft.lake.LakeScan] = {
          import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
          (p match {
            case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
            case q: QueryStageExec => scans(q.plan)
            case o => o.children.flatMap(scans)
          }) ++ (p match {
            case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
              Seq(b.scan.asInstanceOf[graft.lake.LakeScan])
            case _ => Nil
          })
        }
        val scan = scans(joined.queryExecution.executedPlan).headOption
          .getOrElse(sys.error("no DSv2 scan in the executed plan"))
        require(scan.runtimeFilters.nonEmpty,
          "Spark must deliver the dynamic-pruning IN-list to the lake scan")
        val planned = scan.plannedKeys.size
        require(planned > 0 && planned < total,
          s"runtime pruning must skip objects: planned $planned of $total")
        joined.select(col("event_id"), col("user_id")).orderBy("event_id")
      },
      Some("""SELECT event_id, user_id FROM events
             |WHERE user_id IN (SELECT c_custkey FROM customer
             |                  WHERE CAST(floor(c_custkey / 5.0) AS BIGINT) = 1)
             |ORDER BY event_id""".stripMargin)),

    // ---------------- DSv2 AGGREGATE pushdown (l19)
    // The metadata-only aggregate path (l05/l12's statsSummary idea) on
    // the SQL surface: a plain `groupBy(_event_hour).agg(count/min/max)`
    // through the connector and [[graft.lake.LakeAggScan]] answers from
    // the stats sidecars — exact records, null counts and bounds, no
    // object opened — with Spark's final merge on top (never claimed
    // complete, which is what keeps the sidecar-less fallback exact).
    // The in-query gate pins that the aggregate actually PUSHED; the
    // oracle replays the rollup from the original parquet.
    "l19_lake_dsv2_agg_pushdown" -> QueryDef(
      (s, dir) => {
        import graft.lake.LakeWriter
        import graft.types.{ColType, TableSchema}
        val schema = TableSchema("events_ag", Seq(
          "event_id" -> ColType.CInteger, "vc" -> ColType.CInteger))
        val (root, store) = freshLake("graft-dsv2-agg-lake", dir)
        val ev = t(s, dir, "events").select(col("event_id"),
          when(pmod(col("event_id"), lit(7)) === 0, lit(null))
            .otherwise(floor(col("value") * 100 + 0.5)).cast("long").as("vc"))
        // three hours, several objects each — the rollup's group keys
        Seq(0, 1, 2).foreach { h =>
          LakeWriter.write(
            ev.filter(pmod(col("event_id"), lit(3)) === h).repartition(3),
            schema, root, java.time.Instant.parse(f"2024-06-01T0$h%d:00:00Z"),
            zoneMaps = true)
        }
        val back = s.read.format("graft-lake").option("table", "events_ag")
          .load(root)
        val agg = back.groupBy(col("_event_hour"))
          .agg(count(lit(1)).as("n_rows"), count(col("vc")).as("n_vc"),
            min(col("vc")).as("min_vc"), max(col("vc")).as("max_vc"),
            min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
        require(agg.queryExecution.executedPlan.toString.contains("graft-lake-agg"),
          "the aggregate must push to the sidecar scan:\n" +
            agg.queryExecution.executedPlan)
        agg.select(date_format(col("_event_hour"), "yyyy-MM-dd HH").as("hr"),
            col("n_rows"), col("n_vc"), col("min_vc"), col("max_vc"),
            col("min_id"), col("max_id"))
          .orderBy("hr")
      },
      Some("""SELECT
             |  CASE CAST(event_id % 3 AS INTEGER) WHEN 0 THEN '2024-06-01 00'
             |       WHEN 1 THEN '2024-06-01 01' ELSE '2024-06-01 02' END AS hr,
             |  count(*) AS n_rows,
             |  count(CASE WHEN event_id % 7 = 0 THEN NULL ELSE 1 END) AS n_vc,
             |  min(CASE WHEN event_id % 7 = 0 THEN NULL
             |           ELSE CAST(floor(value * 100 + 0.5) AS BIGINT) END) AS min_vc,
             |  max(CASE WHEN event_id % 7 = 0 THEN NULL
             |           ELSE CAST(floor(value * 100 + 0.5) AS BIGINT) END) AS max_vc,
             |  min(event_id) AS min_id, max(event_id) AS max_id
             |FROM events GROUP BY 1 ORDER BY hr""".stripMargin)),

    // ---------------- SQL catalog over the lake (l20)
    // The last mile of "a user can just write SQL": [[graft.lake
    // .LakeCatalog]] names lake tables in SQL (`FROM cat.events_sc`),
    // resolving to the SAME connector table — so INSERT INTO appends
    // through the staged publish and the final SELECT aggregates with
    // every pushdown intact. Half the rows land via LakeWriter, half
    // via SQL INSERT; any row lost, duplicated or corrupted through the
    // SQL write path hash-mismatches the full DuckDB recompute. The
    // gate pins the metadata path: count(*) through the CATALOG must
    // hit the sidecar agg scan.
    "l20_lake_sql_catalog" -> QueryDef(
      (s, dir) => {
        import graft.lake.LakeWriter
        import graft.types.TableSchema
        val schema = TableSchema("events_sc", EventsVc)
        val (root, store) = freshLake("graft-sql-catalog-lake", dir)
        val cat = lakeCatalog(s, "graftlake", root)
        val ev = eventsVc(s, dir)
        LakeWriter.write(ev.filter(pmod(col("event_id"), lit(2)) === 0)
          .repartition(4), schema, root,
          java.time.Instant.parse("2024-06-01T08:00:00Z"), zoneMaps = true)
        ev.filter(pmod(col("event_id"), lit(2)) === 1)
          .createOrReplaceTempView("events_src_l20")
        s.sql(
          s"""INSERT INTO $cat.events_sc
             |SELECT event_id, user_id, vc,
             |       TIMESTAMP '2024-06-01 09:00:00' AS _event_hour
             |FROM events_src_l20""".stripMargin)
        val gate = s.sql(s"SELECT count(*) AS n FROM $cat.events_sc")
        require(gate.queryExecution.executedPlan.toString
          .contains("graft-lake-agg"),
          "count(*) through the catalog must hit the sidecar agg scan")
        require(store.list("_staging").isEmpty,
          "the SQL INSERT must leave zero staging residue")
        s.sql(
          s"""SELECT user_id, count(*) AS n, sum(vc) AS sum_vc,
             |       min(event_id) AS min_id, max(event_id) AS max_id
             |FROM $cat.events_sc GROUP BY user_id ORDER BY user_id""".stripMargin)
      },
      Some("""SELECT user_id, count(*) AS n,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_vc,
             |  min(event_id) AS min_id, max(event_id) AS max_id
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ---------------- DSv2 TopN pushdown: "newest N events" (l21)
    // The tail-of-the-lake query every event store serves: `ORDER BY
    // _event_hour DESC LIMIT n` plans an hour-REVERSED object prefix
    // off the key layout + sidecar row counts — old hours are never
    // listed into the scan, Spark's retained sort+limit finishes the
    // job. The limit lands EXACTLY on an hour boundary (rows of the two
    // newest hours), so the kept row set is deterministic and the
    // oracle replays it as a WHERE on the hour derivation. Gates pin
    // the push (plan) and the prefix (planned keys all in the newest
    // two hours).
    "l21_lake_dsv2_topn" -> QueryDef(
      (s, dir) => {
        import graft.lake.LakeWriter
        import graft.types.{ColType, TableSchema}
        val schema = TableSchema("events_tn", Seq(
          "event_id" -> ColType.CInteger, "user_id" -> ColType.CInteger))
        val (root, store) = freshLake("graft-dsv2-topn-lake", dir)
        val ev = t(s, dir, "events").select(col("event_id"), col("user_id"))
        Seq(0, 1, 2).foreach { h =>
          LakeWriter.write(
            ev.filter(pmod(col("event_id"), lit(3)) === h).repartition(2),
            schema, root, java.time.Instant.parse(f"2024-06-01T0$h%d:00:00Z"),
            zoneMaps = true)
        }
        val n = ev.filter(pmod(col("event_id"), lit(3)).isin(1, 2)).count()
        val fact = s.read.format("graft-lake").option("table", "events_tn")
          .load(root)
        val newest = fact.orderBy(col("_event_hour").desc).limit(n.toInt)
        require(newest.queryExecution.executedPlan.toString.contains("PushedTopN"),
          "ORDER BY _event_hour DESC LIMIT n must push:\n" +
            newest.queryExecution.executedPlan)
        val scan = newest.queryExecution.executedPlan.collectFirst {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.scan
        }.get.asInstanceOf[graft.lake.LakeScan]
        require(scan.plannedKeys.nonEmpty && scan.plannedKeys.forall(k =>
          k.startsWith("2024/06/01/01/") || k.startsWith("2024/06/01/02/")),
          s"newest-n must plan only the newest hours: ${scan.plannedKeys}")
        newest.select(col("event_id"), col("user_id")).orderBy("event_id")
      },
      Some("""SELECT event_id, user_id FROM events
             |WHERE CAST(event_id % 3 AS INTEGER) IN (1, 2)
             |ORDER BY event_id""".stripMargin)),

    // ---------------- STORAGE-PARTITIONED hour rollup (l22)
    // The lake's key layout already clusters every object under exactly
    // one _event_hour; `option("clusterByHour", true)` makes the DSv2
    // scan PROVE that to Catalyst (SupportsReportPartitioning →
    // KeyGroupedPartitioning on _event_hour), so the canonical per-hour
    // rollup — even with a count(DISTINCT) — plans ZERO shuffles: each
    // hour's objects group into one task and aggregate in place. At 100
    // TB this deletes the full-table exchange from every hourly-rollup
    // job; hours outnumber cores, so the one-task-per-hour trade is
    // free there (and opt-IN here). Gates pin both directions: the
    // clustered plan has NO Exchange, the unclustered twin DOES.
    "l22_lake_hour_clustered_agg" -> QueryDef(
      (s, dir) => {
        import graft.lake.LakeWriter
        import graft.types.TableSchema
        val schema = TableSchema("events_hc", EventsVc)
        val (root, store) = freshLake("graft-hour-clustered-lake", dir)
        val ev = eventsVc(s, dir)
        Seq(0, 1, 2).foreach { h =>
          LakeWriter.write(
            ev.filter(pmod(col("event_id"), lit(3)) === h).repartition(2),
            schema, root, java.time.Instant.parse(f"2024-06-01T0$h%d:00:00Z"),
            zoneMaps = true)
        }
        def rollup(clustered: Boolean) = {
          val rd = s.read.format("graft-lake").option("table", "events_hc")
          (if (clustered) rd.option("clusterByHour", "true") else rd)
            .load(root)
            .groupBy(col("_event_hour"))
            .agg(count(lit(1)).as("n_rows"), sum("vc").as("sum_vc"),
              countDistinct("user_id").as("n_users"))
        }
        val df = rollup(clustered = true)
        val plan = df.queryExecution.executedPlan.toString
        require(!plan.contains("Exchange"),
          s"the hour-clustered rollup must plan NO shuffle:\n$plan")
        require(rollup(clustered = false).queryExecution.executedPlan
            .toString.contains("Exchange"),
          "the unclustered twin must shuffle — the report is what removes it")
        df.select(date_format(col("_event_hour"), "yyyy-MM-dd HH").as("hr"),
            col("n_rows"), col("sum_vc"), col("n_users"))
          .orderBy("hr")
      },
      Some("""SELECT CASE CAST(event_id % 3 AS INTEGER)
             |         WHEN 0 THEN '2024-06-01 00'
             |         WHEN 1 THEN '2024-06-01 01'
             |         ELSE '2024-06-01 02' END AS hr,
             |  count(*) AS n_rows,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             |    AS sum_vc,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
             |FROM events GROUP BY 1 ORDER BY hr""".stripMargin)),

    // ---------------- DSv2 MICRO-BATCH lake source (l23)
    // `spark.readStream.format("graft-lake")` — the connector's fourth
    // quadrant (batch/streaming × read/write). Offsets are the
    // processed-object ledger ([[graft.lake.LakeMicroBatchStream]]); an
    // AvailableNow run drains exactly the pinned listing in
    // maxObjectsPerTrigger-bounded batches through the SAME codec as the
    // batch scan. The gate pins streamed ≡ batch-connector rows both
    // ways; the oracle replays the per-hour rollup from the original
    // parquet.
    "l23_lake_stream_read" -> QueryDef(
      (s, dir) => {
        import graft.lake.LakeWriter
        import graft.types.{ColType, TableSchema}
        val schema = TableSchema("events_ms", Seq(
          "event_id" -> ColType.CInteger, "user_id" -> ColType.CInteger))
        val (root, store) = freshLake("graft-stream-lake", dir)
        val (ckptRoot, _) = freshLake("graft-stream-ckpt", dir)
        val ev = t(s, dir, "events").select(col("event_id"), col("user_id"))
        Seq(0, 1, 2).foreach { h =>
          LakeWriter.write(
            ev.filter(pmod(col("event_id"), lit(3)) === h).repartition(2),
            schema, root, java.time.Instant.parse(f"2024-06-01T0$h%d:00:00Z"))
        }
        s.catalog.dropTempView("l23_drained") // bench re-runs in-session
        val q = s.readStream.format("graft-lake").option("table", "events_ms")
          .option("maxObjectsPerTrigger", "3").load(root)
          .writeStream.format("memory").queryName("l23_drained")
          .outputMode("append")
          .option("checkpointLocation", s"$ckptRoot/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination(120000)
        val streamed = s.table("l23_drained")
        val batch = s.read.format("graft-lake").option("table", "events_ms")
          .load(root)
        require(multisetSig(streamed) == multisetSig(
            batch.select(streamed.columns.map(col).toSeq: _*)),
          "the drained stream must equal the batch connector read exactly")
        streamed.groupBy(date_format(col("_event_hour"), "yyyy-MM-dd HH")
            .as("hr"))
          .agg(count(lit(1)).as("n_rows"), sum("user_id").as("sum_uid"))
          .orderBy("hr")
      },
      Some("""SELECT CASE CAST(event_id % 3 AS INTEGER)
             |         WHEN 0 THEN '2024-06-01 00'
             |         WHEN 1 THEN '2024-06-01 01'
             |         ELSE '2024-06-01 02' END AS hr,
             |  count(*) AS n_rows,
             |  CAST(sum(user_id) AS BIGINT) AS sum_uid
             |FROM events GROUP BY 1 ORDER BY hr""".stripMargin)),

    // ---------------- schema evolution through the connector (l24)
    // l04's drifted lake (three header generations: dropped column, a
    // FLOAT widening, a reorder, an added column — the reference's
    // first-record inference makes all of these legal,
    // Collector.ts:291-308) read through `option("reconcile", true)`:
    // the connector resolves each object BY ITS OWN header, null-fills
    // absent columns, widens INTEGER wires under the merged FLOAT
    // column, and keeps every pushdown except aggregates (refused —
    // a drifted object's sidecar cannot attest columns it never
    // carried). Gates pin connector ≡ readReconciled rows and that
    // sidecar pruning still bites across generations.
    "l24_lake_evolution_dsv2" -> QueryDef(
      (s, dir) => {
        import graft.lake.{LakeReader, LakeWriter}
        import graft.types.{ColType, TableSchema}
        val v1 = TableSchema("docs_evo2", Seq(
          "doc_id" -> ColType.CInteger, "lang" -> ColType.CString,
          "n_chars" -> ColType.CInteger))
        val v2 = TableSchema("docs_evo2", Seq(
          "doc_id" -> ColType.CInteger, "n_chars" -> ColType.CFloat,
          "source" -> ColType.CString))
        val v3 = TableSchema("docs_evo2", Seq(
          "doc_id" -> ColType.CInteger, "lang" -> ColType.CString,
          "source" -> ColType.CString, "n_chars" -> ColType.CInteger))
        val (root, store) = freshLake("graft-lake-evo-dsv2", dir)
        val docs = t(s, dir, "documents")
        for ((schema, m) <- Seq(v1 -> 0, v2 -> 1, v3 -> 2))
          LakeWriter.write(
            docs.filter(pmod(col("doc_id"), lit(3)) === m)
              .select(schema.columnNames.map(col): _*)
              .orderBy("doc_id").coalesce(1),
            schema, root, maxRecordsPerObject = 100L, zoneMaps = true)
        val df = s.read.format("graft-lake").option("table", "docs_evo2")
          .option("reconcile", "true").load(root)
        val bespoke = LakeReader.readReconciled(s, root, "docs_evo2")
        // multiset-signature gate (the l23/l27 pattern, r16 optimization):
        // the two-direction exceptAll cost four full reads + two wide
        // hash-aggregate shuffles and dominated this entry's wall time;
        // the signature pins the same multiset equality in one single-
        // pass scan per side (the CORRECTNESS oracle still value-compares
        // the query's real output).
        require(multisetSig(df) ==
            multisetSig(bespoke.select(df.columns.map(col).toSeq: _*)),
          "connector reconcile must be row-identical to readReconciled")
        // zone-map bands recorded under three different headers still
        // prune the widened doc_id scan through plain Catalyst filters
        val total = LakeReader.listTableKeys(store, "docs_evo2", None).size
        val narrow = df.where(col("doc_id") < 60L)
        val scan = narrow.queryExecution.executedPlan.collectFirst {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.scan
        }.get.asInstanceOf[graft.lake.LakeScan]
        require(scan.plannedKeys.nonEmpty && scan.plannedKeys.size < total,
          s"banded objects must prune under reconcile: " +
            s"${scan.plannedKeys.size} of $total")
        df.select(col("doc_id"), col("lang"), col("source"),
            col("n_chars")) // widened to double by reconciliation
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CASE WHEN ((doc_id % 3) + 3) % 3 = 1 THEN NULL ELSE lang END AS lang,
             |  CASE WHEN ((doc_id % 3) + 3) % 3 = 0 THEN NULL ELSE source END AS source,
             |  CAST(n_chars AS DOUBLE) AS n_chars
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---------------- sealed-hours manifest read (l25)
    // The table-format manifest idea on the reference's key layout: a
    // nightly `seal_manifest` writes ONE object listing every key in
    // hours ≤ upTo, and every read path (listTableKeys → bespoke reads,
    // the DSv2 scan, stream discovery) answers sealed hours off that
    // object instead of a LIST call per hour directory — at warehouse
    // scale the difference between O(lifetime hours) metadata calls and
    // O(unsealed tail). Advisory and write-invalidated (ManifestSpec);
    // the in-query gates prove the manifest is USED (zero sealed-hour
    // LIST calls through a metered store, fewer total calls) and the
    // oracle proves the rows stay exact.
    "l25_lake_manifest_read" -> QueryDef(
      (s, dir) => {
        import graft.lake.{LakeReader, LakeWriter, Manifests}
        import graft.types.{ColType, TableSchema}
        val schema = TableSchema("events_mf", Seq(
          "event_id" -> ColType.CInteger, "user_id" -> ColType.CInteger))
        val (root, store) = freshLake("graft-manifest-lake", dir)
        val ev = t(s, dir, "events").select(col("event_id"), col("user_id"))
        Seq(0, 1, 2).foreach { h =>
          LakeWriter.write(
            ev.filter(pmod(col("event_id"), lit(3)) === h).repartition(2),
            schema, root, java.time.Instant.parse(f"2024-06-01T0$h%d:00:00Z"))
        }
        val before = LakeReader.listTableKeys(store, "events_mf", None).sorted
        require(Manifests.seal(store, "events_mf",
          java.time.Instant.parse("2024-06-01T01:00:00Z")) > 0L)
        // metered store: sealed hours must never be LISTED again
        class Metered extends graft.lake.Store {
          val lists = scala.collection.mutable.ArrayBuffer.empty[String]
          private val in = store
          def put(k: String, d: java.io.InputStream): Unit = in.put(k, d)
          def create(k: String): java.io.OutputStream = in.create(k)
          def open(k: String): java.io.InputStream = in.open(k)
          def list(p: String): Seq[String] = { lists += p; in.list(p) }
          def exists(k: String): Boolean = in.exists(k)
          def delete(k: String): Unit = in.delete(k)
          override def listDirs(p: String): Seq[String] = in.listDirs(p)
          def rootUri: String = in.rootUri
        }
        val m = new Metered
        val after = LakeReader.listTableKeys(m, "events_mf", None).sorted
        require(after == before,
          "the manifest-backed listing must equal the raw walk key-for-key")
        require(!m.lists.exists(p => p.startsWith("2024/06/01/00") ||
            p.startsWith("2024/06/01/01")),
          s"sealed hours must come off the manifest, not LIST calls: ${m.lists}")
        s.read.format("graft-lake").option("table", "events_mf").load(root)
          .groupBy(date_format(col("_event_hour"), "yyyy-MM-dd HH").as("hr"))
          .agg(count(lit(1)).as("n_rows"), sum("user_id").as("sum_uid"))
          .orderBy("hr")
      },
      Some("""SELECT CASE CAST(event_id % 3 AS INTEGER)
             |         WHEN 0 THEN '2024-06-01 00'
             |         WHEN 1 THEN '2024-06-01 01'
             |         ELSE '2024-06-01 02' END AS hr,
             |  count(*) AS n_rows,
             |  CAST(sum(user_id) AS BIGINT) AS sum_uid
             |FROM events GROUP BY 1 ORDER BY hr""".stripMargin)),

    // ---------------- _object_key provenance audit (l26)
    // The connector's METADATA column (SupportsMetadataColumns — the
    // Delta _metadata.file_path analogue): every row knows the lake
    // object it came from, so audit queries (rows per flushed object,
    // find the object behind a record) are plain SQL. An ordered
    // single-task write with a record limit makes the row→object
    // assignment deterministic (object i holds ranks [2500i, 2500(i+1))),
    // which the oracle replays as a rank bucketing. The record limit is
    // 2500 (not the collector-ish 250): the audited OPERATOR plans one
    // object either way, and a 10x-smaller fixture keeps ~9 s of pure
    // object synthesis out of the bench clock (r12 What's-wrong #3).
    // The gate pins the point lookup: equality on _object_key plans
    // EXACTLY that object.
    "l26_lake_object_key_audit" -> QueryDef(
      (s, dir) => {
        import graft.lake.LakeWriter
        import graft.types.{ColType, TableSchema}
        val schema = TableSchema("events_pk", Seq(
          "event_id" -> ColType.CInteger, "user_id" -> ColType.CInteger))
        val (root, store) = freshLake("graft-objkey-lake", dir)
        val ev = t(s, dir, "events").select(col("event_id"), col("user_id"))
        LakeWriter.write(ev.orderBy("event_id").coalesce(1), schema, root,
          maxRecordsPerObject = 2500L)
        val df = s.read.format("graft-lake").option("table", "events_pk")
          .load(root)
        val audit = df.groupBy(col("_object_key"))
          .agg(count(lit(1)).as("n_rows"), min("event_id").as("min_id"),
            max("event_id").as("max_id"), sum("user_id").as("sum_uid"))
        // the point lookup: = on the provenance key plans ONE object
        val one = graft.lake.LakeReader.listTableKeys(store, "events_pk",
          None).head
        val lookup = df.where(col("_object_key") === one)
        val scan = lookup.queryExecution.executedPlan.collectFirst {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.scan
        }.get.asInstanceOf[graft.lake.LakeScan]
        require(scan.plannedKeys == Seq(one),
          s"_object_key equality must plan exactly [$one]: ${scan.plannedKeys}")
        val lookedUp = lookup.count() // one action, one scan
        require(lookedUp > 0L && lookedUp <= 2500L,
          s"the looked-up object holds its rows (record limit 2500): $lookedUp")
        audit.select(col("n_rows"), col("min_id"), col("max_id"),
            col("sum_uid")) // the uuid key itself is run-random: derive-only
          .orderBy("min_id")
      },
      Some("""WITH ranked AS (
             |  SELECT event_id, user_id,
             |    row_number() OVER (ORDER BY event_id) - 1 AS rn
             |  FROM events)
             |SELECT count(*) AS n_rows,
             |  min(event_id) AS min_id, max(event_id) AS max_id,
             |  CAST(sum(user_id) AS BIGINT) AS sum_uid
             |FROM ranked GROUP BY rn // 2500
             |ORDER BY min_id""".stripMargin)),

    // ---------------- pruned streaming backfill (l27)
    // The streaming scan's object-level prune ([[graft.lake
    // .LakeMicroBatchStream]] + the StreamLakePrune rule): a plain
    // `WHERE` on a `readStream` now narrows DISCOVERY by its
    // `_event_hour` window (out-of-window hours are never listed, never
    // enter the ledger) and drops zone-band-refuted objects at plan
    // time — the "reprocess hours H2..H3 where vc in band" backfill
    // reads only the matching objects, not the window. Spark itself
    // never pushes filters to a MicroBatchStream (MicroBatchExecution
    // builds the scan without pushdown), so the connector carries them
    // via the per-trigger optimizer rule; every filter re-applies
    // row-level, keeping the drain exact. The gate meters numInputRows:
    // strictly under the window's rows (bands bit) and exactly the
    // in-band objects' rows is unknowable (band over-approximation), so
    // the floor is the true row count. Oracle replays the rollup from
    // the original parquet.
    "l27_lake_stream_pruned_backfill" -> QueryDef(
      (s, dir) => {
        import graft.lake.LakeWriter
        import graft.types.TableSchema
        val schema = TableSchema("events_sp", EventsVc)
        val (root, _) = freshLake("graft-stream-prune-lake", dir)
        val (ckptRoot, _) = freshLake("graft-stream-prune-ckpt", dir)
        val ev = eventsVc(s, dir)
        for (h <- 0 until 6)
          LakeWriter.write(
            ev.filter(pmod(col("event_id"), lit(6)) === h)
              .repartitionByRange(4, col("vc")),
            schema, root, java.time.Instant.parse(f"2024-06-01T0$h%d:00:00Z"),
            zoneMaps = true)
        val lo = java.sql.Timestamp.from(
          java.time.Instant.parse("2024-06-01T02:00:00Z"))
        val hi = java.sql.Timestamp.from(
          java.time.Instant.parse("2024-06-01T03:00:00Z"))
        s.catalog.dropTempView("l27_drained") // bench re-runs in-session
        val q = s.readStream.format("graft-lake").option("table", "events_sp")
          .load(root)
          .where(col("_event_hour").between(lo, hi) &&
            col("vc").between(1000, 5000))
          .writeStream.format("memory").queryName("l27_drained")
          .outputMode("append")
          .option("checkpointLocation", s"$ckptRoot/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination(120000)
        val inputRows = q.recentProgress.map(_.numInputRows).sum
        val windowRows = ev.filter(
          pmod(col("event_id"), lit(6)).isin(2, 3)).count()
        require(inputRows > 0 && inputRows < windowRows,
          s"zone bands must skip objects inside the admitted window: " +
            s"read $inputRows of the window's $windowRows rows")
        val streamed = s.table("l27_drained")
        val batch = s.read.format("graft-lake").option("table", "events_sp")
          .load(root)
          .where(col("_event_hour").between(lo, hi) &&
            col("vc").between(1000, 5000))
        require(multisetSig(streamed) == multisetSig(
            batch.select(streamed.columns.map(col).toSeq: _*)),
          "the pruned drain must equal the filtered batch connector read")
        streamed.groupBy(date_format(col("_event_hour"), "yyyy-MM-dd HH")
            .as("hr"))
          .agg(count(lit(1)).as("n_rows"), sum("vc").as("sum_vc"),
            sum("user_id").as("sum_uid"))
          .orderBy("hr")
      },
      Some("""SELECT CASE CAST(event_id % 6 AS INTEGER)
             |         WHEN 2 THEN '2024-06-01 02'
             |         ELSE '2024-06-01 03' END AS hr,
             |  count(*) AS n_rows,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             |    AS sum_vc,
             |  CAST(sum(user_id) AS BIGINT) AS sum_uid
             |FROM events
             |WHERE CAST(event_id % 6 AS INTEGER) IN (2, 3)
             |  AND floor(value * 100 + 0.5) BETWEEN 1000 AND 5000
             |GROUP BY 1 ORDER BY hr""".stripMargin)),

    // ---------------- row-level delete (l28)
    // `CALL lake.system.delete_where` / [[graft.lake.LakeMaintenance
    // .deleteWhere]] — the GDPR "drop user X everywhere" composed from
    // proven parts: the zone-band/bloom probe bounds the rewrite to
    // objects that might hold the users (user-banded layout → most
    // objects skip without opening), surviving rows staged-publish as
    // fresh objects, originals retire, manifests invalidate. Gates pin
    // the 100-TB claims: objectsSkipped > 0 (the probe bit), zero
    // matching rows after, every non-candidate object byte-identical.
    // The oracle replays the complement from the original parquet.
    "l28_lake_delete_where" -> QueryDef(
      (s, dir) => {
        import graft.lake.{LakeMaintenance, LakeReader, LakeWriter}
        import graft.types.TableSchema
        val schema = TableSchema("events_dw", EventsVc)
        val (root, store) = freshLake("graft-delete-lake", dir)
        val ev = eventsVc(s, dir)
        // two hours, each user-RANGE-banded into 4 objects: the victims'
        // narrow user range lives in ~1 object per hour
        for (h <- 0 until 2)
          LakeWriter.write(
            ev.filter(pmod(col("event_id"), lit(2)) === h)
              .repartitionByRange(4, col("user_id")),
            schema, root, java.time.Instant.parse(f"2024-06-01T0$h%d:00:00Z"),
            zoneMaps = true)
        // users 3..5 exist at every SF (ids are 0..N-1, N >= 15)
        val victims = ev.filter(col("user_id").between(3, 5))
          .select("user_id").distinct().collect().map(_.getLong(0): Any).toSeq
        require(victims.nonEmpty, "fixture: users 3..5 must exist")
        val beforeKeys = LakeReader.listTableKeys(store, "events_dw", None)
        val rep = LakeMaintenance.deleteWhere(s, store, "events_dw",
          "user_id", victims, zoneMaps = true)
        require(rep.objectsSkipped > 0,
          s"the band probe must skip out-of-range objects: $rep")
        require(rep.rowsDeleted > 0, s"planted users must be found: $rep")
        val after = s.read.format("graft-lake").option("table", "events_dw")
          .load(root)
        require(after.filter(col("user_id").between(3, 5)).count() == 0,
          "zero matching rows after the delete")
        // every skipped (non-candidate) original survives under its key
        val afterKeys =
          LakeReader.listTableKeys(store, "events_dw", None).toSet
        val surviving = beforeKeys.count(afterKeys.contains)
        require(surviving >= rep.objectsSkipped,
          s"skipped objects must survive untouched: $surviving of $rep")
        after.agg(count(lit(1)).as("n_rows"),
          sum("vc").as("sum_vc"), sum("user_id").as("sum_uid"),
          min("event_id").as("min_id"), max("event_id").as("max_id"))
      },
      Some("""SELECT count(*) AS n_rows,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             |    AS sum_vc,
             |  CAST(sum(user_id) AS BIGINT) AS sum_uid,
             |  min(event_id) AS min_id, max(event_id) AS max_id
             |FROM events
             |WHERE user_id NOT BETWEEN 3 AND 5""".stripMargin)),

    // ---------------- SQL DELETE through the catalog (l29)
    // Both halves of [[graft.lake.LakeRowLevel]] under one oracle: a
    // probe-shaped DELETE must stay on the METADATA path (plan gate:
    // DeleteFromTable, never ReplaceData — the bloom/band probe bounds
    // the rewrite, out-of-band originals survive under their keys), and
    // an arbitrary-predicate DELETE must go COPY-ON-WRITE with Spark's
    // runtime group filter keyed on `_object_key` (plan gate). The
    // oracle replays both complements from the original parquet.
    "l29_lake_sql_delete" -> QueryDef(
      (s, dir) => {
        import graft.lake.{LakeReader, LakeWriter}
        import graft.types.TableSchema
        val schema = TableSchema("events_sd", EventsVc)
        val (root, store) = freshLake("graft-sqldelete-lake", dir)
        val ev = eventsVc(s, dir)
        for (h <- 0 until 2)
          LakeWriter.write(
            ev.filter(pmod(col("event_id"), lit(2)) === h)
              .repartitionByRange(4, col("user_id")),
            schema, root, java.time.Instant.parse(f"2024-06-01T0$h%d:00:00Z"),
            zoneMaps = true)
        val cat = lakeCatalog(s, "l29cat", root)
        val before = LakeReader.listTableKeys(store, "events_sd", None)
        val d1 = s.sql(s"DELETE FROM $cat.events_sd WHERE user_id IN (3, 4, 5)")
        val p1 = d1.queryExecution.executedPlan.toString
        require(p1.contains("DeleteFromTable") && !p1.contains("ReplaceData"),
          s"a probe DELETE must stay metadata-path:\n$p1")
        val mid = LakeReader.listTableKeys(store, "events_sd", None).toSet
        require(before.count(mid.contains) > 0,
          "the band probe must leave out-of-band originals untouched")
        val d2 = s.sql(s"DELETE FROM $cat.events_sd WHERE event_id % 97 = 0")
        val p2 = d2.queryExecution.executedPlan.toString
        require(p2.contains("ReplaceData") &&
            p2.contains("dynamicpruningexpression(_object_key"),
          s"an arbitrary DELETE must rewrite COW under the _object_key " +
            s"group filter:\n$p2")
        s.table(s"$cat.events_sd")
          .agg(count(lit(1)).as("n_rows"), sum("vc").as("sum_vc"),
            sum("user_id").as("sum_uid"),
            min("event_id").as("min_id"), max("event_id").as("max_id"))
      },
      Some("""SELECT count(*) AS n_rows,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             |    AS sum_vc,
             |  CAST(sum(user_id) AS BIGINT) AS sum_uid,
             |  min(event_id) AS min_id, max(event_id) AS max_id
             |FROM events
             |WHERE user_id NOT IN (3, 4, 5) AND event_id % 97 <> 0""".stripMargin)),

    // ---------------- SQL UPDATE, copy-on-write (l30)
    // `UPDATE lake.t SET ... WHERE <band>` through Spark's ReplaceData
    // rewrite: the static zone-band pushdown bounds the rewrite to the
    // objects holding the band (gates: some originals SURVIVE under
    // their keys — the prune bit — and some retire — the rewrite bit),
    // updated rows land back in their own hour. Oracle: CASE over the
    // original parquet.
    "l30_lake_sql_update" -> QueryDef(
      (s, dir) => {
        import graft.lake.{LakeReader, LakeWriter}
        import graft.types.TableSchema
        val schema = TableSchema("events_su", EventsVc)
        val (root, store) = freshLake("graft-sqlupdate-lake", dir)
        val ev = eventsVc(s, dir)
        for (h <- 0 until 2)
          LakeWriter.write(
            ev.filter(pmod(col("event_id"), lit(2)) === h)
              .repartitionByRange(4, col("user_id")),
            schema, root, java.time.Instant.parse(f"2024-06-01T0$h%d:00:00Z"),
            zoneMaps = true)
        val cat = lakeCatalog(s, "l30cat", root)
        val before = LakeReader.listTableKeys(store, "events_su", None)
        val u = s.sql(
          s"UPDATE $cat.events_su SET vc = vc + 1000000 WHERE user_id BETWEEN 3 AND 5")
        require(u.queryExecution.executedPlan.toString.contains("ReplaceData"),
          "SQL UPDATE must rewrite copy-on-write")
        val after = LakeReader.listTableKeys(store, "events_su", None)
        val surviving = before.count(after.toSet.contains)
        require(surviving > 0 && surviving < before.size,
          s"the band pushdown must bound the rewrite: $surviving of " +
            s"${before.size} originals survive")
        require(after.forall(k => k.startsWith("2024/06/01/00/") ||
            k.startsWith("2024/06/01/01/")),
          s"updated rows stay in their own hours: $after")
        s.table(s"$cat.events_su")
          .agg(count(lit(1)).as("n_rows"), sum("vc").as("sum_vc"),
            sum("user_id").as("sum_uid"), max("event_id").as("max_id"))
      },
      Some("""SELECT count(*) AS n_rows,
             |  CAST(sum(CASE WHEN user_id BETWEEN 3 AND 5
             |    THEN CAST(floor(value * 100 + 0.5) AS BIGINT) + 1000000
             |    ELSE CAST(floor(value * 100 + 0.5) AS BIGINT) END)
             |    AS BIGINT) AS sum_vc,
             |  CAST(sum(user_id) AS BIGINT) AS sum_uid,
             |  max(event_id) AS max_id
             |FROM events""".stripMargin)),

    // ---------------- MERGE INTO, position-delta upsert (l31)
    // The training-data upsert: matched rows update IN PLACE (their own
    // hour — provenance intact), unmatched source rows INSERT under
    // their stated hour. Source = every 10th event doubled + 100 brand
    // new ids; oracle folds both arms over the original parquet with
    // the inserts as closed-form constants. Since r15 the plan is the
    // DELTA write (LakeDelta): only the changed rows ship through it.
    "l31_lake_sql_merge" -> QueryDef(
      (s, dir) => {
        import graft.lake.{LakeReader, LakeWriter}
        import graft.types.TableSchema
        val schema = TableSchema("events_sm", EventsVc)
        val (root, store) = freshLake("graft-sqlmerge-lake", dir)
        val ev = eventsVc(s, dir)
        LakeWriter.write(ev.repartitionByRange(8, col("event_id")),
          schema, root, java.time.Instant.parse("2024-06-01T00:00:00Z"),
          zoneMaps = true)
        val cat = lakeCatalog(s, "l31cat", root)
        val hot = java.sql.Timestamp.from(
          java.time.Instant.parse("2024-06-01T05:00:00Z"))
        ev.filter(pmod(col("event_id"), lit(10)) === 0)
          .select(col("event_id"), col("user_id"),
            (col("vc") * 2).as("vc"), lit(hot).as("_event_hour"))
          .unionByName(s.range(1, 101).select(
            (lit(10000000000L) + col("id")).as("event_id"),
            lit(-1L).as("user_id"), lit(7L).as("vc"),
            lit(hot).as("_event_hour")))
          .createOrReplaceTempView("l31_src")
        val m = s.sql(
          s"""MERGE INTO $cat.events_sm t USING l31_src s ON t.event_id = s.event_id
             |WHEN MATCHED THEN UPDATE SET vc = s.vc
             |WHEN NOT MATCHED THEN INSERT (event_id, user_id, vc, _event_hour)
             |  VALUES (s.event_id, s.user_id, s.vc, s._event_hour)""".stripMargin)
        require(m.queryExecution.executedPlan.toString.contains("WriteDelta"),
          "MERGE must take the position-delta path (changed rows only)")
        val keys = LakeReader.listTableKeys(store, "events_sm", None)
        require(keys.exists(_.startsWith("2024/06/01/05/")),
          s"inserted rows must land under their stated hour: $keys")
        require(keys.exists(_.startsWith("2024/06/01/00/")),
          s"matched rows must stay in their original hour: $keys")
        s.table(s"$cat.events_sm")
          .agg(count(lit(1)).as("n_rows"), sum("vc").as("sum_vc"),
            sum("user_id").as("sum_uid"), max("event_id").as("max_id"))
      },
      Some("""SELECT count(*) + 100 AS n_rows,
             |  CAST(sum(CASE WHEN event_id % 10 = 0
             |    THEN 2 * CAST(floor(value * 100 + 0.5) AS BIGINT)
             |    ELSE CAST(floor(value * 100 + 0.5) AS BIGINT) END) + 700
             |    AS BIGINT) AS sum_vc,
             |  CAST(sum(user_id) - 100 AS BIGINT) AS sum_uid,
             |  CAST(10000000100 AS BIGINT) AS max_id
             |FROM events""".stripMargin)),

    // ---------------- INSERT OVERWRITE / replaceWhere hour repair (l32)
    // The batch-repair primitive of the YYYY/MM/DD/HH layout: recompute
    // one hour's rows and `writeTo(t).overwrite(_event_hour = H)` — the
    // hour's objects retire, the repaired rows land back IN it, and
    // every other hour stays untouched under its original keys (gated).
    // Rows route to their OWN _event_hour in overwrite mode. Oracle:
    // the repair recomputed from the original parquet.
    "l32_lake_sql_overwrite" -> QueryDef(
      (s, dir) => {
        import graft.lake.{LakeReader, LakeWriter}
        import graft.types.TableSchema
        val schema = TableSchema("events_so", EventsVc)
        val (root, store) = freshLake("graft-sqloverwrite-lake", dir)
        val ev = eventsVc(s, dir)
        for (h <- 0 until 2)
          LakeWriter.write(
            ev.filter(pmod(col("event_id"), lit(2)) === h)
              .repartitionByRange(4, col("user_id")),
            schema, root, java.time.Instant.parse(f"2024-06-01T0$h%d:00:00Z"),
            zoneMaps = true)
        val cat = lakeCatalog(s, "l32cat", root)
        val h1 = java.sql.Timestamp.from(
          java.time.Instant.parse("2024-06-01T01:00:00Z"))
        val before0 = LakeReader.listTableKeys(store, "events_so", None)
          .filter(_.startsWith("2024/06/01/00/"))
        ev.filter(pmod(col("event_id"), lit(2)) === 1)
          .select(col("event_id"), col("user_id"),
            (col("vc") + 1000000L).as("vc"))
          .withColumn("_event_hour", lit(h1))
          .writeTo(s"$cat.events_so").overwrite(col("_event_hour") === lit(h1))
        val after = LakeReader.listTableKeys(store, "events_so", None)
        require(after.filter(_.startsWith("2024/06/01/00/")) == before0,
          "the out-of-scope hour must keep its original objects")
        require(after.exists(_.startsWith("2024/06/01/01/")),
          "the repaired hour must hold the replacement objects")
        s.table(s"$cat.events_so")
          .agg(count(lit(1)).as("n_rows"), sum("vc").as("sum_vc"),
            sum("user_id").as("sum_uid"), max("event_id").as("max_id"))
      },
      Some("""SELECT count(*) AS n_rows,
             |  CAST(sum(CASE WHEN event_id % 2 = 1
             |    THEN CAST(floor(value * 100 + 0.5) AS BIGINT) + 1000000
             |    ELSE CAST(floor(value * 100 + 0.5) AS BIGINT) END)
             |    AS BIGINT) AS sum_vc,
             |  CAST(sum(user_id) AS BIGINT) AS sum_uid,
             |  max(event_id) AS max_id
             |FROM events""".stripMargin)),

    // ---------------- conjunctive metadata DELETE (l33)
    // `DELETE WHERE user_id IN (…) AND event_id IN (…)` — the two-column
    // GDPR shape ("these users' specific events") — must stay on the
    // METADATA path (plan gate: DeleteFromTable, never ReplaceData):
    // conjoined exact probes are exact, and the candidate set is the AND
    // of per-column bloom/band tests, strictly tighter than either
    // column's alone. The oracle replays the complement with the same
    // id list as a subquery.
    "l33_lake_sql_delete_multicol" -> QueryDef(
      (s, dir) => {
        import graft.lake.{LakeReader, LakeWriter}
        import graft.types.TableSchema
        val schema = TableSchema("events_mc", EventsVc)
        val (root, store) = freshLake("graft-sqldelmc-lake", dir)
        val ev = eventsVc(s, dir)
        for (h <- 0 until 2)
          LakeWriter.write(
            ev.filter(pmod(col("event_id"), lit(2)) === h)
              .repartitionByRange(4, col("user_id")),
            schema, root, java.time.Instant.parse(f"2024-06-01T0$h%d:00:00Z"),
            zoneMaps = true)
        // victims: the 20 SMALLEST event ids among users 3..5 —
        // deterministic, non-empty at every SF, literal-inlined for the
        // Spark statement and a subquery for the oracle
        val ids = ev.filter(col("user_id").between(3, 5))
          .select("event_id").orderBy("event_id").limit(20)
          .collect().map(_.getLong(0))
        require(ids.nonEmpty, "fixture: users 3..5 must have events")
        val cat = lakeCatalog(s, "l33cat", root)
        val before = LakeReader.listTableKeys(store, "events_mc", None)
        val d = s.sql(s"DELETE FROM $cat.events_mc WHERE user_id IN (3, 4, 5) " +
          s"AND event_id IN (${ids.mkString(", ")})")
        val p = d.queryExecution.executedPlan.toString
        require(p.contains("DeleteFromTable") && !p.contains("ReplaceData"),
          s"a conjunctive probe DELETE must stay metadata-path:\n$p")
        val mid = LakeReader.listTableKeys(store, "events_mc", None).toSet
        require(before.count(mid.contains) > 0,
          "the conjunctive band probe must leave out-of-band originals untouched")
        s.table(s"$cat.events_mc")
          .agg(count(lit(1)).as("n_rows"), sum("vc").as("sum_vc"),
            sum("user_id").as("sum_uid"),
            min("event_id").as("min_id"), max("event_id").as("max_id"))
      },
      Some("""SELECT count(*) AS n_rows,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             |    AS sum_vc,
             |  CAST(sum(user_id) AS BIGINT) AS sum_uid,
             |  min(event_id) AS min_id, max(event_id) AS max_id
             |FROM events
             |WHERE NOT (user_id IN (3, 4, 5) AND event_id IN (
             |  SELECT event_id FROM events WHERE user_id BETWEEN 3 AND 5
             |  ORDER BY event_id LIMIT 20))""".stripMargin)),

    // ---------------- time travel on the generation pointer (l34)
    // The reproducible-training-corpus primitive: enable retention
    // (gen 1 = the baseline snapshot), UPDATE copy-on-write (gen 2),
    // then read BOTH generations — `VERSION AS OF 1` must be the exact
    // pre-DML table (the originals are retained, tombstone-excluded
    // from the live view) while the current read is the post-DML
    // table. Pruning stays intact on the snapshot: a banded filter on
    // the as-of read must plan a strict subset of its objects.
    "l34_lake_time_travel" -> QueryDef(
      (s, dir) => {
        import graft.lake.{LakeReader, LakeWriter}
        import graft.types.TableSchema
        val schema = TableSchema("events_tt", EventsVc)
        val (root, store) = freshLake("graft-timetravel-lake", dir)
        val ev = eventsVc(s, dir)
        for (h <- 0 until 2)
          LakeWriter.write(
            ev.filter(pmod(col("event_id"), lit(2)) === h)
              .repartitionByRange(4, col("event_id")),
            schema, root, java.time.Instant.parse(f"2024-06-01T0$h%d:00:00Z"),
            zoneMaps = true)
        val cat = lakeCatalog(s, "l34cat", root)
        s.sql(s"CALL $cat.system.set_retention(table => 'events_tt', " +
          "retain => true)") // gen 1: the baseline snapshot
        s.sql(s"UPDATE $cat.events_tt SET vc = vc + 1000000 " +
          "WHERE user_id BETWEEN 3 AND 5") // gen 2
        // prune/pushdown intact on the snapshot: an event_id band
        // (dense ids — selective at EVERY scale factor) plans a strict
        // subset of generation 1's objects
        val nEv = ev.count()
        val q = s.sql(s"SELECT * FROM $cat.events_tt VERSION AS OF 1 " +
          s"WHERE event_id < ${nEv / 4}")
        val scan = q.queryExecution.executedPlan.collectFirst {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.scan
        }.get.asInstanceOf[graft.lake.LakeScan]
        val snapSize = graft.lake.LakeVersions.liveAt(store, "events_tt", 1L).size
        require(scan.plannedKeys.nonEmpty && scan.plannedKeys.size < snapSize,
          s"the snapshot read must band-prune: ${scan.plannedKeys.size} " +
            s"of $snapSize")
        val v1 = s.sql(s"SELECT count(*) AS n_v1, sum(vc) AS sum_vc_v1 " +
          s"FROM $cat.events_tt VERSION AS OF 1")
        val cur = s.table(s"$cat.events_tt")
          .agg(count(lit(1)).as("n_cur"), sum("vc").as("sum_vc_cur"))
        v1.crossJoin(cur)
      },
      Some("""SELECT count(*) AS n_v1,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             |    AS sum_vc_v1,
             |  count(*) AS n_cur,
             |  CAST(sum(CASE WHEN user_id BETWEEN 3 AND 5
             |    THEN CAST(floor(value * 100 + 0.5) AS BIGINT) + 1000000
             |    ELSE CAST(floor(value * 100 + 0.5) AS BIGINT) END)
             |    AS BIGINT) AS sum_vc_cur
             |FROM events""".stripMargin)),

    // ---------------- incremental changes feed (l35)
    // The change-data-feed read of the version chain (LakeChanges): tag
    // a retained snapshot, move the table on with a curation DELETE, a
    // quality UPDATE, and a delta-MERGE upsert, then ask "exactly what
    // changed since run-x" — row-exact insert/delete sets planned from
    // the OBJECT diff of the generation records (only changed objects
    // open; surviving copies cancel via one exceptAll per direction).
    // Oracle: the change sets folded closed-form over the original
    // parquet (deletes = pre-images of removed+changed rows, inserts =
    // post-images + the MERGE's new rows).
    "l35_lake_changes_feed" -> QueryDef(
      (s, dir) => {
        import graft.lake.{LakeChanges, LakeWriter}
        import graft.types.TableSchema
        val schema = TableSchema("events_cf", EventsVc)
        val (root, store) = freshLake("graft-changes-lake", dir)
        val ev = eventsVc(s, dir)
        for (h <- 0 until 2)
          LakeWriter.write(
            ev.filter(pmod(col("event_id"), lit(2)) === h)
              .repartitionByRange(4, col("event_id")),
            schema, root, java.time.Instant.parse(f"2024-06-01T0$h%d:00:00Z"),
            zoneMaps = true)
        val cat = lakeCatalog(s, "l35cat", root)
        s.sql(s"CALL $cat.system.set_retention(table => 'events_cf', " +
          "retain => true)")
        s.sql(s"CALL $cat.system.tag(table => 'events_cf', name => 'run-x')")
        val k = ev.count() / 10
        s.sql(s"DELETE FROM $cat.events_cf WHERE user_id = 3")
        s.sql(s"UPDATE $cat.events_cf SET vc = vc + 1000000 " +
          s"WHERE event_id < $k")
        ev.filter(pmod(col("event_id"), lit(10)) === 7)
          .select(col("event_id").as("sid"), lit("u").as("act"))
          .unionByName(s.range(1, 101).select(
            (lit(10000000000L) + col("id")).as("sid"), lit("i").as("act")))
          .createOrReplaceTempView("l35_src")
        val m = s.sql(
          s"""MERGE INTO $cat.events_cf t USING l35_src s ON t.event_id = s.sid
             |WHEN MATCHED AND s.act = 'u' THEN UPDATE SET vc = vc * 2 + 1
             |WHEN NOT MATCHED AND s.act = 'i' THEN
             |  INSERT (event_id, user_id, vc, _event_hour)
             |  VALUES (s.sid, -1, 9,
             |    TIMESTAMP '2024-06-01 05:00:00+00:00')""".stripMargin)
        require(m.queryExecution.executedPlan.toString.contains("WriteDelta"),
          "MERGE must take the position-delta path")
        LakeChanges.since(s, root, "events_cf", "run-x")
          .agg(
            sum(when(col("_change_type") === "delete", 1L).otherwise(0L))
              .as("n_del"),
            sum(when(col("_change_type") === "delete", col("vc"))
              .otherwise(0L)).as("sum_vc_del"),
            sum(when(col("_change_type") === "insert", 1L).otherwise(0L))
              .as("n_ins"),
            sum(when(col("_change_type") === "insert", col("vc"))
              .otherwise(0L)).as("sum_vc_ins"))
      },
      // deletes = pre-images: every user_id=3 row, plus every surviving
      // row the UPDATE (event_id < K) or the MERGE matched arm
      // (event_id % 10 = 7) changed; inserts = those rows' post-images
      // (+1000000 below K, then *2+1 on the matched set) + 100 new rows
      // of vc 9. K = count/10, matching the Spark side's Long division.
      Some("""WITH v AS (SELECT event_id AS eid, user_id AS uid,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
             |  FROM events),
             |kk AS (SELECT CAST(count(*) // 10 AS BIGINT) AS k FROM events),
             |chg AS (SELECT eid, vc,
             |    vc + (CASE WHEN eid < (SELECT k FROM kk)
             |      THEN 1000000 ELSE 0 END) AS v1
             |  FROM v WHERE uid <> 3
             |    AND (eid < (SELECT k FROM kk) OR eid % 10 = 7)),
             |post AS (SELECT CASE WHEN eid % 10 = 7
             |    THEN v1 * 2 + 1 ELSE v1 END AS v2 FROM chg)
             |SELECT
             |  CAST((SELECT count(*) FROM v WHERE uid = 3) +
             |    (SELECT count(*) FROM chg) AS BIGINT) AS n_del,
             |  CAST((SELECT COALESCE(sum(vc), 0) FROM v WHERE uid = 3) +
             |    (SELECT COALESCE(sum(vc), 0) FROM chg) AS BIGINT)
             |    AS sum_vc_del,
             |  CAST((SELECT count(*) FROM chg) + 100 AS BIGINT) AS n_ins,
             |  CAST((SELECT COALESCE(sum(v2), 0) FROM post) + 900 AS BIGINT)
             |    AS sum_vc_ins""".stripMargin)),

    // ---------------- metadata-only schema evolution (l36)
    // ALTER TABLE ADD COLUMN without touching a data byte (LakeSchemas):
    // the declared schema becomes authoritative, old objects read the
    // new column as NULL by-name, appends carry the evolved header, and
    // a COW UPDATE sets the new column on old-header rows (touched
    // objects migrate as a byproduct). Oracle: the evolved table's
    // aggregates folded closed-form over the original parquet.
    "l36_lake_schema_evolution" -> QueryDef(
      (s, dir) => {
        import graft.lake.{LakeReader, LakeWriter}
        import graft.types.TableSchema
        val schema = TableSchema("events_se", EventsVc)
        val (root, store) = freshLake("graft-evolve-lake", dir)
        val ev = eventsVc(s, dir)
        LakeWriter.write(ev.repartitionByRange(8, col("event_id")),
          schema, root, java.time.Instant.parse("2024-06-01T00:00:00Z"),
          zoneMaps = true)
        val cat = lakeCatalog(s, "l36cat", root)
        val preKeys = LakeReader.listTableKeys(store, "events_se", None)
        s.sql(s"ALTER TABLE $cat.events_se ADD COLUMN score DOUBLE")
        // metadata-only: the ALTER rewrote nothing
        require(LakeReader.listTableKeys(store, "events_se", None) == preKeys,
          "ALTER must not touch data objects")
        val hot = java.sql.Timestamp.from(
          java.time.Instant.parse("2024-06-01T03:00:00Z"))
        s.range(100).select(
          (lit(20000000000L) + col("id")).as("event_id"),
          lit(-1L).as("user_id"), lit(5L).as("vc"),
          lit(2.5d).as("score"), lit(hot).as("_event_hour"))
          .createOrReplaceTempView("l36_ins")
        s.sql(s"INSERT INTO $cat.events_se SELECT * FROM l36_ins")
        val k = ev.count() / 10
        s.sql(s"UPDATE $cat.events_se SET score = 3.25 WHERE event_id < $k")
        // the COW rewrite landed old-header rows on the declared header
        val rec = graft.lake.LakeVersions.head(store, "events_se",
          graft.lake.LakeVersions.listDir(store, "events_se")).get
        require(rec.added.forall(kk =>
          LakeReader.peekSchema(store, kk, "events_se").columnNames ==
            Seq("event_id", "user_id", "vc", "score")),
          "rewritten objects must migrate to the declared header")
        s.table(s"$cat.events_se").agg(
          count(lit(1)).as("n_rows"), sum("vc").as("sum_vc"),
          sum("score").as("sum_score"),
          sum(when(col("score").isNull, 1L).otherwise(0L)).as("n_null_score"))
      },
      // inserts: 100 rows (vc 5, score 2.5); updates: score 3.25 for
      // event_id < count/10; every other original row reads score NULL
      Some("""WITH kk AS (SELECT CAST(count(*) // 10 AS BIGINT) AS k
             |  FROM events)
             |SELECT
             |  CAST(count(*) + 100 AS BIGINT) AS n_rows,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) + 500
             |    AS BIGINT) AS sum_vc,
             |  CAST(3.25 * (SELECT count(*) FROM events
             |      WHERE event_id < (SELECT k FROM kk)) + 250.0
             |    AS DOUBLE) AS sum_score,
             |  CAST((SELECT count(*) FROM events
             |    WHERE event_id >= (SELECT k FROM kk)) AS BIGINT)
             |    AS n_null_score
             |FROM events""".stripMargin)),

    // ---------------- merge-on-read position deletes (l37)
    // The sparse-DML posture (LakeDvs): with set_dml_mode merge-on-read,
    // an untranslatable DELETE and an UPDATE publish position delete
    // VECTORS + fresh objects for the changed rows — NO touched object
    // is rewritten (gated: the pre-DML key set survives byte-level) —
    // and every read subtracts the vectors. Oracle: the same DELETE +
    // UPDATE folded closed-form over the original parquet.
    "l37_lake_mor_dml" -> QueryDef(
      (s, dir) => {
        import graft.lake.{LakeReader, LakeVersions, LakeWriter}
        import graft.types.TableSchema
        val schema = TableSchema("events_mr", EventsVc)
        val (root, store) = freshLake("graft-mor-lake", dir)
        val ev = eventsVc(s, dir)
        for (h <- 0 until 2)
          LakeWriter.write(
            ev.filter(pmod(col("event_id"), lit(2)) === h)
              .repartitionByRange(4, col("event_id")),
            schema, root, java.time.Instant.parse(f"2024-06-01T0$h%d:00:00Z"),
            zoneMaps = true)
        val cat = lakeCatalog(s, "l37cat", root)
        s.sql(s"CALL $cat.system.set_dml_mode(table => 'events_mr', " +
          "mode => 'merge-on-read')").collect()
        val before = LakeReader.listTableKeys(store, "events_mr", None).toSet
        // ~10% of every object dies; modulo never translates to the
        // metadata path, so this is the vector path end-to-end
        val d = s.sql(s"DELETE FROM $cat.events_mr WHERE event_id % 10 = 3")
        val dp = d.queryExecution.executedPlan.toString
        require(dp.contains("WriteDelta") && !dp.contains("ReplaceData"),
          s"a MOR delete must take the delta path:\n$dp")
        val u = s.sql(s"UPDATE $cat.events_mr SET vc = vc + 1000000 " +
          "WHERE event_id % 7 = 2")
        val up = u.queryExecution.executedPlan.toString
        require(up.contains("WriteDelta") && !up.contains("ReplaceData"),
          s"a MOR update must take the delta path:\n$up")
        val after = LakeReader.listTableKeys(store, "events_mr", None).toSet
        require(before.subsetOf(after),
          "merge-on-read must not rewrite or retire any touched object")
        require(LakeVersions.currentDvs(store, "events_mr").nonEmpty,
          "the DML must have committed delete vectors")
        s.table(s"$cat.events_mr")
          .agg(count(lit(1)).as("n_rows"), sum("vc").as("sum_vc"),
            sum("user_id").as("sum_uid"),
            min("event_id").as("min_id"), max("event_id").as("max_id"))
      },
      Some("""WITH live AS (SELECT event_id, user_id,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT)
             |      + (CASE WHEN event_id % 7 = 2 THEN 1000000 ELSE 0 END)
             |      AS vc
             |  FROM events WHERE event_id % 10 <> 3)
             |SELECT count(*) AS n_rows,
             |  CAST(sum(vc) AS BIGINT) AS sum_vc,
             |  CAST(sum(user_id) AS BIGINT) AS sum_uid,
             |  min(event_id) AS min_id, max(event_id) AS max_id
             |FROM live""".stripMargin)),

    // ---------------- equality deletes (l39)
    // ---------------- cross-table transactions (l41)
    // The multi-table atomic commit ([[graft.lake.LakeTxn]]): a corpus
    // table and its DERIVED per-user stats table ingest a day's batch
    // as ONE transaction — each table stages its half behind the same
    // audit id (hidden, gated in-query), then `commit_transaction`
    // CAS-publishes per-table txn-marked records and flips ONE
    // decision file. Readers can never observe the corpus half without
    // the stats half (the drift a reprocessing pipeline cannot repair:
    // metrics derived from rows that "aren't there"). The result JOINs
    // the re-aggregated corpus against the stats table — n_consistent
    // == n_users proves the two halves agree user-by-user. Oracle:
    // closed-form from the parquet + the synthetic batch.
    "l41_lake_txn" -> QueryDef(
      (s, dir) => {
        import graft.lake.{LakeReader, LakeWriter}
        import graft.types.{ColType, TableSchema}
        val (root, store) = freshLake("graft-txn-lake", dir)
        val ev = t(s, dir, "events").select(col("user_id"),
          floor(col("value") * 100 + 0.5).cast("long").as("vc"))
        // base state: the corpus and its per-user additive stats table
        LakeWriter.write(ev.repartitionByRange(4, col("user_id")),
          TableSchema("ev_tx", Seq("user_id" -> ColType.CInteger,
            "vc" -> ColType.CInteger)),
          root, java.time.Instant.parse("2024-06-01T00:00:00Z"))
        LakeWriter.write(
          ev.groupBy("user_id").agg(count(lit(1)).as("n"),
            sum("vc").as("sum_vc")).coalesce(1),
          TableSchema("evstats_tx", Seq("user_id" -> ColType.CInteger,
            "n" -> ColType.CInteger, "sum_vc" -> ColType.CInteger)),
          root, java.time.Instant.parse("2024-06-01T00:00:00Z"))
        val cat = lakeCatalog(s, "l41cat", root)
        // the day's batch: 200 corpus rows + their per-user partials,
        // STAGED on both tables under one audit id
        val hot = java.sql.Timestamp.from(
          java.time.Instant.parse("2024-06-02T00:00:00Z"))
        val batch = s.range(200).select(
          (col("id") % 50).cast("long").as("user_id"),
          (col("id") * 3L).as("vc"))
        batch.withColumn("_event_hour", lit(hot)).coalesce(1)
          .write.format("graft-lake").option("table", "ev_tx")
          .option("auditId", "day2").mode("append").save(root)
        batch.groupBy("user_id").agg(count(lit(1)).as("n"),
            sum("vc").as("sum_vc"))
          .withColumn("_event_hour", lit(hot)).coalesce(1)
          .write.format("graft-lake").option("table", "evstats_tx")
          .option("auditId", "day2").mode("append").save(root)
        val nUsers = ev.select("user_id").distinct().count()
        require(s.table(s"$cat.ev_tx").count() == ev.count() &&
          s.table(s"$cat.evstats_tx").count() == nUsers,
          "both staged halves must be invisible before the decision")
        s.sql(s"CALL $cat.system.commit_transaction(" +
          "tables => 'ev_tx,evstats_tx', audit_id => 'day2')").collect()
        val re = LakeReader.read(s, root, "ev_tx")
          .groupBy("user_id").agg(count(lit(1)).as("n"),
            sum("vc").as("sum_vc"))
        val st = LakeReader.read(s, root, "evstats_tx")
          .groupBy("user_id").agg(sum("n").as("n"),
            sum("sum_vc").as("sum_vc"))
        st.as("s").join(re.as("r"), Seq("user_id"), "full_outer")
          .agg(count(lit(1)).as("n_users"),
            sum(when(col("s.n") === col("r.n") &&
              col("s.sum_vc") === col("r.sum_vc"), 1L).otherwise(0L))
              .as("n_consistent"),
            sum(col("s.n")).as("n_events"),
            sum(col("s.sum_vc")).as("sum_vc"))
      },
      Some("""WITH ev AS (
             |  SELECT user_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
             |  FROM events
             |  UNION ALL
             |  SELECT i % 50 AS user_id, i * 3 AS vc FROM range(200) t(i)),
             |st AS (
             |  SELECT user_id, count(*) AS n, CAST(sum(vc) AS BIGINT) AS sum_vc
             |  FROM ev GROUP BY 1)
             |SELECT CAST(count(*) AS BIGINT) AS n_users,
             |  CAST(count(*) AS BIGINT) AS n_consistent,
             |  CAST(sum(n) AS BIGINT) AS n_events,
             |  CAST(sum(sum_vc) AS BIGINT) AS sum_vc
             |FROM st""".stripMargin)),

    // Iceberg-v2's OTHER merge-on-read shape ([[graft.lake
    // .LakeEqDeletes]]): `DELETE WHERE user_id = X` on a MOR table
    // writes ONE small value file + one CAS — O(1) writes where
    // position vectors cost one publish per containing object — and
    // every read subtracts matching rows until compact folds. Gates
    // pin the O(1) claim (exactly one `_eqdel` file per statement,
    // zero data objects added/removed/rewritten, no vectors), the
    // scope rule (a post-delete insert with a deleted user_id
    // SURVIVES — the watermark+boundary sequencing), and that the
    // aggregate answer stays exact through the pushed scan. Oracle:
    // closed-form from the parquet (deleted users excluded, the
    // post-delete insert added back).
    "l39_lake_eq_delete" -> QueryDef(
      (s, dir) => {
        import graft.lake.{LakeEqDeletes, LakeReader, LakeVersions, LakeWriter}
        import graft.types.TableSchema
        val schema = TableSchema("events_eq", EventsVc)
        val (root, store) = freshLake("graft-eq-lake", dir)
        val ev = eventsVc(s, dir)
        for (h <- 0 until 2)
          LakeWriter.write(
            ev.filter(pmod(col("event_id"), lit(2)) === h)
              .repartitionByRange(4, col("event_id")),
            schema, root, java.time.Instant.parse(f"2024-06-01T0$h%d:00:00Z"),
            zoneMaps = true, bloomColumns = Seq("user_id"))
        val cat = lakeCatalog(s, "l39cat", root)
        s.sql(s"CALL $cat.system.set_dml_mode(table => 'events_eq', " +
          "mode => 'merge-on-read')").collect()
        val before = LakeReader.listTableKeys(store, "events_eq", None).toSet
        // the GDPR statement: one IN-list equality DELETE
        s.sql(s"DELETE FROM $cat.events_eq WHERE user_id IN (11, 12, 13)")
        val after = LakeReader.listTableKeys(store, "events_eq", None).toSet
        require(before == after,
          "an equality delete must not add, remove, or rewrite any object")
        require(store.list(LakeEqDeletes.dir("events_eq")).size == 1,
          "exactly ONE equality-delete file per statement (the O(1) claim)")
        require(LakeVersions.currentDvs(store, "events_eq").isEmpty,
          "no position vectors on the equality path")
        require(LakeVersions.currentEqdels(store, "events_eq")
          .exists(e => e.col == "user_id" && e.count == 3L),
          "the generation record must reference the delete")
        // sequencing: a LATER insert with a deleted user_id survives
        import s.implicits._
        LakeWriter.write(
          Seq((40000000000L, 12L, 555L)).toDF("event_id", "user_id", "vc"),
          schema, root)
        s.table(s"$cat.events_eq")
          .agg(count(lit(1)).as("n_rows"), sum("vc").as("sum_vc"),
            sum("user_id").as("sum_uid"),
            min("event_id").as("min_id"), max("event_id").as("max_id"))
      },
      Some("""WITH live AS (
             |  SELECT event_id, user_id,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
             |  FROM events WHERE user_id NOT IN (11, 12, 13)
             |  UNION ALL SELECT 40000000000, 12, 555)
             |SELECT count(*) AS n_rows,
             |  CAST(sum(vc) AS BIGINT) AS sum_vc,
             |  CAST(sum(user_id) AS BIGINT) AS sum_uid,
             |  min(event_id) AS min_id, max(event_id) AS max_id
             |FROM live""".stripMargin)),

    // ---------------- size-tiered auto-compaction (l44)
    // The scheduled-maintenance face of l07 ([[graft.lake
    // .LakeMaintenance.autoCompact]]): two hours carry small-file debt
    // (8 objects each), one is already clean — auto_compact selects
    // and rewrites ONLY the dirty hours (clean hour byte-identical,
    // selection gated in-query), and the consolidated lake aggregates
    // hash-exact against the original parquet. A second run selects
    // nothing and mints no generation (the bounded-debt claim).
    "l44_lake_auto_compact" -> QueryDef(
      (s, dir) => {
        import graft.lake.{LakeMaintenance, LakeReader, LakeVersions, LakeWriter}
        import graft.types.TableSchema
        val schema = TableSchema("events_ac", EventsVc)
        val (root, store) = freshLake("graft-ac-lake", dir)
        val ev = eventsVc(s, dir)
        // hours 00/01: 8 small objects each (debt); hour 02: one (clean)
        for (h <- 0 until 3)
          LakeWriter.write(
            ev.filter(pmod(col("event_id"), lit(3)) === h)
              .repartition(if (h == 2) 1 else 8),
            schema, root, java.time.Instant.parse(f"2024-06-01T0$h%d:00:00Z"))
        val cleanKeys = store.list("2024/06/01/02")
          .filter(_.contains("/events_ac/"))
        val rep = LakeMaintenance.autoCompact(s, store, "events_ac",
          targetRecords = 1000000L, minObjects = 4)
        require(rep.hoursTotal == 3 && rep.hoursSelected == 2 &&
          rep.compaction.oldObjects == 16 && rep.compaction.newObjects == 2,
          s"auto_compact must rewrite exactly the two dirty hours: $rep")
        require(store.list("2024/06/01/02")
          .filter(_.contains("/events_ac/")) == cleanKeys,
          "the clean hour must be untouched")
        // debt paid: a re-run is a no-op and mints no generation
        val gens = LakeVersions.listDir(store, "events_ac").gens
        val again = LakeMaintenance.autoCompact(s, store, "events_ac",
          targetRecords = 1000000L, minObjects = 4)
        require(again.hoursSelected == 0 &&
          LakeVersions.listDir(store, "events_ac").gens == gens,
          "a debt-free run must select nothing and commit nothing")
        LakeReader.read(s, root, "events_ac")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"), sum("vc").as("sum_vc"),
            max("event_id").as("max_id"))
      },
      Some("""SELECT user_id, count(*) AS n,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             |    AS sum_vc,
             |  max(event_id) AS max_id
             |FROM events GROUP BY 1""".stripMargin)),

    // ---------------- re-clustering compaction (l46)
    // The OPTIMIZE ZORDER face (round 19): `compact(cluster_by =>
    // 'zorder(a,b)')` retrofits the Morton write layout onto EXISTING
    // unclustered data — each hour's rows re-land range-partitioned on
    // the z-value with fresh zone-map sidecars, so either column's
    // narrow band prunes where the scrambled layout pruned nothing.
    // Gated in-query: pre-layout keeps everything, post-layout prunes
    // BOTH single-column bands. Oracle: rows are layout-only — the
    // aggregate over the re-clustered table matches the raw parquet.
    "l46_lake_recluster" -> QueryDef(
      (s, dir) => {
        import graft.lake.{LakeMaintenance, LakeReader, LakeWriter}
        import graft.types.TableSchema
        val schema = TableSchema("events_rc", EventsVc)
        val (root, store) = freshLake("graft-rc-lake", dir)
        val ev = eventsVc(s, dir)
        // scrambled: every object spans both full ranges
        LakeWriter.write(ev.repartition(8), schema, root,
          java.time.Instant.parse("2024-06-01T00:00:00Z"), zoneMaps = true)
        // a narrow band on the WIDE-domain column (event_id spans the
        // table; a 1/8 band prunes at every SF, where a user band's
        // few-bit domain washes out of the interleave at tiny scale)
        val maxId = ev.agg(max("event_id")).head.getLong(0)
        def kept(colName: String, lo: Long, hi: Long): Int =
          LakeReader.readPruned(s, root, "events_rc", colName,
            java.math.BigDecimal.valueOf(lo),
            java.math.BigDecimal.valueOf(hi))._2.kept
        require(kept("event_id", 0L, maxId / 8) == 8,
          "fixture: the scrambled layout must prune nothing")
        val rep = LakeMaintenance.compact(s, store, "events_rc",
          targetRecords = math.max(1L, ev.count() / 16),
          zoneMaps = true, clusterBy = Some("zorder(user_id,event_id)"))
        require(rep.oldObjects == 8 && rep.newObjects >= 8,
          s"the re-cluster rewrites the hour into z-banded objects: $rep")
        val ke = kept("event_id", 0L, maxId / 8)
        require(ke < rep.newObjects / 2,
          s"the retrofitted layout must prune a narrow event band: " +
            s"$ke of ${rep.newObjects}")
        LakeReader.read(s, root, "events_rc")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"), sum("vc").as("sum_vc"),
            max("event_id").as("max_id"))
      },
      Some("""SELECT user_id, count(*) AS n,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             |    AS sum_vc,
             |  max(event_id) AS max_id
             |FROM events GROUP BY 1""".stripMargin)),

    // ---------------- rollback / RESTORE (l47)
    // The bad-commit remedy (round 20): `CALL lake.system.rollback`
    // mints ONE generation whose live keys + delete-vector map +
    // equality-delete list equal a retained target's — Delta RESTORE /
    // Iceberg rollback_to_snapshot, forward-rolling so history is
    // preserved. Gated in-query: the raw data-object listing is
    // BIT-IDENTICAL across both rollbacks (pure metadata at any table
    // size — resurrection is bookkeeping, not bytes), the rolled-back
    // state equals the time-travel read exactly (vectors and equality
    // deletes dropped, rows resurrected), and the roll-FORWARD re-applies
    // them exactly. Oracle: closed-form — the post-DML state the second
    // rollback restores.
    "l47_lake_rollback" -> QueryDef(
      (s, dir) => {
        import graft.lake.{LakeVersions, LakeWriter}
        import graft.types.TableSchema
        val schema = TableSchema("events_rb", EventsVc)
        val (root, store) = freshLake("graft-rb-lake", dir)
        val ev = eventsVc(s, dir)
        LakeWriter.write(ev.repartitionByRange(4, col("event_id")),
          schema, root, java.time.Instant.parse("2024-06-01T00:00:00Z"),
          zoneMaps = true, bloomColumns = Seq("user_id"))
        val cat = lakeCatalog(s, "l47cat", root)
        val n = ev.count()
        s.sql(s"CALL $cat.system.set_retention(table => 'events_rb', " +
          "retain => true)").collect()                             // gen 1
        s.sql(s"CALL $cat.system.set_dml_mode(table => 'events_rb', " +
          "mode => 'merge-on-read')").collect()
        s.sql(s"DELETE FROM $cat.events_rb WHERE user_id = 3")     // gen 2: eq
        s.sql(s"DELETE FROM $cat.events_rb " +
          "WHERE event_id % 10 < 2")                               // gen 3: dv
        s.sql(s"UPDATE $cat.events_rb SET vc = vc + 1000 " +
          "WHERE user_id = 7")                                     // gen 4
        def dataKeys() = store.list("").filter(k =>
          graft.lake.LakeKeys.parseKey(k).exists(_._2 == "events_rb")).sorted
        val bytesAt4 = dataKeys()
        val selCols = Seq(col("event_id"), col("user_id"), col("vc"))
        s.sql(s"CALL $cat.system.rollback(table => 'events_rb', " +
          "version => '1')").collect()                             // gen 5
        val head5 = LakeVersions.head(store, "events_rb",
          LakeVersions.listDir(store, "events_rb")).get
        require(head5.dvs.isEmpty && head5.eqdels.isEmpty,
          "rollback to the pre-DML snapshot must reset vectors and " +
            s"equality deletes: dvs=${head5.dvs.size} eqdels=${head5.eqdels.size}")
        require(dataKeys() == bytesAt4,
          "rollback must move ZERO data objects — resurrection is " +
            "bookkeeping, not bytes")
        val now5 = s.table(s"$cat.events_rb").select(selCols: _*)
        val at1 = s.sql(
          s"SELECT event_id, user_id, vc FROM $cat.events_rb VERSION AS OF 1")
        // multiset-signature gates (the l23/l27 pattern, r16
        // optimization): each two-direction exceptAll re-read both lake
        // snapshots twice through wide hash-aggregate shuffles — the
        // gate, not the rollback, dominated this entry's wall time. The
        // signature pins the same multiset equality (and its row count
        // covers the n check) in one single-pass scan per side.
        val sigNow5 = multisetSig(now5)
        require(sigNow5.getLong(0) == n && sigNow5 == multisetSig(at1),
          "the rolled-back table must equal the time-travel read exactly")
        s.sql(s"CALL $cat.system.rollback(table => 'events_rb', " +
          "version => '4')").collect()                             // gen 6
        require(dataKeys() == bytesAt4,
          "the roll-forward must move zero data objects too")
        val now6 = s.table(s"$cat.events_rb").select(selCols: _*)
        val at4 = s.sql(
          s"SELECT event_id, user_id, vc FROM $cat.events_rb VERSION AS OF 4")
        require(multisetSig(now6) == multisetSig(at4),
          "rollback of the rollback must re-apply the undone DML exactly")
        require(LakeVersions.listDir(store, "events_rb").gens.max == 6L,
          "two rollbacks mint exactly two generations")
        now6.agg(count(lit(1)).as("n_rows"), sum("vc").as("sum_vc"),
          sum(when(col("user_id") === 7L, col("vc")).otherwise(0L))
            .as("sum_u7"),
          max("event_id").as("max_id"))
      },
      Some("""SELECT count(*) AS n_rows, CAST(sum(vc) AS BIGINT) AS sum_vc,
             |  CAST(sum(CASE WHEN user_id = 7 THEN vc ELSE 0 END)
             |    AS BIGINT) AS sum_u7,
             |  max(event_id) AS max_id
             |FROM (
             |  SELECT event_id, user_id,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT)
             |      + CASE WHEN user_id = 7 THEN 1000 ELSE 0 END AS vc
             |  FROM events
             |  WHERE user_id <> 3 AND event_id % 10 >= 2)""".stripMargin)),

    // ---------------- objects metadata read (l49)
    // option("metadata", "objects") (round 20): the table$files /
    // DESCRIBE DETAIL read — one row per live object with hour, bytes,
    // sidecar record counts, delete-vector state and equality-delete
    // scope, planned from the version-aware listing, computed on
    // executors, NO data object opened. Gated in-query: exact object
    // coverage, bytes/stats present, and the live_records = records −
    // vector arithmetic. Oracle: the metadata sums equal the row-level
    // truth computed by DuckDB on the raw parquet.
    "l49_lake_objects_meta" -> QueryDef(
      (s, dir) => {
        import graft.lake.{LakeObjectsMeta, LakeWriter}
        import graft.types.TableSchema
        val schema = TableSchema("events_om", EventsVc)
        val (root, store) = freshLake("graft-om-lake", dir)
        val ev = eventsVc(s, dir)
        LakeWriter.write(ev.repartitionByRange(4, col("event_id")),
          schema, root, java.time.Instant.parse("2024-06-01T00:00:00Z"),
          zoneMaps = true, bloomColumns = Seq("user_id"))
        val cat = lakeCatalog(s, "l49cat", root)
        s.sql(s"CALL $cat.system.set_dml_mode(table => 'events_om', " +
          "mode => 'merge-on-read')").collect()
        // a position delete: every object holds in-range ids → vectors
        s.sql(s"DELETE FROM $cat.events_om WHERE event_id % 10 < 1")
        val df = LakeObjectsMeta.read(s, root, "events_om").persist()
        val nObjs = graft.lake.LakeReader
          .listTableKeys(store, "events_om", None).size
        require(df.count() == nObjs,
          s"one row per live object: ${df.count()} vs $nObjs")
        require(df.where(col("bytes") > 0L && col("has_stats")).count()
          == nObjs, "every object must surface bytes and stats")
        require(df.where(col("dv_key").isNotNull &&
          col("live_records") =!= col("records") - col("dv_count"))
          .count() == 0,
          "live_records must be records − vector count everywhere")
        df.agg(sum("records").as("total_records"),
          sum("live_records").as("total_live"),
          sum(coalesce(col("dv_count"), lit(0L))).as("dv_total"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS total_records,
             |  CAST(sum(CASE WHEN event_id % 10 >= 1 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS total_live,
             |  CAST(sum(CASE WHEN event_id % 10 < 1 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS dv_total
             |FROM events""".stripMargin)),

    // ---------------- streaming change-data-feed (l48)
    // format("graft-lake-cdf") (round 20): generation-numbered offsets
    // over LakeChanges' per-commit row-exact diffs — the Delta
    // readChangeFeed shape. Gated in-query: every change row carries its
    // EXACT commit generation (catch-up windows keep per-commit
    // attribution), each per-commit slice equals the batch-side diff,
    // and a second drain of the same checkpoint delivers nothing
    // (exactly-once). Oracle: closed-form — an update is delete(pre) +
    // insert(post), a delete is its pre-images.
    "l48_lake_cdf_stream" -> QueryDef(
      (s, dir) => {
        import graft.lake.{LakeChanges, LakeWriter}
        import graft.types.TableSchema
        val schema = TableSchema("events_cf", EventsVc)
        val (root, store) = freshLake("graft-cf-lake", dir)
        val ev = eventsVc(s, dir)
        LakeWriter.write(ev.repartitionByRange(4, col("event_id")),
          schema, root, java.time.Instant.parse("2024-06-01T00:00:00Z"),
          zoneMaps = true)
        val cat = lakeCatalog(s, "l48cat", root)
        s.sql(s"CALL $cat.system.set_retention(table => 'events_cf', " +
          "retain => true)").collect()                             // gen 1
        s.sql(s"UPDATE $cat.events_cf SET vc = vc + 1000 " +
          "WHERE user_id = 3")                                     // gen 2
        s.sql(s"DELETE FROM $cat.events_cf WHERE user_id = 5")     // gen 3
        val ckpt = freshDir("graft-cf-ckpt", dir)
        def drainOnce(): Seq[org.apache.spark.sql.DataFrame] = {
          val got =
            new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.DataFrame]
          val q = s.readStream.format("graft-lake-cdf")
            .option("table", "events_cf").option("startingVersion", "1")
            .load(root).writeStream
            .option("checkpointLocation", ckpt)
            .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
              val c = df.persist(); c.count()
              got.synchronized { got += c }; ()
            }
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination(120000)
          got.synchronized(got.toSeq).filter(_.count() > 0)
        }
        val feed = drainOnce().reduce(_ unionByName _).persist()
        require(feed.where(!col("_commit_gen").isin(2L, 3L)).count() == 0,
          "every change row must carry the exact commit it belongs to")
        for (g <- 2L to 3L) {
          val slice = feed.where(col("_commit_gen") === g)
            .drop("_commit_gen", "_commit_at")
          val batch = LakeChanges.between(s, root, "events_cf",
            (g - 1).toString, g.toString)
          // multiset-signature gate (the l23/l27 pattern, r16
          // optimization): the two-direction exceptAll computed the
          // batch diff twice per generation; the signature pins the
          // same multiset equality with one pass per side.
          require(multisetSig(slice) ==
            multisetSig(batch.select(slice.columns.map(col).toSeq: _*)),
            s"generation $g: the streamed slice must equal the batch diff")
        }
        require(drainOnce().isEmpty,
          "a drained checkpoint must redeliver nothing (exactly-once)")
        feed.agg(count(lit(1)).as("n_changes"),
          sum(when(col("_change_type") === "insert", col("vc"))
            .otherwise(0L)).as("sum_ins"),
          sum(when(col("_change_type") === "delete", col("vc"))
            .otherwise(0L)).as("sum_del"),
          sum(col("_commit_gen")).as("sum_gen"),
          max("event_id").as("max_id"))
      },
      Some("""WITH ev AS (
             |  SELECT event_id, user_id,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
             |  FROM events),
             |changes AS (
             |  SELECT event_id, vc, 'delete' AS ct, 2 AS g
             |  FROM ev WHERE user_id = 3
             |  UNION ALL
             |  SELECT event_id, vc + 1000, 'insert', 2
             |  FROM ev WHERE user_id = 3
             |  UNION ALL
             |  SELECT event_id, vc, 'delete', 3 FROM ev WHERE user_id = 5)
             |SELECT count(*) AS n_changes,
             |  CAST(sum(CASE WHEN ct = 'insert' THEN vc ELSE 0 END)
             |    AS BIGINT) AS sum_ins,
             |  CAST(sum(CASE WHEN ct = 'delete' THEN vc ELSE 0 END)
             |    AS BIGINT) AS sum_del,
             |  CAST(sum(g) AS BIGINT) AS sum_gen,
             |  max(event_id) AS max_id
             |FROM changes""".stripMargin)),

    // ---------------- branch MERGE, all four arms (l45)
    // The one DML verb r18 still refused under `spark.graft.wap.branch`
    // (round 19): MERGE against the BRANCH VIEW — matched UPDATE/DELETE
    // patch both lineages (live rows join the intent's replaced set,
    // batch rows swap hidden), NOT-MATCHED inserts take BATCH lineage
    // (hidden until publish, `inserted` in the CDC split, dropped by
    // abort), NOT-MATCHED-BY-SOURCE sweeps unmatched target rows. Gated
    // in-query: no generation minted by the MERGE, plain readers fully
    // isolated (no insert/batch key visible, live rows intact), ONE
    // publish CAS. Oracle: closed-form — live ∪ batch with the four
    // arms applied, plus the inserted rows.
    "l45_lake_branch_merge" -> QueryDef(
      (s, dir) => {
        import graft.lake.{LakeReader, LakeVersions, LakeWriter}
        import graft.types.TableSchema
        val schema = TableSchema("events_bm", EventsVc)
        val (root, store) = freshLake("graft-bm-lake", dir)
        val ev = eventsVc(s, dir)
        LakeWriter.write(ev.repartitionByRange(4, col("event_id")),
          schema, root, java.time.Instant.parse("2024-06-01T00:00:00Z"),
          zoneMaps = true)
        val cat = lakeCatalog(s, "l45cat", root)
        val n = ev.count()
        // stage the day's batch (validated-before-visible)
        val hot = java.sql.Timestamp.from(
          java.time.Instant.parse("2024-06-01T03:00:00Z"))
        s.range(100).select((lit(70000000000L) + col("id")).as("event_id"),
            lit(-1L).as("user_id"), (col("id") * 2L).as("vc"),
            lit(hot).as("_event_hour"))
          .coalesce(1)
          .write.format("graft-lake").option("table", "events_bm")
          .option("auditId", "bm").mode("append").save(root)
        val gensBefore = LakeVersions.listDir(store, "events_bm").gens
        // the fix-shaped source: update user 3's LIVE rows and the
        // batch's first ten, delete user 5's LIVE rows and the batch's
        // last ten, insert fifty genuinely new rows
        val src = t(s, dir, "events").where(col("user_id").isin(3L, 5L))
          .select(col("event_id").as("sid"),
            when(col("user_id") === 3L, "u").otherwise("d").as("act"))
          .unionAll(s.range(10).select(
            (lit(70000000000L) + col("id")).as("sid"), lit("u").as("act")))
          .unionAll(s.range(10).select(
            (lit(70000000090L) + col("id")).as("sid"), lit("d").as("act")))
          .unionAll(s.range(50).select(
            (lit(90000000000L) + col("id")).as("sid"), lit("i").as("act")))
        src.createOrReplaceTempView("l45_src")
        s.conf.set("spark.graft.wap.branch", "bm")
        try s.sql(
          s"""MERGE INTO $cat.events_bm t USING l45_src s
             |ON t.event_id = s.sid
             |WHEN MATCHED AND s.act = 'u' THEN UPDATE SET vc = 0
             |WHEN MATCHED AND s.act = 'd' THEN DELETE
             |WHEN NOT MATCHED AND s.act = 'i' THEN
             |  INSERT (event_id, user_id, vc, _event_hour)
             |  VALUES (s.sid, -2, 7, TIMESTAMP '2024-06-01 03:00:00+00:00')
             |WHEN NOT MATCHED BY SOURCE AND t.user_id = 7 THEN
             |  UPDATE SET vc = 1
             |""".stripMargin)
        finally s.conf.unset("spark.graft.wap.branch")
        require(LakeVersions.listDir(store, "events_bm").gens == gensBefore,
          "branch MERGE must not mint generations")
        val plain = LakeReader.read(s, root, "events_bm")
        require(plain.count() == n &&
          plain.where(col("user_id") === 5L).count() > 0 &&
          plain.where(col("event_id") >= 70000000000L).count() == 0L,
          "plain readers must be untouched by a branch MERGE (no batch " +
            "key, no insert key, live rows intact)")
        s.sql(s"CALL $cat.system.publish_audit(table => 'events_bm', " +
          "audit_id => 'bm')").collect()
        s.table(s"$cat.events_bm")
          .agg(count(lit(1)).as("n_rows"), sum("vc").as("sum_vc"),
            sum(when(col("user_id") === -2L, 1L).otherwise(0L)).as("n_ins"),
            sum(when(col("user_id") === 7L, col("vc")).otherwise(0L))
              .as("sum_u7"),
            max("event_id").as("max_id"))
      },
      Some("""WITH batch AS (
             |  SELECT 70000000000 + i AS event_id,
             |    CAST(-1 AS BIGINT) AS user_id,
             |    CAST(i * 2 AS BIGINT) AS vc FROM range(100) t(i)),
             |live AS (
             |  SELECT event_id, user_id,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
             |  FROM events),
             |tgt AS (SELECT * FROM live UNION ALL SELECT * FROM batch),
             |merged AS (
             |  SELECT event_id, user_id,
             |    CASE WHEN user_id = 3
             |           OR event_id BETWEEN 70000000000 AND 70000000009
             |         THEN 0
             |         WHEN user_id = 7 THEN 1
             |         ELSE vc END AS vc
             |  FROM tgt
             |  WHERE user_id <> 5
             |    AND event_id NOT BETWEEN 70000000090 AND 70000000099
             |  UNION ALL
             |  SELECT 90000000000 + i, -2, 7 FROM range(50) t(i))
             |SELECT count(*) AS n_rows,
             |  CAST(sum(vc) AS BIGINT) AS sum_vc,
             |  CAST(sum(CASE WHEN user_id = -2 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_ins,
             |  CAST(sum(CASE WHEN user_id = 7 THEN vc ELSE 0 END)
             |    AS BIGINT) AS sum_u7,
             |  max(event_id) AS max_id
             |FROM merged""".stripMargin)),

    // ---------------- cross-branch DML over LIVE rows (l43)
    // The FULL Iceberg wap.branch semantics (round 18 — l40's batch
    // scrub widened to the whole branch view): under the branch, DML
    // mutates LIVE rows too — replaced live originals stay visible to
    // plain readers (gated in-query) while the branch sees their hidden
    // rewrites; publish_audit lands batch + live rewrites + removals at
    // ONE CAS. Oracle: closed-form — live rows with the branch's DELETE
    // + UPDATE applied, plus the staged batch.
    "l43_lake_branch_live_dml" -> QueryDef(
      (s, dir) => {
        import graft.lake.{LakeReader, LakeVersions, LakeWriter}
        import graft.types.TableSchema
        val schema = TableSchema("events_xb", EventsVc)
        val (root, store) = freshLake("graft-xb-lake", dir)
        val ev = eventsVc(s, dir)
        LakeWriter.write(ev.repartitionByRange(4, col("event_id")),
          schema, root, java.time.Instant.parse("2024-06-01T00:00:00Z"),
          zoneMaps = true)
        val cat = lakeCatalog(s, "l43cat", root)
        val n = ev.count()
        // stage the day's batch (validated-before-visible)
        val hot = java.sql.Timestamp.from(
          java.time.Instant.parse("2024-06-01T03:00:00Z"))
        s.range(100).select((lit(60000000000L) + col("id")).as("event_id"),
            lit(-1L).as("user_id"), (col("id") * 2L).as("vc"),
            lit(hot).as("_event_hour"))
          .coalesce(1)
          .write.format("graft-lake").option("table", "events_xb")
          .option("auditId", "fix").mode("append").save(root)
        val gensBefore = LakeVersions.listDir(store, "events_xb").gens
        // validation found bad LIVE data too: fix live rows AND the
        // batch on the branch, in one workflow
        s.conf.set("spark.graft.wap.branch", "fix")
        try {
          // a LIVE-row fix: users 3 and 4's rows get vc zeroed
          s.sql(s"UPDATE $cat.events_xb SET vc = 0 WHERE user_id IN (3, 4)")
          // a LIVE-row purge: user 5's rows leave entirely
          s.sql(s"DELETE FROM $cat.events_xb WHERE user_id = 5")
          // and a batch scrub in the same branch
          s.sql(s"DELETE FROM $cat.events_xb WHERE event_id >= 60000000080")
        } finally s.conf.unset("spark.graft.wap.branch")
        require(LakeVersions.listDir(store, "events_xb").gens == gensBefore,
          "branch DML must not mint generations")
        val plain = LakeReader.read(s, root, "events_xb")
        require(plain.count() == n &&
          plain.where(col("user_id") === 5L).count() > 0 &&
          plain.where(col("user_id").isin(3L, 4L) && col("vc") === 0L)
            .count() == 0L,
          "plain readers must be untouched by branch DML over live rows")
        s.sql(s"CALL $cat.system.publish_audit(table => 'events_xb', " +
          "audit_id => 'fix')").collect()
        s.table(s"$cat.events_xb")
          .agg(count(lit(1)).as("n_rows"), sum("vc").as("sum_vc"),
            sum(when(col("user_id").isin(3L, 4L), col("vc"))
              .otherwise(0L)).as("sum_fixed"),
            sum("user_id").as("sum_uid"), max("event_id").as("max_id"))
      },
      Some("""WITH live AS (
             |  SELECT event_id, user_id,
             |    CASE WHEN user_id IN (3, 4) THEN 0
             |         ELSE CAST(floor(value * 100 + 0.5) AS BIGINT) END AS vc
             |  FROM events WHERE user_id <> 5
             |  UNION ALL
             |  SELECT 60000000000 + i, -1, i * 2 FROM range(80) t(i))
             |SELECT count(*) AS n_rows,
             |  CAST(sum(vc) AS BIGINT) AS sum_vc,
             |  CAST(sum(CASE WHEN user_id IN (3, 4) THEN vc ELSE 0 END)
             |    AS BIGINT) AS sum_fixed,
             |  CAST(sum(user_id) AS BIGINT) AS sum_uid,
             |  max(event_id) AS max_id
             |FROM live""".stripMargin)),

    // ---------------- multi-column equality delete (l42)
    // The conjunction shape of l39 ([[graft.lake.LakeEqDeletes]] v2):
    // `DELETE WHERE user_id IN (..) AND event_type = '..'` — the
    // multi-tenant GDPR statement ("this user's click data") — still
    // writes ONE small file + one CAS, and kills ONLY rows matching
    // EVERY column (user 11's non-click rows and other users' clicks
    // survive — both gated in-query). Oracle: closed-form conjunction
    // complement from the parquet + the post-delete same-tuple insert.
    "l42_lake_eq_delete_multi" -> QueryDef(
      (s, dir) => {
        import graft.lake.{LakeEqDeletes, LakeReader, LakeVersions, LakeWriter}
        import graft.types.{ColType, TableSchema}
        val schema = TableSchema("events_mc", Seq(
          "event_id" -> ColType.CInteger, "user_id" -> ColType.CInteger,
          "etype" -> ColType.CString, "vc" -> ColType.CInteger))
        val (root, store) = freshLake("graft-eqmc-lake", dir)
        val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
          col("event_type").as("etype"),
          floor(col("value") * 100 + 0.5).cast("long").as("vc"))
        LakeWriter.write(ev.repartitionByRange(4, col("event_id")),
          schema, root, java.time.Instant.parse("2024-06-01T00:00:00Z"),
          zoneMaps = true, bloomColumns = Seq("user_id", "etype"))
        val cat = lakeCatalog(s, "l42cat", root)
        s.sql(s"CALL $cat.system.set_dml_mode(table => 'events_mc', " +
          "mode => 'merge-on-read')").collect()
        val before = LakeReader.listTableKeys(store, "events_mc", None).toSet
        s.sql(s"DELETE FROM $cat.events_mc " +
          "WHERE user_id IN (11, 12) AND etype = 'click'")
        require(LakeReader.listTableKeys(store, "events_mc", None)
          .toSet == before,
          "an equality delete must not add, remove, or rewrite any object")
        require(store.list(LakeEqDeletes.dir("events_mc")).size == 1,
          "exactly ONE file for the whole conjunction (the O(1) claim)")
        require(LakeVersions.currentDvs(store, "events_mc").isEmpty,
          "no position vectors on the equality path")
        require(LakeVersions.currentEqdels(store, "events_mc")
          .exists(e => e.cols == Seq("user_id", "etype") && e.count == 3L),
          "the generation record must reference the conjunction")
        // sequencing: a LATER insert of the SAME tuple survives
        import s.implicits._
        LakeWriter.write(
          Seq((40000000000L, 11L, "click", 555L))
            .toDF("event_id", "user_id", "etype", "vc"),
          schema, root)
        s.table(s"$cat.events_mc").groupBy("etype")
          .agg(count(lit(1)).as("n_rows"), sum("vc").as("sum_vc"),
            sum("user_id").as("sum_uid"))
      },
      Some("""WITH live AS (
             |  SELECT event_type AS etype, user_id,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
             |  FROM events
             |  WHERE NOT (user_id IN (11, 12) AND event_type = 'click')
             |  UNION ALL SELECT 'click', 11, 555)
             |SELECT etype, count(*) AS n_rows,
             |  CAST(sum(vc) AS BIGINT) AS sum_vc,
             |  CAST(sum(user_id) AS BIGINT) AS sum_uid
             |FROM live GROUP BY 1""".stripMargin)),

    // ---------------- WAP-branch DML (l40)
    // The scrub-before-publish workflow (the Iceberg `spark.wap.branch`
    // surface as `spark.graft.wap.branch`): a staged batch fails
    // validation PARTIALLY — under the branch session, row-level
    // DELETE/UPDATE fix the batch itself (hidden staged objects rewrite,
    // the audit intent swaps; the generation chain is untouched — gated
    // in-query), and publish_audit lands the SCRUBBED batch at one CAS.
    // Oracle: the parquet + the batch as scrubbed, closed-form.
    "l40_lake_wap_branch" -> QueryDef(
      (s, dir) => {
        import graft.lake.{LakeVersions, LakeWriter}
        import graft.types.TableSchema
        val schema = TableSchema("events_wb", EventsVc)
        val (root, store) = freshLake("graft-wapbr-lake", dir)
        val ev = eventsVc(s, dir)
        LakeWriter.write(ev.repartitionByRange(4, col("event_id")),
          schema, root, java.time.Instant.parse("2024-06-01T00:00:00Z"),
          zoneMaps = true)
        val cat = lakeCatalog(s, "l40cat", root)
        // the audited batch: 100 good rows + 50 poison rows (vc = -777)
        val hot = java.sql.Timestamp.from(
          java.time.Instant.parse("2024-06-01T03:00:00Z"))
        s.range(150).select(
            (lit(50000000000L) + col("id")).as("event_id"),
            lit(-1L).as("user_id"),
            when(col("id") < 100, col("id") * 10L).otherwise(-777L).as("vc"),
            lit(hot).as("_event_hour"))
          .coalesce(1)
          .write.format("graft-lake").option("table", "events_wb")
          .option("auditId", "scrub").mode("append").save(root)
        val gensBefore = LakeVersions.listDir(store, "events_wb").gens
        s.conf.set("spark.graft.wap.branch", "scrub")
        try {
          // validation found the poison: scrub it on the branch, and
          // normalize a slice of the good rows
          s.sql(s"DELETE FROM $cat.events_wb WHERE vc = -777")
          s.sql(s"UPDATE $cat.events_wb SET vc = vc + 1 " +
            "WHERE event_id >= 50000000090 AND vc >= 0")
        } finally s.conf.unset("spark.graft.wap.branch")
        require(LakeVersions.listDir(store, "events_wb").gens == gensBefore,
          "branch DML must not mint generations (intent swap only)")
        val n = ev.count()
        require(s.table(s"$cat.events_wb").count() == n,
          "the scrubbed batch stays invisible until publish")
        s.sql(s"CALL $cat.system.publish_audit(table => 'events_wb', " +
          "audit_id => 'scrub')").collect()
        s.table(s"$cat.events_wb")
          .agg(count(lit(1)).as("n_rows"), sum("vc").as("sum_vc"),
            min("vc").as("min_vc"), max("event_id").as("max_id"))
      },
      Some("""WITH live AS (
             |  SELECT event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
             |  FROM events
             |  UNION ALL
             |  SELECT 50000000000 + i AS event_id,
             |    i * 10 + (CASE WHEN i >= 90 THEN 1 ELSE 0 END) AS vc
             |  FROM range(100) t(i))
             |SELECT count(*) AS n_rows,
             |  CAST(sum(vc) AS BIGINT) AS sum_vc,
             |  CAST(min(vc) AS BIGINT) AS min_vc,
             |  max(event_id) AS max_id
             |FROM live""".stripMargin)),

    // ---------------- write-audit-publish (l38)
    // The staged-batch workflow (LakeDvs sibling feature, r16): an
    // audited append lands INVISIBLY (plain reads and COUNT pushdown
    // gated in-query to prove it), the withAudit branch read validates
    // live ∪ staged, a failing batch aborts untraced, and the good
    // batch publishes as ONE atomic generation. Oracle: the original
    // parquet + the published batch, closed-form.
    "l38_lake_wap" -> QueryDef(
      (s, dir) => {
        import graft.lake.{LakeReader, LakeWriter}
        import graft.types.TableSchema
        val schema = TableSchema("events_wap", EventsVc)
        val (root, store) = freshLake("graft-wap-lake", dir)
        val ev = eventsVc(s, dir)
        LakeWriter.write(ev.repartitionByRange(4, col("event_id")),
          schema, root, java.time.Instant.parse("2024-06-01T00:00:00Z"),
          zoneMaps = true)
        val cat = lakeCatalog(s, "l38cat", root)
        val n = ev.count()
        val hot = java.sql.Timestamp.from(
          java.time.Instant.parse("2024-06-01T03:00:00Z"))
        def batch(lo: Long, cnt: Long, vc: Long) =
          s.range(cnt).select(
            (lit(lo) + col("id")).as("event_id"),
            lit(-1L).as("user_id"), lit(vc).as("vc"),
            lit(hot).as("_event_hour"))
        // a BAD batch stages, fails validation, aborts untraced
        batch(30000000000L, 50, -777L).coalesce(1)
          .write.format("graft-lake").option("table", "events_wap")
          .option("auditId", "bad").mode("append").save(root)
        require(s.table(s"$cat.events_wap").count() == n,
          "a staged batch must be invisible to plain reads")
        val bad = s.read.format("graft-lake").option("table", "events_wap")
          .option("withAudit", "bad").load(root)
          .where(col("vc") < 0).count()
        require(bad == 50, "the branch read must surface the staged rows")
        s.sql(s"CALL $cat.system.abort_audit(table => 'events_wap', " +
          "audit_id => 'bad')").collect()
        // the GOOD batch validates, then publishes atomically
        batch(40000000000L, 100, 7L).coalesce(1)
          .write.format("graft-lake").option("table", "events_wap")
          .option("auditId", "good").mode("append").save(root)
        require(s.table(s"$cat.events_wap").count() == n,
          "still invisible before publish")
        s.sql(s"CALL $cat.system.publish_audit(table => 'events_wap', " +
          "audit_id => 'good')").collect()
        s.table(s"$cat.events_wap")
          .agg(count(lit(1)).as("n_rows"), sum("vc").as("sum_vc"),
            sum("user_id").as("sum_uid"), max("event_id").as("max_id"))
      },
      Some("""SELECT CAST(count(*) + 100 AS BIGINT) AS n_rows,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) + 700
             |    AS BIGINT) AS sum_vc,
             |  CAST(sum(user_id) - 100 AS BIGINT) AS sum_uid,
             |  CAST(40000000099 AS BIGINT) AS max_id
             |FROM events""".stripMargin)),

    // ------------------------------- compaction round-trip (l07)
    // The maintenance path under the oracle gate AND the bench clock:
    // land the events table as 16 small objects, compact them into ~4
    // (hour-preserving staged publish, zone maps carried), then aggregate
    // the compacted lake against the ORIGINAL parquet — any row lost,
    // duplicated, or corrupted through the rewrite hash-mismatches. The
    // require() pins that compaction actually consolidated.
    "l07_compact_roundtrip" -> QueryDef(
      (s, dir) => {
        import graft.lake.{LakeMaintenance, LakeReader, LakeWriter}
        import graft.types.TableSchema
        val schema = TableSchema("events_c", EventsVc)
        val (root, store) = freshLake("graft-compact-rt", dir)
        val ev = eventsVc(s, dir)
        val n = ev.count()
        LakeWriter.write(ev.repartition(16), schema, root)
        val rep = LakeMaintenance.compact(s, store, "events_c",
          targetRecords = math.max(1L, n / 4), zoneMaps = true)
        require(rep.oldObjects == 16 && rep.newObjects < 16 && rep.records == n,
          s"compaction must consolidate 16 objects losslessly, got $rep")
        LakeReader.read(s, root, "events_c")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"), sum(col("vc")).as("sum_vc"),
            min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, count(*) AS n,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_vc,
             |  min(event_id) AS min_id, max(event_id) AS max_id
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    "l01_lake_roundtrip" -> QueryDef(
      (s, dir) => {
        import graft.lake.{LakeReader, LakeWriter}
        import graft.types.{ColType, TableSchema}
        val schema = TableSchema("events_rt", Seq(
          "event_id" -> ColType.CInteger, "ts" -> ColType.CTime,
          "user_id" -> ColType.CInteger, "event_type" -> ColType.CString,
          "value" -> ColType.CFloat, "props" -> ColType.CString))
        // wiped before writing: lake writes append uniquely-named objects,
        // so reuse without the wipe would feed stale objects into the
        // read-back
        val (root, _) = freshLake("graft-lake-rt", dir)
        LakeWriter.write(t(s, dir, "events").repartition(4), schema, root)
        LakeReader.read(s, root, "events_rt")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("user_id")).as("n_users"),
            min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"),
            round(sum(col("value")), 2).as("sum_value"),
            max(get_json_object(col("props"), "$.k").cast("long")).as("max_k"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users,
             |  min(event_id) AS min_id, max(event_id) AS max_id,
             |  round(sum(value), 2) AS sum_value,
             |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Schema-evolution lake read: three generations of one table (columns
    // dropped, added, reordered, INTEGER→FLOAT widened) written as drifted
    // objects, then read back reconciled (union-by-name, null-fill,
    // widening). The oracle reproduces the same union-by-name semantics
    // straight from the source table — which generation a doc landed in is
    // arithmetic in doc_id, so null-fill patterns are exactly predictable.
    "l04_lake_evolution" -> QueryDef(
      (s, dir) => {
        import graft.lake.{LakeReader, LakeWriter}
        import graft.types.{ColType, TableSchema}
        val v1 = TableSchema("docs_evo", Seq(
          "doc_id" -> ColType.CInteger, "lang" -> ColType.CString,
          "n_chars" -> ColType.CInteger))
        val v2 = TableSchema("docs_evo", Seq(
          "doc_id" -> ColType.CInteger, "n_chars" -> ColType.CFloat,
          "source" -> ColType.CString))
        val v3 = TableSchema("docs_evo", Seq(
          "doc_id" -> ColType.CInteger, "lang" -> ColType.CString,
          "source" -> ColType.CString, "n_chars" -> ColType.CInteger))
        val (root, _) = freshLake("graft-lake-evo", dir)
        val docs = t(s, dir, "documents")
        for ((schema, m) <- Seq(v1 -> 0, v2 -> 1, v3 -> 2))
          LakeWriter.write(
            docs.filter(pmod(col("doc_id"), lit(3)) === m)
              .select(schema.columnNames.map(col): _*),
            schema, root)
        LakeReader.readReconciled(s, root, "docs_evo")
          .select(col("doc_id"), col("lang"), col("source"),
            col("n_chars")) // widened to double by reconciliation
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CASE WHEN ((doc_id % 3) + 3) % 3 = 1 THEN NULL ELSE lang END AS lang,
             |  CASE WHEN ((doc_id % 3) + 3) % 3 = 0 THEN NULL ELSE source END AS source,
             |  CAST(n_chars AS DOUBLE) AS n_chars
             |FROM documents ORDER BY doc_id""".stripMargin))
  )
}
