package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic input tables for the `queries` and `lake` workloads.
  *
  * The entries read ten parquet tables (a TPC-H-shaped star schema plus
  * `events`, `documents` and `embeddings`) through `Tables.t(spark, dir,
  * name)`. This generator writes the schemas, row counts, key domains and
  * value distributions of the project's test tables (TESTDATA.md), as
  * profiled at sf0.001, sf0.01 and sf0.1; the README's "Input tables"
  * section lists the comparison. One parquet file per table, time columns
  * as `timestamp_ntz` (the flavour `Tables.t` normalizes). Every value is a
  * hash of (row id, column salt, data seed), so the bytes do not depend on
  * partitioning or thread timing.
  *
  * The data seed is fixed ([[DataSeed]]): recorded output signatures hold
  * for exactly this data. The run's `--seed` orders the entries instead. */
object Gen {
  val DataSeed = 42L

  /** Rows per table at scale factor `sf` (the TPC-H ratios; the text and
    * vector tables keep a 500-row floor, as the test tables do). */
  def rowCounts(sf: Double): Seq[(String, Long)] = Seq(
    "region" -> 5L, "nation" -> 25L,
    "customer" -> math.round(150000 * sf), "supplier" -> math.round(10000 * sf),
    "part" -> math.round(200000 * sf), "orders" -> math.round(1500000 * sf),
    "lineitem" -> math.round(6000000 * sf), "events" -> math.round(1000000 * sf),
    "documents" -> math.max(500L, math.round(50000 * sf)),
    "embeddings" -> math.max(500L, math.round(20000 * sf)))

  def totalRows(sf: Double): Long = rowCounts(sf).map(_._2).sum

  /** Distinct `events.user_id` values: ids 0 until 15,000·sf. */
  def users(sf: Double): Long = math.max(1L, math.round(15000 * sf))

  /** Uniform integer in [0, n) from the row id and a per-column salt. */
  private def u(salt: String, n: Long, extra: Column*): Column =
    pmod(xxhash64((Seq(col("id"), lit(salt), lit(DataSeed)) ++ extra): _*), lit(n))

  /** Uniform double in [lo, hi) with two decimals. */
  private def money(salt: String, lo: Double, hi: Double): Column =
    round(lit(lo) + u(salt, 1000000L).cast("double") / 1e6 * (hi - lo), 2)

  private def pick(salt: String, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (u(salt, values.size) + 1).cast("int"))

  /** Uniform double in (0, 1]. */
  private def unit(salt: String, extra: Column*): Column =
    (u(salt, 1L << 30, extra: _*) + 1).cast("double") / (1L << 30).toDouble

  /** Day-granular `timestamp_ntz` between two dates. */
  private def day(salt: String, from: String, days: Int): Column =
    date_add(to_date(lit(from)), u(salt, days).cast("int")).cast("timestamp_ntz")

  private val vocab = Seq("join", "hash", "row", "batch", "scan", "column", "customer",
    "filter", "small", "slow", "merge", "order", "vector", "line", "table", "data", "agg",
    "value", "key", "stream", "window", "a", "spark", "part", "group", "big", "sort",
    "query", "fast", "the")

  def tables(spark: SparkSession, sf: Double): Seq[(String, DataFrame)] = {
    val n = rowCounts(sf).toMap
    def ids(t: String) = spark.range(n(t))
    def r(t: String) = ids(t).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name"))
    val nation = ids("nation").select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"), pmod(col("id"), lit(5)).cast("int").as("n_regionkey"))
    val customer = ids("customer").select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      u("c_nation", 25).cast("int").as("c_nationkey"),
      money("c_acctbal", -999.99, 9999.99).as("c_acctbal"),
      pick("c_seg", Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment"))
    val supplier = ids("supplier").select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      u("s_nation", 25).cast("int").as("s_nationkey"),
      money("s_acctbal", -999.99, 9999.99).as("s_acctbal"))
    val part = ids("part").select(col("id").as("p_partkey"),
      concat_ws(" ", pick("p_adj", Seq("small", "large", "red", "blue", "cold", "hot", "new", "old")),
        pick("p_noun", Seq("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"))).as("p_name"),
      concat(lit("Brand#"), u("p_brand", 25) + 1).as("p_brand"),
      pick("p_type", Seq("ECONOMY", "PROMO", "MEDIUM", "SMALL", "LARGE", "STANDARD")).as("p_type"),
      (u("p_size", 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + pmod(col("id"), lit(1000)) * 0.1, 2).as("p_retailprice"))
    val orders = ids("orders").select(col("id").as("o_orderkey"),
      u("o_cust", n("customer")).as("o_custkey"),
      pick("o_status", Seq("O", "F", "P")).as("o_orderstatus"),
      money("o_price", 1000.0, 500000.0).as("o_totalprice"),
      day("o_date", "1995-01-01", 2404).as("o_orderdate"),
      pick("o_prio", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
    val qty = (u("l_qty", 50) + 1).cast("double")
    val lineitem = ids("lineitem").select(u("l_order", n("orders")).as("l_orderkey"),
      u("l_part", n("part")).as("l_partkey"), u("l_supp", n("supplier")).as("l_suppkey"),
      (u("l_line", 7) + 1).cast("int").as("l_linenumber"), qty.as("l_quantity"),
      // independent of quantity, as in the test tables
      money("l_price", 900.0, 105000.0).as("l_extendedprice"),
      (u("l_disc", 11).cast("double") / 100).as("l_discount"),
      (u("l_tax", 9).cast("double") / 100).as("l_tax"),
      pick("l_rf", Seq("N", "R", "A")).as("l_returnflag"),
      pick("l_ls", Seq("F", "O")).as("l_linestatus"),
      day("l_ship", "1995-01-02", 2498).as("l_shipdate"))
    val events = ids("events").select(col("id").as("event_id"),
      // microseconds into January 2024 (UTC)
      timestamp_micros(lit(1704067200000000L) + u("e_ts", 2592000000000L)).cast("timestamp_ntz").as("ts"),
      u("e_user", users(sf)).as("user_id"),
      pick("e_type", Seq("click", "view", "purchase", "signup", "error")).as("event_type"),
      // exponential amounts with mean 50 (median 34.66, p99 230)
      round(-log(unit("e_val")) * 50, 2).as("value"),
      format_string("{\"k\": %d}", u("e_k", 100)).as("props"))
    // documents: 10 to 99 words from a 30-word vocabulary; 5% are
    // near-duplicates of a random document (its text plus the token "dup"),
    // the shape the dedup entries look for
    val dupOf = u("d_dup", 20) === 0
    val src = when(dupOf, u("d_src", n("documents"))).otherwise(col("id"))
    val nWords = (pmod(xxhash64(src, lit("d_len"), lit(DataSeed)), lit(90)) + 10).cast("int")
    val words = transform(sequence(lit(1), nWords), i =>
      element_at(array(vocab.map(lit): _*),
        (pmod(xxhash64(src, i, lit("d_word"), lit(DataSeed)), lit(vocab.size.toLong)) + 1).cast("int")))
    val text = concat_ws(" ", words, when(dupOf, lit("dup")))
    val documents = ids("documents").select(col("id").as("doc_id"), text.as("text"),
      element_at(array(Seq("en", "en", "en", "zh", "es", "de", "fr").map(lit): _*),
        (u("d_lang", 7) + 1).cast("int")).as("lang"),
      concat(lit("src"), pmod(col("id"), lit(20))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    // embeddings: unit-length Gaussian directions in 64 dimensions (Box-
    // Muller from two hashed uniforms per component) and a label drawn
    // independently of the vector, so there are no clusters
    val gauss = transform(sequence(lit(0), lit(63)), j =>
      sqrt(log(unit("v_r", j)) * -2.0) * cos(unit("v_a", j) * (2 * math.Pi)))
    val embeddings = ids("embeddings").select(col("id"), gauss.as("g"))
      .select(col("id").as("vec_id"),
        transform(col("g"), x => (x / sqrt(aggregate(col("g"), lit(0.0), (acc, y) => acc + y * y))).cast("float"))
          .as("embedding"),
        u("v_label", 10).cast("int").as("label"))
    Seq("region" -> r("region"), "nation" -> nation, "customer" -> customer, "supplier" -> supplier,
      "part" -> part, "orders" -> orders, "lineitem" -> lineitem, "events" -> events,
      "documents" -> documents, "embeddings" -> embeddings)
  }

  /** Writes the tables for `sf` afresh under this JVM's temporary
    * directory (a run's own, removed when it ends) and returns that
    * directory. Every run generates its inputs as part of its set-up, so
    * set-up is the same work in every run, first run in a checkout or not. */
  def generate(spark: SparkSession, sf: Double): String = {
    val dir = new java.io.File(sys.props("java.io.tmpdir"), s"data-sf$sf")
    Main.deleteTree(dir)
    write(spark, sf, dir.getAbsolutePath)
    dir.getAbsolutePath
  }

  /** Write every table as `dir/<name>.parquet` (one file each). */
  def write(spark: SparkSession, sf: Double, dir: String): Unit =
    tables(spark, sf).foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
}
