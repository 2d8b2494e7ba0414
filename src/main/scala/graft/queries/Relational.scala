package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The relational query surface declared in SURVEY.md §2B: scans,
  * projection/filter, every join type, aggregation (incl. rollup/cube/
  * grouping sets/approx-distinct), window functions, sort/limit/top-k, set
  * ops, scalar string/date/conditional/JSON functions, subqueries.
  *
  * Every query is written for scale: filters/projections that push to the
  * parquet scan, broadcast hints on dimension tables, aggregate-before-join
  * where cardinality allows, and deterministic total output ordering (so the
  * oracle hash-compare is stable). Double-valued aggregates are rounded on
  * both sides — partial-aggregation order differs between engines at the
  * 1e-12 level. Residual (documented) hazard: `round(x, 2)` itself is
  * engine-defined exactly at a representation tie (Spark rounds the
  * shortest decimal rendering, DuckDB the scaled binary — they differ on
  * doubles like 1.00499999999999989); outputs where that matters go
  * through integer cents instead (the q02 pattern).
  */
object Relational {
  import Tables.t

  def defs: Map[String, QueryDef] = Map(

    // ---------------------------------------------------------------------
    // Aggregation: full-scan groupBy with multiple aggregates (map-side
    // partial agg + 2-phase final — Catalyst does this automatically).
    "q01_pricing_summary" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .filter($"l_shipdate" <= lit("1998-09-01").cast("timestamp"))
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(
            round(sum($"l_quantity"), 2).as("sum_qty"),
            round(sum($"l_extendedprice"), 2).as("sum_base_price"),
            round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 2).as("sum_disc_price"),
            round(avg($"l_quantity"), 4).as("avg_qty"),
            round(avg($"l_discount"), 4).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy($"l_returnflag", $"l_linestatus")
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  round(sum(l_quantity), 2) AS sum_qty,
             |  round(sum(l_extendedprice), 2) AS sum_base_price,
             |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
             |  round(avg(l_quantity), 4) AS avg_qty,
             |  round(avg(l_discount), 4) AS avg_disc,
             |  count(*) AS count_order
             |FROM lineitem
             |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ---------------------------------------------------------------------
    // Projection + predicates (range, BETWEEN, <) — all pushed to parquet.
    "q02_filter_project" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
                  $"l_shipdate" <  lit("1997-01-01").cast("timestamp") &&
                  $"l_discount".between(0.05, 0.07) && $"l_quantity" < 24)
          // cents as BIGINT: identical IEEE ops on both engines, no float
          // tie-rounding hazard in the compare (round() HALF_UP vs the
          // oracle's banker's rounding differs exactly on .xx5 products)
          .select($"l_orderkey", $"l_linenumber",
            floor($"l_extendedprice" * (lit(1) - $"l_discount") * 100 + 0.5)
              .cast("long").as("net_price_cents"))
          .orderBy($"l_orderkey", $"l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber,
             |  CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT) AS net_price_cents
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
             |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ---------------------------------------------------------------------
    // Multi-way equi-join with broadcast dims (TPC-H Q5 shape): fact tables
    // shuffle on join keys; only the genuinely bounded dims (nation is 25
    // rows and region 5 at EVERY sf) carry broadcast hints. Supplier grows
    // linearly with sf (1M rows at sf100), so its strategy is left to the
    // size-based planner/AQE — it broadcasts at small sf and flips to
    // sort-merge when it outgrows the threshold (plan-pinned in
    // PlanShapeSpec's threshold-flip test alongside q69/q70/q78).
    "q03_join_revenue_nation" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val customer = t(s, dir, "customer")
        val orders = t(s, dir, "orders")
          .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
                  $"o_orderdate" < lit("1997-01-01").cast("timestamp"))
        val lineitem = t(s, dir, "lineitem")
        val supplier = t(s, dir, "supplier")
        val nation = t(s, dir, "nation")
        val region = t(s, dir, "region").filter($"r_name" === "ASIA")
        customer
          .join(orders, $"c_custkey" === $"o_custkey")
          .join(lineitem, $"l_orderkey" === $"o_orderkey")
          .join(supplier, $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
          .join(broadcast(nation), $"s_nationkey" === $"n_nationkey")
          .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
          .groupBy($"n_name")
          .agg(round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 2).as("revenue"))
          .orderBy($"n_name")
      },
      Some("""SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
             |FROM customer
             |JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON l_orderkey = o_orderkey
             |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA'
             |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
             |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
             |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // ---------------------------------------------------------------------
    // Left-semi join (EXISTS): the filter side is aggregated to distinct
    // keys by the semi-join itself — no fact-side row multiplication.
    "q04_semi_join" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val orders = t(s, dir, "orders")
        val big = t(s, dir, "lineitem").filter($"l_quantity" > 45).select($"l_orderkey")
        orders.join(big, $"o_orderkey" === $"l_orderkey", "left_semi")
          .groupBy($"o_orderpriority").agg(count(lit(1)).as("order_count"))
          .orderBy($"o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS order_count
             |FROM orders
             |WHERE EXISTS (SELECT 1 FROM lineitem
             |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // ---------------------------------------------------------------------
    // Left-anti join (NOT EXISTS).
    "q05_anti_join" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "customer")
          .join(t(s, dir, "orders").filter($"o_orderpriority" === "1-URGENT")
              .select($"o_custkey"),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy($"c_mktsegment").agg(count(lit(1)).as("n_customers"))
          .orderBy($"c_mktsegment")
      },
      Some("""SELECT c_mktsegment, count(*) AS n_customers
             |FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // ---------------------------------------------------------------------
    // Left-outer join + two-level aggregation (TPC-H Q13 distribution).
    "q06_outer_join_custdist" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val perCust = t(s, dir, "customer")
          .join(t(s, dir, "orders"), $"c_custkey" === $"o_custkey", "left_outer")
          .groupBy($"c_custkey").agg(count($"o_orderkey").as("c_count"))
        perCust.groupBy($"c_count").agg(count(lit(1)).as("custdist"))
          .orderBy($"custdist".desc, $"c_count".desc)
      },
      Some("""SELECT c_count, count(*) AS custdist FROM (
             |  SELECT c_custkey, count(o_orderkey) AS c_count
             |  FROM customer LEFT JOIN orders ON o_custkey = c_custkey
             |  GROUP BY c_custkey) t
             |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    // ---------------------------------------------------------------------
    // Full-outer join of two pre-aggregated sides (aggregate-before-join:
    // both inputs shrink to ≤ #nations rows before the join).
    "q07_full_outer_join" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val sup = t(s, dir, "supplier").groupBy($"s_nationkey".as("k"))
          .agg(count(lit(1)).as("n_suppliers"))
        val cus = t(s, dir, "customer").groupBy($"c_nationkey".as("k2"))
          .agg(count(lit(1)).as("n_customers"))
        sup.join(cus, $"k" === $"k2", "full_outer")
          .select(coalesce($"k", $"k2").as("nationkey"), $"n_suppliers", $"n_customers")
          .orderBy($"nationkey")
      },
      Some("""WITH s AS (SELECT s_nationkey AS k, count(*) AS n_suppliers FROM supplier GROUP BY 1),
             |     c AS (SELECT c_nationkey AS k, count(*) AS n_customers FROM customer GROUP BY 1)
             |SELECT coalesce(s.k, c.k) AS nationkey, n_suppliers, n_customers
             |FROM s FULL OUTER JOIN c ON s.k = c.k ORDER BY nationkey""".stripMargin)),

    // ---------------------------------------------------------------------
    // Cross join (tiny × tiny only — anything else is a bug at scale).
    "q08_cross_join" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val a = t(s, dir, "region").select($"r_name".as("ra"))
        val b = t(s, dir, "region").select($"r_name".as("rb"))
        a.crossJoin(b).orderBy($"ra", $"rb")
      },
      Some("""SELECT a.r_name AS ra, b.r_name AS rb
             |FROM region a CROSS JOIN region b ORDER BY ra, rb""".stripMargin)),

    // ---------------------------------------------------------------------
    // Window: per-group top-k via row_number (partial sort per partition —
    // never a global sort of the fact table).
    "q09_window_topk" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"o_orderpriority")
          .orderBy($"o_totalprice".desc, $"o_orderkey")
        t(s, dir, "orders")
          .withColumn("rn", row_number().over(w))
          .filter($"rn" <= 3)
          .select($"o_orderpriority", $"o_orderkey", $"o_totalprice", $"rn")
          .orderBy($"o_orderpriority", $"rn")
      },
      Some("""SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
             |  SELECT o_orderpriority, o_orderkey, o_totalprice,
             |    row_number() OVER (PARTITION BY o_orderpriority
             |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders) t
             |WHERE rn <= 3 ORDER BY o_orderpriority, rn""".stripMargin)),

    // ---------------------------------------------------------------------
    // Window: running frame + lag/lead. Frame order is a total order so the
    // running sum is a deterministic left fold (bit-identical to the
    // oracle's sequential sum).
    "q10_window_running" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
        t(s, dir, "orders")
          .withColumn("running_spend",
            round(sum($"o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2))
          .withColumn("prev_order", lag($"o_orderkey", 1).over(w))
          .withColumn("next_order", lead($"o_orderkey", 1).over(w))
          .select($"o_custkey", $"o_orderkey", $"running_spend", $"prev_order", $"next_order")
          .orderBy($"o_custkey", $"o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend,
             |  lag(o_orderkey, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_order,
             |  lead(o_orderkey, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_order
             |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // ---------------------------------------------------------------------
    // Window: rank / dense_rank / percent_rank / ntile over a global
    // ordering on a small aggregated input. percent_rank = (rank-1)/(n-1) —
    // identical double operands on both engines, so the raw double is
    // hash-stable; milli-units keep the habit anyway.
    "q11_window_ranks" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val perNation = t(s, dir, "supplier")
          .groupBy($"s_nationkey").agg(round(sum($"s_acctbal"), 2).as("total_bal"))
        val w = Window.orderBy($"total_bal".desc, $"s_nationkey")
        perNation
          .withColumn("rnk", rank().over(w))
          .withColumn("drnk", dense_rank().over(w))
          .withColumn("pr_milli", floor(percent_rank().over(w) * 1000 + 0.5).cast("long"))
          .withColumn("quartile", ntile(4).over(w).cast("long"))
          .select($"s_nationkey", $"total_bal", $"rnk", $"drnk", $"pr_milli", $"quartile")
          .orderBy($"rnk", $"s_nationkey")
      },
      Some("""SELECT s_nationkey, total_bal,
             |  rank() OVER w AS rnk,
             |  dense_rank() OVER w AS drnk,
             |  CAST(floor(percent_rank() OVER w * 1000 + 0.5) AS BIGINT) AS pr_milli,
             |  CAST(ntile(4) OVER w AS BIGINT) AS quartile
             |FROM (SELECT s_nationkey, round(sum(s_acctbal), 2) AS total_bal
             |      FROM supplier GROUP BY s_nationkey) t
             |WINDOW w AS (ORDER BY total_bal DESC, s_nationkey)
             |ORDER BY rnk, s_nationkey""".stripMargin)),

    // ---------------------------------------------------------------------
    // Window: cume_dist + nth_value — the two rank-family functions q11
    // doesn't cover. Partitioned by segment, which bounds each window task
    // to one segment's rows — honest scale note: with a LOW-cardinality
    // partition key, each group still lands on a single task (WindowExec
    // hash-partitions by key), so at 100 TB a per-segment distribution
    // query should instead compose counts + the range-bucketed global
    // index (operators/Indexing.scala) to get rowIndex/n without a
    // single-task sort. The ordering carries a unique tie-break
    // (c_custkey), so cume_dist is rowIndex/n on identical longs — hash-
    // stable; nth_value reads the 3rd-smallest balance over the FULL frame
    // (Spark and DuckDB default nth_value frames differ: Spark ends at
    // CURRENT ROW, so rows before the 3rd would go null — the explicit
    // frame pins one semantics on both engines).
    "q50_window_dist" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val wOrd = Window.partitionBy($"c_mktsegment").orderBy($"c_acctbal", $"c_custkey")
        val wFull = wOrd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        t(s, dir, "customer")
          .withColumn("cd_milli", floor(cume_dist().over(wOrd) * 1000 + 0.5).cast("long"))
          .withColumn("third_bal_cents",
            floor(nth_value($"c_acctbal", 3).over(wFull) * 100 + 0.5).cast("long"))
          .select($"c_custkey", $"c_mktsegment", $"cd_milli", $"third_bal_cents")
          .orderBy($"c_mktsegment", $"c_custkey")
      },
      Some("""SELECT c_custkey, c_mktsegment,
             |  CAST(floor(cume_dist() OVER w * 1000 + 0.5) AS BIGINT) AS cd_milli,
             |  CAST(floor(nth_value(c_acctbal, 3) OVER wf * 100 + 0.5) AS BIGINT) AS third_bal_cents
             |FROM customer
             |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey),
             |  wf AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
             |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             |ORDER BY c_mktsegment, c_custkey""".stripMargin)),

    // ---------------------------------------------------------------------
    // Global sort + limit with total tie-break (TakeOrderedAndProject — a
    // per-partition top-k then a driver merge of k·p rows, not a full sort).
    "q12_sort_limit" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .select($"l_orderkey", $"l_linenumber", $"l_extendedprice")
          .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
          .limit(100)
      },
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
             |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin)),

    // ---------------------------------------------------------------------
    // Distinct (dropDuplicates = groupBy on all columns; partial-agg prunes
    // duplicates map-side before the shuffle).
    "q13_distinct" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "customer").select($"c_mktsegment", $"c_nationkey")
          .dropDuplicates("c_mktsegment", "c_nationkey")
          .orderBy($"c_mktsegment", $"c_nationkey")
      },
      Some("""SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
             |ORDER BY c_mktsegment, c_nationkey""".stripMargin)),

    // ---------------------------------------------------------------------
    // Set operations: INTERSECT / EXCEPT / UNION ALL over key sets.
    "q14_set_ops" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val custkeys  = t(s, dir, "customer").select($"c_custkey".as("k"))
        val orderCust = t(s, dir, "orders").select($"o_custkey".as("k"))
        val withOrders = custkeys.intersect(orderCust)
          .agg(count(lit(1)).as("n")).select(lit("with_orders").as("grp"), $"n")
        val noOrders = custkeys.except(orderCust)
          .agg(count(lit(1)).as("n")).select(lit("without_orders").as("grp"), $"n")
        withOrders.unionByName(noOrders).orderBy($"grp")
      },
      Some("""WITH wo AS (SELECT c_custkey AS k FROM customer INTERSECT SELECT o_custkey FROM orders),
             |     no AS (SELECT c_custkey AS k FROM customer EXCEPT SELECT o_custkey FROM orders)
             |SELECT 'with_orders' AS grp, count(*) AS n FROM wo
             |UNION ALL
             |SELECT 'without_orders' AS grp, count(*) AS n FROM no
             |ORDER BY grp""".stripMargin)),

    // ---------------------------------------------------------------------
    // unionByName across heterogeneous sources.
    "q15_union_by_name" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val c = t(s, dir, "customer")
          .select(lit("customer").as("kind"), $"c_custkey".as("key"), $"c_name".as("name"))
        val p = t(s, dir, "supplier")
          .select($"s_name".as("name"), lit("supplier").as("kind"), $"s_suppkey".as("key"))
        c.unionByName(p).orderBy($"kind", $"key")
      },
      Some("""SELECT 'customer' AS kind, c_custkey AS key, c_name AS name FROM customer
             |UNION ALL
             |SELECT 'supplier' AS kind, s_suppkey AS key, s_name AS name FROM supplier
             |ORDER BY kind, key""".stripMargin)),

    // ---------------------------------------------------------------------
    // ROLLUP: hierarchical subtotals; NULLS FIRST pinned on both sides (the
    // engines' default null ordering differs).
    "q16_rollup" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders").join(t(s, dir, "customer"), $"o_custkey" === $"c_custkey")
          .rollup($"c_mktsegment", $"o_orderpriority")
          .agg(count(lit(1)).as("n"), round(sum($"o_totalprice"), 2).as("total"))
          .orderBy($"c_mktsegment".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
      },
      Some("""SELECT c_mktsegment, o_orderpriority, count(*) AS n,
             |  round(sum(o_totalprice), 2) AS total
             |FROM orders JOIN customer ON c_custkey = o_custkey
             |GROUP BY ROLLUP(c_mktsegment, o_orderpriority)
             |ORDER BY c_mktsegment NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)),

    // ---------------------------------------------------------------------
    // CUBE over two low-cardinality dimensions.
    "q17_cube" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .cube($"l_returnflag", $"l_linestatus")
          .agg(count(lit(1)).as("n"), round(sum($"l_quantity"), 2).as("qty"))
          .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
      },
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity), 2) AS qty
             |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
             |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    // ---------------------------------------------------------------------
    // GROUPING SETS via the SQL surface.
    "q18_grouping_sets" -> QueryDef(
      (s, dir) => {
        Tables.views(s, dir, "lineitem")
        s.sql("""SELECT l_returnflag, l_linestatus, count(*) AS n
                |FROM lineitem
                |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
                |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
      },
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
             |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    // ---------------------------------------------------------------------
    // String functions: lower/upper/substring/length/concat/split/
    // regexp_extract/trim — all codegen'd built-ins.
    "q19_string_funcs" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "part")
          .select(
            $"p_partkey",
            lower($"p_name").as("lname"),
            upper($"p_brand").as("ubrand"),
            substring($"p_type", 1, 4).as("type4"),
            length($"p_name").cast("long").as("name_len"),
            concat($"p_brand", lit(":"), $"p_type").as("brand_type"),
            element_at(split($"p_name", " "), 1).as("first_word"),
            regexp_extract($"p_brand", "([0-9]+)", 1).as("brand_num"))
          .orderBy($"p_partkey")
      },
      Some("""SELECT p_partkey, lower(p_name) AS lname, upper(p_brand) AS ubrand,
             |  substring(p_type, 1, 4) AS type4,
             |  CAST(length(p_name) AS BIGINT) AS name_len,
             |  p_brand || ':' || p_type AS brand_type,
             |  string_split(p_name, ' ')[1] AS first_word,
             |  regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num
             |FROM part ORDER BY p_partkey""".stripMargin)),

    // ---------------------------------------------------------------------
    // Date/time functions: trunc, extract parts, date arithmetic, format.
    "q20_date_funcs" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .select(
            $"o_orderkey",
            date_trunc("month", $"o_orderdate").as("order_month"),
            year($"o_orderdate").cast("long").as("y"),
            month($"o_orderdate").cast("long").as("m"),
            dayofmonth($"o_orderdate").cast("long").as("d"),
            date_format($"o_orderdate", "yyyy-MM-dd").as("iso_day"),
            date_add(to_date($"o_orderdate"), 30).cast("timestamp").as("plus30"))
          .orderBy($"o_orderkey")
      },
      Some("""SELECT o_orderkey,
             |  date_trunc('month', o_orderdate) AS order_month,
             |  CAST(year(o_orderdate) AS BIGINT) AS y,
             |  CAST(month(o_orderdate) AS BIGINT) AS m,
             |  CAST(day(o_orderdate) AS BIGINT) AS d,
             |  strftime(o_orderdate, '%Y-%m-%d') AS iso_day,
             |  CAST(CAST(o_orderdate AS DATE) + 30 AS TIMESTAMP) AS plus30
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // ---------------------------------------------------------------------
    // Time-bucketed aggregation over the event stream table (the batch
    // equivalent of a tumbling window).
    "q21_events_hourly" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .groupBy(date_trunc("hour", $"ts").as("hr"), $"event_type")
          .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("sum_value"))
          .orderBy($"hr", $"event_type")
      },
      Some("""SELECT date_trunc('hour', ts) AS hr, event_type, count(*) AS n,
             |  round(sum(value), 2) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY hr, event_type""".stripMargin)),

    // ---------------------------------------------------------------------
    // Sliding window (1h window, 30m slide) in batch: each event lands in
    // exactly two buckets — Spark's window() vs the oracle's two-bucket
    // union.
    "q22_events_sliding" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .groupBy(window($"ts", "1 hour", "30 minutes").as("w"))
          .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("sum_value"))
          .select($"w.start".as("win_start"), $"n", $"sum_value")
          .orderBy($"win_start")
      },
      Some("""WITH b AS (
             |  SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS win_start, value FROM events
             |  UNION ALL
             |  SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE, value FROM events)
             |SELECT win_start, count(*) AS n, round(sum(value), 2) AS sum_value
             |FROM b GROUP BY win_start ORDER BY win_start""".stripMargin)),

    // ---------------------------------------------------------------------
    // Conditional expressions: CASE WHEN / coalesce / nullif.
    "q23_conditional" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "customer")
          .select(
            $"c_custkey",
            when($"c_acctbal" < 0, "negative")
              .when($"c_acctbal" < 5000, "mid").otherwise("high").as("bal_bucket"),
            coalesce(nullif($"c_mktsegment", lit("BUILDING")), lit("OTHER")).as("seg"),
            floor(abs($"c_acctbal") * 100 + 0.5).cast("long").as("abs_bal_cents"))
          .orderBy($"c_custkey")
      },
      Some("""SELECT c_custkey,
             |  CASE WHEN c_acctbal < 0 THEN 'negative'
             |       WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END AS bal_bucket,
             |  coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg,
             |  CAST(floor(abs(c_acctbal) * 100 + 0.5) AS BIGINT) AS abs_bal_cents
             |FROM customer ORDER BY c_custkey""".stripMargin)),

    // ---------------------------------------------------------------------
    // JSON extraction from the events.props payload column. Cast contract:
    // props.k is integral JSON by the TESTDATA schema — on arbitrary JSON
    // the engines' string→BIGINT casts diverge (Spark truncates/NULLs,
    // DuckDB rounds/errors), so a general-purpose pipeline would validate
    // the digit shape before casting.
    "q24_json_extract" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .select(get_json_object($"props", "$.k").cast("long").as("k"))
          .groupBy($"k").agg(count(lit(1)).as("n"))
          .orderBy($"k")
      },
      Some("""SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, count(*) AS n
             |FROM events GROUP BY k ORDER BY k""".stripMargin)),

    // ---------------------------------------------------------------------
    // VARIANT (Spark 4): parse semi-structured JSON ONCE into the binary
    // variant encoding, then extract fields natively — the modern
    // replacement for per-access get_json_object re-parsing (at 100 TB,
    // parsing the same props string per extracted field multiplies scan
    // CPU by the field count). Values verified against DuckDB's JSON
    // extraction on the same strings.
    "q54_variant_json" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .select(parse_json($"props").as("v"), $"event_type")
          .select(expr("variant_get(v, '$.k', 'long')").as("k"), $"event_type")
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"), sum($"k").as("sum_k"),
            max($"k").as("max_k"))
          .orderBy($"event_type")
      },
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ---------------------------------------------------------------------
    // Correlated EXISTS subquery through the SQL surface (late-shipping
    // orders).
    "q25_exists_subquery" -> QueryDef(
      (s, dir) => {
        Tables.views(s, dir, "orders", "lineitem")
        s.sql("""SELECT o_orderpriority, count(*) AS n
                |FROM orders
                |WHERE EXISTS (SELECT 1 FROM lineitem
                |              WHERE l_orderkey = o_orderkey
                |                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
                |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
      },
      Some("""SELECT o_orderpriority, count(*) AS n
             |FROM orders
             |WHERE EXISTS (SELECT 1 FROM lineitem
             |              WHERE l_orderkey = o_orderkey
             |                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // ---------------------------------------------------------------------
    // Correlated SCALAR subquery: customers above their nation's average
    // balance. Balances go through integer cents first so the correlated
    // average is an exact rational on both engines — a float-threshold
    // comparison against a raw double avg would be order-sensitive at the
    // boundary.
    "q39_scalar_subquery" -> QueryDef(
      (s, dir) => {
        Tables.views(s, dir, "customer")
        s.sql("""WITH cents AS (
                |  SELECT c_custkey, c_nationkey,
                |         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal
                |  FROM customer)
                |SELECT c_nationkey, count(*) AS n_above
                |FROM cents c
                |WHERE bal > (SELECT avg(bal) FROM cents c2
                |             WHERE c2.c_nationkey = c.c_nationkey)
                |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)
      },
      Some("""WITH cents AS (
             |  SELECT c_custkey, c_nationkey,
             |         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal
             |  FROM customer)
             |SELECT c_nationkey, count(*) AS n_above
             |FROM cents c
             |WHERE bal > (SELECT avg(bal) FROM cents c2
             |             WHERE c2.c_nationkey = c.c_nationkey)
             |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)),

    // ---------------------------------------------------------------------
    // Scalar IN-subquery + HAVING.
    "q26_having" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .groupBy($"l_suppkey")
          .agg(count(lit(1)).as("n_items"), round(sum($"l_quantity"), 2).as("total_qty"))
          .filter($"n_items" > 50)
          .orderBy($"l_suppkey")
      },
      Some("""SELECT l_suppkey, count(*) AS n_items, round(sum(l_quantity), 2) AS total_qty
             |FROM lineitem GROUP BY l_suppkey HAVING count(*) > 50
             |ORDER BY l_suppkey""".stripMargin)),

    // ---------------------------------------------------------------------
    // Exact multi-column count(distinct) (expands to two-phase agg).
    "q27_count_distinct" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .groupBy($"o_orderpriority")
          .agg(countDistinct($"o_custkey").as("n_cust"),
               count(lit(1)).as("n_orders"),
               round(min($"o_totalprice"), 2).as("min_price"),
               round(max($"o_totalprice"), 2).as("max_price"))
          .orderBy($"o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust, count(*) AS n_orders,
             |  round(min(o_totalprice), 2) AS min_price, round(max(o_totalprice), 2) AS max_price
             |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // ---------------------------------------------------------------------
    // Approximate distinct (HLL++), rsd 0.02 (~2^12 registers/sketch): the
    // whole point of the sketch is trading precision for memory — rsd 0.01
    // quadruples register arrays for a digit q27 answers exactly when
    // needed. ORACLE BY ERROR BOUND (round 17, closing the last no_oracle
    // rows): the sketch value is not bit-comparable to DuckDB's, so the
    // hashed output carries the EXACT counts plus a boolean asserting the
    // sketch landed within 3×rsd of them — the oracle's TRUE literal then
    // hash-checks the accuracy claim itself. A broken sketch (or a future
    // regression that silently widens its error) flips the boolean and
    // fails the hash compare; the exact counts keep the row data-bearing.
    "q28_approx_distinct" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        // OPTIMIZATION round 16 (guide §1.2 "the distributed algorithm",
        // §5 memory): mixing countDistinct with approx_count_distinct in
        // ONE agg plans an Expand whose partial aggregate is keyed by
        // (flag, gid, partkey, orderkey) — ~2·|lineitem| groups — and
        // carries BOTH ~4 KB HLL buffers in EVERY group's buffer row:
        // gigabytes of aggregation-map churn at sf0.1 (6.1 s, the
        // slowest bench entry) and an OOM-shaped plan at 100 TB. The
        // sketches now aggregate separately (3 groups → 3 buffer pairs)
        // and broadcast-join back; the exact distincts keep the normal
        // q27-shaped expand. Same values: HLL register state is
        // duplicate- and order-insensitive, so the estimate is
        // bit-identical to the fused plan's.
        val li = t(s, dir, "lineitem")
        val exact = li.groupBy($"l_returnflag")
          .agg(countDistinct($"l_partkey").as("n_parts"),
               countDistinct($"l_orderkey").as("n_orders"))
        val approx = li.groupBy($"l_returnflag")
          .agg(approx_count_distinct($"l_partkey", 0.02).as("ap"),
               approx_count_distinct($"l_orderkey", 0.02).as("ao"))
        // null-safe join key (r16 ADVICE): the fused single-aggregate plan
        // emitted a null-flag group; a plain inner equi-join would silently
        // drop it. TPC-H l_returnflag is non-null so the output is
        // unchanged — the <=> keeps the split provably equivalent anyway.
        exact.as("e").join(broadcast(approx.as("a")),
            col("e.l_returnflag") <=> col("a.l_returnflag"))
          .select(col("e.l_returnflag").as("l_returnflag"),
            $"n_parts", $"n_orders",
            (abs($"ap" - $"n_parts") <= $"n_parts" * 0.06 &&
             abs($"ao" - $"n_orders") <= $"n_orders" * 0.06)
              .as("approx_within_3rsd"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |  count(DISTINCT l_partkey) AS n_parts,
             |  count(DISTINCT l_orderkey) AS n_orders,
             |  TRUE AS approx_within_3rsd
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // ---------------------------------------------------------------------
    // Gap-based sessionization in batch SQL (lag + cumulative flag): the
    // batch mirror of streaming session windows.
    "q29_sessionize" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        t(s, dir, "events")
          .withColumn("prev_ts", lag($"ts", 1).over(w))
          .withColumn("new_session",
            when($"prev_ts".isNull ||
                 ($"ts".cast("long") - $"prev_ts".cast("long")) > 1800, 1L).otherwise(0L))
          .groupBy($"user_id")
          .agg(sum($"new_session").as("n_sessions"), count(lit(1)).as("n_events"))
          .orderBy($"user_id")
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_id, ts,
             |         lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
             |  FROM events)
             |SELECT user_id,
             |  CAST(sum(CASE WHEN prev_ts IS NULL
             |            OR floor(epoch(ts)) - floor(epoch(prev_ts)) > 1800
             |           THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
             |  count(*) AS n_events
             |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ---------------------------------------------------------------------
    // Array ops: split + explode + re-aggregate (word histogram).
    "q30_explode_words" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .select(explode(split($"text", " ")).as("word"))
          .groupBy($"word").agg(count(lit(1)).as("n"))
          .orderBy($"word")
      },
      Some("""SELECT word, count(*) AS n FROM (
             |  SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
             |GROUP BY word ORDER BY word""".stripMargin)),

    // ---------------------------------------------------------------------
    // POSITIONAL explode: posexplode keeps each element's 0-based index —
    // the ordered-flatten primitive (token positions, chunk offsets) that
    // plain explode loses. Same per-row Generate plan, no extra shuffle.
    "q53_posexplode" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .select($"doc_id", posexplode(split($"text", " ")))
          .filter($"pos" < 5)
          .select($"doc_id", $"pos".cast("long").as("pos"), $"col".as("word"))
          .orderBy($"doc_id", $"pos")
      },
      Some("""SELECT doc_id, i - 1 AS pos, w[i] AS word
             |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t,
             |  LATERAL (SELECT unnest(range(1, greatest(len(w), 0) + 1)) AS i) g
             |WHERE i - 1 < 5 ORDER BY doc_id, pos""".stripMargin)),

    // ---------------------------------------------------------------------
    // Array HIGHER-ORDER functions — transform / filter / aggregate over a
    // per-row array, no explode (the lambda evaluates inside the row, so
    // the plan is a per-row projection: no shuffle, codegen-friendly — the
    // shape that matters when the alternative explode+groupBy would
    // shuffle |tokens| rows per document at 100 TB). DuckDB's list lambdas
    // compute the identical values.
    "q51_array_hof" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .withColumn("toks", split($"text", " "))
          .select($"doc_id",
            size(filter($"toks", t => length(t) > 4)).cast("long").as("n_long"),
            aggregate($"toks", lit(0L), (acc, t) => acc + length(t)).as("sum_len"),
            array_join(transform(slice($"toks", 1, 3), t => upper(t)), "_").as("head3_upper"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id,
             |  CAST(len(list_filter(string_split(text, ' '), t -> length(t) > 4)) AS BIGINT) AS n_long,
             |  CAST(coalesce(list_sum(list_transform(string_split(text, ' '), t -> length(t))), 0) AS BIGINT) AS sum_len,
             |  array_to_string(list_transform(string_split(text, ' ')[1:3], t -> upper(t)), '_') AS head3_upper
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---------------------------------------------------------------------
    // stddev (sample + population) and deterministic first/last per group.
    // Spark's groupBy first()/last() are order-nondeterministic by contract,
    // so the deterministic form is first/last over an explicitly ordered,
    // fully-framed window — then any agg of the (per-group-constant) result.
    "q32_stddev_first_last" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"o_orderpriority")
          .orderBy($"o_orderdate", $"o_orderkey")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        t(s, dir, "orders")
          .withColumn("first_order", first($"o_orderkey").over(w))
          .withColumn("last_order", last($"o_orderkey").over(w))
          .groupBy($"o_orderpriority")
          .agg(
            round(stddev($"o_totalprice"), 2).as("sd_samp"),
            round(stddev_pop($"o_totalprice"), 2).as("sd_pop"),
            min($"first_order").as("first_order"),
            min($"last_order").as("last_order"),
            count(lit(1)).as("n"))
          .orderBy($"o_orderpriority")
      },
      Some("""SELECT o_orderpriority,
             |  round(stddev_samp(o_totalprice), 2) AS sd_samp,
             |  round(stddev_pop(o_totalprice), 2) AS sd_pop,
             |  min(first_o) AS first_order, min(last_o) AS last_order,
             |  count(*) AS n
             |FROM (
             |  SELECT o_orderpriority, o_totalprice,
             |    first_value(o_orderkey) OVER w AS first_o,
             |    last_value(o_orderkey) OVER w AS last_o
             |  FROM orders
             |  WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey
             |               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) t
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // ---------------------------------------------------------------------
    // Right-outer join: every customer kept whether or not they ordered
    // (the mirror of q06's left join, exercised in its own right per the
    // reference contract "inner/left/right/full").
    "q33_right_outer_join" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .join(t(s, dir, "customer"), $"o_custkey" === $"c_custkey", "right_outer")
          .groupBy($"c_mktsegment")
          .agg(count($"o_orderkey").as("n_orders"),
               countDistinct($"c_custkey").as("n_customers"))
          .orderBy($"c_mktsegment")
      },
      Some("""SELECT c_mktsegment, count(o_orderkey) AS n_orders,
             |  count(DISTINCT c_custkey) AS n_customers
             |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // ---------------------------------------------------------------------
    // RANGE window frame: trailing-30-day spend per customer. The frame is
    // value-based (seconds since epoch), so peers with equal order dates all
    // enter the frame together — semantics ROWS frames can't express.
    "q34_range_frame" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        // o_orderdate is TIMESTAMP_NTZ; range frames need a numeric ordering
        // key → epoch seconds via an NTZ→TZ cast (identity: session TZ=UTC).
        val w = Window.partitionBy($"o_custkey")
          .orderBy($"o_orderdate".cast("timestamp").cast("long"))
          .rangeBetween(-30L * 86400, Window.currentRow)
        t(s, dir, "orders")
          .withColumn("n_orders_30d", count(lit(1)).over(w))
          .withColumn("spend_30d", round(sum($"o_totalprice").over(w), 2))
          .select($"o_custkey", $"o_orderkey", $"o_orderdate", $"n_orders_30d", $"spend_30d")
          .orderBy($"o_custkey", $"o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderdate,
             |  count(*) OVER w AS n_orders_30d,
             |  round(sum(o_totalprice) OVER w, 2) AS spend_30d
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY floor(epoch(o_orderdate))
             |             RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // ---------------------------------------------------------------------
    // JSON → typed map: from_json on events.props, then map_keys /
    // element_at / array_contains — the natural query over a JSON payload
    // column (q24 covers the path-extraction flavor).
    "q35_json_map_ops" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val m = from_json($"props", org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.StringType))
        t(s, dir, "events")
          .select($"event_id", m.as("m"))
          .select(
            $"event_id",
            array_join(array_sort(map_keys($"m")), ",").as("keys_csv"),
            size(map_keys($"m")).cast("long").as("n_keys"),
            element_at($"m", "k").cast("long").as("k_val"),
            array_contains(map_keys($"m"), "k").as("has_k"))
          .orderBy($"event_id")
      },
      Some("""SELECT event_id,
             |  array_to_string(list_sort(json_keys(props)), ',') AS keys_csv,
             |  CAST(len(json_keys(props)) AS BIGINT) AS n_keys,
             |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
             |  list_contains(json_keys(props), 'k') AS has_k
             |FROM events ORDER BY event_id""".stripMargin)),

    // ---------------------------------------------------------------------
    // Pivot (long → wide) with EXPLICIT pivot values: the values-omitted
    // form launches a hidden distinct-scan job before planning — a scale
    // anti-pattern the API makes easy to avoid.
    "q36_pivot" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        // coalesce: a pivot cell with no rows is NULL in Spark but 0 under
        // the oracle's count(*) FILTER — all cells are populated at every
        // current SF, but sparser data must not flip the compare
        t(s, dir, "orders")
          .groupBy($"o_orderpriority")
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(count(lit(1)))
          .select($"o_orderpriority",
            coalesce($"F", lit(0L)).as("F"),
            coalesce($"O", lit(0L)).as("O"),
            coalesce($"P", lit(0L)).as("P"))
          .orderBy($"o_orderpriority")
      },
      Some("""SELECT o_orderpriority,
             |  CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS F,
             |  CAST(count(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS O,
             |  CAST(count(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS P
             |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // ---------------------------------------------------------------------
    // Unpivot (wide → long), the inverse of q36 — over a pre-aggregated
    // input so the melt is metadata-sized.
    "q37_unpivot" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(round(sum($"l_quantity"), 2).as("qty"),
               round(sum($"l_extendedprice"), 2).as("price"))
          .unpivot(Array($"l_returnflag"), Array($"qty", $"price"), "metric", "value")
          .orderBy($"l_returnflag", $"metric")
      },
      Some("""WITH a AS (
             |  SELECT l_returnflag, round(sum(l_quantity), 2) AS qty,
             |         round(sum(l_extendedprice), 2) AS price
             |  FROM lineitem GROUP BY 1)
             |SELECT l_returnflag, 'qty' AS metric, qty AS value FROM a
             |UNION ALL
             |SELECT l_returnflag, 'price' AS metric, price AS value FROM a
             |ORDER BY l_returnflag, metric""".stripMargin)),

    // ---------------------------------------------------------------------
    // Ordered string aggregation: collect_list is unordered by contract, so
    // the deterministic form sorts the collected array before joining.
    "q38_string_agg" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "nation")
          .join(broadcast(t(s, dir, "region")), $"n_regionkey" === $"r_regionkey")
          .groupBy($"r_name")
          .agg(concat_ws(",", array_sort(collect_list($"n_name"))).as("nations"),
               count(lit(1)).as("n_nations"))
          .orderBy($"r_name")
      },
      Some("""SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
             |  count(*) AS n_nations
             |FROM nation JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name ORDER BY r_name""".stripMargin)),

    // ---------------------------------------------------------------------
    // Exact percentiles (interpolated, quantile type-7 — the definition
    // both engines share). Values go through integer cents so both sides
    // interpolate over identical doubles; outputs milli-rounded. Scale
    // note: exact percentile materializes each group's values — fine for
    // low-cardinality groups like this; for 100-TB wide groups use the
    // sketch path (q43).
    "q42_percentile_exact" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .select($"l_returnflag",
            floor($"l_extendedprice" * 100 + 0.5).cast("long").as("cents"))
          .groupBy($"l_returnflag")
          .agg(expr("percentile(cents, array(0.5, 0.9, 0.99))").as("ps"),
               count(lit(1)).as("n"))
          .select($"l_returnflag",
            floor(element_at($"ps", 1) * 1000 + 0.5).cast("long").as("p50_milli"),
            floor(element_at($"ps", 2) * 1000 + 0.5).cast("long").as("p90_milli"),
            floor(element_at($"ps", 3) * 1000 + 0.5).cast("long").as("p99_milli"),
            $"n")
          .orderBy($"l_returnflag")
      },
      Some("""WITH c AS (
             |  SELECT l_returnflag,
             |         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
             |  FROM lineitem),
             |q AS (SELECT l_returnflag,
             |        quantile_cont(cents, [0.5, 0.9, 0.99]) AS ps,
             |        count(*) AS n
             |      FROM c GROUP BY 1)
             |SELECT l_returnflag,
             |  CAST(floor(ps[1] * 1000 + 0.5) AS BIGINT) AS p50_milli,
             |  CAST(floor(ps[2] * 1000 + 0.5) AS BIGINT) AS p90_milli,
             |  CAST(floor(ps[3] * 1000 + 0.5) AS BIGINT) AS p99_milli,
             |  n
             |FROM q ORDER BY l_returnflag""".stripMargin)),

    // ---------------------------------------------------------------------
    // Approximate percentile (Greenwald-Khanna sketch): the 100-TB path —
    // bounded memory per group regardless of group size, mergeable partial
    // sketches. ORACLE BY ERROR BOUND (round 17, same pattern as q28): the
    // GK value is not bit-comparable to DuckDB's sketch, but its CONTRACT
    // is exact — accuracy 1000 guarantees the returned value's RANK lies
    // within ε = 1/1000 of the requested quantile. The query re-derives
    // each approx value's true rank window in a second exact pass
    // (count(≤)/n and count(<)/n) and hashes the per-quantile bound
    // booleans + the exact group count; the oracle's TRUE literals check
    // the guarantee itself. q42 remains the exact-value ground truth.
    "q43_percentile_approx" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val cents = t(s, dir, "lineitem")
          .select($"l_returnflag",
            floor($"l_extendedprice" * 100 + 0.5).cast("long").as("cents"))
        val approx = cents
          .groupBy($"l_returnflag")
          .agg(percentile_approx($"cents", array(lit(0.5), lit(0.9), lit(0.99)),
            lit(1000)).as("ps"))
        val eps = 1.0 / 1000 + 1e-9
        def rankOk(q: Double, i: Int) = {
          val p = element_at($"ps", i)
          (sum(when($"cents" <= p, 1L).otherwise(0L)) >=
            (lit(q) - eps) * count(lit(1))) &&
          (sum(when($"cents" < p, 1L).otherwise(0L)) <=
            (lit(q) + eps) * count(lit(1)))
        }
        cents.join(broadcast(approx), "l_returnflag")
          .groupBy($"l_returnflag")
          .agg(count(lit(1)).as("n"),
            rankOk(0.50, 1).as("p50_in_eps"),
            rankOk(0.90, 2).as("p90_in_eps"),
            rankOk(0.99, 3).as("p99_in_eps"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag, count(*) AS n,
             |  TRUE AS p50_in_eps, TRUE AS p90_in_eps, TRUE AS p99_in_eps
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // ---------------------------------------------------------------------
    // Salted join (explicit skew mitigation — see [[graft.operators.Skew]]):
    // the result is EXACTLY a plain inner join, which is what the oracle
    // verifies; only the shuffle layout changes (hot key spread over 8
    // salts). Quantities ride as integer centi-units so the re-aggregation
    // is associative bit-for-bit.
    "q45_salted_join" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val fact = t(s, dir, "lineitem")
          .select($"l_suppkey", floor($"l_quantity" * 100 + 0.5).cast("long").as("qty_c"))
        val dim = t(s, dir, "supplier")
          .select($"s_suppkey".as("l_suppkey"), $"s_nationkey")
        graft.operators.Skew.saltedJoin(fact, dim, "l_suppkey", salts = 8)
          .groupBy($"s_nationkey")
          .agg(count(lit(1)).as("n_items"), sum($"qty_c").as("qty_centi"))
          .orderBy($"s_nationkey")
      },
      Some("""SELECT s_nationkey, count(*) AS n_items,
             |  CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS qty_centi
             |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
             |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)),

    // ---------------------------------------------------------------------
    // Bucketed co-located join: both sides land as hash-bucketed parquet
    // (the write-once shuffle), then join on the bucket key — at scale the
    // join itself needs NO Exchange (BucketingSpec proves it on the plan;
    // here the write+read+join round-trip is the verified result, the l01
    // pattern). Money rides as integer centi-units.
    "q47_bucketed_join" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        // per-(sf, process, thread) path AND catalog names (the l01/l02
        // pattern, plus the thread id for same-JVM concurrency): concurrent
        // sessions — bench + verify processes, or two threads of one
        // harness JVM — must not clobber each other's bucket files or
        // catalog entries mid-read. The directory is a fixture slot, so
        // it goes with this process's slot tree.
        val slot = (s"${new java.io.File(dir).getName}_" +
          s"${ProcessHandle.current().pid()}_t${Thread.currentThread().getId}")
          .replaceAll("[^A-Za-z0-9_]", "_")
        val base = Fixtures.slot("graft-bucketed", slot)
        graft.operators.Bucketing.writeBucketed(s,
          t(s, dir, "customer").select($"c_custkey", $"c_mktsegment"),
          s"graft_bkt_customer_$slot", s"$base/customer", buckets = 8, key = "c_custkey")
        graft.operators.Bucketing.writeBucketed(s,
          t(s, dir, "orders")
            .select($"o_custkey", floor($"o_totalprice" * 100 + 0.5).cast("long").as("price_c")),
          s"graft_bkt_orders_$slot", s"$base/orders", buckets = 8, key = "o_custkey")
        graft.operators.Bucketing.colocatedJoin(s,
            s"graft_bkt_customer_$slot", s"graft_bkt_orders_$slot", "c_custkey", "o_custkey")
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("n_orders"), sum($"price_c").as("price_centi"))
          .orderBy($"c_mktsegment")
      },
      Some("""SELECT c_mktsegment, count(*) AS n_orders,
             |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS price_centi
             |FROM customer JOIN orders ON c_custkey = o_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // ---------------------------------------------------------------------
    // Second-moment family: corr / covar_samp / covar_pop are definition-
    // identical across engines; skewness/kurtosis are NOT (Spark computes
    // population g1 / excess g2, DuckDB bias-corrected sample versions), so
    // the oracle derives Spark's definitions from raw central moments
    // rather than calling DuckDB's skewness()/kurtosis().
    "q48_stats_moments" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(
            round(corr($"l_quantity", $"l_extendedprice"), 4).as("corr_qp"),
            round(covar_samp($"l_quantity", $"l_extendedprice"), 2).as("covar_s"),
            round(covar_pop($"l_quantity", $"l_extendedprice"), 2).as("covar_p"),
            round(skewness($"l_extendedprice"), 4).as("skew_price"),
            round(kurtosis($"l_extendedprice"), 4).as("kurt_price"))
          .orderBy($"l_returnflag")
      },
      Some("""WITH mu AS (
             |  SELECT l_returnflag, avg(l_extendedprice) AS m FROM lineitem GROUP BY 1),
             |mom AS (
             |  SELECT l.l_returnflag,
             |    corr(l_quantity, l_extendedprice) AS c,
             |    covar_samp(l_quantity, l_extendedprice) AS cs,
             |    covar_pop(l_quantity, l_extendedprice) AS cp,
             |    avg(pow(l_extendedprice - m, 2)) AS m2,
             |    avg(pow(l_extendedprice - m, 3)) AS m3,
             |    avg(pow(l_extendedprice - m, 4)) AS m4
             |  FROM lineitem l JOIN mu USING (l_returnflag) GROUP BY 1)
             |SELECT l_returnflag, round(c, 4) AS corr_qp, round(cs, 2) AS covar_s,
             |  round(cp, 2) AS covar_p,
             |  round(m3 / pow(m2, 1.5), 4) AS skew_price,
             |  round(m4 / (m2 * m2) - 3, 4) AS kurt_price
             |FROM mom ORDER BY l_returnflag""".stripMargin)),

    // ---------------------------------------------------------------------
    // Time-series gap-fill (resample + forward fill): per-user hourly grid
    // from first to last observed hour, each point carrying the latest
    // at-or-before observation. Spark has no native gap-fill; this is the
    // composed all-builtins plan in [[graft.operators.Timeseries]] — every
    // stage key-partitioned, no single-partition window. Values ride as
    // integer cents so the fill is bit-exact cross-engine.
    "q49_gapfill" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
          .select($"user_id", $"ts", floor($"value" * 100 + 0.5).cast("long").as("vc"))
        graft.operators.Timeseries.gapFillHourly(ev, $"user_id", $"ts", $"vc")
          .select($"key".as("user_id"), $"bucket_ts", $"value".as("v_cents"))
          // r17: cut before the global sort — RangePartitioning's bounds
          // sampling re-executes the pre-sort segment (grid explode +
          // fill window over ~1M rows here); sampling materialized
          // blocks instead costs one checkpoint and saves a full
          // re-execution (measured 1.73 s -> 1.33 s same-session A/B)
          .transform(graft.operators.Materialize.cut)
          .orderBy("user_id", "bucket_ts")
      },
      Some("""WITH obs AS (
             |  SELECT user_id, date_trunc('hour', ts) AS h, ts,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc,
             |    row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
             |      ORDER BY ts DESC, CAST(floor(value * 100 + 0.5) AS BIGINT) DESC) AS rn
             |  FROM events),
             |hl AS (SELECT user_id, h, vc FROM obs WHERE rn = 1),
             |span AS (SELECT user_id, min(h) AS t0, max(h) AS t1 FROM hl GROUP BY 1),
             |grid AS (
             |  SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS h
             |  FROM span),
             |j AS (
             |  SELECT g.user_id, g.h, hl.vc
             |  FROM grid g LEFT JOIN hl ON hl.user_id = g.user_id AND hl.h = g.h)
             |SELECT user_id, h AS bucket_ts,
             |  last_value(vc IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY h
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_cents
             |FROM j ORDER BY user_id, bucket_ts""".stripMargin)),

    // ---------------------------------------------------------------------
    // Predicate pushdown showcase: IN / BETWEEN / LIKE all reach the scan.
    "q31_predicates" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "part")
          .filter($"p_brand".isin("Brand#1", "Brand#5", "Brand#12") &&
                  $"p_size".between(1, 25) && $"p_name".like("%red%"))
          .select($"p_partkey", $"p_brand", $"p_size", $"p_name")
          .orderBy($"p_partkey")
      },
      Some("""SELECT p_partkey, p_brand, p_size, p_name FROM part
             |WHERE p_brand IN ('Brand#1', 'Brand#5', 'Brand#12')
             |  AND p_size BETWEEN 1 AND 25 AND p_name LIKE '%red%'
             |ORDER BY p_partkey""".stripMargin)),

    // ---------------------------------------------------------------------
    // Conversion funnel (view → click → purchase, strictly ordered): per
    // user, the first view, the first click strictly after it, the first
    // purchase strictly after that. The scale shape is ONE shuffle: group
    // per user, sort the (bounded) per-user event list once, and fold the
    // three stage timestamps in a single pass — not the textbook three
    // cascaded min-aggregations (3 shuffles + 2 joins), which is what the
    // oracle runs to prove the fold equivalent. Timestamps compare as
    // exact integer micros; strict `>` on both sides makes the equal-ts
    // edge engine-independent.
    "q55_funnel" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        graft.operators.Funnel.stages(t(s, dir, "events"),
            $"user_id", unix_micros($"ts"), $"event_id", $"event_type",
            stages = Seq("view", "click", "purchase"),
            names = Seq("view_us", "click_us", "purchase_us"))
          .withColumnRenamed("key", "user_id")
          .orderBy($"user_id")
      },
      Some("""WITH v AS (
             |  SELECT user_id, min(epoch_us(ts)) AS vt FROM events
             |  WHERE event_type = 'view' GROUP BY 1),
             |c AS (
             |  SELECT e.user_id, min(epoch_us(e.ts)) AS ct
             |  FROM events e JOIN v ON e.user_id = v.user_id
             |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.vt GROUP BY 1),
             |p AS (
             |  SELECT e.user_id, min(epoch_us(e.ts)) AS pt
             |  FROM events e JOIN c ON e.user_id = c.user_id
             |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.ct GROUP BY 1)
             |SELECT u.user_id, v.vt AS view_us, c.ct AS click_us, p.pt AS purchase_us
             |FROM (SELECT DISTINCT user_id FROM events
             |      WHERE event_type IN ('view', 'click', 'purchase')) u
             |LEFT JOIN v ON u.user_id = v.user_id
             |LEFT JOIN c ON u.user_id = c.user_id
             |LEFT JOIN p ON u.user_id = p.user_id
             |ORDER BY u.user_id""".stripMargin)),

    // ---------------------------------------------------------------------
    // Cohort retention: cohort = ISO week of a user's first event; count
    // distinct users active in each (cohort, week-offset) cell. Every
    // stage is keyed by user_id (distinct → first-week agg → co-partitioned
    // join), so nothing re-shuffles the event log twice; the cell table is
    // output-sized. Both engines truncate weeks to Monday.
    "q56_retention" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val act = t(s, dir, "events")
          .select($"user_id", date_trunc("week", $"ts").cast("date").as("wk"))
          .distinct()
        val first = act.groupBy($"user_id").agg(min($"wk").as("cohort"))
        act.join(first, "user_id")
          .withColumn("week_offset", (datediff($"wk", $"cohort") / 7).cast("long"))
          .groupBy(date_format($"cohort", "yyyy-MM-dd").as("cohort"), $"week_offset")
          .agg(countDistinct($"user_id").as("n_users"))
          .orderBy($"cohort", $"week_offset")
      },
      Some("""WITH a AS (
             |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
             |  FROM events),
             |f AS (SELECT user_id, min(wk) AS cohort FROM a GROUP BY 1)
             |SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort,
             |  date_diff('day', f.cohort, a.wk) // 7 AS week_offset,
             |  count(DISTINCT a.user_id) AS n_users
             |FROM a JOIN f ON a.user_id = f.user_id
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---------------------------------------------------------------------
    // Linear-regression aggregates (slope/intercept/R²/count of price on
    // quantity per return flag). NOT the built-in regr_* family: those
    // sum DOUBLES, and double summation order differs between Spark's
    // distributed partial aggregation and the oracle — a value sitting on
    // a rounding boundary could flip the last digit (a flaky oracle).
    // Instead the five moments (n, Σx, Σy, Σxy, Σx², Σy²) aggregate as
    // EXACT integers (quantities are integral; price rides as cents;
    // decimal(38,0) sums so Σy² cannot overflow BIGINT at sf100), and
    // both engines derive slope/intercept/R² from the SAME exact
    // integers with the SAME double expression — deterministic on both
    // sides, no summation-order hazard, same closed form as regr_*.
    "q57_regression" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val xl = floor($"l_quantity" + 0.5).cast("long")
        val yc = floor($"l_extendedprice" * 100 + 0.5).cast("long")
        val d = "double"
        t(s, dir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(
            count(lit(1)).as("n"),
            sum(xl.cast("decimal(38,0)")).as("sx"),
            sum(yc.cast("decimal(38,0)")).as("sy"),
            sum((xl * xl).cast("decimal(38,0)")).as("sxx"),
            sum((xl * yc).cast("decimal(38,0)")).as("sxy"),
            sum((yc * yc).cast("decimal(38,0)")).as("syy"))
          .select($"l_returnflag", $"n", $"sx".cast(d).as("sx"),
            $"sy".cast(d).as("sy"), $"sxx".cast(d).as("sxx"),
            $"sxy".cast(d).as("sxy"), $"syy".cast(d).as("syy"))
          // Degenerate-group guard: a group where every x (or y) is equal
          // zeroes the corresponding variance denominator. Unguarded, Spark
          // doubles yield NaN/±Infinity while other engines pick their own
          // convention — nullif pins BOTH engines to NULL instead.
          .withColumn("dxy", $"n" * $"sxy" - $"sx" * $"sy")
          .withColumn("dxx", nullif($"n" * $"sxx" - $"sx" * $"sx", lit(0.0)))
          .withColumn("dyy", nullif($"n" * $"syy" - $"sy" * $"sy", lit(0.0)))
          .select($"l_returnflag",
            round($"dxy" / $"dxx" / 100, 4).as("slope"),
            round(($"sy" / 100 - $"dxy" / $"dxx" / 100 * $"sx") / $"n", 2)
              .as("intercept"),
            round($"dxy" * $"dxy" / ($"dxx" * $"dyy"), 6).as("r2"),
            $"n")
          .orderBy($"l_returnflag")
      },
      Some("""WITH b AS (
             |  SELECT l_returnflag,
             |    CAST(floor(l_quantity + 0.5) AS BIGINT) AS xl,
             |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS yc
             |  FROM lineitem),
             |m AS (
             |  SELECT l_returnflag, count(*) AS n,
             |    CAST(sum(xl) AS DOUBLE) AS sx, CAST(sum(yc) AS DOUBLE) AS sy,
             |    CAST(sum(xl*xl) AS DOUBLE) AS sxx,
             |    CAST(sum(xl*yc) AS DOUBLE) AS sxy,
             |    CAST(sum(yc*yc) AS DOUBLE) AS syy
             |  FROM b GROUP BY 1),
             |g AS (
             |  SELECT l_returnflag, n, sx, sy,
             |    n*sxy - sx*sy AS dxy,
             |    nullif(n*sxx - sx*sx, 0) AS dxx,
             |    nullif(n*syy - sy*sy, 0) AS dyy
             |  FROM m)
             |SELECT l_returnflag,
             |  round(dxy / dxx / 100, 4) AS slope,
             |  round((sy/100 - dxy/dxx/100*sx) / n, 2) AS intercept,
             |  round(dxy*dxy / (dxx*dyy), 6) AS r2,
             |  CAST(n AS BIGINT) AS n
             |FROM g ORDER BY l_returnflag""".stripMargin)),

    // ---------------------------------------------------------------------
    // EWMA over the trailing 10 events per user, folded ENTIRELY in scaled
    // integer arithmetic (cents; acc ← (3·x + 7·acc) div 10, i.e. α=0.3)
    // so the left-to-right fold is bit-exact on both engines — no float
    // summation-order hazard at all. The frame list is 10 elements by
    // construction, so the per-row fold is O(1) and the whole query is one
    // keyed window — no self-join formulation.
    "q58_ewma" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
          .rowsBetween(-9, 0)
        t(s, dir, "events")
          .withColumn("vc", floor($"value" * 100 + 0.5).cast("long"))
          .withColumn("lst", collect_list($"vc").over(w))
          .select($"event_id", $"user_id",
            expr("aggregate(slice(lst, 2, size(lst) - 1), lst[0]," +
              " (acc, x) -> (3*x + 7*acc) DIV 10)").as("ewma_c"))
          .orderBy($"event_id")
      },
      Some("""WITH l AS (
             |  SELECT event_id, user_id,
             |    list(CAST(floor(value * 100 + 0.5) AS BIGINT))
             |      OVER (PARTITION BY user_id ORDER BY ts, event_id
             |            ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS lst
             |  FROM events)
             |SELECT event_id, user_id,
             |  CAST(list_reduce(lst, (acc, x) -> (3*x + 7*acc) // 10) AS BIGINT) AS ewma_c
             |FROM l ORDER BY event_id""".stripMargin)),

    // ---------------------------------------------------------------------
    // Fixed-width histogram of extended price (20 × 5000-wide buckets,
    // last bucket open-ended): binning is a pure per-row expression, so
    // the whole profile is one map-side-combined aggregate over the scan —
    // the data-profiling primitive. Sums ride as integer cents.
    "q59_histogram" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .withColumn("bucket",
            least(floor($"l_extendedprice" / 5000).cast("long"), lit(19L)))
          .groupBy($"bucket")
          .agg(count(lit(1)).as("n"),
            sum(floor($"l_extendedprice" * 100 + 0.5).cast("long")).as("sum_cents"))
          .orderBy($"bucket")
      },
      Some("""SELECT least(CAST(floor(l_extendedprice / 5000) AS BIGINT), 19) AS bucket,
             |  count(*) AS n,
             |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             |    AS sum_cents
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---------------------------------------------------------------------
    // Z-score outlier detection per event type, in EXACT integer algebra:
    // |z| > 1.5  ⟺  4·(v·n − S)² > 9·(n·Q − S²)  with v in cents and
    // (n, S, Q) the per-type count / sum / sum-of-squares — no float mean
    // or stddev anywhere, so both engines agree bit-for-bit with no
    // rounding-boundary hazard. The stats table is group-count-sized and
    // BROADCASTS back onto the scan: the event log itself never shuffles.
    // BIGINT bounds hold through sf0.1 (dev²·4 ≤ 4e18 < 2⁶³); beyond that
    // the same algebra rides decimal(38,0) unchanged.
    "q60_zscore_outliers" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
          .select($"event_id", $"event_type",
            floor($"value" * 100 + 0.5).cast("long").as("vc"))
        val stats = ev.groupBy($"event_type")
          .agg(count(lit(1)).as("n"), sum($"vc").as("s"), sum($"vc" * $"vc").as("q"))
        val dev = $"vc" * $"n" - $"s"
        ev.join(broadcast(stats), "event_type")
          .filter(lit(4L) * dev * dev > lit(9L) * ($"n" * $"q" - $"s" * $"s"))
          .select($"event_id", $"event_type", dev.as("dev_n"))
          .orderBy($"event_id")
      },
      Some("""WITH ev AS (
             |  SELECT event_id, event_type,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc FROM events),
             |st AS (
             |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(vc) AS BIGINT) AS s, CAST(sum(vc * vc) AS BIGINT) AS q
             |  FROM ev GROUP BY 1)
             |SELECT e.event_id, e.event_type, e.vc * st.n - st.s AS dev_n
             |FROM ev e JOIN st ON e.event_type = st.event_type
             |WHERE 4 * (e.vc * st.n - st.s) * (e.vc * st.n - st.s)
             |      > 9 * (st.n * st.q - st.s * st.s)
             |ORDER BY e.event_id""".stripMargin)),

    // ---------------------------------------------------------------------
    // Column profiling (null count, exact distinct, min/max) over four
    // lineitem columns, unpivoted to one row per column via stack.
    // Doubles profile as integer cents and timestamps as integer micros,
    // so min/max stringify identically on both engines.
    //
    // Shape, MEASURED into place: multiple exact count(DISTINCT) in one
    // aggregate plan an Expand (input ×(k+1) row replication), and mixing
    // the 12 plain aggregates into that same aggregate makes every buffer
    // evaluate on every expanded row — 5.4s at sf0.1. Splitting the plain
    // aggregates (one unexpanded scan) from the distinct family (Expand
    // over just the 4 key columns) and cross-joining the two 1-row
    // results runs 1.5s — two columnar scans beat one 5×-expanded scan,
    // and the join of two single-row aggregates is free. At 100 TB the
    // same split holds, or swap approx_count_distinct to drop the Expand
    // entirely; exact distinct here is what the oracle can check.
    "q61_profile" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val cents = (c: Column) => floor(c * 100 + 0.5).cast("long")
        val li = t(s, dir, "lineitem")
        val plain = li.agg(
          sum($"l_quantity".isNull.cast("long")).as("nn_q"),
          min(cents($"l_quantity")).cast("string").as("mn_q"),
          max(cents($"l_quantity")).cast("string").as("mx_q"),
          sum($"l_extendedprice".isNull.cast("long")).as("nn_p"),
          min(cents($"l_extendedprice")).cast("string").as("mn_p"),
          max(cents($"l_extendedprice")).cast("string").as("mx_p"),
          sum($"l_returnflag".isNull.cast("long")).as("nn_r"),
          min($"l_returnflag").as("mn_r"), max($"l_returnflag").as("mx_r"),
          sum($"l_shipdate".isNull.cast("long")).as("nn_d"),
          min(unix_micros($"l_shipdate")).cast("string").as("mn_d"),
          max(unix_micros($"l_shipdate")).cast("string").as("mx_d"))
        val dist = li.agg(
          countDistinct($"l_quantity").as("nd_q"),
          countDistinct($"l_extendedprice").as("nd_p"),
          countDistinct($"l_returnflag").as("nd_r"),
          countDistinct($"l_shipdate").as("nd_d"))
        plain.crossJoin(dist)
          .selectExpr("""stack(4,
            'l_quantity',      nn_q, nd_q, mn_q, mx_q,
            'l_extendedprice', nn_p, nd_p, mn_p, mx_p,
            'l_returnflag',    nn_r, nd_r, mn_r, mx_r,
            'l_shipdate',      nn_d, nd_d, mn_d, mx_d)
            AS (col_name, n_nulls, n_distinct, min_s, max_s)""")
          .orderBy($"col_name")
      },
      Some("""SELECT 'l_quantity' AS col_name,
             |  CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
             |  CAST(count(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
             |  CAST(CAST(min(floor(l_quantity * 100 + 0.5)) AS BIGINT) AS VARCHAR) AS min_s,
             |  CAST(CAST(max(floor(l_quantity * 100 + 0.5)) AS BIGINT) AS VARCHAR) AS max_s
             |FROM lineitem
             |UNION ALL SELECT 'l_extendedprice',
             |  CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |  CAST(count(DISTINCT l_extendedprice) AS BIGINT),
             |  CAST(CAST(min(floor(l_extendedprice * 100 + 0.5)) AS BIGINT) AS VARCHAR),
             |  CAST(CAST(max(floor(l_extendedprice * 100 + 0.5)) AS BIGINT) AS VARCHAR)
             |FROM lineitem
             |UNION ALL SELECT 'l_returnflag',
             |  CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |  CAST(count(DISTINCT l_returnflag) AS BIGINT),
             |  min(l_returnflag), max(l_returnflag)
             |FROM lineitem
             |UNION ALL SELECT 'l_shipdate',
             |  CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |  CAST(count(DISTINCT l_shipdate) AS BIGINT),
             |  CAST(min(epoch_us(l_shipdate)) AS VARCHAR),
             |  CAST(max(epoch_us(l_shipdate)) AS VARCHAR)
             |FROM lineitem
             |ORDER BY col_name""".stripMargin)),

    // ---------------------------------------------------------------------
    // Event-type transition matrix (per-user bigrams): lag over the keyed
    // event order, count (from, to) pairs, and normalize per source type in
    // integer milli-probabilities (n·1000 div total — exact on both
    // engines). The normalizing window runs over the TYPE²-sized count
    // table, not the event log.
    "q62_transitions" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        t(s, dir, "events")
          .withColumn("prev", lag($"event_type", 1).over(w))
          .filter($"prev".isNotNull)
          .groupBy($"prev", $"event_type").agg(count(lit(1)).as("n"))
          .withColumn("tot", sum($"n").over(Window.partitionBy($"prev")))
          .select($"prev".as("from_type"), $"event_type".as("to_type"),
            $"n", expr("n * 1000 DIV tot").as("prob_milli"))
          .orderBy($"from_type", $"to_type")
      },
      Some("""WITH b AS (
             |  SELECT user_id, event_type,
             |    lag(event_type, 1) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS prev
             |  FROM events),
             |c AS (SELECT prev, event_type, count(*) AS n FROM b
             |      WHERE prev IS NOT NULL GROUP BY 1, 2)
             |SELECT prev AS from_type, event_type AS to_type, n,
             |  CAST((n * 1000) // (sum(n) OVER (PARTITION BY prev)) AS BIGINT)
             |    AS prob_milli
             |FROM c ORDER BY from_type, to_type""".stripMargin)),

    // ---------------------------------------------------------------------
    // Argmin/argmax + bitwise + boolean aggregates: min_by/max_by carry a
    // non-grouped column out by an ordering expression (the "which row won"
    // aggregate that otherwise costs a window + filter); the ordering key
    // is (cents, orderkey) packed into one BIGINT so ties are impossible
    // and both engines pick the identical row. bit_and/or/xor and
    // bool_and/or are single-pass commutative folds — all map-side
    // combinable, one shuffle for the whole row.
    "q63_arg_bit_bool" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        // packed (cents, orderkey) ordering key. Bounds: the multiplier
        // must EXCEED max(l_orderkey) or adjacent cent values collide
        // (c·M + M == (c+1)·M + 0) — 1e10 covers orderkeys through
        // sf~1500, and cents·1e10 ≤ ~1.1e17 stays far inside BIGINT.
        val ord = floor($"l_extendedprice" * 100 + 0.5).cast("long") * 10000000000L +
          $"l_orderkey"
        t(s, dir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(
            min_by($"l_orderkey", ord).as("cheapest_order"),
            max_by($"l_orderkey", ord).as("priciest_order"),
            bit_and($"l_linenumber").cast("long").as("ln_and"),
            bit_or($"l_linenumber").cast("long").as("ln_or"),
            bit_xor($"l_linenumber").cast("long").as("ln_xor"),
            bool_and($"l_discount" > 0.02).as("all_disc"),
            bool_or($"l_quantity" > 49).as("any_bulk"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |  arg_min(l_orderkey,
             |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * 10000000000
             |      + l_orderkey) AS cheapest_order,
             |  arg_max(l_orderkey,
             |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * 10000000000
             |      + l_orderkey) AS priciest_order,
             |  CAST(bit_and(l_linenumber) AS BIGINT) AS ln_and,
             |  CAST(bit_or(l_linenumber) AS BIGINT) AS ln_or,
             |  CAST(bit_xor(l_linenumber) AS BIGINT) AS ln_xor,
             |  bool_and(l_discount > 0.02) AS all_disc,
             |  bool_or(l_quantity > 49) AS any_bulk
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---------------------------------------------------------------------
    // Time-weighted average (TWAP / meter-reading semantics): each value
    // weighs by how long it was current, not how often it was sampled —
    // in exact integer arithmetic (epoch seconds × cents), see
    // [[graft.operators.Timeseries.timeWeightedAvg]]. Exposing the exact
    // num/den pair plus the milli quotient keeps the compare float-free.
    "q64_time_weighted_avg" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events").select($"user_id",
          expr("unix_micros(ts) DIV 1000000").as("ts_s"), $"event_id",
          floor($"value" * 100 + 0.5).cast("long").as("vc"))
        graft.operators.Timeseries.timeWeightedAvg(
            ev, $"user_id", $"ts_s", $"event_id", $"vc")
          .select($"key".as("user_id"), $"num", $"den", $"twa_milli")
          .orderBy("user_id")
      },
      Some("""WITH ev AS (
             |  SELECT user_id, epoch_us(ts) // 1000000 AS ts_s, event_id,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc FROM events),
             |l AS (
             |  SELECT user_id, vc, ts_s,
             |    lead(ts_s, 1) OVER (PARTITION BY user_id
             |      ORDER BY ts_s, event_id) AS nts
             |  FROM ev)
             |SELECT user_id,
             |  CAST(sum(vc * (nts - ts_s)) AS BIGINT) AS num,
             |  CAST(sum(nts - ts_s) AS BIGINT) AS den,
             |  CAST((sum(vc * (nts - ts_s)) * 1000) // sum(nts - ts_s) AS BIGINT)
             |    AS twa_milli
             |FROM l WHERE nts IS NOT NULL
             |GROUP BY 1 HAVING sum(nts - ts_s) > 0 ORDER BY user_id""".stripMargin)),

    // ---------------------------------------------------------------------
    // Interval-union coverage (uptime/SLA semantics): merge each user's
    // possibly-overlapping activity intervals (start = event second,
    // length = whole-dollar value as seconds, min 1) into disjoint islands
    // and total the covered seconds — the cumulative-max sweep in
    // [[graft.operators.Timeseries.intervalCoverage]], no self-join and no
    // per-second explode. All integers; the flag/cumsum window frames are
    // written identically on both engines (ROWS for the strict-previous
    // max, default RANGE for the island id, which keeps tied intervals in
    // one peer group on either engine).
    "q65_interval_coverage" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val iv = t(s, dir, "events").select($"user_id",
            expr("unix_micros(ts) DIV 1000000").as("s"),
            floor($"value" * 100 + 0.5).cast("long").as("vc"))
          .withColumn("e", $"s" + greatest(expr("vc DIV 100"), lit(1L)))
        graft.operators.Timeseries.intervalCoverage(iv, $"user_id", $"s", $"e")
          .select($"key".as("user_id"), $"n_islands", $"covered")
          .orderBy("user_id")
      },
      Some("""WITH ev AS (
             |  SELECT user_id, epoch_us(ts) // 1000000 AS s,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc FROM events),
             |iv AS (SELECT user_id, s, s + greatest(vc // 100, 1) AS e FROM ev),
             |fl AS (
             |  SELECT user_id, s, e,
             |    CASE WHEN max(e) OVER w2 IS NULL OR s > max(e) OVER w2
             |         THEN 1 ELSE 0 END AS open
             |  FROM iv WHERE e > s
             |  WINDOW w2 AS (PARTITION BY user_id ORDER BY s, e
             |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
             |isl AS (
             |  SELECT user_id, s, e,
             |    sum(open) OVER (PARTITION BY user_id ORDER BY s, e) AS island
             |  FROM fl),
             |ag AS (SELECT user_id, island, min(s) AS is_s, max(e) AS is_e
             |       FROM isl GROUP BY 1, 2)
             |SELECT user_id, count(*) AS n_islands,
             |  CAST(sum(is_e - is_s) AS BIGINT) AS covered
             |FROM ag GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---------------------------------------------------------------------
    // Array SET algebra (union/intersect/except over per-row token
    // windows): pure per-row expressions — no explode, no shuffle beyond
    // the final sort. Both engines dedup; sorting the results removes the
    // engine-defined appearance order from the compare.
    "q66_array_setops" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .withColumn("w", split($"text", " "))
          .withColumn("a", slice($"w", 1, 6))
          .withColumn("b", slice($"w", 4, 6))
          .select($"doc_id",
            array_join(sort_array(array_union($"a", $"b")), " ").as("u"),
            array_join(sort_array(array_intersect($"a", $"b")), " ").as("i"),
            array_join(sort_array(array_except($"a", $"b")), " ").as("d"),
            size(array_union($"a", $"b")).cast("long").as("n_u"))
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |ab AS (SELECT doc_id, w[1:6] AS a, w[4:9] AS b FROM t)
             |SELECT doc_id,
             |  coalesce(array_to_string(
             |    list_sort(list_distinct(list_cat(a, b))), ' '), '') AS u,
             |  coalesce(array_to_string(list_sort(list_distinct(
             |    list_filter(a, x -> list_contains(b, x)))), ' '), '') AS i,
             |  coalesce(array_to_string(list_sort(list_distinct(
             |    list_filter(a, x -> NOT list_contains(b, x)))), ' '), '') AS d,
             |  CAST(len(list_distinct(list_cat(a, b))) AS BIGINT) AS n_u
             |FROM ab ORDER BY doc_id""".stripMargin)),

    // ---------------------------------------------------------------------
    // Calendar-part + padding/translate scalar coverage: quarter / ISO
    // week / ISO day-of-week / day-of-year / month-end derivation, plus
    // lpad/rpad/translate — all per-row codegen'd projections over the
    // scan. Spark's dayofweek is 1=Sunday; the ISO pivot ((d+5) mod 7)+1
    // matches DuckDB's isodow exactly. last_day renders through an
    // explicit format so both engines compare as strings, not as each
    // engine's date repr.
    "q67_calendar_parts" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .select($"event_id",
            quarter($"ts").cast("long").as("q"),
            weekofyear($"ts").cast("long").as("iso_week"),
            (((dayofweek($"ts") + 5) % 7) + 1).cast("long").as("iso_dow"),
            dayofyear($"ts").cast("long").as("doy"),
            date_format(last_day($"ts"), "yyyy-MM-dd").as("month_end"),
            lpad($"user_id".cast("string"), 6, "0").as("uid_pad"),
            translate(rpad($"event_type", 10, "."), "ce", "CE").as("tp_mark"))
          .orderBy($"event_id")
      },
      Some("""SELECT event_id,
             |  CAST(quarter(ts) AS BIGINT) AS q,
             |  CAST(week(ts) AS BIGINT) AS iso_week,
             |  CAST(isodow(ts) AS BIGINT) AS iso_dow,
             |  CAST(dayofyear(ts) AS BIGINT) AS doy,
             |  strftime(last_day(ts), '%Y-%m-%d') AS month_end,
             |  lpad(CAST(user_id AS VARCHAR), 6, '0') AS uid_pad,
             |  translate(rpad(event_type, 10, '.'), 'ce', 'CE') AS tp_mark
             |FROM events ORDER BY event_id""".stripMargin)),

    // ---------------------------------------------------------------------
    // Window fill semantics: last_value IGNORE NULLS (forward fill over a
    // deterministically-nulled column), lag with an explicit default, and
    // first_value — the observation-carry-forward trio q49's gap-fill
    // composes, here exercised directly with explicit ROWS frames written
    // identically on both engines.
    "q68_window_fill" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        val run = w.rowsBetween(Window.unboundedPreceding, 0)
        t(s, dir, "events")
          .withColumn("vc", floor($"value" * 100 + 0.5).cast("long"))
          .withColumn("vn", when($"vc" % 7 === 0, lit(null)).otherwise($"vc"))
          .select($"event_id", $"user_id",
            last($"vn", ignoreNulls = true).over(run).as("filled"),
            lag($"vc", 1, -1L).over(w).as("prev_vc"),
            first($"vc").over(run).as("first_vc"))
          .orderBy($"event_id")
      },
      Some("""WITH e AS (
             |  SELECT event_id, user_id, ts,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
             |  FROM events),
             |n AS (SELECT *, CASE WHEN vc % 7 = 0 THEN NULL ELSE vc END AS vn FROM e)
             |SELECT event_id, user_id,
             |  last_value(vn IGNORE NULLS) OVER w2 AS filled,
             |  lag(vc, 1, -1) OVER w1 AS prev_vc,
             |  first_value(vc) OVER w2 AS first_vc
             |FROM n
             |WINDOW w1 AS (PARTITION BY user_id ORDER BY ts, event_id),
             |  w2 AS (PARTITION BY user_id ORDER BY ts, event_id
             |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |ORDER BY event_id""".stripMargin)),

    // ---------------------------------------------------------------------
    // Interval × interval OVERLAP join (q41/q52 are point-in-interval;
    // this is the two-interval-set variant — maintenance windows vs
    // incident windows, session spans vs campaign spans): signup 2h
    // windows paired with every overlapping error 30min window. Bucketed
    // on both sides with the first-common-bucket emission (each pair
    // once, no distinct over the fan-out — RangeJoin.intervalOverlap);
    // DuckDB evaluates the raw inequality join as the oracle.
    "q76_interval_overlap_join" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
        val su = ev.filter($"event_type" === "signup")
          .select($"event_id".as("su_id"), $"ts".as("su_s"),
            ($"ts" + expr("INTERVAL 2 HOURS")).as("su_e"))
        val er = ev.filter($"event_type" === "error")
          .select($"event_id".as("er_id"), $"ts".as("er_s"),
            ($"ts" + expr("INTERVAL 30 MINUTES")).as("er_e"))
        graft.operators.RangeJoin.intervalOverlap(su, "su_s", "su_e",
            er, "er_s", "er_e")
          .groupBy($"su_id")
          .agg(count(lit(1)).as("n_overlaps"), min($"er_id").as("first_err"))
          .orderBy($"su_id")
      },
      Some("""WITH s AS (
             |  SELECT event_id AS su_id, ts AS su_s,
             |    ts + INTERVAL 2 HOUR AS su_e
             |  FROM events WHERE event_type = 'signup'),
             |e AS (
             |  SELECT event_id AS er_id, ts AS er_s,
             |    ts + INTERVAL 30 MINUTE AS er_e
             |  FROM events WHERE event_type = 'error')
             |SELECT su_id, count(*) AS n_overlaps, min(er_id) AS first_err
             |FROM s JOIN e ON s.su_s < e.er_e AND e.er_s < s.su_e
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---------------------------------------------------------------------
    // BAG-semantics set ops (q14 covers the DISTINCT family): EXCEPT ALL
    // keeps max(0, countA − countB) copies per value and INTERSECT ALL
    // min(countA, countB) — the multiset algebra reconciliation jobs
    // need (ledger diffs, double-feed detection), where the distinct
    // forms silently collapse multiplicities. Per-key multiplicities of
    // both results compare exactly.
    "q77_bag_set_ops" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val a = t(s, dir, "lineitem").select($"l_suppkey".as("k"))
        val b = t(s, dir, "lineitem").filter($"l_quantity" > 25)
          .select($"l_suppkey".as("k"))
        val ex = a.exceptAll(b).groupBy($"k").agg(count(lit(1)).as("mult_except"))
        val in = a.intersectAll(b).groupBy($"k").agg(count(lit(1)).as("mult_intersect"))
        ex.join(in, Seq("k"), "full")
          .select($"k", coalesce($"mult_except", lit(0L)).as("mult_except"),
            coalesce($"mult_intersect", lit(0L)).as("mult_intersect"))
          .orderBy($"k")
      },
      Some("""WITH a AS (SELECT l_suppkey AS k FROM lineitem),
             |b AS (SELECT l_suppkey AS k FROM lineitem WHERE l_quantity > 25),
             |ex AS (SELECT k, count(*) AS m FROM
             |         (SELECT k FROM a EXCEPT ALL SELECT k FROM b) GROUP BY 1),
             |ins AS (SELECT k, count(*) AS m FROM
             |         (SELECT k FROM a INTERSECT ALL SELECT k FROM b) GROUP BY 1)
             |SELECT coalesce(ex.k, ins.k) AS k,
             |  coalesce(ex.m, 0) AS mult_except,
             |  coalesce(ins.m, 0) AS mult_intersect
             |FROM ex FULL JOIN ins ON ex.k = ins.k
             |ORDER BY k""".stripMargin)),

    // ---------------------------------------------------------------------
    // Ratio-to-report: each nation's share of total revenue via an
    // unpartitioned full-frame window sum over the AGGREGATED table
    // (nation-count rows — the window never sees the fact table; the
    // single-partition frame is model-sized by construction). Shares ride
    // as exact integer basis points of exact cent sums. Nation (25 rows)
    // keeps its broadcast hint; customer grows linearly with sf and is
    // left to AQE — a forced broadcast would OOM at sf100.
    "q78_ratio_to_report" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val rev = t(s, dir, "orders")
          .join(t(s, dir, "customer"), $"o_custkey" === $"c_custkey")
          .join(broadcast(t(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
          .groupBy($"n_name")
          .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long")).as("rev_cents"))
        rev.withColumn("share_bp",
            expr("rev_cents * 10000 DIV sum(rev_cents) OVER ()"))
          .orderBy($"n_name")
      },
      Some("""WITH r AS (
             |  SELECT n_name,
             |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
             |         AS BIGINT) AS rev_cents
             |  FROM orders
             |  JOIN customer ON o_custkey = c_custkey
             |  JOIN nation ON c_nationkey = n_nationkey
             |  GROUP BY 1)
             |SELECT n_name, rev_cents,
             |  CAST((rev_cents * 10000) // (sum(rev_cents) OVER ()) AS BIGINT)
             |    AS share_bp
             |FROM r ORDER BY n_name""".stripMargin)),

    // ---------------------------------------------------------------------
    // Snapshot diff (CDC between two points in time): each user's
    // latest-value state at T1 vs at T2, classified added / changed /
    // unchanged — the reconciliation view a CDC consumer builds from an
    // append-only log. Two upsert views (one shuffle each, shared key)
    // full-joined; values in exact cents. "removed" cannot occur on an
    // append-only log and its absence is part of the pinned semantics.
    "q79_snapshot_diff" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        def stateAt(cut: String) = graft.operators.Upsert.latest(
            t(s, dir, "events").filter($"ts" < lit(cut).cast("timestamp")),
            Seq("user_id"), $"ts", $"event_id")
          .select($"user_id", floor($"value" * 100 + 0.5).cast("long").as("vc"))
        val t1 = stateAt("2024-01-10 00:00:00").withColumnRenamed("vc", "v1")
        val t2 = stateAt("2024-01-20 00:00:00").withColumnRenamed("vc", "v2")
        t1.join(t2, Seq("user_id"), "full")
          .select($"user_id", $"v1", $"v2",
            when($"v1".isNull, "added")
              .when($"v1" === $"v2", "unchanged")
              .otherwise("changed").as("status"))
          .orderBy($"user_id")
      },
      Some("""WITH s1 AS (
             |  SELECT user_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v1
             |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
             |          ORDER BY ts DESC, event_id DESC) AS rn
             |        FROM events WHERE ts < TIMESTAMP '2024-01-10 00:00:00') t
             |  WHERE rn = 1),
             |s2 AS (
             |  SELECT user_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v2
             |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
             |          ORDER BY ts DESC, event_id DESC) AS rn
             |        FROM events WHERE ts < TIMESTAMP '2024-01-20 00:00:00') t
             |  WHERE rn = 1)
             |SELECT coalesce(s1.user_id, s2.user_id) AS user_id, v1, v2,
             |  CASE WHEN v1 IS NULL THEN 'added'
             |       WHEN v1 = v2 THEN 'unchanged'
             |       ELSE 'changed' END AS status
             |FROM s1 FULL JOIN s2 ON s1.user_id = s2.user_id
             |ORDER BY user_id""".stripMargin)),

    // ---------------------------------------------------------------------
    // TPC-H Q5 shape (local supplier volume): the canonical 6-table
    // snowflake join — lineitem⋈orders⋈customer⋈supplier⋈nation⋈region
    // with the co-nationality predicate (c_nationkey = s_nationkey)
    // joining the two dimension arms. Only the BOUNDED dims carry a
    // broadcast hint (region→nation prunes to one region's ~5 nations
    // BEFORE touching the fact side — 25/5 rows at every scale factor);
    // customer and supplier grow linearly with sf (15M/1M rows at sf100),
    // so their join strategy is left to AQE's size-based choice — at small
    // sf they broadcast, at 100 TB they sort-merge, and a forced hint
    // would have pinned the OOM. Revenue rides per-row integer cents.
    "q69_tpch_q5" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val cents = floor($"l_extendedprice" * (lit(1) - $"l_discount") * 100 + 0.5)
          .cast("long")
        val nr = t(s, dir, "nation").join(
          broadcast(t(s, dir, "region").filter($"r_name" === "ASIA")),
          $"n_regionkey" === $"r_regionkey")
        t(s, dir, "lineitem")
          .join(t(s, dir, "orders").filter(
            $"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
            $"o_orderdate" < lit("1997-01-01").cast("timestamp")),
            $"l_orderkey" === $"o_orderkey")
          .join(t(s, dir, "customer"), $"o_custkey" === $"c_custkey")
          .join(t(s, dir, "supplier"),
            $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
          .join(broadcast(nr), $"s_nationkey" === $"n_nationkey")
          .groupBy($"n_name")
          .agg(sum(cents).as("revenue_cents"), count(lit(1)).as("n_items"))
          .orderBy($"revenue_cents".desc, $"n_name")
      },
      Some("""SELECT n_name,
             |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
             |      AS BIGINT)) AS BIGINT) AS revenue_cents,
             |  count(*) AS n_items
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA'
             |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
             |  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
             |GROUP BY n_name ORDER BY revenue_cents DESC, n_name""".stripMargin)),

    // ---------------------------------------------------------------------
    // TPC-H Q10 shape (returned-item reporting): fact⋈fact join + dims,
    // top-20 customers by lost revenue — the ranked-report query whose
    // LIMIT must fold into TakeOrderedAndProject (per-partition heaps +
    // driver merge), never a global sort. Only nation (25 rows at every
    // sf) carries a broadcast hint; customer grows linearly with sf, so
    // its strategy is AQE's size-based call — broadcast at small sf,
    // sort-merge at 100 TB. Ties broken by custkey so the cut is
    // deterministic on both engines.
    "q70_tpch_q10" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val cents = floor($"l_extendedprice" * (lit(1) - $"l_discount") * 100 + 0.5)
          .cast("long")
        t(s, dir, "lineitem").filter($"l_returnflag" === "R")
          .join(t(s, dir, "orders").filter(
            $"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
            $"o_orderdate" < lit("1996-07-01").cast("timestamp")),
            $"l_orderkey" === $"o_orderkey")
          .join(t(s, dir, "customer"), $"o_custkey" === $"c_custkey")
          .join(broadcast(t(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
          .groupBy($"c_custkey", $"c_name", $"n_name")
          .agg(sum(cents).as("lost_cents"))
          .orderBy($"lost_cents".desc, $"c_custkey")
          .limit(20)
      },
      Some("""SELECT c_custkey, c_name, n_name,
             |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
             |      AS BIGINT)) AS BIGINT) AS lost_cents
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |WHERE l_returnflag = 'R'
             |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
             |  AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
             |GROUP BY c_custkey, c_name, n_name
             |ORDER BY lost_cents DESC, c_custkey LIMIT 20""".stripMargin)),

    // ---------------------------------------------------------------------
    // grouping() disambiguation over a cube: the flag that tells a NULL
    // produced by the rollup apart from a NULL in the data — without it a
    // cube over nullable dimensions is unreadable. Both engines emit
    // 0 = grouped-by, 1 = aggregated-away.
    "q71_grouping_flags" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .cube($"l_returnflag", $"l_linestatus")
          .agg(grouping($"l_returnflag").cast("long").as("g_rf"),
            grouping($"l_linestatus").cast("long").as("g_ls"),
            count(lit(1)).as("n"))
          .orderBy($"g_rf", $"g_ls", $"l_returnflag", $"l_linestatus")
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
             |  CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
             |  count(*) AS n
             |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
             |ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""".stripMargin)),

    // ---------------------------------------------------------------------
    // NULL-semantics pack: null-safe equality (<=> / IS NOT DISTINCT
    // FROM), NULL grouping (one group, not dropped), explicit NULLS
    // FIRST/LAST ordering, and the nullif/coalesce round-trip — the
    // cross-engine traps every migration hits. Nulls are synthesized
    // deterministically (every 5th cent value) so both engines see the
    // identical null mask.
    "q72_null_semantics" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .withColumn("vc", floor($"value" * 100 + 0.5).cast("long"))
          .withColumn("vn", when($"vc" % 5 === 0, lit(null)).otherwise($"vc" % 5))
          .groupBy($"vn")
          .agg(count(lit(1)).as("n"),
            sum(($"vn" <=> lit(2L)).cast("long")).as("n_eq2_nullsafe"),
            sum(coalesce($"vn", lit(-1L)).cast("long")).as("sum_filled"))
          .orderBy($"vn".asc_nulls_first)
      },
      Some("""WITH e AS (
             |  SELECT CASE WHEN CAST(floor(value * 100 + 0.5) AS BIGINT) % 5 = 0
             |              THEN NULL
             |              ELSE CAST(floor(value * 100 + 0.5) AS BIGINT) % 5 END AS vn
             |  FROM events)
             |SELECT vn, count(*) AS n,
             |  CAST(sum(CASE WHEN vn IS NOT DISTINCT FROM 2 THEN 1 ELSE 0 END)
             |       AS BIGINT) AS n_eq2_nullsafe,
             |  CAST(sum(coalesce(vn, -1)) AS BIGINT) AS sum_filled
             |FROM e GROUP BY vn ORDER BY vn NULLS FIRST""".stripMargin)),

    // ---------------------------------------------------------------------
    // Subquery semantics pack, through the SQL surface: NOT IN against a
    // clean subquery, NOT IN against a subquery CONTAINING A NULL (the
    // classic trap — one NULL makes the predicate UNKNOWN for every
    // non-member row, so the count collapses to 0), and the NOT EXISTS
    // form that says what the user almost always meant. Identical SQL
    // runs on both engines; the three counts pin the standard semantics.
    "q73_subquery_semantics" -> QueryDef(
      (s, dir) => {
        Tables.views(s, dir, "orders", "customer")
        s.sql("""SELECT
                |  (SELECT count(*) FROM orders
                |   WHERE o_custkey NOT IN
                |     (SELECT c_custkey FROM customer WHERE c_acctbal > 9000))
                |    AS not_in_clean,
                |  (SELECT count(*) FROM orders
                |   WHERE o_custkey NOT IN
                |     (SELECT CASE WHEN c_acctbal > 9000 THEN c_custkey END
                |      FROM customer))
                |    AS not_in_nulled,
                |  (SELECT count(*) FROM orders o
                |   WHERE NOT EXISTS (SELECT 1 FROM customer c
                |     WHERE c.c_acctbal > 9000 AND c.c_custkey = o.o_custkey))
                |    AS not_exists_cnt""".stripMargin)
      },
      Some("""SELECT
             |  (SELECT count(*) FROM orders
             |   WHERE o_custkey NOT IN
             |     (SELECT c_custkey FROM customer WHERE c_acctbal > 9000))
             |    AS not_in_clean,
             |  (SELECT count(*) FROM orders
             |   WHERE o_custkey NOT IN
             |     (SELECT CASE WHEN c_acctbal > 9000 THEN c_custkey END
             |      FROM customer))
             |    AS not_in_nulled,
             |  (SELECT count(*) FROM orders o
             |   WHERE NOT EXISTS (SELECT 1 FROM customer c
             |     WHERE c.c_acctbal > 9000 AND c.c_custkey = o.o_custkey))
             |    AS not_exists_cnt""".stripMargin)),

    // ---------------------------------------------------------------------
    // Last-touch attribution: each purchase credited to the user's most
    // recent click at-or-before it, but only within a 30-minute window —
    // the bounded-staleness as-of join (AsOf.join's `tolerance`, pandas
    // merge_asof semantics). The oracle runs DuckDB's native ASOF LEFT
    // JOIN and nulls matches past the bound; a click older than 30min
    // must attribute to NOTHING, not to the stale click.
    "q74_attribution" -> QueryDef(
      (s, dir) => {
        val ev = t(s, dir, "events")
        val purch = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        // unique build rows per (user, ts): ties pick the max click id
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("event_id")).as("click_id"))
        graft.operators.AsOf.join(purch, clicks, Seq("user_id"), "ts", "ts",
            tolerance = Some(1800L * 1000000L))
          .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
            unix_micros(col("asof_ts")).as("click_ts_us"), col("asof_click_id"))
          .orderBy("event_id")
      },
      Some("""WITH p AS (
             |  SELECT event_id, user_id, ts FROM events
             |  WHERE event_type = 'purchase'),
             |c AS (
             |  SELECT user_id, ts AS cts, max(event_id) AS click_id
             |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
             |j AS (
             |  SELECT p.event_id, p.user_id, p.ts, c.cts, c.click_id
             |  FROM p ASOF LEFT JOIN c
             |    ON p.user_id = c.user_id AND p.ts >= c.cts)
             |SELECT event_id, user_id, epoch_us(ts) AS ts_us,
             |  CASE WHEN cts IS NOT NULL
             |        AND epoch_us(ts) - epoch_us(cts) <= 1800000000
             |       THEN epoch_us(cts) END AS click_ts_us,
             |  CASE WHEN cts IS NOT NULL
             |        AND epoch_us(ts) - epoch_us(cts) <= 1800000000
             |       THEN click_id END AS asof_click_id
             |FROM j ORDER BY event_id""".stripMargin)),

    // ---------------------------------------------------------------------
    // NATIVE session_window in BATCH mode (q29 is the manual lag+cumsum
    // formulation; this is Spark's built-in operator on the same data):
    // session end = last event + gap, a new session starts when the gap
    // is REACHED (>=) — the oracle replays exactly those semantics with
    // gap-and-islands SQL, so a drift in either formulation's boundary
    // rule would hash-mismatch.
    "q75_session_window_native" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .groupBy($"user_id", session_window($"ts", "30 minutes"))
          .agg(count(lit(1)).as("n"))
          .select($"user_id",
            unix_micros($"session_window.start").as("start_us"),
            unix_micros($"session_window.end").as("end_us"), $"n")
          .orderBy($"user_id", $"start_us")
      },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events),
             |l AS (SELECT user_id, t,
             |        lag(t) OVER (PARTITION BY user_id ORDER BY t) AS pt FROM e),
             |f AS (SELECT user_id, t,
             |        CASE WHEN pt IS NULL OR t - pt >= 1800000000
             |             THEN 1 ELSE 0 END AS op FROM l),
             |i AS (SELECT user_id, t,
             |        sum(op) OVER (PARTITION BY user_id ORDER BY t) AS sid FROM f)
             |SELECT user_id, min(t) AS start_us, max(t) + 1800000000 AS end_us,
             |  count(*) AS n
             |FROM i GROUP BY user_id, sid ORDER BY user_id, start_us""".stripMargin))
  )
}
