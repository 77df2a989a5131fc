package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Sources.table

/** The declared relational-query corpus (SURVEY §2.C): one entry per
  * operator category the reference exercises
  * (`tests/notebooks/integration_test_notebook.py:190-1150`), each with a
  * DuckDB-equivalent oracle in [[Queries.oracles]]. Column names are
  * aligned between the Spark result and the oracle SQL because the
  * driver's compare sorts columns by name before hashing.
  *
  * Scale notes (100 TB design):
  *  - all plans are fully declarative DataFrame ops — predicate pushdown,
  *    column pruning and join strategy are Catalyst's;
  *  - sums of non-integral doubles are rounded in BOTH engines (summation
  *    order is nondeterministic across engines/partitions, identity isn't);
  *  - window/sort queries carry explicit tie-breaks so results are
  *    deterministic sets regardless of partitioning.
  */
object Queries {

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- scans ---
    "q_scan" -> ((s, d) => table(s, d, "region").select("r_regionkey", "r_name")),
    "q_sql_scan" -> { (s, d) =>
      table(s, d, "nation").createOrReplaceTempView("nation")
      s.sql("SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_regionkey IN (0, 1)")
    },
    // --- projection (select / withColumn / computed expr) ---
    "q_projection" -> ((s, d) =>
      table(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          col("l_returnflag"))),
    // --- filter ---
    "q_filter" -> ((s, d) =>
      table(s, d, "lineitem")
        .filter(col("l_quantity") >= 45 && col("l_returnflag") === "R")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")),
    // --- equi-join (dim side broadcast-able; Catalyst/AQE picks strategy) ---
    "q_join" -> ((s, d) =>
      table(s, d, "orders")
        .join(table(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "c_name", "o_totalprice")),
    // --- semi / anti joins (EXISTS / NOT EXISTS) ---
    "q_semi_join" -> ((s, d) =>
      table(s, d, "customer")
        .join(table(s, d, "orders").filter(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")),
    "q_anti_join" -> ((s, d) =>
      table(s, d, "customer")
        .join(table(s, d, "orders").filter(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")),
    // --- 3-way join + grouped agg (the shuffle-heavy headline query) ---
    "q_join_multi" -> ((s, d) =>
      table(s, d, "lineitem")
        .join(table(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(table(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"),
          count(lit(1)).as("n"))),
    // --- grouped aggregation ---
    "q_agg_grouped" -> ((s, d) =>
      table(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"), // integral doubles: exact
          round(sum("l_extendedprice"), 2).as("sum_price"),
          count(lit(1)).as("n"))),
    // --- simple (ungrouped) aggregation ---
    "q_agg_simple" -> ((s, d) =>
      table(s, d, "lineitem").agg(
        count(lit(1)).as("cnt"),
        sum("l_quantity").as("total_qty"))),
    // --- distinct / count distinct ---
    "q_distinct" -> ((s, d) =>
      table(s, d, "orders").select("o_orderstatus", "o_orderpriority").distinct()),
    "q_count_distinct" -> ((s, d) =>
      table(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(
          countDistinct(col("o_orderpriority")).as("n_prio"),
          countDistinct(col("o_custkey")).as("n_cust"))),
    // --- window (row_number with tie-break for determinism) ---
    "q_window" -> { (s, d) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      table(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_orderkey", "o_custkey", "rn")
    },
    // --- sort + limit (deterministic via tie-break) ---
    "q_sort" -> ((s, d) =>
      table(s, d, "customer")
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
        .limit(100)
        .select("c_custkey", "c_name", "c_acctbal")),
    "q_limit" -> ((s, d) =>
      table(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select("o_orderkey", "o_totalprice")),
    // --- set op ---
    "q_union" -> { (s, d) =>
      val c = table(s, d, "customer").select("c_custkey", "c_mktsegment")
      c.filter(col("c_mktsegment") === "BUILDING")
        .unionByName(c.filter(col("c_mktsegment") === "MACHINERY"))
    },
    // --- scalar functions (string/date/math) ---
    "q_scalar_fn" -> ((s, d) =>
      table(s, d, "lineitem")
        .select(
          col("l_orderkey"), col("l_linenumber"),
          year(col("l_shipdate")).as("ship_year"),
          month(col("l_shipdate")).as("ship_month"),
          concat(col("l_returnflag"), lit("-"), col("l_linestatus")).as("tag"),
          // raw IEEE product, NOT rounded: round() is HALF_UP on the
          // shortest decimal repr in Spark vs true-double rounding in
          // DuckDB, which diverges exactly at .xx5 boundaries
          (col("l_extendedprice") * 0.9).as("discounted"))),
    // --- events: grouped agg + time bucketing (ns→µs handled by
    //     sources.Sources.events) ---
    "q_events_agg" -> ((s, d) =>
      sources.Sources.events(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))),
    "q_events_hourly" -> ((s, d) =>
      sources.Sources.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"))),
    // --- sliding windows (each event lands in width/slide windows,
    //     epoch-aligned — the DuckDB oracle replicates the alignment
    //     arithmetic in µs) ---
    "q_events_sliding" -> ((s, d) =>
      sources.Sources.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("win"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("win.start").as("w_start"), col("event_type"), col("n"))),
    // --- approximate distinct (HLL sketch; rows-only — approximate
    //     values differ across engines by design) ---
    "q_approx_distinct" -> ((s, d) =>
      table(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(approx_count_distinct(col("o_custkey")).as("approx_cust"))),
    // --- UDF (plan carries the UDF marker the cost model scores and the
    //     cache warns about; body is exact integer arithmetic so the
    //     oracle can replicate it) ---
    "q_udf" -> { (s, d) =>
      val priceBand = udf((p: Double) => (p / 1000.0).toLong)
      table(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          priceBand(col("l_extendedprice")).as("price_band"))
    },
    // --- rollup / cube (hierarchical aggregates incl. null super-rows) ---
    "q_rollup" -> ((s, d) =>
      table(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))),
    "q_cube" -> ((s, d) =>
      table(s, d, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"))),
    // --- set op: intersect ---
    "q_intersect" -> { (s, d) =>
      val active = table(s, d, "orders").filter(col("o_orderstatus") === "O")
        .select(col("o_custkey").as("c_custkey"))
      table(s, d, "customer").select(col("c_custkey")).intersect(active)
    },
    // --- set op: except (all customers minus the positive-balance set;
    //     non-empty on this corpus, unlike no-order customers) ---
    "q_except" -> { (s, d) =>
      val c = table(s, d, "customer")
      c.select(col("c_custkey"))
        .except(c.filter(col("c_acctbal") > 0).select(col("c_custkey")))
    },
    // --- seeded sample: declared without oracle (row-count check only;
    //     RNG streams differ across engines by design, README.md:199) ---
    "q_sample" -> ((s, d) =>
      table(s, d, "lineitem").sample(withReplacement = false, 0.1, 42)
        .select("l_orderkey", "l_linenumber")),
    // --- q_sample's quality companion (the RNG stream itself stays
    //     engine-specific): the sampled row count sits inside 4-sigma
    //     binomial bounds around p·n, and re-sampling with the same seed
    //     over the same partitioning returns the IDENTICAL multiset
    //     (equal counts + empty exceptAll). Both booleans are
    //     deterministic for the fixed seed, so the oracle gates them. ---
    "q_sample_bounds" -> { (s, d) =>
      val li = table(s, d, "lineitem").select("l_orderkey", "l_linenumber")
      val p = 0.1
      val s1 = li.sample(withReplacement = false, p, 42)
      val s2 = li.sample(withReplacement = false, p, 42)
      li.agg(count(lit(1)).as("n_total"))
        .crossJoin(s1.agg(count(lit(1)).as("__n1")))
        .crossJoin(s2.agg(count(lit(1)).as("__n2")))
        .crossJoin(s1.exceptAll(s2).agg(count(lit(1)).as("__ndiff")))
        .select(col("n_total"),
          (abs(col("__n1") - col("n_total") * p) <=
            sqrt(col("n_total") * p * (1 - p)) * 4 + 1).as("bounds_ok"),
          (col("__n1") === col("__n2") && col("__ndiff") === 0)
            .as("deterministic"))
    }
  )

  /** DuckDB equivalents. Aggregate result types are cast to match Spark
    * (`count` → BIGINT on both; DuckDB `sum(BIGINT)` is HUGEINT and
    * `row_number()`/`year()` are BIGINT, so those are cast down). */
  val oracles: Map[String, String] = Map(
    "q_sample_bounds" ->
      """SELECT count(*) AS n_total, TRUE AS bounds_ok,
        |  TRUE AS deterministic FROM lineitem""".stripMargin,
    "q_scan" -> "SELECT r_regionkey, r_name FROM region",
    "q_sql_scan" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_regionkey IN (0, 1)",
    "q_projection" ->
      "SELECT l_orderkey, l_linenumber, l_extendedprice * (1 - l_discount) AS revenue, l_returnflag FROM lineitem",
    "q_filter" ->
      "SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate FROM lineitem WHERE l_quantity >= 45 AND l_returnflag = 'R'",
    "q_join" ->
      "SELECT o_orderkey, c_name, o_totalprice FROM orders JOIN customer ON o_custkey = c_custkey",
    "q_semi_join" ->
      "SELECT c_custkey, c_name FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')",
    "q_anti_join" ->
      "SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')",
    "q_join_multi" ->
      "SELECT c_mktsegment, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, count(*) AS n FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment",
    "q_agg_grouped" ->
      "SELECT l_returnflag, l_linestatus, CAST(sum(l_quantity) AS DOUBLE) AS sum_qty, round(sum(l_extendedprice), 2) AS sum_price, count(*) AS n FROM lineitem GROUP BY l_returnflag, l_linestatus",
    "q_agg_simple" ->
      "SELECT count(*) AS cnt, CAST(sum(l_quantity) AS DOUBLE) AS total_qty FROM lineitem",
    "q_distinct" ->
      "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
    "q_count_distinct" ->
      "SELECT o_orderstatus, count(DISTINCT o_orderpriority) AS n_prio, count(DISTINCT o_custkey) AS n_cust FROM orders GROUP BY o_orderstatus",
    "q_window" ->
      "SELECT o_orderkey, o_custkey, rn FROM (SELECT o_orderkey, o_custkey, CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INTEGER) AS rn FROM orders) WHERE rn <= 3",
    "q_sort" ->
      "SELECT c_custkey, c_name, c_acctbal FROM (SELECT * FROM customer ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 100)",
    "q_limit" ->
      "SELECT o_orderkey, o_totalprice FROM (SELECT * FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10)",
    "q_union" ->
      "SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING' UNION ALL SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'MACHINERY'",
    "q_scalar_fn" ->
      "SELECT l_orderkey, l_linenumber, CAST(year(l_shipdate) AS INTEGER) AS ship_year, CAST(month(l_shipdate) AS INTEGER) AS ship_month, l_returnflag || '-' || l_linestatus AS tag, l_extendedprice * 0.9 AS discounted FROM lineitem",
    "q_udf" ->
      "SELECT l_orderkey, l_linenumber, CAST(trunc(l_extendedprice / 1000.0) AS BIGINT) AS price_band FROM lineitem",
    "q_rollup" ->
      "SELECT l_returnflag, l_linestatus, count(*) AS n, CAST(sum(l_quantity) AS DOUBLE) AS sum_qty FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)",
    "q_except" ->
      "SELECT c_custkey FROM customer EXCEPT SELECT c_custkey FROM customer WHERE c_acctbal > 0",
    "q_cube" ->
      "SELECT o_orderstatus, o_orderpriority, count(*) AS n FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)",
    "q_intersect" ->
      "SELECT c_custkey FROM customer INTERSECT SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'",
    "q_events_agg" ->
      "SELECT event_type, count(*) AS n, round(sum(value), 2) AS total FROM events GROUP BY event_type",
    "q_events_hourly" ->
      "SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n FROM events GROUP BY 1, 2",
    "q_events_sliding" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) us FROM events),
        |w AS (SELECT event_type,
        |        unnest(generate_series(us - (us % 900000000) - 2700000000,
        |                               us - (us % 900000000), 900000000)) ws
        |      FROM e)
        |SELECT make_timestamp(ws) AS w_start, event_type, count(*) AS n
        |FROM w GROUP BY 1, 2""".stripMargin
  )
}
