package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{AsOfJoin, RangeJoin}
import graft.sources.Sources.table

/** Relational queries (SURVEY §2.C): one entry per operator category the
  * reference exercises (`tests/notebooks/integration_test_notebook.py:190-1150`)
  * — scans, joins (semi/anti/outer/as-of/range/bloom), grouped, window,
  * rollup/cube and set operations, reshaping, scalar string/date/JSON
  * functions, the parquet/JSON/CSV/ORC sources, and the distinct and
  * heavy-hitter sketches with their oracle-gated tolerance companions.
  *
  *  - every plan is declarative DataFrame API: predicate pushdown, column
  *    pruning and join strategy are Catalyst's;
  *  - sums of non-integral doubles are rounded in BOTH engines (summation
  *    order is nondeterministic across engines/partitions, identity isn't);
  *  - window/sort queries carry explicit tie-breaks so results are
  *    deterministic sets regardless of partitioning.
  */
object RelationalQueries {

  val specs: Seq[QuerySpec] = Seq(
    // --- scans ---
    QuerySpec("q_scan", ((s, d) => table(s, d, "region").select("r_regionkey", "r_name")),
      Sql("SELECT r_regionkey, r_name FROM region")),
    QuerySpec("q_sql_scan", { (s, d) =>
      table(s, d, "nation").createOrReplaceTempView("nation")
      s.sql("SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_regionkey IN (0, 1)")
    },
      Sql("SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_regionkey IN (0, 1)")),
    // --- projection (select / withColumn / computed expr) ---
    QuerySpec("q_projection", ((s, d) =>
      table(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          col("l_returnflag"))),
      Sql("SELECT l_orderkey, l_linenumber, l_extendedprice * (1 - l_discount) AS revenue, l_returnflag FROM lineitem")),
    // --- filter ---
    QuerySpec("q_filter", ((s, d) =>
      table(s, d, "lineitem")
        .filter(col("l_quantity") >= 45 && col("l_returnflag") === "R")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")),
      Sql("SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate FROM lineitem WHERE l_quantity >= 45 AND l_returnflag = 'R'")),
    // --- equi-join (dim side broadcast-able; Catalyst/AQE picks strategy) ---
    QuerySpec("q_join", ((s, d) =>
      table(s, d, "orders")
        .join(table(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "c_name", "o_totalprice")),
      Sql("SELECT o_orderkey, c_name, o_totalprice FROM orders JOIN customer ON o_custkey = c_custkey")),
    // --- semi / anti joins (EXISTS / NOT EXISTS) ---
    QuerySpec("q_semi_join", ((s, d) =>
      table(s, d, "customer")
        .join(table(s, d, "orders").filter(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")),
      Sql("SELECT c_custkey, c_name FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')")),
    QuerySpec("q_anti_join", ((s, d) =>
      table(s, d, "customer")
        .join(table(s, d, "orders").filter(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")),
      Sql("SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')")),
    // --- 3-way join + grouped agg (the shuffle-heavy headline query) ---
    QuerySpec("q_join_multi", ((s, d) =>
      table(s, d, "lineitem")
        .join(table(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(table(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"),
          count(lit(1)).as("n"))),
      Sql("SELECT c_mktsegment, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, count(*) AS n FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment")),
    // --- grouped aggregation ---
    QuerySpec("q_agg_grouped", ((s, d) =>
      table(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"), // integral doubles: exact
          round(sum("l_extendedprice"), 2).as("sum_price"),
          count(lit(1)).as("n"))),
      Sql("SELECT l_returnflag, l_linestatus, CAST(sum(l_quantity) AS DOUBLE) AS sum_qty, round(sum(l_extendedprice), 2) AS sum_price, count(*) AS n FROM lineitem GROUP BY l_returnflag, l_linestatus")),
    // --- simple (ungrouped) aggregation ---
    QuerySpec("q_agg_simple", ((s, d) =>
      table(s, d, "lineitem").agg(
        count(lit(1)).as("cnt"),
        sum("l_quantity").as("total_qty"))),
      Sql("SELECT count(*) AS cnt, CAST(sum(l_quantity) AS DOUBLE) AS total_qty FROM lineitem")),
    // --- distinct / count distinct ---
    QuerySpec("q_distinct", ((s, d) =>
      table(s, d, "orders").select("o_orderstatus", "o_orderpriority").distinct()),
      Sql("SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders")),
    QuerySpec("q_count_distinct", ((s, d) =>
      table(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(
          countDistinct(col("o_orderpriority")).as("n_prio"),
          countDistinct(col("o_custkey")).as("n_cust"))),
      Sql("SELECT o_orderstatus, count(DISTINCT o_orderpriority) AS n_prio, count(DISTINCT o_custkey) AS n_cust FROM orders GROUP BY o_orderstatus")),
    // --- window (row_number with tie-break for determinism) ---
    QuerySpec("q_window", { (s, d) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      table(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_orderkey", "o_custkey", "rn")
    },
      Sql("SELECT o_orderkey, o_custkey, rn FROM (SELECT o_orderkey, o_custkey, CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INTEGER) AS rn FROM orders) WHERE rn <= 3")),
    // --- sort + limit (deterministic via tie-break) ---
    QuerySpec("q_sort", ((s, d) =>
      table(s, d, "customer")
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
        .limit(100)
        .select("c_custkey", "c_name", "c_acctbal")),
      Sql("SELECT c_custkey, c_name, c_acctbal FROM (SELECT * FROM customer ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 100)")),
    QuerySpec("q_limit", ((s, d) =>
      table(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select("o_orderkey", "o_totalprice")),
      Sql("SELECT o_orderkey, o_totalprice FROM (SELECT * FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10)")),
    // --- set op ---
    QuerySpec("q_union", { (s, d) =>
      val c = table(s, d, "customer").select("c_custkey", "c_mktsegment")
      c.filter(col("c_mktsegment") === "BUILDING")
        .unionByName(c.filter(col("c_mktsegment") === "MACHINERY"))
    },
      Sql("SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING' UNION ALL SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'MACHINERY'")),
    // --- scalar functions (string/date/math) ---
    QuerySpec("q_scalar_fn", ((s, d) =>
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
      Sql("SELECT l_orderkey, l_linenumber, CAST(year(l_shipdate) AS INTEGER) AS ship_year, CAST(month(l_shipdate) AS INTEGER) AS ship_month, l_returnflag || '-' || l_linestatus AS tag, l_extendedprice * 0.9 AS discounted FROM lineitem")),
    // --- events: grouped agg + time bucketing (ns→µs handled by
    //     sources.Sources.events) ---
    QuerySpec("q_events_agg", ((s, d) =>
      sources.Sources.events(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))),
      Sql("SELECT event_type, count(*) AS n, round(sum(value), 2) AS total FROM events GROUP BY event_type")),
    QuerySpec("q_events_hourly", ((s, d) =>
      sources.Sources.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"))),
      Sql("SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n FROM events GROUP BY 1, 2")),
    // --- sliding windows (each event lands in width/slide windows,
    //     epoch-aligned — the DuckDB oracle replicates the alignment
    //     arithmetic in µs) ---
    QuerySpec("q_events_sliding", ((s, d) =>
      sources.Sources.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("win"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("win.start").as("w_start"), col("event_type"), col("n"))),
      Sql("""WITH e AS (SELECT event_type, epoch_us(ts) us FROM events),
        |w AS (SELECT event_type,
        |        unnest(generate_series(us - (us % 900000000) - 2700000000,
        |                               us - (us % 900000000), 900000000)) ws
        |      FROM e)
        |SELECT make_timestamp(ws) AS w_start, event_type, count(*) AS n
        |FROM w GROUP BY 1, 2""".stripMargin)),
    // --- approximate distinct (HLL sketch; rows-only — approximate
    //     values differ across engines by design) ---
    QuerySpec("q_approx_distinct", ((s, d) =>
      table(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(approx_count_distinct(col("o_custkey")).as("approx_cust"))),
      RowsOnly("q_approx_distinct_tolerance")),
    // --- UDF (plan carries the UDF marker the cost model scores and the
    //     cache warns about; body is exact integer arithmetic so the
    //     oracle can replicate it) ---
    QuerySpec("q_udf", { (s, d) =>
      val priceBand = udf((p: Double) => (p / 1000.0).toLong)
      table(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          priceBand(col("l_extendedprice")).as("price_band"))
    },
      Sql("SELECT l_orderkey, l_linenumber, CAST(trunc(l_extendedprice / 1000.0) AS BIGINT) AS price_band FROM lineitem")),
    // --- rollup / cube (hierarchical aggregates incl. null super-rows) ---
    QuerySpec("q_rollup", ((s, d) =>
      table(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))),
      Sql("SELECT l_returnflag, l_linestatus, count(*) AS n, CAST(sum(l_quantity) AS DOUBLE) AS sum_qty FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)")),
    QuerySpec("q_cube", ((s, d) =>
      table(s, d, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"))),
      Sql("SELECT o_orderstatus, o_orderpriority, count(*) AS n FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)")),
    // --- set op: intersect ---
    QuerySpec("q_intersect", { (s, d) =>
      val active = table(s, d, "orders").filter(col("o_orderstatus") === "O")
        .select(col("o_custkey").as("c_custkey"))
      table(s, d, "customer").select(col("c_custkey")).intersect(active)
    },
      Sql("SELECT c_custkey FROM customer INTERSECT SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'")),
    // --- set op: except (all customers minus the positive-balance set;
    //     non-empty on this corpus, unlike no-order customers) ---
    QuerySpec("q_except", { (s, d) =>
      val c = table(s, d, "customer")
      c.select(col("c_custkey"))
        .except(c.filter(col("c_acctbal") > 0).select(col("c_custkey")))
    },
      Sql("SELECT c_custkey FROM customer EXCEPT SELECT c_custkey FROM customer WHERE c_acctbal > 0")),
    // --- seeded sample: declared without oracle (row-count check only;
    //     RNG streams differ across engines by design, README.md:199) ---
    QuerySpec("q_sample", ((s, d) =>
      table(s, d, "lineitem").sample(withReplacement = false, 0.1, 42)
        .select("l_orderkey", "l_linenumber")),
      RowsOnly("q_sample_bounds")),
    // --- q_sample's quality companion (the RNG stream itself stays
    //     engine-specific): the sampled row count sits inside 4-sigma
    //     binomial bounds around p·n, and re-sampling with the same seed
    //     over the same partitioning returns the IDENTICAL multiset
    //     (equal counts + empty exceptAll). Both booleans are
    //     deterministic for the fixed seed, so the oracle gates them. ---
    QuerySpec("q_sample_bounds", { (s, d) =>
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
    },
      Sql("""SELECT count(*) AS n_total, TRUE AS bounds_ok,
        |  TRUE AS deterministic FROM lineitem""".stripMargin)),
    // --- pivot: one output column per pivot value (values pinned so the
    //     schema is static — at scale an unpinned pivot needs an extra
    //     distinct pass over the data just to learn the columns) ---
    QuerySpec("q_pivot", ((s, d) =>
      table(s, d, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .withColumnRenamed("F", "n_f")
        .withColumnRenamed("O", "n_o")
        .withColumnRenamed("P", "n_p")),
      Sql("""SELECT o_orderpriority,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        |  count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        |FROM orders GROUP BY o_orderpriority""".stripMargin)),
    // --- unpivot / melt: wide metrics to long (id, metric, value) ---
    QuerySpec("q_unpivot", ((s, d) =>
      table(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_discount")
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "metric", "value")),
      Sql("""SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem""".stripMargin)),
    // --- explode / lateral view: one row per token ---
    QuerySpec("q_explode", ((s, d) =>
      table(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .filter(col("token") =!= "")),
      Sql("""SELECT doc_id, token FROM (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |WHERE token <> ''""".stripMargin)),
    // --- grouping sets (beyond rollup/cube: explicit set list) ---
    QuerySpec("q_grouping_sets", { (s, d) =>
      table(s, d, "lineitem").createOrReplaceTempView("lineitem_gs")
      s.sql(
        """SELECT l_returnflag, l_linestatus, count(*) AS n,
          |       CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
          |FROM lineitem_gs
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)
    },
      Sql("""SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)),
    // --- exact percentiles (interpolated; both engines use the same
    //     (1-f)*lo + f*hi linear interpolation on doubles). Both
    //     l_extendedprice quantiles come from ONE percentile buffer
    //     (array form) — one sort pass per group instead of two ---
    QuerySpec("q_percentile", ((s, d) =>
      table(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(l_quantity, 0.5D)").as("med_qty"),
          expr("percentile(l_extendedprice, array(0.25D, 0.75D))").as("pp"))
        .select(col("l_returnflag"), col("med_qty"),
          element_at(col("pp"), 1).as("p25_price"),
          element_at(col("pp"), 2).as("p75_price"))),
      Sql("""SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS med_qty,
        |  quantile_cont(l_extendedprice, 0.25) AS p25_price,
        |  quantile_cont(l_extendedprice, 0.75) AS p75_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)),
    // --- window-function family: lag/lead/rank/dense_rank/ntile +
    //     order-insensitive running aggregates (running MAX/COUNT, not
    //     SUM: DuckDB evaluates moving sums with a segment tree whose
    //     addition order differs from Spark's sequential scan — max and
    //     count are associative-commutative-idempotent-safe) ---
    QuerySpec("q_window_funcs", { (s, d) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      table(s, d, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        lag("o_totalprice", 1).over(w).as("prev_price"),
        lead("o_totalprice", 1).over(w).as("next_price"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"),
        max("o_totalprice").over(run).as("run_max"),
        count(lit(1)).over(run).as("run_n"))
    },
      Sql("""SELECT o_orderkey, o_custkey,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price,
        |  CAST(rank() OVER w AS INTEGER) AS rnk,
        |  CAST(dense_rank() OVER w AS INTEGER) AS drnk,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |  max(o_totalprice) OVER (w ROWS UNBOUNDED PRECEDING) AS run_max,
        |  count(*) OVER (w ROWS UNBOUNDED PRECEDING) AS run_n
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin)),
    // --- scalar string functions ---
    QuerySpec("q_string_fns", ((s, d) =>
      table(s, d, "customer").select(
        col("c_custkey"),
        upper(col("c_name")).as("name_up"),
        lower(col("c_mktsegment")).as("seg_lo"),
        substring(col("c_name"), 1, 10).as("name10"),
        length(col("c_name")).as("name_len"),
        lpad(col("c_custkey").cast("string"), 12, "0").as("key_pad"),
        reverse(col("c_name")).as("name_rev"),
        concat_ws("|", col("c_name"), col("c_mktsegment")).as("tagged"),
        regexp_replace(col("c_name"), "[0-9]", "#").as("name_masked"))),
      Sql("""SELECT c_custkey,
        |  upper(c_name) AS name_up,
        |  lower(c_mktsegment) AS seg_lo,
        |  substring(c_name, 1, 10) AS name10,
        |  CAST(length(c_name) AS INTEGER) AS name_len,
        |  lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS key_pad,
        |  reverse(c_name) AS name_rev,
        |  c_name || '|' || c_mktsegment AS tagged,
        |  regexp_replace(c_name, '[0-9]', '#', 'g') AS name_masked
        |FROM customer""".stripMargin)),
    // --- scalar date/time functions (sources are TIMESTAMP-typed) ---
    QuerySpec("q_date_fns", ((s, d) =>
      table(s, d, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        quarter(col("o_orderdate")).as("q"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("dom"),
        dayofyear(col("o_orderdate")).as("doy"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("plus30"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
          .as("days_since"))),
      Sql("""SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INTEGER) AS y,
        |  CAST(quarter(o_orderdate) AS INTEGER) AS q,
        |  CAST(month(o_orderdate) AS INTEGER) AS m,
        |  CAST(day(o_orderdate) AS INTEGER) AS dom,
        |  CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
        |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
        |  o_orderdate + INTERVAL 30 DAY AS plus30,
        |  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since
        |FROM orders""".stripMargin)),
    // --- conditional expressions ---
    QuerySpec("q_conditional", ((s, d) =>
      table(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        when(col("l_quantity") >= 30, "bulk")
          .when(col("l_quantity") >= 10, "mid")
          .otherwise("small").as("band"),
        coalesce(nullif(col("l_returnflag"), lit("N")), lit("none")).as("flag"),
        greatest(col("l_tax"), col("l_discount")).as("max_rate"),
        least(col("l_tax"), col("l_discount")).as("min_rate"))),
      Sql("""SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_quantity >= 30 THEN 'bulk'
        |       WHEN l_quantity >= 10 THEN 'mid'
        |       ELSE 'small' END AS band,
        |  coalesce(nullif(l_returnflag, 'N'), 'none') AS flag,
        |  greatest(l_tax, l_discount) AS max_rate,
        |  least(l_tax, l_discount) AS min_rate
        |FROM lineitem""".stripMargin)),
    // --- JSON construction + extraction round trip ---
    QuerySpec("q_json", ((s, d) =>
      table(s, d, "nation").select(
        col("n_nationkey"),
        to_json(struct(col("n_nationkey").as("k"), col("n_name").as("nm")))
          .as("j"))
        .withColumn("nm_back", get_json_object(col("j"), "$.nm"))),
      Sql("""SELECT n_nationkey,
        |  to_json(struct_pack(k := n_nationkey, nm := n_name)) AS j,
        |  json_extract_string(to_json(struct_pack(k := n_nationkey, nm := n_name)), '$.nm') AS nm_back
        |FROM nation""".stripMargin)),
    // --- regex extraction + LIKE predicates ---
    QuerySpec("q_regex", ((s, d) =>
      table(s, d, "documents").select(
        col("doc_id"),
        regexp_extract(col("text"), "the ([a-z]+)", 1).as("after_the"),
        col("text").like("%the%").as("has_the"),
        col("text").rlike("[0-9]").as("has_digit"))),
      Sql("""SELECT doc_id,
        |  regexp_extract(text, 'the ([a-z]+)', 1) AS after_the,
        |  text LIKE '%the%' AS has_the,
        |  regexp_matches(text, '[0-9]') AS has_digit
        |FROM documents""".stripMargin)),
    // --- grouped array aggregation (sorted so the set, not the
    //     nondeterministic collection order, is the contract; joined to a
    //     string because the driver's pandas compare can't sort array cells) ---
    QuerySpec("q_collect_list", ((s, d) =>
      table(s, d, "orders")
        .groupBy("o_custkey")
        .agg(array_join(sort_array(collect_list(col("o_orderpriority"))), "|")
          .as("prios"))),
      Sql("SELECT o_custkey, array_to_string(list_sort(list(o_orderpriority)), '|') AS prios FROM orders GROUP BY o_custkey")),
    // --- outer joins: null-extended rows on the customer side ---
    QuerySpec("q_outer_join", ((s, d) =>
      table(s, d, "customer")
        .join(table(s, d, "orders").filter(col("o_orderstatus") === "P"),
          col("c_custkey") === col("o_custkey"), "left")
        .select("c_custkey", "o_orderkey", "o_totalprice")),
      Sql("""SELECT c_custkey, o_orderkey, o_totalprice
        |FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_orderstatus = 'P') o
        |ON c_custkey = o_custkey""".stripMargin)),
    QuerySpec("q_full_outer", { (s, d) =>
      val big = table(s, d, "customer").filter(col("c_acctbal") > 4000)
        .select(col("c_custkey"), col("c_acctbal"))
      val ord = table(s, d, "orders").filter(col("o_orderstatus") === "P")
        .select(col("o_custkey"), col("o_orderkey"))
      big.join(ord, col("c_custkey") === col("o_custkey"), "full")
        .select("c_custkey", "c_acctbal", "o_custkey", "o_orderkey")
    },
      Sql("""SELECT c_custkey, c_acctbal, o_custkey, o_orderkey
        |FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 4000) c
        |FULL OUTER JOIN (SELECT o_custkey, o_orderkey FROM orders WHERE o_orderstatus = 'P') o
        |ON c_custkey = o_custkey""".stripMargin)),
    // --- cross join (tiny dims; the one shape where cartesian is right) ---
    QuerySpec("q_cross_join", ((s, d) =>
      table(s, d, "region").crossJoin(table(s, d, "nation"))
        .select("r_regionkey", "r_name", "n_nationkey", "n_name")),
      Sql("SELECT r_regionkey, r_name, n_nationkey, n_name FROM region CROSS JOIN nation")),
    // --- scalar subquery (exact: max, not an FP-order-dependent avg) ---
    QuerySpec("q_scalar_subquery", { (s, d) =>
      table(s, d, "orders").createOrReplaceTempView("orders_sq")
      s.sql("""SELECT o_orderkey, o_totalprice FROM orders_sq
              |WHERE o_totalprice = (SELECT max(o_totalprice) FROM orders_sq)""".stripMargin)
    },
      Sql("""SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice = (SELECT max(o_totalprice) FROM orders)""".stripMargin)),
    // --- arg-min/arg-max with composite tie-break (struct ordering) ---
    QuerySpec("q_argminmax", ((s, d) =>
      table(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(
          max_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey")))
            .as("max_order"),
          min_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey")))
            .as("min_order"))),
      Sql("""WITH r AS (SELECT o_orderstatus, o_orderkey,
        |  row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey DESC) rmax,
        |  row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice ASC, o_orderkey ASC) rmin
        |FROM orders)
        |SELECT o_orderstatus,
        |  max(CASE WHEN rmax = 1 THEN o_orderkey END) AS max_order,
        |  max(CASE WHEN rmin = 1 THEN o_orderkey END) AS min_order
        |FROM r GROUP BY o_orderstatus""".stripMargin)),
    // --- ordered string aggregation ---
    QuerySpec("q_string_agg", ((s, d) =>
      table(s, d, "nation")
        .groupBy("n_regionkey")
        .agg(array_join(sort_array(collect_list(col("n_name"))), ",")
          .as("nations"))),
      Sql("""SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation GROUP BY n_regionkey""".stripMargin)),
    // --- salted skew join: result-identical to the plain equi-join
    //     (same oracle shape), hot keys spread over saltFactor tasks ---
    QuerySpec("q_skew_join", ((s, d) =>
      operators.Skew.saltedJoin(
        table(s, d, "lineitem").select(col("l_orderkey").as("o_orderkey"),
          col("l_linenumber"), col("l_quantity")),
        table(s, d, "orders").select("o_orderkey", "o_orderpriority"),
        "o_orderkey", saltFactor = 4)
        .select("o_orderkey", "l_linenumber", "l_quantity", "o_orderpriority")),
      Sql("""SELECT l_orderkey AS o_orderkey, l_linenumber, l_quantity, o_orderpriority
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin)),
    // --- custom Catalyst operator: grouped top-k via the
    //     GroupedTopK logical node + partial/final physical pair
    //     (bounded map-side heaps instead of a full per-group sort) ---
    QuerySpec("q_grouped_topk", ((s, d) =>
      plans.GroupedTopK.topKPerGroup(
        table(s, d, "orders"), Seq("o_custkey"),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc), k = 2)
        .select("o_custkey", "o_orderkey", "o_totalprice")),
      Sql("""SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) rn
        |  FROM orders) WHERE rn <= 2""".stripMargin)),
    // --- custom TypedImperativeAggregate: exact distinct via mergeable
    //     set sketch (one partial/final aggregation; count(DISTINCT)
    //     plans two shuffles) ---
    QuerySpec("q_sketch_distinct", ((s, d) =>
      table(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(functions.DistinctSketch.distinctSketch(col("o_custkey"))
          .as("n_cust"))),
      Sql("SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust FROM orders GROUP BY o_orderstatus")),
    // --- higher-order array functions over embeddings (sequential left
    //     folds in both engines => bit-identical doubles; see
    //     SNIPPETS/memory: no CSE across lambda boundaries, so the
    //     cast is hoisted once) ---
    QuerySpec("q_array_fns", { (s, d) =>
      val vd = col("embedding").cast("array<double>")
      table(s, d, "embeddings").select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        round(aggregate(transform(vd, x => x * x), lit(0.0), (a, x) => a + x), 6)
          .as("sq_norm"),
        size(filter(vd, _ > 0)).as("n_pos"),
        array_max(vd).as("vmax"),
        array_min(vd).as("vmin"))
    },
      Sql("""SELECT vec_id,
        |  CAST(len(embedding) AS INTEGER) AS dim,
        |  round(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)), 6) AS sq_norm,
        |  CAST(len(list_filter(CAST(embedding AS DOUBLE[]), x -> x > 0)) AS INTEGER) AS n_pos,
        |  list_max(CAST(embedding AS DOUBLE[])) AS vmax,
        |  list_min(CAST(embedding AS DOUBLE[])) AS vmin
        |FROM embeddings""".stripMargin)),
    // batch session_window over events (streaming operator, batch frame)
    QuerySpec("q_events_sessions", { (s, d) =>
      graft.sources.Sources.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          min("ts").as("first_ts"), max("ts").as("last_ts"))
        .select("user_id", "n_events", "first_ts", "last_ts")
    },
      Sql("""WITH e AS (
        |  SELECT user_id, ts,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
        |         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |s AS (SELECT user_id, ts,
        |        sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_id
        |      FROM e)
        |SELECT user_id, count(*) AS n_events,
        |       CAST(min(ts) AS TIMESTAMP) AS first_ts, CAST(max(ts) AS TIMESTAMP) AS last_ts
        |FROM s GROUP BY user_id, session_id""".stripMargin)),
    // --- as-of (point-in-time) join: each event matched to the user's
    //     latest order at-or-before the event time ---
    QuerySpec("q_asof_join", { (s, d) =>
      val e = graft.sources.Sources.events(s, d)
        .select("event_id", "user_id", "ts")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey", "o_orderdate")
        .orderBy(col("o_orderkey").desc)
      val o = table(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1) // one order per (custkey, date): determinism
        .select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
      AsOfJoin.asofJoin(e, o, "user_id", "o_custkey", "ts", "o_orderdate",
          Seq("o_orderkey", "o_totalprice"))
        .select("event_id", "user_id", "o_orderkey", "o_totalprice")
    },
      Sql("""WITH o AS (SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) rn
        |  FROM orders) WHERE rn = 1)
        |SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice
        |FROM events e ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate""".stripMargin)),
    // --- range join: assign each event to its 30-min session interval
    //     (bucketed equi-join, never a per-key nested loop) ---
    QuerySpec("q_range_join", { (s, d) =>
      val e = graft.sources.Sources.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"))
        .withColumn("t_us", unix_micros(col("ts")))
      val sessions = graft.sources.Sources.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(min("ts").as("first_ts"), max("ts").as("last_ts"))
        .select(col("user_id").as("s_user"),
          unix_micros(col("first_ts")).as("s_start"),
          unix_micros(col("last_ts")).as("s_end"),
          col("first_ts"))
      RangeJoin.bucketedRangeJoin(e, sessions,
          "user_id", "s_user", "t_us", "s_start", "s_end",
          bucketWidth = 3600L * 1000 * 1000) // 1 hour in µs
        .select(col("event_id"), col("user_id"),
          col("first_ts").as("session_start"))
    },
      Sql("""WITH e AS (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
        |         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |s AS (SELECT event_id, user_id, ts,
        |        sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_id
        |      FROM e)
        |SELECT event_id, user_id, CAST(min(ts) OVER (PARTITION BY user_id, session_id) AS TIMESTAMP) AS session_start
        |FROM s""".stripMargin)),
    // --- statistical aggregates (stddev/var/corr/covar) ---
    QuerySpec("q_stats_agg", ((s, d) =>
      table(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          round(var_samp(col("l_quantity")), 4).as("var_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
          round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("covar_qd"))),
      Sql("""SELECT l_returnflag,
        |  round(stddev_samp(l_quantity), 4) AS sd_qty,
        |  round(var_samp(l_quantity), 4) AS var_qty,
        |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
        |  round(covar_samp(l_quantity, l_discount), 6) AS covar_qd
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)),
    // --- correlated EXISTS + NOT EXISTS (planned as semi/anti joins) ---
    QuerySpec("q_exists", { (s, d) =>
      table(s, d, "customer").createOrReplaceTempView("customer_ex")
      table(s, d, "orders").createOrReplaceTempView("orders_ex")
      s.sql("""SELECT c_custkey, c_name FROM customer_ex c
              |WHERE EXISTS (SELECT 1 FROM orders_ex o
              |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
              |  AND NOT EXISTS (SELECT 1 FROM orders_ex o2
              |                  WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')""".stripMargin)
    },
      Sql("""SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |  AND NOT EXISTS (SELECT 1 FROM orders o2
        |                  WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')""".stripMargin)),
    // --- LATERAL correlated subquery in the FROM clause ---
    QuerySpec("q_lateral", { (s, d) =>
      table(s, d, "nation").createOrReplaceTempView("nation_lat")
      table(s, d, "customer").createOrReplaceTempView("customer_lat")
      s.sql("""SELECT n_name, cnt FROM nation_lat n,
              |LATERAL (SELECT count(*) AS cnt FROM customer_lat c
              |         WHERE c.c_nationkey = n.n_nationkey) t""".stripMargin)
    },
      Sql("""SELECT n_name, cnt FROM nation n,
        |LATERAL (SELECT count(*) AS cnt FROM customer c
        |         WHERE c.c_nationkey = n.n_nationkey) t""".stripMargin)),
    // --- RANGE window frame (value-based, not row-based): orders per
    //     customer within the trailing 90 days ---
    QuerySpec("q_window_range", { (s, d) =>
      val w = Window.partitionBy("o_custkey").orderBy("d").rangeBetween(-90, 0)
      table(s, d, "orders")
        .withColumn("d", datediff(col("o_orderdate"), to_date(lit("1992-01-01"))))
        .withColumn("cnt", count(lit(1)).over(w))
        .select("o_custkey", "o_orderkey", "d", "cnt")
    },
      Sql("""SELECT o_custkey, o_orderkey,
        |  CAST(datediff('day', DATE '1992-01-01', o_orderdate) AS INTEGER) AS d,
        |  count(*) OVER (PARTITION BY o_custkey
        |                 ORDER BY datediff('day', DATE '1992-01-01', o_orderdate)
        |                 RANGE BETWEEN 90 PRECEDING AND CURRENT ROW) AS cnt
        |FROM orders""".stripMargin)),
    // --- map construction + iteration (map_from_entries → explode) ---
    QuerySpec("q_map_fns", ((s, d) =>
      table(s, d, "nation")
        .groupBy("n_regionkey")
        .agg(map_from_entries(
          sort_array(collect_list(struct(col("n_name"), col("n_nationkey")))))
          .as("m"))
        .select(col("n_regionkey"), explode(col("m")))
        .withColumnRenamed("key", "n_name")
        .withColumnRenamed("value", "n_nationkey")),
      Sql("SELECT n_regionkey, n_name, n_nationkey FROM nation")),
    // --- positional window functions over the full-partition frame ---
    QuerySpec("q_first_last", { (s, d) =>
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      table(s, d, "orders")
        .select(
          col("o_custkey"), col("o_orderkey"),
          first(col("o_orderkey")).over(w).as("first_ok"),
          last(col("o_orderkey")).over(w).as("last_ok"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_ok"))
    },
      Sql("""SELECT o_custkey, o_orderkey,
        |  first_value(o_orderkey) OVER w AS first_ok,
        |  last_value(o_orderkey) OVER w AS last_ok,
        |  nth_value(o_orderkey, 2) OVER w AS second_ok
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin)),
    // --- ntile bucketing (deterministic: unique order key) ---
    QuerySpec("q_ntile", { (s, d) =>
      val w = Window.partitionBy("o_orderstatus").orderBy("o_orderkey")
      table(s, d, "orders")
        .select(col("o_orderstatus"), col("o_orderkey"),
          ntile(4).over(w).as("nt"))
    },
      Sql("""SELECT o_orderstatus, o_orderkey,
        |  CAST(ntile(4) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey) AS INTEGER) AS nt
        |FROM orders""".stripMargin)),
    // --- bloom-pruned semi join (exact result; see BloomJoin scaladoc) ---
    QuerySpec("q_bloom_join", { (s, d) =>
      val big = table(s, d, "lineitem")
      val small = table(s, d, "orders").filter(col("o_totalprice") > 400000)
      operators.BloomJoin
        .bloomSemiJoin(big, small, "l_orderkey", "o_orderkey",
          expectedItems = 100000L)
        .select("l_orderkey", "l_linenumber", "l_quantity")
    },
      Sql("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_orderkey IN
        |  (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)""".stripMargin)),
    // --- non-parquet sources: JSON / CSV round trips through
    //     Sources.json / Sources.csv with explicit schemas (schema
    //     inference is a full extra pass at 100 TB — never rely on it) ---
    QuerySpec("q_json_source", { (s, d) =>
      sources.Sources.json(s, Fixtures.jsonNation(s, d),
        "n_nationkey INT, n_name STRING, n_regionkey INT")
        .select("n_nationkey", "n_name", "n_regionkey")
    },
      Sql("SELECT n_nationkey, n_name, n_regionkey FROM nation")),
    QuerySpec("q_csv_source", { (s, d) =>
      sources.Sources.csv(s, Fixtures.csvRegion(s, d),
        "r_regionkey INT, r_name STRING")
        .select("r_regionkey", "r_name")
    },
      Sql("SELECT r_regionkey, r_name FROM region")),
    // --- HLL register sketch (rows-only: engine-pinned hash; tolerance
    //     + partition-invariance pinned in DistinctSketchSpec) ---
    QuerySpec("q_hll_distinct", ((s, d) =>
      table(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(graft.functions.DistinctSketch.hllSketch(col("o_custkey"))
          .as("approx_custs"))),
      RowsOnly("q_hll_tolerance")),
    // --- scale-safe percentile: fixed-state sketch (QuantileSummaries)
    //     instead of buffering every value per group — the exact
    //     `percentile` on a cardinality-3 key concentrates the whole
    //     table into 3 final-agg buffers (memory, then spill, at 100×).
    //     Gated against the exact value within 2% relative error. ---
    QuerySpec("q_approx_percentile", ((s, d) =>
      table(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n_rows"),
          expr("percentile_approx(l_extendedprice, 0.5D, 10000)").as("__ap"),
          expr("percentile(l_extendedprice, 0.5D)").as("__ex"))
        .select(col("l_returnflag"), col("n_rows"),
          (abs(col("__ap") - col("__ex")) <= col("__ex") * 0.02).as("med_ok"))),
      Sql("""SELECT l_returnflag, count(*) AS n_rows, TRUE AS med_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)),
    // --- HLL register sketch within 5% of exact per group ---
    QuerySpec("q_hll_tolerance", ((s, d) =>
      table(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(
          count_distinct(col("o_custkey")).as("exact_nd"),
          graft.functions.DistinctSketch.hllSketch(col("o_custkey")).as("__est"))
        .select(col("o_orderstatus"), col("exact_nd"),
          (abs(col("__est") - col("exact_nd")) <= col("exact_nd") * 0.05)
            .as("tol_ok"))),
      Sql("""SELECT o_orderstatus, count(DISTINCT o_custkey) AS exact_nd,
        |  TRUE AS tol_ok
        |FROM orders GROUP BY o_orderstatus""".stripMargin)),
    // --- ORC source round trip through Sources.orc with an explicit
    //     schema (completes the columnar-format matrix: parquet native,
    //     ORC via Spark's vectorized ORC reader). The ORC copy is a
    //     FIXTURE ([[Fixtures.orcSupplier]]): materialized once per
    //     (JVM, sf dir) into a private temp dir removed on JVM exit —
    //     the query itself is read-only, Bench warms it eagerly so all
    //     timed runs measure the read, and concurrent harness runs
    //     never share a path. ---
    QuerySpec("q_orc_source", { (s, d) =>
      val out = Fixtures.orcSupplier(s, d)
      sources.Sources.orc(s, out,
        "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE")
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    },
      Sql("SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier")),
    // --- Spark's built-in HLL++ (approx_count_distinct) within 5% ---
    QuerySpec("q_approx_distinct_tolerance", ((s, d) =>
      table(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(
          count_distinct(col("o_custkey")).as("exact_nd"),
          approx_count_distinct(col("o_custkey"), rsd = 0.02).as("__est"))
        .select(col("o_orderstatus"), col("exact_nd"),
          (abs(col("__est") - col("exact_nd")) <= col("exact_nd") * 0.05)
            .as("tol_ok"))),
      Sql("""SELECT o_orderstatus, count(DISTINCT o_custkey) AS exact_nd,
        |  TRUE AS tol_ok
        |FROM orders GROUP BY o_orderstatus""".stripMargin)),
    // --- permissive JSONL ingestion: malformed lines captured (fields
    //     null + raw text in _corrupt), never dropped or fatal — the
    //     crawl-batch contract. Fixture derives bad lines from the
    //     nation key, so the oracle reproduces the parse result from
    //     the table alone. ---
    QuerySpec("q_jsonl_robust", { (s, d) =>
      val path = Fixtures.jsonlMixedNation(s, d)
      sources.Sources
        .jsonPermissive(s, path, "n_nationkey BIGINT, n_name STRING")
        .select(col("n_nationkey"), col("n_name"),
          col("_corrupt").isNotNull.as("is_bad"),
          coalesce(col("_corrupt"), lit("")).as("raw_corrupt"))
    },
      Sql("""WITH r AS (SELECT n_nationkey, n_name,
        |             row_number() OVER (ORDER BY n_nationkey) - 1 AS i
        |           FROM nation)
        |SELECT (CASE WHEN i % 5 = 4 THEN NULL ELSE n_nationkey END)::BIGINT AS n_nationkey,
        |       CASE WHEN i % 5 = 4 THEN NULL ELSE n_name END AS n_name,
        |       (i % 5 = 4) AS is_bad,
        |       CASE WHEN i % 5 = 4 THEN '{"n_nationkey": ' || n_nationkey || ', INVALID' ELSE '' END AS raw_corrupt
        |FROM r""".stripMargin)),
    // --- join-key skew diagnostic on the power-law-ish events user_id:
    //     decides salting/AQE-skew before the key melts one reducer ---
    QuerySpec("q_key_skew", ((s, d) =>
      operators.Skew.keySkewReport(
        sources.Sources.events(s, d), "user_id")),
      Sql("""WITH c AS (SELECT user_id, count(*) c FROM events GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(sum(c) AS BIGINT) AS n_rows,
        |  CAST(max(c) AS BIGINT) AS max_rows,
        |  round(quantile_cont(c, 0.99), 4) AS p99_rows,
        |  round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_share,
        |  round(CAST(max(c) AS DOUBLE) * count(*) / sum(c), 4) AS skew_ratio
        |FROM c""".stripMargin)),
    // --- Misra–Gries heavy hitters over the corpus token stream:
    //     at most k counters of state per group ever exist. Counter
    //     values (and which non-heavy items ride along) depend on
    //     partition merge order ⇒ rows-only; q_heavy_complete below is
    //     the driver-gated capture guarantee. ---
    QuerySpec("q_heavy_hitters", { (s, d) =>
      val toks = table(s, d, "documents")
        .select(explode(operators.TextAnalysis.tokens(col("text"))).as("tok"))
      toks
        .agg(functions.FreqSketch.freqSketch(col("tok"), 8).as("sk"))
        .select(explode(col("sk")).as("e"))
        .select(col("e.item").as("item"), col("e.count_lb").as("count_lb"))
    },
      RowsOnly("q_heavy_complete")),
    // --- MG capture guarantee, oracle-gated: EVERY token with true
    //     frequency > N/(k+1) must appear in the sketch summary, and
    //     each reported lower bound must not exceed the true count ---
    QuerySpec("q_heavy_complete", { (s, d) =>
      val toks = table(s, d, "documents")
        .select(explode(operators.TextAnalysis.tokens(col("text"))).as("tok"))
      val sketch = toks
        .agg(functions.FreqSketch.freqSketch(col("tok"), 8).as("sk"))
        .select(explode(col("sk")).as("e"))
        .select(col("e.item").as("item"), col("e.count_lb").as("count_lb"))
      val exact = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      val total = toks.agg(count(lit(1)).as("n"))
      val heavy = exact.crossJoin(broadcast(total))
        .filter(col("c") * 9 > col("n")) // c > N/(k+1), exact integers
      // Sketch items are unique, so the left join cannot fan out heavy
      // rows; a heavy token with no sketch match leaves item NULL.
      val cap = heavy.join(sketch, col("tok") === col("item"), "left")
        .agg(
          count(lit(1)).as("n_heavy"),
          (count(col("item")) === count(lit(1))).as("all_captured"))
      val bounds = sketch.join(exact, col("item") === col("tok"))
        .agg((count(when(col("count_lb") > col("c"), 1)) === 0)
          .as("bounds_ok"))
      cap.crossJoin(bounds)
    },
      Sql("""WITH toks AS (SELECT unnest(regexp_extract_all(text, '\S+')) tok FROM documents),
        |c AS (SELECT tok, count(*) c FROM toks GROUP BY 1),
        |tot AS (SELECT count(*) n FROM toks)
        |SELECT CAST(count(*) AS BIGINT) AS n_heavy,
        |       TRUE AS all_captured, TRUE AS bounds_ok
        |FROM c CROSS JOIN tot WHERE c * 9 > n""".stripMargin)))
}
