package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Sources.table

/** Round-3 widening of the relational corpus (SURVEY §2.B/§2.C): reshaping
  * (pivot/unpivot/explode), multi-set grouping, exact percentiles, the
  * full window-function family, scalar string/date/conditional coverage,
  * and higher-order array functions. Same contract as [[Queries]]: every
  * entry is declarative DataFrame API (Catalyst plans it), every
  * computed column is aliased identically in the DuckDB oracle, and
  * cross-engine FP/type pitfalls (round-at-.xx5, BIGINT-vs-INT, window
  * sum segment trees) are designed out rather than papered over.
  */
object QueriesExtra {

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- pivot: one output column per pivot value (values pinned so the
    //     schema is static — at scale an unpinned pivot needs an extra
    //     distinct pass over the data just to learn the columns) ---
    "q_pivot" -> ((s, d) =>
      table(s, d, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .withColumnRenamed("F", "n_f")
        .withColumnRenamed("O", "n_o")
        .withColumnRenamed("P", "n_p")),
    // --- unpivot / melt: wide metrics to long (id, metric, value) ---
    "q_unpivot" -> ((s, d) =>
      table(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_discount")
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "metric", "value")),
    // --- explode / lateral view: one row per token ---
    "q_explode" -> ((s, d) =>
      table(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .filter(col("token") =!= "")),
    // --- grouping sets (beyond rollup/cube: explicit set list) ---
    "q_grouping_sets" -> { (s, d) =>
      table(s, d, "lineitem").createOrReplaceTempView("lineitem_gs")
      s.sql(
        """SELECT l_returnflag, l_linestatus, count(*) AS n,
          |       CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
          |FROM lineitem_gs
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)
    },
    // --- exact percentiles (interpolated; both engines use the same
    //     (1-f)*lo + f*hi linear interpolation on doubles). Both
    //     l_extendedprice quantiles come from ONE percentile buffer
    //     (array form) — one sort pass per group instead of two ---
    "q_percentile" -> ((s, d) =>
      table(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(l_quantity, 0.5D)").as("med_qty"),
          expr("percentile(l_extendedprice, array(0.25D, 0.75D))").as("pp"))
        .select(col("l_returnflag"), col("med_qty"),
          element_at(col("pp"), 1).as("p25_price"),
          element_at(col("pp"), 2).as("p75_price"))),
    // --- window-function family: lag/lead/rank/dense_rank/ntile +
    //     order-insensitive running aggregates (running MAX/COUNT, not
    //     SUM: DuckDB evaluates moving sums with a segment tree whose
    //     addition order differs from Spark's sequential scan — max and
    //     count are associative-commutative-idempotent-safe) ---
    "q_window_funcs" -> { (s, d) =>
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
    // --- scalar string functions ---
    "q_string_fns" -> ((s, d) =>
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
    // --- scalar date/time functions (sources are TIMESTAMP-typed) ---
    "q_date_fns" -> ((s, d) =>
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
    // --- conditional expressions ---
    "q_conditional" -> ((s, d) =>
      table(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        when(col("l_quantity") >= 30, "bulk")
          .when(col("l_quantity") >= 10, "mid")
          .otherwise("small").as("band"),
        coalesce(nullif(col("l_returnflag"), lit("N")), lit("none")).as("flag"),
        greatest(col("l_tax"), col("l_discount")).as("max_rate"),
        least(col("l_tax"), col("l_discount")).as("min_rate"))),
    // --- JSON construction + extraction round trip ---
    "q_json" -> ((s, d) =>
      table(s, d, "nation").select(
        col("n_nationkey"),
        to_json(struct(col("n_nationkey").as("k"), col("n_name").as("nm")))
          .as("j"))
        .withColumn("nm_back", get_json_object(col("j"), "$.nm"))),
    // --- regex extraction + LIKE predicates ---
    "q_regex" -> ((s, d) =>
      table(s, d, "documents").select(
        col("doc_id"),
        regexp_extract(col("text"), "the ([a-z]+)", 1).as("after_the"),
        col("text").like("%the%").as("has_the"),
        col("text").rlike("[0-9]").as("has_digit"))),
    // --- grouped array aggregation (sorted so the set, not the
    //     nondeterministic collection order, is the contract; joined to a
    //     string because the driver's pandas compare can't sort array cells) ---
    "q_collect_list" -> ((s, d) =>
      table(s, d, "orders")
        .groupBy("o_custkey")
        .agg(array_join(sort_array(collect_list(col("o_orderpriority"))), "|")
          .as("prios"))),
    // --- outer joins: null-extended rows on the customer side ---
    "q_outer_join" -> ((s, d) =>
      table(s, d, "customer")
        .join(table(s, d, "orders").filter(col("o_orderstatus") === "P"),
          col("c_custkey") === col("o_custkey"), "left")
        .select("c_custkey", "o_orderkey", "o_totalprice")),
    "q_full_outer" -> { (s, d) =>
      val big = table(s, d, "customer").filter(col("c_acctbal") > 4000)
        .select(col("c_custkey"), col("c_acctbal"))
      val ord = table(s, d, "orders").filter(col("o_orderstatus") === "P")
        .select(col("o_custkey"), col("o_orderkey"))
      big.join(ord, col("c_custkey") === col("o_custkey"), "full")
        .select("c_custkey", "c_acctbal", "o_custkey", "o_orderkey")
    },
    // --- cross join (tiny dims; the one shape where cartesian is right) ---
    "q_cross_join" -> ((s, d) =>
      table(s, d, "region").crossJoin(table(s, d, "nation"))
        .select("r_regionkey", "r_name", "n_nationkey", "n_name")),
    // --- scalar subquery (exact: max, not an FP-order-dependent avg) ---
    "q_scalar_subquery" -> { (s, d) =>
      table(s, d, "orders").createOrReplaceTempView("orders_sq")
      s.sql("""SELECT o_orderkey, o_totalprice FROM orders_sq
              |WHERE o_totalprice = (SELECT max(o_totalprice) FROM orders_sq)""".stripMargin)
    },
    // --- arg-min/arg-max with composite tie-break (struct ordering) ---
    "q_argminmax" -> ((s, d) =>
      table(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(
          max_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey")))
            .as("max_order"),
          min_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey")))
            .as("min_order"))),
    // --- ordered string aggregation ---
    "q_string_agg" -> ((s, d) =>
      table(s, d, "nation")
        .groupBy("n_regionkey")
        .agg(array_join(sort_array(collect_list(col("n_name"))), ",")
          .as("nations"))),
    // --- salted skew join: result-identical to the plain equi-join
    //     (same oracle shape), hot keys spread over saltFactor tasks ---
    "q_skew_join" -> ((s, d) =>
      operators.Skew.saltedJoin(
        table(s, d, "lineitem").select(col("l_orderkey").as("o_orderkey"),
          col("l_linenumber"), col("l_quantity")),
        table(s, d, "orders").select("o_orderkey", "o_orderpriority"),
        "o_orderkey", saltFactor = 4)
        .select("o_orderkey", "l_linenumber", "l_quantity", "o_orderpriority")),
    // --- custom Catalyst operator: grouped top-k via the
    //     GroupedTopK logical node + partial/final physical pair
    //     (bounded map-side heaps instead of a full per-group sort) ---
    "q_grouped_topk" -> ((s, d) =>
      plans.GroupedTopK.topKPerGroup(
        table(s, d, "orders"), Seq("o_custkey"),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc), k = 2)
        .select("o_custkey", "o_orderkey", "o_totalprice")),
    // --- custom TypedImperativeAggregate: exact distinct via mergeable
    //     set sketch (one partial/final aggregation; count(DISTINCT)
    //     plans two shuffles) ---
    "q_sketch_distinct" -> ((s, d) =>
      table(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(functions.DistinctSketch.distinctSketch(col("o_custkey"))
          .as("n_cust"))),
    // --- higher-order array functions over embeddings (sequential left
    //     folds in both engines => bit-identical doubles; see
    //     SNIPPETS/memory: no CSE across lambda boundaries, so the
    //     cast is hoisted once) ---
    "q_array_fns" -> { (s, d) =>
      val vd = col("embedding").cast("array<double>")
      table(s, d, "embeddings").select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        round(aggregate(transform(vd, x => x * x), lit(0.0), (a, x) => a + x), 6)
          .as("sq_norm"),
        size(filter(vd, _ > 0)).as("n_pos"),
        array_max(vd).as("vmax"),
        array_min(vd).as("vmin"))
    }
  )

  val oracles: Map[String, String] = Map(
    "q_pivot" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        |  count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "q_unpivot" ->
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem""".stripMargin,
    "q_explode" ->
      """SELECT doc_id, token FROM (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |WHERE token <> ''""".stripMargin,
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin,
    "q_percentile" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS med_qty,
        |  quantile_cont(l_extendedprice, 0.25) AS p25_price,
        |  quantile_cont(l_extendedprice, 0.75) AS p75_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q_window_funcs" ->
      """SELECT o_orderkey, o_custkey,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price,
        |  CAST(rank() OVER w AS INTEGER) AS rnk,
        |  CAST(dense_rank() OVER w AS INTEGER) AS drnk,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |  max(o_totalprice) OVER (w ROWS UNBOUNDED PRECEDING) AS run_max,
        |  count(*) OVER (w ROWS UNBOUNDED PRECEDING) AS run_n
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,
    "q_string_fns" ->
      """SELECT c_custkey,
        |  upper(c_name) AS name_up,
        |  lower(c_mktsegment) AS seg_lo,
        |  substring(c_name, 1, 10) AS name10,
        |  CAST(length(c_name) AS INTEGER) AS name_len,
        |  lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS key_pad,
        |  reverse(c_name) AS name_rev,
        |  c_name || '|' || c_mktsegment AS tagged,
        |  regexp_replace(c_name, '[0-9]', '#', 'g') AS name_masked
        |FROM customer""".stripMargin,
    "q_date_fns" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INTEGER) AS y,
        |  CAST(quarter(o_orderdate) AS INTEGER) AS q,
        |  CAST(month(o_orderdate) AS INTEGER) AS m,
        |  CAST(day(o_orderdate) AS INTEGER) AS dom,
        |  CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
        |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
        |  o_orderdate + INTERVAL 30 DAY AS plus30,
        |  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since
        |FROM orders""".stripMargin,
    "q_conditional" ->
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_quantity >= 30 THEN 'bulk'
        |       WHEN l_quantity >= 10 THEN 'mid'
        |       ELSE 'small' END AS band,
        |  coalesce(nullif(l_returnflag, 'N'), 'none') AS flag,
        |  greatest(l_tax, l_discount) AS max_rate,
        |  least(l_tax, l_discount) AS min_rate
        |FROM lineitem""".stripMargin,
    "q_collect_list" ->
      "SELECT o_custkey, array_to_string(list_sort(list(o_orderpriority)), '|') AS prios FROM orders GROUP BY o_custkey",
    "q_json" ->
      """SELECT n_nationkey,
        |  to_json(struct_pack(k := n_nationkey, nm := n_name)) AS j,
        |  json_extract_string(to_json(struct_pack(k := n_nationkey, nm := n_name)), '$.nm') AS nm_back
        |FROM nation""".stripMargin,
    "q_regex" ->
      """SELECT doc_id,
        |  regexp_extract(text, 'the ([a-z]+)', 1) AS after_the,
        |  text LIKE '%the%' AS has_the,
        |  regexp_matches(text, '[0-9]') AS has_digit
        |FROM documents""".stripMargin,
    "q_outer_join" ->
      """SELECT c_custkey, o_orderkey, o_totalprice
        |FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_orderstatus = 'P') o
        |ON c_custkey = o_custkey""".stripMargin,
    "q_full_outer" ->
      """SELECT c_custkey, c_acctbal, o_custkey, o_orderkey
        |FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 4000) c
        |FULL OUTER JOIN (SELECT o_custkey, o_orderkey FROM orders WHERE o_orderstatus = 'P') o
        |ON c_custkey = o_custkey""".stripMargin,
    "q_cross_join" ->
      "SELECT r_regionkey, r_name, n_nationkey, n_name FROM region CROSS JOIN nation",
    "q_scalar_subquery" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice = (SELECT max(o_totalprice) FROM orders)""".stripMargin,
    "q_argminmax" ->
      """WITH r AS (SELECT o_orderstatus, o_orderkey,
        |  row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey DESC) rmax,
        |  row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice ASC, o_orderkey ASC) rmin
        |FROM orders)
        |SELECT o_orderstatus,
        |  max(CASE WHEN rmax = 1 THEN o_orderkey END) AS max_order,
        |  max(CASE WHEN rmin = 1 THEN o_orderkey END) AS min_order
        |FROM r GROUP BY o_orderstatus""".stripMargin,
    "q_string_agg" ->
      """SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation GROUP BY n_regionkey""".stripMargin,
    "q_skew_join" ->
      """SELECT l_orderkey AS o_orderkey, l_linenumber, l_quantity, o_orderpriority
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin,
    "q_grouped_topk" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) rn
        |  FROM orders) WHERE rn <= 2""".stripMargin,
    "q_sketch_distinct" ->
      "SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust FROM orders GROUP BY o_orderstatus",
    "q_array_fns" ->
      """SELECT vec_id,
        |  CAST(len(embedding) AS INTEGER) AS dim,
        |  round(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)), 6) AS sq_norm,
        |  CAST(len(list_filter(CAST(embedding AS DOUBLE[]), x -> x > 0)) AS INTEGER) AS n_pos,
        |  list_max(CAST(embedding AS DOUBLE[])) AS vmax,
        |  list_min(CAST(embedding AS DOUBLE[])) AS vmin
        |FROM embeddings""".stripMargin
  )
}
