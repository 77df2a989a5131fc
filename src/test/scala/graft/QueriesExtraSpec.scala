package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke coverage for the reshaping, multi-set grouping, percentile,
  * window, scalar-function and array queries of the relational corpus:
  * each executes at sf0.001 and returns rows, and each carries an oracle
  * (exactness is checked against DuckDB, locally by
  * tools/check_oracles.py). */
class QueriesExtraSpec extends AnyFunSuite {

  private val extra = Seq(
    "q_argminmax", "q_array_fns", "q_collect_list", "q_conditional", "q_cross_join",
    "q_date_fns", "q_explode", "q_full_outer", "q_grouped_topk", "q_grouping_sets",
    "q_json", "q_outer_join", "q_percentile", "q_pivot", "q_regex",
    "q_scalar_subquery", "q_sketch_distinct", "q_skew_join", "q_string_agg",
    "q_string_fns", "q_unpivot", "q_window_funcs")

  test("every extra query has a matching oracle entry") {
    assert(extra.forall(SparkEntry.queries.contains))
    assert(extra.forall(SparkEntry.oracleSql.contains))
  }

  extra.foreach { name =>
    test(s"$name runs and returns rows") {
      val n = SparkEntry.queries(name)(TestSpark.spark, TestSpark.sf0001).count()
      assert(n > 0, s"$name returned no rows")
    }
  }

  test("rows-only q_approx_distinct estimates within HLL tolerance of exact") {
    // The driver can only row-count this query (approximate values differ
    // across engines by design); pin the accuracy contract here instead.
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    val approx = SparkEntry.queries("q_approx_distinct")(spark, TestSpark.sf001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = spark.read.parquet(s"${TestSpark.sf001}/orders.parquet")
      .groupBy("o_orderstatus")
      .agg(countDistinct(col("o_custkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      val est = approx(k).toDouble
      assert(math.abs(est - n) / n <= 0.15,
        s"$k: estimate $est vs exact $n beyond 15% (default rsd is 5%)")
    }
  }
}
