package graft

import org.scalatest.funsuite.AnyFunSuite

/** Golden cost-model values ported verbatim from the reference
  * (`tests/test_dbfs_spark_cache.py:50-129`). These constants are the
  * port's contract — do not "fix" them. */
class ComplexitySpec extends AnyFunSuite {

  private val golden: Seq[(String, Double)] = Seq(
    "Aggregate [count(1)]" -> 1.00,
    "Join Inner, Aggregate" -> 3.33,
    "Window [row_number]" -> 2.50,
    "Join Inner, Window [row_number]" -> 8.33,
    "Aggregate [sum(x)], groupingexpressions" -> 1.60,
    "Join Inner, Aggregate [sum(x)], groupingexpressions" -> 5.33,
    "Sort [x ASC]" -> 1.40,
    "Aggregate [count(1)], distinct" -> 2.50,
    "UDF PythonEval" -> 1.20,
    "Join Inner, Join Inner, Aggregate" -> 5.00,
    "Window [row_number], Window [rank]" -> 4.50,
    "Aggregate [sum(x)], groupingexpressions, Aggregate [max(y)], groupingexpressions" -> 2.24,
    "Sort [x ASC], Sort [y DESC]" -> 1.82,
    "Join Inner, Sort [x ASC], Join Inner, Sort [y DESC]" -> 9.10,
    "Aggregate [count(1)], distinct, distinct" -> 3.50,
    "UDF PythonEval, UDF PythonEval" -> 1.44
  )

  test("16 golden multiplier values match the reference to 2 decimals") {
    golden.foreach { case (plan, expected) =>
      val (_, multiplier) = Complexity.calculateFromPlan(plan.toLowerCase, 1.0)
      assert(
        math.abs(multiplier - expected) < 0.01,
        s"plan '$plan': got $multiplier, expected $expected")
    }
  }

  test("count() on 1 GB is complexity 1.0 exactly (calibration)") {
    val (complexity, multiplier) =
      Complexity.calculateFromPlan("aggregate [count(1) as count]", 1.0)
    assert(multiplier == 1.0)
    assert(complexity == 1.0)
  }

  test("non-overlapping substring count matches Python str.count") {
    assert(Complexity.countOcc("aaa", "aa") == 1)
    assert(Complexity.countOcc("aaaa", "aa") == 2)
    assert(Complexity.countOcc("join inner join", "join") == 2)
    assert(Complexity.countOcc("", "x") == 0)
  }

  test("an alias containing 'join' counts as a join (keyword model, reference parity)") {
    // The model counts keywords in the explain text, as the reference
    // does, so a column alias that contains "join" inflates the
    // multiplier of a plan with no join in it (SURVEY §4.3).
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions.col
    val df = spark.read.parquet(s"${TestSpark.sf0001}/lineitem.parquet")
      .select(col("l_quantity").as("joined_quantity_join"))
    val (_, m) = Complexity.calculateFromPlan(
      PlanFingerprint.extendedPlanText(df).toLowerCase, 1.0)
    assert(m > 0.6, "keyword method inflates on the alias")
  }
}
