package graft

import org.apache.spark.sql.DataFrame

/** Plan-derived compute-cost model.
  *
  * Complexity = total input GB x a multiplier derived from keyword counts
  * in the lowercased extended plan. Constants are ported verbatim from the
  * reference (`dbfs_spark_cache/query_complexity_estimation.py:86-199`);
  * the 16 golden multiplier values in
  * `tests/test_dbfs_spark_cache.py:56-92` pin them. Calibration:
  * `count()` on 1 GB == complexity 1.0 (`qce.py:206-209`).
  */
object Complexity {

  /** Non-overlapping substring count, same semantics as Python
    * `str.count`. */
  private[graft] def countOcc(text: String, sub: String): Int = {
    if (sub.isEmpty) return 0
    var i = 0; var n = 0
    while ({ i = text.indexOf(sub, i); i >= 0 }) { n += 1; i += sub.length }
    n
  }

  private val MultiplierBase = 0.6
  // (base relative to a count()==1.0, incremental factor per repeat)
  // — reference qce.py:116-124.
  private case class Factor(base: Double, inc: Double)
  private val Join = Factor(2.0 / MultiplierBase, 1.5)
  private val WindowF = Factor(2.5 / MultiplierBase, 1.8)
  private val AggSimple = Factor(1.0 / MultiplierBase, 1.1)
  private val AggComplex = Factor(1.6 / MultiplierBase, 1.4)
  private val Sort = Factor(1.4 / MultiplierBase, 1.3)
  private val Distinct = Factor(1.5 / MultiplierBase, 1.4)
  private val Udf = Factor(1.2 / MultiplierBase, 1.2)

  /** (complexity, multiplier) from a lowercased plan string and total GB
    * (reference `qce.py:86-199`, keyword counting `:127-135`). */
  def calculateFromPlan(queryPlanLower: String, totalSizeGb: Double): (Double, Double) = {
    val p = queryPlanLower
    val joinN = countOcc(p, "join")
    val windowN = countOcc(p, "window")
    val aggregateN = countOcc(p, "aggregate")
    val sortN = countOcc(p, "sort") + countOcc(p, "order by")
    val distinctN = countOcc(p, "distinct") + countOcc(p, "distinct ")
    val udfN = countOcc(p, "udf")

    // Simple vs complex aggregate split (reference qce.py:142-146):
    // complex when the plan carries grouping expressions or >1 "agg".
    val isComplexStructure =
      p.contains("groupingexpressions") || countOcc(p, "agg") > 1
    val multiplier = multiply(Join -> joinN, WindowF -> windowN, Sort -> sortN,
      Distinct -> distinctN, Udf -> udfN,
      (if (isComplexStructure) AggComplex else AggSimple) -> aggregateN)
    (totalSizeGb * multiplier, multiplier)
  }

  /** The base multiplier times each present factor's base and per-repeat
    * increments, applied in the given order. */
  private def multiply(counts: (Factor, Int)*): Double =
    counts.foldLeft(MultiplierBase) { case (m, (f, n)) =>
      if (n > 0) m * (f.base * math.pow(f.inc, (n - 1).toDouble)) else m
    }

  /** (complexity, multiplier, totalSizeGb) for a DataFrame (reference
    * `qce.py:202-257`): zero input size still yields a plan multiplier;
    * an unreadable plan degrades to multiplier 1.0. */
  def estimate(df: DataFrame): (Double, Double, Double) =
    estimate(df, Freshness.snapshot(df))

  /** [[estimate]] with the input size taken from the decision's source
    * snapshot: the summed lengths Spark's FileIndex already holds, where
    * the reference stats every input file (`qce.py:17-83`). */
  def estimate(df: DataFrame, sources: SourceSnapshot): (Double, Double, Double) = {
    val totalSize = sources.totalBytes / (1024.0 * 1024 * 1024)
    val plan = PlanFingerprint.extendedPlanText(df).toLowerCase
    val m = if (plan.startsWith("error:")) 1.0 else calculateFromPlan(plan, totalSize)._2
    (totalSize * m, m, totalSize)
  }
}
