package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.extensions._

/** Analysis-phase transparent cache substitution
  * (`graft.plans.AutoSubstitute.SubstituteCachedPlans`, installed via
  * GraftSparkExtensions in TestSpark). */
class AutoSubstituteSpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  private def agg(): DataFrame =
    spark.read
      .parquet(s"${TestSpark.sf0001}/customer.parquet")
      .groupBy("c_mktsegment")
      .agg(sum("c_acctbal").as("bal"), count(lit(1)).as("n"))

  private def withAutoSub[T](body: => T): T =
    CacheConfig.withConfig(CacheConfig.current.copy(autoSubstitute = true))(body)

  test("a re-derived cached subtree inside a bigger query is substituted") {
    val expected = agg().collect().toSet
    agg().cacheToDbfs(
      overridePreferSparkCache = true,
      dbfsCacheComplexityThreshold = None,
      dbfsCacheMultiplierThreshold = None)

    val (planText, result) = withAutoSub {
      // fresh derivation of the same aggregation, used INSIDE a filter+sort
      val bigger = agg().filter(col("n") > 0).orderBy("c_mktsegment")
      (bigger.queryExecution.analyzed.toString, bigger.collect())
    }
    assert(planText.contains(CacheConfig.current.cacheDatabase + "."),
      s"subtree must be served from the cache table:\n$planText")
    assert(result.map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
      == expected.map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet)

    // A source wider than spark.sql.debug.maxToStringFields (25): the
    // subtree's render must not truncate, or it never matches the entry.
    val d = java.nio.file.Files.createTempDirectory("graft-autosub-wide").toString + "/w"
    spark.range(0, 50, 1, 1).select((0 until 30).map(i => (col("id") + i).as(s"c$i")): _*)
      .write.parquet(d)
    def wide(): DataFrame = spark.read.parquet(d).filter(col("c0") > 5)
    val wideExpected = wide().orderBy("c0").collect().toSeq
    wide().cacheToDbfs(
      overridePreferSparkCache = true,
      dbfsCacheComplexityThreshold = None,
      dbfsCacheMultiplierThreshold = None)
    val (widePlan, wideResult) = withAutoSub {
      val q = wide().orderBy("c0")
      (q.queryExecution.analyzed.toString, q.collect().toSeq)
    }
    assert(widePlan.contains(CacheConfig.current.cacheDatabase + "."),
      s"a wide subtree must be served from the cache table:\n$widePlan")
    assert(wideResult == wideExpected)
  }

  test("two distinct cached subtrees substitute inside one join") {
    val suppAgg = spark.read
      .parquet(s"${TestSpark.sf0001}/supplier.parquet")
      .groupBy("s_nationkey").agg(sum("s_acctbal").as("s_bal"))
    val custAgg = spark.read
      .parquet(s"${TestSpark.sf0001}/customer.parquet")
      .groupBy("c_nationkey").agg(sum("c_acctbal").as("c_bal"))
    def cacheIt(df: DataFrame) = df.cacheToDbfs(
      overridePreferSparkCache = true,
      dbfsCacheComplexityThreshold = None,
      dbfsCacheMultiplierThreshold = None)
    cacheIt(suppAgg); cacheIt(custAgg)
    val expected = suppAgg
      .join(custAgg, col("s_nationkey") === col("c_nationkey"))
      .collect().length
    val (planText, n) = withAutoSub {
      // both sides re-derived from scratch
      val s2 = spark.read.parquet(s"${TestSpark.sf0001}/supplier.parquet")
        .groupBy("s_nationkey").agg(sum("s_acctbal").as("s_bal"))
      val c2 = spark.read.parquet(s"${TestSpark.sf0001}/customer.parquet")
        .groupBy("c_nationkey").agg(sum("c_acctbal").as("c_bal"))
      val j = s2.join(c2, col("s_nationkey") === col("c_nationkey"))
      (j.queryExecution.analyzed.toString, j.collect().length)
    }
    val db = CacheConfig.current.cacheDatabase + "."
    assert(planText.sliding(db.length).count(_ == db) >= 2,
      s"both subtrees must be served from cache tables:\n$planText")
    assert(n == expected)
  }

  test("flag off: no substitution happens") {
    agg().cacheToDbfs(
      overridePreferSparkCache = true,
      dbfsCacheComplexityThreshold = None,
      dbfsCacheMultiplierThreshold = None)
    val planText = agg().filter(col("n") > 0)
      .queryExecution.analyzed.toString
    assert(!planText.contains(CacheConfig.current.cacheDatabase + "."))
  }

  test("uncached subtrees are left untouched under the flag") {
    val planText = withAutoSub {
      spark.read.parquet(s"${TestSpark.sf0001}/supplier.parquet")
        .groupBy("s_nationkey").count()
        .queryExecution.analyzed.toString
    }
    assert(!planText.contains(CacheConfig.current.cacheDatabase + "."))
  }

  test("source change invalidates the substitution, not just the API path") {
    import java.nio.file.Files
    val d = Files.createTempDirectory("graft-autosub").toString
    spark.read.parquet(s"${TestSpark.sf0001}/region.parquet")
      .write.mode("overwrite").parquet(s"$d/r")
    def rq(): DataFrame =
      spark.read.parquet(s"$d/r").groupBy("r_name").count()
    rq().cacheToDbfs(
      overridePreferSparkCache = true,
      dbfsCacheComplexityThreshold = None,
      dbfsCacheMultiplierThreshold = None)
    withAutoSub {
      assert(rq().filter(col("count") >= 0).queryExecution.analyzed.toString
        .contains(CacheConfig.current.cacheDatabase + "."), "hits while fresh")
    }
    spark.read.parquet(s"${TestSpark.sf0001}/region.parquet")
      .write.mode("overwrite").parquet(s"$d/r")
    withAutoSub {
      assert(!rq().filter(col("count") >= 0).queryExecution.analyzed.toString
        .contains(CacheConfig.current.cacheDatabase + "."),
        "stale entry must not substitute")
    }
  }

  test("a cached subtree whose table storage was wiped is recomputed, not served") {
    agg().cacheToDbfs(
      overridePreferSparkCache = true,
      dbfsCacheComplexityThreshold = None,
      dbfsCacheMultiplierThreshold = None)
    def bigger(): DataFrame = agg().filter(col("n") > 0).orderBy("c_mktsegment")
    val expected = bigger().collect().toSeq
    assert(expected.nonEmpty)
    val tbl = CacheConfig.current.tableNameFromHash(CacheIO.tableHash(agg()))
    TestSpark.wipeTableStorage(tbl)
    assert(spark.catalog.tableExists(tbl), "catalog entry should survive the wipe")
    val (planText, result) = withAutoSub {
      val q = bigger()
      (q.queryExecution.analyzed.toString, q.collect().toSeq)
    }
    assert(!planText.contains(CacheConfig.current.cacheDatabase + "."),
      s"a wiped entry must not substitute:\n$planText")
    assert(result == expected)
  }
}
