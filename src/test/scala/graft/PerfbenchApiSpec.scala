package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.extensions._

/** The library calls `perfbench/src` compiles against, in the exact
  * shapes it uses them, on a real frame: a signature change fails
  * `Test/compile` here before it breaks the benchmark's build. */
class PerfbenchApiSpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  test("perfbench call shapes compile and run: miss, write, hit, manage") {
    val cfg = CacheConfig(sparkCacheDir = CacheConfig.current.sparkCacheDir,
      cacheDatabase = CacheConfig.current.cacheDatabase)
    CacheConfig.withConfig(cfg) {
      val dim: DataFrame = spark.createCachedDataFrame(Seq(Row(0, "zero")), "k INT, v STRING")
      def cell(): DataFrame = spark.read
        .parquet(s"${TestSpark.sf0001}/nation.parquet")
        .withColumn("salt", lit(20261019))
        .join(dim, col("n_regionkey") === col("k"), "left")
        .groupBy("n_regionkey").agg(count(lit(1)).as("n"))
      val df = cell()
      val plan: String = PlanFingerprint.getQueryPlan(df)
      val sources: ListMap[String, String] = Freshness.inputDirModTimes(df)
      val multiplier: Double = Complexity.estimate(df)._2
      assert(multiplier > 0)
      assert(CacheIO.readCacheIfExist(df, Some(plan), Some(sources)).isEmpty)

      val out = cell().cacheToDbfs(true, None, None)
      val h = PlanFingerprint.findCatalogTablePattern(
        out.queryExecution.analyzed.toString, CacheConfig.current.cacheDatabase)
      assert(h.isDefined, "a written cell reads back from its cache table")
      assert(new java.io.File(cfg.metadataPath(h.get)).isFile)
      assert(CacheIO.readCacheIfExist(df, Some(plan), Some(sources)).isDefined)
      assert(out.collect().toSet == df.collect().toSet)

      assert(Management.getCachedDataframeMetadata(spark).exists(_.hashName == h.get))
      assert(!Management.clearInconsistentCache(spark).contains(h.get))
    }
    val query: Option[(SparkSession, String) => DataFrame] = SparkEntry.queries.get("q_join_multi")
    assert(query.isDefined && SparkEntry.oracleSql.contains("q_join_multi"))
  }
}
