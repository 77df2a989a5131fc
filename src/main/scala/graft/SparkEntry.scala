package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.extensions._
import graft.queries.{QuerySpec, Sql}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship: the reference's own smoke sequence
    * (`integration_test_notebook.py:270-308`) — aggregate lineitem, run it
    * through the persistent cache, return the table-backed result. */
  def entry(spark: SparkSession): DataFrame = {
    val agg = spark.read
      .parquet("/root/testdata/sf0.001/lineitem.parquet")
      .groupBy("l_returnflag")
      .agg(sum("l_extendedprice").as("total"), count(lit(1)).as("n"))
    agg.cacheToDbfs(
      overridePreferSparkCache = true,
      dbfsCacheComplexityThreshold = None,
      dbfsCacheMultiplierThreshold = None)
  }

  /** One entry per declared query (see [[graft.queries.QuerySpec.all]]). */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    QuerySpec.all.map(q => q.name -> q.build).toMap

  /** For each exactly checked query, equivalent ANSI SQL runnable by
    * DuckDB on the same parquet tables. Rows-only queries (seeded
    * sampling, sketches, approximate indexes) have none. */
  lazy val oracleSql: Map[String, String] =
    QuerySpec.all.collect { case QuerySpec(name, _, Sql(text)) => name -> text }.toMap
}
