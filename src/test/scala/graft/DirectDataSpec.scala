package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.extensions._

/** Spark-backed `createCachedDataFrame` behavior (reference
  * `tests/test_create_cached_dataframe.py:23-79`,
  * `integration_test_notebook.py:795-1049`): miss creates `data_*`
  * table, hit reuses it, and transformed reads must NOT inherit the
  * data hash. */
class DirectDataSpec extends AnyFunSuite {

  private def spark = TestSpark.spark
  private val rows = Seq(Row(1, "alpha"), Row(2, "beta"))
  private val ddl = "id INT, value STRING"

  test("miss creates data_ table; hit reuses it without rewrite") {
    val df1 = spark.createCachedDataFrame(rows, ddl)
    val h = DirectData.taggedHash(df1)
    assert(h.exists(_.startsWith("data_")))
    val tbl = CacheConfig.current.tableNameFromHash(h.get)
    assert(spark.catalog.tableExists(tbl))

    val df2 = spark.createCachedDataFrame(rows, ddl)
    assert(DirectData.taggedHash(df2) == h, "same data must hash identically")
    assert(df2.collect().toSet == df1.collect().toSet)
  }

  test("different data or schema yields a different data hash") {
    val a = spark.createCachedDataFrame(rows, ddl)
    val b = spark.createCachedDataFrame(Seq(Row(1, "alpha"), Row(2, "GAMMA")), ddl)
    val c = spark.createCachedDataFrame(
      Seq(Row(1L, "alpha"), Row(2L, "beta")), "id BIGINT, value STRING")
    assert(DirectData.taggedHash(a) != DirectData.taggedHash(b))
    assert(DirectData.taggedHash(a) != DirectData.taggedHash(c))
  }

  test("pure scan of a data_ table reuses its hash via tableHash") {
    val df = spark.createCachedDataFrame(rows, ddl)
    val h = DirectData.taggedHash(df).get
    // A fresh, untagged read of the same table: the plan-based cascade
    // must still find the data_ hash (reference core_caching.py:543-552).
    val fresh = spark.read.table(CacheConfig.current.tableNameFromHash(h))
    assert(CacheIO.tableHash(fresh) == h)
  }

  test("select/filter/join on a data-cache DF must NOT reuse the data hash") {
    val df = spark.createCachedDataFrame(rows, ddl)
    val h = DirectData.taggedHash(df).get
    assert(CacheIO.tableHash(df.select("id")) != h)
    assert(CacheIO.tableHash(df.filter(col("id") === 1)) != h)
    val other = spark.createCachedDataFrame(
      Seq(Row(1, "X"), Row(3, "Y")), "id INT, category STRING")
    assert(CacheIO.tableHash(df.join(other, "id")) != h)
  }

  test("typed variant round-trips") {
    val s = spark
    import s.implicits._
    val df = s.createCachedDataFrame(Seq((100, 200), (300, 400)))
    assert(DirectData.taggedHash(df).exists(_.startsWith("data_")))
    assert(df.count() == 2)
  }

  test("a data_ table whose storage was wiped is rewritten, not reused") {
    val mine = Seq(Row(7, "wiped-a"), Row(8, "wiped-b"), Row(9, "wiped-c"))
    val first = spark.createCachedDataFrame(mine, ddl)
    val tbl = CacheConfig.current.tableNameFromHash(DirectData.taggedHash(first).get)
    val dir = TestSpark.wipeTableStorage(tbl)
    assert(spark.catalog.tableExists(tbl), "catalog entry should survive the wipe")
    val again = spark.createCachedDataFrame(mine, ddl)
    assert(again.collect().toSet == mine.toSet)
    assert(java.nio.file.Files.isDirectory(dir), "the table must be rewritten")
    assert(spark.table(tbl).count() == mine.size)
  }
}
