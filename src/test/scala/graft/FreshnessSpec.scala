package graft

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.extensions._

/** Freshness edge cases (reference `core_caching.py:212-297`) and the
  * source snapshot's contract. */
class FreshnessSpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  /** The per-directory lines of a freshness map, without the digest. */
  private def dirLines(m: ListMap[String, String]) = m - Freshness.InputFilesDigestKey

  test("one entry per input directory with its newest child mtime") {
    // The directory lines are followed by the digest of every scanned
    // file. nation.parquet is a single FILE, so its directory is its parent.
    val df = spark.read.parquet(s"${TestSpark.sf0001}/nation.parquet")
    val m = Freshness.inputDirModTimes(df)
    assert(m.size == 2)
    val (dir, ts) = m.head
    assert(dir.endsWith("sf0.001"))
    assert(ts.matches("\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}"))
    assert(m.last._1 == Freshness.InputFilesDigestKey)
    assert(m.last._2.matches("[0-9a-f]{32}"))
  }

  test("_delta_log children are excluded from the freshness probe") {
    val d = Files.createTempDirectory("graft-fresh").toString
    spark.read.parquet(s"${TestSpark.sf0001}/nation.parquet")
      .write.mode("overwrite").parquet(s"$d/t")
    val before = Freshness.inputDirModTimes(spark.read.parquet(s"$d/t"))
    // a delta-log write must NOT invalidate
    Files.createDirectory(Paths.get(s"$d/t/_delta_log"))
    val after = Freshness.inputDirModTimes(spark.read.parquet(s"$d/t"))
    assert(after == before, "_delta_log mtime must not leak into the probe")
  }

  test("cache-table reads produce no self-invalidating sources") {
    val base = spark.read.parquet(s"${TestSpark.sf0001}/nation.parquet")
      .withColumn("fr", lit(9))
    val cached = base.cacheToDbfs(
      overridePreferSparkCache = true,
      dbfsCacheComplexityThreshold = None,
      dbfsCacheMultiplierThreshold = None)
    // The cache table lives under the warehouse, not the metadata cacheDir;
    // the probe must still resolve to a stable map so cache-on-cache
    // plans re-fingerprint deterministically.
    val m1 = Freshness.inputDirModTimes(cached.filter(col("fr") === 9))
    val m2 = Freshness.inputDirModTimes(cached.filter(col("fr") === 9))
    assert(m1 == m2)
  }

  test("multiple input dirs coalesce by parent and sort deterministically") {
    // both single-file tables share the sf0.001 parent => one dir entry
    val a = spark.read.parquet(s"${TestSpark.sf0001}/nation.parquet")
    val b = spark.read.parquet(s"${TestSpark.sf0001}/region.parquet")
    val m = dirLines(Freshness.inputDirModTimes(
      a.join(b, col("n_regionkey") === col("r_regionkey"))))
    assert(m.size == 1 && m.keys.head.endsWith("sf0.001"))
    // genuinely distinct parents (directory-style tables) stay separate
    val d = Files.createTempDirectory("graft-fresh2").toString
    a.write.mode("overwrite").parquet(s"$d/na")
    b.write.mode("overwrite").parquet(s"$d/re")
    val m2 = dirLines(Freshness.inputDirModTimes(
      spark.read.parquet(s"$d/na").join(
        spark.read.parquet(s"$d/re"),
        col("n_regionkey") === col("r_regionkey"))))
    assert(m2.size == 2)
    assert(m2.keys.toSeq == m2.keys.toSeq.sorted)
  }

  test("direct-data catalog reads yield an empty source map") {
    val df = spark.createCachedDataFrame(
      Seq(org.apache.spark.sql.Row(7, "x")), "id INT, v STRING")
    assert(Freshness.inputDirModTimes(df).isEmpty)
  }

  test("Delta schema-change errors force invalidation; other errors refuse the frame") {
    // The reference's Delta branch (core_caching.py:258-269), pinned
    // without a Delta jar: the real error carries the
    // DELTA_SCHEMA_CHANGE_SINCE_ANALYSIS code in its message.
    val delta = Freshness.inputFilesSafe(throw new RuntimeException(
      "[DELTA_SCHEMA_CHANGE_SINCE_ANALYSIS] The schema of your Delta " +
        "table has changed in an incompatible way"))
    assert(delta.exists(_.isLeft))
    assert(delta.get.swap.toOption.get.keySet ==
      Set(Freshness.SchemaChangedPlaceholder),
      "schema change must map to the invalidation placeholder")
    // Any other failure: no snapshot at all (not an empty source map,
    // which would key the entry on the plan alone).
    val other = Freshness.inputFilesSafe(
      throw new RuntimeException("FileNotFoundException: gone"))
    assert(other.isEmpty)
    // Success passes the fetched value through untouched.
    assert(Freshness.inputFilesSafe(Array("f1", "f2")).get.toOption.get.toList == List("f1", "f2"))

    // End to end: a relation whose FileIndex throws has no fingerprint.
    // No entry is written for it, and an entry keyed on its plan alone
    // (what an empty source map would key) is not served.
    val d = Files.createTempDirectory("graft-flaky").toString + "/t"
    spark.range(0, 10, 1, 1).write.parquet(d)
    val rel = spark.read.parquet(d).queryExecution.analyzed.collectFirst {
      case LogicalRelation(h: HadoopFsRelation, _, _, _, _) => h
    }.get
    val index = new FreshnessSpec.FlakyIndex(rel.location)
    val df = Bridge.ofRows(spark, LogicalRelation(rel.copy(location = index)(spark)))
      .filter(col("id") > 3)
    CacheIO.write(df, CacheKey(ListMap.empty[String, String], PlanFingerprint.getQueryPlan(df)))
    spark.sql(s"CREATE DATABASE IF NOT EXISTS ${CacheConfig.current.cacheDatabase}")
    def nTables = spark.catalog.listTables(CacheConfig.current.cacheDatabase).count()
    val n0 = nTables
    index.broken = true
    assert(Freshness.snapshot(df).isEmpty)
    intercept[IllegalArgumentException](Freshness.inputDirModTimes(df))
    assert(df.cacheToDbfs(overridePreferSparkCache = true,
      dbfsCacheComplexityThreshold = None, dbfsCacheMultiplierThreshold = None) eq df,
      "a frame whose sources cannot be listed passes through")
    assert(CacheIO.readCacheIfExist(df).isEmpty, "the plan-only entry must not be served")
    intercept[IllegalArgumentException](CacheIO.writeCache(df))
    assert(nTables == n0, "nothing may be written for it")
  }

  test("the snapshot is the file list the DataFrame scans, as Spark listed it") {
    // Pinned contract (the same as Spark's own scans and REFRESH TABLE):
    // the files are those the relation's FileIndex listed when the
    // DataFrame was created. Taking the snapshot lists nothing, so it
    // survives the directory's removal; a DataFrame re-read after a
    // source change lists again and gets a new fingerprint.
    val d = Files.createTempDirectory("graft-snap").toString + "/t"
    spark.range(0, 100, 1, 2).write.parquet(d)
    val held = spark.read.parquet(d)
    val m0 = Freshness.inputDirModTimes(held)
    val bytes0 = Freshness.snapshot(held).get.totalBytes
    assert(bytes0 > 0)
    spark.range(0, 50, 1, 1).write.mode("append").parquet(d)
    assert(Freshness.inputDirModTimes(held) == m0,
      "a held DataFrame keeps the files it was created with")
    val reread = spark.read.parquet(d)
    assert(Freshness.inputDirModTimes(reread) != m0, "a re-read sees the new file")
    assert(Freshness.snapshot(reread).get.totalBytes > bytes0)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
    assert(Freshness.inputDirModTimes(held) == m0, "the snapshot lists no directory")
    assert(Complexity.estimate(held)._3 == bytes0 / (1024.0 * 1024 * 1024),
      "the cost model sizes inputs from the same snapshot")
  }
}

object FreshnessSpec {
  /** A FileIndex that fails every listing once `broken` is set. */
  final class FlakyIndex(inner: FileIndex) extends FileIndex {
    @volatile var broken = false
    override def rootPaths: Seq[Path] = inner.rootPaths
    override def listFiles(
        partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      if (broken) throw new java.io.IOException("listing failed")
      else inner.listFiles(partitionFilters, dataFilters)
    override def inputFiles: Array[String] = inner.inputFiles
    override def refresh(): Unit = inner.refresh()
    override def sizeInBytes: Long = inner.sizeInBytes
    override def partitionSchema: StructType = inner.partitionSchema
  }
}
