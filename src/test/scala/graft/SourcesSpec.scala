package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.extensions._
import graft.sources.Sources

/** Format coverage: JSON and CSV sources flow through the cache loop
  * with the same fingerprint/freshness semantics as parquet (the
  * reference's tested formats are Parquet and JSON, `README.md:131-134`). */
class SourcesSpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  private def cacheIt(df: org.apache.spark.sql.DataFrame) =
    df.cacheToDbfs(
      overridePreferSparkCache = true,
      dbfsCacheComplexityThreshold = None,
      dbfsCacheMultiplierThreshold = None)

  test("JSON source: cache write, hit, and invalidate-on-overwrite") {
    val d = Files.createTempDirectory("graft-json").toString
    spark.read.parquet(s"${TestSpark.sf0001}/nation.parquet")
      .write.mode("overwrite").json(s"$d/nation")
    val ddl = "n_nationkey INT, n_name STRING, n_regionkey INT"

    def q() = Sources.json(spark, s"$d/nation", ddl).groupBy("n_regionkey").count()
    cacheIt(q())
    val h0 = CacheIO.tableHash(q())
    assert(CacheIO.readCacheIfExist(q()).isDefined, "identical JSON query hits")

    spark.read.parquet(s"${TestSpark.sf0001}/nation.parquet")
      .write.mode("overwrite").json(s"$d/nation")
    assert(CacheIO.tableHash(q()) != h0, "JSON overwrite must invalidate")
    assert(CacheIO.readCacheIfExist(q()).isEmpty)
  }

  test("CSV source round-trips with explicit schema and caches") {
    val d = Files.createTempDirectory("graft-csv").toString
    spark.read.parquet(s"${TestSpark.sf0001}/region.parquet")
      .write.mode("overwrite").option("header", "true").csv(s"$d/region")
    val df = Sources.csv(spark, s"$d/region", "r_regionkey INT, r_name STRING")
    assert(df.count() == 5)
    val cached = cacheIt(df.orderBy("r_regionkey"))
    assert(cached.collect().map(_.getInt(0)).toSeq == Seq(0, 1, 2, 3, 4))
  }

  test("ORC source round-trips with explicit schema and caches") {
    val d = Files.createTempDirectory("graft-orc").toString
    spark.read.parquet(s"${TestSpark.sf0001}/supplier.parquet")
      .write.mode("overwrite").orc(s"$d/supplier")
    val df = Sources.orc(spark, s"$d/supplier",
      "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE")
    val orig = spark.read.parquet(s"${TestSpark.sf0001}/supplier.parquet")
      .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    assert(df.exceptAll(orig).isEmpty && orig.exceptAll(df).isEmpty,
      "ORC round trip must preserve every row")
    val cached = cacheIt(df.groupBy("s_nationkey")
      .agg(sum("s_acctbal").as("bal")))
    assert(cached.count() > 0)
  }

  test("permissive JSONL captures malformed lines instead of dropping them") {
    import org.apache.spark.sql.functions._
    val path = Fixtures.jsonlMixedNation(spark, TestSpark.sf0001)
    // cache the parsed result: Spark disallows queries whose referenced
    // columns reduce to only the corrupt-record column on a raw scan
    val df = Sources.jsonPermissive(
      spark, path, "n_nationkey BIGINT, n_name STRING").cache()
    val total = df.count()
    val bad = df.filter(col("_corrupt").isNotNull)
    val good = df.filter(col("_corrupt").isNull)
    assert(bad.count() == total / 5,
      "every 5th fixture line is malformed and must be captured, not dropped")
    assert(bad.filter(col("n_nationkey").isNotNull).count() == 0,
      "schema fields of a corrupt row are null")
    assert(good.filter(col("n_nationkey").isNull).count() == 0,
      "good rows parse fully")
    assert(bad.filter(not(col("_corrupt").startsWith("{\"n_nationkey\":")))
      .count() == 0, "_corrupt holds the raw line")
  }

  test("events source converts nanos and feeds the corpus queries") {
    val e = Sources.events(spark, TestSpark.sf0001)
    assert(e.schema("ts").dataType.typeName == "timestamp")
    assert(e.count() > 0)
  }

  test("events source does not mutate the caller session's conf") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    val e = Sources.events(spark, TestSpark.sf0001)
    assert(e.count() > 0) // force execution through the isolated session
    assert(spark.conf.getOption(key) == before,
      "legacy nanos conf must stay scoped to the isolated read session")
  }

  private val fixtureTables = Seq("customer", "documents", "embeddings", "events",
    "lineitem", "nation", "orders", "part", "region", "supplier")

  test("Sources.table: spark.read.parquet's schema and fingerprint, without a schema job") {
    for (dir <- Seq(TestSpark.sf0001, TestSpark.sf001); name <- fixtureTables) {
      val (inferred, inferJobs) = TestSpark.jobsDuring(spark.read.parquet(s"$dir/$name.parquet"))
      val (read, readJobs) = TestSpark.jobsDuring(Sources.table(spark, dir, name))
      assert(read.schema == inferred.schema, s"$dir/$name")
      // The fingerprint text is what names a cache entry: equal text,
      // equal keys, so entries written before the reader still hit.
      assert(PlanFingerprint.getQueryPlan(read) == PlanFingerprint.getQueryPlan(inferred),
        s"$dir/$name")
      assert(readJobs == 0 && inferJobs == 1,
        s"$dir/$name: reader ran $readJobs jobs, spark.read.parquet $inferJobs")
    }
  }

  test("Sources.events reads its schema on the driver and keeps ts a timestamp") {
    val (e, jobs) = TestSpark.jobsDuring(Sources.events(spark, TestSpark.sf001))
    assert(jobs == 0)
    assert(e.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
  }

  test("Sources.table fails when the frame is built if the path is missing") {
    val missing = Files.createTempDirectory("graft-missing").toString
    intercept[java.io.FileNotFoundException](Sources.table(spark, missing, "nation"))
  }
}
