package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Encoder, Row, SparkSession}

/** Public API surface: idiomatic implicit extension methods replacing the
  * reference's monkey-patching (`dbfs_spark_cache/dataframe_extensions.py`).
  *
  * {{{
  * import graft.extensions._
  * val cached = df.cacheToDbfs()
  * df.wcd()                         // cache-if-triggered + display
  * spark.createCachedDataFrame(rows, "a INT, b STRING")
  * }}}
  */
object extensions {

  /** `PREFER_SPARK_CACHE && !serverless` (reference `caching.py:219-221`,
    * `utils.py:13-19`). */
  def shouldPreferSparkCache(): Boolean =
    CacheConfig.current.preferSparkCache && !isServerlessCluster()

  /** Env probe kept for API parity; always false locally (reference
    * `utils.py:13-19`). */
  def isServerlessCluster(): Boolean =
    sys.env.getOrElse("DATABRICKS_RUNTIME_VERSION", "").startsWith("client.")

  implicit class RichDataFrame(private val df: DataFrame) extends AnyVal {

    /** Main entry: plan guard -> cache lookup -> cost-model threshold veto
      * -> spark-cache vs cache-table write (reference
      * `dataframe_extensions.py:29-133`).
      *
      * Thresholds default to the config values (130 / 1.01) per
      * SURVEY §2.D(2); pass `None` to disable a check. Each threshold
      * independently vetoes (README.md:75 "both conditions met").
      */
    def cacheToDbfs(
        overridePreferSparkCache: Boolean = false,
        dbfsCacheComplexityThreshold: Option[Double] =
          CacheConfig.current.defaultComplexityThreshold,
        dbfsCacheMultiplierThreshold: Option[Double] =
          CacheConfig.current.defaultMultiplierThreshold,
        partitionBy: Seq[String] = Nil,
        bucketBy: Option[(Int, Seq[String])] = None): DataFrame = {
      // No fingerprint, no cache: a frame the fingerprint refuses (an
      // unrenderable plan, in-memory data) passes through. Its one source
      // snapshot serves the key, the lookup and, on a miss, the cost
      // model's input size.
      val fp = Fingerprint.of(df).getOrElse(return df)
      // A frame that already is an entry (a direct-data read, or a bare
      // scan of a cache table) is returned as-is: re-caching it would
      // write a duplicate copy under a new hash (reference
      // dataframe_extensions.py:54-56).
      if (CacheIO.storedHash(df, fp.plan).isDefined) {
        PlanFingerprint.log("Already cache-backed; returning as-is.")
        return df
      }
      val key = fp.key
      CacheIO.lookup(df.sparkSession, key) match {
        case Some(hit) =>
          PlanFingerprint.log("Returning existing cache.")
          if (partitionBy.nonEmpty || bucketBy.isDefined)
            CacheIO.warnOnLayoutMismatch(df.sparkSession, key.table, partitionBy, bucketBy)
          return hit
        case None => ()
      }

      val (complexity, multiplier, _) = Complexity.estimate(df, fp.snapshot)
      val skipComplexity = dbfsCacheComplexityThreshold.exists(t =>
        t > 0 && complexity < t)
      val skipMultiplier = dbfsCacheMultiplierThreshold.exists(t =>
        t > 0 && multiplier < t)
      if (skipComplexity || skipMultiplier) {
        PlanFingerprint.log(
          f"Below threshold (complexity=$complexity%.2f, multiplier=$multiplier%.2f). Skipping cache.")
        return df
      }

      if (!overridePreferSparkCache && shouldPreferSparkCache()) df.cache()
      else CacheIO.write(df, key, partitionBy, bucketBy)
    }

    /** Threshold-gated cache without display — README/Changelog name this
      * but the reference never defines it; SURVEY §2.D(3) says provide
      * it. */
    def cacheToDbfsIfTriggered(
        dbfsCacheComplexityThreshold: Option[Double] =
          CacheConfig.current.defaultComplexityThreshold,
        dbfsCacheMultiplierThreshold: Option[Double] =
          CacheConfig.current.defaultMultiplierThreshold): DataFrame =
      cacheToDbfs(
        dbfsCacheComplexityThreshold = dbfsCacheComplexityThreshold,
        dbfsCacheMultiplierThreshold = dbfsCacheMultiplierThreshold)

    /** Drop this DataFrame's cache table + metadata dir (reference
      * `dataframe_extensions.py:135-142`). */
    def clearDbfsCache(): Unit =
      Management.clearCacheForHash(CacheIO.tableHash(df))

    /** Documented `withCachedDisplay` contract (README.md:37-46 and
      * SURVEY §2.D(1)): cache-if-triggered then display, returning the
      * (possibly cached) DataFrame so calls chain:
      * `df.wcd().groupBy(...).count().wcd()`. */
    def withCachedDisplay(
        eagerSparkCache: Boolean = false,
        skipDisplay: Boolean = false,
        skipDbfsCache: Boolean = false): DataFrame = {
      val result =
        if (skipDbfsCache && eagerSparkCache) df.cache()
        else if (skipDbfsCache) df
        else df.cacheToDbfs()
      if (!skipDisplay) result.show(20, truncate = false)
      result
    }

    /** Shorthand for [[withCachedDisplay]] (reference
      * `dataframe_extensions.py:157`). */
    def wcd(
        eagerSparkCache: Boolean = false,
        skipDisplay: Boolean = false,
        skipDbfsCache: Boolean = false): DataFrame =
      withCachedDisplay(eagerSparkCache, skipDisplay, skipDbfsCache)
  }

  implicit class RichSparkSession(private val spark: SparkSession)
      extends AnyVal {

    /** Content-hashed direct-data cache (reference
      * `core_caching.py:119-206`). */
    def createCachedDataFrame(rows: Seq[Row], schema: StructType): DataFrame =
      DirectData.createCachedDataFrame(spark, rows, schema)

    def createCachedDataFrame(rows: Seq[Row], ddl: String): DataFrame =
      DirectData.createCachedDataFrame(spark, rows, ddl)

    def createCachedDataFrame[T: Encoder](data: Seq[T]): DataFrame =
      DirectData.createCachedDataFrameTyped(spark, data)
  }

  /** Batch-persist Spark-cached DataFrames to the persistent cache, e.g.
    * before cluster shutdown (reference `caching.py:21-175`).
    * Pre-filters by complexity when thresholds are set; skips `data_*`
    * entries (already persistent) and frames the [[Fingerprint]] refuses;
    * keeps callers' lineage. Each frame is fingerprinted once: one plan
    * render and one source snapshot key, size and write it.
    */
  def backupSparkCachedToDbfs(
      specificDfs: Seq[DataFrame],
      unpersistAfterBackup: Boolean = false,
      minComplexityThreshold: Option[Double] = None,
      minMultiplierThreshold: Option[Double] = None,
      processInReverseOrder: Boolean = true): Seq[DataFrame] = {
    val ordered =
      if (processInReverseOrder) specificDfs.reverse else specificDfs
    val eligible = ordered.flatMap { d =>
      Fingerprint.of(d).toOption.filter { fp =>
        if (CacheIO.storedHash(d, fp.plan).exists(_.startsWith("data_"))) false
        else if (minComplexityThreshold.isEmpty && minMultiplierThreshold.isEmpty) true
        else
          try {
            val (value, mult, _) = Complexity.estimate(d, fp.snapshot)
            val multOk = minMultiplierThreshold.forall(mult >= _)
            val valueOk = minComplexityThreshold.forall(value > _)
            multOk && valueOk
          } catch { case NonFatal(_) => true } // inconclusive => include
      }.map(d -> _)
    }
    eligible.flatMap { case (d, fp) =>
      try {
        CacheIO.write(d, fp.key)
        if (unpersistAfterBackup) d.unpersist()
        Some(d)
      } catch {
        case NonFatal(e) =>
          PlanFingerprint.log(s"Backup failed: ${e.getMessage}")
          None
      }
    }
  }
}
