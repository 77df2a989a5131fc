package graft

import java.nio.charset.StandardCharsets

import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, SubqueryAlias}

/** Cache materialization and lookup.
  *
  * A cache entry is a [[CacheKey]]: a table named by hash in the cache
  * database plus its metadata sidecar — reference
  * `dbfs_spark_cache/core_caching.py` (`write_dbfs_cache` `:474-516`,
  * `read_dbfs_cache_if_exist` `:409-471`, `_write_standard_cache`
  * `:64-115`). Every standard entry's key comes from [[Fingerprint]],
  * which refuses frames it cannot identify; every reader goes through
  * [[lookup]] and every writer through [[write]], and both decide with
  * the one hit check [[isLive]].
  * Metadata goes through Hadoop `FileSystem` so any scheme (file://,
  * s3a://, abfss://) works unchanged.
  *
  * Scale note: the cache write is a full distributed job
  * (`saveAsTable`); everything else here is O(1) driver-side metadata, so
  * lookups stay cheap no matter the data size.
  */
object CacheIO {

  // --- tiny Hadoop-FS text IO (reference uses dbutils.fs: core_caching.py:47-61) ---

  def readTextIfExists(pathStr: String, conf: Configuration): Option[String] =
    try {
      val p = new Path(pathStr)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try Some(new String(org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8))
        finally in.close()
      }
    } catch { case NonFatal(_) => None }

  def writeText(pathStr: String, content: String, conf: Configuration): Unit = {
    val p = new Path(pathStr)
    val fs = p.getFileSystem(conf)
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  def exists(pathStr: String, conf: Configuration): Boolean =
    try {
      val p = new Path(pathStr)
      p.getFileSystem(conf).exists(p)
    } catch { case NonFatal(_) => false }

  private def hadoopConf(spark: SparkSession): Configuration =
    spark.sparkContext.hadoopConfiguration

  /** The one hit check: whether the entry `hash` can be served. Three
    * conditions, cheapest first so a miss costs one filesystem call:
    * the sidecar exists, the catalog has the table, and the table's
    * storage location exists. The metastore can outlive the warehouse
    * (persistent metastore, wiped or re-pointed warehouse dir) — the
    * reverse of the orphan [[writeCacheData]] sweeps — and Spark reads
    * such a table as empty, or fails file-not-found while it still holds
    * the old listing, so it is a miss and the recompute rewrites it. An
    * unreadable catalog entry counts as located. */
  def isLive(spark: SparkSession, hash: String): Boolean = {
    val cfg = CacheConfig.current
    val table = cfg.tableNameFromHash(hash)
    def located: Boolean =
      try {
        val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
        val loc = new Path(spark.sessionState.catalog.getTableMetadata(ident).location)
        loc.getFileSystem(hadoopConf(spark)).exists(loc)
      } catch { case NonFatal(_) => true }
    if (!exists(cfg.metadataPath(hash), hadoopConf(spark))) false
    else if (!spark.catalog.tableExists(table)) {
      PlanFingerprint.log(s"Cache metadata exists but table $table does not")
      false
    } else if (!located) {
      PlanFingerprint.log(s"Cache table $table exists but its storage location is gone")
      false
    } else true
  }

  /** The table-backed frame of a live entry, else None (reference
    * `core_caching.py:409-471`). */
  def lookup(spark: SparkSession, key: CacheKey): Option[DataFrame] =
    if (isLive(spark, key.hash)) Some(spark.read.table(key.table)) else None

  /** `CREATE DATABASE IF NOT EXISTS` + overwrite-save the cache table
    * (reference `core_caching.py:37-44`; format pluggable, parquet
    * locally since Delta isn't on the classpath).
    *
    * `partitionBy` (absent in the reference, which writes one
    * unpartitioned table per entry) lets hot caches be layout-aware at
    * scale: downstream filters on the partition column prune files
    * instead of scanning the whole materialization. Partitioning is
    * physical layout only — it does not participate in the fingerprint.
    */
  def writeCacheData(
      dfW: DataFrame,
      tbl: String,
      partitionBy: Seq[String] = Nil,
      bucketBy: Option[(Int, Seq[String])] = None): Unit = {
    val spark = dfW.sparkSession
    val cfg = CacheConfig.current
    spark.sql(s"CREATE DATABASE IF NOT EXISTS ${cfg.cacheDatabase}")
    // A cache table's DIRECTORY can outlive its catalog entry: the
    // warehouse persists across processes while a fresh session
    // metastore starts empty (the reverse of the storage check in
    // isLive). Creating a managed table over a leftover
    // location fails LOCATION_ALREADY_EXISTS — the location is ours by
    // construction (hash-named dir under the cache database), so clear
    // it when the catalog has no such table. Guard: the sweep computes
    // the location as <cacheDb location>/<suffix>, so it is ONLY valid
    // for tables that actually live in the cache database — a caller
    // passing `otherdb.t` must not delete cachedb's same-named dir.
    val tblParts = tbl.split('.')
    val tblInCacheDb =
      if (tblParts.length >= 2) tblParts.dropRight(1).mkString(".") == cfg.cacheDatabase
      else spark.catalog.currentDatabase == cfg.cacheDatabase
    if (tblInCacheDb && !spark.catalog.tableExists(tbl)) {
      try {
        // The database's location is fixed at creation and can differ
        // from the session's current warehouse conf — resolve through
        // the catalog, never by re-deriving from spark.sql.warehouse.dir.
        val dbLoc = spark.sessionState.catalog
          .getDatabaseMetadata(cfg.cacheDatabase).locationUri
        val tableDir = tblParts.last
        if (tableDir.nonEmpty) {
          val loc = new Path(new Path(dbLoc), tableDir)
          val fs = loc.getFileSystem(hadoopConf(spark))
          if (fs.exists(loc)) fs.delete(loc, true)
        }
      } catch { case NonFatal(_) => () }
    }
    val w0 = dfW.write.format(cfg.cacheFormat).mode("overwrite")
    val w1 = if (partitionBy.nonEmpty) w0.partitionBy(partitionBy: _*) else w0
    // Bucketing co-locates equal keys: two cache tables bucketed the
    // same way join with NO exchange — at 100 TB this removes the
    // dominant shuffle from repeated joins on the cached results.
    val w2 = bucketBy match {
      case Some((n, cols)) =>
        w1.bucketBy(n, cols.head, cols.tail: _*).sortBy(cols.head, cols.tail: _*)
      case None => w1
    }
    w2.saveAsTable(tbl)
  }

  /** Materialize `df` as the entry `key`: table first, sidecar last;
    * skipped entirely when the entry is already live (reference
    * `core_caching.py:64-115`). Unlike the reference the table is written
    * exactly once (its `:113-114` double-write is a bug SURVEY.md flags
    * as not-to-replicate). Returns the table-backed frame, or `df` when
    * the table cannot be read back. */
  def write(
      df: DataFrame,
      key: CacheKey,
      partitionBy: Seq[String] = Nil,
      bucketBy: Option[(Int, Seq[String])] = None): DataFrame = {
    val spark = df.sparkSession
    if (isLive(spark, key.hash)) PlanFingerprint.log(s"Entry ${key.hash} is live. Skip.")
    else {
      writeCacheData(df, key.table, partitionBy, bucketBy)
      writeText(key.metadataPath, key.metadataTxt, hadoopConf(spark))
    }
    // Make a standard entry visible to the analysis-phase substitution rule.
    CacheMetadata.extractQueryPlan(key.metadataTxt)
      .foreach(graft.plans.AutoSubstitute.register(_, key.hash))
    try spark.read.table(key.table)
    catch { case NonFatal(_) => df }
  }

  /** [[lookup]] of `df`'s [[Fingerprint]]; the plan text and source
    * lines may be passed in when the caller already has them. None on a
    * miss, and for a frame the fingerprint refuses. */
  def readCacheIfExist(
      df: DataFrame,
      queryPlan: Option[String] = None,
      inputDirModDatetime: Option[ListMap[String, String]] = None): Option[DataFrame] =
    Fingerprint.of(df.queryExecution.analyzed,
        queryPlan.orElse(PlanFingerprint.queryPlan(df)), inputDirModDatetime)
      .toOption.flatMap(fp => lookup(df.sparkSession, fp.key))

  /** [[write]] `df` under its own [[Fingerprint]] (reference
    * `core_caching.py:474-516`). With `replace` the caller's lineage is
    * replaced by a plain table scan, so downstream plans hash against
    * the cache table. Throws IllegalArgumentException, writing nothing,
    * for a frame the fingerprint refuses. */
  def writeCache(df: DataFrame, replace: Boolean = true): DataFrame = {
    val out = write(df, Fingerprint.required(df).key)
    if (replace) out else df
  }

  /** The hash of the entry `df` already is, if any: a direct-data frame's
    * registry tag, or the name of the cache table (standard 32-hex or
    * `data_*`) that `df` is nothing but a scan of. Such a frame IS the
    * cache — re-caching it would materialize a second copy under a new
    * fingerprint. Only a *pure* scan reuses the table's hash; any
    * Project/Filter/Join on top must re-hash (reference `get_table_hash`
    * cascade, `core_caching.py:543-552`). `plan` is `df`'s rendered plan. */
  def storedHash(df: DataFrame, plan: String): Option[String] =
    DirectData.taggedHash(df).orElse {
      def strip(p: LogicalPlan): LogicalPlan = p match {
        case SubqueryAlias(_, child) => strip(child)
        case other => other
      }
      val db = CacheConfig.current.cacheDatabase
      if (!strip(df.queryExecution.analyzed).isInstanceOf[LeafNode]) None
      else Seq("data_", "").view.flatMap(PlanFingerprint.findCatalogTablePattern(plan, db, _))
        .headOption
    }

  /** A cache hit returns the stored table as-is; if the caller asked for
    * a partitioned/bucketed layout the stored table doesn't have, the
    * documented no-exchange co-located-join property silently wouldn't
    * hold. Surface the mismatch (layout is physical only and not part of
    * the fingerprint, so the hit itself is correct). */
  def warnOnLayoutMismatch(
      spark: SparkSession,
      tableName: String,
      partitionBy: Seq[String],
      bucketBy: Option[(Int, Seq[String])]): Boolean =
    try {
      val cols = spark.catalog.listColumns(tableName).collect()
      val storedPart = cols.filter(_.isPartition).map(_.name).toSeq
      val storedBucket = cols.filter(_.isBucket).map(_.name).toSeq
      val wantBucket = bucketBy.map(_._2).getOrElse(Nil)
      val mismatch = storedPart != partitionBy || storedBucket != wantBucket
      if (mismatch)
        PlanFingerprint.log(
          s"Cache hit $tableName but stored layout (partitionBy=$storedPart, " +
            s"bucketBy=$storedBucket) differs from requested " +
            s"(partitionBy=$partitionBy, bucketBy=$wantBucket); returning the " +
            "stored layout. clearDbfsCache() then re-cache to relayout.")
      mismatch
    } catch { case NonFatal(_) => false }

  /** Spark-cache (memory/disk) marker check (reference
    * `core_caching.py:519-524`). */
  def isSparkCached(df: DataFrame): Boolean =
    try df.storageLevel.useMemory || df.storageLevel.useDisk
    catch { case NonFatal(_) => false }

  /** Hash cascade for a DataFrame (reference `core_caching.py:527-571`):
    * the entry it already is ([[storedHash]]), then a cache-table hash
    * extracted from the metadata text, else its [[Fingerprint]]'s hash.
    * Throws IllegalArgumentException for a frame the fingerprint refuses:
    * such a DataFrame has no hash. */
  def tableHash(df: DataFrame): String = {
    val fp = Fingerprint.required(df)
    storedHash(df, fp.plan).orElse(PlanFingerprint.getHashFromMetadata(fp.key.metadataTxt))
      .getOrElse(fp.key.hash)
  }
}
