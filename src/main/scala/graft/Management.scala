package graft

import java.time.format.DateTimeFormatter
import java.time.{Duration, Instant, LocalDateTime, ZoneOffset}

import scala.concurrent.duration.{Duration => SDuration}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** A cache-registry row (reference `utils.py:8-10`: pandas columns
  * `table_name, hash_name, directory_path, creationTime`). */
final case class CacheEntry(
    tableName: String,
    hashName: String,
    directoryPath: String,
    creationTime: String)

/** Cache lifecycle management: listing, TTL cleanup, consistency repair,
  * per-hash delete (reference `dbfs_spark_cache/cache_management.py`).
  *
  * The reference materializes registries as driver-side pandas frames —
  * fine here too because the registry is one row per cache entry, never
  * per data row; FS-bound loops run on a small thread pool like the
  * reference's `ThreadPoolExecutor` (`cache_management.py:139-147`).
  */
object Management {

  private implicit val ec: ExecutionContext = ExecutionContext.global
  private def await[T](fs: Seq[Future[T]]): Seq[T] =
    Await.result(Future.sequence(fs), SDuration.Inf)

  /** Registry from the catalog: tables in the cache database with
    * location + creation time (reference `cache_management.py:28-86`;
    * `DESCRIBE DETAIL` is Delta-only so we parse `DESCRIBE FORMATTED`). */
  def getTablesFromDatabase(spark: SparkSession): Seq[CacheEntry] = {
    val db = CacheConfig.current.cacheDatabase
    if (!spark.catalog.databaseExists(db)) return Seq.empty
    val tables = spark.catalog.listTables(db).collect().filterNot(_.isTemporary)
    tables.toIndexedSeq.map { t =>
      val rows = spark.sql(s"DESCRIBE FORMATTED $db.${t.name}").collect()
      def field(name: String): String =
        rows
          .find(_.getString(0).trim.equalsIgnoreCase(name))
          .map(_.getString(1).trim)
          .getOrElse("")
      CacheEntry(s"$db.${t.name}", t.name, field("Location"), field("Created Time"))
    }
  }

  /** Registry with filesystem fallback: list the cache database's
    * warehouse dirs, sorted by creation time (reference
    * `cache_management.py:88-155`). */
  def getCachedTables(spark: SparkSession): Seq[CacheEntry] = {
    val db = CacheConfig.current.cacheDatabase
    if (!spark.catalog.databaseExists(db)) return Seq.empty
    val loc = new Path(spark.catalog.getDatabase(db).locationUri)
    val conf = spark.sparkContext.hadoopConfiguration
    try {
      val fs = loc.getFileSystem(conf)
      fs.listStatus(loc)
        .filter(_.isDirectory)
        .toIndexedSeq
        .map { st =>
          val name = st.getPath.getName
          CacheEntry(
            s"$db.$name",
            name,
            st.getPath.toString,
            Freshness.formatMillis(st.getModificationTime))
        }
        .sortBy(_.creationTime)
    } catch { case NonFatal(_) => Seq.empty }
  }

  /** Scan each entry directory's metadata sidecar into registry rows
    * keyed by the dir-name hash (reference `cache_management.py:328-379`). */
  def getCachedDataframeMetadata(spark: SparkSession): Seq[CacheEntry] = {
    val cfg = CacheConfig.current
    val base = new Path(cfg.cacheDirSlash)
    val conf = spark.sparkContext.hadoopConfiguration
    try {
      val fs = base.getFileSystem(conf)
      val dirs = fs.listStatus(base).filter(_.isDirectory).toIndexedSeq
      await(dirs.map { d =>
        Future {
          val hash = d.getPath.getName
          val meta = new Path(cfg.metadataPath(hash))
          if (fs.exists(meta)) {
            Some(CacheEntry(
              cfg.tableNameFromHash(hash),
              hash,
              d.getPath.toString,
              Freshness.formatMillis(fs.getFileStatus(meta).getModificationTime)))
          } else None
        }
      }).flatten
    } catch { case NonFatal(_) => Seq.empty }
  }

  /** Drop table if exists + remove the metadata dir (reference
    * `cache_management.py:290-325`; same non-empty guards). */
  def clearCacheForHash(spark: SparkSession, hashName: String): Unit = {
    require(hashName.nonEmpty, "hashName must be non-empty")
    val cfg = CacheConfig.current
    require(cfg.cacheDatabase.nonEmpty && cfg.sparkCacheDir.nonEmpty,
      "cache config must be non-empty")
    spark.sql(s"DROP TABLE IF EXISTS ${cfg.tableNameFromHash(hashName)}")
    val dir = new Path(cfg.metadataPath(hashName)).getParent
    try {
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(dir)) fs.delete(dir, true)
    } catch { case NonFatal(_) => () }
  }

  /** Overload resolving the active session. */
  def clearCacheForHash(hashName: String): Unit =
    clearCacheForHash(
      SparkSession.active,
      hashName)

  /** TTL cleanup: delete entries older than `numDays` (reference
    * `cache_management.py:157-227`). Matches the reference's semantics:
    * the registry is the TABLE registry (`get_cached_tables()`,
    * `cache_management.py:170`), and deletion proceeds in BOTH
    * `confirmDelete` branches — the flag only changes logging (the
    * reference's interactive prompt is commented out, `:190-201`).
    * `specificDatabase` temporarily swaps the configured database like
    * the reference does. */
  def clearCachesOlderThan(
      spark: SparkSession,
      numDays: Int = 7,
      specificDatabase: Option[String] = None,
      confirmDelete: Boolean = false): Seq[String] = {
    def run(): Seq[String] = {
      val cutoff = LocalDateTime.now(ZoneOffset.UTC).minus(Duration.ofDays(numDays.toLong))
      val fmt: DateTimeFormatter = Freshness.TsFormat
      val old = getCachedTables(spark).filter { e =>
        try LocalDateTime.parse(e.creationTime, fmt).isBefore(cutoff)
        catch { case NonFatal(_) => false }
      }
      if (old.isEmpty) return Seq.empty
      PlanFingerprint.log(
        (if (confirmDelete) s"Found ${old.size} cache(s)"
         else s"confirm_delete is false. Proceeding with deletion of ${old.size} cache(s)") +
          s" older than $numDays days.")
      await(old.map(e => Future { clearCacheForHash(spark, e.hashName) }))
      old.map(_.hashName)
    }
    specificDatabase match {
      case Some(db) =>
        CacheConfig.withConfig(CacheConfig.current.copy(cacheDatabase = db))(run())
      case None => run()
    }
  }

  /** Consistency repair: outer-join the metadata registry with the table
    * registry on hash and delete one-sided orphans (reference
    * `cache_management.py:229-288`). */
  def clearInconsistentCache(spark: SparkSession): Seq[String] = {
    val metaHashes = getCachedDataframeMetadata(spark).map(_.hashName).toSet
    val tableHashes = getTablesFromDatabase(spark).map(_.hashName).toSet
    val orphans = (metaHashes union tableHashes) diff (metaHashes intersect tableHashes)
    await(orphans.toSeq.map(h => Future { clearCacheForHash(spark, h) }))
    orphans.toSeq.sorted
  }
}
