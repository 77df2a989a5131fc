package graft

import scala.util.control.NonFatal

/** Engine configuration.
  *
  * Mirrors the reference's env-driven settings
  * (`dbfs_spark_cache/config.py:6-55`): cache directory, cache database,
  * default cost-model thresholds (130 / 1.01) and the hybrid
  * spark-cache preference flag. Resolution order per key:
  * explicit value > `spark.graft.*` Spark conf > `GRAFT_*` env var >
  * default. Defaults are local-filesystem friendly (no Databricks paths).
  *
  * @param sparkCacheDir  directory holding each entry's metadata sidecar,
  *                       at [[metadataPath]] (reference `config.py:12-15`)
  * @param cacheDatabase  database for cache tables (reference `config.py:18-21`)
  * @param cacheFormat    table format for materialized caches. The
  *                       reference hard-codes Delta (`core_caching.py:41`);
  *                       Delta isn't on the local classpath so parquet is
  *                       the default and the format is pluggable.
  * @param defaultComplexityThreshold auto-cache trigger, input GB x plan
  *                       multiplier (reference `config.py:33-36`)
  * @param defaultMultiplierThreshold auto-cache trigger on the plan
  *                       multiplier alone (reference `config.py:38-41`)
  * @param preferSparkCache hybrid mode: prefer `.cache()` over an eager
  *                       cache-table write (reference `config.py:43-47`)
  */
final case class CacheConfig(
    sparkCacheDir: String = CacheConfig.resolve("cacheDir", "/tmp/graft_cache/"),
    cacheDatabase: String = CacheConfig.resolve("cacheDatabase", "cache_db"),
    cacheFormat: String = CacheConfig.resolve("cacheFormat", "parquet"),
    defaultComplexityThreshold: Option[Double] = Some(130.0),
    defaultMultiplierThreshold: Option[Double] = Some(1.01),
    preferSparkCache: Boolean =
      CacheConfig.resolve("preferSparkCache", "true").toBoolean,
    /** Cost-model estimator: keyword counting on explain text (reference
      * parity, default) vs walking the optimized logical plan tree
      * (robust to e.g. a column literally named "joined" — SURVEY §4.3's
      * flagged alternative). Both feed the same golden factor table. */
    useTreeEstimator: Boolean =
      CacheConfig.resolve("useTreeEstimator", "false").toBoolean,
    /** Transparent subtree substitution via the analysis-phase Catalyst
      * rule ([[graft.plans.AutoSubstitute]]). Off by default: reference
      * parity is API-layer-only substitution. Requires the rule to be
      * installed (GraftSparkExtensions). */
    autoSubstitute: Boolean =
      CacheConfig.resolve("autoSubstitute", "false").toBoolean
) {
  /** `{cacheDir}/` with a guaranteed trailing slash (reference
    * `core_caching.py:402`). */
  def cacheDirSlash: String =
    if (sparkCacheDir.endsWith("/")) sparkCacheDir else sparkCacheDir + "/"

  /** Fully qualified cache-table name for a hash (reference
    * `utils.py:53-57`). */
  def tableNameFromHash(hashName: String): String =
    s"$cacheDatabase.$hashName"

  /** Metadata sidecar path for a hash (reference `core_caching.py:161-162`,
    * `:402-404`): the one place the sidecar layout is spelled. */
  def metadataPath(hashName: String): String =
    s"$cacheDirSlash$hashName/cache_metadata.txt"
}

object CacheConfig {
  private def resolve(key: String, default: String): String = {
    val fromConf =
      try {
        val active = org.apache.spark.sql.SparkSession.getActiveSession
        active.flatMap(s => s.conf.getOption(s"spark.graft.$key"))
      } catch { case NonFatal(_) => None }
    fromConf
      .orElse(sys.env.get("GRAFT_" + camelToSnake(key)))
      .getOrElse(default)
  }

  private def camelToSnake(s: String): String =
    s.replaceAll("([a-z0-9])([A-Z])", "$1_$2").toUpperCase

  /** Process-wide default config; replace in tests via `withConfig`. */
  @volatile var current: CacheConfig = CacheConfig()

  /** Run `body` with a temporary config (test helper, mirrors the
    * reference's `specific_database` swap at `cache_management.py:170-180`). */
  def withConfig[T](cfg: CacheConfig)(body: => T): T = {
    val prev = current
    current = cfg
    try body
    finally current = prev
  }
}
