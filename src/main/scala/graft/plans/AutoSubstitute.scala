package graft.plans

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

import graft.{CacheConfig, CacheIO, CacheMetadata, Fingerprint, PlanFingerprint}

/** Transparent cache substitution — the Catalyst-rule variant of the
  * cache lookup (SURVEY §4.2's "optional advanced" path).
  *
  * `cacheToDbfs` substitutes at the API layer: the caller must hold the
  * exact DataFrame. This rule substitutes at ANALYSIS time: any SUBTREE
  * of any query whose fingerprint matches an existing cache entry is
  * rewritten to a scan of the cache table — so a cached aggregation
  * reused inside a bigger join, or re-derived from scratch in another
  * notebook cell, is served from the cache without the caller ever
  * mentioning it. Same phase as Spark's own `CacheManager.useCachedData`
  * (analyzed plans, before optimization moves filters across the
  * subtree boundary), and the same fingerprint pipeline as the API
  * layer, so entries written by either path are visible to both.
  *
  * Cost control: subtrees are pre-filtered against an in-memory index of
  * plan-text hashes harvested from the cache metadata dir — non-matching
  * subtrees cost one plan render + MD5, no I/O. The render is the
  * untruncated one the index holds ([[graft.PlanFingerprint.render]]),
  * so subtrees over sources of any width match. A matching subtree takes
  * its identity from [[graft.Fingerprint]] with that render: it is
  * refused when `cacheToDbfs` would refuse it (in-memory or RDD leaves,
  * say), and keyed from the file lists its relations' FileIndexes
  * already hold, so it lists no directory either; only
  * [[graft.CacheIO.lookup]], the hit check `cacheToDbfs` uses too,
  * touches storage.
  *
  * Gate: `spark.graft.autoSubstitute` via `CacheConfig.autoSubstitute`
  * (default off — parity with the reference requires API-layer-only
  * behavior). Install via `GraftSparkExtensions` or
  * `builder.withExtensions(...)`.
  */
object AutoSubstitute {

  /** planTextMd5 -> cache hash name, harvested from metadata files. */
  private val index = TrieMap.empty[String, String]
  @volatile private var loadedFrom: String = null

  /** Called by `CacheIO.writeCache` after a successful write. */
  def register(cleanedPlanText: String, hashName: String): Unit =
    index.put(PlanFingerprint.md5Hex(cleanedPlanText), hashName)

  def clear(): Unit = { index.clear(); loadedFrom = null }

  /** Harvest plan-text hashes from every entry's metadata sidecar once
    * per cache dir (re-harvested when the configured dir changes). */
  private def ensureLoaded(spark: SparkSession): Unit = {
    val cfg = CacheConfig.current
    val dir = cfg.cacheDirSlash
    if (loadedFrom == dir) return
    synchronized {
      if (loadedFrom == dir) return
      try {
        val base = new Path(dir)
        val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(base)) {
          fs.listStatus(base).filter(_.isDirectory).foreach { d =>
            CacheIO
              .readTextIfExists(cfg.metadataPath(d.getPath.getName),
                spark.sparkContext.hadoopConfiguration)
              .flatMap(CacheMetadata.extractQueryPlan)
              .foreach(planText =>
                index.put(PlanFingerprint.md5Hex(planText), d.getPath.getName))
          }
        }
      } catch { case NonFatal(_) => () }
      loadedFrom = dir
    }
  }

  final case class SubstituteCachedPlans(spark: SparkSession)
      extends Rule[LogicalPlan] {

    override def apply(plan: LogicalPlan): LogicalPlan = {
      if (!CacheConfig.current.autoSubstitute) return plan
      if (!plan.resolved) return plan
      ensureLoaded(spark)
      if (index.isEmpty) return plan
      plan.transformDown {
        case sub if !sub.isInstanceOf[LeafNode] && sub.resolved =>
          trySubstitute(sub).getOrElse(sub)
      }
    }

    private def trySubstitute(sub: LogicalPlan): Option[LogicalPlan] = {
      val planText = PlanFingerprint.render(sub).getOrElse(return None)
      // Never rewrite plans that already read cache tables (prevents
      // cache-on-cache re-entrancy; such plans need no substitution).
      if (planText.contains(CacheConfig.current.cacheDatabase + ".")) return None
      if (!index.contains(PlanFingerprint.md5Hex(planText))) return None
      val key = Fingerprint.of(sub, Some(planText), None).getOrElse(return None).key
      val replacement =
        CacheIO.lookup(spark, key).getOrElse(return None).queryExecution.analyzed
      if (replacement.output.size != sub.output.size) return None
      val compatible = replacement.output.zip(sub.output).forall {
        case (n, o) => n.name == o.name && n.dataType == o.dataType
      }
      if (!compatible) return None
      logInfo(s"graft auto-substitution: subtree served from ${key.table}")
      // Re-bind the cache relation's fresh attributes to the original
      // subtree's expression IDs so parents resolve unchanged.
      Some(Project(
        replacement.output.zip(sub.output).map { case (n, o) =>
          Alias(n, o.name)(exprId = o.exprId, qualifier = o.qualifier)
        }, replacement))
    }
  }
}
