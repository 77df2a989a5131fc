package graft.operators

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame

/** Process-level cache for fitted spark.ml models (the IVF coarse
  * quantizer in [[Similarity.ivfCosineTopK]]; the ANN euclidean-LSH
  * path needs no model at all — [[graft.functions.EuclidLshBuckets]]
  * derives its planes from the seed).
  *
  * A fitted model is a pure function of (input data, hyper-parameters,
  * seed) — refitting it on every query execution repeats a full
  * distributed pass (KMeans) or a schema-probe job + plane draw (LSH)
  * for a bit-identical result. Keyed on the input's ANALYZED-PLAN
  * fingerprint ([[graft.PlanFingerprint.queryPlan]] — stable across
  * re-created DataFrames over the same source, insensitive to expression
  * ids) plus every parameter that feeds the fit.
  *
  * Same-session mutation of an input path invalidates the entry: the
  * key folds in [[graft.Freshness.inputDirModTimes]] (the same map the
  * table cache hashes), so an overwritten source refits. A changed
  * path, seed or parameter changes the key too;
  * `spark.graft.modelCache=false` opts out entirely. Bounded: models
  * are a few KB (planes / centroids), corpora per process are few.
  */
object ModelCache {

  val ConfKey = "spark.graft.modelCache"

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** Sorted distinct input directories of `df`'s scan(s); empty for
    * in-memory inputs (LocalRelation/ExternalRDD) or when Spark can't
    * enumerate the files. */
  private def inputDirs(df: DataFrame): Seq[String] =
    try df.inputFiles.map(f => f.substring(0, f.lastIndexOf('/').max(0)))
      .distinct.sorted.toSeq
    catch { case NonFatal(_) => Nil }

  /** Fingerprint of the DataFrame a model is fit on: analyzed plan
    * (normalized) PLUS the sorted input directories PLUS their
    * modification times — two DataFrames reading the same unchanged
    * source through the same transformations share it.
    * The directories matter: the analyzed plan prints file relations
    * WITHOUT their paths, so a plan-only key would hand one corpus's
    * fitted model to a different corpus with the same shape. The
    * mod-times matter for the same reason they drive table-cache
    * invalidation ([[graft.Freshness.inputDirModTimes]], hashed into
    * `CacheMetadata.render`): overwriting a source path in-session must
    * refit, not serve the stale model. The freshness probe reads the
    * file lists Spark's FileIndex already holds — it lists no directory.
    * None when the plan cannot be rendered: such an input has no key. */
  def inputKey(df: DataFrame): Option[String] =
    graft.PlanFingerprint.queryPlan(df).map { plan =>
      val freshness = graft.Freshness.inputDirModTimes(df)
        .map { case (d, t) => s"$d=$t" }.mkString(",")
      graft.PlanFingerprint.md5Hex(
        plan + "|" + inputDirs(df).mkString(",") + "|" + freshness)
    }

  /** Return the cached model for `key`, or run `fit` once and cache it.
    * With `spark.graft.modelCache=false` always refits (and does not
    * populate the cache).
    *
    * NEVER caches for inputs with no files (LocalRelation/ExternalRDD):
    * their analyzed plan carries schema but not DATA, so two different
    * in-memory corpora with the same shape would share one key — and
    * silently one model. File-backed inputs (the production case) are
    * the only ones the fingerprint can actually distinguish.
    *
    * The fit runs OUTSIDE any map lock (it is a distributed Spark job;
    * `computeIfAbsent` would serialize unrelated fits that share a hash
    * bin and throw on re-entrant use). Two racing threads may both fit;
    * the seeded fit is deterministic, `putIfAbsent` keeps exactly one. */
  def getOrFit[M <: AnyRef](df: DataFrame, params: String)(fit: => M): M = {
    val enabled =
      df.sparkSession.conf.get(ConfKey, "true").equalsIgnoreCase("true")
    val keyed = if (enabled && inputDirs(df).nonEmpty) inputKey(df) else None
    keyed.fold(fit) { k =>
      val key = k + "|" + params
      val existing = cache.get(key)
      if (existing != null) existing.asInstanceOf[M]
      else {
        val m = fit
        val prior = cache.putIfAbsent(key, m)
        (if (prior != null) prior else m).asInstanceOf[M]
      }
    }
  }

  /** Test hook. */
  private[graft] def clear(): Unit = cache.clear()
  private[graft] def size: Int = cache.size()
}
