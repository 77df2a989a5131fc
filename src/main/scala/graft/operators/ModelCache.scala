package graft.operators

import org.apache.spark.sql.DataFrame

/** Process-level cache for fitted spark.ml models (the IVF coarse
  * quantizer in [[Similarity.ivfCosineTopK]]; the ANN euclidean-LSH
  * path needs no model at all — [[graft.functions.EuclidLshBuckets]]
  * derives its planes from the seed).
  *
  * A fitted model is a pure function of (input data, hyper-parameters,
  * seed) — refitting it on every query execution repeats a full
  * distributed pass (KMeans) or a schema-probe job + plane draw (LSH)
  * for a bit-identical result. Keyed on the input's cache identity,
  * [[graft.Fingerprint]] (the analyzed plan plus the source lines the
  * table cache hashes, which name every input directory and digest every
  * scanned file), plus every parameter that feeds the fit: re-created
  * DataFrames over the same unchanged source share a fit, while an
  * overwritten source, a changed path, seed or parameter refits.
  * Bounded: models are a few KB (planes / centroids), corpora per
  * process are few.
  */
object ModelCache {

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** Return the cached model for `(df, params)`, or run `fit` once and
    * cache it.
    *
    * NEVER caches for an input the fingerprint refuses (in-memory rows:
    * their analyzed plan carries schema but not DATA, so two different
    * in-memory corpora with the same shape would share one key — and
    * silently one model).
    *
    * The fit runs OUTSIDE any map lock (it is a distributed Spark job;
    * `computeIfAbsent` would serialize unrelated fits that share a hash
    * bin and throw on re-entrant use). Two racing threads may both fit;
    * the seeded fit is deterministic, `putIfAbsent` keeps exactly one. */
  def getOrFit[M <: AnyRef](df: DataFrame, params: String)(fit: => M): M =
    graft.Fingerprint.of(df).fold(_ => fit, { fp =>
      val key = fp.key.hash + "|" + params
      val existing = cache.get(key)
      if (existing != null) existing.asInstanceOf[M]
      else {
        val m = fit
        val prior = cache.putIfAbsent(key, m)
        (if (prior != null) prior else m).asInstanceOf[M]
      }
    })

  /** Test hook. */
  private[graft] def clear(): Unit = cache.clear()
  private[graft] def size: Int = cache.size()
}
