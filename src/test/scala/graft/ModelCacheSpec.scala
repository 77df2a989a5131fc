package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ModelCache, Similarity}

/** The fitted-model cache behind IVF: correct keying (no false sharing
  * across inputs or params, no key for in-memory inputs). The ANN
  * euclidean-LSH path no longer appears here — it fits nothing
  * ([[graft.functions.EuclidLshBuckets]] derives planes from the
  * seed), which AnnSpec pins directly. */
class ModelCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def embs = spark.read
    .parquet(TestSpark.sf0001 + "/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  private def queries = embs.filter(col("vec_id") < 4)
    .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  private def ivf(corpus: org.apache.spark.sql.DataFrame, seed: Long,
      nLists: Int = 4, nProbe: Int = 2, k: Int = 3) =
    Similarity.ivfCosineTopK(corpus, queries, "vec_id", "embedding",
      "qid", "qvec", k = k, nLists = nLists, nProbe = nProbe, seed = seed)

  test("different seeds key different models (no false sharing)") {
    ModelCache.clear()
    val a = ivf(embs, seed = 1L)
    val b = ivf(embs, seed = 2L)
    a.count(); b.count()
    assert(ModelCache.size == 2,
      s"two seeds must fit two models, cached ${ModelCache.size}")
  }

  test("same (input, params) reuses one fit across fresh DataFrames") {
    ModelCache.clear()
    ivf(embs, seed = 42L, k = 3).count()
    // Fresh DataFrame objects over the same source + params: the plan
    // fingerprint (not object identity) must key the hit.
    ivf(embs, seed = 42L, k = 5).count() // k is post-fit; same model
    assert(ModelCache.size == 1,
      s"same corpus+IVF params must share one model, cached ${ModelCache.size}")
  }

  test("a different input path keys a different model") {
    ModelCache.clear()
    val other = spark.read
      .parquet(TestSpark.sf001 + "/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    ivf(embs, seed = 42L).count()
    ivf(other, seed = 42L).count()
    assert(ModelCache.size == 2,
      s"different source paths must not share a fit, cached ${ModelCache.size}")
  }

  test("in-memory inputs are never cached (their plan carries no data)") {
    ModelCache.clear()
    val s = spark
    import s.implicits._
    // Two DIFFERENT in-memory corpora with the identical schema and
    // transformations: a plan-keyed cache entry would hand corpus B
    // corpus A's model. The cache must refuse to key them at all.
    val a = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.7f, 0.7f)), (4L, Array(-1.0f, 0.2f)))
      .toDF("vec_id", "embedding")
    val qa = a.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.ivfCosineTopK(a, qa, "vec_id", "embedding",
      "qid", "qvec", k = 1, nLists = 2, nProbe = 1).count()
    assert(ModelCache.size == 0,
      s"no-input-file frames must bypass the cache, cached ${ModelCache.size}")
  }

  test("overwriting a source path in-session forces a refit") {
    ModelCache.clear()
    val dir = new java.io.File(
      java.nio.file.Files.createTempDirectory("graft-model-fresh").toFile,
      "embs").getAbsolutePath
    embs.write.mode("overwrite").parquet(dir)
    def src = spark.read.parquet(dir)
      .select(col("vec_id"), col("embedding"))
    ivf(src, seed = 42L).count()
    assert(ModelCache.size == 1)
    // Simulate an in-session overwrite: bump every file's mod time a
    // minute forward (freshness timestamps are second-granularity, so
    // a literal immediate rewrite could land in the same second).
    new java.io.File(dir).listFiles()
      .foreach(f => f.setLastModified(f.lastModified() + 60000L))
    ivf(src, seed = 42L).count()
    assert(ModelCache.size == 2,
      "a stale model was served after its source path was overwritten")
  }
}
