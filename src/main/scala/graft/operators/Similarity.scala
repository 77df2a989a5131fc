package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — the query set is broadcast, the
  * score is a codegen'd expression over the corpus scan (no UDF, no
  * shuffle for scoring; only the final per-query top-k aggregation
  * shuffles, and it shuffles score rows, not vectors).
  *
  * Scale path: native euclidean LSH
  * ([[graft.functions.EuclidLshBuckets]]) over L2-normalized vectors —
  * on the unit sphere euclidean distance is monotone in cosine
  * (`cos = 1 − d²/2`), so a euclidean LSH bucket join gives
  * approximate-cosine candidates without the n·m scoring pass, with no
  * model fit and the whole projection inside codegen.
  */
object Similarity {

  /** Dot product of two float/double array columns — native codegen'd
    * expression ([[graft.functions.ArrayDotProduct]]): one primitive
    * loop, no intermediate array allocation. */
  def dot(a: Column, b: Column): Column =
    graft.functions.functions.dotProduct(a, b)

  /** Cosine similarity of two float/double array columns, computed in
    * double in a single fused pass
    * ([[graft.functions.ArrayCosineSimilarity]]). Accumulation order
    * matches a sequential left fold, so values are bit-identical with
    * the composable `zip_with`/`aggregate` form. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.functions.cosineSimilarity(a, b)

  /** All (query, corpus) pairs with cosine ≥ `threshold`. Queries are
    * broadcast; the corpus is scanned once. */
  def cosineThresholdPairs(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      qidCol: String,
      qvecCol: String,
      threshold: Double): DataFrame =
    corpus
      .join(broadcast(queries), col(idCol) =!= col(qidCol))
      .withColumn("sim", round(cosine(col(qvecCol), col(vecCol)), 6))
      .filter(col("sim") >= threshold)
      .select(col(qidCol), col(idCol), col("sim"))

  /** Embedding-space decontamination: per training vector, how many
    * eval-set vectors sit within cosine `threshold` (and the max
    * similarity seen). The semantic companion to
    * [[graft.operators.Decontaminate.ngramOverlap]] — n-gram overlap
    * misses paraphrases; embedding proximity catches them.
    *
    * Scale shape mirrors the n-gram screen: the eval pool is tiny by
    * contract, so it BROADCASTS; the corpus side is one scan with the
    * fused-cosine expression evaluated map-side, and the per-id counts
    * partial-aggregate to ≤ 1 row per training vector before the only
    * shuffle. No corpus embedding ever crosses the wire. Comparisons use
    * the rounded similarity so the contamination flag is reproducible
    * across engines. */
  def embeddingDecontam(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val ev = broadcast(eval.select(col(vecCol).as("__evec")))
    val sim = round(cosine(col(vecCol), col("__evec")), 6)
    // LEFT join on true, not a crossJoin: an EMPTY eval pool must
    // report every train vector with n_near = 0, not an empty frame
    // (one row per training vector is the contract). Physically the
    // same broadcast nested-loop; still one corpus scan.
    train
      .select(col(idCol), col(vecCol))
      .join(ev, lit(true), "left")
      .groupBy(col(idCol))
      .agg(
        sum(when(sim >= threshold, 1L).otherwise(0L)).as("n_near"),
        round(max(sim), 6).as("max_sim"))
      .withColumn("contaminated", col("n_near") > 0)
  }

  /** Brute-force cosine top-k per query. Deterministic: ranked by
    * (similarity desc, corpus id asc). */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      qidCol: String,
      qvecCol: String,
      k: Int): DataFrame = {
    val scored = corpus
      .join(broadcast(queries), col(idCol) =!= col(qidCol))
      .withColumn("sim", round(cosine(col(qvecCol), col(vecCol)), 6))
    val w = Window.partitionBy(col(qidCol)).orderBy(col("sim").desc, col(idCol).asc)
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col(qidCol), col(idCol), col("sim"), col("rn"))
  }

  /** Unit-normalized vectors, zero-norm rows DROPPED: an all-zeros
    * embedding has no direction (x/0 is NULL per element, which crashes
    * `array_to_vector` downstream), and the exact path scores it NaN —
    * excluded by every threshold — so dropping it here keeps the
    * approximate and exact branches agreeing on the same input. The
    * norm is staged as an attribute so filter and division evaluate the
    * aggregate lambda once per row each, not twice in one projection. */
  private def unitVectors(df: DataFrame, vecCol: String): DataFrame = {
    val vd = col(vecCol).cast("array<double>")
    df.withColumn("__nrm",
      sqrt(aggregate(transform(vd, x => x * x), lit(0.0), (a, x) => a + x)))
      .filter(col("__nrm") > 0)
      .withColumn("__unit",
        array_to_vector(transform(vd, x => x / col("__nrm"))))
      .drop("__nrm")
  }

  /** `(id, __table, __bucket)` euclidean-LSH postings of `df`'s raw
    * `vecCol` — one native-expression projection (the expression
    * normalizes in-pass; zero-norm rows yield no postings), one
    * posexplode; no fit, no model, no ml Vector, no interpreted
    * normalize lambda for the generator to re-evaluate per output
    * row. */
  private def lshPostings(
      df: DataFrame, idCol: String, vecCol: String, outId: String,
      numHashTables: Int, bucketLength: Double, seed: Long,
      rowsPerTable: Int): DataFrame =
    df.select(
        col(idCol).as(outId),
        graft.functions.EuclidLshBuckets
          .euclidLshBuckets(col(vecCol), seed, numHashTables, bucketLength,
            rowsPerTable)
          .as("__b"))
      .select(col(outId), posexplode(col("__b")))
      .withColumnRenamed("pos", "__table")
      .withColumnRenamed("col", "__bucket")

  /** Brute-force cosine top-k via the partial-aggregating
    * [[graft.functions.TopKAggregator]]: every map task pre-reduces its
    * scored rows to ≤ k candidates before the shuffle, so a query group
    * moves O(k × partitions) rows — the window formulation in
    * [[bruteForceTopK]] ships every scored row of a query to a single
    * task (few queries ⇒ few hot partitions). Same output contract. */
  def bruteForceTopKAgg(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      qidCol: String,
      qvecCol: String,
      k: Int): DataFrame = {
    val scored = corpus
      .join(broadcast(queries), col(idCol) =!= col(qidCol))
      .withColumn("sim", round(cosine(col(qvecCol), col(vecCol)), 6))
    val topk = graft.functions.TopKAggregator.topK(k)
    scored
      .groupBy(col(qidCol))
      .agg(topk(col(idCol), col("sim")).as("top"))
      .select(col(qidCol), posexplode(col("top")))
      .select(
        col(qidCol),
        col("col._1").as(idCol),
        col("col._2").as("sim"),
        (col("pos") + 1).cast("int").as("rn"))
  }

  /** IVF (inverted-file) approximate cosine top-k — the scale path for
    * 100 TB corpora: a k-means coarse quantizer partitions the corpus
    * into `nLists` cells once; each query probes only its `nProbe`
    * nearest cells and reranks exactly inside them, so the scoring pass
    * touches ~nProbe/nLists of the corpus instead of all of it.
    * Centroids are broadcast (nLists rows); the cell assignment is a
    * one-off distributed job (at petabyte scale, fit the quantizer on a
    * sample). The fit sample is CONTENT-HASH selected (partitioning-
    * independent), but KMeans init still sees an RDD order, so output
    * is stable per process/model-cache hit — the recall companion gates
    * quality, not bit-identity (hence rows-only in CORRECTNESS).
    * `nProbe = nLists` degrades to exact brute force. */
  /** The IVF coarse quantizer: a sampled, capped-iteration k-means over
    * unit vectors. A coarse quantizer doesn't need converged centroids —
    * cells just need to partition the space roughly. So: random init
    * (k-means|| costs ~5 extra distributed passes for quality we don't
    * need), capped iterations, and the fit runs on a SAMPLE in few
    * partitions — at 100 TB fitting the quantizer on the full corpus is
    * never the plan; only the one-pass cell assignment must see every
    * row. The quantizer is a pure function of (corpus, params, seed):
    * fit it once per process and reuse across executions (ModelCache) —
    * every refit is a full sampled KMeans job for bit-identical
    * centroids. */
  private def coarseQuantizer(
      corpusU: DataFrame,
      idCol: String,
      nLists: Int,
      seed: Long,
      maxIter: Int,
      fitSampleFraction: Double): org.apache.spark.ml.clustering.KMeansModel =
    ModelCache.getOrFit[org.apache.spark.ml.clustering.KMeansModel](
      corpusU, s"ivf|$nLists|$seed|$maxIter|$fitSampleFraction") {
      // Content-hash sample, NOT df.sample: sample(seed) draws
      // per-partition RNG streams, so the fit rows — and therefore the
      // centroids and every probed cell — would change with the input
      // partitioning. The md5 filter picks the same rows on any
      // cluster/partitioning (KMeans itself still sees an RDD order,
      // so probe results are stable only per process — the recall
      // companion gates quality, not bit-identity).
      val sampled =
        (if (fitSampleFraction < 1.0)
           corpusU.filter(graft.operators.Splits.hashBucket(
             concat(lit("ivf:"), col(idCol).cast("string"))) <
             (fitSampleFraction * 10000).toInt)
         else corpusU)
          .select("__unit").coalesce(8).cache()
      // Small-corpus guard: k-means needs at least k fit rows (spark.ml
      // crashes outright below that), and a sample barely above k gives
      // degenerate cells. The sample count is read off the cached
      // sample — one tiny job — and a thin sample falls back to the
      // full corpus. At production scale the sample is orders of
      // magnitude above 4k and the guard never fires.
      val fitInput =
        if (sampled.count() >= nLists.toLong * 4) sampled
        else {
          sampled.unpersist(blocking = false)
          corpusU.select("__unit").coalesce(8).cache()
        }
      val km = new KMeans()
        .setK(nLists).setSeed(seed).setMaxIter(maxIter)
        .setInitMode("random")
        .setFeaturesCol("__unit").setPredictionCol("__cell")
      try km.fit(fitInput)
      finally fitInput.unpersist(blocking = false)
    }

  /** `(idCol, vecCol, __cells: array<int>)`: every row tagged with its
    * `nProbes` NEAREST coarse-quantizer cells by centroid cosine — the
    * multi-probe assignment. Single-cell partitioning loses every
    * near-duplicate pair that straddles a cell boundary; with top-P
    * assignment a pair is co-located if ANY of the P×P cell combinations
    * overlaps, which converts most boundary misses into hits for a P×
    * posting inflation (the same OR-amplification trade every LSH
    * variant here makes).
    *
    * Shape: centroids broadcast (nLists rows), cosine scored in one
    * scan, then the partial-aggregating [[graft.functions
    * .TopKAggregator]] keeps each row's P best cells — the shuffle
    * carries ≤ P cells per row, not the nLists-way cross score.
    * Zero-norm rows have no direction and are dropped (cosine NaN would
    * poison the ranking). */
  def assignCellsMulti(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nLists: Int,
      nProbes: Int = 2,
      seed: Long = 42L,
      maxIter: Int = 8,
      fitSampleFraction: Double = 0.25): DataFrame = {
    require(nProbes >= 1 && nProbes <= nLists,
      s"nProbes must be in [1, $nLists], got $nProbes")
    val corpusU = unitVectors(corpus, vecCol)
    val model = coarseQuantizer(corpusU, idCol, nLists, seed, maxIter,
      fitSampleFraction)
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toArray) }.toSeq
      .toDF("__cell", "__centroid")
    val topk = graft.functions.TopKAggregator.topK(nProbes)
    corpus
      .select(col(idCol), col(vecCol))
      .filter(graft.functions.functions
        .dotProduct(col(vecCol), col(vecCol)) > 0)
      .join(broadcast(centroids))
      .withColumn("__cos", cosine(col(vecCol), col("__centroid")))
      .groupBy(col(idCol))
      .agg(
        first(col(vecCol)).as(vecCol), // constant within the group
        topk(col("__cell"), col("__cos")).as("__top"))
      .withColumn("__cells",
        transform(col("__top"), x => x.getField("_1").cast("int")))
      .drop("__top")
  }

  def ivfCosineTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      qidCol: String,
      qvecCol: String,
      k: Int,
      nLists: Int = 16,
      nProbe: Int = 2,
      seed: Long = 42L,
      maxIter: Int = 8,
      fitSampleFraction: Double = 0.25): DataFrame = {
    val corpusU = unitVectors(corpus, vecCol)
    val model = coarseQuantizer(corpusU, idCol, nLists, seed, maxIter,
      fitSampleFraction)
    val assigned = model.transform(corpusU)
      .select(col(idCol), col(vecCol), col("__cell"))
    // Tiny centroid table: (cell, centroid) — broadcast everywhere.
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }.toSeq
      .toDF("__cell", "__centroid")
    // Per query: rank cells by centroid cosine, keep the nProbe nearest.
    val wCell = Window.partitionBy(col(qidCol))
      .orderBy(cosine(col(qvecCol), col("__centroid")).desc, col("__cell").asc)
    val probed = queries
      .join(broadcast(centroids))
      .withColumn("__cellrank", row_number().over(wCell))
      .filter(col("__cellrank") <= nProbe)
      .select(col(qidCol), col(qvecCol), col("__cell"))
    // Exact rerank inside the probed cells only — via the partial-
    // aggregating TopKAggregator (same contract as bruteForceTopKAgg:
    // ranked by (sim desc, id asc)), so each map task forwards ≤ k
    // candidates per query instead of shipping every scored row of a
    // query to one window task.
    val scored = assigned
      .join(broadcast(probed), Seq("__cell"))
      .filter(col(idCol) =!= col(qidCol))
      .withColumn("sim", round(cosine(col(qvecCol), col(vecCol)), 6))
    val topk = graft.functions.TopKAggregator.topK(k)
    scored
      .groupBy(col(qidCol))
      .agg(topk(col(idCol), col("sim")).as("top"))
      .select(col(qidCol), posexplode(col("top")))
      .select(
        col(qidCol),
        col("col._1").as(idCol),
        col("col._2").as("sim"),
        (col("pos") + 1).cast("int").as("rn"))
  }

  /** The IVF index as two PLAIN frames ready for persistent
    * materialization through the cache layer (`cacheToDbfs` /
    * `createCachedDataFrame`): `(assignments (id, vec, cell),
    * centroids (cell, centroid))`. Building pays the quantizer fit +
    * one assignment pass ONCE; a session that reads the tables back
    * queries with no fit job at all ([[ivfTopKFromIndex]]) — the
    * index-is-a-cache-entry pattern that makes ANN serving survive
    * process restarts, which the in-heap [[ModelCache]] cannot. */
  def buildIvfIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nLists: Int = 16,
      seed: Long = 42L,
      maxIter: Int = 8,
      fitSampleFraction: Double = 0.25): (DataFrame, DataFrame) = {
    val corpusU = unitVectors(corpus, vecCol)
    val model = coarseQuantizer(corpusU, idCol, nLists, seed, maxIter,
      fitSampleFraction)
    val spark = corpus.sparkSession
    import spark.implicits._
    val assigned = model.transform(corpusU)
      .select(col(idCol), col(vecCol), col("__cell").as("cell"))
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }.toSeq
      .toDF("cell", "centroid")
    (assigned, centroids)
  }

  /** EXTEND an already-materialized IVF index with newly-arrived
    * vectors: assign each to its nearest EXISTING centroid — squared
    * euclidean on the unit vector, exactly the quantizer's assignment
    * rule, computed relationally against the broadcast centroid table
    * (no model object, no fit job) — and return rows in
    * [[buildIvfIndex]]'s `assigned` schema for the caller to APPEND
    * to the index's cache table. The embedding-side twin of
    * [[Dedup.extendMinHashBandIndex]]: the quantizer is deliberately
    * FROZEN, which is what makes the index incremental; new-vector
    * recall matches build recall while the corpus distribution holds
    * (q_ivf_extend gates the recall of an extended index end-to-end;
    * re-fit when drift is suspected). Assignment parity with
    * `KMeansModel.transform` is spec-pinned cell-for-cell at the
    * fixture (AnnSpec) — exact up to floating-point NEAR-TIES: the
    * relational `Σ(a−b)²` and MLlib's norm-based distance differ in
    * ulps, so a vector sitting numerically equidistant between two
    * centroids could in principle assign to either; both are then
    * equally valid quantizations and the probe/rerank result is
    * unaffected (the probed cell set is what matters, and near-tied
    * cells score near-identically).
    *
    * Zero-norm vectors have no direction and are dropped — the same
    * rule as every cosine path here.
    *
    * Scale shape: one scan of the delta × a broadcast of nLists
    * centroid rows, then a partial-aggregating `min_by` per vector —
    * no shuffle of the existing index, no driver collect. */
  def extendIvfIndex(
      newVectors: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String): DataFrame = {
    val vd = col(vecCol).cast("array<double>")
    val withUnit = newVectors
      .select(col(idCol), col(vecCol))
      .withColumn("__nrm",
        sqrt(aggregate(transform(vd, x => x * x), lit(0.0), (a, x) => a + x)))
      .filter(col("__nrm") > 0)
      .withColumn("__u", transform(vd, x => x / col("__nrm")))
      .drop("__nrm")
    val cb = broadcast(centroids.select(col("cell"), col("centroid")))
    withUnit.join(cb)
      .withColumn("__d2",
        aggregate(
          zip_with(col("__u"), col("centroid"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (a, x) => a + x))
      .groupBy(col(idCol))
      .agg(min_by(
          struct(col("cell"), col(vecCol).as("__v")),
          struct(col("__d2"), col("cell"))).as("__best"))
      .select(col(idCol), col("__best.__v").as(vecCol),
        col("__best.cell").as("cell"))
  }

  /** Freshness gate for the FROZEN IVF quantizer: per-cell drift of a
    * newly-assigned DELTA ([[extendIvfIndex]] output) against the
    * BUILD-TIME assignments — the measured answer to
    * [[extendIvfIndex]]'s "re-fit when drift is suspected". Two
    * signals per cell:
    *
    *  - fill-rate shift: the delta's share of cell c minus the base's
    *    share (a distribution shift pushes mass into different cells
    *    than the quantizer was fit on);
    *  - mean within-cell distance shift: mean squared euclidean (unit
    *    vectors) to the OWN centroid, delta minus base (new vectors
    *    landing far from their nearest frozen centroid mean the
    *    centroids no longer summarize the data).
    *
    * Pure arithmetic over the two assignment frames — no model, no
    * fit job — so it replays exactly in SQL. Cross-row float
    * aggregation is FIXED-POINT: per-row d² rounds to micro units
    * (`round(d²·1e6)` as long) before the sum, so the means are
    * bit-stable under any partitioning and hash-comparable across
    * engines (the PageRank discipline). Per-cell means divide the
    * exact long sum at the end.
    *
    * Scale shape: one scan per side (delta is small by construction;
    * the base scan reads (vec, cell) only), nLists broadcast centroid
    * rows, partial-aggregating count/sum per cell — the result is
    * nLists rows, so the fill-share window over it is bounded. No
    * driver collect. Callers alert on `abs(fill_shift)` /
    * `d2_shift` thresholds of their choosing. */
  def quantizerDrift(
      base: DataFrame,
      delta: DataFrame,
      centroids: DataFrame,
      vecCol: String): DataFrame = {
    def cellStats(assigned: DataFrame): DataFrame = {
      val vd = col(vecCol).cast("array<double>")
      val withUnit = assigned
        .select(col("cell"), col(vecCol))
        .withColumn("__nrm",
          sqrt(aggregate(transform(vd, x => x * x), lit(0.0), (a, x) => a + x)))
        .filter(col("__nrm") > 0)
        .withColumn("__u", transform(vd, x => x / col("__nrm")))
      withUnit
        .join(broadcast(centroids.select(col("cell"), col("centroid"))),
          Seq("cell"))
        .withColumn("__d2micro",
          round(aggregate(
            zip_with(col("__u"), col("centroid"), (a, b) => (a - b) * (a - b)),
            lit(0.0), (a, x) => a + x) * 1e6).cast("long"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n"), sum(col("__d2micro")).as("d2sum"))
    }
    val b = cellStats(base)
      .select(col("cell"), col("n").as("n_base"), col("d2sum").as("d2_base"))
    val d = cellStats(delta)
      .select(col("cell"), col("n").as("n_delta"), col("d2sum").as("d2_delta"))
    val joined = centroids.select(col("cell"))
      .join(b, Seq("cell"), "left")
      .join(d, Seq("cell"), "left")
      .na.fill(0L, Seq("n_base", "n_delta"))
    val w = Window.partitionBy() // nLists rows by construction — bounded
    joined
      .withColumn("__tb", sum(col("n_base")).over(w))
      .withColumn("__td", sum(col("n_delta")).over(w))
      .withColumn("fill_base",
        round(col("n_base").cast("double") / greatest(col("__tb"), lit(1L)), 6))
      .withColumn("fill_delta",
        round(col("n_delta").cast("double") / greatest(col("__td"), lit(1L)), 6))
      .withColumn("fill_shift", round(col("fill_delta") - col("fill_base"), 6))
      .withColumn("mean_d2_base",
        when(col("n_base") > 0,
          round(col("d2_base").cast("double") / 1e6 / col("n_base"), 6)))
      .withColumn("mean_d2_delta",
        when(col("n_delta") > 0,
          round(col("d2_delta").cast("double") / 1e6 / col("n_delta"), 6)))
      .withColumn("d2_shift",
        when(col("n_base") > 0 && col("n_delta") > 0,
          round(col("mean_d2_delta") - col("mean_d2_base"), 6)))
      .select("cell", "n_base", "n_delta", "fill_base", "fill_delta",
        "fill_shift", "mean_d2_base", "mean_d2_delta", "d2_shift")
  }

  /** Top-k cosine search over an ALREADY-MATERIALIZED IVF index (the
    * frames of [[buildIvfIndex]], typically read back from cache
    * tables): identical probe + exact-rerank shape to
    * [[ivfCosineTopK]] — centroids broadcast, nProbe nearest cells per
    * query, partial-aggregating top-k — but with NO quantizer fit and
    * no model object anywhere: the physical index IS the two tables.
    */
  def ivfTopKFromIndex(
      assigned: DataFrame,
      centroids: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      qidCol: String,
      qvecCol: String,
      k: Int,
      nProbe: Int = 2): DataFrame = {
    val wCell = Window.partitionBy(col(qidCol))
      .orderBy(cosine(col(qvecCol), col("centroid")).desc, col("cell").asc)
    val probed = queries
      .join(broadcast(centroids))
      .withColumn("__cellrank", row_number().over(wCell))
      .filter(col("__cellrank") <= nProbe)
      .select(col(qidCol), col(qvecCol), col("cell"))
    val scored = assigned
      .join(broadcast(probed), Seq("cell"))
      .filter(col(idCol) =!= col(qidCol))
      .withColumn("sim", round(cosine(col(qvecCol), col(vecCol)), 6))
    val topk = graft.functions.TopKAggregator.topK(k)
    scored
      .groupBy(col(qidCol))
      .agg(topk(col(idCol), col("sim")).as("top"))
      .select(col(qidCol), posexplode(col("top")))
      .select(
        col(qidCol),
        col("col._1").as(idCol),
        col("col._2").as("sim"),
        (col("pos") + 1).cast("int").as("rn"))
  }

  /** Signed-random-projection (SRP) LSH near-dup pairs with EXACT
    * verification — cosine's native LSH family, with NO model fit:
    * the hyperplanes are seeded Rademacher (±1) literal vectors, the
    * signature is `numBands` bands of `rowsPerBand` sign bits computed
    * as a pure codegen'd projection, candidates join on (band, value)
    * equality, and every candidate is re-scored with the exact fused
    * cosine. Contrast `annCosinePairs`: spark.ml's
    * BucketedRandomProjectionLSH needs a driver-side `fit` pass and a
    * broadcast model — at 100 TB that is an extra full job before any
    * candidate is produced; SRP needs none (a plane collides with
    * probability `1 − θ/π` per bit, so band collision = `(1−θ/π)^r`,
    * AND-amplified exactly like the banded MinHash). Output is
    * exact-cosine-thresholded with SRP recall. Seeded ⇒ deterministic.
    *
    * Default band shape 16×4 puts recall at the threshold itself around
    * 0.95 for cos = 0.45 (p_bit = 1 − 1.104/π = 0.649, band = 0.649⁴ =
    * 0.177, recall = 1 − (1−0.177)¹⁶); the earlier 8×6 shape measured
    * only ~0.44 pooled recall at sf0.01/sf0.1 — AND-amplification too
    * aggressive for barely-over-threshold pairs. [[graft.QueriesR5]]'s
    * q_srp_recall gates the pooled recall ≥ 0.8 in the driver. */
  def srpCosinePairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      rowsPerBand: Int = 4,
      numBands: Int = 16,
      seed: Long = 42L,
      // Hot-bucket cutoff (None = exact): a band bucket holding > m
      // vectors is DROPPED before the self-join — join cost is
      // Σ bucket², and one bucket of exact/near-identical clones turns
      // the candidate stage quadratic (a 10× scaling probe on a
      // clone-heavy corpus measured 25× wall growth). A pair whose
      // vectors share any NON-hot band still surfaces; pairs living
      // ONLY in over-full buckets are exact clones, which the pipeline
      // removes with digest dedup BEFORE any LSH (the documented
      // order). Same contract as the posting lists' maxDf.
      maxBucket: Option[Int] = None): DataFrame = {
    // All r·b sign bits in ONE one-pass native expression packed into a
    // long ([[graft.functions.SrpPackedBands]] — bit-identical with the
    // 64-separate-dots formulation this replaced). Rationale: Spark
    // collapses the signature projection into the generator, and
    // generator inputs get no subexpression elimination, so k dot
    // expressions under a posexplode re-evaluate once per OUTPUT row —
    // measured ~16× waste at b=16. With one packed long the generator
    // re-evaluates two bit ops instead.
    require(rowsPerBand * numBands <= 64,
      s"rowsPerBand*numBands must fit one long, got $rowsPerBand x $numBands")
    // < 64, not <= : (1L << 64) wraps to 1L in JVM shift semantics, so a
    // single 64-bit band would mask to 0 and every doc would collide.
    require(rowsPerBand < 64,
      s"rowsPerBand must be < 64 (band mask is a long), got $rowsPerBand")
    val mask = (1L << rowsPerBand) - 1L
    val packed = df.select(
      col(idCol).as("__id"),
      graft.functions.SrpPackedBands
        .srpPackedBands(col(vecCol), seed, rowsPerBand, numBands).as("__p"))
    val bandVals: Seq[Column] = (0 until numBands).map { b =>
      shiftrightunsigned(col("__p"), b * rowsPerBand).bitwiseAND(lit(mask))
    }
    val sigsAll = packed
      .select(col("__id"), posexplode(array(bandVals: _*)))
      .withColumnRenamed("pos", "__band")
      .withColumnRenamed("col", "__bval")
    val sigs = maxBucket match {
      case Some(m) =>
        require(m >= 1, s"maxBucket must be >= 1, got $m")
        // The over-full set is tiny (Zipf head) — broadcast anti join,
        // the stripFrequentChunks pattern.
        val hot = sigsAll.groupBy(col("__band"), col("__bval"))
          .agg(count(lit(1)).as("__n"))
          .filter(col("__n") > m)
          .select("__band", "__bval")
        sigsAll.join(broadcast(hot), Seq("__band", "__bval"), "left_anti")
      case None => sigsAll
    }
    val cand = sigs.as("a")
      .join(sigs.as("b"),
        col("a.__band") === col("b.__band") && col("a.__bval") === col("b.__bval") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .distinct()
    // Exact verify on candidates only (vectors joined back by id, so
    // the banded explode never carries vector payloads). The pre-verify
    // `distinct` earns its shuffle: each duplicate candidate costs two
    // vector join-back probes + array materializations in the verify,
    // measured strictly worse than deduping first (dedupe-after-filter
    // was tried and reverted).
    val va = df.select(col(idCol).as("id_a"), col(vecCol).as("__va"))
    val vb = df.select(col(idCol).as("id_b"), col(vecCol).as("__vb"))
    cand
      .join(va, "id_a")
      .join(vb, "id_b")
      .withColumn("sim", round(cosine(col("__va"), col("__vb")), 6))
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
  }

  /** LSH-bucketed candidate PAIRS with cosine ≥ 1 − `maxCosDist`:
    * unit-normalize both sides, euclidean-LSH bucket join (a pair is a
    * candidate iff it shares a bucket in ANY of the `numHashTables`
    * tables — OR-amplification), exact fused-cosine verify on the
    * candidates only. Returns `(id_a, id_b, sim)` — the building block
    * for semantic-dedup self-joins. Seeded ⇒ deterministic.
    *
    * Fully native ([[graft.functions.EuclidLshBuckets]]): no spark.ml
    * fit job, no ml `Vector` UDT conversions, no non-codegen distance
    * UDF — the bucket projection and the verify cosine both run inside
    * whole-stage codegen, and at 100 TB no pre-pass over the corpus is
    * needed before candidates flow. The bucket join is an equi
    * hash-join on `(table, bucket)`; vectors never ride through the
    * posting explode — they join back by id for the verify. */
  def annCosinePairs(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      qidCol: String,
      qvecCol: String,
      maxCosDist: Double,
      numHashTables: Int = 4,
      bucketLength: Double = 0.5,
      seed: Long = 42L,
      rowsPerTable: Int = 1): DataFrame = {
    val cb = lshPostings(corpus, idCol, vecCol, "__idb",
      numHashTables, bucketLength, seed, rowsPerTable)
    val qb = lshPostings(queries, qidCol, qvecCol, "__ida",
      numHashTables, bucketLength, seed, rowsPerTable)
    val cand = qb
      .join(cb, Seq("__table", "__bucket"))
      .select(col("__ida"), col("__idb"))
      .distinct()
    // Verify on the RAW vectors (cosine is normalization-invariant):
    // no unit-normalize projection anywhere in the plan.
    val va = queries.select(col(qidCol).as("__ida"), col(qvecCol).as("__ua"))
    val vb = corpus.select(col(idCol).as("__idb"), col(vecCol).as("__ub"))
    cand
      .join(va, "__ida")
      .join(vb, "__idb")
      .withColumn("sim", round(cosine(col("__ua"), col("__ub")), 6))
      .filter(col("sim") >= 1.0 - maxCosDist)
      .select(col("__ida").as("id_a"), col("__idb").as("id_b"), col("sim"))
  }

  /** LSH-bucketed approximate cosine top-k: normalize to the unit
    * sphere, keep only (query, corpus) pairs sharing a euclidean-LSH
    * bucket in at least one table, exact-rerank the survivors within
    * `maxCosDist` (cosine ≥ 1 − maxCosDist). Same native zero-fit
    * bucketing as [[annCosinePairs]]; seeded ⇒ deterministic.
    *
    * Shape: the query set is SMALL by contract (it is in every top-k
    * variant here — brute, IVF, int8), so instead of the posting-list
    * join the queries BROADCAST with their bucket-key arrays and the
    * corpus is scanned ONCE: a zero-allocation native key overlap
    * ([[graft.functions.LongArraysOverlap]]) on the composite
    * (table, bucket) keys prunes before the fused cosine ever runs, and
    * the only shuffle in the whole plan is the final partial top-k
    * aggregation. No posting explode, no candidate distinct, no
    * vector join-back — those earn their shuffles only when BOTH sides
    * are large, which is [[annCosinePairs]]'s territory. */
  def annCosineTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      qidCol: String,
      qvecCol: String,
      k: Int,
      maxCosDist: Double = 0.8,
      numHashTables: Int = 4,
      bucketLength: Double = 0.5,
      seed: Long = 42L,
      rowsPerTable: Int = 1): DataFrame = {
    // Distinct names keep the output unambiguous and the groupBy below
    // resolvable (annCosinePairs aliases internally for the self-join
    // case; here the caller picks the names, so demand distinct ones).
    require(idCol != qidCol,
      s"idCol and qidCol must differ (both '$idCol') — alias one side")
    // Bucket keys already carry their table index (the expression seeds
    // each table's fold with it), so a flat key-overlap check is exact.
    // Raw vectors throughout: the key expression normalizes in-pass
    // (zero-norm rows get an empty key array, so the overlap drops
    // them), and the verify cosine is normalization-invariant.
    def keys(u: Column) = graft.functions.EuclidLshBuckets
      .euclidLshBuckets(u, seed, numHashTables, bucketLength, rowsPerTable)
    val corpusU = corpus
      .select(col(idCol), col(vecCol).as("__unit"), keys(col(vecCol)).as("__keys"))
    val queriesU = queries
      .select(col(qidCol), col(qvecCol).as("__qunit"),
        keys(col(qvecCol)).as("__qkeys"))
    // The join condition carries ONLY the cheap key overlap (+ the id
    // guard): a `filter(sim >= …)` here would be pushed INTO the BNLJ
    // condition, where the fused cosine evaluates interpreted per pair
    // instead of inside the codegen'd projection below (measured ~2×
    // the whole query). The threshold moves AFTER the top-k instead —
    // identical output: if a top-k row is under the threshold, every
    // lower-ranked row is under it too, so filtering the exploded top-k
    // equals thresholding before it.
    val joined = corpusU
      .join(broadcast(queriesU),
        graft.functions.functions
          .longArraysOverlap(col("__keys"), col("__qkeys")) &&
          col(idCol) =!= col(qidCol))
      .withColumn("sim", round(cosine(col("__qunit"), col("__unit")), 6))
      .select(col(qidCol), col(idCol), col("sim"))
    // Partial-aggregating top-k (ranked by (sim desc, id asc), same
    // contract as the window form): ≤ k candidate rows per query cross
    // the exchange instead of every bucket-join survivor.
    val topk = graft.functions.TopKAggregator.topK(k)
    joined
      .groupBy(col(qidCol))
      .agg(topk(col(idCol), col("sim")).as("top"))
      .select(col(qidCol), posexplode(col("top")))
      .select(
        col(qidCol),
        col("col._1").as(idCol),
        col("col._2").as("sim"),
        (col("pos") + 1).cast("int").as("rn"))
      .filter(col("sim") >= 1.0 - maxCosDist)
  }

  /** Embedding-corpus HEALTH CARD — the one-row release overview for a
    * vector column (the `q_datacard` sibling for embeddings): counts
    * (total / null / zero-norm), dimension bounds (a ragged corpus is a
    * pipeline bug), and the L2-norm distribution (min / median / mean /
    * max). A collapsed encoder, an un-normalized re-embed, or a
    * truncated export all show up here before any ANN recall does.
    *
    * One map-side-combined aggregation over a row-local norm
    * projection (the fused native dot product — no shuffle of vectors,
    * no UDF); norm stats are rounded so the report is reproducible
    * cross-engine. Exact `percentile` is fine HERE because the
    * aggregation is global-single-group over one double per vector —
    * at extreme corpus sizes swap for `percentile_approx` (SCALE.md). */
  def embeddingCard(df: DataFrame, vecCol: String): DataFrame = {
    val v = df.select(col(vecCol).as("e"))
      .select(
        col("e"),
        when(col("e").isNotNull,
          sqrt(graft.functions.functions.dotProduct(col("e"), col("e"))))
          .as("norm"),
        when(col("e").isNotNull, size(col("e"))).as("dim"))
    v.agg(
      count(lit(1)).as("n_vectors"),
      sum(when(col("e").isNull, 1L).otherwise(0L)).as("n_null"),
      min(col("dim")).as("dim_min"),
      max(col("dim")).as("dim_max"),
      coalesce(sum(when(col("norm") === 0d, 1L)), lit(0L)).as("n_zero"),
      round(avg(col("norm")), 6).as("avg_norm"),
      round(expr("percentile(norm, 0.5D)"), 6).as("med_norm"),
      round(min(col("norm")), 6).as("min_norm"),
      round(max(col("norm")), 6).as("max_norm"))
  }
}
