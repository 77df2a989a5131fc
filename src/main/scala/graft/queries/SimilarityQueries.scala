package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Dedup, Quality, Quantize, Similarity}
import graft.sources.Sources.table

/** Embedding similarity: exact threshold and top-k search, the approximate
  * indexes (LSH, IVF, int8, SRP) with their exact recall companions,
  * semantic dedup, and the seeded k-means family (fit, assignment,
  * sampling, outliers, cluster-grouped packing, index extension and
  * quantizer drift).
  */
object SimilarityQueries {

  private def embs(s: SparkSession, d: String): DataFrame =
    table(s, d, "embeddings").select(col("vec_id"), col("embedding"))

  private def queries(s: SparkSession, d: String): DataFrame =
    table(s, d, "embeddings").filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  /** Exact brute-force top-k — the baseline every approximate top-k
    * companion compares against (same k / query set as the corpus
    * queries). */
  private def exactTopK(s: SparkSession, d: String): DataFrame =
    Similarity.bruteForceTopKAgg(
      embs(s, d), queries(s, d), "vec_id", "embedding", "qid", "qvec", k = 5)

  /** k-means shape replayed by the clustering oracles. */
  private[graft] val KmeansK = 4

  private[graft] val KmeansIters = 2

  private val KmeansDim = 64

  // ---- k-means oracle: the Lloyd rounds unrolled ---------------------

  /** Squared-L2 between list columns `$a` and `$b` as the same
    * left-associated 64-term chain the Spark fold evaluates (the 0.0
    * fold seed is a bitwise no-op on the first non-negative term). */
  private def kmDist(a: String, b: String): String =
    (1 to KmeansDim)
      .map(i => s"($a[$i]-$b[$i])*($a[$i]-$b[$i])")
      .mkString(" + ")

  /** md5-draw seed CTEs: cluster index = rank in the md5 order. */
  private def kmHashSeedCtes(k: Int, rel: String = "e"): String =
    s"""seed AS (SELECT v, row_number() OVER (
       |    ORDER BY md5('km' || CAST(vec_id AS VARCHAR))) rk FROM $rel),
       |c0 AS (SELECT rk - 1 AS c, v FROM seed WHERE rk <= $k)""".stripMargin

  /** Farthest-first seed CTEs replaying
    * [[operators.Clustering.lloyd]]'s `seeding = "spread"`: ff0 is the
    * md5-min vector, ffR maximizes `least(dist to ff0..ff{R-1})` (ties
    * to the smaller id). The distance chains are bit-identical to the
    * Spark literal folds, so the argmax rows agree. */
  private def kmSpreadSeedCtes(k: Int): String = {
    val ff0 =
      """ff0 AS (SELECT v FROM e
        |  ORDER BY md5('km' || CAST(vec_id AS VARCHAR)) LIMIT 1)""".stripMargin
    val rest = (1 until k).map { r =>
      val dists = (0 until r).map(i => kmDist("e.v", s"ff$i.v"))
      val minD = if (dists.size == 1) dists.head
        else s"least(${dists.map(d => s"($d)").mkString(", ")})"
      val froms = (0 until r).map(i => s"ff$i").mkString(", ")
      s"""ff$r AS (SELECT e.v FROM e, $froms
         |  ORDER BY $minD DESC, e.vec_id LIMIT 1)""".stripMargin
    }
    val union = (0 until k)
      .map(i => s"SELECT $i AS c, v FROM ff$i").mkString("\n  UNION ALL ")
    ((ff0 +: rest) :+ s"c0 AS (\n  $union)").mkString(",\n")
  }

  /** CTE chain `e, <seeds>, a1, c1, a2, …` replaying
    * [[operators.Clustering.lloyd]]: cN = centroids after N mean
    * updates (rounded 6, empty clusters INHERIT THE PREVIOUS ROUND's
    * centroid — c{N-1}, exactly the Scala `prev`), aN = assignment
    * under c{N-1} with the (dist, cluster) tie-break. */
  private def kmCtes(
      k: Int, iters: Int, seedCtes: String, rel: String = "e"): String = {
    val base =
      s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
         |eh AS (SELECT * FROM e WHERE vec_id % 2 = 0),
         |$seedCtes""".stripMargin
    val rounds = (1 to iters).map { r =>
      s"""a$r AS (SELECT vec_id, v, c FROM (
         |  SELECT $rel.vec_id, $rel.v, c.c, ${kmDist(s"$rel.v", "c.v")} d,
         |    row_number() OVER (PARTITION BY $rel.vec_id
         |      ORDER BY ${kmDist(s"$rel.v", "c.v")}, c.c) rn
         |  FROM $rel CROSS JOIN c${r - 1} c) WHERE rn = 1),
         |m$r AS (SELECT c, list(m ORDER BY i) v FROM (
         |  SELECT c, i, round(avg(v[i]), 6) m
         |  FROM a$r, (SELECT unnest(generate_series(1, $KmeansDim)) i) s
         |  GROUP BY c, i) GROUP BY c),
         |c$r AS (SELECT p.c, coalesce(m.v, p.v) v
         |  FROM c${r - 1} p LEFT JOIN m$r m ON p.c = m.c)""".stripMargin
    }
    (base +: rounds).mkString(",\n")
  }

  private[graft] def kmeansOracle(k: Int, iters: Int, seeding: String = "hash"): String = {
    val seeds =
      if (seeding == "spread") kmSpreadSeedCtes(k) else kmHashSeedCtes(k)
    s"""WITH ${kmCtes(k, iters, seeds)}
       |SELECT vec_id, CAST(c AS INTEGER) AS cluster,
       |       round(d, 6) AS dist2 FROM (
       |  SELECT e.vec_id, c.c, ${kmDist("e.v", "c.v")} d,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${kmDist("e.v", "c.v")}, c.c) rn
       |  FROM e CROSS JOIN c$iters c) WHERE rn = 1""".stripMargin
  }

  /** Fit the model on the even-id half (`eh`), assign the odd-id half
    * against the fitted c$iters — the incremental/recrawl replay. */
  private def kmeansAssignOracle(k: Int, iters: Int): String =
    s"""WITH ${kmCtes(k, iters, kmHashSeedCtes(k, rel = "eh"), rel = "eh")}
       |SELECT vec_id, CAST(c AS INTEGER) AS cluster,
       |       round(d, 6) AS dist2 FROM (
       |  SELECT t.vec_id, c.c, ${kmDist("t.v", "c.v")} d,
       |    row_number() OVER (PARTITION BY t.vec_id
       |      ORDER BY ${kmDist("t.v", "c.v")}, c.c) rn
       |  FROM (SELECT * FROM e WHERE vec_id % 2 = 1) t
       |  CROSS JOIN c$iters c) WHERE rn = 1""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // --- similarity search ---
    QuerySpec("q_embed_threshold", { (s, d) =>
      Similarity.cosineThresholdPairs(embs(s, d), queries(s, d),
        "vec_id", "embedding", "qid", "qvec", threshold = 0.35)
    },
      Sql("""WITH q AS (SELECT vec_id qid, CAST(embedding AS DOUBLE[]) qe FROM embeddings WHERE vec_id < 10)
        |SELECT qid, vec_id, sim FROM (
        |  SELECT q.qid, e.vec_id, round(list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])), 6) AS sim
        |  FROM q, embeddings e WHERE q.qid <> e.vec_id)
        |WHERE sim >= 0.35""".stripMargin)),
    // partial-aggregating variant: map-side top-k before the shuffle
    QuerySpec("q_embed_topk", (s, d) => exactTopK(s, d),
      // Brute-force top-k is EXACT (deterministic (sim desc, id asc)
      // ranking in both engines), so unlike the LSH/IVF variants it
      // carries a full oracle.
      Sql("""WITH q AS (SELECT vec_id qid, CAST(embedding AS DOUBLE[]) qe FROM embeddings WHERE vec_id < 10),
        |sc AS (SELECT q.qid, e.vec_id, round(list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])), 6) AS sim
        |       FROM q, embeddings e WHERE q.qid <> e.vec_id),
        |r AS (SELECT qid, vec_id, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) rn FROM sc)
        |SELECT qid, vec_id, sim, CAST(rn AS INTEGER) AS rn FROM r WHERE rn <= 5""".stripMargin)),
    QuerySpec("q_embed_ann", { (s, d) =>
      Similarity.annCosineTopK(embs(s, d), queries(s, d),
        "vec_id", "embedding", "qid", "qvec", k = 5)
    },
      RowsOnly("q_ann_recall")),
    QuerySpec("q_embed_neardup", { (s, d) =>
      Dedup.embeddingNearDupPairs(
        embs(s, d),
        "vec_id", "embedding", threshold = 0.45, exact = true)
    },
      Sql("""SELECT id_a, id_b, sim FROM (
        |  SELECT a.vec_id id_a, b.vec_id id_b,
        |         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS sim
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |WHERE sim >= 0.45""".stripMargin)),
    QuerySpec("q_embed_ivf", { (s, d) =>
      Similarity.ivfCosineTopK(embs(s, d), queries(s, d),
        "vec_id", "embedding", "qid", "qvec", k = 5, nLists = 16, nProbe = 4)
    },
      RowsOnly("q_ivf_recall")),
    // --- int8 embedding quantization (4× storage/shuffle cut; exact
    //     floor-based codes so the oracle checks them bit-for-bit) ---
    QuerySpec("q_quantize", { (s, d) =>
      operators.Quantize
        .int8Quantize(
          table(s, d, "embeddings")
            .select(col("vec_id"), col("embedding")),
          "embedding")
        .select(col("vec_id"), col("scale"),
          array_join(transform(col("qvec"), _.cast("string")), ",").as("qstr"))
    },
      Sql("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) e FROM embeddings),
        |m AS (SELECT vec_id, e,
        |        list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale FROM v)
        |SELECT vec_id, scale,
        |  array_to_string(list_transform(e, x ->
        |    CAST(CASE WHEN scale = 0 THEN 0
        |         ELSE greatest(-127, least(127, CAST(floor(x / scale + 0.5) AS BIGINT)))
        |         END AS VARCHAR)), ',') AS qstr
        |FROM m""".stripMargin)),
    // --- quantized-shortlist top-k with exact float rerank (rows-only:
    //     the shortlist is approximate; recall pinned in QuantizeSpec) ---
    QuerySpec("q_embed_int8", { (s, d) =>
      operators.Quantize.int8CosineTopK(embs(s, d), queries(s, d),
        "vec_id", "embedding", "qid", "qvec", k = 5)
    },
      RowsOnly("q_int8_recall")),
    // --- SRP-LSH near-dup pairs (rows-only: candidate recall is
    //     probabilistic; exact verify bounds precision — see SrpSpec) ---
    QuerySpec("q_embed_srp", { (s, d) =>
      operators.Similarity.srpCosinePairs(
        table(s, d, "embeddings")
          .select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", threshold = 0.45)
    },
      RowsOnly("q_srp_recall")),
    // --- euclidean-LSH ANN top-k recall vs brute force ---
    QuerySpec("q_ann_recall", { (s, d) =>
      val ann = Similarity.annCosineTopK(
        embs(s, d), queries(s, d), "vec_id", "embedding", "qid", "qvec", k = 5)
      Quality.topKRecallCounts(exactTopK(s, d), ann, "qid", "vec_id")
        .select(col("n_q"), col("n_exact"),
          Quality.recallOk(bps = 7000).as("recall_ok"))
    },
      Sql("""SELECT count(DISTINCT vec_id) AS n_q,
        |  5 * count(DISTINCT vec_id) AS n_exact, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin)),
    // --- IVF top-k recall vs brute force. nProbe/nLists = 1/4 scan:
    //     on this near-isotropic synthetic embedding table the cells
    //     barely concentrate neighbors, so measured pooled recall is
    //     0.44–0.60 (random-baseline would be ~0.25). The gate pins
    //     "clearly better than the scan fraction, never broken", not a
    //     quality IVF can't deliver on isotropic data. ---
    QuerySpec("q_ivf_recall", { (s, d) =>
      val ivf = Similarity.ivfCosineTopK(
        embs(s, d), queries(s, d), "vec_id", "embedding", "qid", "qvec",
        k = 5, nLists = 16, nProbe = 4)
      Quality.topKRecallCounts(exactTopK(s, d), ivf, "qid", "vec_id")
        .select(col("n_q"), col("n_exact"),
          Quality.recallOk(bps = 3500).as("recall_ok"))
    },
      Sql("""SELECT count(DISTINCT vec_id) AS n_q,
        |  5 * count(DISTINCT vec_id) AS n_exact, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin)),
    // --- int8 quantized-shortlist top-k recall vs brute force ---
    QuerySpec("q_int8_recall", { (s, d) =>
      val i8 = Quantize.int8CosineTopK(
        embs(s, d), queries(s, d), "vec_id", "embedding", "qid", "qvec", k = 5)
      Quality.topKRecallCounts(exactTopK(s, d), i8, "qid", "vec_id")
        .select(col("n_q"), col("n_exact"),
          Quality.recallOk(bps = 9000).as("recall_ok"))
    },
      Sql("""SELECT count(DISTINCT vec_id) AS n_q,
        |  5 * count(DISTINCT vec_id) AS n_exact, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin)),
    // --- SRP-LSH pair recall vs the exact thresholded pair set (the
    //     same exact set q_embed_neardup is value-gated against) ---
    QuerySpec("q_srp_recall", { (s, d) =>
      val exact = operators.Dedup.embeddingNearDupPairs(
        embs(s, d), "vec_id", "embedding", threshold = 0.45, exact = true)
      val srp = Similarity.srpCosinePairs(
        embs(s, d), "vec_id", "embedding", threshold = 0.45)
      Quality.pairRecallCounts(exact, srp)
        .select(col("n_exact"), Quality.recallOk(bps = 8000).as("recall_ok"))
    },
      Sql("""SELECT count(*) AS n_exact, TRUE AS recall_ok FROM (
        |  SELECT a.vec_id ia, b.vec_id ib,
        |    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                                 CAST(b.embedding AS DOUBLE[])), 6) AS sim
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |WHERE sim >= 0.45""".stripMargin)),
    // --- SemDeDup (Abbas et al. 2023): cluster-bounded semantic dedup.
    //     Cluster assignment is engine-specific (sampled k-means) ⇒
    //     rows-only; the recall companion below carries the gate. ---
    QuerySpec("q_semdedup", { (s, d) =>
      operators.Dedup.semanticDedup(
        embs(s, d),
        "vec_id", "embedding", threshold = 0.45, nClusters = 8)
    },
      RowsOnly("q_semdedup_recall")),
    // --- SemDeDup quality companion: what fraction of the EXACT global
    //     cosine-≥-threshold pairs end up in one semantic-dedup
    //     component (the clustering's only loss is cross-cluster
    //     near-dups, so this measures exactly that miss rate). Exact
    //     side is DuckDB-reproducible; the gate is the portable
    //     contract. ---
    QuerySpec("q_semdedup_recall", { (s, d) =>
      val e = embs(s, d)
      val sem = operators.Dedup.semanticDedup(
        e, "vec_id", "embedding", threshold = 0.45, nClusters = 8)
      val comp = sem.select(col("rep"), col("vec_id"))
      // Co-component pairs: components are duplicate clusters, so the
      // within-component pair fan-out is bounded by the largest cluster.
      val coPairs = comp.as("x")
        .join(comp.as("y"),
          col("x.rep") === col("y.rep") && col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
      val exact = operators.Dedup.embeddingNearDupPairs(
        e, "vec_id", "embedding", threshold = 0.45, exact = true)
      operators.Quality.pairRecallCounts(exact, coPairs)
        .select(col("n_exact"),
          operators.Quality.recallOk(bps = 6000).as("recall_ok"))
    },
      Sql("""SELECT count(*) AS n_exact, TRUE AS recall_ok FROM (
        |  SELECT a.vec_id, b.vec_id
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                                     CAST(b.embedding AS DOUBLE[])), 6) >= 0.45)""".stripMargin)),
    // --- embedding-corpus health card: counts, dimension bounds,
    //     L2-norm distribution in one map-side-combined aggregation ---
    QuerySpec("q_embed_card", ((s, d) =>
      operators.Similarity.embeddingCard(table(s, d, "embeddings"), "embedding")),
      // Norm arithmetic mirrors the native dot product: double widening,
      // sequential accumulation; all stats rounded to 6.
      Sql("""WITH v AS (
        |  SELECT embedding e,
        |    CASE WHEN embedding IS NOT NULL THEN
        |      sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
        |                              CAST(embedding AS DOUBLE[]))) END AS norm,
        |    CASE WHEN embedding IS NOT NULL THEN len(embedding) END AS dim
        |  FROM embeddings)
        |SELECT
        |  CAST(count(*) AS BIGINT) AS n_vectors,
        |  CAST(coalesce(sum(CASE WHEN e IS NULL THEN 1 END), 0) AS BIGINT) AS n_null,
        |  CAST(min(dim) AS INTEGER) AS dim_min,
        |  CAST(max(dim) AS INTEGER) AS dim_max,
        |  CAST(coalesce(sum(CASE WHEN norm = 0 THEN 1 END), 0) AS BIGINT) AS n_zero,
        |  round(avg(norm), 6) AS avg_norm,
        |  round(quantile_cont(norm, 0.5), 6) AS med_norm,
        |  round(min(norm), 6) AS min_norm,
        |  round(max(norm), 6) AS max_norm
        |FROM v""".stripMargin)),
    // --- deterministic Lloyd's k-means: md5-seeded init, 2 exact
    //     iterations, centroids rounded 6 each update — the oracle
    //     replays the fit round by round ---
    QuerySpec("q_kmeans", ((s, d) =>
      operators.Clustering.lloyd(
        table(s, d, "embeddings"), "vec_id", "embedding", k = KmeansK,
        iters = KmeansIters)),
      Sql(kmeansOracle(KmeansK, KmeansIters))),
    // --- cluster-balanced sampling off the fitted assignment: up to 25
    //     ids per cluster by md5 draw (bounded per-group heaps) ---
    QuerySpec("q_cluster_sample", ((s, d) =>
      operators.Clustering.clusterBalancedSample(
        operators.Clustering.lloyd(
          table(s, d, "embeddings"), "vec_id", "embedding", k = KmeansK,
          iters = KmeansIters),
        "vec_id", perCluster = 25)),
      // Balanced draw replayed over the fitted assignment.
      Sql(s"""WITH base AS (${kmeansOracle(KmeansK, KmeansIters)})
         |SELECT CAST(cluster AS INTEGER) AS cluster, vec_id FROM (
         |  SELECT cluster, vec_id, row_number() OVER (
         |    PARTITION BY cluster
         |    ORDER BY md5('cs' || CAST(vec_id AS VARCHAR))) rn
         |  FROM base) WHERE rn <= 25""".stripMargin)),
    // --- farthest-first (deterministic k-means++) seeded fit: better
    //     spread centroids, k bounded 1-row scans, same exact replay ---
    QuerySpec("q_kmeans_spread", ((s, d) =>
      operators.Clustering.lloyd(
        table(s, d, "embeddings"), "vec_id", "embedding", k = KmeansK, iters = 1,
        seeding = "spread")),
      Sql(kmeansOracle(KmeansK, 1, seeding = "spread"))),
    // --- incremental assignment: fit centroids on the even-id half,
    //     assign the odd-id half map-only against the fitted model
    //     (the recrawl path: no refit, model folds in as literals) ---
    QuerySpec("q_kmeans_assign", { (s, d) =>
      val em = table(s, d, "embeddings")
      val model = operators.Clustering.lloydCentroids(
        em.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
        k = KmeansK, iters = KmeansIters)
      operators.Clustering.assignToCentroids(
        em.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", model)
    },
      Sql(kmeansAssignOracle(KmeansK, KmeansIters))),
    // --- residual pruning: the 10 farthest vectors per cluster ---
    QuerySpec("q_cluster_outliers", ((s, d) =>
      operators.Clustering.clusterOutliers(
        operators.Clustering.lloyd(
          table(s, d, "embeddings"), "vec_id", "embedding", k = KmeansK,
          iters = KmeansIters),
        "vec_id", topN = 10)),
      // Farthest-per-cluster replay: ordered on the ROUNDED dist2 with
      // the id tiebreak, exactly as the GroupedTopK heaps order.
      Sql(s"""WITH base AS (${kmeansOracle(KmeansK, KmeansIters)})
         |SELECT CAST(cluster AS INTEGER) AS cluster, vec_id, dist2 FROM (
         |  SELECT cluster, vec_id, dist2, row_number() OVER (
         |    PARTITION BY cluster ORDER BY dist2 DESC, vec_id) rn
         |  FROM base) WHERE rn <= 10""".stripMargin)),
    // --- in-context (semantic) packing: fit k-means on the doc
    //     embeddings, then fill each 256-token context window from ONE
    //     cluster — related documents land in the same training
    //     sequence (in-context pretraining). Composition of the two
    //     gated operators: lloyd assignment (map-only, centroid
    //     literals) + groupedPack (global two-pass prefix sum minus a
    //     broadcast k-row cluster-offset table; never a hot
    //     per-cluster window). ---
    QuerySpec("q_cluster_pack", { (s, d) =>
      val assigned = operators.Clustering.lloyd(
        table(s, d, "embeddings"), "vec_id", "embedding",
        k = KmeansK, iters = KmeansIters)
      val counts = table(s, d, "documents").select(col("doc_id"),
        operators.TextAnalysis.tokenCount(col("text")).as("__nt"))
      operators.Packing.groupedPack(
        assigned.withColumnRenamed("vec_id", "doc_id")
          .select("doc_id", "cluster").join(counts, "doc_id"),
        "doc_id", groupCol = col("cluster"), groupName = "cluster",
        tokensCol = col("__nt"), contextLen = 256)
    },
      Sql(s"""WITH a AS (
         |${kmeansOracle(KmeansK, KmeansIters)}
         |),
         |n AS (SELECT doc_id, CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) n FROM documents),
         |j AS (SELECT a.vec_id AS doc_id, CAST(a.cluster AS INTEGER) AS cluster, n.n
         |      FROM a JOIN n ON a.vec_id = n.doc_id),
         |c AS (SELECT doc_id, cluster, n,
         |        sum(n) OVER (PARTITION BY cluster ORDER BY doc_id) - n AS cb FROM j)
         |SELECT doc_id, cluster, n,
         |  CAST(cb // 256 AS BIGINT) AS bin,
         |  CAST(cb % 256 AS BIGINT) AS bin_offset
         |FROM c""".stripMargin)),
    // --- INCREMENTAL IVF index: quantizer fit on the 6/7 base corpus,
    //     the 1/7 delta assigned to the FROZEN centroids relationally
    //     (no fit job) and appended; top-k from the extended index is
    //     recall-gated against full-corpus brute force — the same gate
    //     shape and threshold as q_ivf_recall, so extension must not
    //     cost recall on this corpus. ---
    QuerySpec("q_ivf_extend", { (s, d) =>
      val e = table(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val qs = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val base = e.filter(col("vec_id") % 7 =!= 0)
      val delta = e.filter(col("vec_id") % 7 === 0)
      val (assigned, centroids) = operators.Similarity.buildIvfIndex(
        base, "vec_id", "embedding", nLists = 16)
      val extended = assigned.unionByName(
        operators.Similarity.extendIvfIndex(
          delta, centroids, "vec_id", "embedding"))
      val ivf = operators.Similarity.ivfTopKFromIndex(
        extended, centroids, qs, "vec_id", "embedding", "qid", "qvec",
        k = 5, nProbe = 4)
      val exact = operators.Similarity.bruteForceTopKAgg(
        e, qs, "vec_id", "embedding", "qid", "qvec", k = 5)
      operators.Quality.topKRecallCounts(exact, ivf, "qid", "vec_id")
        .select(col("n_q"), col("n_exact"),
          operators.Quality.recallOk(bps = 3500).as("recall_ok"))
    },
      // Same exact-side counts + thresholded-boolean contract as
      // q_ivf_recall: the exact top-k side is engine-reproducible, the
      // recall gate is deterministic for the fixed seeds.
      Sql("""SELECT count(DISTINCT vec_id) AS n_q,
        |  5 * count(DISTINCT vec_id) AS n_exact, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin)),
    // --- quantizer drift: deterministic 8-cell quantizer, base = the
    //     6/7 slice assigned to it, delta = the 1/7 slice with its
    //     first embedding component shifted +0.5 before assignment —
    //     the report must show the delta's mass piling into the
    //     shifted-direction cells and its mean within-cell distance
    //     rising. Fixed-point micro sums keep the means bit-stable
    //     and hash-comparable. ---
    QuerySpec("q_ivf_drift", { (s, d) =>
      val e = table(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val vd = col("embedding").cast("array<double>")
      val nrm = sqrt(aggregate(transform(vd, x => x * x),
        lit(0.0), (a, x) => a + x))
      val centroids = e.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("cell"),
          transform(vd, x => x / nrm).as("centroid"))
      val base = operators.Similarity.extendIvfIndex(
        e.filter(col("vec_id") % 7 =!= 0), centroids, "vec_id", "embedding")
      val shifted = e.filter(col("vec_id") % 7 === 0)
        .select(col("vec_id"),
          transform(vd, (x, i) => when(i === 0, x + lit(0.5)).otherwise(x))
            .as("embedding"))
      val delta = operators.Similarity.extendIvfIndex(
        shifted, centroids, "vec_id", "embedding")
      operators.Similarity.quantizerDrift(
        base, delta, centroids, "embedding")
    },
      // The assignment argmin and both drift signals replayed from the
      // raw embeddings — same unit-normalization, same squared-euclid
      // fold, same fixed-point micro rounding before the sums.
      Sql("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
        |           FROM embeddings),
        |cents AS (SELECT CAST(vec_id AS INT) AS cell,
        |    list_transform(v, x -> x / n) AS c
        |  FROM (SELECT vec_id, v,
        |          sqrt(list_sum(list_transform(v, y -> y * y))) AS n
        |        FROM e)
        |  WHERE vec_id < 8),
        |bsrc AS (SELECT vec_id, v FROM e WHERE vec_id % 7 <> 0),
        |dsrc AS (SELECT vec_id,
        |    list_transform(generate_series(1, len(v)),
        |      i -> CASE WHEN i = 1 THEN v[i] + 0.5 ELSE v[i] END) AS v
        |  FROM e WHERE vec_id % 7 = 0),
        |bu AS (SELECT vec_id, list_transform(v, x -> x / n) AS u
        |  FROM (SELECT vec_id, v,
        |          sqrt(list_sum(list_transform(v, y -> y * y))) AS n
        |        FROM bsrc) WHERE n > 0),
        |du AS (SELECT vec_id, list_transform(v, x -> x / n) AS u
        |  FROM (SELECT vec_id, v,
        |          sqrt(list_sum(list_transform(v, y -> y * y))) AS n
        |        FROM dsrc) WHERE n > 0),
        |bd AS (SELECT vec_id, cell,
        |    list_sum(list_transform(generate_series(1, len(u)),
        |      i -> (u[i] - c[i]) * (u[i] - c[i]))) AS d2
        |  FROM bu CROSS JOIN cents),
        |dd AS (SELECT vec_id, cell,
        |    list_sum(list_transform(generate_series(1, len(u)),
        |      i -> (u[i] - c[i]) * (u[i] - c[i]))) AS d2
        |  FROM du CROSS JOIN cents),
        |bass AS (SELECT cell, d2 FROM (SELECT cell, d2,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        |  FROM bd) WHERE rn = 1),
        |dass AS (SELECT cell, d2 FROM (SELECT cell, d2,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        |  FROM dd) WHERE rn = 1),
        |bstat AS (SELECT cell, count(*) AS n_base,
        |    sum(CAST(round(d2 * 1e6) AS BIGINT)) AS d2b
        |  FROM bass GROUP BY cell),
        |dstat AS (SELECT cell, count(*) AS n_delta,
        |    sum(CAST(round(d2 * 1e6) AS BIGINT)) AS d2d
        |  FROM dass GROUP BY cell),
        |j AS (SELECT cents.cell, coalesce(n_base, 0) AS n_base,
        |    coalesce(n_delta, 0) AS n_delta, d2b, d2d
        |  FROM cents LEFT JOIN bstat USING (cell)
        |    LEFT JOIN dstat USING (cell)),
        |t AS (SELECT *, sum(n_base) OVER () AS tb,
        |    sum(n_delta) OVER () AS td FROM j),
        |f AS (SELECT cell, n_base, n_delta,
        |    round(CAST(n_base AS DOUBLE) / greatest(tb, 1), 6) AS fill_base,
        |    round(CAST(n_delta AS DOUBLE) / greatest(td, 1), 6) AS fill_delta,
        |    CASE WHEN n_base > 0
        |      THEN round(CAST(d2b AS DOUBLE) / 1e6 / n_base, 6) END
        |      AS mean_d2_base,
        |    CASE WHEN n_delta > 0
        |      THEN round(CAST(d2d AS DOUBLE) / 1e6 / n_delta, 6) END
        |      AS mean_d2_delta
        |  FROM t)
        |SELECT cell, CAST(n_base AS BIGINT) AS n_base,
        |       CAST(n_delta AS BIGINT) AS n_delta,
        |       fill_base, fill_delta,
        |       round(fill_delta - fill_base, 6) AS fill_shift,
        |       mean_d2_base, mean_d2_delta,
        |       CASE WHEN n_base > 0 AND n_delta > 0
        |         THEN round(mean_d2_delta - mean_d2_base, 6) END AS d2_shift
        |FROM f""".stripMargin)))
}
