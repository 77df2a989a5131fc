package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Quality, Quantize, Similarity}
import graft.sources.Sources.table

/** Round-5 corpus additions: the scale-safe approximate percentile and
  * driver-gated QUALITY companions for the approximate operators.
  *
  * The approximate queries themselves (q_embed_ann / q_embed_ivf /
  * q_embed_srp / q_embed_int8 / q_hll_distinct / q_approx_distinct)
  * stay rows-only — their values are seeded engine-specific hashes. The
  * companions here make their quality contracts oracle-gated instead:
  * join approximate vs exact, emit exact-side counts DuckDB can
  * reproduce, and a thresholded boolean that is deterministic for the
  * fixed seeds. Thresholds sit BELOW the measured sf0.01/sf0.1 quality
  * (see the spec pins: SrpSpec ≥ 0.8, QuantizeSpec ≥ 0.9,
  * DistinctSketchSpec 5%) so they gate regressions, not noise.
  */
object QueriesR5 {

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

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- scale-safe percentile: fixed-state sketch (QuantileSummaries)
    //     instead of buffering every value per group — the exact
    //     `percentile` on a cardinality-3 key concentrates the whole
    //     table into 3 final-agg buffers (memory, then spill, at 100×).
    //     Gated against the exact value within 2% relative error. ---
    "q_approx_percentile" -> ((s, d) =>
      table(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n_rows"),
          expr("percentile_approx(l_extendedprice, 0.5D, 10000)").as("__ap"),
          expr("percentile(l_extendedprice, 0.5D)").as("__ex"))
        .select(col("l_returnflag"), col("n_rows"),
          (abs(col("__ap") - col("__ex")) <= col("__ex") * 0.02).as("med_ok"))),
    // --- euclidean-LSH ANN top-k recall vs brute force ---
    "q_ann_recall" -> { (s, d) =>
      val ann = Similarity.annCosineTopK(
        embs(s, d), queries(s, d), "vec_id", "embedding", "qid", "qvec", k = 5)
      Quality.topKRecallCounts(exactTopK(s, d), ann, "qid", "vec_id")
        .select(col("n_q"), col("n_exact"),
          Quality.recallOk(bps = 7000).as("recall_ok"))
    },
    // --- IVF top-k recall vs brute force. nProbe/nLists = 1/4 scan:
    //     on this near-isotropic synthetic embedding table the cells
    //     barely concentrate neighbors, so measured pooled recall is
    //     0.44–0.60 (random-baseline would be ~0.25). The gate pins
    //     "clearly better than the scan fraction, never broken", not a
    //     quality IVF can't deliver on isotropic data. ---
    "q_ivf_recall" -> { (s, d) =>
      val ivf = Similarity.ivfCosineTopK(
        embs(s, d), queries(s, d), "vec_id", "embedding", "qid", "qvec",
        k = 5, nLists = 16, nProbe = 4)
      Quality.topKRecallCounts(exactTopK(s, d), ivf, "qid", "vec_id")
        .select(col("n_q"), col("n_exact"),
          Quality.recallOk(bps = 3500).as("recall_ok"))
    },
    // --- int8 quantized-shortlist top-k recall vs brute force ---
    "q_int8_recall" -> { (s, d) =>
      val i8 = Quantize.int8CosineTopK(
        embs(s, d), queries(s, d), "vec_id", "embedding", "qid", "qvec", k = 5)
      Quality.topKRecallCounts(exactTopK(s, d), i8, "qid", "vec_id")
        .select(col("n_q"), col("n_exact"),
          Quality.recallOk(bps = 9000).as("recall_ok"))
    },
    // --- SRP-LSH pair recall vs the exact thresholded pair set (the
    //     same exact set q_embed_neardup is value-gated against) ---
    "q_srp_recall" -> { (s, d) =>
      val exact = operators.Dedup.embeddingNearDupPairs(
        embs(s, d), "vec_id", "embedding", threshold = 0.45, exact = true)
      val srp = Similarity.srpCosinePairs(
        embs(s, d), "vec_id", "embedding", threshold = 0.45)
      Quality.pairRecallCounts(exact, srp)
        .select(col("n_exact"), Quality.recallOk(bps = 8000).as("recall_ok"))
    },
    // --- banded-MinHash candidate recall vs the exact Jaccard >= 0.8
    //     pair set (the same exact set q_dedup_neardup verifies
    //     against). Measured 0.996-1.0 at sf0.001-sf0.1; gated at 0.90.
    //     This makes the q_dedup_minhash rows-only query's QUALITY a
    //     driver-gated contract, not just a spec assertion. ---
    "q_minhash_recall" -> { (s, d) =>
      val docs = table(s, d, "documents")
      val exact = operators.Dedup
        .ngramJaccardPairs(docs, "doc_id", "text", k = 3, threshold = 0.8)
      val cand = operators.Dedup
        .minHashNearDupPairs(docs, "doc_id", "text")
      Quality.pairRecallCounts(exact, cand)
        .select(col("n_exact"), Quality.recallOk(bps = 9000).as("recall_ok"))
    },
    // --- SimHash banding completeness: the 4x16-bit pigeonhole split
    //     GUARANTEES every pair at hamming <= 3 shares a band, so the
    //     banded candidate set must equal the brute-force hamming <= 3
    //     pair set EXACTLY (bps=10000 = no miss at all). The signature
    //     is engine-specific, so the exact side is computed in-Spark
    //     and only the completeness verdict is driver-gated. The exact
    //     side is an INTENTIONAL brute-force crossJoin — the only
    //     all-pairs join in the corpus, bounded to quality-gate scale
    //     factors by design (the production path is the banded
    //     simHashNearDupPairs alone; see SCALE.md caveats). ---
    "q_simhash_complete" -> { (s, d) =>
      val docs = table(s, d, "documents")
      val sig = operators.Dedup.simHash64(docs, "doc_id", "text")
      val a = sig.select(col("id").as("id_a"), col("simhash").as("sa"))
      val b = sig.select(col("id").as("id_b"), col("simhash").as("sb"))
      val exact = a.crossJoin(b)
        .filter(col("id_a") < col("id_b") &&
          bit_count(col("sa").bitwiseXOR(col("sb"))) <= 3)
        .select("id_a", "id_b")
      val cand = operators.Dedup
        .simHashNearDupPairs(docs, "doc_id", "text", maxHamming = 3)
      Quality.pairRecallCounts(exact, cand)
        .select(Quality.recallOk(bps = 10000).as("recall_ok"))
    },
    // --- HLL register sketch within 5% of exact per group ---
    "q_hll_tolerance" -> ((s, d) =>
      table(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(
          count_distinct(col("o_custkey")).as("exact_nd"),
          graft.functions.DistinctSketch.hllSketch(col("o_custkey")).as("__est"))
        .select(col("o_orderstatus"), col("exact_nd"),
          (abs(col("__est") - col("exact_nd")) <= col("exact_nd") * 0.05)
            .as("tol_ok"))),
    // --- ORC source round trip through Sources.orc with an explicit
    //     schema (completes the columnar-format matrix: parquet native,
    //     ORC via Spark's vectorized ORC reader). The ORC copy is a
    //     FIXTURE ([[Fixtures.orcSupplier]]): materialized once per
    //     (JVM, sf dir) into a private temp dir removed on JVM exit —
    //     the query itself is read-only, Bench warms it eagerly so all
    //     timed runs measure the read, and concurrent harness runs
    //     never share a path. ---
    "q_orc_source" -> { (s, d) =>
      val out = Fixtures.orcSupplier(s, d)
      sources.Sources.orc(s, out,
        "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE")
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    },
    // --- Spark's built-in HLL++ (approx_count_distinct) within 5% ---
    "q_approx_distinct_tolerance" -> ((s, d) =>
      table(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(
          count_distinct(col("o_custkey")).as("exact_nd"),
          approx_count_distinct(col("o_custkey"), rsd = 0.02).as("__est"))
        .select(col("o_orderstatus"), col("exact_nd"),
          (abs(col("__est") - col("exact_nd")) <= col("exact_nd") * 0.05)
            .as("tol_ok")))
  )

  val oracles: Map[String, String] = Map(
    "q_approx_percentile" ->
      """SELECT l_returnflag, count(*) AS n_rows, TRUE AS med_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q_ann_recall" ->
      """SELECT count(DISTINCT vec_id) AS n_q,
        |  5 * count(DISTINCT vec_id) AS n_exact, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin,
    "q_ivf_recall" ->
      """SELECT count(DISTINCT vec_id) AS n_q,
        |  5 * count(DISTINCT vec_id) AS n_exact, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin,
    "q_int8_recall" ->
      """SELECT count(DISTINCT vec_id) AS n_q,
        |  5 * count(DISTINCT vec_id) AS n_exact, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin,
    "q_srp_recall" ->
      """SELECT count(*) AS n_exact, TRUE AS recall_ok FROM (
        |  SELECT a.vec_id ia, b.vec_id ib,
        |    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                                 CAST(b.embedding AS DOUBLE[])), 6) AS sim
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |WHERE sim >= 0.45""".stripMargin,
    "q_minhash_recall" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(ts) >= 3 THEN list_transform(generate_series(1, len(ts) - 2), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) ELSE [] END) s FROM toks),
        |ex AS (SELECT doc_id, unnest(s) g FROM sh),
        |cnt AS (SELECT doc_id, len(s) n FROM sh),
        |cand AS (SELECT a.doc_id ia, b.doc_id ib, count(*) common FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT count(*)::BIGINT AS n_exact, TRUE AS recall_ok FROM (
        |  SELECT round(common * 1.0 / (ca.n + cb.n - common), 6) AS jaccard
        |  FROM cand JOIN cnt ca ON ia = ca.doc_id JOIN cnt cb ON ib = cb.doc_id)
        |WHERE jaccard >= 0.8""".stripMargin,
    "q_simhash_complete" ->
      "SELECT TRUE AS recall_ok",
    "q_orc_source" ->
      "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
    "q_hll_tolerance" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS exact_nd,
        |  TRUE AS tol_ok
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "q_approx_distinct_tolerance" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS exact_nd,
        |  TRUE AS tol_ok
        |FROM orders GROUP BY o_orderstatus""".stripMargin
  )
}
