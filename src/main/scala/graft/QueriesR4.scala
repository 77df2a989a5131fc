package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Sources.table

/** Round-4 corpus additions: statistical aggregates, correlated
  * EXISTS/LATERAL subqueries, RANGE window frames, map functions,
  * positional window functions, bloom-pruned semi join, and two more
  * training-data operators (PII-style redaction, repetition metrics).
  * Same contract as [[Queries]]: every entry has a DuckDB oracle with
  * identical column names; FP aggregates are rounded in both engines
  * because cross-engine summation order differs.
  */
object QueriesR4 {

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- statistical aggregates (stddev/var/corr/covar) ---
    "q_stats_agg" -> ((s, d) =>
      table(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          round(var_samp(col("l_quantity")), 4).as("var_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
          round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("covar_qd"))),
    // --- correlated EXISTS + NOT EXISTS (planned as semi/anti joins) ---
    "q_exists" -> { (s, d) =>
      table(s, d, "customer").createOrReplaceTempView("customer_ex")
      table(s, d, "orders").createOrReplaceTempView("orders_ex")
      s.sql("""SELECT c_custkey, c_name FROM customer_ex c
              |WHERE EXISTS (SELECT 1 FROM orders_ex o
              |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
              |  AND NOT EXISTS (SELECT 1 FROM orders_ex o2
              |                  WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')""".stripMargin)
    },
    // --- LATERAL correlated subquery in the FROM clause ---
    "q_lateral" -> { (s, d) =>
      table(s, d, "nation").createOrReplaceTempView("nation_lat")
      table(s, d, "customer").createOrReplaceTempView("customer_lat")
      s.sql("""SELECT n_name, cnt FROM nation_lat n,
              |LATERAL (SELECT count(*) AS cnt FROM customer_lat c
              |         WHERE c.c_nationkey = n.n_nationkey) t""".stripMargin)
    },
    // --- RANGE window frame (value-based, not row-based): orders per
    //     customer within the trailing 90 days ---
    "q_window_range" -> { (s, d) =>
      val w = Window.partitionBy("o_custkey").orderBy("d").rangeBetween(-90, 0)
      table(s, d, "orders")
        .withColumn("d", datediff(col("o_orderdate"), to_date(lit("1992-01-01"))))
        .withColumn("cnt", count(lit(1)).over(w))
        .select("o_custkey", "o_orderkey", "d", "cnt")
    },
    // --- map construction + iteration (map_from_entries → explode) ---
    "q_map_fns" -> ((s, d) =>
      table(s, d, "nation")
        .groupBy("n_regionkey")
        .agg(map_from_entries(
          sort_array(collect_list(struct(col("n_name"), col("n_nationkey")))))
          .as("m"))
        .select(col("n_regionkey"), explode(col("m")))
        .withColumnRenamed("key", "n_name")
        .withColumnRenamed("value", "n_nationkey")),
    // --- positional window functions over the full-partition frame ---
    "q_first_last" -> { (s, d) =>
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      table(s, d, "orders")
        .select(
          col("o_custkey"), col("o_orderkey"),
          first(col("o_orderkey")).over(w).as("first_ok"),
          last(col("o_orderkey")).over(w).as("last_ok"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_ok"))
    },
    // --- ntile bucketing (deterministic: unique order key) ---
    "q_ntile" -> { (s, d) =>
      val w = Window.partitionBy("o_orderstatus").orderBy("o_orderkey")
      table(s, d, "orders")
        .select(col("o_orderstatus"), col("o_orderkey"),
          ntile(4).over(w).as("nt"))
    },
    // --- bloom-pruned semi join (exact result; see BloomJoin scaladoc) ---
    "q_bloom_join" -> { (s, d) =>
      val big = table(s, d, "lineitem")
      val small = table(s, d, "orders").filter(col("o_totalprice") > 400000)
      operators.BloomJoin
        .bloomSemiJoin(big, small, "l_orderkey", "o_orderkey",
          expectedItems = 100000L)
        .select("l_orderkey", "l_linenumber", "l_quantity")
    },
    // --- non-parquet sources: JSON / CSV round trips through
    //     Sources.json / Sources.csv with explicit schemas (schema
    //     inference is a full extra pass at 100 TB — never rely on it) ---
    "q_json_source" -> { (s, d) =>
      sources.Sources.json(s, Fixtures.jsonNation(s, d),
        "n_nationkey INT, n_name STRING, n_regionkey INT")
        .select("n_nationkey", "n_name", "n_regionkey")
    },
    "q_csv_source" -> { (s, d) =>
      sources.Sources.csv(s, Fixtures.csvRegion(s, d),
        "r_regionkey INT, r_name STRING")
        .select("r_regionkey", "r_name")
    },
    // --- PII-style redaction (digit runs masked) — training-data scrub ---
    "q_redact" -> ((s, d) =>
      table(s, d, "documents")
        .select(col("doc_id"),
          substring(regexp_replace(col("text"), "[0-9]+", "#"), 1, 80)
            .as("red"))),
    // --- HLL register sketch (rows-only: engine-pinned hash; tolerance
    //     + partition-invariance pinned in DistinctSketchSpec) ---
    "q_hll_distinct" -> ((s, d) =>
      table(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(graft.functions.DistinctSketch.hllSketch(col("o_custkey"))
          .as("approx_custs"))),
    // --- corpus-unigram LM score (cheap perplexity-proxy quality signal) ---
    "q_unigram_lm" -> ((s, d) =>
      operators.TextAnalysis.unigramLogProbs(
        table(s, d, "documents"), "doc_id", "text")),
    // --- token-budget training shards via distributed prefix sum
    //     (two-pass: per-partition totals + offset broadcast — NOT the
    //     single-task global window) ---
    "q_shard" -> { (s, d) =>
      val base = table(s, d, "documents")
        .select(col("doc_id"), size(split(col("text"), " ")).as("n_tok"))
      operators.Packing.tokenShards(base, "doc_id", "n_tok", 2048L)
        .select("doc_id", "n_tok", "shard")
    },
    // --- leakage-free splits: split by near-dup CLUSTER representative,
    //     so near-duplicates can never straddle train/test (the classic
    //     eval-contamination bug when splitting by raw doc id).
    //     Pairs come from the EXACT Jaccard operator so the semantics
    //     provably match the all-pairs DuckDB oracle — the banded
    //     MinHash composition (probabilistic candidate recall) is
    //     exercised by q_pipeline/q_dedup_neardup instead. ---
    "q_split_leakfree" -> { (s, d) =>
      val dd = table(s, d, "documents")
      val reps = operators.Dedup.nearDupComponents(
        dd.select("doc_id"),
        operators.Dedup.ngramJaccardPairs(dd, "doc_id", "text", k = 3, threshold = 0.8)
          .select("id_a", "id_b"))
      reps.select(col("doc_id"), col("rep"),
        operators.Splits.assignSplit(col("rep"),
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)).as("split"))
    },
    // --- int8 embedding quantization (4× storage/shuffle cut; exact
    //     floor-based codes so the oracle checks them bit-for-bit) ---
    "q_quantize" -> { (s, d) =>
      operators.Quantize
        .int8Quantize(
          table(s, d, "embeddings")
            .select(col("vec_id"), col("embedding")),
          "embedding")
        .select(col("vec_id"), col("scale"),
          array_join(transform(col("qvec"), _.cast("string")), ",").as("qstr"))
    },
    // --- quantized-shortlist top-k with exact float rerank (rows-only:
    //     the shortlist is approximate; recall pinned in QuantizeSpec) ---
    "q_embed_int8" -> { (s, d) =>
      val e = table(s, d, "embeddings")
      operators.Quantize.int8CosineTopK(
        e.select(col("vec_id"), col("embedding")),
        e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "vec_id", "embedding", "qid", "qvec", k = 5)
    },
    // --- SRP-LSH near-dup pairs (rows-only: candidate recall is
    //     probabilistic; exact verify bounds precision — see SrpSpec) ---
    "q_embed_srp" -> { (s, d) =>
      operators.Similarity.srpCosinePairs(
        table(s, d, "embeddings")
          .select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", threshold = 0.45)
    },
    // --- weighted training-mix interleave (rank/weight positions via
    //     the same distributed prefix sum — no global row_number) ---
    "q_mix" -> { (s, d) =>
      operators.Packing.weightedMix(
        Seq(
          ("docs", table(s, d, "documents"), 0.7),
          ("embs", table(s, d, "embeddings").withColumnRenamed("vec_id", "doc_id"), 0.3)),
        "doc_id")
    },
    // --- repetition/diversity metrics (gopher-style quality signals):
    //     distinct-unigram and distinct-trigram ratios per document ---
    "q_repetition" -> { (s, d) =>
      val ts = split(col("text"), " ")
      val tri = operators.Shingles.wordShinglesAll(col("text"), 3)
      table(s, d, "documents")
        .filter(size(ts) >= 3)
        .select(col("doc_id"),
          round(size(array_distinct(ts)).cast("double") / size(ts), 6)
            .as("uni_ratio"),
          round(size(array_distinct(tri)).cast("double") / size(tri), 6)
            .as("tri_ratio"))
    }
  )

  val oracles: Map[String, String] = Map(
    "q_stats_agg" ->
      """SELECT l_returnflag,
        |  round(stddev_samp(l_quantity), 4) AS sd_qty,
        |  round(var_samp(l_quantity), 4) AS var_qty,
        |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
        |  round(covar_samp(l_quantity, l_discount), 6) AS covar_qd
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q_exists" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |  AND NOT EXISTS (SELECT 1 FROM orders o2
        |                  WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')""".stripMargin,
    "q_lateral" ->
      """SELECT n_name, cnt FROM nation n,
        |LATERAL (SELECT count(*) AS cnt FROM customer c
        |         WHERE c.c_nationkey = n.n_nationkey) t""".stripMargin,
    "q_window_range" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(datediff('day', DATE '1992-01-01', o_orderdate) AS INTEGER) AS d,
        |  count(*) OVER (PARTITION BY o_custkey
        |                 ORDER BY datediff('day', DATE '1992-01-01', o_orderdate)
        |                 RANGE BETWEEN 90 PRECEDING AND CURRENT ROW) AS cnt
        |FROM orders""".stripMargin,
    "q_map_fns" ->
      "SELECT n_regionkey, n_name, n_nationkey FROM nation",
    "q_first_last" ->
      """SELECT o_custkey, o_orderkey,
        |  first_value(o_orderkey) OVER w AS first_ok,
        |  last_value(o_orderkey) OVER w AS last_ok,
        |  nth_value(o_orderkey, 2) OVER w AS second_ok
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin,
    "q_ntile" ->
      """SELECT o_orderstatus, o_orderkey,
        |  CAST(ntile(4) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey) AS INTEGER) AS nt
        |FROM orders""".stripMargin,
    "q_bloom_join" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_orderkey IN
        |  (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)""".stripMargin,
    "q_json_source" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    "q_csv_source" ->
      "SELECT r_regionkey, r_name FROM region",
    "q_redact" ->
      """SELECT doc_id,
        |  substr(regexp_replace(text, '[0-9]+', '#', 'g'), 1, 80) AS red
        |FROM documents""".stripMargin,
    "q_split_leakfree" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(ts) >= 3 THEN list_transform(generate_series(1, len(ts) - 2), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) ELSE [] END) s FROM toks),
        |ex AS (SELECT doc_id, unnest(s) g FROM sh),
        |cnt AS (SELECT doc_id, len(s) n FROM sh),
        |cand AS (SELECT a.doc_id ia, b.doc_id ib, count(*) common FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT ia, ib FROM (
        |  SELECT ia, ib, round(common * 1.0 / (ca.n + cb.n - common), 6) AS jaccard
        |  FROM cand JOIN cnt ca ON ia = ca.doc_id JOIN cnt cb ON ib = cb.doc_id)
        |  WHERE jaccard >= 0.8),
        |edges AS (SELECT ia AS src, ib AS dst FROM pairs UNION ALL SELECT ib, ia FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |rep AS (SELECT src AS doc_id, least(src, min(dst)) AS rep FROM reach GROUP BY src),
        |allreps AS (SELECT d.doc_id, coalesce(r.rep, d.doc_id) AS rep
        |         FROM documents d LEFT JOIN rep r ON d.doc_id = r.doc_id)
        |SELECT doc_id, rep, CASE
        |  WHEN bucket < 9000 THEN 'train'
        |  WHEN bucket < 9500 THEN 'val'
        |  ELSE 'test' END AS split
        |FROM (SELECT doc_id, rep,
        |  CAST(CAST(('0x' || substr(md5(CAST(rep AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 AS INTEGER) AS bucket
        |FROM allreps)""".stripMargin,
    "q_quantize" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) e FROM embeddings),
        |m AS (SELECT vec_id, e,
        |        list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale FROM v)
        |SELECT vec_id, scale,
        |  array_to_string(list_transform(e, x ->
        |    CAST(CASE WHEN scale = 0 THEN 0
        |         ELSE greatest(-127, least(127, CAST(floor(x / scale + 0.5) AS BIGINT)))
        |         END AS VARCHAR)), ',') AS qstr
        |FROM m""".stripMargin,
    "q_mix" ->
      """SELECT 'docs' AS source, doc_id AS rid,
        |  CAST(row_number() OVER (ORDER BY doc_id) AS DOUBLE) / 0.7 AS pos
        |FROM documents
        |UNION ALL
        |SELECT 'embs' AS source, vec_id AS rid,
        |  CAST(row_number() OVER (ORDER BY vec_id) AS DOUBLE) / 0.3 AS pos
        |FROM embeddings""".stripMargin,
    "q_unigram_lm" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |freq AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
        |tot AS (SELECT sum(c) AS n FROM freq)
        |SELECT t.doc_id, count(*) AS n_tok,
        |  round(sum(ln(CAST(f.c AS DOUBLE) / CAST(tot.n AS DOUBLE))), 6) AS logprob,
        |  round(sum(ln(CAST(f.c AS DOUBLE) / CAST(tot.n AS DOUBLE))) / count(*), 6) AS avg_lp
        |FROM toks t JOIN freq f USING (tok) CROSS JOIN tot
        |GROUP BY t.doc_id""".stripMargin,
    "q_shard" ->
      """WITH toks AS (SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents)
        |SELECT doc_id, CAST(n AS INTEGER) AS n_tok,
        |  CAST(floor((CAST(sum(n) OVER (ORDER BY doc_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) - n)
        |       / 2048.0) AS BIGINT) AS shard
        |FROM toks""".stripMargin,
    "q_repetition" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |tri AS (SELECT doc_id, ts,
        |  list_transform(generate_series(1, len(ts) - 2),
        |                 i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) tg
        |  FROM toks WHERE len(ts) >= 3)
        |SELECT doc_id,
        |  round(CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts), 6) AS uni_ratio,
        |  round(CAST(len(list_distinct(tg)) AS DOUBLE) / len(tg), 6) AS tri_ratio
        |FROM tri""".stripMargin
  )
}
