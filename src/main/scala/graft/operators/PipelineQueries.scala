package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Sources.table

/** Declared-query corpus for the LLM-data-pipeline operators, over the
  * driver's `documents.parquet` / `embeddings.parquet` fixtures.
  * SQL-expressible operators carry a DuckDB oracle; approximate ones
  * (MinHash/SimHash/LSH — engine-specific hash functions) are declared
  * without one, which the driver records as a rows-only check. */
object PipelineQueries {

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- dedup ---
    "q_dedup_exact" -> ((s, d) =>
      Dedup.exactDedup(table(s, d, "documents"), "text", "doc_id").select("doc_id")),
    "q_dedup_ngram" -> ((s, d) =>
      Dedup.ngramJaccardPairs(table(s, d, "documents"), "doc_id", "text", k = 3, threshold = 0.8)),
    "q_dedup_minhash" -> ((s, d) =>
      Dedup.minHashNearDupPairs(table(s, d, "documents"), "doc_id", "text",
        k = 3, rowsPerBand = 3, numBands = 6, threshold = 0.7)),
    "q_dedup_simhash" -> ((s, d) =>
      Dedup.simHashNearDupPairs(table(s, d, "documents"), "doc_id", "text", maxHamming = 3)),
    "q_dedup_neardup" -> ((s, d) =>
      Dedup.nearDupPairs(table(s, d, "documents"), "doc_id", "text", k = 3, threshold = 0.8)),
    "q_dedup_components" -> { (s, d) =>
      val dd = table(s, d, "documents")
      Dedup.nearDupComponents(
        dd.select("doc_id"),
        Dedup.nearDupPairs(dd, "doc_id", "text", k = 3, threshold = 0.8)
          .select("id_a", "id_b"))
    },
    // --- similarity search ---
    "q_embed_threshold" -> { (s, d) =>
      val e = table(s, d, "embeddings")
      Similarity.cosineThresholdPairs(
        e.select(col("vec_id"), col("embedding")),
        e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "vec_id", "embedding", "qid", "qvec", threshold = 0.35)
    },
    "q_embed_topk" -> { (s, d) =>
      val e = table(s, d, "embeddings")
      // partial-aggregating variant: map-side top-k before the shuffle
      Similarity.bruteForceTopKAgg(
        e.select(col("vec_id"), col("embedding")),
        e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "vec_id", "embedding", "qid", "qvec", k = 5)
    },
    "q_embed_ann" -> { (s, d) =>
      val e = table(s, d, "embeddings")
      Similarity.annCosineTopK(
        e.select(col("vec_id"), col("embedding")),
        e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "vec_id", "embedding", "qid", "qvec", k = 5)
    },
    "q_embed_neardup" -> { (s, d) =>
      Dedup.embeddingNearDupPairs(
        table(s, d, "embeddings").select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", threshold = 0.45, exact = true)
    },
    "q_embed_ivf" -> { (s, d) =>
      val e = table(s, d, "embeddings")
      Similarity.ivfCosineTopK(
        e.select(col("vec_id"), col("embedding")),
        e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "vec_id", "embedding", "qid", "qvec", k = 5, nLists = 16, nProbe = 4)
    },
    // --- text analysis ---
    "q_token_count" -> ((s, d) =>
      table(s, d, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))),
    "q_token_bpe" -> ((s, d) =>
      table(s, d, "documents").select(col("doc_id"),
        TextAnalysis.bpeTokenCount(col("text")).as("n_bpe"))),
    // batch session_window over events (streaming operator, batch frame)
    "q_events_sessions" -> { (s, d) =>
      graft.sources.Sources.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          min("ts").as("first_ts"), max("ts").as("last_ts"))
        .select("user_id", "n_events", "first_ts", "last_ts")
    },
    "q_text_quality" -> ((s, d) =>
      table(s, d, "documents").select(
        col("doc_id") +: TextAnalysis.qualityFeatures(col("text")): _*)),
    "q_quality_filter" -> ((s, d) =>
      table(s, d, "documents")
        .filter(TextAnalysis.qualityFilter(col("text"),
          minTokens = 20, maxTokens = 500, minTtr = 0.15,
          minAvgTokenLen = 2.0, maxAvgTokenLen = 8.0))
        .select("doc_id")),
    "q_lang_id" -> ((s, d) =>
      table(s, d, "documents").select(col("doc_id"),
        TextAnalysis.languageId(col("text")).as("lang_pred"))),
    "q_fingerprint" -> ((s, d) =>
      table(s, d, "documents").select(col("doc_id"),
        TextAnalysis.fingerprintMd5(col("text")).as("fp"))),
    // --- as-of (point-in-time) join: each event matched to the user's
    //     latest order at-or-before the event time ---
    "q_asof_join" -> { (s, d) =>
      val e = graft.sources.Sources.events(s, d)
        .select("event_id", "user_id", "ts")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey", "o_orderdate")
        .orderBy(col("o_orderkey").desc)
      val o = table(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1) // one order per (custkey, date): determinism
        .select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
      AsOfJoin.asofJoin(e, o, "user_id", "o_custkey", "ts", "o_orderdate",
          Seq("o_orderkey", "o_totalprice"))
        .select("event_id", "user_id", "o_orderkey", "o_totalprice")
    },
    // --- range join: assign each event to its 30-min session interval
    //     (bucketed equi-join, never a per-key nested loop) ---
    "q_range_join" -> { (s, d) =>
      val e = graft.sources.Sources.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"))
        .withColumn("t_us", unix_micros(col("ts")))
      val sessions = graft.sources.Sources.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(min("ts").as("first_ts"), max("ts").as("last_ts"))
        .select(col("user_id").as("s_user"),
          unix_micros(col("first_ts")).as("s_start"),
          unix_micros(col("last_ts")).as("s_end"),
          col("first_ts"))
      RangeJoin.bucketedRangeJoin(e, sessions,
          "user_id", "s_user", "t_us", "s_start", "s_end",
          bucketWidth = 3600L * 1000 * 1000) // 1 hour in µs
        .select(col("event_id"), col("user_id"),
          col("first_ts").as("session_start"))
    },
    // --- stream-stream interval join, verified on the batch frame (the
    //     operator is source-agnostic; watermarks no-op in batch) ---
    "q_attribution" -> ((s, d) =>
      graft.streaming.Streaming.purchaseAttribution(
        graft.sources.Sources.events(s, d), window = "30 minutes")),
    // --- the whole cleaning pipeline, verified end-to-end ---
    "q_pipeline" -> ((s, d) =>
      Pipeline.cleanCorpus(table(s, d, "documents"), "doc_id", "text").select("doc_id")),
    // --- deterministic content-hash train/val/test split ---
    "q_split" -> ((s, d) =>
      table(s, d, "documents").select(col("doc_id"),
        Splits.assignSplit(col("doc_id"),
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)).as("split"))),
    // --- multimodal binary plumbing ---
    "q_multimodal" -> ((s, d) =>
      Multimodal.assetStats(
        Multimodal.toAssets(table(s, d, "documents"), "doc_id", "text", "source"))),
    // frame sampling: executor-side fan-out to byte-range slices; the
    // oracle replicates the slicing arithmetic over the UTF-8 lengths
    "q_multimodal_frames" -> ((s, d) =>
      Multimodal.sampleFrames(
        Multimodal.toAssets(table(s, d, "documents"), "doc_id", "text", "source"), nFrames = 4)
        .select(col("doc_id"), col("frame_idx"),
          length(col("frame_bytes")).as("n_bytes")))
  )

  private val toksSql = "regexp_extract_all(text, '\\S+')"

  val oracles: Map[String, String] = Map(
    "q_dedup_exact" ->
      "SELECT min(doc_id) AS doc_id FROM documents GROUP BY text",
    "q_dedup_ngram" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(ts) >= 3 THEN list_transform(generate_series(1, len(ts) - 2), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) ELSE [] END) s FROM toks),
        |ex AS (SELECT doc_id, unnest(s) g FROM sh),
        |cnt AS (SELECT doc_id, len(s) n FROM sh),
        |pairs AS (SELECT a.doc_id ia, b.doc_id ib, count(*) common FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT ia AS id_a, ib AS id_b, jaccard FROM (
        |  SELECT ia, ib, round(common * 1.0 / (ca.n + cb.n - common), 6) AS jaccard
        |  FROM pairs JOIN cnt ca ON ia = ca.doc_id JOIN cnt cb ON ib = cb.doc_id)
        |WHERE jaccard >= 0.8""".stripMargin,
    // Same oracle as q_dedup_ngram: the composed pipeline's exact-verify
    // stage outputs true Jaccard values, and the seeded banded MinHash
    // achieves total recall at the correctness scale (verified).
    "q_dedup_neardup" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(ts) >= 3 THEN list_transform(generate_series(1, len(ts) - 2), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) ELSE [] END) s FROM toks),
        |ex AS (SELECT doc_id, unnest(s) g FROM sh),
        |cnt AS (SELECT doc_id, len(s) n FROM sh),
        |pairs AS (SELECT a.doc_id ia, b.doc_id ib, count(*) common FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT ia AS id_a, ib AS id_b, jaccard FROM (
        |  SELECT ia, ib, round(common * 1.0 / (ca.n + cb.n - common), 6) AS jaccard
        |  FROM pairs JOIN cnt ca ON ia = ca.doc_id JOIN cnt cb ON ib = cb.doc_id)
        |WHERE jaccard >= 0.8""".stripMargin,
    "q_embed_neardup" ->
      """SELECT id_a, id_b, sim FROM (
        |  SELECT a.vec_id id_a, b.vec_id id_b,
        |         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS sim
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |WHERE sim >= 0.45""".stripMargin,
    "q_dedup_components" ->
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
        |rep AS (SELECT src AS doc_id, least(src, min(dst)) AS rep FROM reach GROUP BY src)
        |SELECT d.doc_id, coalesce(r.rep, d.doc_id) AS rep
        |FROM documents d LEFT JOIN rep r ON d.doc_id = r.doc_id""".stripMargin,
    "q_pipeline" ->
      """WITH RECURSIVE t0 AS (SELECT doc_id, text, regexp_extract_all(text, '\S+') toks FROM documents),
        |f AS (SELECT doc_id, text FROM t0
        |  WHERE len(toks) BETWEEN 20 AND 500
        |    AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= 0.15
        |    AND CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) BETWEEN 2.0 AND 8.0),
        |exmin AS (SELECT min(doc_id) AS doc_id FROM f GROUP BY text),
        |surv AS (SELECT f.doc_id, f.text FROM f JOIN exmin ON f.doc_id = exmin.doc_id),
        |toks2 AS (SELECT doc_id, string_split(text, ' ') ts FROM surv),
        |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(ts) >= 3 THEN list_transform(generate_series(1, len(ts) - 2), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) ELSE [] END) s FROM toks2),
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
        |rep AS (SELECT src AS doc_id, least(src, min(dst)) AS rep FROM reach GROUP BY src)
        |SELECT s.doc_id FROM surv s LEFT JOIN rep r ON s.doc_id = r.doc_id
        |WHERE coalesce(r.rep, s.doc_id) = s.doc_id""".stripMargin,
    // Brute-force top-k is EXACT (deterministic (sim desc, id asc)
    // ranking in both engines), so unlike the LSH/IVF variants it
    // carries a full oracle.
    "q_embed_topk" ->
      """WITH q AS (SELECT vec_id qid, CAST(embedding AS DOUBLE[]) qe FROM embeddings WHERE vec_id < 10),
        |sc AS (SELECT q.qid, e.vec_id, round(list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])), 6) AS sim
        |       FROM q, embeddings e WHERE q.qid <> e.vec_id),
        |r AS (SELECT qid, vec_id, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) rn FROM sc)
        |SELECT qid, vec_id, sim, CAST(rn AS INTEGER) AS rn FROM r WHERE rn <= 5""".stripMargin,
    "q_embed_threshold" ->
      """WITH q AS (SELECT vec_id qid, CAST(embedding AS DOUBLE[]) qe FROM embeddings WHERE vec_id < 10)
        |SELECT qid, vec_id, sim FROM (
        |  SELECT q.qid, e.vec_id, round(list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])), 6) AS sim
        |  FROM q, embeddings e WHERE q.qid <> e.vec_id)
        |WHERE sim >= 0.35""".stripMargin,
    "q_token_count" ->
      s"SELECT doc_id, CAST(len($toksSql) AS INTEGER) AS n_tokens FROM documents",
    "q_token_bpe" ->
      """SELECT doc_id, CAST(len(regexp_extract_all(text, '\p{L}+|\p{N}+|[^\p{L}\p{N}\s]+')) AS INTEGER) AS n_bpe FROM documents""",
    "q_events_sessions" ->
      """WITH e AS (
        |  SELECT user_id, ts,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
        |         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |s AS (SELECT user_id, ts,
        |        sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_id
        |      FROM e)
        |SELECT user_id, count(*) AS n_events,
        |       CAST(min(ts) AS TIMESTAMP) AS first_ts, CAST(max(ts) AS TIMESTAMP) AS last_ts
        |FROM s GROUP BY user_id, session_id""".stripMargin,
    "q_text_quality" ->
      s"""WITH t AS (SELECT doc_id, text, $toksSql toks FROM documents)
         |SELECT doc_id,
         |  CAST(length(text) AS INTEGER) AS n_chars_txt,
         |  CAST(len(toks) AS INTEGER) AS n_tokens,
         |  CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct,
         |  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
         |  CAST(len(list_filter(toks, t -> t IN ('the','a','and','of','to','in'))) AS DOUBLE) / len(toks) AS stop_ratio,
         |  CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) AS avg_token_len
         |FROM t""".stripMargin,
    "q_quality_filter" ->
      s"""WITH t AS (SELECT doc_id, $toksSql toks FROM documents)
         |SELECT doc_id FROM t
         |WHERE len(toks) BETWEEN 20 AND 500
         |  AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= 0.15
         |  AND CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) BETWEEN 2.0 AND 8.0""".stripMargin,
    "q_lang_id" ->
      s"""WITH t AS (SELECT doc_id, $toksSql toks FROM documents),
         |sc AS (SELECT doc_id,
         |  len(list_filter(toks, x -> x IN ('the','and','of','a'))) en,
         |  len(list_filter(toks, x -> x IN ('le','la','et','les'))) fr,
         |  len(list_filter(toks, x -> x IN ('der','und','die','das'))) de,
         |  len(list_filter(toks, x -> x IN ('el','y','los','las'))) es
         |FROM t)
         |SELECT doc_id, CASE
         |  WHEN en = greatest(en, fr, de, es) AND greatest(en, fr, de, es) > 0 THEN 'en'
         |  WHEN fr = greatest(en, fr, de, es) AND greatest(en, fr, de, es) > 0 THEN 'fr'
         |  WHEN de = greatest(en, fr, de, es) AND greatest(en, fr, de, es) > 0 THEN 'de'
         |  WHEN es = greatest(en, fr, de, es) AND greatest(en, fr, de, es) > 0 THEN 'es'
         |  ELSE 'und' END AS lang_pred
         |FROM sc""".stripMargin,
    "q_fingerprint" ->
      "SELECT doc_id, md5(text) AS fp FROM documents",
    "q_attribution" ->
      """SELECT p.user_id, v.ts AS view_ts, p.ts AS purchase_ts, p.value
        |FROM (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT user_id, ts FROM events WHERE event_type = 'view') v
        |ON v.user_id = p.user_id AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE""".stripMargin,
    "q_asof_join" ->
      """WITH o AS (SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) rn
        |  FROM orders) WHERE rn = 1)
        |SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice
        |FROM events e ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate""".stripMargin,
    "q_multimodal" ->
      "SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes, sha256(text) AS digest FROM documents",
    "q_multimodal_frames" ->
      """WITH d AS (SELECT doc_id, octet_length(encode(text)) AS len FROM documents
        |           WHERE octet_length(encode(text)) > 0),
        |f AS (SELECT doc_id, len, greatest(1, len // 4) AS span FROM d),
        |x AS (SELECT doc_id, span, len, unnest(range(least(4, len))) AS fi FROM f)
        |SELECT doc_id, CAST(fi AS INTEGER) AS frame_idx,
        |       CAST(least(len, fi * span + span) - fi * span AS INTEGER) AS n_bytes
        |FROM x""".stripMargin,
    "q_split" ->
      """SELECT doc_id, CASE
        |  WHEN bucket < 9000 THEN 'train'
        |  WHEN bucket < 9500 THEN 'val'
        |  ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |  CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 AS INTEGER) AS bucket
        |FROM documents)""".stripMargin,
    "q_range_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
        |         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |s AS (SELECT event_id, user_id, ts,
        |        sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_id
        |      FROM e)
        |SELECT event_id, user_id, CAST(min(ts) OVER (PARTITION BY user_id, session_id) AS TIMESTAMP) AS session_start
        |FROM s""".stripMargin
  )
}
