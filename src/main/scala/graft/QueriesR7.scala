package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Sources.table

/** Round-7 corpus queries: the remaining canonical training-data-
  * pipeline operations — eval-set decontamination, per-domain caps, and
  * deterministic stratified sampling. All three are exact (integer /
  * hash arithmetic), so each carries a full DuckDB oracle.
  */
object QueriesR7 {

  /** Deterministic eval split: every 97th doc id forms the held-out
    * eval pool the decontamination query screens against. */
  private val evalMod = 97

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- decontamination: flag training docs sharing >= 5 distinct
    //     3-gram shingles with the pooled eval set. Eval pool is tiny by
    //     design -> its distinct shingle set broadcasts; the 100 TB side
    //     is one scan + map-side semi join (operators/Decontaminate). ---
    "q_decontam" -> { (s, d) =>
      val docs = table(s, d, "documents")
      operators.Decontaminate.ngramOverlap(
        train = docs.filter(col("doc_id") % evalMod =!= 0),
        eval = docs.filter(col("doc_id") % evalMod === 0),
        idCol = "doc_id", textCol = "text", k = 3, minShared = 5)
    },
    // --- per-domain caps: keep the 3 longest docs per (source, lang)
    //     cell — the crawl-curation "no domain dominates the mix" cap,
    //     via the single-exchange GroupedTopK custom operator (partial
    //     top-k before the shuffle; a row_number window would shuffle
    //     every row). ---
    "q_domain_cap" -> { (s, d) =>
      plans.GroupedTopK.topKPerGroup(
        table(s, d, "documents"), Seq("source", "lang"),
        Seq(col("n_chars").desc, col("doc_id").asc), k = 3)
        .select("source", "lang", "doc_id", "n_chars")
    },
    // --- canonical selection: ONE survivor per exact-Jaccard near-dup
    //     cluster, keeping the longest doc (tie: min doc_id) — the
    //     "keep the best copy" step after clustering. Exact pair source
    //     so the recursive-CTE oracle provably matches
    //     (q_dedup_components precedent). ---
    "q_canonical" -> { (s, d) =>
      val dd = table(s, d, "documents")
      operators.Dedup.keepCanonical(
        dd.select("doc_id", "n_chars"),
        operators.Dedup.ngramJaccardPairs(dd, "doc_id", "text", k = 3, threshold = 0.8)
          .select("id_a", "id_b"),
        "doc_id",
        Seq(col("n_chars").desc, col("doc_id").asc))
        .select("rep", "doc_id", "n_chars")
    },
    // --- deterministic stratified sample: ceil(10%) of every language,
    //     selected by md5 rank — reproducible across runs/engines (no
    //     RNG), proportional allocation exact per stratum in integer
    //     arithmetic. Served by the two-pass prefix-sum operator, NOT a
    //     per-stratum window (10 language strata would mean 10 hot
    //     reducers at 100 TB); the selected set is identical
    //     (spec-pinned), so the window-formulation oracle applies. ---
    "q_stratified" -> { (s, d) =>
      operators.Splits.stratifiedSampleExact(
        table(s, d, "documents"),
        stratumCol = "lang",
        rankCol = md5(col("doc_id").cast("string")),
        tieCol = "doc_id",
        fracNum = 1, fracDen = 10)
        .select(col("lang"), col("doc_id"))
    },
    // --- winnowing fingerprints: distinct window-min rolling hashes per
    //     doc (SIGMOD'03) — shared runs of w+k-1 tokens guarantee a
    //     common fingerprint, catching containment that set-Jaccard
    //     misses. Pure integer polynomial hash (no engine hash), so the
    //     oracle reproduces it bit-for-bit; entirely row-local in Spark
    //     (zero shuffle before the driver's sort). ---
    "q_winnow" -> { (s, d) =>
      table(s, d, "documents").select(col("doc_id"),
        explode(operators.TextAnalysis
          .winnowFingerprints(col("text"), k = 3, w = 4)).as("fp"))
    },
    // --- TF-IDF top-5 terms per doc: keyword extraction over the
    //     corpus's own document frequencies; ranked on the ROUNDED score
    //     with term tiebreak so both engines rank identically. ---
    "q_tfidf" -> { (s, d) =>
      operators.TextAnalysis
        .tfIdfTopTerms(table(s, d, "documents"), "doc_id", "text", topK = 5)
        .select("doc_id", "term", "tfidf")
    },
    // --- within-doc chunked substring dedup (w=2): remove repeated
    //     aligned 2-word chunks inside each document, first occurrence
    //     kept in order — boilerplate-run removal document dedup
    //     misses. Pure projection: zero shuffle at any scale. ---
    "q_chunk_dedup_doc" -> { (s, d) =>
      operators.SubstringDedup.dedupChunksWithinDoc(
        table(s, d, "documents"), "doc_id", "text", w = 2)
    },
    // --- corpus-wide chunked substring dedup (w=3): a chunk value
    //     survives only at its globally-first (doc_id, idx) occurrence —
    //     the fixed-granularity form of Lee et al.'s exact substring
    //     dedup. Two shuffles: partial-agg first-occurrence election +
    //     per-doc rebuild. ---
    "q_chunk_dedup" -> { (s, d) =>
      operators.SubstringDedup.chunkDedupGlobal(
        table(s, d, "documents"), "doc_id", "text", w = 3)
    },
    // --- word-entropy quality score: per-doc Shannon entropy of the
    //     word distribution (gibberish / keyword-stuffing signal),
    //     computed entirely inside the row — map-only at 100 TB. ---
    "q_entropy" -> { (s, d) =>
      table(s, d, "documents").select(
        col("doc_id") +:
          operators.TextAnalysis.entropyFeatures(col("text")): _*)
    },
    // --- permissive JSONL ingestion: malformed lines captured (fields
    //     null + raw text in _corrupt), never dropped or fatal — the
    //     crawl-batch contract. Fixture derives bad lines from the
    //     nation key, so the oracle reproduces the parse result from
    //     the table alone. ---
    "q_jsonl_robust" -> { (s, d) =>
      val path = Fixtures.jsonlMixedNation(s, d)
      sources.Sources
        .jsonPermissive(s, path, "n_nationkey BIGINT, n_name STRING")
        .select(col("n_nationkey"), col("n_name"),
          col("_corrupt").isNotNull.as("is_bad"),
          coalesce(col("_corrupt"), lit("")).as("raw_corrupt"))
    },
    // --- containment pairs: docs sharing >= 3 winnow fingerprints —
    //     catches pasted-run overlap that whole-doc Jaccard dilutes.
    //     Posting-list join on the bare long fingerprint key. ---
    "q_containment" -> { (s, d) =>
      operators.TextAnalysis.winnowContainmentPairs(
        table(s, d, "documents"), "doc_id", "text", k = 3, w = 4, minShared = 3)
    },
    // --- boilerplate phrase mining: top-20 most frequent 3-word
    //     shingles corpus-wide. One shuffle (partial-agg counts) and a
    //     TakeOrderedAndProject top-N — never a global sort. ---
    "q_top_phrases" -> { (s, d) =>
      operators.TextAnalysis.topPhrases(
        table(s, d, "documents"), "text", k = 3, topN = 20)
    },
    // --- embedding-space decontamination: training vectors near any
    //     eval vector in cosine — the paraphrase-robust companion to
    //     q_decontam's n-gram screen. Eval pool broadcasts; corpus side
    //     is one map-side fused-cosine scan + partial-agg counts. ---
    "q_embed_decontam" -> { (s, d) =>
      val e = table(s, d, "embeddings")
      operators.Similarity.embeddingDecontam(
        train = e.filter(col("vec_id") % evalMod =!= 0),
        eval = e.filter(col("vec_id") % evalMod === 0),
        idCol = "vec_id", vecCol = "embedding", threshold = 0.35)
        .select("vec_id", "n_near", "max_sim", "contaminated")
    }
  )

  val oracles: Map[String, String] = Map(
    "q_decontam" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
         |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(ts) >= 3 THEN list_transform(generate_series(1, len(ts) - 2), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) ELSE [] END) s FROM toks),
         |ev AS (SELECT DISTINCT unnest(s) g FROM sh WHERE doc_id % $evalMod = 0),
         |tr AS (SELECT doc_id, s FROM sh WHERE doc_id % $evalMod <> 0),
         |ex AS (SELECT doc_id, unnest(s) g FROM tr),
         |shared AS (SELECT doc_id, count(*) c FROM ex JOIN ev USING (g) GROUP BY 1)
         |SELECT tr.doc_id,
         |       len(tr.s)::BIGINT AS n_shingles,
         |       coalesce(shared.c, 0)::BIGINT AS n_shared,
         |       coalesce(shared.c, 0) >= 5 AS contaminated
         |FROM tr LEFT JOIN shared ON tr.doc_id = shared.doc_id""".stripMargin,
    "q_canonical" ->
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
        |labeled AS (SELECT d.doc_id, coalesce(r.rep, d.doc_id) AS rep, d.n_chars
        |            FROM documents d LEFT JOIN rep r ON d.doc_id = r.doc_id)
        |SELECT rep, doc_id, n_chars FROM (
        |  SELECT rep, doc_id, n_chars,
        |         row_number() OVER (PARTITION BY rep
        |                            ORDER BY n_chars DESC, doc_id) rn
        |  FROM labeled)
        |WHERE rn = 1""".stripMargin,
    "q_domain_cap" ->
      """SELECT source, lang, doc_id, n_chars FROM (
        |  SELECT source, lang, doc_id, n_chars,
        |         row_number() OVER (PARTITION BY source, lang
        |                            ORDER BY n_chars DESC, doc_id) rn
        |  FROM documents)
        |WHERE rn <= 3""".stripMargin,
    "q_stratified" ->
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id,
        |         row_number() OVER (PARTITION BY lang
        |                            ORDER BY md5(doc_id::VARCHAR), doc_id) rn,
        |         count(*) OVER (PARTITION BY lang) n_lang
        |  FROM documents)
        |WHERE rn <= (n_lang + 9) // 10""".stripMargin,
    "q_winnow" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT doc_id, list_transform(generate_series(1, len(ts) - 2), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) gs FROM toks WHERE len(ts) >= 3),
        |h AS (SELECT doc_id, list_transform(gs, g -> list_reduce(list_prepend(0::BIGINT, list_transform(string_split(g, ''), c -> unicode(c)::BIGINT)), (a, x) -> (a * 257 + x) % 1000000007)) hs FROM sh),
        |wnd AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(hs) - 3, 1)), i -> list_min(hs[i:i+3]))) fps FROM h)
        |SELECT doc_id, unnest(fps)::BIGINT AS fp FROM wnd""".stripMargin,
    "q_tfidf" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) tf FROM toks WHERE term <> '' GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) n FROM documents),
        |scored AS (SELECT doc_id, term, round(tf * ln((n + 1.0) / (df + 1)), 6) tfidf
        |           FROM tf JOIN dfreq USING (term) CROSS JOIN n)
        |SELECT doc_id, term, tfidf FROM (
        |  SELECT doc_id, term, tfidf,
        |         row_number() OVER (PARTITION BY doc_id
        |                            ORDER BY tfidf DESC, term) rn
        |  FROM scored)
        |WHERE rn <= 5""".stripMargin,
    "q_jsonl_robust" ->
      """WITH r AS (SELECT n_nationkey, n_name,
        |             row_number() OVER (ORDER BY n_nationkey) - 1 AS i
        |           FROM nation)
        |SELECT (CASE WHEN i % 5 = 4 THEN NULL ELSE n_nationkey END)::BIGINT AS n_nationkey,
        |       CASE WHEN i % 5 = 4 THEN NULL ELSE n_name END AS n_name,
        |       (i % 5 = 4) AS is_bad,
        |       CASE WHEN i % 5 = 4 THEN '{"n_nationkey": ' || n_nationkey || ', INVALID' ELSE '' END AS raw_corrupt
        |FROM r""".stripMargin,
    "q_containment" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT doc_id, list_transform(generate_series(1, len(ts) - 2), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) gs FROM toks WHERE len(ts) >= 3),
        |h AS (SELECT doc_id, list_transform(gs, g -> list_reduce(list_prepend(0::BIGINT, list_transform(string_split(g, ''), c -> unicode(c)::BIGINT)), (a, x) -> (a * 257 + x) % 1000000007)) hs FROM sh),
        |wnd AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(hs) - 3, 1)), i -> list_min(hs[i:i+3]))) fps FROM h),
        |cnt AS (SELECT doc_id, len(fps) n FROM wnd WHERE len(fps) > 0),
        |ex AS (SELECT doc_id, unnest(fps) fp FROM wnd),
        |pairs AS (SELECT a.doc_id ia, b.doc_id ib, count(*) ns FROM ex a JOIN ex b ON a.fp = b.fp AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT ia AS id_a, ib AS id_b, ns::BIGINT AS n_shared,
        |       round(ns * 1.0 / least(ca.n, cb.n), 6) AS containment
        |FROM pairs JOIN cnt ca ON ia = ca.doc_id JOIN cnt cb ON ib = cb.doc_id
        |WHERE ns >= 3""".stripMargin,
    "q_top_phrases" ->
      """WITH toks AS (SELECT string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT unnest(list_transform(generate_series(1, len(ts) - 2), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) phrase FROM toks WHERE len(ts) >= 3)
        |SELECT phrase, count(*)::BIGINT AS n FROM sh GROUP BY 1
        |ORDER BY n DESC, phrase LIMIT 20""".stripMargin,
    "q_chunk_dedup_doc" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') l FROM documents),
        |c AS (SELECT doc_id, list_transform(generate_series(0, CAST(ceil(len(l) / 2.0) AS INT) - 1), k -> array_to_string(l[k*2+1 : k*2+2], ' ')) chunks FROM t),
        |k AS (SELECT doc_id, chunks, list_filter(chunks, (x, i) -> list_position(chunks, x) = i) kept FROM c)
        |SELECT doc_id, len(chunks)::BIGINT AS n_chunks, len(kept)::BIGINT AS n_kept,
        |       array_to_string(kept, ' ') AS text_dedup FROM k""".stripMargin,
    "q_chunk_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') l FROM documents),
        |c AS (SELECT doc_id, list_transform(generate_series(0, CAST(ceil(len(l) / 3.0) AS INT) - 1), k -> array_to_string(l[k*3+1 : k*3+3], ' ')) chunks FROM t),
        |e AS (SELECT doc_id, unnest(list_transform(chunks, (x, i) -> {'idx': i - 1, 'chunk': x}), recursive := true) FROM c),
        |f AS (SELECT doc_id, idx, chunk,
        |        row_number() OVER (PARTITION BY chunk ORDER BY doc_id, idx) rn FROM e),
        |r AS (SELECT doc_id, count(*) n_kept, string_agg(chunk, ' ' ORDER BY idx) text_dedup
        |      FROM f WHERE rn = 1 GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(r.n_kept, 0)::BIGINT AS n_kept,
        |       coalesce(r.text_dedup, '') AS text_dedup
        |FROM documents d LEFT JOIN r ON d.doc_id = r.doc_id""".stripMargin,
    "q_entropy" ->
      """WITH w AS (SELECT doc_id, list_sort(string_split(text, ' ')) ws FROM documents),
        |s AS (SELECT doc_id, ws, len(ws) n,
        |        list_filter(generate_series(1, len(ws)), i -> i = 1 OR ws[i] != ws[i-1]) starts FROM w),
        |l AS (SELECT doc_id, n, starts,
        |        list_transform(generate_series(1, len(starts)),
        |          j -> (CASE WHEN j = len(starts) THEN n + 1 ELSE starts[j+1] END) - starts[j]) lens FROM s)
        |SELECT doc_id, n::BIGINT AS n_words, len(starts)::BIGINT AS n_unique,
        |       round(log2(n::DOUBLE) - list_reduce(list_prepend(0.0::DOUBLE, list_transform(lens, c -> c::DOUBLE * log2(c::DOUBLE))), (a, x) -> a + x) / n::DOUBLE + 0, 6) AS entropy
        |FROM l""".stripMargin,
    "q_embed_decontam" ->
      s"""WITH ev AS (SELECT CAST(embedding AS DOUBLE[]) e FROM embeddings WHERE vec_id % $evalMod = 0),
         |sc AS (SELECT t.vec_id, round(list_cosine_similarity(CAST(t.embedding AS DOUBLE[]), ev.e), 6) AS c
         |       FROM embeddings t CROSS JOIN ev WHERE t.vec_id % $evalMod <> 0)
         |SELECT vec_id,
         |       sum(CASE WHEN c >= 0.35 THEN 1 ELSE 0 END)::BIGINT AS n_near,
         |       round(max(c), 6) AS max_sim,
         |       (sum(CASE WHEN c >= 0.35 THEN 1 ELSE 0 END) > 0) AS contaminated
         |FROM sc GROUP BY 1""".stripMargin
  )
}
