package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Dedup, Quality, TextAnalysis}
import graft.sources.Sources.table

/** Duplicate and contamination detection: exact, n-gram Jaccard, MinHash,
  * SimHash and composed near-dup pairs, their connected components, line /
  * paragraph / chunk / substring dedup, incremental dedup against a prior
  * release, and eval-set decontamination (n-gram, 13-gram, embedding).
  * The approximate forms are rows-only; each has an exact recall
  * companion here.
  */
object DedupQueries {

  /** The q_dedup_components oracle, which other oracles replay. */
  private def dedupComponentsOracle: String =
    s"""WITH RECURSIVE ${QueryParts.nearDupRepCtes("documents")}
        |SELECT d.doc_id, coalesce(r.rep, d.doc_id) AS rep
        |FROM documents d LEFT JOIN rep r ON d.doc_id = r.doc_id""".stripMargin

  /** Deterministic eval split: every 97th doc id forms the held-out
    * eval pool the decontamination query screens against. */
  private val evalMod = 97

  /** Words per reflowed line for q_line_dedup: the synthetic corpus has
    * no newlines, so the query deterministically reflows each document
    * into 8-word lines first (both engines replay the same reflow). */
  private val LineWidth = 8

  /** The q_decontam_13g oracle, which other oracles replay. */
  private def decontam13gOracle: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(ts) >= 13 THEN list_transform(generate_series(1, len(ts) - 12), i -> array_to_string(ts[i:i+12], ' ')) ELSE [] END) s FROM toks),
        |ev0 AS (SELECT CAST(doc_id % 2 AS INTEGER) eval_set, unnest(s) g FROM sh WHERE doc_id % 5 = 0),
        |ev AS (SELECT DISTINCT eval_set, g FROM ev0),
        |tr AS (SELECT doc_id, unnest(s) g FROM sh WHERE doc_id % 5 <> 0)
        |SELECT doc_id, eval_set, CAST(count(*) AS BIGINT) AS n_shared
        |FROM tr JOIN ev USING (g) GROUP BY 1, 2 HAVING count(*) >= 1""".stripMargin

  /** Words per reflowed paragraph for q_para_dedup. */
  private val ParaWidth = 24

  /** Exact word 3-shingle Jaccard >= 0.8 pairs: the oracle of
    * q_dedup_ngram and of q_dedup_neardup, whose exact-verify stage
    * outputs true Jaccard values (its seeded banded MinHash reaches total
    * recall at the correctness scale). */
  private val JaccardPairsSql =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
      |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(ts) >= 3 THEN list_transform(generate_series(1, len(ts) - 2), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) ELSE [] END) s FROM toks),
      |ex AS (SELECT doc_id, unnest(s) g FROM sh),
      |cnt AS (SELECT doc_id, len(s) n FROM sh),
      |pairs AS (SELECT a.doc_id ia, b.doc_id ib, count(*) common FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
      |SELECT ia AS id_a, ib AS id_b, jaccard FROM (
      |  SELECT ia, ib, round(common * 1.0 / (ca.n + cb.n - common), 6) AS jaccard
      |  FROM pairs JOIN cnt ca ON ia = ca.doc_id JOIN cnt cb ON ib = cb.doc_id)
      |WHERE jaccard >= 0.8""".stripMargin

  /** Batch docs (doc_id % 3 <> 0) whose text no reference doc (doc_id %
    * 3 = 0, or doc_id < 10) repeats: the oracle of q_dedup_incremental
    * and of its lossless bloom-prefiltered form. */
  private val IncrementalDedupSql =
    """SELECT b.doc_id, b.source, b.n_chars
      |FROM documents b
      |WHERE b.doc_id % 3 <> 0
      |  AND NOT EXISTS (
      |    SELECT 1 FROM documents r
      |    WHERE (r.doc_id % 3 = 0 OR r.doc_id < 10)
      |      AND r.text = b.text)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // --- dedup ---
    QuerySpec("q_dedup_exact", ((s, d) =>
      Dedup.exactDedup(table(s, d, "documents"), "text", "doc_id").select("doc_id")),
      Sql("SELECT min(doc_id) AS doc_id FROM documents GROUP BY text")),
    QuerySpec("q_dedup_ngram", ((s, d) =>
      Dedup.ngramJaccardPairs(table(s, d, "documents"), "doc_id", "text", k = 3, threshold = 0.8)),
      Sql(JaccardPairsSql)),
    QuerySpec("q_dedup_minhash", ((s, d) =>
      Dedup.minHashNearDupPairs(table(s, d, "documents"), "doc_id", "text",
        k = 3, rowsPerBand = 3, numBands = 6, threshold = 0.7)),
      RowsOnly("q_minhash_recall")),
    QuerySpec("q_dedup_simhash", ((s, d) =>
      Dedup.simHashNearDupPairs(table(s, d, "documents"), "doc_id", "text", maxHamming = 3)),
      RowsOnly("q_simhash_complete")),
    QuerySpec("q_dedup_neardup", ((s, d) =>
      Dedup.nearDupPairs(table(s, d, "documents"), "doc_id", "text", k = 3, threshold = 0.8)),
      Sql(JaccardPairsSql)),
    QuerySpec("q_dedup_components", { (s, d) =>
      val dd = table(s, d, "documents")
      Dedup.nearDupComponents(
        dd.select("doc_id"),
        Dedup.nearDupPairs(dd, "doc_id", "text", k = 3, threshold = 0.8)
          .select("id_a", "id_b"))
    },
      Sql(dedupComponentsOracle)),
    QuerySpec("q_fingerprint", ((s, d) =>
      table(s, d, "documents").select(col("doc_id"),
        TextAnalysis.fingerprintMd5(col("text")).as("fp"))),
      Sql("SELECT doc_id, md5(text) AS fp FROM documents")),
    // --- banded-MinHash candidate recall vs the exact Jaccard >= 0.8
    //     pair set (the same exact set q_dedup_neardup verifies
    //     against). Measured 0.996-1.0 at sf0.001-sf0.1; gated at 0.90.
    //     This makes the q_dedup_minhash rows-only query's QUALITY a
    //     driver-gated contract, not just a spec assertion. ---
    QuerySpec("q_minhash_recall", { (s, d) =>
      val docs = table(s, d, "documents")
      val exact = operators.Dedup
        .ngramJaccardPairs(docs, "doc_id", "text", k = 3, threshold = 0.8)
      val cand = operators.Dedup
        .minHashNearDupPairs(docs, "doc_id", "text")
      Quality.pairRecallCounts(exact, cand)
        .select(col("n_exact"), Quality.recallOk(bps = 9000).as("recall_ok"))
    },
      Sql("""WITH toks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(ts) >= 3 THEN list_transform(generate_series(1, len(ts) - 2), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) ELSE [] END) s FROM toks),
        |ex AS (SELECT doc_id, unnest(s) g FROM sh),
        |cnt AS (SELECT doc_id, len(s) n FROM sh),
        |cand AS (SELECT a.doc_id ia, b.doc_id ib, count(*) common FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT count(*)::BIGINT AS n_exact, TRUE AS recall_ok FROM (
        |  SELECT round(common * 1.0 / (ca.n + cb.n - common), 6) AS jaccard
        |  FROM cand JOIN cnt ca ON ia = ca.doc_id JOIN cnt cb ON ib = cb.doc_id)
        |WHERE jaccard >= 0.8""".stripMargin)),
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
    QuerySpec("q_simhash_complete", { (s, d) =>
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
      Sql("SELECT TRUE AS recall_ok")),
    // --- decontamination: flag training docs sharing >= 5 distinct
    //     3-gram shingles with the pooled eval set. Eval pool is tiny by
    //     design -> its distinct shingle set broadcasts; the 100 TB side
    //     is one scan + map-side semi join (operators/Decontaminate). ---
    QuerySpec("q_decontam", { (s, d) =>
      val docs = table(s, d, "documents")
      operators.Decontaminate.ngramOverlap(
        train = docs.filter(col("doc_id") % evalMod =!= 0),
        eval = docs.filter(col("doc_id") % evalMod === 0),
        idCol = "doc_id", textCol = "text", k = 3, minShared = 5)
    },
      Sql(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
         |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(ts) >= 3 THEN list_transform(generate_series(1, len(ts) - 2), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) ELSE [] END) s FROM toks),
         |ev AS (SELECT DISTINCT unnest(s) g FROM sh WHERE doc_id % $evalMod = 0),
         |tr AS (SELECT doc_id, s FROM sh WHERE doc_id % $evalMod <> 0),
         |ex AS (SELECT doc_id, unnest(s) g FROM tr),
         |shared AS (SELECT doc_id, count(*) c FROM ex JOIN ev USING (g) GROUP BY 1)
         |SELECT tr.doc_id,
         |       len(tr.s)::BIGINT AS n_shingles,
         |       coalesce(shared.c, 0)::BIGINT AS n_shared,
         |       coalesce(shared.c, 0) >= 5 AS contaminated
         |FROM tr LEFT JOIN shared ON tr.doc_id = shared.doc_id""".stripMargin)),
    // --- canonical selection: ONE survivor per exact-Jaccard near-dup
    //     cluster, keeping the longest doc (tie: min doc_id) — the
    //     "keep the best copy" step after clustering. Exact pair source
    //     so the recursive-CTE oracle provably matches
    //     (q_dedup_components precedent). ---
    QuerySpec("q_canonical", { (s, d) =>
      val dd = table(s, d, "documents")
      operators.Dedup.keepCanonical(
        dd.select("doc_id", "n_chars"),
        operators.Dedup.ngramJaccardPairs(dd, "doc_id", "text", k = 3, threshold = 0.8)
          .select("id_a", "id_b"),
        "doc_id",
        Seq(col("n_chars").desc, col("doc_id").asc))
        .select("rep", "doc_id", "n_chars")
    },
      Sql(s"""WITH RECURSIVE ${QueryParts.nearDupRepCtes("documents")},
        |labeled AS (SELECT d.doc_id, coalesce(r.rep, d.doc_id) AS rep, d.n_chars
        |            FROM documents d LEFT JOIN rep r ON d.doc_id = r.doc_id)
        |SELECT rep, doc_id, n_chars FROM (
        |  SELECT rep, doc_id, n_chars,
        |         row_number() OVER (PARTITION BY rep
        |                            ORDER BY n_chars DESC, doc_id) rn
        |  FROM labeled)
        |WHERE rn = 1""".stripMargin)),
    // --- winnowing fingerprints: distinct window-min rolling hashes per
    //     doc (SIGMOD'03) — shared runs of w+k-1 tokens guarantee a
    //     common fingerprint, catching containment that set-Jaccard
    //     misses. Pure integer polynomial hash (no engine hash), so the
    //     oracle reproduces it bit-for-bit; entirely row-local in Spark
    //     (zero shuffle before the driver's sort). ---
    QuerySpec("q_winnow", { (s, d) =>
      table(s, d, "documents").select(col("doc_id"),
        explode(operators.TextAnalysis
          .winnowFingerprints(col("text"), k = 3, w = 4)).as("fp"))
    },
      Sql("""WITH toks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT doc_id, list_transform(generate_series(1, len(ts) - 2), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) gs FROM toks WHERE len(ts) >= 3),
        |h AS (SELECT doc_id, list_transform(gs, g -> list_reduce(list_prepend(0::BIGINT, list_transform(string_split(g, ''), c -> unicode(c)::BIGINT)), (a, x) -> (a * 257 + x) % 1000000007)) hs FROM sh),
        |wnd AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(hs) - 3, 1)), i -> list_min(hs[i:i+3]))) fps FROM h)
        |SELECT doc_id, unnest(fps)::BIGINT AS fp FROM wnd""".stripMargin)),
    // --- within-doc chunked substring dedup (w=2): remove repeated
    //     aligned 2-word chunks inside each document, first occurrence
    //     kept in order — boilerplate-run removal document dedup
    //     misses. Pure projection: zero shuffle at any scale. ---
    QuerySpec("q_chunk_dedup_doc", { (s, d) =>
      operators.SubstringDedup.dedupChunksWithinDoc(
        table(s, d, "documents"), "doc_id", "text", w = 2)
    },
      Sql("""WITH t AS (SELECT doc_id, string_split(text, ' ') l FROM documents),
        |c AS (SELECT doc_id, list_transform(generate_series(0, CAST(ceil(len(l) / 2.0) AS INT) - 1), k -> array_to_string(l[k*2+1 : k*2+2], ' ')) chunks FROM t),
        |k AS (SELECT doc_id, chunks, list_filter(chunks, (x, i) -> list_position(chunks, x) = i) kept FROM c)
        |SELECT doc_id, len(chunks)::BIGINT AS n_chunks, len(kept)::BIGINT AS n_kept,
        |       array_to_string(kept, ' ') AS text_dedup FROM k""".stripMargin)),
    // --- corpus-wide chunked substring dedup (w=3): a chunk value
    //     survives only at its globally-first (doc_id, idx) occurrence —
    //     the fixed-granularity form of Lee et al.'s exact substring
    //     dedup. Two shuffles: partial-agg first-occurrence election +
    //     per-doc rebuild. ---
    QuerySpec("q_chunk_dedup", { (s, d) =>
      operators.SubstringDedup.chunkDedupGlobal(
        table(s, d, "documents"), "doc_id", "text", w = 3)
    },
      Sql("""WITH t AS (SELECT doc_id, string_split(text, ' ') l FROM documents),
        |c AS (SELECT doc_id, list_transform(generate_series(0, CAST(ceil(len(l) / 3.0) AS INT) - 1), k -> array_to_string(l[k*3+1 : k*3+3], ' ')) chunks FROM t),
        |e AS (SELECT doc_id, unnest(list_transform(chunks, (x, i) -> {'idx': i - 1, 'chunk': x}), recursive := true) FROM c),
        |f AS (SELECT doc_id, idx, chunk,
        |        row_number() OVER (PARTITION BY chunk ORDER BY doc_id, idx) rn FROM e),
        |r AS (SELECT doc_id, count(*) n_kept, string_agg(chunk, ' ' ORDER BY idx) text_dedup
        |      FROM f WHERE rn = 1 GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(r.n_kept, 0)::BIGINT AS n_kept,
        |       coalesce(r.text_dedup, '') AS text_dedup
        |FROM documents d LEFT JOIN r ON d.doc_id = r.doc_id""".stripMargin)),
    // --- containment pairs: docs sharing >= 3 winnow fingerprints —
    //     catches pasted-run overlap that whole-doc Jaccard dilutes.
    //     Posting-list join on the bare long fingerprint key. ---
    QuerySpec("q_containment", { (s, d) =>
      operators.TextAnalysis.winnowContainmentPairs(
        table(s, d, "documents"), "doc_id", "text", k = 3, w = 4, minShared = 3)
    },
      Sql("""WITH toks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT doc_id, list_transform(generate_series(1, len(ts) - 2), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) gs FROM toks WHERE len(ts) >= 3),
        |h AS (SELECT doc_id, list_transform(gs, g -> list_reduce(list_prepend(0::BIGINT, list_transform(string_split(g, ''), c -> unicode(c)::BIGINT)), (a, x) -> (a * 257 + x) % 1000000007)) hs FROM sh),
        |wnd AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(hs) - 3, 1)), i -> list_min(hs[i:i+3]))) fps FROM h),
        |cnt AS (SELECT doc_id, len(fps) n FROM wnd WHERE len(fps) > 0),
        |ex AS (SELECT doc_id, unnest(fps) fp FROM wnd),
        |pairs AS (SELECT a.doc_id ia, b.doc_id ib, count(*) ns FROM ex a JOIN ex b ON a.fp = b.fp AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT ia AS id_a, ib AS id_b, ns::BIGINT AS n_shared,
        |       round(ns * 1.0 / least(ca.n, cb.n), 6) AS containment
        |FROM pairs JOIN cnt ca ON ia = ca.doc_id JOIN cnt cb ON ib = cb.doc_id
        |WHERE ns >= 3""".stripMargin)),
    // --- embedding-space decontamination: training vectors near any
    //     eval vector in cosine — the paraphrase-robust companion to
    //     q_decontam's n-gram screen. Eval pool broadcasts; corpus side
    //     is one map-side fused-cosine scan + partial-agg counts. ---
    QuerySpec("q_embed_decontam", { (s, d) =>
      val e = table(s, d, "embeddings")
      operators.Similarity.embeddingDecontam(
        train = e.filter(col("vec_id") % evalMod =!= 0),
        eval = e.filter(col("vec_id") % evalMod === 0),
        idCol = "vec_id", vecCol = "embedding", threshold = 0.35)
        .select("vec_id", "n_near", "max_sim", "contaminated")
    },
      Sql(s"""WITH ev AS (SELECT CAST(embedding AS DOUBLE[]) e FROM embeddings WHERE vec_id % $evalMod = 0),
         |sc AS (SELECT t.vec_id, round(list_cosine_similarity(CAST(t.embedding AS DOUBLE[]), ev.e), 6) AS c
         |       FROM embeddings t CROSS JOIN ev WHERE t.vec_id % $evalMod <> 0)
         |SELECT vec_id,
         |       sum(CASE WHEN c >= 0.35 THEN 1 ELSE 0 END)::BIGINT AS n_near,
         |       round(max(c), 6) AS max_sim,
         |       (sum(CASE WHEN c >= 0.35 THEN 1 ELSE 0 END) > 0) AS contaminated
         |FROM sc GROUP BY 1""".stripMargin)),
    // --- incremental (cross-snapshot) dedup: today's batch anti-joined
    //     on content digest against the already-ingested reference —
    //     the recrawl staple that never re-shuffles the historical
    //     corpus. Reference = every 3rd doc PLUS docs 0-9 (re-ingested
    //     content), so the drop is observable: batch docs 1,2,4,5,7,8
    //     share exact text with the reference and must vanish. ---
    QuerySpec("q_dedup_incremental", { (s, d) =>
      val docs = table(s, d, "documents")
      operators.Dedup.dedupAgainstReference(
        batch = docs.filter(col("doc_id") % 3 =!= 0),
        reference = docs.filter(col("doc_id") % 3 === 0 || col("doc_id") < 10),
        textCol = "text",
        refTextCol = "text")
        .select("doc_id", "source", "n_chars")
    },
      Sql(IncrementalDedupSql)),
    // --- bloom-prefiltered incremental dedup: same contract as
    //     q_dedup_incremental (same oracle — the bloom pass is provably
    //     lossless), but batch rows missing the broadcast bloom skip
    //     the anti-join exchange entirely — the steady-state recrawl
    //     shape where the reference dwarfs the batch. ---
    QuerySpec("q_dedup_incremental_bloom", { (s, d) =>
      val docs = table(s, d, "documents")
      operators.Dedup.dedupAgainstReferenceBloom(
        batch = docs.filter(col("doc_id") % 3 =!= 0),
        reference = docs.filter(col("doc_id") % 3 === 0 || col("doc_id") < 10),
        textCol = "text",
        refTextCol = "text",
        expectedItems = 100000L)
        .select("doc_id", "source", "n_chars")
    },
      Sql(IncrementalDedupSql)),
    // --- incremental NEAR-dup dedup: batch rows near-duplicating
    //     (exact 3-shingle Jaccard >= 0.8) ANY reference doc are
    //     dropped — the fuzzy companion to q_dedup_incremental (a
    //     recrawled page with one changed word survives exact-digest
    //     dedup; it must not survive this). Exact cross-corpus pair
    //     operator so the oracle provably matches; at scale feed the
    //     anti join banded-MinHash candidates instead. ---
    QuerySpec("q_dedup_incremental_near", { (s, d) =>
      val docs = table(s, d, "documents")
      operators.Dedup.nearDupAgainstReference(
        batch = docs.filter(col("doc_id") % 3 =!= 0),
        reference = docs.filter(col("doc_id") % 3 === 0 || col("doc_id") < 10),
        idCol = "doc_id", textCol = "text", k = 3, threshold = 0.8)
        .select("doc_id", "source", "n_chars")
    },
      Sql("""WITH toks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(ts) >= 3 THEN list_transform(generate_series(1, len(ts) - 2), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) ELSE [] END) s FROM toks),
        |a AS (SELECT doc_id, s FROM sh WHERE doc_id % 3 <> 0 AND len(s) > 0),
        |b AS (SELECT doc_id, s FROM sh WHERE (doc_id % 3 = 0 OR doc_id < 10) AND len(s) > 0),
        |exa AS (SELECT doc_id, unnest(s) g FROM a),
        |exb AS (SELECT doc_id, unnest(s) g FROM b),
        |cand AS (SELECT exa.doc_id ia, exb.doc_id ib, count(*) common
        |         FROM exa JOIN exb USING (g) GROUP BY 1, 2),
        |contaminated AS (
        |  SELECT DISTINCT ia FROM cand
        |  JOIN (SELECT doc_id, len(s) n FROM a) ca ON ia = ca.doc_id
        |  JOIN (SELECT doc_id, len(s) n FROM b) cb ON ib = cb.doc_id
        |  WHERE round(common * 1.0 / (ca.n + cb.n - common), 6) >= 0.8)
        |SELECT d.doc_id, d.source, d.n_chars FROM documents d
        |WHERE d.doc_id % 3 <> 0
        |  AND d.doc_id NOT IN (SELECT ia FROM contaminated)""".stripMargin)),
    // --- cross-source duplication matrix: near-dup pair counts per
    //     unordered source pair — the provenance report over the exact
    //     Jaccard pairs (any pair set plugs in; banded at scale). ---
    QuerySpec("q_dup_matrix", { (s, d) =>
      val docs = table(s, d, "documents")
      operators.Dedup.dupGroupMatrix(
        docs,
        operators.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          k = 3, threshold = 0.8).select("id_a", "id_b"),
        "doc_id", "source")
    },
      Sql("""WITH toks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(ts) >= 3 THEN list_transform(generate_series(1, len(ts) - 2), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) ELSE [] END) s FROM toks),
        |ex AS (SELECT doc_id, unnest(s) g FROM sh),
        |cnt AS (SELECT doc_id, len(s) n FROM sh),
        |cand AS (SELECT a.doc_id ia, b.doc_id ib, count(*) common FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT ia, ib FROM (
        |    SELECT ia, ib, round(common * 1.0 / (ca.n + cb.n - common), 6) AS jaccard
        |    FROM cand JOIN cnt ca ON ia = ca.doc_id JOIN cnt cb ON ib = cb.doc_id)
        |  WHERE jaccard >= 0.8),
        |lab AS (SELECT p.ia, p.ib, da.source sa, db.source sb
        |        FROM pairs p JOIN documents da ON p.ia = da.doc_id
        |        JOIN documents db ON p.ib = db.doc_id)
        |SELECT least(sa, sb) AS group_a, greatest(sa, sb) AS group_b,
        |       CAST(count(*) AS BIGINT) AS n_pairs
        |FROM lab GROUP BY 1, 2""".stripMargin)),
    // --- near-dup similarity histogram: exact-Jaccard pair counts per
    //     0.05 bucket above 0.5 — the threshold-tuning report (where
    //     does the corpus's duplication mass sit?). Pure arithmetic on
    //     the pair operator's output. ---
    QuerySpec("q_dup_hist", { (s, d) =>
      operators.Dedup.ngramJaccardPairs(
        table(s, d, "documents"), "doc_id", "text", k = 3, threshold = 0.5)
        .select((floor(col("jaccard") * 20) / 20).as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_pairs"))
    },
      Sql("""WITH toks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(ts) >= 3 THEN list_transform(generate_series(1, len(ts) - 2), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) ELSE [] END) s FROM toks),
        |ex AS (SELECT doc_id, unnest(s) g FROM sh),
        |cnt AS (SELECT doc_id, len(s) n FROM sh),
        |cand AS (SELECT a.doc_id ia, b.doc_id ib, count(*) common FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |jac AS (SELECT round(common * 1.0 / (ca.n + cb.n - common), 6) AS jaccard
        |        FROM cand JOIN cnt ca ON ia = ca.doc_id JOIN cnt cb ON ib = cb.doc_id)
        |SELECT floor(jaccard * 20) / 20 AS bucket, CAST(count(*) AS BIGINT) AS n_pairs
        |FROM jac WHERE jaccard >= 0.5 GROUP BY 1""".stripMargin)),
    // --- per-benchmark decontamination: WHICH eval set leaked into
    //     which training doc (q_decontam pools all sets — it names the
    //     doc, not the benchmark). Eval (set, shingle) pairs broadcast;
    //     corpus scanned once; only (doc, set) HITS shuffle. ---
    QuerySpec("q_decontam_sets", { (s, d) =>
      val docs = table(s, d, "documents")
      operators.Decontaminate.ngramOverlapPerSet(
        train = docs.filter(col("doc_id") % evalMod =!= 0),
        eval = docs.filter(col("doc_id") % evalMod === 0)
          .withColumn("eval_set", (col("doc_id") % 2).cast("int")),
        idCol = "doc_id", textCol = "text", setCol = "eval_set",
        k = 3, minShared = 2)
    },
      Sql("""WITH toks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(ts) >= 3 THEN list_transform(generate_series(1, len(ts) - 2), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) ELSE [] END) s FROM toks),
        |ev0 AS (SELECT CAST(doc_id % 2 AS INTEGER) eval_set, unnest(s) g
        |        FROM sh WHERE doc_id % 97 = 0),
        |ev AS (SELECT DISTINCT eval_set, g FROM ev0),
        |tr AS (SELECT doc_id, unnest(s) g FROM sh WHERE doc_id % 97 <> 0)
        |SELECT doc_id, eval_set, CAST(count(*) AS BIGINT) AS n_shared
        |FROM tr JOIN ev USING (g) GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin)),
    // --- decontamination k-sweep: per-doc eval overlap at k=3,4,5 in
    //     ONE corpus scan (tagged-struct explode + broadcast pool) —
    //     the measurement that picks the production shingle size ---
    QuerySpec("q_decontam_sweep", { (s, d) =>
      val docs = table(s, d, "documents")
      operators.Decontaminate.ngramOverlapSweep(
        train = docs.filter(col("doc_id") % evalMod =!= 0),
        eval = docs.filter(col("doc_id") % evalMod === 0),
        idCol = "doc_id", textCol = "text", ks = Seq(3, 4, 5))
    },
      Sql("""WITH t AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |ks AS (SELECT unnest([3, 4, 5]) k),
        |sh AS (SELECT doc_id, k, unnest(list_distinct(CASE WHEN len(ts) >= k THEN list_transform(generate_series(1, len(ts) - k + 1), i -> array_to_string(ts[i:i+k-1], ' ')) ELSE [] END)) g
        |       FROM t CROSS JOIN ks),
        |ev AS (SELECT k, g, 1 hit FROM (SELECT DISTINCT k, g FROM sh WHERE doc_id % 97 = 0)),
        |tr AS (SELECT doc_id, k, g FROM sh WHERE doc_id % 97 <> 0)
        |SELECT tr.doc_id, tr.k, CAST(count(*) AS BIGINT) AS n_shingles,
        |       CAST(count(ev.hit) AS BIGINT) AS n_shared
        |FROM tr LEFT JOIN ev ON tr.k = ev.k AND tr.g = ev.g
        |GROUP BY 1, 2""".stripMargin)),
    // --- edit-distance-verified near-dup pairs: posting-list Jaccard
    //     candidates, levenshtein verify on pairs only (never
    //     corpus×corpus) — the character-level measure set-Jaccard
    //     can't express ---
    QuerySpec("q_edit_pairs", ((s, d) =>
      operators.Dedup.editDistancePairs(
        table(s, d, "documents"), "doc_id", "text",
        k = 3, jaccardMin = 0.5, maxDist = 20)),
      Sql("""WITH t AS (SELECT doc_id, text, string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(ts) >= 3 THEN list_transform(generate_series(1, len(ts) - 2), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) ELSE [] END) s FROM t),
        |ex AS (SELECT doc_id, unnest(s) g FROM sh),
        |cnt AS (SELECT doc_id, len(s) n FROM sh),
        |pairs AS (SELECT a.doc_id ia, b.doc_id ib, count(*) common FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |j AS (SELECT ia, ib, round(common * 1.0 / (ca.n + cb.n - common), 6) AS jaccard
        |      FROM pairs JOIN cnt ca ON ia = ca.doc_id JOIN cnt cb ON ib = cb.doc_id
        |      WHERE round(common * 1.0 / (ca.n + cb.n - common), 6) >= 0.5)
        |SELECT ia AS id_a, ib AS id_b, jaccard,
        |       CAST(levenshtein(ta.text, tb.text) AS INTEGER) AS edit_dist
        |FROM j JOIN t ta ON ia = ta.doc_id JOIN t tb ON ib = tb.doc_id
        |WHERE levenshtein(ta.text, tb.text) <= 20""".stripMargin)),
    // --- anchor-based exact char-substring duplication profile:
    //     content-defined anchors (md5 of the 8-gram at each position)
    //     catch copied 50-char runs no matter how they shift against
    //     word-chunk boundaries; digests-only shuffles ---
    QuerySpec("q_substring_dedup", ((s, d) =>
      operators.SubstringDedup.anchoredSpanProfile(
        table(s, d, "documents"), "doc_id", "text", spanLen = 50, anchorK = 8,
        anchorZeros = 1)),
      // Bit-exact replay of anchoredSpanProfile: md5 is the same
      // lowercase-hex digest in both engines, and substr is 1-based
      // char-indexed in both.
      Sql("""WITH pos AS (
        |  SELECT doc_id, text t, unnest(generate_series(1, len(text) - 49)) i
        |  FROM documents WHERE len(text) >= 50),
        |anch AS (
        |  SELECT doc_id, md5(substr(t, i, 50)) h FROM pos
        |  WHERE substr(md5(substr(t, i, 8)), 1, 1) = '0'),
        |occ AS (SELECT doc_id, h, count(*) occ FROM anch GROUP BY 1, 2),
        |tot AS (SELECT h, sum(occ) tot, count(*) ndocs FROM occ GROUP BY 1),
        |perdoc AS (
        |  SELECT o.doc_id,
        |    CAST(sum(o.occ) AS BIGINT) AS n_spans,
        |    CAST(coalesce(sum(CASE WHEN t.tot >= 2 THEN o.occ END), 0) AS BIGINT) AS n_dup,
        |    CAST(coalesce(sum(CASE WHEN t.ndocs >= 2 THEN o.occ END), 0) AS BIGINT) AS n_cross_dup
        |  FROM occ o JOIN tot t USING (h) GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
        |  CAST(coalesce(p.n_dup, 0) AS BIGINT) AS n_dup,
        |  CAST(coalesce(p.n_cross_dup, 0) AS BIGINT) AS n_cross_dup
        |FROM documents d LEFT JOIN perdoc p USING (doc_id)""".stripMargin)),
    // --- character coverage of cross-doc duplicated spans (interval
    //     union): the "how much would substring dedup remove" metric ---
    QuerySpec("q_dup_span_chars", ((s, d) =>
      operators.SubstringDedup.duplicatedSpanChars(
        table(s, d, "documents"), "doc_id", "text", spanLen = 50, anchorK = 8,
        anchorZeros = 1)),
      // Interval-union coverage replay: gaps-and-islands over the sorted
      // duplicated-span start positions — a new island opens when a start
      // clears the running max end; island length = max(i) - min(i) + 50.
      Sql("""WITH pos AS (
        |  SELECT doc_id, text t, unnest(generate_series(1, len(text) - 49)) i
        |  FROM documents WHERE len(text) >= 50),
        |anch AS (
        |  SELECT doc_id, i, md5(substr(t, i, 50)) h FROM pos
        |  WHERE substr(md5(substr(t, i, 8)), 1, 1) = '0'),
        |nd AS (SELECT h, count(DISTINCT doc_id) ndocs FROM anch GROUP BY 1),
        |dup AS (SELECT a.doc_id, a.i FROM anch a JOIN nd USING (h)
        |        WHERE nd.ndocs >= 2),
        |marked AS (
        |  SELECT doc_id, i,
        |    CASE WHEN max(i + 49) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |      OR i > max(i + 49) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      THEN 1 ELSE 0 END AS new_island
        |  FROM dup),
        |isl AS (
        |  SELECT doc_id, i,
        |    sum(new_island) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS UNBOUNDED PRECEDING) AS island
        |  FROM marked),
        |perisl AS (
        |  SELECT doc_id, island, count(*) n, max(i) - min(i) + 50 AS cov
        |  FROM isl GROUP BY 1, 2),
        |perdoc AS (
        |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_dup_spans,
        |    CAST(sum(cov) AS BIGINT) AS dup_chars
        |  FROM perisl GROUP BY 1)
        |SELECT d.doc_id, CAST(len(d.text) AS BIGINT) AS n_chars,
        |  CAST(coalesce(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
        |  CAST(coalesce(p.dup_chars, 0) AS BIGINT) AS dup_chars
        |FROM documents d LEFT JOIN perdoc p USING (doc_id)""".stripMargin)),
    // --- incremental span overlap: per arriving doc, how many anchored
    //     spans already exist in the reference corpus (batch twin of
    //     the streaming substring screen; %3 split as q_dedup_incremental) ---
    QuerySpec("q_substring_incremental", { (s, d) =>
      val dd = table(s, d, "documents")
      operators.SubstringDedup.spanOverlapAgainstReference(
        batch = dd.filter(col("doc_id") % 3 =!= 0),
        reference = dd.filter(col("doc_id") % 3 === 0 || col("doc_id") < 10),
        idCol = "doc_id", textCol = "text")
    },
      Sql("""WITH ref AS (
        |  SELECT DISTINCT md5(substr(t, i, 50)) h FROM (
        |    SELECT text t, unnest(generate_series(1, len(text) - 49)) i
        |    FROM documents
        |    WHERE (doc_id % 3 = 0 OR doc_id < 10) AND len(text) >= 50)
        |  WHERE substr(md5(substr(t, i, 8)), 1, 1) = '0'),
        |bat AS (
        |  SELECT doc_id, md5(substr(t, i, 50)) h FROM (
        |    SELECT doc_id, text t, unnest(generate_series(1, len(text) - 49)) i
        |    FROM documents WHERE doc_id % 3 <> 0 AND len(text) >= 50)
        |  WHERE substr(md5(substr(t, i, 8)), 1, 1) = '0'),
        |perdoc AS (
        |  SELECT b.doc_id,
        |    CAST(count(*) AS BIGINT) AS n_spans,
        |    CAST(coalesce(sum(CASE WHEN r.h IS NOT NULL THEN 1 END), 0) AS BIGINT) AS n_matched
        |  FROM bat b LEFT JOIN ref r USING (h) GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
        |  CAST(coalesce(p.n_matched, 0) AS BIGINT) AS n_matched
        |FROM documents d LEFT JOIN perdoc p USING (doc_id)
        |WHERE d.doc_id % 3 <> 0""".stripMargin)),
    // --- RefinedWeb/CCNet line dedup: drop EVERY line appearing in
    //     > 2 distinct docs, keep surviving lines in order. The df
    //     pass shuffles line digests only; the hot set collapses to a
    //     one-row broadcast and removal is a row-local array filter —
    //     corpus text never reaches an exchange (plan-pinned). ---
    QuerySpec("q_line_dedup", { (s, d) =>
      val reflowed = table(s, d, "documents").select(
        col("doc_id"),
        array_join(
          operators.SubstringDedup.tokenChunks(
            split(col("text"), " "), LineWidth), "\n").as("text"))
      operators.SubstringDedup.lineDedup(
        reflowed, "doc_id", "text", maxDf = 2)
    },
      Sql("""WITH t AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |ln AS (SELECT doc_id, unnest(list_transform(generate_series(0, CAST(ceil(len(w) / 8.0) AS INT) - 1), k -> {'idx': k, 'line': array_to_string(w[k*8+1 : k*8+8], ' ')}), recursive := true) FROM t),
        |hot AS (SELECT line FROM (SELECT line, count(DISTINCT doc_id) df FROM ln GROUP BY 1) WHERE df > 2),
        |kept AS (SELECT doc_id, idx, line FROM ln WHERE line NOT IN (SELECT line FROM hot)),
        |r AS (SELECT doc_id, count(*) n_kept, string_agg(line, chr(10) ORDER BY idx) text_dedup FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, CAST(ceil(len(t.w) / 8.0) AS BIGINT) AS n_lines,
        |       coalesce(r.n_kept, 0)::BIGINT AS n_kept,
        |       coalesce(r.text_dedup, '') AS text_dedup
        |FROM t LEFT JOIN r ON t.doc_id = r.doc_id""".stripMargin)),
    // --- GPT-3/Pile 13-gram decontamination: contaminated on ANY
    //     shared 13-gram (k=13, minShared=1 — the published collision
    //     rule). Eval = every 5th doc so the fixture's near-dup pairs
    //     actually straddle the train/eval split. ---
    QuerySpec("q_decontam_13g", { (s, d) =>
      val all = table(s, d, "documents")
      operators.Decontaminate.decontaminate13Gram(
        train = all.filter(col("doc_id") % 5 =!= 0),
        eval = all.filter(col("doc_id") % 5 === 0)
          .withColumn("eval_set", (col("doc_id") % 2).cast("int")),
        idCol = "doc_id", textCol = "text", setCol = "eval_set")
    },
      Sql(decontam13gOracle)),
    // --- bloom-prefiltered 13-gram decontamination: compact bloom
    //     over eval-gram hashes drops definitely-unshared train
    //     shingles map-side; exact join kills false positives —
    //     LOSSLESS, same oracle as the plain form. ---
    QuerySpec("q_decontam_13g_bloom", { (s, d) =>
      val all = table(s, d, "documents")
      operators.Decontaminate.ngramOverlapPerSetBloom(
        train = all.filter(col("doc_id") % 5 =!= 0),
        eval = all.filter(col("doc_id") % 5 === 0)
          .withColumn("eval_set", (col("doc_id") % 2).cast("int")),
        idCol = "doc_id", textCol = "text", setCol = "eval_set",
        k = 13, minShared = 1, expectedItems = 100000L)
    },
      Sql(decontam13gOracle)),
    // --- incremental near-dedup served from a PERSISTENT band index:
    //     the reference corpus's banded-MinHash table is built once
    //     (cache-materializable, like the IVF index); each recrawl
    //     batch computes only ITS OWN signatures and probes the index
    //     — no job ever re-reads the reference text. Rows-only by
    //     design (banding is approximate); q_index_recall gates the
    //     candidate quality ≥ 0.90 against the exact cross-corpus
    //     pair set. ---
    QuerySpec("q_dedup_index_near", { (s, d) =>
      val dd = table(s, d, "documents")
      val index = operators.Dedup.buildMinHashBandIndex(
        dd.filter(col("doc_id") % 3 === 0 || col("doc_id") < 10),
        "doc_id", "text")
      operators.Dedup.nearDupAgainstIndex(
        dd.filter(col("doc_id") % 3 =!= 0), index, "doc_id", "text")
        .select("doc_id", "source", "n_chars")
    },
      RowsOnly("q_index_recall")),
    // --- candidate recall of the index probe vs the exact Jaccard
    //     >= 0.8 cross-corpus pair set (same split as
    //     q_dedup_incremental_near) — the q_minhash_recall pattern for
    //     the index-served path. ---
    QuerySpec("q_index_recall", { (s, d) =>
      val dd = table(s, d, "documents")
      val batch = dd.filter(col("doc_id") % 3 =!= 0)
      val ref = dd.filter(col("doc_id") % 3 === 0 || col("doc_id") < 10)
      val exact = operators.Dedup.ngramJaccardPairsAgainst(
        batch, ref, "doc_id", "text", k = 3, threshold = 0.8)
        .select(col("id_batch").as("id_a"), col("id_ref").as("id_b"))
      val cand = operators.Dedup.minHashPairsAgainstIndex(
        batch, operators.Dedup.buildMinHashBandIndex(ref, "doc_id", "text"),
        "doc_id", "text")
        .select(col("id_batch").as("id_a"), col("id_ref").as("id_b"))
      operators.Quality.pairRecallCounts(exact, cand)
        .select(col("n_exact"),
          operators.Quality.recallOk(bps = 9000).as("recall_ok"))
    },
      // Exact cross-corpus >= 0.8 pair count (the recall denominator);
      // the recall verdict itself is driver-gated TRUE, like
      // q_minhash_recall.
      Sql("""WITH toks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(ts) >= 3 THEN list_transform(generate_series(1, len(ts) - 2), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) ELSE [] END) s FROM toks),
        |b AS (SELECT * FROM sh WHERE doc_id % 3 <> 0 AND len(s) > 0),
        |r AS (SELECT * FROM sh WHERE (doc_id % 3 = 0 OR doc_id < 10) AND len(s) > 0),
        |exb AS (SELECT doc_id, unnest(s) g FROM b),
        |exr AS (SELECT doc_id, unnest(s) g FROM r),
        |cnb AS (SELECT doc_id, len(s) n FROM b),
        |cnr AS (SELECT doc_id, len(s) n FROM r),
        |cand AS (SELECT a.doc_id ia, c.doc_id ib, count(*) common
        |         FROM exb a JOIN exr c ON a.g = c.g GROUP BY 1, 2)
        |SELECT count(*)::BIGINT AS n_exact, TRUE AS recall_ok FROM (
        |  SELECT round(common * 1.0 / (ca.n + cb.n - common), 6) AS jaccard
        |  FROM cand JOIN cnb ca ON ia = ca.doc_id JOIN cnr cb ON ib = cb.doc_id)
        |WHERE jaccard >= 0.8""".stripMargin)),
    // --- paragraph-level dedup (CCNet/RefinedWeb granularity between
    //     line- and chunk-level): the corpus has no newlines, so the
    //     query reflows each document into 24-word paragraphs first
    //     (both engines replay the reflow), then drops every paragraph
    //     appearing in > 2 distinct docs. Same plan shape as
    //     q_line_dedup: digests-only shuffle, sorted one-row broadcast
    //     hot set, row-local removal. ---
    QuerySpec("q_para_dedup", { (s, d) =>
      val reflowed = table(s, d, "documents").select(
        col("doc_id"),
        array_join(
          operators.SubstringDedup.tokenChunks(
            split(col("text"), " "), ParaWidth), "\n\n").as("text"))
      operators.SubstringDedup.paraDedup(reflowed, "doc_id", "text", maxDf = 2)
        .withColumnRenamed("n_lines", "n_paras")
    },
      Sql("""WITH t AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |p AS (SELECT doc_id, unnest(list_transform(generate_series(0, CAST(ceil(len(w) / 24.0) AS INT) - 1), k -> {'idx': k, 'para': array_to_string(w[k*24+1 : k*24+24], ' ')}), recursive := true) FROM t),
        |hot AS (SELECT para FROM (SELECT para, count(DISTINCT doc_id) df FROM p GROUP BY 1) WHERE df > 2),
        |kept AS (SELECT doc_id, idx, para FROM p WHERE para NOT IN (SELECT para FROM hot)),
        |r AS (SELECT doc_id, count(*) n_kept, string_agg(para, chr(10)||chr(10) ORDER BY idx) text_dedup FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, CAST(ceil(len(t.w) / 24.0) AS BIGINT) AS n_paras,
        |       coalesce(r.n_kept, 0)::BIGINT AS n_kept,
        |       coalesce(r.text_dedup, '') AS text_dedup
        |FROM t LEFT JOIN r ON t.doc_id = r.doc_id""".stripMargin)),
    // --- INCREMENTAL near-dup components: prior labels from the
    //     even-id half of the corpus, new pair evidence from the full
    //     corpus (pair Jaccard is a property of the two documents
    //     alone, so evidence is append-only and prior pairs stay
    //     valid); the contracted closure touches only clusters the
    //     new pairs reach, and the result must equal the full-rebuild
    //     closure — q_dedup_components' recursive-CTE oracle
    //     verbatim. ---
    QuerySpec("q_dedup_components_inc", { (s, d) =>
      val dd = table(s, d, "documents")
      val half = dd.filter(col("doc_id") % 2 === 0)
      val prior = operators.Dedup.nearDupComponents(
        half.select("doc_id"),
        operators.Dedup.nearDupPairs(half, "doc_id", "text",
          k = 3, threshold = 0.8).select("id_a", "id_b"))
      val newPairs = operators.Dedup.nearDupPairs(dd, "doc_id", "text",
        k = 3, threshold = 0.8).select("id_a", "id_b")
      operators.Dedup.nearDupComponentsIncremental(
        dd.select("doc_id"), prior, newPairs)
    },
      Sql(dedupComponentsOracle)))
}
