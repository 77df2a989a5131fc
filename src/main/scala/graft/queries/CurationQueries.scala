package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.TextAnalysis
import graft.sources.Sources.table

/** Curation and quality: heuristic and learned quality filters, Gopher
  * rules, mixing, capping, stratified / weighted / DSIR sampling, filter
  * funnels, datacards, source drift, and the scorer-observability family
  * (calibration, ECE, AUC, PSI, confusion, recalibration, gates and
  * per-source thresholds, global and keyed by source).
  */
object CurationQueries {

  /** Weak label the classifier must learn: stopword-ratio ≥ 0.06 (the
    * corpus median — balanced ~50/50 at every SF, and genuinely
    * learnable from hashed token counts: the stopword hash buckets ARE
    * the signal, so holdout agreement well above the 0.5 majority
    * baseline demonstrates real generalization, not label echo). */
  private def weakLabel: org.apache.spark.sql.Column = {
    val toks = operators.TextAnalysis.tokens(col("text"))
    val stops = size(filter(toks,
      tk => tk.isInCollection(operators.TextAnalysis.StopwordsEn)))
    stops.cast("double") / size(toks) >= 0.06
  }

  /** The q_dsir oracle, which other oracles replay. */
  private def dsirOracle: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) tok FROM documents),
        |src AS (SELECT tok, count(*) cs FROM toks GROUP BY 1),
        |tgt AS (SELECT tok, count(*) ct FROM (
        |          SELECT unnest(string_split(text, ' ')) tok FROM documents WHERE lang = 'en') GROUP BY 1),
        |tot AS (SELECT (SELECT sum(cs) FROM src) ns, (SELECT count(*) FROM src) v,
        |               (SELECT coalesce(sum(ct), 0) FROM tgt) nt),
        |terms AS (SELECT toks.doc_id,
        |            ln((coalesce(tgt.ct, 0) + 1.0) / (CAST(tot.nt AS DOUBLE) + tot.v))
        |          - ln((src.cs + 1.0) / (CAST(tot.ns AS DOUBLE) + tot.v)) AS d
        |          FROM toks JOIN src USING (tok) LEFT JOIN tgt USING (tok) CROSS JOIN tot)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        |       round(sum(d), 6) AS llr,
        |       round(sum(d) / count(*), 6) AS avg_llr
        |FROM terms GROUP BY 1""".stripMargin

  private[graft] def calibrationScored(
      s: SparkSession, d: String): DataFrame =
    QueryParts.scoreLabel(table(s, d, "documents"))

  /** The q_psi scoring: [[stopRatio]] at a caller-chosen scale
    * divisor, with the even/odd split flag for the two releases. */
  private def scaledScore(
      s: SparkSession, d: String, div: Double): DataFrame =
    table(s, d, "documents").select(
      least(QueryParts.stopRatio / lit(div), lit(1.0)).as("score"),
      (col("doc_id") % 2 === 0).as("__even"))

  /** The q_calibration bin-table replay both calibration oracles
    * share: tokenize, stopword-ratio score clipped into [0, 1], decile
    * bins, fixed-point mean scores — ending in a `rep` CTE with the
    * operator's exact output columns. */
  private[graft] def calibrationBinsCte: String =
    // lang IS NOT NULL mirrors the engine's null-LABEL drop (the
    // three-report contract): a null-lang row must not count in any
    // bin's n/mean_score on either side of the gate.
    s"""WITH t AS (SELECT lang, regexp_extract_all(text, '\\S+') toks
      |           FROM documents WHERE lang IS NOT NULL),
      |s AS (SELECT ${QueryParts.StopScoreSql}
      |      AS score,
      |    (lang = 'en') AS label FROM t),
      |b AS (SELECT greatest(least(CAST(floor(score * 10) AS INT), 9), 0)
      |      AS bin,
      |    CAST(round(score * 1e6) AS BIGINT) AS micros,
      |    CAST(label AS INT) AS pos FROM s),
      |rep AS (SELECT bin, count(*) AS n,
      |    CAST((2 * sum(micros) + count(*)) // (2 * count(*)) AS DOUBLE)
      |      / 1e6 AS mean_score,
      |    CAST((2 * sum(pos) * 1000000 + count(*)) // (2 * count(*))
      |      AS DOUBLE) / 1e6 AS label_rate,
      |    CAST(CASE WHEN sum(pos) * 1000000 - sum(micros) >= 0
      |      THEN (2 * (sum(pos) * 1000000 - sum(micros)) + count(*))
      |        // (2 * count(*))
      |      ELSE -((2 * (sum(micros) - sum(pos) * 1000000) + count(*))
      |        // (2 * count(*))) END AS DOUBLE) / 1e6 AS gap
      |  FROM b GROUP BY bin)""".stripMargin

  /** The isotonic-fit CTE chain both recalibration oracles share,
    * appended after [[calibrationBinsCte]]'s `b` (bin,
    * micros, pos per row): integer bin masses, cumulative sums, the
    * min-max identity over every contiguous bin range — ending in an
    * `fit` CTE of (bin, n, np, cal). */
  private def isotonicCtes: String =
    """,
      |g AS (SELECT bin, count(*) AS n, CAST(sum(pos) AS BIGINT) AS np
      |      FROM b GROUP BY bin),
      |cum AS (SELECT bin, n, np,
      |    CAST(sum(n) OVER (ORDER BY bin
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn,
      |    CAST(sum(np) OVER (ORDER BY bin
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cnp
      |  FROM g),
      |segs AS (SELECT j.bin AS jb, k.bin AS kb,
      |    CAST(k.cnp - (j.cnp - j.np) AS DOUBLE)
      |      / CAST(k.cn - (j.cn - j.n) AS DOUBLE) AS r
      |  FROM cum j JOIN cum k ON j.bin <= k.bin),
      |mn AS (SELECT i.bin, segs.jb, min(r) AS mr
      |  FROM g i JOIN segs ON segs.jb <= i.bin AND segs.kb >= i.bin
      |  GROUP BY i.bin, segs.jb),
      |fit AS (SELECT mn.bin, g.n, g.np, max(mn.mr) AS cal
      |  FROM mn JOIN g ON g.bin = mn.bin
      |  GROUP BY mn.bin, g.n, g.np)""".stripMargin

  /** The KEYED pool-adjacent-violators chain via the min-max identity,
    * shared by q_recalibrate_by and (round 16) q_recalibrate_ece_by —
    * the ONE oracle-side copy of the keyed isotonic arithmetic.
    * Consumes a caller-defined `g(source, bin, n, np, …)` CTE (extra
    * columns tolerated) and ends in `fit(source, bin, n, np, cal)`.
    * A `def`, not a `val`: the `oracles` val above initializes first,
    * and a later-declared val would read null into its SQL. */
  private[graft] def keyedPavCtes: String =
    """cum AS (SELECT source, bin, n, np,
      |    CAST(sum(n) OVER (PARTITION BY source ORDER BY bin
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn,
      |    CAST(sum(np) OVER (PARTITION BY source ORDER BY bin
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cnp
      |  FROM g),
      |segs AS (SELECT j.source, j.bin AS jb, k.bin AS kb,
      |    CAST(k.cnp - (j.cnp - j.np) AS DOUBLE)
      |      / CAST(k.cn - (j.cn - j.n) AS DOUBLE) AS r
      |  FROM cum j JOIN cum k
      |    ON j.source = k.source AND j.bin <= k.bin),
      |mn AS (SELECT i.source, i.bin, segs.jb, min(r) AS mr
      |  FROM g i JOIN segs ON segs.source = i.source
      |    AND segs.jb <= i.bin AND segs.kb >= i.bin
      |  GROUP BY i.source, i.bin, segs.jb),
      |fit AS (SELECT mn.source, mn.bin, g.n, g.np, max(mn.mr) AS cal
      |  FROM mn JOIN g ON g.source = mn.source AND g.bin = mn.bin
      |  GROUP BY mn.source, mn.bin, g.n, g.np)""".stripMargin

  /** The calibration-family scoring ([[QueryParts.scoreLabel]]) with
    * the source key carried — the ONE derivation all three keyed
    * observability queries score through. */
  private[graft] def scoredSrc(s: SparkSession, d: String): DataFrame =
    QueryParts.scoreLabel(table(s, d, "documents"), keep = Seq("source"))

  /** The previous release for the keyed drift arms: the even-doc_id
    * half at the same scaling — the q_scorer_gate baseline, keyed. */
  private def prevSrc(s: SparkSession, d: String): DataFrame =
    QueryParts.scoreLabel(table(s, d, "documents").filter(col("doc_id") % 2 === 0),
      keep = Seq("source"))

  /** The keyed scoring replayed in SQL — `s` carries (source, doc_id,
    * score, label) with NO filters, so each oracle built on it applies
    * exactly the null-drops its engine counterpart does. (The
    * q_recalibrate_ece_by and q_drift_gated_budget oracles derive
    * their own scored CTEs instead — the loop needs label-filtered
    * scoring at the t stage, the budget two divisors.) */
  private[graft] val ScoredCtes: String =
    s"""WITH t AS (SELECT source, lang, doc_id,
      |    regexp_extract_all(text, '\\S+') toks FROM documents),
      |s AS (SELECT source, doc_id, ${QueryParts.StopScoreSql}
      |      AS score,
      |    (lang = 'en') AS label FROM t)""".stripMargin

  /** The per-source Mann-Whitney CTEs shared by q_auc_by and
    * q_scorer_gate_by: distinct (source, quantized score) groups,
    * per-source inclusive running counts, tie-block average ranks,
    * per-source rank-sum folds. Ends in `aa(source, npos, nneg,
    * rpos)`. */
  /** The per-source quantized distinct-score grid CTE — the ONE
    * oracle-side copy of the (source, round(score, 6)) collapse both
    * the AUC rank fold and the round-17 threshold sweep build on.
    * `extraFilter` carries an operator-specific drop spelled as SQL
    * (the threshold sweep excludes NaN scores; the AUC fold, matching
    * its engine, does not). Ends in `ga(source, sc, n, np)`. */
  private[graft] def gridCte(extraFilter: String = ""): String =
    s"""ga AS (SELECT source, round(score, 6) AS sc,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CAST(label AS INT)) AS BIGINT) AS np
       |  FROM s WHERE score IS NOT NULL$extraFilter
       |    AND label IS NOT NULL AND source IS NOT NULL
       |  GROUP BY 1, 2)""".stripMargin

  private val AucByCtes: String =
    gridCte() + """,
      |ra AS (SELECT source, np, n,
      |    CAST(sum(n) OVER (PARTITION BY source ORDER BY sc
      |      ROWS UNBOUNDED PRECEDING) AS DOUBLE)
      |      - (CAST(n AS DOUBLE) - 1) / 2 AS avg_rank
      |  FROM ga),
      |aa AS (SELECT source, CAST(sum(np) AS BIGINT) AS npos,
      |    CAST(sum(n - np) AS BIGINT) AS nneg,
      |    sum(CAST(np AS DOUBLE) * avg_rank) AS rpos
      |  FROM ra GROUP BY source)""".stripMargin

  /** q_psi_by's and q_scorer_gate_by's populations: base = the
    * even-doc_id half of the scored corpus, cur = the full corpus. */
  private val PsiByGrid: String = QueryParts.psiGridCtes(
    "(SELECT source, score FROM s WHERE doc_id % 2 = 0) sbq", "s")

  /** The keyed integer gap-mass ECE fold over a `(source, bin, n, np,
    * sm)` CTE — the ONE oracle-side copy of that arithmetic, shared by
    * q_scorer_gate_by and q_recalibrate_ece_by's before/after sides.
    * Produces a full `SELECT … AS $out … GROUP BY source` body. */
  private[graft] def keyedEceFold(from: String, out: String): String =
    s"""SELECT source,
       |    CAST((2 * sum(((2 * abs(np * 1000000 - sm) + n) // (2 * n))
       |      * n) + sum(n)) // (2 * sum(n)) AS DOUBLE) / 1e6 AS $out
       |  FROM $from GROUP BY source""".stripMargin

  /** The per-source max-F1 sweep replayed in SQL over
    * [[ScoredCtes]]'s scored corpus: the SHARED quantized
    * distinct-score grid ([[gridCte]], with the sweep's
    * NaN drop), descending cumulative confusion, rounded-F1 argmax
    * with the highest-threshold tiebreak. Ends in `sel(source, sc,
    * tp, fp, fn, tn, obj, rn)` — the selected row is `rn = 1`. */
  private val SweepCtes: String =
    gridCte(" AND NOT isnan(score)") + """,
      |cd AS (SELECT source, sc,
      |    CAST(sum(np) OVER (PARTITION BY source ORDER BY sc DESC
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
      |    CAST(sum(n) OVER (PARTITION BY source ORDER BY sc DESC
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pp,
      |    CAST(sum(np) OVER (PARTITION BY source) AS BIGINT) AS npos,
      |    CAST(sum(n) OVER (PARTITION BY source) AS BIGINT) AS cn
      |  FROM ga),
      |mm AS (SELECT source, sc, tp, pp - tp AS fp, npos - tp AS fn,
      |    cn - pp - (npos - tp) AS tn,
      |    round(2.0 * tp / (2 * tp + (pp - tp) + (npos - tp)), 6) AS obj
      |  FROM cd),
      |sel AS (SELECT *, row_number() OVER (PARTITION BY source
      |    ORDER BY obj DESC, sc DESC) AS rn FROM mm)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_text_quality", ((s, d) =>
      table(s, d, "documents").select(
        col("doc_id") +: TextAnalysis.qualityFeatures(col("text")): _*)),
      Sql(s"""WITH t AS (SELECT doc_id, text, ${QueryParts.toksSql} toks FROM documents)
         |SELECT doc_id,
         |  CAST(length(text) AS INTEGER) AS n_chars_txt,
         |  CAST(len(toks) AS INTEGER) AS n_tokens,
         |  CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct,
         |  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
         |  CAST(len(list_filter(toks, t -> t IN ('the','a','and','of','to','in'))) AS DOUBLE) / len(toks) AS stop_ratio,
         |  CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) AS avg_token_len
         |FROM t""".stripMargin)),
    QuerySpec("q_quality_filter", ((s, d) =>
      table(s, d, "documents")
        .filter(TextAnalysis.qualityFilter(col("text"),
          minTokens = 20, maxTokens = 500, minTtr = 0.15,
          minAvgTokenLen = 2.0, maxAvgTokenLen = 8.0))
        .select("doc_id")),
      Sql(s"""WITH t AS (SELECT doc_id, ${QueryParts.toksSql} toks FROM documents)
         |SELECT doc_id FROM t
         |WHERE len(toks) BETWEEN 20 AND 500
         |  AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= 0.15
         |  AND CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) BETWEEN 2.0 AND 8.0""".stripMargin)),
    // --- stream-stream interval join, verified on the batch frame (the
    //     operator is source-agnostic; watermarks no-op in batch) ---
    QuerySpec("q_attribution", ((s, d) =>
      graft.streaming.Streaming.purchaseAttribution(
        graft.sources.Sources.events(s, d), window = "30 minutes")),
      Sql("""SELECT p.user_id, v.ts AS view_ts, p.ts AS purchase_ts, p.value
        |FROM (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT user_id, ts FROM events WHERE event_type = 'view') v
        |ON v.user_id = p.user_id AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE""".stripMargin)),
    // --- weighted training-mix interleave (rank/weight positions via
    //     the same distributed prefix sum — no global row_number) ---
    QuerySpec("q_mix", { (s, d) =>
      operators.Packing.weightedMix(
        Seq(
          ("docs", table(s, d, "documents"), 0.7),
          ("embs", table(s, d, "embeddings").withColumnRenamed("vec_id", "doc_id"), 0.3)),
        "doc_id")
    },
      Sql("""SELECT 'docs' AS source, doc_id AS rid,
        |  CAST(row_number() OVER (ORDER BY doc_id) AS DOUBLE) / 0.7 AS pos
        |FROM documents
        |UNION ALL
        |SELECT 'embs' AS source, vec_id AS rid,
        |  CAST(row_number() OVER (ORDER BY vec_id) AS DOUBLE) / 0.3 AS pos
        |FROM embeddings""".stripMargin)),
    // --- repetition/diversity metrics (gopher-style quality signals):
    //     distinct-unigram and distinct-trigram ratios per document ---
    QuerySpec("q_repetition", { (s, d) =>
      val ts = split(col("text"), " ")
      val tri = operators.Shingles.wordShinglesAll(col("text"), 3)
      table(s, d, "documents")
        .filter(size(ts) >= 3)
        .select(col("doc_id"),
          round(size(array_distinct(ts)).cast("double") / size(ts), 6)
            .as("uni_ratio"),
          round(size(array_distinct(tri)).cast("double") / size(tri), 6)
            .as("tri_ratio"))
    },
      Sql("""WITH toks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |tri AS (SELECT doc_id, ts,
        |  list_transform(generate_series(1, len(ts) - 2),
        |                 i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) tg
        |  FROM toks WHERE len(ts) >= 3)
        |SELECT doc_id,
        |  round(CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts), 6) AS uni_ratio,
        |  round(CAST(len(list_distinct(tg)) AS DOUBLE) / len(tg), 6) AS tri_ratio
        |FROM tri""".stripMargin)),
    // --- per-domain caps: keep the 3 longest docs per (source, lang)
    //     cell — the crawl-curation "no domain dominates the mix" cap,
    //     via the single-exchange GroupedTopK custom operator (partial
    //     top-k before the shuffle; a row_number window would shuffle
    //     every row). ---
    QuerySpec("q_domain_cap", { (s, d) =>
      plans.GroupedTopK.topKPerGroup(
        table(s, d, "documents"), Seq("source", "lang"),
        Seq(col("n_chars").desc, col("doc_id").asc), k = 3)
        .select("source", "lang", "doc_id", "n_chars")
    },
      Sql("""SELECT source, lang, doc_id, n_chars FROM (
        |  SELECT source, lang, doc_id, n_chars,
        |         row_number() OVER (PARTITION BY source, lang
        |                            ORDER BY n_chars DESC, doc_id) rn
        |  FROM documents)
        |WHERE rn <= 3""".stripMargin)),
    // --- deterministic stratified sample: ceil(10%) of every language,
    //     selected by md5 rank — reproducible across runs/engines (no
    //     RNG), proportional allocation exact per stratum in integer
    //     arithmetic. Served by the two-pass prefix-sum operator, NOT a
    //     per-stratum window (10 language strata would mean 10 hot
    //     reducers at 100 TB); the selected set is identical
    //     (spec-pinned), so the window-formulation oracle applies. ---
    QuerySpec("q_stratified", { (s, d) =>
      operators.Splits.stratifiedSampleExact(
        table(s, d, "documents"),
        stratumCol = "lang",
        rankCol = md5(col("doc_id").cast("string")),
        tieCol = "doc_id",
        fracNum = 1, fracDen = 10)
        .select(col("lang"), col("doc_id"))
    },
      Sql("""SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id,
        |         row_number() OVER (PARTITION BY lang
        |                            ORDER BY md5(doc_id::VARCHAR), doc_id) rn,
        |         count(*) OVER (PARTITION BY lang) n_lang
        |  FROM documents)
        |WHERE rn <= (n_lang + 9) // 10""".stripMargin)),
    // --- word-entropy quality score: per-doc Shannon entropy of the
    //     word distribution (gibberish / keyword-stuffing signal),
    //     computed entirely inside the row — map-only at 100 TB. ---
    QuerySpec("q_entropy", { (s, d) =>
      table(s, d, "documents").select(
        col("doc_id") +:
          operators.TextAnalysis.entropyFeatures(col("text")): _*)
    },
      Sql("""WITH w AS (SELECT doc_id, list_sort(string_split(text, ' ')) ws FROM documents),
        |s AS (SELECT doc_id, ws, len(ws) n,
        |        list_filter(generate_series(1, len(ws)), i -> i = 1 OR ws[i] != ws[i-1]) starts FROM w),
        |l AS (SELECT doc_id, n, starts,
        |        list_transform(generate_series(1, len(starts)),
        |          j -> (CASE WHEN j = len(starts) THEN n + 1 ELSE starts[j+1] END) - starts[j]) lens FROM s)
        |SELECT doc_id, n::BIGINT AS n_words, len(starts)::BIGINT AS n_unique,
        |       round(log2(n::DOUBLE) - list_reduce(list_prepend(0.0::DOUBLE, list_transform(lens, c -> c::DOUBLE * log2(c::DOUBLE))), (a, x) -> a + x) / n::DOUBLE + 0, 6) AS entropy
        |FROM l""".stripMargin)),
    // --- learned quality classifier, gated on holdout generalization:
    //     LR over hashed bag-of-tokens must agree with the weak label
    //     on ≥ 75% of held-out docs (majority baseline ~50%). Scores
    //     themselves are engine-specific (LBFGS float accumulation);
    //     the gate is the portable contract. ---
    QuerySpec("q_quality_model", { (s, d) =>
      val scored = operators.QualityModel.fitScore(
        table(s, d, "documents"), "doc_id", "text", weakLabel)
      val holdN = count(when(col("holdout"), 1))
      scored.agg(
        count(lit(1)).as("n_docs"),
        holdN.as("n_holdout"),
        ((count(when(col("holdout") &&
          col("predicted") === col("weak_label"), 1)).cast("double") /
          holdN) >= 0.75).as("agree_ok"))
    },
      Sql("""SELECT count(*) AS n_docs,
        |  count(*) FILTER (WHERE
        |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |      AS BIGINT) % 10000 AS INTEGER) % 4 = 0) AS n_holdout,
        |  TRUE AS agree_ok
        |FROM documents""".stripMargin)),
    // --- filter-chain attrition report: per-stage rows_in/rows_out for
    //     an ORDERED curation funnel, from ONE corpus scan (first
    //     failing stage per row -> <= k+1 partial-agg counts -> tiny
    //     broadcast join against the literal stage table). ---
    QuerySpec("q_funnel", { (s, d) =>
      operators.Curation.filterFunnel(table(s, d, "documents"), Seq(
        "min_len" -> (col("n_chars") >= 100),
        "lang" -> (col("lang") =!= "zh"),
        "min_toks" -> (operators.TextAnalysis.tokenCount(col("text")) >= 40)))
    },
      Sql("""WITH f AS (SELECT CASE
        |    WHEN NOT coalesce(n_chars >= 100, false) THEN 0
        |    WHEN NOT coalesce(lang <> 'zh', false) THEN 1
        |    WHEN NOT coalesce(len(regexp_extract_all(text, '\S+')) >= 40, false) THEN 2
        |    ELSE 3 END AS fail FROM documents),
        |a AS (SELECT fail, count(*) AS c FROM f GROUP BY fail),
        |t AS (SELECT count(*) AS total FROM f),
        |s AS (SELECT * FROM (VALUES (0, 'min_len'), (1, 'lang'), (2, 'min_toks'))
        |      v(stage_idx, stage))
        |SELECT s.stage_idx, s.stage,
        |  CAST(t.total - coalesce((SELECT sum(c) FROM a WHERE fail < s.stage_idx), 0) AS BIGINT) AS rows_in,
        |  CAST(t.total - coalesce((SELECT sum(c) FROM a WHERE fail <= s.stage_idx), 0) AS BIGINT) AS rows_out
        |FROM s, t""".stripMargin)),
    // --- quality-binned curriculum sampling: rank by n_chars (two-pass
    //     distributed prefix rank, never a single-task global window),
    //     quartile bins, md5-hash keep rates 25/50/75/100% — the
    //     deterministic curriculum-mix step. ---
    QuerySpec("q_curriculum", { (s, d) =>
      operators.Curation.curriculumSample(
        table(s, d, "documents").select("doc_id", "n_chars"),
        "doc_id", col("n_chars"), keepPerMille = Seq(250, 500, 750, 1000))
        .select("doc_id", "bin")
    },
      Sql("""WITH r AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS rk,
        |    count(*) OVER () AS n
        |  FROM documents),
        |b AS (SELECT doc_id, CAST((rk * 4) // n AS INTEGER) AS bin FROM r)
        |SELECT doc_id, bin FROM b
        |WHERE CAST(CAST(('0x' || substr(md5('cur:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 AS INTEGER)
        |  < (CASE bin WHEN 0 THEN 250 WHEN 1 THEN 500 WHEN 2 THEN 750 ELSE 1000 END) * 10""".stripMargin)),
    // --- token-budget selection: greedy highest-n_chars docs while the
    //     running token total fits 12k — "the best B tokens", exact
    //     budget accounting via the descending-order prefix sum. ---
    QuerySpec("q_budget_select", { (s, d) =>
      val docs = table(s, d, "documents").select(
        col("doc_id"), col("n_chars"),
        operators.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      operators.Curation.budgetSelect(
        docs, "doc_id", "n_tokens", col("n_chars"), budget = 12000L)
        .select("doc_id", "n_tokens", "cum_tokens")
    },
      Sql("""WITH c AS (SELECT doc_id, n_chars,
        |    len(regexp_extract_all(text, '\S+')) AS n_tokens FROM documents),
        |r AS (SELECT doc_id, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY n_chars DESC, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum_tokens
        |  FROM c)
        |SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
        |       CAST(cum_tokens AS BIGINT) AS cum_tokens
        |FROM r WHERE cum_tokens <= 12000""".stripMargin)),
    // --- snapshot diff: classify every id across two corpus snapshots
    //     as added/removed/changed/unchanged; both sides reduce to
    //     32-byte digests before the full outer join (text never
    //     shuffles — same contract as incremental dedup). Old snapshot
    //     lacks %7==0 docs (added), new lacks %5==3 (removed), %11==0
    //     text gains a ' v2' suffix (changed). ---
    QuerySpec("q_snapshot_diff", { (s, d) =>
      val docs = table(s, d, "documents")
      operators.Versioning.snapshotDiff(
        oldSnap = docs.filter(col("doc_id") % 7 =!= 0)
          .select("doc_id", "text"),
        newSnap = docs.filter(col("doc_id") % 5 =!= 3)
          .select(col("doc_id"),
            when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text")).as("text")),
        idCol = "doc_id", textCol = "text")
    },
      Sql("""WITH o AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
        |n AS (SELECT doc_id,
        |        CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END AS text
        |      FROM documents WHERE doc_id % 5 <> 3)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.text = n.text THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""".stripMargin)),
    // --- exact-count deterministic sample: the first 100 docs in
    //     seeded md5 order — TakeOrderedAndProject bounded heaps, never
    //     a global sort. ---
    QuerySpec("q_fixed_sample", { (s, d) =>
      operators.Curation.fixedSample(
        table(s, d, "documents").select("doc_id", "source"),
        "doc_id", n = 100, seed = "fs7")
    },
      Sql("""SELECT doc_id, source FROM documents
        |ORDER BY md5('fs7' || CAST(doc_id AS VARCHAR)), doc_id
        |LIMIT 100""".stripMargin)),
    // --- the cleaning pipeline's OWN gate attrition: which of the
    //     three quality-gate components (token band / TTR / avg token
    //     length, q_pipeline's exact parameters) drops what. ---
    QuerySpec("q_gate_funnel", { (s, d) =>
      operators.Pipeline.gateAttrition(table(s, d, "documents"), "text")
    },
      Sql("""WITH tk AS (SELECT regexp_extract_all(text, '\S+') AS toks FROM documents),
        |f AS (SELECT CASE
        |    WHEN NOT coalesce(len(toks) BETWEEN 20 AND 500, false) THEN 0
        |    WHEN NOT coalesce(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= 0.15, false) THEN 1
        |    WHEN NOT coalesce(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) BETWEEN 2.0 AND 8.0, false) THEN 2
        |    ELSE 3 END AS fail FROM tk),
        |a AS (SELECT fail, count(*) AS c FROM f GROUP BY fail),
        |t AS (SELECT count(*) AS total FROM f),
        |s AS (SELECT * FROM (VALUES (0, 'tok_band'), (1, 'ttr'), (2, 'avg_token_len'))
        |      v(stage_idx, stage))
        |SELECT s.stage_idx, s.stage,
        |  CAST(t.total - coalesce((SELECT sum(c) FROM a WHERE fail < s.stage_idx), 0) AS BIGINT) AS rows_in,
        |  CAST(t.total - coalesce((SELECT sum(c) FROM a WHERE fail <= s.stage_idx), 0) AS BIGINT) AS rows_out
        |FROM s, t""".stripMargin)),
    // --- deterministic weighted upsampling: en ×2.5, zh ×0.3, rest ×1
    //     — fractional copies hash-selected, map-only fan-out. ---
    QuerySpec("q_upsample", { (s, d) =>
      val w = when(col("lang") === "en", 2.5)
        .when(col("lang") === "zh", 0.3).otherwise(1.0)
      operators.Curation.upsampleByWeight(
        table(s, d, "documents").select("doc_id", "lang"), "doc_id", w)
        .select("doc_id", "copy")
    },
      Sql("""WITH w AS (SELECT doc_id,
        |    CASE WHEN lang = 'en' THEN 2.5 WHEN lang = 'zh' THEN 0.3
        |         ELSE 1.0 END AS wt,
        |    CAST(CAST(('0x' || substr(md5('up:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 AS INTEGER) AS bucket
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    CAST(floor(wt) + CASE WHEN bucket < (wt - floor(wt)) * 10000
        |      THEN 1 ELSE 0 END AS INTEGER) AS n_copies FROM w)
        |SELECT doc_id, CAST(copy AS INTEGER) AS copy
        |FROM c, LATERAL unnest(generate_series(1, n_copies)) AS u(copy)
        |WHERE n_copies > 0""".stripMargin)),
    // --- language confusion matrix: declared `lang` × detected
    //     language-ID — the label-quality audit (how much of the
    //     corpus's language metadata does the heuristic contradict?).
    //     One scan + one tiny partial-agg shuffle. ---
    QuerySpec("q_lang_confusion", { (s, d) =>
      table(s, d, "documents")
        .select(col("lang"),
          operators.TextAnalysis.languageId(col("text")).as("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(count(lit(1)).as("n_docs"))
    },
      Sql("""WITH t AS (SELECT doc_id, lang, regexp_extract_all(text, '\S+') toks FROM documents),
        |sc AS (SELECT doc_id, lang,
        |  len(list_filter(toks, x -> x IN ('the','and','of','a'))) en,
        |  len(list_filter(toks, x -> x IN ('le','la','et','les'))) fr,
        |  len(list_filter(toks, x -> x IN ('der','und','die','das'))) de,
        |  len(list_filter(toks, x -> x IN ('el','y','los','las'))) es
        |FROM t),
        |p AS (SELECT lang, CASE
        |  WHEN en = greatest(en, fr, de, es) AND greatest(en, fr, de, es) > 0 THEN 'en'
        |  WHEN fr = greatest(en, fr, de, es) AND greatest(en, fr, de, es) > 0 THEN 'fr'
        |  WHEN de = greatest(en, fr, de, es) AND greatest(en, fr, de, es) > 0 THEN 'de'
        |  WHEN es = greatest(en, fr, de, es) AND greatest(en, fr, de, es) > 0 THEN 'es'
        |  ELSE 'und' END AS lang_pred
        |FROM sc)
        |SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n_docs
        |FROM p GROUP BY 1, 2""".stripMargin)),
    // --- corpus data card: the one-scan overview a dataset release
    //     ships with (count-distinct pair is one Expand-based agg) ---
    QuerySpec("q_datacard", { (s, d) =>
      val nTok = operators.TextAnalysis.tokenCount(col("text"))
      table(s, d, "documents").agg(
        count(lit(1)).as("n_docs"),
        sum(nTok.cast("long")).as("n_tokens"),
        sum("n_chars").as("n_chars"),
        countDistinct("lang").as("n_langs"),
        countDistinct("source").as("n_sources"),
        round(avg(nTok), 4).as("avg_tokens"))
    },
      Sql("""SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |  round(avg(len(regexp_extract_all(text, '\S+'))), 4) AS avg_tokens
        |FROM documents""".stripMargin)),
    // --- DSIR-style importance weighting: per-doc avg log-likelihood
    //     ratio of an in-domain (lang='en') unigram LM vs the
    //     whole-corpus LM — importance-based data selection without a
    //     pretrained model; fully exact count arithmetic ---
    QuerySpec("q_dsir", { (s, d) =>
      val docs = table(s, d, "documents")
      operators.Curation.importanceWeights(
        docs, docs.filter(col("lang") === "en"), "doc_id", "text")
    },
      Sql(dsirOracle)),
    // --- per-source data card: the q_datacard overview broken out by
    //     provenance source (what each crawl contributes to the mix) ---
    QuerySpec("q_datacard_by_source", { (s, d) =>
      val nTok = operators.TextAnalysis.tokenCount(col("text"))
      table(s, d, "documents")
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(nTok.cast("long")).as("n_tokens"),
          sum("n_chars").as("n_chars"),
          countDistinct("lang").as("n_langs"),
          round(avg(nTok), 4).as("avg_tokens"))
    },
      Sql("""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  round(avg(len(regexp_extract_all(text, '\S+'))), 4) AS avg_tokens
        |FROM documents GROUP BY 1""".stripMargin)),
    // --- per-source vocabulary drift (Jensen-Shannon vs the corpus):
    //     the mixture-design "which source is unlike the rest" report ---
    QuerySpec("q_source_drift", ((s, d) =>
      operators.Curation.sourceDriftReport(table(s, d, "documents"), "source", "text")),
      // JS drift replay: identical arithmetic — per-term doubles are
      // divisions of exact counts, absent-word mass folded in as
      // 0.5*ln(2)*(1 - sum q), final sums rounded to 6.
      Sql("""WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) tok FROM documents),
        |sw AS (SELECT source, tok, count(*) csw FROM toks GROUP BY 1, 2),
        |st AS (SELECT source, sum(csw) ns, count(*) vs FROM sw GROUP BY 1),
        |wt AS (SELECT tok, sum(csw) cw FROM sw GROUP BY 1),
        |nt AS (SELECT sum(csw) n FROM sw),
        |j AS (SELECT sw.source,
        |    CAST(csw AS DOUBLE) / CAST(ns AS DOUBLE) AS p,
        |    CAST(cw AS DOUBLE) / CAST(n AS DOUBLE) AS q,
        |    ns, vs
        |  FROM sw JOIN wt USING (tok) JOIN st USING (source) CROSS JOIN nt)
        |SELECT source,
        |  CAST(max(ns) AS BIGINT) AS n_tokens,
        |  CAST(max(vs) AS BIGINT) AS n_words,
        |  round(sum(0.5 * (p * ln(2 * p / (p + q)) + q * ln(2 * q / (p + q))))
        |    + 0.5 * ln(2) * (1 - sum(q)), 6) AS js_vs_corpus
        |FROM j GROUP BY 1""".stripMargin)),
    // --- DSIR-weighted selection: importance weights learned from the
    //     target domain feed the A-Res draw — score -> sample in one
    //     composition (weight = exp of the ROUNDED avg llr, so both
    //     engines agree on the weight bit-for-bit) ---
    QuerySpec("q_dsir_sample", { (s, d) =>
      val dd = table(s, d, "documents")
      val weighted = operators.Curation
        .importanceWeights(dd, dd.filter(col("lang") === "en"), "doc_id", "text")
        .select(col("doc_id"), col("llr"))
      operators.Curation
        .weightedSampleByLogWeight(weighted, "doc_id", "llr", k = 100)
        .select("doc_id")
    },
      // DSIR weights replayed via the q_dsir oracle as a nested CTE, then
      // the identical Gumbel-form key ln(-ln(u)) - llr (weight exp(llr)
      // never materialized; llr is the ROUNDED oracle value both sides).
      Sql(s"""WITH base AS (${dsirOracle})
         |SELECT doc_id FROM (
         |  SELECT doc_id,
         |    ln(-ln((CAST(('0x' || substr(md5('ws' || CAST(doc_id AS VARCHAR)), 1, 13))
         |         AS BIGINT) + 1.0) / 4503599627370496.0))
         |      - llr AS key
         |  FROM base)
         |ORDER BY key, doc_id LIMIT 100""".stripMargin)),
    // --- deterministic weighted sample: 100 docs, inclusion odds
    //     proportional to n_chars, reproducible cross-engine ---
    QuerySpec("q_weighted_sample", ((s, d) =>
      operators.Curation.weightedSample(
        table(s, d, "documents"), "doc_id", "n_chars", k = 100)
        .select("doc_id", "source", "n_chars")),
      // A-Res key replay: identical md5-derived u and -ln(u)/w key;
      // selection only (the key never leaves the query).
      Sql("""SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |    -ln((CAST(('0x' || substr(md5('ws' || CAST(doc_id AS VARCHAR)), 1, 13))
        |         AS BIGINT) + 1.0) / 4503599627370496.0)
        |      / CAST(n_chars AS DOUBLE) AS key
        |  FROM documents WHERE n_chars > 0)
        |ORDER BY key, doc_id LIMIT 100""".stripMargin)),
    // --- Gopher-style n-gram repetition: character MASS of the top
    //     2-/3-gram and of all duplicated 5-grams — one sorted-runs
    //     fold per row, map-only at any corpus size ---
    QuerySpec("q_gopher_rep", { (s, d) =>
      val top2 = operators.TextAnalysis.gopherRepetition(col("text"), 2).head
      val top3 = operators.TextAnalysis.gopherRepetition(col("text"), 3).head
      val dup5 = operators.TextAnalysis.gopherRepetition(col("text"), 5)(1)
      table(s, d, "documents").select(col("doc_id"), top2, top3, dup5)
    },
      // Same gram text (space-joined), same integer masses (count·len),
      // same shared denominator; the top gram tie-breaks to the
      // lexicographically smallest among max counts in both engines.
      Sql(QueryParts.gopherRepOracle)),
    // --- the published Gopher gates funneled: per-gate attrition from
    //     ONE corpus scan (filterFunnel's fail-index trick) ---
    QuerySpec("q_gopher_funnel", ((s, d) =>
      operators.Curation.filterFunnel(
        table(s, d, "documents"),
        operators.TextAnalysis.gopherStages(col("text")))),
      // The published Gopher gates over those fractions, funneled with
      // the same fail-index arithmetic as q_gate_funnel.
      Sql(s"""WITH g AS (${QueryParts.gopherRepOracle}),
         |f AS (SELECT CASE
         |    WHEN NOT (top2_frac < 0.2) THEN 0
         |    WHEN NOT (top3_frac < 0.18) THEN 1
         |    WHEN NOT (dup5_frac < 0.15) THEN 2
         |    ELSE 3 END AS fail FROM g),
         |a AS (SELECT fail, count(*) AS c FROM f GROUP BY fail),
         |t AS (SELECT count(*) AS total FROM f),
         |s AS (SELECT * FROM (VALUES (0, 'top2_frac'), (1, 'top3_frac'),
         |      (2, 'dup5_frac')) v(stage_idx, stage))
         |SELECT s.stage_idx, s.stage,
         |  CAST(t.total - coalesce((SELECT sum(c) FROM a
         |    WHERE fail < s.stage_idx), 0) AS BIGINT) AS rows_in,
         |  CAST(t.total - coalesce((SELECT sum(c) FROM a
         |    WHERE fail <= s.stage_idx), 0) AS BIGINT) AS rows_out
         |FROM s, t""".stripMargin)),
    // --- temperature-based source mixing: inclusion rate ∝ n_s^(α−1),
    //     hash-threshold draw — selection is map-only ---
    QuerySpec("q_temperature_mix", ((s, d) =>
      operators.Curation.temperatureMix(
        table(s, d, "documents"), "doc_id", "source", alpha = 0.5, total = 300L)
        .select("doc_id", "source")),
      // Rate replay: Σ n^α in SOURCE-SORTED order (ordered list sum ↔ the
      // driver's sorted fold), rate rounded to 6 (libm pow is not
      // correctly-rounded), same md5-uniform as q_weighted_sample.
      Sql("""WITH cnt AS (SELECT source, count(*) n FROM documents GROUP BY 1),
        |tot AS (SELECT list_sum(list(pow(CAST(n AS DOUBLE), 0.5)
        |          ORDER BY source)) sp FROM cnt),
        |rate AS (SELECT source,
        |    round(least(1.0, 300.0 * pow(CAST(n AS DOUBLE), 0.5) / sp
        |      / CAST(n AS DOUBLE)), 6) r
        |  FROM cnt, tot)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN rate USING (source)
        |WHERE (CAST(('0x' || substr(md5('mx' || CAST(doc_id AS VARCHAR)), 1, 13))
        |       AS BIGINT) + 1.0) / 4503599627370496.0 < r""".stripMargin)),
    // --- wordlist policy screen: per-category token-hit counts + flag
    //     (category lists are caller policy; these exercise the
    //     mechanism over the corpus vocabulary) ---
    QuerySpec("q_policy_screen", ((s, d) =>
      operators.Scrub.policyScreen(
        table(s, d, "documents"), "doc_id", "text",
        Seq("perf" -> Seq("slow", "fast"), "infra" -> Seq("spark", "table")))),
      // Token-equality semantics: lowercase whitespace tokens, exact list
      // membership, counts as BIGINT, flag = any category hit.
      Sql("""WITH tk AS (SELECT doc_id,
        |    string_split_regex(lower(text), '\s+') ts FROM documents)
        |SELECT doc_id,
        |  CAST(len(list_filter(ts, x -> x IN ('slow', 'fast'))) AS BIGINT)
        |    AS n_perf,
        |  CAST(len(list_filter(ts, x -> x IN ('spark', 'table'))) AS BIGINT)
        |    AS n_infra,
        |  (len(list_filter(ts, x -> x IN ('slow', 'fast'))) > 0 OR
        |   len(list_filter(ts, x -> x IN ('spark', 'table'))) > 0) AS flagged
        |FROM tk""".stripMargin)),
    // --- RANK-WEIGHTED CURATION: the data-selection side of the link
    //     graph (q_rank_frontier is the crawl side) — documents pass
    //     the Gopher repetition gates, then the top 20 per source by
    //     PageRank are selected (the RefinedWeb-style "quality prior
    //     × authority prior" cut). Gate folds row-locally; one join
    //     rank↔docs; the cut is the bounded GroupedTopK heaps. ---
    QuerySpec("q_rank_curation", { (s, d) =>
      val ds = table(s, d, "documents")
      val ranks = operators.LinkGraph.pageRank(
        QueryParts.linkEdges(s, d), "src", "dst", iterations = 2)
      val top2 = operators.TextAnalysis.gopherRepetition(col("text"), 2).head
      val top3 = operators.TextAnalysis.gopherRepetition(col("text"), 3).head
      val dup5 = operators.TextAnalysis.gopherRepetition(col("text"), 5)(1)
      val gated = ds
        .filter(top2 < 0.20 && top3 < 0.18 && dup5 < 0.15)
        .select(col("doc_id"), col("source"))
      val joined = gated.join(
        ranks.withColumnRenamed("id", "doc_id"), "doc_id")
      val order = Seq(col("rank_fp").desc, col("doc_id").asc)
      graft.plans.GroupedTopK
        .topKPerGroup(joined, Seq("source"), order, 20)
        .withColumn("rank", row_number()
          .over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("source")).orderBy(order: _*))
          .cast("long"))
    },
      Sql((s"WITH ${QueryParts.pageRankCtes(2)},\n" +
        s"g AS (${QueryParts.gopherRepOracle}),\n" +
        """gated AS (SELECT d.doc_id, d.source FROM documents d
          |  JOIN g ON d.doc_id = g.doc_id
          |  WHERE g.top2_frac < 0.2 AND g.top3_frac < 0.18
          |    AND g.dup5_frac < 0.15),
          |j AS (SELECT gated.source, gated.doc_id, r2.rank_fp
          |      FROM gated JOIN r2 ON gated.doc_id = r2.id),
          |rk AS (SELECT doc_id, source, rank_fp,
          |    CAST(row_number() OVER (PARTITION BY source
          |      ORDER BY rank_fp DESC, doc_id) AS BIGINT) AS rank
          |  FROM j)
          |SELECT doc_id, source, rank_fp, rank FROM rk
          |WHERE rank <= 20""".stripMargin))),
    // --- calibration report: stopword-ratio score (deterministic, so
    //     the bins replay exactly — an LR probability would be
    //     engine-specific) against the lang='en' label; ten
    //     reliability bins with fixed-point mean scores. ---
    QuerySpec("q_calibration", ((s, d) =>
      operators.QualityModel.calibrationReport(
        calibrationScored(s, d), "score", "label")),
      Sql((calibrationBinsCte +
        """
          |SELECT CAST(bin AS INTEGER) AS bin, n, mean_score, label_rate,
          |  gap FROM rep""".stripMargin))),
    // --- its scalar: expected calibration error off the ROUNDED bin
    //     table — integer gap-mass fold, bit-exact at any merge
    //     order. ---
    QuerySpec("q_calibration_ece", ((s, d) =>
      operators.QualityModel.expectedCalibrationError(
        operators.QualityModel.calibrationReport(
          calibrationScored(s, d), "score", "label"))),
      Sql((calibrationBinsCte +
        """
          |SELECT CAST(count(*) AS BIGINT) AS n_bins,
          |  CAST(sum(n) AS BIGINT) AS n_rows,
          |  CAST((2 * sum(CAST(round(abs(gap) * 1e6) AS BIGINT) * n)
          |      + sum(n)) // (2 * sum(n)) AS DOUBLE) / 1e6 AS ece
          |FROM rep""".stripMargin))),
    // --- the ranking companion: Mann-Whitney ROC-AUC of the same
    //     score/label pair — distinct-score collapse first, so the
    //     only ordered window runs over score cardinality. Since
    //     round 15 the operator quantizes INSIDE (scale = 6 default,
    //     hard-bounding the window at 10^6 + 1 rows), so the raw
    //     continuous score goes straight in — the round-14 "round
    //     upstream" precondition no longer exists. ---
    QuerySpec("q_auc", ((s, d) =>
      operators.QualityModel.rocAuc(
        calibrationScored(s, d), "score", "label")),
      // Mann-Whitney replay: distinct-score groups, inclusive running
      // count, tie-block average ranks, rank-sum fold — the same
      // halves-exact double arithmetic as the operator.
      Sql(// lang IS NOT NULL: rocAuc drops null labels (they must not
      // occupy rank positions) — mirror it so the gate stays exact on
      // a corpus with null-lang rows.
      s"""WITH t AS (SELECT lang, regexp_extract_all(text, '\\S+') toks
        |           FROM documents WHERE lang IS NOT NULL),
        |s AS (SELECT round(${QueryParts.StopScoreSql}, 6)
        |      AS score,
        |    CAST((lang = 'en') AS INT) AS pos FROM t),
        |g AS (SELECT score, count(*) AS n, CAST(sum(pos) AS BIGINT) AS np
        |      FROM s GROUP BY score),
        |r AS (SELECT np, n,
        |    CAST(sum(n) OVER (ORDER BY score
        |      ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |      - (CAST(n AS DOUBLE) - 1) / 2 AS avg_rank
        |  FROM g),
        |a AS (SELECT CAST(sum(np) AS BIGINT) AS npos,
        |    CAST(sum(n - np) AS BIGINT) AS nneg,
        |    sum(CAST(np AS DOUBLE) * avg_rank) AS rpos
        |  FROM r)
        |SELECT npos AS n_pos, nneg AS n_neg,
        |  round((rpos - CAST(npos AS DOUBLE) * (npos + 1) / 2)
        |    / (CAST(npos AS DOUBLE) * nneg), 6) AS auc
        |FROM a""".stripMargin)),
    // --- Hamilton apportionment: a 1e9-token budget split across the
    //     corpus sources ∝ their character mass — integer allocations
    //     summing to EXACTLY the budget, leftover seats by largest
    //     remainder (remainders ARE the W-scaled fractional parts, so
    //     no double decides a seat). ---
    QuerySpec("q_apportion", ((s, d) =>
      operators.Curation.apportionBudget(
        table(s, d, "documents").groupBy(col("source"))
          .agg(sum(col("n_chars")).as("w")),
        "source", "w", budget = 1000000000L)),
      // Pure integer replay: base seats by div, leftover seats to the
      // largest (budget*w) mod W remainders, ties by key.
      Sql(// The engine (Curation.apportionBudget) drops null/zero-weight
      // keys before seating; mirror that filter here so a source whose
      // summed mass is ever 0 or null cannot open an engine-vs-oracle
      // row-count divergence (round-15 ADVICE).
      ("""WITH k AS (SELECT source AS key,
        |    CAST(sum(n_chars) AS BIGINT) AS weight
        |  FROM documents GROUP BY source
        |  HAVING sum(n_chars) IS NOT NULL AND sum(n_chars) > 0),
        |""".stripMargin + QueryParts.hamiltonSql("k", 1000000000L)))),
    // --- the filter the score becomes: confusion counts + rates at
    //     threshold 0.5 over the same score/label pair — null rates
    //     where undefined, never a silent zero. ---
    QuerySpec("q_confusion", ((s, d) =>
      operators.QualityModel.thresholdReport(
        calibrationScored(s, d), "score", "label", threshold = 0.5)),
      Sql(s"""WITH t AS (SELECT lang, regexp_extract_all(text, '\\S+') toks
        |           FROM documents),
        |s AS (SELECT ${QueryParts.StopScoreSql}
        |      AS score,
        |    (lang = 'en') AS label FROM t),
        |a AS (SELECT
        |    count(*) FILTER (WHERE score >= 0.5 AND label) AS tp,
        |    count(*) FILTER (WHERE score >= 0.5 AND NOT label) AS fp,
        |    count(*) FILTER (WHERE score < 0.5 AND label) AS fn,
        |    count(*) FILTER (WHERE score < 0.5 AND NOT label) AS tn
        |  FROM s)
        |SELECT tp, fp, fn, tn,
        |  CASE WHEN tp + fp > 0
        |    THEN round(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS precision,
        |  CASE WHEN tp + fn > 0
        |    THEN round(CAST(tp AS DOUBLE) / (tp + fn), 6) END AS recall,
        |  CASE WHEN 2 * tp + fp + fn > 0
        |    THEN round(CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn), 6)
        |    END AS f1
        |FROM a""".stripMargin)),
    // --- score-distribution drift: PSI between the even-id half
    //     scored at the baseline scaling (/0.12) and the odd-id half
    //     scored HOTTER (/0.10) — genuine distribution shift, per-bin
    //     terms say where it lives; Jeffreys +0.5 smoothing keeps
    //     empty bins defined. ---
    QuerySpec("q_psi", { (s, d) =>
      val base = scaledScore(s, d, 0.12).filter(col("__even"))
      val cur = scaledScore(s, d, 0.10).filter(!col("__even"))
      operators.QualityModel.populationStability(base, cur, "score")
    },
      // Same tokenize/score replay at the two scale divisors, then the
      // smoothed PSI fold — every quotient computed in DOUBLE.
      Sql(s"""WITH t AS (SELECT doc_id, regexp_extract_all(text, '\\S+') toks
        |           FROM documents),
        |r AS (SELECT doc_id,
        |    ${QueryParts.StopRatioSql} AS ratio FROM t),
        |sb AS (SELECT least(ratio / CAST(0.12 AS DOUBLE),
        |         CAST(1 AS DOUBLE)) AS score
        |       FROM r WHERE doc_id % 2 = 0),
        |sc AS (SELECT least(ratio / CAST(0.10 AS DOUBLE),
        |         CAST(1 AS DOUBLE)) AS score
        |       FROM r WHERE doc_id % 2 <> 0),
        |bb AS (SELECT greatest(least(CAST(floor(score * 10) AS INT), 9), 0)
        |         AS bin, count(*) AS n_base FROM sb GROUP BY 1),
        |bc AS (SELECT greatest(least(CAST(floor(score * 10) AS INT), 9), 0)
        |         AS bin, count(*) AS n_cur FROM sc GROUP BY 1),
        |ab AS (SELECT CAST(i AS INT) AS bin
        |       FROM unnest(generate_series(0, 9)) u(i)),
        |j AS (SELECT ab.bin,
        |    CAST(coalesce(n_base, 0) AS BIGINT) AS n_base,
        |    CAST(coalesce(n_cur, 0) AS BIGINT) AS n_cur
        |  FROM ab LEFT JOIN bb USING (bin) LEFT JOIN bc USING (bin)),
        |tt AS (SELECT CAST(sum(n_base) AS DOUBLE) AS tb,
        |    CAST(sum(n_cur) AS DOUBLE) AS tc FROM j)
        |SELECT bin, n_base, n_cur,
        |  round((CAST(n_base AS DOUBLE) + 0.5) / (tb + 5.0), 6) AS p_base,
        |  round((CAST(n_cur AS DOUBLE) + 0.5) / (tc + 5.0), 6) AS p_cur,
        |  round(((CAST(n_cur AS DOUBLE) + 0.5) / (tc + 5.0)
        |      - (CAST(n_base AS DOUBLE) + 0.5) / (tb + 5.0))
        |    * ln(((CAST(n_cur AS DOUBLE) + 0.5) / (tc + 5.0))
        |      / ((CAST(n_base AS DOUBLE) + 0.5) / (tb + 5.0))), 6) AS psi
        |FROM j, tt""".stripMargin)),
    // --- isotonic recalibration mapping: PAV over the stopword-ratio
    //     scorer's reliability bins via the min-max identity —
    //     monotone calibrated probabilities from integer bin masses,
    //     no driver-side pooling loop. ---
    QuerySpec("q_recalibrate", ((s, d) =>
      operators.QualityModel.recalibrate(
        calibrationScored(s, d), "score", "label")),
      // Independent replay of the min-max isotonic identity: the same
      // integer bin masses and IEEE segment-mean divisions, min over
      // ranges ending at the bin, max over ranges starting at it.
      Sql((calibrationBinsCte + isotonicCtes +
        """
          |SELECT CAST(bin AS INTEGER) AS bin, n,
          |  round(CAST(np AS DOUBLE) / n, 6) AS label_rate,
          |  round(cal, 6) AS calibrated
          |FROM fit""".stripMargin))),
    // --- the closed recalibration loop: ECE of the raw scorer vs ECE
    //     after the broadcast isotonic remap — the number that proves
    //     the fix fixes (spec-pinned ece_after <= ece_before; here
    //     both sides are exact-gated). ---
    QuerySpec("q_recalibrate_ece", { (s, d) =>
      val scored = calibrationScored(s, d)
      val before = operators.QualityModel.expectedCalibrationError(
        operators.QualityModel.calibrationReport(scored, "score", "label"))
        .select(col("ece").as("ece_before"))
      val mapping = operators.QualityModel.recalibrate(
        scored, "score", "label")
      val applied = operators.QualityModel.applyCalibration(
        scored, "score", mapping)
      val after = operators.QualityModel.expectedCalibrationError(
        operators.QualityModel.calibrationReport(
          applied, "calibrated_score", "label"))
        .select(col("ece").as("ece_after"))
      before.crossJoin(broadcast(after))
    },
      // Before: the q_calibration_ece fold. After: scores remapped
      // through the ROUNDED isotonic values (unseen bins keep the raw
      // score — none here, replayed anyway), then the full reliability
      // report re-runs on the calibrated scores.
      Sql((calibrationBinsCte + isotonicCtes +
        """,
          |eb AS (SELECT CAST((2 * sum(CAST(round(abs(gap) * 1e6) AS BIGINT)
          |      * n) + sum(n)) // (2 * sum(n)) AS DOUBLE) / 1e6
          |      AS ece_before
          |  FROM rep),
          |ap AS (SELECT coalesce(round(fit.cal, 6), s.score) AS cs,
          |    s.label AS label
          |  FROM s LEFT JOIN fit
          |    ON fit.bin = greatest(least(CAST(floor(s.score * 10) AS INT),
          |      9), 0)),
          |b2 AS (SELECT greatest(least(CAST(floor(cs * 10) AS INT), 9), 0)
          |      AS bin,
          |    CAST(round(cs * 1e6) AS BIGINT) AS micros,
          |    CAST(label AS INT) AS pos FROM ap),
          |rep2 AS (SELECT bin, count(*) AS n,
          |    CAST(CASE WHEN sum(pos) * 1000000 - sum(micros) >= 0
          |      THEN (2 * (sum(pos) * 1000000 - sum(micros)) + count(*))
          |        // (2 * count(*))
          |      ELSE -((2 * (sum(micros) - sum(pos) * 1000000) + count(*))
          |        // (2 * count(*))) END AS DOUBLE) / 1e6 AS gap
          |  FROM b2 GROUP BY bin),
          |ea AS (SELECT CAST((2 * sum(CAST(round(abs(gap) * 1e6) AS BIGINT)
          |      * n) + sum(n)) // (2 * sum(n)) AS DOUBLE) / 1e6
          |      AS ece_after
          |  FROM rep2)
          |SELECT eb.ece_before, ea.ece_after FROM eb, ea""".stripMargin))),
    // --- the deployment gate: AUC + ECE + PSI-vs-previous-release
    //     against their bounds, folded to one go/no-go row — this
    //     scorer's honest verdict is deploy = false (ECE 0.207 over
    //     the 0.1 bound; ranking and drift pass). ---
    QuerySpec("q_scorer_gate", { (s, d) =>
      val scored = calibrationScored(s, d)
      val prev = QueryParts.scoreLabel(
        table(s, d, "documents").filter(col("doc_id") % 2 === 0))
      operators.QualityModel.scorerGate(scored, "score", "label", prev,
        minAuc = 0.5, maxEce = 0.1, maxPsi = 0.25)
    },
      // The three gate components replayed — Mann-Whitney AUC over the
      // internally-quantized score, the integer gap-mass ECE, the
      // smoothed per-bin PSI micro-fold (cur side UNFILTERED by lang:
      // populationStability is label-free) — then the bound compares.
      Sql((calibrationBinsCte + s""",
        |ec AS (SELECT CAST((2 * sum(CAST(round(abs(gap) * 1e6) AS BIGINT)
        |      * n) + sum(n)) // (2 * sum(n)) AS DOUBLE) / 1e6 AS ece
        |  FROM rep),
        |ga AS (SELECT round(score, 6) AS sc, count(*) AS n,
        |    CAST(sum(CAST(label AS INT)) AS BIGINT) AS np
        |  FROM s GROUP BY 1),
        |ra AS (SELECT np, n,
        |    CAST(sum(n) OVER (ORDER BY sc ROWS UNBOUNDED PRECEDING)
        |      AS DOUBLE) - (CAST(n AS DOUBLE) - 1) / 2 AS avg_rank
        |  FROM ga),
        |aa AS (SELECT CAST(sum(np) AS BIGINT) AS npos,
        |    CAST(sum(n - np) AS BIGINT) AS nneg,
        |    sum(CAST(np AS DOUBLE) * avg_rank) AS rpos
        |  FROM ra),
        |au AS (SELECT CASE WHEN npos > 0 AND nneg > 0
        |    THEN round((rpos - CAST(npos AS DOUBLE) * (npos + 1) / 2)
        |      / (CAST(npos AS DOUBLE) * nneg), 6) END AS auc FROM aa),
        |ta AS (SELECT doc_id, regexp_extract_all(text, '\\S+') toks
        |       FROM documents),
        |sa AS (SELECT doc_id, ${QueryParts.StopScoreSql}
        |      AS score FROM ta),
        |pb AS (SELECT greatest(least(CAST(floor(score * 10) AS INT), 9), 0)
        |         AS bin, count(*) AS n_base
        |       FROM sa WHERE doc_id % 2 = 0 GROUP BY 1),
        |pc AS (SELECT greatest(least(CAST(floor(score * 10) AS INT), 9), 0)
        |         AS bin, count(*) AS n_cur FROM sa GROUP BY 1),
        |ab2 AS (SELECT CAST(i AS INT) AS bin
        |        FROM unnest(generate_series(0, 9)) u(i)),
        |pj AS (SELECT ab2.bin,
        |    CAST(coalesce(n_base, 0) AS BIGINT) AS n_base,
        |    CAST(coalesce(n_cur, 0) AS BIGINT) AS n_cur
        |  FROM ab2 LEFT JOIN pb USING (bin) LEFT JOIN pc USING (bin)),
        |ptt AS (SELECT CAST(sum(n_base) AS DOUBLE) AS tb,
        |    CAST(sum(n_cur) AS DOUBLE) AS tc FROM pj),
        |pp AS (SELECT round(((CAST(n_cur AS DOUBLE) + 0.5) / (tc + 5.0)
        |      - (CAST(n_base AS DOUBLE) + 0.5) / (tb + 5.0))
        |    * ln(((CAST(n_cur AS DOUBLE) + 0.5) / (tc + 5.0))
        |      / ((CAST(n_base AS DOUBLE) + 0.5) / (tb + 5.0))), 6) AS psi
        |  FROM pj, ptt),
        |px AS (SELECT round(CAST(sum(CAST(round(psi * 1e6) AS BIGINT))
        |      AS DOUBLE) / 1e6, 6) AS psi_total FROM pp)
        |SELECT au.auc, ec.ece, px.psi_total,
        |  coalesce(au.auc >= CAST(0.5 AS DOUBLE), false) AS auc_ok,
        |  coalesce(ec.ece <= CAST(0.1 AS DOUBLE), false) AS ece_ok,
        |  coalesce(px.psi_total <= CAST(0.25 AS DOUBLE), false) AS psi_ok,
        |  (coalesce(au.auc >= CAST(0.5 AS DOUBLE), false)
        |    AND coalesce(ec.ece <= CAST(0.1 AS DOUBLE), false)
        |    AND coalesce(px.psi_total <= CAST(0.25 AS DOUBLE), false))
        |    AS deploy
        |FROM au, ec, px""".stripMargin))),
    // --- PER-SOURCE isotonic recalibration: one independent fit per
    //     corpus source (a scorer is rarely uniformly miscalibrated —
    //     a global remap can over-correct one source while leaving
    //     another over-confident); every stage of the min-max identity
    //     carries the key, so the fit distributes ON source. ---
    QuerySpec("q_recalibrate_by", ((s, d) =>
      operators.QualityModel.recalibrateBy(
        QueryParts.scoreLabel(table(s, d, "documents"), keep = Seq("source")),
        "source", "score", "label")),
      // The keyed min-max identity replayed with source carried through
      // every CTE — per-key cumulative sums, per-key segment means,
      // per-key min/max folds.
      // `source IS NOT NULL` mirrors the engine's keyed null drop
      // (isotonicFit excludes null-key rows by contract) even though the
      // fixture has no null sources — the lang IS NOT NULL discipline.
      Sql((s"""WITH t AS (SELECT source, lang, regexp_extract_all(text, '\\S+') toks
        |           FROM documents
        |           WHERE lang IS NOT NULL AND source IS NOT NULL),
        |s AS (SELECT source, ${QueryParts.StopScoreSql}
        |      AS score,
        |    (lang = 'en') AS label FROM t),
        |b AS (SELECT source,
        |    greatest(least(CAST(floor(score * 10) AS INT), 9), 0) AS bin,
        |    CAST(label AS INT) AS pos FROM s
        |  WHERE score IS NOT NULL),
        |g AS (SELECT source, bin, count(*) AS n,
        |    CAST(sum(pos) AS BIGINT) AS np
        |  FROM b GROUP BY source, bin),
        |""".stripMargin + keyedPavCtes + """
        |SELECT source, CAST(bin AS INTEGER) AS bin, n,
        |  round(CAST(np AS DOUBLE) / n, 6) AS label_rate,
        |  round(cal, 6) AS calibrated
        |FROM fit""".stripMargin))),
    // --- keyed reliability table: one (source, bin) calibration grid
    //     per corpus source — same bin clip / micros mean / single-step
    //     gap rounding as q_calibration, the report the keyed ECE and
    //     gate fold from. ---
    QuerySpec("q_calibration_by", ((s, d) =>
      operators.QualityModel.calibrationReportBy(
        scoredSrc(s, d), "source", "score", "label")),
      // The keyed reliability grid replayed — q_calibration's bin CTE
      // with source carried, null label/score/source rows dropped.
      Sql((ScoredCtes + """,
        |eb AS (SELECT source,
        |    greatest(least(CAST(floor(score * 10) AS INT), 9), 0) AS bin,
        |    CAST(round(score * 1e6) AS BIGINT) AS micros,
        |    CAST(label AS INT) AS pos
        |  FROM s WHERE score IS NOT NULL AND label IS NOT NULL
        |    AND source IS NOT NULL)
        |SELECT source, CAST(bin AS INTEGER) AS bin, count(*) AS n,
        |  CAST((2 * sum(micros) + count(*)) // (2 * count(*)) AS DOUBLE)
        |    / 1e6 AS mean_score,
        |  CAST((2 * sum(pos) * 1000000 + count(*)) // (2 * count(*))
        |    AS DOUBLE) / 1e6 AS label_rate,
        |  CAST(CASE WHEN sum(pos) * 1000000 - sum(micros) >= 0
        |    THEN (2 * (sum(pos) * 1000000 - sum(micros)) + count(*))
        |      // (2 * count(*))
        |    ELSE -((2 * (sum(micros) - sum(pos) * 1000000) + count(*))
        |      // (2 * count(*))) END AS DOUBLE) / 1e6 AS gap
        |FROM eb GROUP BY source, bin""".stripMargin))),
    // --- keyed ranking quality: one Mann-Whitney AUC per corpus
    //     source — 20 independent verdicts where q_auc pooled one;
    //     the ordered window partitions ON the key, so no source's
    //     ranks ever mix with another's. ---
    QuerySpec("q_auc_by", ((s, d) =>
      operators.QualityModel.rocAucBy(
        scoredSrc(s, d), "source", "score", "label")),
      // Per-source Mann-Whitney replay; a single-class source yields a
      // null auc exactly as the engine's when() does.
      Sql((ScoredCtes + ",\n" + AucByCtes + """
        |SELECT source, npos AS n_pos, nneg AS n_neg,
        |  CASE WHEN npos > 0 AND nneg > 0
        |    THEN round((rpos - CAST(npos AS DOUBLE) * (npos + 1) / 2)
        |      / (CAST(npos AS DOUBLE) * nneg), 6) END AS auc
        |FROM aa""".stripMargin))),
    // --- keyed score drift: per-source PSI of the full release
    //     candidate vs the even-id baseline half — offsetting
    //     per-source shifts cancel in the pooled q_psi, this is where
    //     a single source's walked-off distribution surfaces. Bin grid
    //     = every source seen on either side x all 10 bins. ---
    QuerySpec("q_psi_by", ((s, d) =>
      operators.QualityModel.populationStabilityBy(
        prevSrc(s, d), scoredSrc(s, d), "source", "score")),
      // Per-source smoothed per-bin PSI — every quotient in DOUBLE, the
      // psi column from the UNROUNDED probabilities like the engine.
      Sql((ScoredCtes + ",\n" + PsiByGrid + """
        |SELECT pj.source, pj.bin, pj.n_base, pj.n_cur,
        |  round((CAST(n_base AS DOUBLE) + 0.5) / (tb + 5.0), 6) AS p_base,
        |  round((CAST(n_cur AS DOUBLE) + 0.5) / (tc + 5.0), 6) AS p_cur,
        |  round(((CAST(n_cur AS DOUBLE) + 0.5) / (tc + 5.0)
        |      - (CAST(n_base AS DOUBLE) + 0.5) / (tb + 5.0))
        |    * ln(((CAST(n_cur AS DOUBLE) + 0.5) / (tc + 5.0))
        |      / ((CAST(n_base AS DOUBLE) + 0.5) / (tb + 5.0))), 6) AS psi
        |FROM pj JOIN ptt ON pj.source = ptt.source""".stripMargin))),
    // --- keyed confusion at threshold 0.5: one tp/fp/fn/tn +
    //     precision/recall/f1 row per source — the filter the score
    //     becomes, per source (a pooled threshold can be badly wrong
    //     for one source); rates null where undefined. ---
    QuerySpec("q_confusion_by", ((s, d) =>
      operators.QualityModel.thresholdReportBy(
        scoredSrc(s, d), "source", "score", "label", threshold = 0.5)),
      // Per-source confusion replay: score/key null rows dropped before
      // grouping (a source with only null scores emits no row, like the
      // engine); null-label rows count in no cell via the FILTER
      // conditions, the engine's when() behavior.
      Sql((ScoredCtes + """
        |SELECT source,
        |  count(*) FILTER (WHERE score >= 0.5 AND label) AS tp,
        |  count(*) FILTER (WHERE score >= 0.5 AND NOT label) AS fp,
        |  count(*) FILTER (WHERE score < 0.5 AND label) AS fn,
        |  count(*) FILTER (WHERE score < 0.5 AND NOT label) AS tn,
        |  CASE WHEN count(*) FILTER (WHERE score >= 0.5 AND label)
        |      + count(*) FILTER (WHERE score >= 0.5 AND NOT label) > 0
        |    THEN round(CAST(count(*) FILTER (WHERE score >= 0.5 AND label)
        |        AS DOUBLE)
        |      / (count(*) FILTER (WHERE score >= 0.5 AND label)
        |        + count(*) FILTER (WHERE score >= 0.5 AND NOT label)), 6)
        |    END AS precision,
        |  CASE WHEN count(*) FILTER (WHERE score >= 0.5 AND label)
        |      + count(*) FILTER (WHERE score < 0.5 AND label) > 0
        |    THEN round(CAST(count(*) FILTER (WHERE score >= 0.5 AND label)
        |        AS DOUBLE)
        |      / (count(*) FILTER (WHERE score >= 0.5 AND label)
        |        + count(*) FILTER (WHERE score < 0.5 AND label)), 6)
        |    END AS recall,
        |  CASE WHEN 2 * count(*) FILTER (WHERE score >= 0.5 AND label)
        |      + count(*) FILTER (WHERE score >= 0.5 AND NOT label)
        |      + count(*) FILTER (WHERE score < 0.5 AND label) > 0
        |    THEN round(CAST(2 * count(*) FILTER (WHERE score >= 0.5
        |          AND label) AS DOUBLE)
        |      / (2 * count(*) FILTER (WHERE score >= 0.5 AND label)
        |        + count(*) FILTER (WHERE score >= 0.5 AND NOT label)
        |        + count(*) FILTER (WHERE score < 0.5 AND label)), 6)
        |    END AS f1
        |FROM s WHERE score IS NOT NULL AND source IS NOT NULL
        |GROUP BY source""".stripMargin))),
    // --- the KEYED recalibration loop closed: per-source ECE of the
    //     raw scorer vs after the per-source isotonic remap — the
    //     number that proves the keyed fix fixes PER SOURCE (a global
    //     remap can over-correct one source while leaving another
    //     over-confident; this row set shows each source's before and
    //     after). ---
    QuerySpec("q_recalibrate_ece_by", { (s, d) =>
      // Lazily pinned: three consumers below (before-report, isotonic
      // fit, the applied after-report) would each re-run the scoring.
      val scored = operators.Materialize.checkpoint(
        scoredSrc(s, d), eager = false)
      val before = operators.QualityModel.expectedCalibrationErrorBy(
        operators.QualityModel.calibrationReportBy(
          scored, "source", "score", "label"), "source")
        .select(col("source"), col("ece").as("ece_before"))
      val mapping = operators.QualityModel.recalibrateBy(
        scored, "source", "score", "label")
      val applied = operators.QualityModel.applyCalibrationBy(
        scored, "source", "score", mapping)
      val after = operators.QualityModel.expectedCalibrationErrorBy(
        operators.QualityModel.calibrationReportBy(
          applied, "source", "calibrated_score", "label"), "source")
        .select(col("source"), col("ece").as("ece_after"))
      before.join(after, Seq("source"))
    },
      // The keyed recalibration loop replayed end to end: per-source
      // bin masses WITH score micros (null scores dropped like the
      // engine's report/fit filters), the before-ECE fold, the keyed
      // min-max isotonic identity (keyedPavCtes — the ONE
      // oracle-side copy), the (source, bin) remap with unseen cells
      // keeping the raw score, re-binning, and the after-ECE fold (both
      // folds via keyedEceFold — the one copy of that arithmetic too).
      Sql((s"""WITH t AS (SELECT source, lang,
        |    regexp_extract_all(text, '\\S+') toks
        |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL),
        |s AS (SELECT source, ${QueryParts.StopScoreSql}
        |      AS score,
        |    (lang = 'en') AS label FROM t),
        |b AS (SELECT source,
        |    greatest(least(CAST(floor(score * 10) AS INT), 9), 0) AS bin,
        |    CAST(round(score * 1e6) AS BIGINT) AS micros,
        |    CAST(label AS INT) AS pos FROM s
        |  WHERE score IS NOT NULL),
        |g AS (SELECT source, bin, count(*) AS n,
        |    CAST(sum(pos) AS BIGINT) AS np,
        |    CAST(sum(micros) AS BIGINT) AS sm
        |  FROM b GROUP BY source, bin),
        |ebf AS (""".stripMargin + keyedEceFold("g", "ece_before") + "),\n"
        + keyedPavCtes + """,
        |ap AS (SELECT s.source,
        |    coalesce(round(fit.cal, 6), s.score) AS cs, s.label
        |  FROM s LEFT JOIN fit ON fit.source = s.source
        |    AND fit.bin = greatest(least(CAST(floor(s.score * 10) AS INT),
        |      9), 0)
        |  WHERE s.score IS NOT NULL),
        |b2 AS (SELECT source,
        |    greatest(least(CAST(floor(cs * 10) AS INT), 9), 0) AS bin,
        |    CAST(round(cs * 1e6) AS BIGINT) AS micros,
        |    CAST(label AS INT) AS pos FROM ap),
        |g2 AS (SELECT source, bin, count(*) AS n,
        |    CAST(sum(pos) AS BIGINT) AS np,
        |    CAST(sum(micros) AS BIGINT) AS sm
        |  FROM b2 GROUP BY source, bin),
        |eaf AS (""".stripMargin + keyedEceFold("g2", "ece_after") + """)
        |SELECT ebf.source, ebf.ece_before, eaf.ece_after
        |FROM ebf JOIN eaf ON ebf.source = eaf.source""".stripMargin))),
    // --- the keyed deployment verdict: AUC + ECE + PSI per source
    //     against the shared bounds — the go/no-go row per source that
    //     recalibrateBy's per-key fit was missing a companion for.
    //     Every unmeasurable component gates FALSE per verdict
    //     column; psi_total here IS psiTotalBy's output, exact-gated
    //     through the join. ---
    QuerySpec("q_scorer_gate_by", ((s, d) =>
      operators.QualityModel.scorerGateBy(
        scoredSrc(s, d), "source", "score", "label", prevSrc(s, d),
        minAuc = 0.5, maxEce = 0.1, maxPsi = 0.25)),
      // The three keyed components composed on the verdict universe
      // (every distinct non-null source in the release candidate,
      // BEFORE any score/label drop), each left-joined so an
      // unmeasurable component stays NULL in its value column and gates
      // FALSE in its verdict column — the engine's exact join shape.
      Sql((ScoredCtes + ",\n" + AucByCtes + ",\n" + PsiByGrid + """,
        |au AS (SELECT source, CASE WHEN npos > 0 AND nneg > 0
        |    THEN round((rpos - CAST(npos AS DOUBLE) * (npos + 1) / 2)
        |      / (CAST(npos AS DOUBLE) * nneg), 6) END AS auc FROM aa),
        |eb AS (SELECT source,
        |    greatest(least(CAST(floor(score * 10) AS INT), 9), 0) AS bin,
        |    CAST(round(score * 1e6) AS BIGINT) AS micros,
        |    CAST(label AS INT) AS pos
        |  FROM s WHERE score IS NOT NULL AND label IS NOT NULL
        |    AND source IS NOT NULL),
        |eg AS (SELECT source, bin, count(*) AS n,
        |    CAST(sum(micros) AS BIGINT) AS sm,
        |    CAST(sum(pos) AS BIGINT) AS np
        |  FROM eb GROUP BY 1, 2),
        |ec AS (""".stripMargin + keyedEceFold("eg", "ece") + "),\n"
        + QueryParts.PsiFoldCtes + """,
        |keys AS (SELECT DISTINCT source FROM s WHERE source IS NOT NULL)
        |SELECT k.source, au.auc, ec.ece, px.psi_total,
        |  coalesce(au.auc >= CAST(0.5 AS DOUBLE), false) AS auc_ok,
        |  coalesce(ec.ece <= CAST(0.1 AS DOUBLE), false) AS ece_ok,
        |  coalesce(px.psi_total <= CAST(0.25 AS DOUBLE), false) AS psi_ok,
        |  (coalesce(au.auc >= CAST(0.5 AS DOUBLE), false)
        |    AND coalesce(ec.ece <= CAST(0.1 AS DOUBLE), false)
        |    AND coalesce(px.psi_total <= CAST(0.25 AS DOUBLE), false))
        |    AS deploy
        |FROM keys k
        |LEFT JOIN au ON k.source = au.source
        |LEFT JOIN ec ON k.source = ec.source
        |LEFT JOIN px ON k.source = px.source""".stripMargin))),
    // --- per-source operating point: max-F1 threshold over each
    //     source's own quantized distinct-score grid, ties to the
    //     most selective (highest) threshold — 20 independent
    //     prescriptions where q_confusion_by evaluated one pooled
    //     guess. ---
    QuerySpec("q_threshold_by", ((s, d) =>
      operators.QualityModel.thresholdSelectBy(
        scoredSrc(s, d), "source", "score", "label")),
      // The selected row's confusion arithmetic replayed at the chosen
      // grid point — rates guarded exactly as the engine guards them
      // (F1's denominator is always positive at a candidate; Youden
      // needs both classes).
      Sql((ScoredCtes + ",\n" + SweepCtes + """
        |SELECT source, sc AS threshold, tp, fp, fn, tn,
        |  CASE WHEN tp + fp > 0
        |    THEN round(CAST(tp AS DOUBLE) / (tp + fp), 6)
        |    END AS precision,
        |  CASE WHEN tp + fn > 0
        |    THEN round(CAST(tp AS DOUBLE) / (tp + fn), 6)
        |    END AS recall,
        |  CASE WHEN 2 * tp + fp + fn > 0
        |    THEN round(2.0 * tp / (2 * tp + fp + fn), 6) END AS f1,
        |  CASE WHEN tp + fn > 0 AND fp + tn > 0
        |    THEN round(CAST(tp AS DOUBLE) / (tp + fn)
        |      - CAST(fp AS DOUBLE) / (fp + tn), 6) END AS youden
        |FROM sel WHERE rn = 1""".stripMargin))),
    // --- the prescriptions deployed: the corpus filtered by each
    //     source's OWN selected threshold, rolled up per source —
    //     kept volume and kept positives, the numbers that prove the
    //     selection drives the filter. ---
    QuerySpec("q_threshold_apply", { (s, d) =>
      // Lazily pinned: the sweep (thresholdSelectBy) and the deployed
      // filter both consume the scored corpus.
      val scored = operators.Materialize.checkpoint(
        scoredSrc(s, d), eager = false)
      val thr = operators.QualityModel.thresholdSelectBy(
        scored, "source", "score", "label")
      operators.QualityModel.applyThresholdBy(scored, "source", "score", thr)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("label").cast("int")).as("n_pos_kept"))
    },
      // The deployment replay: the same sweep picks each source's
      // threshold, then the corpus filters on ITS source's point with
      // the SWEEP'S OWN predicate — round(score, 6) >= threshold, the
      // quantize-then-compare contract, with null/NaN scores dropping
      // (null labels count in n_kept but not n_pos_kept, the engine's
      // sum-skips-null).
      Sql((ScoredCtes + ",\n" + SweepCtes + """
        |SELECT s.source, CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(sum(CAST(label AS INT)) AS BIGINT) AS n_pos_kept
        |FROM s JOIN (SELECT source, sc FROM sel WHERE rn = 1) t
        |  ON s.source = t.source
        |WHERE s.score IS NOT NULL AND NOT isnan(s.score)
        |  AND round(s.score, 6) >= t.sc
        |GROUP BY 1""".stripMargin))))
}
