package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Sources.table

/** Synthesis and oracle fragments that queries of more than one domain use.
  * It reads no other query object, so every domain object may read it
  * during its own initialization.
  */
object QueryParts {

  /** The DuckDB replay of [[operators.TextAnalysis.tokens]] on `text`. */
  private[graft] val toksSql = "regexp_extract_all(text, '\\S+')"

  /** Greedy merge rounds learned/replayed by the BPE queries. Kept
    * small so the unrolled oracle stays readable; the operators take
    * any count. */
  private[graft] val BpeRounds = 5

  // ---- oracle construction: the BPE learning rounds unrolled --------

  /** CTE chain `words, s0, p1, t1, s1, …, pK, tK, sK` replaying
    * [[operators.Vocab.learnBpeMerges]] round by round: pR = weighted
    * adjacent-pair counts over the round's symbol strings, tR = the
    * arg-max pair (count desc, pair text), sR = the merge applied via
    * the same anchored `replace`. */
  private[graft] def bpeCtes(rounds: Int): String = {
    val base =
      """words AS (SELECT w, count(*) c FROM (SELECT unnest(regexp_extract_all(lower(text), '\p{L}+')) w FROM documents) GROUP BY 1),
        |s0 AS (SELECT c, '|' || array_to_string(regexp_extract_all(w, '.'), '|') || '|' AS s FROM words)""".stripMargin
    val perRound = (1 to rounds).map { r =>
      s"""p$r AS (SELECT p[1] pa, p[2] pb, CAST(sum(c) AS BIGINT) cnt FROM (
         |  SELECT c, unnest(list_transform(generate_series(1, len(l) - 1), i -> [l[i], l[i+1]])) p
         |  FROM (SELECT c, string_split(trim(s, '|'), '|') l FROM s${r - 1}) WHERE len(l) >= 2)
         |  GROUP BY 1, 2),
         |t$r AS (SELECT pa, pb, cnt FROM p$r ORDER BY cnt DESC, pa, pb LIMIT 1),
         |s$r AS (SELECT c, replace(s, '|' || (SELECT pa FROM t$r) || '|' || (SELECT pb FROM t$r),
         |  '|' || (SELECT pa || pb FROM t$r)) s FROM s${r - 1})""".stripMargin
    }
    (base +: perRound).mkString(",\n")
  }

  private[graft] def bpeApplyOracle(rounds: Int): String = {
    val mCols = (1 to rounds)
      .map(r => s"(SELECT pa FROM t$r) a$r, (SELECT pb FROM t$r) b$r")
      .mkString(", ")
    val replaceChain = (1 to rounds).foldLeft(
      "'|' || array_to_string(regexp_extract_all(w, '.'), '|') || '|'") {
      (acc, r) => s"replace($acc, '|' || m.a$r || '|' || m.b$r, '|' || m.a$r || m.b$r)"
    }
    s"""WITH ${bpeCtes(rounds)},
       |m AS (SELECT $mCols),
       |d0 AS (SELECT doc_id, regexp_extract_all(lower(text), '\\p{L}+') ws FROM documents),
       |tok AS (SELECT doc_id, flatten(list_transform(ws, w ->
       |  string_split(trim($replaceChain, '|'), '|'))) toks FROM d0, m)
       |SELECT doc_id, array_to_string(toks, ' ') AS tokens,
       |       CAST(len(toks) AS INTEGER) AS n_tokens FROM tok""".stripMargin
  }

  /** Per-doc (top2_frac, top3_frac, dup5_frac) replay shared by the
    * q_gopher_rep gate and the q_gopher_funnel stage arithmetic. */
  private[graft] val gopherRepOracle: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
      |gg AS (
      |  SELECT doc_id, n, unnest(gs) g FROM (
      |    SELECT doc_id, 2 AS n, list_transform(generate_series(1, len(ts) - 1),
      |        i -> ts[i] || ' ' || ts[i+1]) gs
      |      FROM toks WHERE len(ts) >= 2
      |    UNION ALL
      |    SELECT doc_id, 3, list_transform(generate_series(1, len(ts) - 2),
      |        i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
      |      FROM toks WHERE len(ts) >= 3
      |    UNION ALL
      |    SELECT doc_id, 5, list_transform(generate_series(1, len(ts) - 4),
      |        i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' ||
      |             ts[i+3] || ' ' || ts[i+4])
      |      FROM toks WHERE len(ts) >= 5)),
      |c AS (SELECT doc_id, n, g, count(*) c, count(*) * len(g) mass
      |      FROM gg GROUP BY 1, 2, 3),
      |r AS (SELECT doc_id, n, c, mass,
      |        row_number() OVER (PARTITION BY doc_id, n ORDER BY c DESC, g) rn
      |      FROM c),
      |a AS (SELECT doc_id, n,
      |        CAST(sum(mass) AS DOUBLE) total,
      |        CAST(max(CASE WHEN rn = 1 THEN mass END) AS DOUBLE) topmass,
      |        CAST(coalesce(sum(CASE WHEN c >= 2 THEN mass END), 0) AS DOUBLE) dupmass
      |      FROM r GROUP BY 1, 2)
      |SELECT d.doc_id,
      |  round(coalesce(max(CASE WHEN n = 2 THEN topmass / total END), 0), 6) AS top2_frac,
      |  round(coalesce(max(CASE WHEN n = 3 THEN topmass / total END), 0), 6) AS top3_frac,
      |  round(coalesce(max(CASE WHEN n = 5 THEN dupmass / total END), 0), 6) AS dup5_frac
      |FROM documents d LEFT JOIN a ON d.doc_id = a.doc_id
      |GROUP BY 1""".stripMargin

  /** Deterministic synthetic link graph over the documents table:
    * doc u links to (u + j*131) % N for j in 1..(u%4), so out-degrees
    * vary 0-3 and every fourth doc is dangling. Both engines replay
    * the synthesis (the modulus N is the document count). */
  private[graft] def linkEdges(s: SparkSession, d: String): DataFrame = {
    val ds = table(s, d, "documents")
    val n = ds.count()
    val m = col("doc_id") % 4
    ds.select(col("doc_id").as("src"),
        explode(when(m > 0, sequence(lit(1L), m))
          .otherwise(array().cast("array<long>"))).as("j"))
      .select(col("src"), ((col("src") + col("j") * 131) % n).as("dst"))
  }

  /** The DuckDB replay of [[linkEdges]] as a CTE named `e`. */
  private[graft] val EdgeCte =
    """e AS (SELECT doc_id AS src,
      |    (doc_id + j * 131) % (SELECT count(*) FROM documents) AS dst
      |  FROM documents, unnest(generate_series(1, doc_id % 4)) t(j))""".stripMargin

  private[graft] def pageRankCtes(iters: Int): String = {
    val header =
      s"""$EdgeCte,
         |v AS (SELECT DISTINCT id FROM
         |  (SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)),
         |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
         |nn AS (SELECT count(*) AS n FROM v),
         |r0 AS (SELECT id, CAST(1000000000 // n AS BIGINT) AS rank_fp
         |       FROM v, nn)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""c$i AS (SELECT e.dst AS id, sum(r.rank_fp // od.outdeg) AS insum
         |  FROM e JOIN od ON e.src = od.src JOIN r${i - 1} r ON e.src = r.id
         |  GROUP BY e.dst),
         |d$i AS (SELECT coalesce(sum(r.rank_fp), 0) AS dang FROM r${i - 1} r
         |  WHERE r.id NOT IN (SELECT src FROM od)),
         |r$i AS (SELECT v.id, CAST((15 * (1000000000 // nn.n)) // 100
         |    + (85 * (coalesce(c.insum, 0) + d.dang // nn.n)) // 100
         |    AS BIGINT) AS rank_fp
         |  FROM v LEFT JOIN c$i c ON v.id = c.id, d$i d, nn)""".stripMargin
    }
    (header +: steps).mkString(",\n")
  }

  /** The ONE stopword-ratio derivation every calibration-family query
    * scores from — tokens/stops/ratio defined once so
    * q_calibration/q_auc/q_confusion (ratio/0.12 vs the lang label)
    * and q_psi (two scale divisors) can never silently diverge. */
  private[graft] def stopRatio: org.apache.spark.sql.Column = {
    val toks = operators.TextAnalysis.tokens(col("text"))
    val stops = size(filter(toks,
      tk => tk.isInCollection(operators.TextAnalysis.StopwordsEn)))
    stops.cast("double") / size(toks)
  }

  /** The DuckDB replay of [[stopRatio]] over a column `toks` of the
    * `\S+` tokens of `text`. */
  private[graft] val StopRatioSql =
    """CAST(len(list_filter(toks,
      |        x -> x IN ('the','a','and','of','to','in'))) AS DOUBLE)
      |      / len(toks)""".stripMargin

  /** The DuckDB replay of [[scoreLabel]]'s score: [[StopRatioSql]]
    * scaled by 1/0.12 and clipped at 1. */
  private[graft] val StopScoreSql =
    s"""least(
       |    $StopRatioSql / CAST(0.12 AS DOUBLE), CAST(1 AS DOUBLE))""".stripMargin

  /** Shared q_calibration scoring: stopword-ratio scaled into [0, 1]
    * (ratio/0.12 clipped — 0.12 is ~2x the corpus-median ratio, so
    * scores spread across all ten bins) against the `lang = 'en'`
    * label the score imperfectly predicts. [[scoreLabel]] is the
    * frame-generic form the round-15 recalibration and release-card
    * queries reuse, so every calibration-family query scores through
    * ONE derivation. */
  private[graft] def scoreLabel(
      df: DataFrame, keep: Seq[String] = Nil): DataFrame =
    df.select(keep.map(col) ++ Seq(
      least(stopRatio / lit(0.12), lit(1.0)).as("score"),
      (col("lang") === "en").as("label")): _*)

  /** The Hamilton largest-remainder replay
    * ([[operators.Curation.apportionBudget]]'s integer seating) — the
    * ONE oracle-side copy, shared by q_apportion,
    * q_drift_gated_budget and q_host_budget so a seating-arithmetic
    * change cannot silently fork the replays. `from` names a CTE
    * exposing `(key, weight)` with null/zero weights already dropped
    * (the engine's positive-weight contract); emits the final
    * `SELECT ($keyOut, weight, alloc)`. CTE aliases are 9-suffixed to
    * stay collision-free inside any composing oracle. */
  private[graft] def hamiltonSql(
      from: String, budget: Long, keyOut: String = "key"): String =
    hamiltonCtes(from, budget, "h9", keyOut) + "\nSELECT * FROM h9"

  /** [[hamiltonSql]]'s CTE form: the seat table lands in a named CTE
    * (`cte`) instead of terminating the statement, for oracles that
    * CONSUME the allocations downstream (q_frontier_budgeted joins
    * them against the candidate pool). */
  private[graft] def hamiltonCtes(
      from: String, budget: Long, cte: String,
      keyOut: String = "key"): String =
    s"""t9 AS (SELECT CAST(sum(weight) AS BIGINT) AS w FROM $from),
       |q9 AS (SELECT key, weight,
       |    ($budget * weight) // w AS base,
       |    ($budget * weight) % w AS rem
       |  FROM $from, t9),
       |b9 AS (SELECT CAST(sum(base) AS BIGINT) AS bsum FROM q9),
       |p9 AS (SELECT key, weight, base,
       |    row_number() OVER (ORDER BY rem DESC, key) AS pos
       |  FROM q9),
       |$cte AS (SELECT p9.key AS $keyOut, p9.weight,
       |  CAST(p9.base + CASE WHEN p9.pos <= $budget - b9.bsum
       |    THEN 1 ELSE 0 END AS BIGINT) AS alloc
       |FROM p9, b9)""".stripMargin

  /** The per-source smoothed-PSI grid CTEs, parameterized on the two
    * score populations (each a CTE name or aliased subquery with
    * `(source, score)` rows) — the ONE oracle-side copy of the keyed
    * binning/grid arithmetic, shared by q_psi_by, q_scorer_gate_by and
    * q_drift_gated_budget so the smoothing/fold discipline cannot
    * silently fork per oracle. Ends in `pj(source, bin, n_base,
    * n_cur)` + `ptt(source, tb, tc)`. */
  private[graft] def psiGridCtes(baseFrom: String, curFrom: String): String =
    s"""pb AS (SELECT source,
       |    greatest(least(CAST(floor(score * 10) AS INT), 9), 0) AS bin,
       |    count(*) AS n_base
       |  FROM $baseFrom
       |  WHERE score IS NOT NULL AND source IS NOT NULL
       |  GROUP BY 1, 2),
       |pc AS (SELECT source,
       |    greatest(least(CAST(floor(score * 10) AS INT), 9), 0) AS bin,
       |    count(*) AS n_cur
       |  FROM $curFrom
       |  WHERE score IS NOT NULL AND source IS NOT NULL
       |  GROUP BY 1, 2),
       |ks AS (SELECT source FROM pb UNION SELECT source FROM pc),
       |ab AS (SELECT ks.source, CAST(i AS INT) AS bin
       |       FROM ks, unnest(generate_series(0, 9)) u(i)),
       |pj AS (SELECT ab.source, ab.bin,
       |    CAST(coalesce(n_base, 0) AS BIGINT) AS n_base,
       |    CAST(coalesce(n_cur, 0) AS BIGINT) AS n_cur
       |  FROM ab
       |  LEFT JOIN pb ON ab.source = pb.source AND ab.bin = pb.bin
       |  LEFT JOIN pc ON ab.source = pc.source AND ab.bin = pc.bin),
       |ptt AS (SELECT source, CAST(sum(n_base) AS DOUBLE) AS tb,
       |    CAST(sum(n_cur) AS DOUBLE) AS tc FROM pj GROUP BY source)"""
      .stripMargin

  /** The keyed PSI fold over [[psiGridCtes]]'s grid: per-(key, bin)
    * smoothed terms rounded to 6, integer-micros sum per key — ends in
    * `px(source, psi_total)`. The one oracle-side copy of the fold. */
  private[graft] val PsiFoldCtes: String =
    """pp AS (SELECT pj.source,
      |    round(((CAST(n_cur AS DOUBLE) + 0.5) / (tc + 5.0)
      |        - (CAST(n_base AS DOUBLE) + 0.5) / (tb + 5.0))
      |      * ln(((CAST(n_cur AS DOUBLE) + 0.5) / (tc + 5.0))
      |        / ((CAST(n_base AS DOUBLE) + 0.5) / (tb + 5.0))), 6)
      |      AS psi
      |  FROM pj JOIN ptt ON pj.source = ptt.source),
      |px AS (SELECT source,
      |    round(CAST(sum(CAST(round(psi * 1e6) AS BIGINT)) AS DOUBLE)
      |      / 1e6, 6) AS psi_total
      |  FROM pp GROUP BY source)""".stripMargin

  /** The DuckDB replay of [[operators.Dedup.nearDupComponents]] over the
    * exact word 3-shingle Jaccard >= 0.8 pairs of the docs in `from`:
    * CTEs `toksName`, sh, ex, cnt, cand, pairs, edges, reach and
    * rep(doc_id, rep), the least doc reachable from each paired doc.
    * `reach` is recursive, so the query starts WITH RECURSIVE. */
  private[graft] def nearDupRepCtes(from: String, toksName: String = "toks"): String =
    s"""$toksName AS (SELECT doc_id, string_split(text, ' ') ts FROM $from),
       |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(ts) >= 3 THEN list_transform(generate_series(1, len(ts) - 2), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) ELSE [] END) s FROM $toksName),
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
       |rep AS (SELECT src AS doc_id, least(src, min(dst)) AS rep FROM reach GROUP BY src)""".stripMargin
}
