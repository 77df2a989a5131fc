package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Sources.table

/** Round-17 queries: the two verdict-ranked compositions that turn
  * standing REPORTS into ACTIONS.
  *
  *  - q_host_budget: the crawl-side budget loop closure carried since
  *    round 15 — [[operators.Crawl.hostQuality]]'s Gopher-pass-mass
  *    prior apportioned into next wave's fetch slots by
  *    [[operators.Crawl.hostFetchBudget]] (Hamilton seats over the
  *    per-host quality census; the q_drift_gated_budget pattern on the
  *    crawl front).
  *  - q_threshold_by: per-source operating-point SELECTION
  *    ([[operators.QualityModel.thresholdSelectBy]]) — the keyed
  *    report family diagnosed, this prescribes: each source's max-F1
  *    threshold swept over its bounded distinct-score grid.
  *  - q_threshold_apply: the selected thresholds DEPLOYED
  *    ([[operators.QualityModel.applyThresholdBy]]) — the per-source
  *    filter the selection exists for, rolled up per source.
  */
object QueriesR17 {

  /** The calibration-family scoring with the source key — the ONE
    * derivation shared with the round-16 keyed observability queries
    * ([[QueriesR16.scoredSrc]]), so round-16 reports and round-17
    * prescriptions cannot silently score different corpora. */
  private def scoredSrc(s: SparkSession, d: String): DataFrame =
    QueriesR16.scoredSrc(s, d)

  /** q_host_budget's fetch-slot budget for the next crawl wave. */
  private val HostSlots = 100000L

  /** q_frontier_budgeted's (deliberately small) wave budget, so the
    * per-host caps BIND against the much larger candidate pool. */
  private val WaveSlots = 50L

  /** The per-host quality census both crawl-budget queries share: the
    * packaged Gopher gate trio with the 5-gram measurability guard
    * (null verdict = unmeasurable = fails everywhere). `hostSuffix`
    * picks the host spelling: bare `site<k>` for the q_host_quality
    * convention, `site<k>.example.com` where the allocations must
    * join real candidate-URL hosts. */
  private def hostCensus(
      s: SparkSession, d: String, hostSuffix: String = ""): DataFrame = {
    val gates = operators.TextAnalysis.gopherStages(col("text"))
      .map(_._2).reduce(_ && _)
    val measurable = size(split(col("text"), " ")) >= 5
    operators.Crawl.hostQuality(
      table(s, d, "documents").select(
        concat(lit("site"), (col("doc_id") % 7).cast("string"),
          lit(hostSuffix)).as("host"),
        when(measurable, gates).as("pass"),
        col("n_chars")),
      "host", col("pass"), col("n_chars"))
  }

  /** The census replayed in SQL — the ONE oracle-side copy of the
    * per-doc verdict (null where the doc can't form a 5-gram) and the
    * per-host pass-mass fold with zero-mass hosts dropped. Ends in
    * `k(key, weight)`, the [[QueriesR14.hamiltonCtes]] input shape. */
  private def censusCtes(hostSuffix: String = ""): String =
    s"g AS (${QueriesR9.gopherRepOracle}),\n" +
      s"""pv AS (SELECT d.n_chars,
        |    'site' || CAST(d.doc_id % 7 AS VARCHAR) || '$hostSuffix'
        |      AS host,
        |    CASE WHEN len(string_split(d.text, ' ')) >= 5
        |      THEN (top2_frac < 0.2 AND top3_frac < 0.18
        |        AND dup5_frac < 0.15) END AS pass
        |  FROM documents d JOIN g ON d.doc_id = g.doc_id),
        |k AS (SELECT host AS key, weight FROM (
        |    SELECT host, CAST(coalesce(sum(CASE WHEN pass
        |        THEN n_chars END), 0) AS BIGINT) AS weight
        |    FROM pv GROUP BY host) kk
        |  WHERE weight > 0)""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- the crawl budget loop closed: per-host Gopher-gate census
    //     (hosts synthesized as site<doc_id%7>, the q_host_quality
    //     universe) -> pass-mass weights -> Hamilton fetch slots.
    //     Weights are integer char mass over PASSING docs only, so the
    //     pass-rate prior and the host's demand compose without a
    //     single double; allocations sum to EXACTLY the slot budget. ---
    "q_host_budget" -> ((s, d) =>
      operators.Crawl.hostFetchBudget(hostCensus(s, d), budget = HostSlots)),
    // --- the allocations CONSUMED: each host's scheduled wave is
    //     capped at ITS Hamilton seat count (50 slots across 7 hosts
    //     against ~N/7 candidates each, so every cap binds), ranked
    //     and delay-spaced inside the allocation exactly as
    //     frontierPlan ranks inside its cap — quality census →
    //     integer seats → the actual fetch schedule, end to end. ---
    "q_frontier_budgeted" -> { (s, d) =>
      import s.implicits._
      val allocs = operators.Crawl.hostFetchBudget(
        hostCensus(s, d, ".example.com"), budget = WaveSlots)
      val url = concat(lit("http://site"), (col("doc_id") % 7).cast("string"),
        lit(".example.com/p/"), col("doc_id").cast("string"))
      val cands = table(s, d, "documents").select(url.as("url"),
        (col("doc_id") % 100).cast("double").as("priority"))
      val policy = Seq(("site0.example.com", 3.0)).toDF("host", "delay_s")
      operators.Crawl.frontierPlanBudgeted(
        cands, "url", "priority", allocs, policy,
        defaultDelayS = 7.0, maxPerHost = WaveSlots.toInt)
    },
    // --- per-source operating point: max-F1 threshold over each
    //     source's own quantized distinct-score grid, ties to the
    //     most selective (highest) threshold — 20 independent
    //     prescriptions where q_confusion_by evaluated one pooled
    //     guess. ---
    "q_threshold_by" -> ((s, d) =>
      operators.QualityModel.thresholdSelectBy(
        scoredSrc(s, d), "source", "score", "label")),
    // --- the prescriptions deployed: the corpus filtered by each
    //     source's OWN selected threshold, rolled up per source —
    //     kept volume and kept positives, the numbers that prove the
    //     selection drives the filter. ---
    "q_threshold_apply" -> { (s, d) =>
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
    })

  /** The per-source max-F1 sweep replayed in SQL over
    * [[QueriesR16.ScoredCtes]]'s scored corpus: the SHARED quantized
    * distinct-score grid ([[QueriesR16.gridCte]], with the sweep's
    * NaN drop), descending cumulative confusion, rounded-F1 argmax
    * with the highest-threshold tiebreak. Ends in `sel(source, sc,
    * tp, fp, fn, tn, obj, rn)` — the selected row is `rn = 1`. */
  private val SweepCtes: String =
    QueriesR16.gridCte(" AND NOT isnan(score)") + """,
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

  val oracles: Map[String, String] = Map(
    // The whole composition replayed: the shared per-doc Gopher
    // fraction CTE, the per-doc verdict stated ONCE (null where the
    // doc can't form a 5-gram — unmeasurable fails), the per-host
    // pass-mass census with zero-mass hosts dropped (the engine's
    // positive-weight contract), then the SHARED Hamilton replay over
    // the host table.
    "q_host_budget" ->
      ("WITH " + censusCtes() + ",\n" +
        QueriesR14.hamiltonSql("k", HostSlots, keyOut = "host")),
    // The full loop replayed: the shared census and Hamilton CTEs
    // seat the wave budget, then the candidate pool ranks per host
    // (priority DESC, url ASC — the politeness order) and keeps only
    // ranks inside the host's allocation, delay-spaced from the
    // policy table.
    "q_frontier_budgeted" ->
      ("WITH " + censusCtes(".example.com") + ",\n" +
        QueriesR14.hamiltonCtes("k", WaveSlots, "al", keyOut = "host") +
        """,
          |cand AS (SELECT
          |    'http://site' || CAST(doc_id % 7 AS VARCHAR)
          |      || '.example.com/p/' || CAST(doc_id AS VARCHAR)
          |      AS canon_url,
          |    CAST(doc_id % 100 AS DOUBLE) AS priority,
          |    'site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
          |      AS host
          |  FROM documents),
          |rk AS (SELECT cand.canon_url, cand.priority, cand.host,
          |    least(al.alloc, 50) AS alloc,
          |    row_number() OVER (PARTITION BY cand.host
          |      ORDER BY cand.priority DESC, cand.canon_url ASC)
          |      AS rank
          |  FROM cand JOIN al ON cand.host = al.host
          |  WHERE least(al.alloc, 50) > 0),
          |ot AS (SELECT canon_url, priority, host, alloc,
          |    CAST(rank AS BIGINT) AS rank,
          |    CASE WHEN host = 'site0.example.com'
          |      THEN CAST(3 AS DOUBLE) ELSE CAST(7 AS DOUBLE) END
          |      AS delay_s
          |  FROM rk WHERE rank <= alloc)
          |SELECT canon_url, priority, host, alloc, rank, delay_s,
          |  (rank - 1) * delay_s AS fetch_at_s
          |FROM ot""".stripMargin),
    // The selected row's confusion arithmetic replayed at the chosen
    // grid point — rates guarded exactly as the engine guards them
    // (F1's denominator is always positive at a candidate; Youden
    // needs both classes).
    "q_threshold_by" ->
      (QueriesR16.ScoredCtes + ",\n" + SweepCtes + """
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
        |FROM sel WHERE rn = 1""".stripMargin),
    // The deployment replay: the same sweep picks each source's
    // threshold, then the corpus filters on ITS source's point with
    // the SWEEP'S OWN predicate — round(score, 6) >= threshold, the
    // quantize-then-compare contract, with null/NaN scores dropping
    // (null labels count in n_kept but not n_pos_kept, the engine's
    // sum-skips-null).
    "q_threshold_apply" ->
      (QueriesR16.ScoredCtes + ",\n" + SweepCtes + """
        |SELECT s.source, CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(sum(CAST(label AS INT)) AS BIGINT) AS n_pos_kept
        |FROM s JOIN (SELECT source, sc FROM sel WHERE rn = 1) t
        |  ON s.source = t.source
        |WHERE s.score IS NOT NULL AND NOT isnan(s.score)
        |  AND round(s.score, 6) >= t.sc
        |GROUP BY 1""".stripMargin))
}
