package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Sources.table

/** Round-16 queries: closing the crawl loop's LAST open gate and the
  * scorer-observability keying the round-15 verdict ranked next.
  *
  *  - q_frontier_due_gated: [[operators.Crawl.frontierFromScheduleGated]]
  *    — the due wave through robots verdict + mined trap cells +
  *    RFC 9309 §2.4 robots-cache freshness; stale-robots hosts route
  *    to a robots.txt refetch lane instead of content fetches.
  *  - q_calibration_by / q_auc_by / q_psi_by / q_confusion_by /
  *    q_scorer_gate_by: the keyed scorer observability family
  *    ([[operators.QualityModel.calibrationReportBy]],
  *    [[operators.QualityModel.rocAucBy]],
  *    [[operators.QualityModel.populationStabilityBy]],
  *    [[operators.QualityModel.thresholdReportBy]],
  *    [[operators.QualityModel.scorerGateBy]], the latter also
  *    exact-gating [[operators.QualityModel.psiTotalBy]] through its
  *    psi_total column) — round 15 keyed the FIT (recalibrateBy) but
  *    left drift, confusion and the deploy verdict global-only.
  *  - q_recalibrate_ece_by: the keyed recalibration loop closed —
  *    per-source ECE before vs after the per-source isotonic remap.
  *  - q_drift_gated_budget: the keyed drift verdict driving curation —
  *    per-source PSI gates Hamilton budget apportionment.
  */
object QueriesR16 {

  /** The calibration-family scoring ([[QueriesR14.scoreLabel]]) with
    * the source key carried — the ONE derivation all three keyed
    * observability queries score through. */
  private[graft] def scoredSrc(s: SparkSession, d: String): DataFrame =
    QueriesR14.scoreLabel(table(s, d, "documents"), keep = Seq("source"))

  /** The previous release for the keyed drift arms: the even-doc_id
    * half at the same scaling — the q_scorer_gate baseline, keyed. */
  private def prevSrc(s: SparkSession, d: String): DataFrame =
    QueriesR14.scoreLabel(table(s, d, "documents").filter(col("doc_id") % 2 === 0),
      keep = Seq("source"))

  /** q_frontier_due_gated's clock (same horizon as q_frontier_due). */
  private val GatedNowS = 9100000.0

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- the gated loop closure: the q_frontier_due wave with every
    //     production gate composed in front of the schedule. h1
    //     disallows /d/1*; h2 is deny-all with an allow-back on
    //     /d/2*; h5's /d/N template is a mined trap cell (its due
    //     queue vanishes entirely); h3's robots fetch is stale and h6
    //     was never fetched — both collapse to a single robots.txt
    //     refetch candidate at their queue's peak overdueness. ---
    "q_frontier_due_gated" -> { (s, d) =>
      import s.implicits._
      val rules = Seq(
        ("h1.example.com", "/d/1", false),
        ("h2.example.com", "/", false),
        ("h2.example.com", "/d/2", true)).toDF("host", "prefix", "allow")
      // Trap-mining fetch log: even ids mint one /d/<id> URL each on
      // h5 (the unbounded-template signature), odd ids cycle 7 stable
      // /p/<id%7> pages on h6 (NOT a trap: 7 distinct urls <= 20).
      val logUrl = when(col("doc_id") % 2 === 0,
          concat(lit("http://h5.example.com/d/"),
            col("doc_id").cast("string")))
        .otherwise(concat(lit("http://h6.example.com/p/"),
          (col("doc_id") % 7).cast("string")))
      val fetchLog = table(s, d, "documents").select(logUrl.as("url"))
      // Robots fetch log: h3 fetched 200 000 s ago (stale past the
      // 86 400 s TTL), h6 never fetched (stale by definition), the
      // rest fetched 1 000 s ago.
      val robotsLog = Seq(
        ("h0.example.com", 9099000.0), ("h1.example.com", 9099000.0),
        ("h2.example.com", 9099000.0), ("h3.example.com", 8900000.0),
        ("h4.example.com", 9099000.0), ("h5.example.com", 9099000.0))
        .toDF("host", "fetched_at_s")
      val policy = Seq(("h0.example.com", 2.0), ("h3.example.com", 5.0))
        .toDF("host", "delay_s")
      operators.Crawl.frontierFromScheduleGated(
        QueriesR15.seededScheduleFixture(s, d), "url", "next_fetch_at_s",
        nowS = GatedNowS, rules, fetchLog, "url",
        robotsLog, "host", "fetched_at_s",
        policy, defaultDelayS = 7.0, maxPerHost = 50,
        maxUrlsPerTemplate = 20)
    },
    // --- keyed reliability table: one (source, bin) calibration grid
    //     per corpus source — same bin clip / micros mean / single-step
    //     gap rounding as q_calibration, the report the keyed ECE and
    //     gate fold from. ---
    "q_calibration_by" -> ((s, d) =>
      operators.QualityModel.calibrationReportBy(
        scoredSrc(s, d), "source", "score", "label")),
    // --- keyed ranking quality: one Mann-Whitney AUC per corpus
    //     source — 20 independent verdicts where q_auc pooled one;
    //     the ordered window partitions ON the key, so no source's
    //     ranks ever mix with another's. ---
    "q_auc_by" -> ((s, d) =>
      operators.QualityModel.rocAucBy(
        scoredSrc(s, d), "source", "score", "label")),
    // --- keyed score drift: per-source PSI of the full release
    //     candidate vs the even-id baseline half — offsetting
    //     per-source shifts cancel in the pooled q_psi, this is where
    //     a single source's walked-off distribution surfaces. Bin grid
    //     = every source seen on either side x all 10 bins. ---
    "q_psi_by" -> ((s, d) =>
      operators.QualityModel.populationStabilityBy(
        prevSrc(s, d), scoredSrc(s, d), "source", "score")),
    // --- the loop closure: the keyed drift verdict DRIVES the next
    //     release's budget — sources whose score distribution held
    //     (per-source PSI within bound) split the token budget by
    //     Hamilton apportionment on char mass; drifted sources are
    //     quarantined until recalibrated. Fixture: sources whose
    //     numeric suffix is divisible by 3 score HOTTER in the
    //     candidate (/0.09 vs the /0.12 baseline) — genuine per-source
    //     drift the pooled PSI would dilute. ---
    "q_drift_gated_budget" -> { (s, d) =>
      val num = regexp_extract(col("source"), "([0-9]+)$", 1).cast("int")
      val div = when(num % 3 === 0, lit(0.09)).otherwise(lit(0.12))
      val base = table(s, d, "documents").filter(col("doc_id") % 2 === 0)
        .select(col("source"),
          least(QueriesR14.stopRatio / lit(0.12), lit(1.0)).as("score"))
      val cur = table(s, d, "documents").select(col("source"),
        least(QueriesR14.stopRatio / div, lit(1.0)).as("score"))
      val ok = operators.QualityModel
        .psiTotalBy(base, cur, "source", "score")
        .filter(col("psi_total") <= 0.25).select(col("source"))
      val w = table(s, d, "documents").join(broadcast(ok), Seq("source"), "left_semi")
        .groupBy(col("source")).agg(sum(col("n_chars")).as("w"))
      operators.Curation.apportionBudget(
        w, "source", "w", budget = 1000000000L)
    },
    // --- keyed confusion at threshold 0.5: one tp/fp/fn/tn +
    //     precision/recall/f1 row per source — the filter the score
    //     becomes, per source (a pooled threshold can be badly wrong
    //     for one source); rates null where undefined. ---
    "q_confusion_by" -> ((s, d) =>
      operators.QualityModel.thresholdReportBy(
        scoredSrc(s, d), "source", "score", "label", threshold = 0.5)),
    // --- the KEYED recalibration loop closed: per-source ECE of the
    //     raw scorer vs after the per-source isotonic remap — the
    //     number that proves the keyed fix fixes PER SOURCE (a global
    //     remap can over-correct one source while leaving another
    //     over-confident; this row set shows each source's before and
    //     after). ---
    "q_recalibrate_ece_by" -> { (s, d) =>
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
    // --- the keyed deployment verdict: AUC + ECE + PSI per source
    //     against the shared bounds — the go/no-go row per source that
    //     recalibrateBy's per-key fit was missing a companion for.
    //     Every unmeasurable component gates FALSE per verdict
    //     column; psi_total here IS psiTotalBy's output, exact-gated
    //     through the join. ---
    "q_scorer_gate_by" -> ((s, d) =>
      operators.QualityModel.scorerGateBy(
        scoredSrc(s, d), "source", "score", "label", prevSrc(s, d),
        minAuc = 0.5, maxEce = 0.1, maxPsi = 0.25)))

  /** The keyed scoring replayed in SQL — `s` carries (source, doc_id,
    * score, label) with NO filters, so each oracle built on it applies
    * exactly the null-drops its engine counterpart does. (The
    * q_recalibrate_ece_by and q_drift_gated_budget oracles derive
    * their own scored CTEs instead — the loop needs label-filtered
    * scoring at the t stage, the budget two divisors.) */
  private[graft] val ScoredCtes: String =
    """WITH t AS (SELECT source, lang, doc_id,
      |    regexp_extract_all(text, '\S+') toks FROM documents),
      |s AS (SELECT source, doc_id, least(
      |    CAST(len(list_filter(toks,
      |        x -> x IN ('the','a','and','of','to','in'))) AS DOUBLE)
      |      / len(toks) / CAST(0.12 AS DOUBLE), CAST(1 AS DOUBLE))
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

  /** The per-source smoothed-PSI grid CTEs, parameterized on the two
    * score populations (each a CTE name or aliased subquery with
    * `(source, score)` rows) — the ONE oracle-side copy of the keyed
    * binning/grid arithmetic, shared by q_psi_by, q_scorer_gate_by and
    * q_drift_gated_budget so the smoothing/fold discipline cannot
    * silently fork per oracle. Ends in `pj(source, bin, n_base,
    * n_cur)` + `ptt(source, tb, tc)`. */
  private def psiGridCtes(baseFrom: String, curFrom: String): String =
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
  private val PsiFoldCtes: String =
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

  /** q_psi_by's and q_scorer_gate_by's populations: base = the
    * even-doc_id half of the scored corpus, cur = the full corpus. */
  private val PsiByGrid: String = psiGridCtes(
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

  val oracles: Map[String, String] = Map(
    // The gated due wave replayed end to end: the shared schedule
    // CTEs, the due filter, the freshness split (fresh = max fetch
    // age within TTL), the REP longest-match fold over path+query,
    // the trap-template anti filter on the query-free path, the
    // stale hosts' argmax-by-(priority, url) robots.txt collapse,
    // then the shared politeness rank/cap and the lane label.
    "q_frontier_due_gated" ->
      (QueriesR15.seededScheduleCtes + """,
        |due AS (SELECT url AS canon_url,
        |    CAST(9100000 AS DOUBLE) - next_fetch_at_s AS priority
        |  FROM sched WHERE next_fetch_at_s <= CAST(9100000 AS DOUBLE)),
        |du AS (SELECT canon_url, priority,
        |    regexp_extract(canon_url, '^[a-z][a-z0-9+.-]*://([^/:?]*)', 1)
        |      AS host,
        |    regexp_extract(canon_url, '^[a-z][a-z0-9+.-]*://[^/?]*(.*)$', 1)
        |      AS pq,
        |    regexp_extract(canon_url,
        |      '^[a-z][a-z0-9+.-]*://[^/?]*([^?]*)', 1) AS pth
        |  FROM due),
        |fr(fhost, fts) AS (VALUES
        |  ('h0.example.com', CAST(9099000 AS DOUBLE)),
        |  ('h1.example.com', CAST(9099000 AS DOUBLE)),
        |  ('h2.example.com', CAST(9099000 AS DOUBLE)),
        |  ('h3.example.com', CAST(8900000 AS DOUBLE)),
        |  ('h4.example.com', CAST(9099000 AS DOUBLE)),
        |  ('h5.example.com', CAST(9099000 AS DOUBLE))),
        |fresh AS (SELECT fhost FROM fr GROUP BY fhost
        |  HAVING CAST(9100000 AS DOUBLE) - max(fts)
        |    <= CAST(86400 AS DOUBLE)),
        |rl(rhost, prefix, allow) AS (VALUES
        |  ('h1.example.com', '/d/1', false),
        |  ('h2.example.com', '/', false),
        |  ('h2.example.com', '/d/2', true)),
        |m AS (SELECT du.canon_url, du.priority, du.host, du.pth,
        |    max(CASE WHEN rl.prefix IS NOT NULL
        |        THEN len(rl.prefix) * 2 + CAST(rl.allow AS INT) END) AS best
        |  FROM du JOIN fresh ON du.host = fresh.fhost
        |  LEFT JOIN rl
        |    ON du.host = rl.rhost AND starts_with(du.pq, rl.prefix)
        |  GROUP BY 1, 2, 3, 4),
        |fl AS (SELECT CASE WHEN doc_id % 2 = 0
        |      THEN 'http://h5.example.com/d/' || CAST(doc_id AS VARCHAR)
        |      ELSE 'http://h6.example.com/p/' || CAST(doc_id % 7 AS VARCHAR)
        |    END AS url FROM documents),
        |fc AS (SELECT
        |    regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/:?]*)', 1) AS host,
        |    regexp_replace(
        |      regexp_extract(url, '^[a-z][a-z0-9+.-]*://[^/?]*([^?]*)', 1),
        |      '[0-9]+', 'N', 'g') AS template, url FROM fl),
        |g AS (SELECT host, template, url FROM fc GROUP BY 1, 2, 3),
        |traps AS (SELECT host, template FROM g
        |          GROUP BY host, template HAVING count(*) > 20),
        |content AS (SELECT m.canon_url, m.priority FROM m
        |  WHERE (m.best IS NULL OR m.best % 2 = 1)
        |    AND NOT EXISTS (SELECT 1 FROM traps t
        |      WHERE t.host = m.host
        |        AND t.template = regexp_replace(m.pth, '[0-9]+', 'N', 'g'))),
        |stale AS (SELECT host, canon_url, priority,
        |    row_number() OVER (PARTITION BY host
        |      ORDER BY priority DESC, canon_url DESC) AS rn
        |  FROM du WHERE host NOT IN (SELECT fhost FROM fresh)),
        |rlane AS (SELECT
        |    regexp_extract(canon_url, '^([a-z][a-z0-9+.-]*://[^/?]*)', 1)
        |      || '/robots.txt' AS canon_url, priority
        |  FROM stale WHERE rn = 1),
        |pool AS (SELECT canon_url, priority FROM content
        |         UNION ALL SELECT canon_url, priority FROM rlane),
        |ph AS (SELECT canon_url, priority,
        |    regexp_extract(canon_url, '^[a-z][a-z0-9+.-]*://([^/:?]*)', 1)
        |      AS host
        |  FROM pool),
        |rk AS (SELECT canon_url, priority, host,
        |    row_number() OVER (PARTITION BY host
        |      ORDER BY priority DESC, canon_url) AS rank
        |  FROM ph),
        |cp AS (SELECT * FROM rk WHERE rank <= 50),
        |delays AS (SELECT dhost, CAST(dd AS DOUBLE) AS delay_s
        |  FROM (VALUES ('h0.example.com', 2.0), ('h3.example.com', 5.0))
        |    v(dhost, dd))
        |SELECT cp.canon_url, cp.priority, cp.host, cp.rank,
        |       coalesce(delays.delay_s, CAST(7 AS DOUBLE)) AS delay_s,
        |       (cp.rank - 1) * coalesce(delays.delay_s, CAST(7 AS DOUBLE))
        |         AS fetch_at_s,
        |       CASE WHEN cp.host IN (SELECT fhost FROM fresh)
        |         THEN 'content' ELSE 'robots' END AS lane
        |FROM cp LEFT JOIN delays ON cp.host = delays.dhost""".stripMargin),
    // The whole loop replayed: per-source scoring at the TWO divisors,
    // the keyed smoothed-PSI grid and integer micro fold, the 0.25
    // drift verdict, then q_apportion's Hamilton replay restricted to
    // the surviving sources (null/zero weights dropped as the engine
    // does).
    "q_drift_gated_budget" ->
      ("""WITH t AS (SELECT source, doc_id, n_chars,
        |    regexp_extract_all(text, '\S+') toks FROM documents),
        |r AS (SELECT source, doc_id, n_chars,
        |    CAST(len(list_filter(toks,
        |        x -> x IN ('the','a','and','of','to','in'))) AS DOUBLE)
        |      / len(toks) AS ratio FROM t),
        |sb AS (SELECT source,
        |    least(ratio / CAST(0.12 AS DOUBLE), CAST(1 AS DOUBLE))
        |      AS score
        |  FROM r WHERE doc_id % 2 = 0),
        |sc AS (SELECT source,
        |    least(ratio / (CASE WHEN TRY_CAST(regexp_extract(source,
        |          '([0-9]+)$', 1) AS INT) % 3 = 0
        |        THEN CAST(0.09 AS DOUBLE) ELSE CAST(0.12 AS DOUBLE) END),
        |      CAST(1 AS DOUBLE)) AS score
        |  FROM r),
        |""".stripMargin
        + psiGridCtes("sb", "sc") + ",\n" + PsiFoldCtes + """,
        |okk AS (SELECT source FROM px
        |        WHERE psi_total <= CAST(0.25 AS DOUBLE)),
        |k AS (SELECT d.source AS key,
        |    CAST(sum(d.n_chars) AS BIGINT) AS weight
        |  FROM documents d JOIN okk ON d.source = okk.source
        |  GROUP BY d.source
        |  HAVING sum(n_chars) IS NOT NULL AND sum(n_chars) > 0),
        |""".stripMargin + QueriesR14.hamiltonSql("k", 1000000000L)),
    // Per-source confusion replay: score/key null rows dropped before
    // grouping (a source with only null scores emits no row, like the
    // engine); null-label rows count in no cell via the FILTER
    // conditions, the engine's when() behavior.
    "q_confusion_by" ->
      (ScoredCtes + """
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
        |GROUP BY source""".stripMargin),
    // The keyed recalibration loop replayed end to end: per-source
    // bin masses WITH score micros (null scores dropped like the
    // engine's report/fit filters), the before-ECE fold, the keyed
    // min-max isotonic identity (QueriesR15.keyedPavCtes — the ONE
    // oracle-side copy), the (source, bin) remap with unseen cells
    // keeping the raw score, re-binning, and the after-ECE fold (both
    // folds via keyedEceFold — the one copy of that arithmetic too).
    "q_recalibrate_ece_by" ->
      ("""WITH t AS (SELECT source, lang,
        |    regexp_extract_all(text, '\S+') toks
        |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL),
        |s AS (SELECT source, least(
        |    CAST(len(list_filter(toks,
        |        x -> x IN ('the','a','and','of','to','in'))) AS DOUBLE)
        |      / len(toks) / CAST(0.12 AS DOUBLE), CAST(1 AS DOUBLE))
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
        + QueriesR15.keyedPavCtes + """,
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
        |FROM ebf JOIN eaf ON ebf.source = eaf.source""".stripMargin),
    // The keyed reliability grid replayed — q_calibration's bin CTE
    // with source carried, null label/score/source rows dropped.
    "q_calibration_by" ->
      (ScoredCtes + """,
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
        |FROM eb GROUP BY source, bin""".stripMargin),
    // Per-source Mann-Whitney replay; a single-class source yields a
    // null auc exactly as the engine's when() does.
    "q_auc_by" ->
      (ScoredCtes + ",\n" + AucByCtes + """
        |SELECT source, npos AS n_pos, nneg AS n_neg,
        |  CASE WHEN npos > 0 AND nneg > 0
        |    THEN round((rpos - CAST(npos AS DOUBLE) * (npos + 1) / 2)
        |      / (CAST(npos AS DOUBLE) * nneg), 6) END AS auc
        |FROM aa""".stripMargin),
    // Per-source smoothed per-bin PSI — every quotient in DOUBLE, the
    // psi column from the UNROUNDED probabilities like the engine.
    "q_psi_by" ->
      (ScoredCtes + ",\n" + PsiByGrid + """
        |SELECT pj.source, pj.bin, pj.n_base, pj.n_cur,
        |  round((CAST(n_base AS DOUBLE) + 0.5) / (tb + 5.0), 6) AS p_base,
        |  round((CAST(n_cur AS DOUBLE) + 0.5) / (tc + 5.0), 6) AS p_cur,
        |  round(((CAST(n_cur AS DOUBLE) + 0.5) / (tc + 5.0)
        |      - (CAST(n_base AS DOUBLE) + 0.5) / (tb + 5.0))
        |    * ln(((CAST(n_cur AS DOUBLE) + 0.5) / (tc + 5.0))
        |      / ((CAST(n_base AS DOUBLE) + 0.5) / (tb + 5.0))), 6) AS psi
        |FROM pj JOIN ptt ON pj.source = ptt.source""".stripMargin),
    // The three keyed components composed on the verdict universe
    // (every distinct non-null source in the release candidate,
    // BEFORE any score/label drop), each left-joined so an
    // unmeasurable component stays NULL in its value column and gates
    // FALSE in its verdict column — the engine's exact join shape.
    "q_scorer_gate_by" ->
      (ScoredCtes + ",\n" + AucByCtes + ",\n" + PsiByGrid + """,
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
        + PsiFoldCtes + """,
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
        |LEFT JOIN px ON k.source = px.source""".stripMargin))
}
