package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Sources.table

/** Round-15 queries: the recalibration loop (the fix a drifted
  * calibration report asks for) and the sitemap freshness/fetch-loop
  * compositions the round-14 verdict flagged as set-up-but-unfinished.
  *
  *  - q_recalibrate: [[operators.QualityModel.recalibrate]] — isotonic
  *    (pool-adjacent-violators) recalibration of the stopword-ratio
  *    scorer's reliability table, computed declaratively via the
  *    min-max identity over the cumulative sum diagram; the oracle
  *    replays the identity with the same integer sums and IEEE
  *    divisions.
  *  - q_recalibrate_ece: the closed loop — ECE before vs after
  *    [[operators.QualityModel.applyCalibration]] remaps the scores
  *    through the broadcast isotonic mapping; the after side re-runs
  *    the full reliability report on the calibrated scores.
  *  - q_recrawl_seeded: [[operators.Crawl.recrawlScheduleSeeded]] —
  *    sitemap `lastmod` priors fill the no-revisit-history gap in the
  *    Cho & Garcia-Molina schedule (observed history supersedes), with
  *    escaped sitemap locs decoded at the boundary (`&amp;` on
  *    doc_id%20==4, the numeric `&#38;` on doc_id%20==14) so each URL
  *    joins its fetch history and schedules under its REAL spelling.
  *  - q_frontier_xml: [[operators.Crawl.frontierPlanSeededXml]] — the
  *    sitemap-INDEX children of fetched sitemap bodies union into the
  *    candidate pool alongside the robots `Sitemap:` directives,
  *    unescaped at the same boundary; `kind='url'` entries do NOT
  *    seed (they are page discoveries, not sitemap fetches).
  */
object QueriesR15 {

  /** q_recrawl_seeded's clock: lastmod ages at this `nowS` span all
    * three clamp regimes of the prior (max-clamped, interior,
    * min-clamped) across the fixture's 0..119-day lastmod spread. */
  private val SeededNowS = 9000000.0

  /** The sitemap-INDEX fixture for q_frontier_xml: two index children
    * on frontier hosts — one with an entity-escaped `&amp;` query that
    * must arrive in the schedule unescaped — plus a urlset body whose
    * `kind='url'` entry must NOT seed. */
  private[graft] val SitemapIndexBodies: Seq[(String, Seq[String])] = Seq(
    "site1.example.com" -> Seq(
      "<sitemapindex>",
      "  <sitemap><loc>http://site1.example.com/maps/sm-a.xml</loc>",
      "    <lastmod>2026-05-01</lastmod></sitemap>",
      "  <sitemap>",
      "    <loc>http://site2.example.com/sm.xml?a=1&amp;b=2</loc>",
      "  </sitemap>",
      "</sitemapindex>"),
    "site3.example.com" -> Seq(
      "<urlset>",
      "  <url><loc>http://site3.example.com/page-only</loc></url>",
      "</urlset>"))

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- isotonic recalibration mapping: PAV over the stopword-ratio
    //     scorer's reliability bins via the min-max identity —
    //     monotone calibrated probabilities from integer bin masses,
    //     no driver-side pooling loop. ---
    "q_recalibrate" -> ((s, d) =>
      operators.QualityModel.recalibrate(
        QueriesR14.calibrationScored(s, d), "score", "label")),
    // --- the closed recalibration loop: ECE of the raw scorer vs ECE
    //     after the broadcast isotonic remap — the number that proves
    //     the fix fixes (spec-pinned ece_after <= ece_before; here
    //     both sides are exact-gated). ---
    "q_recalibrate_ece" -> { (s, d) =>
      val scored = QueriesR14.calibrationScored(s, d)
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
    // --- sitemap-seeded recrawl schedule: q_recrawl's history thinned
    //     (every 3rd URL never fetched, every 5th seen once) plus a
    //     sitemap declaring lastmod for even doc_ids — so the output
    //     spans all three bases: observed (revisit history wins even
    //     when a lastmod exists), sitemap (the prior fills the
    //     no-history gap, ages spanning all three clamp regimes), and
    //     default (no signal at all -> max clamp). URLs with neither
    //     history nor a dated sitemap row are absent by construction.
    //     doc_id % 10 == 4 URLs carry a ?a=1&b=2 query whose sitemap
    //     spelling is escaped (&amp; on %20==4, numeric &#38; on
    //     %20==14) — the schedule must show the REAL ampersand
    //     spelling, joined to its history. ---
    "q_recrawl_seeded" -> ((s, d) => seededScheduleFixture(s, d)),
    // --- the deployment gate: AUC + ECE + PSI-vs-previous-release
    //     against their bounds, folded to one go/no-go row — this
    //     scorer's honest verdict is deploy = false (ECE 0.207 over
    //     the 0.1 bound; ranking and drift pass). ---
    "q_scorer_gate" -> { (s, d) =>
      val scored = QueriesR14.calibrationScored(s, d)
      val prev = QueriesR14.scoreLabel(
        table(s, d, "documents").filter(col("doc_id") % 2 === 0))
      operators.QualityModel.scorerGate(scored, "score", "label", prev,
        minAuc = 0.5, maxEce = 0.1, maxPsi = 0.25)
    },
    // --- PER-SOURCE isotonic recalibration: one independent fit per
    //     corpus source (a scorer is rarely uniformly miscalibrated —
    //     a global remap can over-correct one source while leaving
    //     another over-confident); every stage of the min-max identity
    //     carries the key, so the fit distributes ON source. ---
    "q_recalibrate_by" -> ((s, d) =>
      operators.QualityModel.recalibrateBy(
        QueriesR14.scoreLabel(table(s, d, "documents"), keep = Seq("source")),
        "source", "score", "label")),
    // --- incremental recrawl scheduling: q_recrawl's history split
    //     into two time-ordered waves (j 0-1, then j 2-3), each
    //     reduced to per-url sufficient statistics, merged in
    //     O(urls), and the schedule derived from the MERGED stats.
    //     The oracle is q_recrawl's FULL-history replay verbatim —
    //     the exact gate itself proves incremental == full, the
    //     pageRankDelta discipline on the crawl clock. ---
    "q_recrawl_inc" -> { (s, d) =>
      val gap = lit(600.0) +
        (col("doc_id") % 10).cast("double") * lit(300.0)
      val period = col("doc_id") % 4 + 1
      val hist = table(s, d, "documents")
        .select(col("doc_id"), gap.as("__gap"),
          explode(sequence(lit(0L), lit(3L))).as("j"))
        .select(
          concat(lit("http://h"), (col("doc_id") % 7).cast("string"),
            lit(".example.com/d/"), col("doc_id").cast("string")).as("url"),
          (col("j").cast("double") * col("__gap")).as("fetched_at_s"),
          floor(col("j") / period).cast("string").as("digest"),
          col("j"))
      val early = hist.filter(col("j") < 2).drop("j")
      val late = hist.filter(col("j") >= 2).drop("j")
      val merged = operators.Crawl.recrawlStatsMerge(
        operators.Crawl.recrawlStats(early, "url", "fetched_at_s", "digest"),
        operators.Crawl.recrawlStats(late, "url", "fetched_at_s", "digest"))
      operators.Crawl.scheduleFromStats(
        merged, minIntervalS = 300.0, maxIntervalS = 2592000.0)
    },
    // --- the loop closure: the seeded schedule's due-at-now URLs
    //     (observed rows are all long overdue; sitemap-based rows due
    //     only where the prior interval fits inside the 100k-s
    //     horizon) enter the politeness frontier with OVERDUENESS as
    //     priority — longest-overdue first per host, two hosts on
    //     explicit delays, maxPerHost capping the big hosts. ---
    "q_frontier_due" -> { (s, d) =>
      import s.implicits._
      val policy = Seq(
        ("h0.example.com", 2.0), ("h3.example.com", 5.0))
        .toDF("host", "delay_s")
      operators.Crawl.frontierFromSchedule(
        seededScheduleFixture(s, d), "url", "next_fetch_at_s",
        nowS = SeededNowS + 100000.0, policy,
        defaultDelayS = 7.0, maxPerHost = 50)
    },
    // --- sitemap-index-seeded frontier: q_frontier_seeded's robots
    //     fixture plus fetched sitemap-INDEX bodies — index children
    //     (one entity-escaped) enter the pool at seed priority; the
    //     urlset body's kind='url' entry must not. ---
    "q_frontier_xml" -> { (s, d) =>
      import s.implicits._
      val bodies = QueriesR14.robotsBodiesDf(s)
      val smBodies = SitemapIndexBodies
        .map { case (h, ls) => (h, ls.mkString("\n")) }
        .toDF("host", "body")
      val h = (col("doc_id") % 6).cast("string")
      val cand = table(s, d, "documents").select(
        concat(lit("http://site"), h, lit(".example.com/p/"),
          col("doc_id").cast("string")).as("url"),
        col("n_chars").as("priority"))
      val policy = operators.Crawl.parseCrawlDelay(
        bodies, "host", "body", "graftbot")
      operators.Crawl.frontierPlanSeededXml(
        cand, "url", "priority", bodies, smBodies, "host", "body",
        policy, defaultDelayS = 7.0, maxPerHost = 40, seedPriority = 1e6)
    })

  /** The q_recrawl_seeded fixture, shared with q_frontier_due (the
    * due-wave frontier consumes this exact schedule): q_recrawl's
    * history thinned (every 3rd URL never fetched, every 5th seen
    * once), a sitemap declaring lastmod for even doc_ids, and escaped
    * locs on the doc_id % 10 == 4 URLs — `&amp;` on %20==4, the
    * numeric `&#38;` reference on %20==14. */
  private[graft] def seededScheduleFixture(
      s: SparkSession, d: String): DataFrame = {
    val b = col("doc_id").cast("string")
    val urlBase = concat(lit("http://h"), (col("doc_id") % 7).cast("string"),
      lit(".example.com/d/"), b)
    val urlTrue = when(col("doc_id") % 10 === 4,
      concat(urlBase, lit("?a=1&b=2"))).otherwise(urlBase)
    // Two escaped spellings of the SAME real query: the entity form
    // and the decimal numeric character reference wild sitemaps emit.
    // The oracle builds true URLs directly and never models the
    // escape, so the numeric decode is itself hash-gated: a broken
    // `&#38;` leaves these sitemap rows unjoined to their history AND
    // mints wrong canon_url spellings in the output.
    val urlEsc = when(col("doc_id") % 20 === 4,
      concat(urlBase, lit("?a=1&amp;b=2")))
      .when(col("doc_id") % 20 === 14,
        concat(urlBase, lit("?a=1&#38;b=2")))
      .otherwise(urlBase)
    val gap = lit(600.0) +
      (col("doc_id") % 10).cast("double") * lit(300.0)
    val period = col("doc_id") % 4 + 1
    val hist = table(s, d, "documents")
      .filter(col("doc_id") % 3 =!= 2)
      .select(col("doc_id"), urlTrue.as("url"), gap.as("__gap"),
        explode(sequence(lit(0L), lit(3L))).as("j"))
      .filter(col("doc_id") % 5 =!= 0 || col("j") === 0)
      .select(col("url"),
        (col("j").cast("double") * col("__gap")).as("fetched_at_s"),
        floor(col("j") / period).cast("string").as("digest"))
    val sitemap = table(s, d, "documents")
      .filter(col("doc_id") % 2 === 0)
      .select(urlEsc.as("loc"),
        date_add(to_date(lit("1970-01-01")),
          (col("doc_id") % 120).cast("int")).as("lastmod"))
    operators.Crawl.recrawlScheduleSeeded(hist, "url", "fetched_at_s",
      "digest", sitemap, "loc", "lastmod",
      nowS = SeededNowS, minIntervalS = 300.0, maxIntervalS = 2592000.0)
  }

  /** The isotonic-fit CTE chain both recalibration oracles share,
    * appended after [[QueriesR14.calibrationBinsCte]]'s `b` (bin,
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

  val oracles: Map[String, String] = Map(
    // Independent replay of the min-max isotonic identity: the same
    // integer bin masses and IEEE segment-mean divisions, min over
    // ranges ending at the bin, max over ranges starting at it.
    "q_recalibrate" ->
      (QueriesR14.calibrationBinsCte + isotonicCtes +
        """
          |SELECT CAST(bin AS INTEGER) AS bin, n,
          |  round(CAST(np AS DOUBLE) / n, 6) AS label_rate,
          |  round(cal, 6) AS calibrated
          |FROM fit""".stripMargin),
    // Before: the q_calibration_ece fold. After: scores remapped
    // through the ROUNDED isotonic values (unseen bins keep the raw
    // score — none here, replayed anyway), then the full reliability
    // report re-runs on the calibrated scores.
    "q_recalibrate_ece" ->
      (QueriesR14.calibrationBinsCte + isotonicCtes +
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
          |SELECT eb.ece_before, ea.ece_after FROM eb, ea""".stripMargin),
    // Full seeded-schedule replay: the thinned history through the
    // same lag/agg/estimator chain as q_recrawl, date arithmetic as
    // whole days x 86400 (timezone-free in both engines), a FULL
    // OUTER join, and the three-way basis CASE. The sitemap side is
    // NOT replayed through an unescape: the CTEs build the TRUE URL
    // spellings directly, so the engine's one-pass reference decode
    // (both the &amp; and &#38; fixture spellings) is itself what the
    // hash gates — a broken decode leaves sitemap rows unjoined AND
    // mints escaped canon_urls.
    "q_recrawl_seeded" ->
      (seededScheduleCtes + """
        |SELECT url, n_revisits, n_changes, interval_s, next_fetch_at_s,
        |  basis
        |FROM sched""".stripMargin),
    // The loop closure replayed: due filter + overdueness priority off
    // the shared schedule CTEs, then the frontier's per-host rank/cap
    // and the VALUES-rendered politeness policy (all fixture URLs are
    // canonicalization fixpoints).
    "q_frontier_due" ->
      (seededScheduleCtes + """,
        |due AS (SELECT url AS canon_url,
        |    CAST(9100000 AS DOUBLE) - next_fetch_at_s AS priority
        |  FROM sched WHERE next_fetch_at_s <= CAST(9100000 AS DOUBLE)),
        |du AS (SELECT canon_url, priority,
        |    regexp_extract(canon_url, '^[a-z][a-z0-9+.-]*://([^/:?]*)', 1)
        |      AS host
        |  FROM due),
        |rk AS (SELECT canon_url, priority, host,
        |    row_number() OVER (PARTITION BY host
        |      ORDER BY priority DESC, canon_url) AS rank
        |  FROM du),
        |cp AS (SELECT * FROM rk WHERE rank <= 50),
        |delays AS (SELECT dhost, CAST(d AS DOUBLE) AS delay_s
        |  FROM (VALUES ('h0.example.com', 2.0), ('h3.example.com', 5.0))
        |    v(dhost, d))
        |SELECT cp.canon_url, cp.priority, cp.host, cp.rank,
        |       coalesce(delays.delay_s, CAST(7 AS DOUBLE)) AS delay_s,
        |       (cp.rank - 1) * coalesce(delays.delay_s, CAST(7 AS DOUBLE))
        |         AS fetch_at_s
        |FROM cp LEFT JOIN delays ON cp.host = delays.dhost""".stripMargin),
    "q_frontier_xml" -> frontierXmlOracle,
    // The FULL-history replay, verbatim: the engine computed the same
    // schedule from merged per-wave sufficient statistics, so a hash
    // match here IS the incremental == full proof.
    "q_recrawl_inc" -> QueriesR14.oracles("q_recrawl"),
    // The three gate components replayed — Mann-Whitney AUC over the
    // internally-quantized score, the integer gap-mass ECE, the
    // smoothed per-bin PSI micro-fold (cur side UNFILTERED by lang:
    // populationStability is label-free) — then the bound compares.
    "q_scorer_gate" ->
      (QueriesR14.calibrationBinsCte + """,
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
        |ta AS (SELECT doc_id, regexp_extract_all(text, '\S+') toks
        |       FROM documents),
        |sa AS (SELECT doc_id, least(
        |    CAST(len(list_filter(toks,
        |        x -> x IN ('the','a','and','of','to','in'))) AS DOUBLE)
        |      / len(toks) / CAST(0.12 AS DOUBLE), CAST(1 AS DOUBLE))
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
        |FROM au, ec, px""".stripMargin),
    // The keyed min-max identity replayed with source carried through
    // every CTE — per-key cumulative sums, per-key segment means,
    // per-key min/max folds.
    // `source IS NOT NULL` mirrors the engine's keyed null drop
    // (isotonicFit excludes null-key rows by contract) even though the
    // fixture has no null sources — the lang IS NOT NULL discipline.
    "q_recalibrate_by" ->
      ("""WITH t AS (SELECT source, lang, regexp_extract_all(text, '\S+') toks
        |           FROM documents
        |           WHERE lang IS NOT NULL AND source IS NOT NULL),
        |s AS (SELECT source, least(
        |    CAST(len(list_filter(toks,
        |        x -> x IN ('the','a','and','of','to','in'))) AS DOUBLE)
        |      / len(toks) / CAST(0.12 AS DOUBLE), CAST(1 AS DOUBLE))
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
        |FROM fit""".stripMargin))

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

  /** The q_recrawl_seeded schedule replay, shared with q_frontier_due —
    * ends in a `sched` CTE with the engine's exact output columns. */
  private[graft] def seededScheduleCtes: String =
      """WITH raw AS (SELECT doc_id,
        |    'http://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/d/'
        |      || CAST(doc_id AS VARCHAR) AS base
        |  FROM documents),
        |h AS (SELECT
        |    CASE WHEN r.doc_id % 10 = 4 THEN r.base || '?a=1&b=2'
        |      ELSE r.base END AS url,
        |    CAST(j AS DOUBLE) *
        |      (CAST(600 AS DOUBLE) + CAST(r.doc_id % 10 AS DOUBLE) * 300)
        |      AS ts,
        |    CAST(j // (r.doc_id % 4 + 1) AS VARCHAR) AS digest
        |  FROM raw r, unnest(generate_series(0, 3)) t(j)
        |  WHERE r.doc_id % 3 <> 2 AND (r.doc_id % 5 <> 0 OR j = 0)),
        |f AS (SELECT url, ts,
        |    CASE
        |      WHEN lag(digest) OVER (PARTITION BY url ORDER BY ts) IS NULL
        |        THEN NULL
        |      WHEN digest <> lag(digest) OVER (PARTITION BY url ORDER BY ts)
        |        THEN 1 ELSE 0 END AS chg
        |  FROM h),
        |a AS (SELECT url, count(*) - 1 AS n_revisits,
        |    CAST(coalesce(sum(chg), 0) AS BIGINT) AS n_changes,
        |    min(ts) AS fts, max(ts) AS lts
        |  FROM f GROUP BY url),
        |sm AS (SELECT
        |    replace(replace(replace(replace(replace(
        |      CASE WHEN doc_id % 10 = 4 THEN base || '?a=1&amp;b=2'
        |        ELSE base END,
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&apos;', ''''), '&amp;', '&') AS url,
        |    max(DATE '1970-01-01' + CAST(doc_id % 120 AS INT)) AS lm
        |  FROM raw WHERE doc_id % 2 = 0 GROUP BY 1),
        |jj AS (SELECT coalesce(a.url, sm.url) AS url,
        |    CAST(coalesce(a.n_revisits, 0) AS BIGINT) AS n_revisits,
        |    CAST(coalesce(a.n_changes, 0) AS BIGINT) AS n_changes,
        |    a.fts, a.lts, sm.lm
        |  FROM a FULL OUTER JOIN sm ON a.url = sm.url),
        |i AS (SELECT url, n_revisits, n_changes, lts, lm,
        |    CASE
        |      WHEN n_revisits > 0 THEN
        |        CASE WHEN n_changes = 0 THEN CAST(2592000 AS DOUBLE)
        |          ELSE least(greatest(
        |            1.0 / (-ln((CAST(n_revisits - n_changes AS DOUBLE) + 0.5)
        |                     / (CAST(n_revisits AS DOUBLE) + 0.5))
        |                   / ((lts - fts) / CAST(n_revisits AS DOUBLE))),
        |            CAST(300 AS DOUBLE)), CAST(2592000 AS DOUBLE)) END
        |      WHEN lm IS NOT NULL THEN least(greatest(
        |          CAST(9000000 AS DOUBLE)
        |            - CAST(lm - DATE '1970-01-01' AS DOUBLE) * 86400,
        |          CAST(300 AS DOUBLE)), CAST(2592000 AS DOUBLE))
        |      ELSE CAST(2592000 AS DOUBLE) END AS iv,
        |    CASE WHEN n_revisits > 0 THEN 'observed'
        |      WHEN lm IS NOT NULL THEN 'sitemap'
        |      ELSE 'default' END AS basis
        |  FROM jj),
        |sched AS (SELECT url, n_revisits, n_changes,
        |    round(iv, 6) AS interval_s,
        |    round(coalesce(lts, CAST(9000000 AS DOUBLE)) + iv, 6)
        |      AS next_fetch_at_s,
        |    basis
        |  FROM i)""".stripMargin

  // q_frontier_seeded's replay plus the index arm: the VALUES-
  // rendered index bodies through the same block/field extraction
  // as q_sitemap_xml, kind='sitemap' blocks only, locs through the
  // same five-replace unescape chain.
  /** q_frontier_xml's oracle. Its `xs` CTE replays the unescape as a
    * five-replace chain — valid because [[SitemapIndexBodies]] holds
    * ONLY named entities (the engine's one-pass scanner is
    * byte-identical to the chain on that domain). Add a numeric
    * `&#NN;` loc to the fixture and this replay must switch to literal
    * replaces of that exact reference, or it diverges by design. */
  private def frontierXmlOracle: String = {
      val valuesRows = SitemapIndexBodies.map { case (h, ls) =>
        val bodyExpr = ls.map {
          case "" => "''"
          case l => s"'${l.replace("'", "''")}'"
        }.mkString(" || chr(10) || ")
        s"  ('$h', $bodyExpr)"
      }.mkString(",\n")
      QueriesR13.robotsCtes +
        s""",
           |sm AS (SELECT DISTINCT host, value AS url FROM l5
           |       WHERE field = 'sitemap' AND value <> ''),
           |delays AS (SELECT l5.host AS dhost,
           |    max(TRY_CAST(value AS DOUBLE)) AS delay_s
           |  FROM l5 JOIN sel ON l5.host = sel.host AND l5.grp = sel.grp
           |  WHERE field = 'crawl-delay' AND TRY_CAST(value AS DOUBLE) >= 0
           |  GROUP BY l5.host),
           |smx(host, body) AS (VALUES
           |$valuesRows),
           |xb AS (SELECT host, unnest(regexp_extract_all(body,
           |        '(?s)<sitemap>(.*?)</sitemap>', 1)) AS block FROM smx),
           |xp AS (SELECT DISTINCT host,
           |    trim(regexp_extract(block, '(?s)<loc>\\s*(.*?)\\s*</loc>', 1))
           |      AS loc,
           |    TRY_CAST(regexp_extract(block,
           |      '<lastmod>\\s*([0-9]{4}-[0-9]{2}-[0-9]{2})', 1) AS DATE)
           |      AS lastmod
           |  FROM xb),
           |xs AS (SELECT replace(replace(replace(replace(replace(loc,
           |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
           |    '&apos;', ''''), '&amp;', '&') AS url
           |  FROM xp WHERE loc <> ''),
           |u AS (SELECT
           |    'http://site' || CAST(doc_id % 6 AS VARCHAR)
           |      || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS canon_url,
           |    CAST(n_chars AS DOUBLE) AS priority,
           |    'site' || CAST(doc_id % 6 AS VARCHAR) || '.example.com' AS host
           |  FROM documents
           |  UNION ALL
           |  SELECT url AS canon_url, 1000000.0 AS priority,
           |    regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/:?]*)', 1) AS host
           |  FROM sm
           |  UNION ALL
           |  SELECT url AS canon_url, 1000000.0 AS priority,
           |    regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/:?]*)', 1) AS host
           |  FROM xs),
           |rk AS (SELECT canon_url, priority, host,
           |    row_number() OVER (PARTITION BY host
           |      ORDER BY priority DESC, canon_url) AS rank
           |  FROM u),
           |cp AS (SELECT * FROM rk WHERE rank <= 40)
           |SELECT cp.canon_url, cp.priority, cp.host, cp.rank,
           |       coalesce(delays.delay_s, 7.0) AS delay_s,
           |       (cp.rank - 1) * coalesce(delays.delay_s, 7.0) AS fetch_at_s
           |FROM cp LEFT JOIN delays ON cp.host = delays.dhost""".stripMargin
  }
}
