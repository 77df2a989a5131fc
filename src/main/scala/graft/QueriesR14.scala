package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Sources.table

/** Round-14 queries: RFC 9309 wildcard gating, the sitemap-seeded
  * frontier, and the IVF quantizer-drift freshness gate.
  *
  *  - q_robots_wild: [[operators.Crawl.robotsFilter]] over `*`/`$`
  *    rule values and query-string URLs — the REP shapes real robots
  *    policies use heavily (session-id Disallow rules) that a plain
  *    prefix matcher treats as dead literals. The oracle replays the
  *    match with HAND-DERIVED anchored regexes per rule
  *    (`regexp_matches`), independently of the engine's translation.
  *  - q_frontier_seeded: [[operators.Crawl.frontierPlanSeeded]] — the
  *    sitemap directives of the shared robots fixture union into the
  *    candidate pool as seed discoveries, politeness delays from the
  *    same bodies; the full raw-fetch-to-schedule composition.
  *  - q_ivf_drift: [[operators.Similarity.quantizerDrift]] over a
  *    DETERMINISTIC 8-cell quantizer (the first 8 embeddings, unit-
  *    normalized — no KMeans, so DuckDB replays the assignment
  *    exactly) with a deliberately SHIFTED delta (first component
  *    +0.5): the fill-rate and within-cell-distance shifts that tell
  *    an operator the frozen quantizer needs a re-fit.
  *  - q_recrawl: [[operators.Crawl.recrawlSchedule]] — Cho &
  *    Garcia-Molina change-rate estimation over a synthesized
  *    per-URL fetch history (period-p digests give change counts
  *    3/1/1/0 across the four doc classes), next fetch one expected
  *    change period out, clamped.
  *  - q_robots_stale: [[operators.Crawl.robotsFreshness]] — RFC 9309
  *    §2.4 cache-TTL verdicts per frontier host, including
  *    never-fetched hosts (stale by definition).
  *  - q_calibration / q_calibration_ece:
  *    [[operators.QualityModel.calibrationReport]] — reliability bins
  *    + expected calibration error for a DETERMINISTIC score
  *    (stopword-ratio, the replayable stand-in for an LR
  *    probability) against the corpus `lang = 'en'` label.
  */
object QueriesR14 {

  private[graft] def robotsBodiesDf(s: SparkSession): DataFrame = {
    import s.implicits._
    QueriesR13.RobotsBodies
      .map { case (h, ls) => (h, ls.mkString(QueriesR13.robotsBodySep(h))) }
      .toDF("host", "body")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- RFC 9309 wildcard gate: `*` spans chars, trailing `$`
    //     anchors, specificity counts LITERAL octets (so the 13-lit
    //     session=pub allow outranks the 10-lit session deny), and
    //     wild1 shows the same URL shapes under a different policy.
    //     Query strings are part of the match target. ---
    "q_robots_wild" -> { (s, d) =>
      import s.implicits._
      // host decoupled from the path class ((doc_id div 6) % 2), so
      // every URL shape meets BOTH policies — including class 5, the
      // bare-host query URL whose RFC match target is "/?session=…"
      // (empty path defaults to "/", urlPathQuery): the shape a
      // leading-slash-less matcher silently allows.
      val h = expr("(doc_id div 6) % 2").cast("string")
      val b = col("doc_id").cast("string")
      val path = when(col("doc_id") % 6 === 0,
          concat(lit("/d/"), b, lit("?session="), b))
        .when(col("doc_id") % 6 === 1,
          concat(lit("/d/"), b, lit("?session=pub")))
        .when(col("doc_id") % 6 === 2, concat(lit("/files/r"), b, lit(".pdf")))
        .when(col("doc_id") % 6 === 3, concat(lit("/files/r"), b, lit(".pdfx")))
        .when(col("doc_id") % 6 === 4, concat(lit("/page/"), b))
        .otherwise(concat(lit("?session="), b))
      val urls = table(s, d, "documents").select(col("doc_id"),
        concat(lit("http://wild"), h, lit(".example.com"), path).as("url"))
      val rules = Seq(
        ("wild0.example.com", "/*?session=", false),
        ("wild0.example.com", "/*?session=pub", true),
        ("wild0.example.com", "/*.pdf$", false),
        ("wild0.example.com", "/page/", false),
        ("wild1.example.com", "/files/*.pdf$", false),
        ("wild1.example.com", "/d/", true),
        ("wild1.example.com", "/d/*?session=", false),
        ("wild1.example.com", "/*?session=", false)
      ).toDF("host", "prefix", "allow")
      operators.Crawl.robotsFilter(urls, "url", "doc_id", rules)
    },
    // --- sitemap-seeded frontier: seeds from the robots bodies (site0
    //     two, site4 one — GLOBAL directives, group selection does not
    //     apply), politeness delays from the same bodies via
    //     parseCrawlDelay, organic candidates on six hosts. Seed
    //     priority 1e6 outranks every organic candidate, so sitemaps
    //     schedule at rank 1 on their hosts. ---
    "q_frontier_seeded" -> { (s, d) =>
      val bodies = robotsBodiesDf(s)
      val h = (col("doc_id") % 6).cast("string")
      val cand = table(s, d, "documents").select(
        concat(lit("http://site"), h, lit(".example.com/p/"),
          col("doc_id").cast("string")).as("url"),
        col("n_chars").as("priority"))
      val policy = operators.Crawl.parseCrawlDelay(
        bodies, "host", "body", "graftbot")
      operators.Crawl.frontierPlanSeeded(
        cand, "url", "priority", bodies, "host", "body", policy,
        defaultDelayS = 7.0, maxPerHost = 40, seedPriority = 1e6)
    },
    // --- quantizer drift: deterministic 8-cell quantizer, base = the
    //     6/7 slice assigned to it, delta = the 1/7 slice with its
    //     first embedding component shifted +0.5 before assignment —
    //     the report must show the delta's mass piling into the
    //     shifted-direction cells and its mean within-cell distance
    //     rising. Fixed-point micro sums keep the means bit-stable
    //     and hash-comparable. ---
    "q_ivf_drift" -> { (s, d) =>
      val e = table(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val vd = col("embedding").cast("array<double>")
      val nrm = sqrt(aggregate(transform(vd, x => x * x),
        lit(0.0), (a, x) => a + x))
      val centroids = e.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("cell"),
          transform(vd, x => x / nrm).as("centroid"))
      val base = operators.Similarity.extendIvfIndex(
        e.filter(col("vec_id") % 7 =!= 0), centroids, "vec_id", "embedding")
      val shifted = e.filter(col("vec_id") % 7 === 0)
        .select(col("vec_id"),
          transform(vd, (x, i) => when(i === 0, x + lit(0.5)).otherwise(x))
            .as("embedding"))
      val delta = operators.Similarity.extendIvfIndex(
        shifted, centroids, "vec_id", "embedding")
      operators.Similarity.quantizerDrift(
        base, delta, centroids, "embedding")
    },
    // --- recrawl scheduling: 4 fetches per URL at a per-URL cadence
    //     (600..3300 s), digests changing every `period` fetches with
    //     period = doc_id % 4 + 1 — change counts 3/1/1/0, so the
    //     schedule spans the estimator's whole range: fast changers
    //     recrawl at ~gap/1.946, slow at ~2.97*gap, never-changed at
    //     the max clamp. ---
    "q_recrawl" -> { (s, d) =>
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
          floor(col("j") / period).cast("string").as("digest"))
      operators.Crawl.recrawlSchedule(hist, "url", "fetched_at_s", "digest",
        minIntervalS = 300.0, maxIntervalS = 2592000.0)
    },
    // --- robots cache freshness: ten hosts fetched at descending
    //     times (ages 50k..140k s at now), two frontier hosts never
    //     fetched; TTL 86400 splits the fetched set at age 90k. ---
    "q_robots_stale" -> { (s, d) =>
      import s.implicits._
      val log = (0 until 10)
        .map(i => (s"h$i.example.com", 1000000.0 - i * 10000.0))
        .toDF("host", "fetched_at_s")
      val frontier = table(s, d, "documents").select(
        concat(lit("http://h"), (col("doc_id") % 12).cast("string"),
          lit(".example.com/p/"), col("doc_id").cast("string")).as("url"))
      operators.Crawl.robotsFreshness(frontier, "url",
        log, "host", "fetched_at_s", nowS = 1050000.0, ttlS = 86400.0)
    },
    // --- calibration report: stopword-ratio score (deterministic, so
    //     the bins replay exactly — an LR probability would be
    //     engine-specific) against the lang='en' label; ten
    //     reliability bins with fixed-point mean scores. ---
    "q_calibration" -> ((s, d) =>
      operators.QualityModel.calibrationReport(
        calibrationScored(s, d), "score", "label")),
    // --- its scalar: expected calibration error off the ROUNDED bin
    //     table — integer gap-mass fold, bit-exact at any merge
    //     order. ---
    "q_calibration_ece" -> ((s, d) =>
      operators.QualityModel.expectedCalibrationError(
        operators.QualityModel.calibrationReport(
          calibrationScored(s, d), "score", "label"))),
    // --- the ranking companion: Mann-Whitney ROC-AUC of the same
    //     score/label pair — distinct-score collapse first, so the
    //     only ordered window runs over score cardinality. Since
    //     round 15 the operator quantizes INSIDE (scale = 6 default,
    //     hard-bounding the window at 10^6 + 1 rows), so the raw
    //     continuous score goes straight in — the round-14 "round
    //     upstream" precondition no longer exists. ---
    "q_auc" -> ((s, d) =>
      operators.QualityModel.rocAuc(
        calibrationScored(s, d), "score", "label")),
    // --- Hamilton apportionment: a 1e9-token budget split across the
    //     corpus sources ∝ their character mass — integer allocations
    //     summing to EXACTLY the budget, leftover seats by largest
    //     remainder (remainders ARE the W-scaled fractional parts, so
    //     no double decides a seat). ---
    "q_apportion" -> ((s, d) =>
      operators.Curation.apportionBudget(
        table(s, d, "documents").groupBy(col("source"))
          .agg(sum(col("n_chars")).as("w")),
        "source", "w", budget = 1000000000L)),
    // --- the filter the score becomes: confusion counts + rates at
    //     threshold 0.5 over the same score/label pair — null rates
    //     where undefined, never a silent zero. ---
    "q_confusion" -> ((s, d) =>
      operators.QualityModel.thresholdReport(
        calibrationScored(s, d), "score", "label", threshold = 0.5)),
    // --- score-distribution drift: PSI between the even-id half
    //     scored at the baseline scaling (/0.12) and the odd-id half
    //     scored HOTTER (/0.10) — genuine distribution shift, per-bin
    //     terms say where it lives; Jeffreys +0.5 smoothing keeps
    //     empty bins defined. ---
    "q_psi" -> { (s, d) =>
      val base = scaledScore(s, d, 0.12).filter(col("__even"))
      val cur = scaledScore(s, d, 0.10).filter(!col("__even"))
      operators.QualityModel.populationStability(base, cur, "score")
    },
    // --- sitemap BODY parsing: urlset entries with W3C lastmod
    //     prefixes (time suffixes tolerated, junk -> null), a sitemap
    //     INDEX child table, duplicate locs collapsing, multiline
    //     whitespace — the per-URL freshness feed for recrawl. ---
    "q_sitemap_xml" -> { (s, d) =>
      import s.implicits._
      val bodies = SitemapBodies
        .map { case (h, ls) => (h, ls.mkString("\n")) }
        .toDF("host", "body")
      operators.Crawl.parseSitemapBodies(bodies, "host", "body")
    })

  /** The q_sitemap_xml fixture: one Scala constant rendered into both
    * engines (toDF here, VALUES + chr(10) in the oracle), exercising
    * the regex-subset corners: lastmod with and without a time
    * suffix, absent lastmod, junk lastmod, a sitemap INDEX body, a
    * duplicated loc, and tags split across lines. */
  private[graft] val SitemapBodies: Seq[(String, Seq[String])] = Seq(
    "maps0.example.com" -> Seq(
      "<?xml version=\"1.0\" encoding=\"UTF-8\"?>",
      "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">",
      "  <url>",
      "    <loc>http://maps0.example.com/a</loc>",
      "    <lastmod>2026-07-01</lastmod>",
      "  </url>",
      "  <url><loc>http://maps0.example.com/b</loc>",
      "    <lastmod>2026-07-15T08:30:00Z</lastmod></url>",
      "  <url><loc> http://maps0.example.com/c </loc></url>",
      "  <url><loc>http://maps0.example.com/a</loc>",
      "    <lastmod>2026-07-01</lastmod></url>",
      "</urlset>"),
    "maps1.example.com" -> Seq(
      "<sitemapindex>",
      "  <sitemap><loc>http://maps1.example.com/sm-a.xml</loc>",
      "    <lastmod>2026-06-30</lastmod></sitemap>",
      "  <sitemap>",
      "    <loc>http://maps1.example.com/sm-b.xml</loc>",
      "  </sitemap>",
      "</sitemapindex>"),
    "maps2.example.com" -> Seq(
      "<urlset>",
      "  <url><loc>http://maps2.example.com/x</loc>",
      "    <lastmod>soon</lastmod></url>",
      "  <url><lastmod>2026-01-01</lastmod></url>",
      "</urlset>"))

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

  private[graft] def calibrationScored(
      s: SparkSession, d: String): DataFrame =
    scoreLabel(table(s, d, "documents"))

  /** The q_psi scoring: [[stopRatio]] at a caller-chosen scale
    * divisor, with the even/odd split flag for the two releases. */
  private def scaledScore(
      s: SparkSession, d: String, div: Double): DataFrame =
    table(s, d, "documents").select(
      least(stopRatio / lit(div), lit(1.0)).as("score"),
      (col("doc_id") % 2 === 0).as("__even"))

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

  val oracles: Map[String, String] = Map(
    // Hand-derived regex + literal-length per rule — an independent
    // derivation of the engine's RFC 9309 translation, not a replay of
    // it.
    "q_robots_wild" ->
      """WITH c AS (SELECT doc_id,
        |    CASE doc_id % 6
        |      WHEN 0 THEN '/d/' || CAST(doc_id AS VARCHAR)
        |        || '?session=' || CAST(doc_id AS VARCHAR)
        |      WHEN 1 THEN '/d/' || CAST(doc_id AS VARCHAR) || '?session=pub'
        |      WHEN 2 THEN '/files/r' || CAST(doc_id AS VARCHAR) || '.pdf'
        |      WHEN 3 THEN '/files/r' || CAST(doc_id AS VARCHAR) || '.pdfx'
        |      WHEN 4 THEN '/page/' || CAST(doc_id AS VARCHAR)
        |      ELSE '?session=' || CAST(doc_id AS VARCHAR)
        |    END AS rawpath,
        |    'wild' || CAST((doc_id // 6) % 2 AS VARCHAR)
        |      || '.example.com' AS host
        |  FROM documents),
        |cc AS (SELECT doc_id, 'http://' || host || rawpath AS canon_url,
        |    host,
        |    CASE WHEN rawpath LIKE '/%' THEN rawpath
        |      ELSE '/' || rawpath END AS path
        |  FROM c),
        |r(rhost, rex, litlen, allow) AS (VALUES
        |  ('wild0.example.com', '^/.*\?session=', 10, false),
        |  ('wild0.example.com', '^/.*\?session=pub', 13, true),
        |  ('wild0.example.com', '^/.*\.pdf$', 5, false),
        |  ('wild0.example.com', '^/page/', 6, false),
        |  ('wild1.example.com', '^/files/.*\.pdf$', 11, false),
        |  ('wild1.example.com', '^/d/', 3, true),
        |  ('wild1.example.com', '^/d/.*\?session=', 12, false),
        |  ('wild1.example.com', '^/.*\?session=', 10, false)),
        |m AS (SELECT cc.doc_id, cc.canon_url, cc.host, cc.path,
        |    max(CASE WHEN r.rex IS NOT NULL
        |        THEN r.litlen * 2 + CAST(r.allow AS INT) END) AS best
        |  FROM cc LEFT JOIN r
        |    ON cc.host = r.rhost AND regexp_matches(cc.path, r.rex)
        |  GROUP BY 1, 2, 3, 4)
        |SELECT doc_id, canon_url, host, path,
        |       (best IS NULL OR best % 2 = 1) AS allowed,
        |       CAST(best // 2 AS INT) AS matched_len
        |FROM m""".stripMargin,
    "q_frontier_seeded" ->
      (QueriesR13.robotsCtes +
        """,
          |sm AS (SELECT DISTINCT host, value AS url FROM l5
          |       WHERE field = 'sitemap' AND value <> ''),
          |delays AS (SELECT l5.host AS dhost,
          |    max(TRY_CAST(value AS DOUBLE)) AS delay_s
          |  FROM l5 JOIN sel ON l5.host = sel.host AND l5.grp = sel.grp
          |  WHERE field = 'crawl-delay' AND TRY_CAST(value AS DOUBLE) >= 0
          |  GROUP BY l5.host),
          |u AS (SELECT
          |    'http://site' || CAST(doc_id % 6 AS VARCHAR)
          |      || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS canon_url,
          |    CAST(n_chars AS DOUBLE) AS priority,
          |    'site' || CAST(doc_id % 6 AS VARCHAR) || '.example.com' AS host
          |  FROM documents
          |  UNION ALL
          |  SELECT url AS canon_url, 1000000.0 AS priority,
          |    regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/:?]*)', 1) AS host
          |  FROM sm),
          |rk AS (SELECT canon_url, priority, host,
          |    row_number() OVER (PARTITION BY host
          |      ORDER BY priority DESC, canon_url) AS rank
          |  FROM u),
          |cp AS (SELECT * FROM rk WHERE rank <= 40)
          |SELECT cp.canon_url, cp.priority, cp.host, cp.rank,
          |       coalesce(delays.delay_s, 7.0) AS delay_s,
          |       (cp.rank - 1) * coalesce(delays.delay_s, 7.0) AS fetch_at_s
          |FROM cp LEFT JOIN delays ON cp.host = delays.dhost""".stripMargin),
    // The assignment argmin and both drift signals replayed from the
    // raw embeddings — same unit-normalization, same squared-euclid
    // fold, same fixed-point micro rounding before the sums.
    "q_ivf_drift" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
        |           FROM embeddings),
        |cents AS (SELECT CAST(vec_id AS INT) AS cell,
        |    list_transform(v, x -> x / n) AS c
        |  FROM (SELECT vec_id, v,
        |          sqrt(list_sum(list_transform(v, y -> y * y))) AS n
        |        FROM e)
        |  WHERE vec_id < 8),
        |bsrc AS (SELECT vec_id, v FROM e WHERE vec_id % 7 <> 0),
        |dsrc AS (SELECT vec_id,
        |    list_transform(generate_series(1, len(v)),
        |      i -> CASE WHEN i = 1 THEN v[i] + 0.5 ELSE v[i] END) AS v
        |  FROM e WHERE vec_id % 7 = 0),
        |bu AS (SELECT vec_id, list_transform(v, x -> x / n) AS u
        |  FROM (SELECT vec_id, v,
        |          sqrt(list_sum(list_transform(v, y -> y * y))) AS n
        |        FROM bsrc) WHERE n > 0),
        |du AS (SELECT vec_id, list_transform(v, x -> x / n) AS u
        |  FROM (SELECT vec_id, v,
        |          sqrt(list_sum(list_transform(v, y -> y * y))) AS n
        |        FROM dsrc) WHERE n > 0),
        |bd AS (SELECT vec_id, cell,
        |    list_sum(list_transform(generate_series(1, len(u)),
        |      i -> (u[i] - c[i]) * (u[i] - c[i]))) AS d2
        |  FROM bu CROSS JOIN cents),
        |dd AS (SELECT vec_id, cell,
        |    list_sum(list_transform(generate_series(1, len(u)),
        |      i -> (u[i] - c[i]) * (u[i] - c[i]))) AS d2
        |  FROM du CROSS JOIN cents),
        |bass AS (SELECT cell, d2 FROM (SELECT cell, d2,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        |  FROM bd) WHERE rn = 1),
        |dass AS (SELECT cell, d2 FROM (SELECT cell, d2,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        |  FROM dd) WHERE rn = 1),
        |bstat AS (SELECT cell, count(*) AS n_base,
        |    sum(CAST(round(d2 * 1e6) AS BIGINT)) AS d2b
        |  FROM bass GROUP BY cell),
        |dstat AS (SELECT cell, count(*) AS n_delta,
        |    sum(CAST(round(d2 * 1e6) AS BIGINT)) AS d2d
        |  FROM dass GROUP BY cell),
        |j AS (SELECT cents.cell, coalesce(n_base, 0) AS n_base,
        |    coalesce(n_delta, 0) AS n_delta, d2b, d2d
        |  FROM cents LEFT JOIN bstat USING (cell)
        |    LEFT JOIN dstat USING (cell)),
        |t AS (SELECT *, sum(n_base) OVER () AS tb,
        |    sum(n_delta) OVER () AS td FROM j),
        |f AS (SELECT cell, n_base, n_delta,
        |    round(CAST(n_base AS DOUBLE) / greatest(tb, 1), 6) AS fill_base,
        |    round(CAST(n_delta AS DOUBLE) / greatest(td, 1), 6) AS fill_delta,
        |    CASE WHEN n_base > 0
        |      THEN round(CAST(d2b AS DOUBLE) / 1e6 / n_base, 6) END
        |      AS mean_d2_base,
        |    CASE WHEN n_delta > 0
        |      THEN round(CAST(d2d AS DOUBLE) / 1e6 / n_delta, 6) END
        |      AS mean_d2_delta
        |  FROM t)
        |SELECT cell, CAST(n_base AS BIGINT) AS n_base,
        |       CAST(n_delta AS BIGINT) AS n_delta,
        |       fill_base, fill_delta,
        |       round(fill_delta - fill_base, 6) AS fill_shift,
        |       mean_d2_base, mean_d2_delta,
        |       CASE WHEN n_base > 0 AND n_delta > 0
        |         THEN round(mean_d2_delta - mean_d2_base, 6) END AS d2_shift
        |FROM f""".stripMargin,
    // Full estimator replay: same synthesis, same lag-based change
    // flags, same bias-corrected ln fold — every intermediate cast to
    // DOUBLE so DuckDB never routes the arithmetic through DECIMAL.
    "q_recrawl" ->
      """WITH h AS (SELECT
        |    'http://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/d/'
        |      || CAST(doc_id AS VARCHAR) AS url,
        |    CAST(j AS DOUBLE) *
        |      (CAST(600 AS DOUBLE) + CAST(doc_id % 10 AS DOUBLE) * 300)
        |      AS ts,
        |    CAST(j // (doc_id % 4 + 1) AS VARCHAR) AS digest
        |  FROM documents, unnest(generate_series(0, 3)) t(j)),
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
        |i AS (SELECT url, n_revisits, n_changes, lts,
        |    CASE WHEN n_revisits = 0 OR n_changes = 0
        |      THEN CAST(2592000 AS DOUBLE)
        |      ELSE least(greatest(
        |        1.0 / (-ln((CAST(n_revisits - n_changes AS DOUBLE) + 0.5)
        |                 / (CAST(n_revisits AS DOUBLE) + 0.5))
        |               / ((lts - fts) / CAST(n_revisits AS DOUBLE))),
        |        CAST(300 AS DOUBLE)), CAST(2592000 AS DOUBLE)) END AS iv
        |  FROM a)
        |SELECT url, n_revisits, n_changes, round(iv, 6) AS interval_s,
        |       round(lts + iv, 6) AS next_fetch_at_s
        |FROM i""".stripMargin,
    "q_robots_stale" -> {
      val valuesRows = (0 until 10)
        .map(i => s"  ('h$i.example.com', ${1000000.0 - i * 10000.0})")
        .mkString(",\n")
      s"""WITH rl AS (SELECT host, CAST(fts AS DOUBLE) AS fts
         |  FROM (VALUES
         |$valuesRows) v(host, fts)),
         |fr AS (SELECT 'h' || CAST(doc_id % 12 AS VARCHAR)
         |    || '.example.com' AS host, count(*) AS n_queued
         |  FROM documents GROUP BY 1)
         |SELECT fr.host, fr.n_queued, rl.fts AS last_fetch_s,
         |  round(CAST(1050000 AS DOUBLE) - rl.fts, 6) AS age_s,
         |  (rl.fts IS NULL
         |    OR CAST(1050000 AS DOUBLE) - rl.fts > CAST(86400 AS DOUBLE))
         |    AS stale
         |FROM fr LEFT JOIN rl ON fr.host = rl.host""".stripMargin
    },
    "q_calibration" ->
      (calibrationBinsCte +
        """
          |SELECT CAST(bin AS INTEGER) AS bin, n, mean_score, label_rate,
          |  gap FROM rep""".stripMargin),
    "q_calibration_ece" ->
      (calibrationBinsCte +
        """
          |SELECT CAST(count(*) AS BIGINT) AS n_bins,
          |  CAST(sum(n) AS BIGINT) AS n_rows,
          |  CAST((2 * sum(CAST(round(abs(gap) * 1e6) AS BIGINT) * n)
          |      + sum(n)) // (2 * sum(n)) AS DOUBLE) / 1e6 AS ece
          |FROM rep""".stripMargin),
    // Mann-Whitney replay: distinct-score groups, inclusive running
    // count, tie-block average ranks, rank-sum fold — the same
    // halves-exact double arithmetic as the operator.
    "q_auc" ->
      // lang IS NOT NULL: rocAuc drops null labels (they must not
      // occupy rank positions) — mirror it so the gate stays exact on
      // a corpus with null-lang rows.
      """WITH t AS (SELECT lang, regexp_extract_all(text, '\S+') toks
        |           FROM documents WHERE lang IS NOT NULL),
        |s AS (SELECT round(least(
        |    CAST(len(list_filter(toks,
        |        x -> x IN ('the','a','and','of','to','in'))) AS DOUBLE)
        |      / len(toks) / CAST(0.12 AS DOUBLE), CAST(1 AS DOUBLE)), 6)
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
        |FROM a""".stripMargin,
    // Pure integer replay: base seats by div, leftover seats to the
    // largest (budget*w) mod W remainders, ties by key.
    "q_apportion" ->
      // The engine (Curation.apportionBudget) drops null/zero-weight
      // keys before seating; mirror that filter here so a source whose
      // summed mass is ever 0 or null cannot open an engine-vs-oracle
      // row-count divergence (round-15 ADVICE).
      ("""WITH k AS (SELECT source AS key,
        |    CAST(sum(n_chars) AS BIGINT) AS weight
        |  FROM documents GROUP BY source
        |  HAVING sum(n_chars) IS NOT NULL AND sum(n_chars) > 0),
        |""".stripMargin + hamiltonSql("k", 1000000000L)),
    "q_confusion" ->
      """WITH t AS (SELECT lang, regexp_extract_all(text, '\S+') toks
        |           FROM documents),
        |s AS (SELECT least(
        |    CAST(len(list_filter(toks,
        |        x -> x IN ('the','a','and','of','to','in'))) AS DOUBLE)
        |      / len(toks) / CAST(0.12 AS DOUBLE), CAST(1 AS DOUBLE))
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
        |FROM a""".stripMargin,
    // Same tokenize/score replay at the two scale divisors, then the
    // smoothed PSI fold — every quotient computed in DOUBLE.
    "q_psi" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') toks
        |           FROM documents),
        |r AS (SELECT doc_id,
        |    CAST(len(list_filter(toks,
        |        x -> x IN ('the','a','and','of','to','in'))) AS DOUBLE)
        |      / len(toks) AS ratio FROM t),
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
        |FROM j, tt""".stripMargin,
    // Byte-identical bodies via VALUES + chr(10); the same RE2
    // block/field extraction and W3C date-prefix cast.
    "q_sitemap_xml" -> {
      val valuesRows = SitemapBodies.map { case (h, ls) =>
        val bodyExpr = ls.map {
          case "" => "''"
          case l => s"'${l.replace("'", "''")}'"
        }.mkString(" || chr(10) || ")
        s"  ('$h', $bodyExpr)"
      }.mkString(",\n")
      s"""WITH bodies(host, body) AS (VALUES
         |$valuesRows),
         |u AS (SELECT host, unnest(regexp_extract_all(body,
         |        '(?s)<url>(.*?)</url>', 1)) AS block, 'url' AS kind
         |      FROM bodies),
         |sm AS (SELECT host, unnest(regexp_extract_all(body,
         |        '(?s)<sitemap>(.*?)</sitemap>', 1)) AS block,
         |        'sitemap' AS kind
         |      FROM bodies),
         |e AS (SELECT * FROM u UNION ALL SELECT * FROM sm),
         |p AS (SELECT host,
         |    trim(regexp_extract(block, '(?s)<loc>\\s*(.*?)\\s*</loc>', 1))
         |      AS loc,
         |    TRY_CAST(regexp_extract(block,
         |      '<lastmod>\\s*([0-9]{4}-[0-9]{2}-[0-9]{2})', 1) AS DATE)
         |      AS lastmod,
         |    kind FROM e)
         |SELECT DISTINCT host, loc, lastmod, kind
         |FROM p WHERE loc <> ''""".stripMargin
    })

  /** The q_calibration bin-table replay both calibration oracles
    * share: tokenize, stopword-ratio score clipped into [0, 1], decile
    * bins, fixed-point mean scores — ending in a `rep` CTE with the
    * operator's exact output columns. */
  private[graft] def calibrationBinsCte: String =
    // lang IS NOT NULL mirrors the engine's null-LABEL drop (the
    // three-report contract): a null-lang row must not count in any
    // bin's n/mean_score on either side of the gate.
    """WITH t AS (SELECT lang, regexp_extract_all(text, '\S+') toks
      |           FROM documents WHERE lang IS NOT NULL),
      |s AS (SELECT least(
      |    CAST(len(list_filter(toks,
      |        x -> x IN ('the','a','and','of','to','in'))) AS DOUBLE)
      |      / len(toks) / CAST(0.12 AS DOUBLE), CAST(1 AS DOUBLE))
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
}
