package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Sources.table

/** The crawl front: URL canonicalization and dedup, host and domain reports,
  * robots.txt parsing and gating (prefix and RFC 9309 wildcard rules),
  * traps, mirrors, sitemaps, politeness-scheduled frontiers, recrawl
  * schedules and per-host fetch budgets.
  *
  * The synthetic corpus carries no URLs, fetches or robots files, so each
  * query synthesizes them DETERMINISTICALLY from doc_id, and each oracle
  * replays the identical synthesis in DuckDB.
  */
object CrawlQueries {

  /** Deterministic messy-URL synthesis shared by the three URL queries. */
  private def withUrl(df: DataFrame): DataFrame = {
    val base = floor(col("doc_id") / 4).cast("long")
    val v = col("doc_id") % 4
    val h = (base % 7).cast("string")
    val b = base.cast("string")
    val url = when(v === 0, concat(
        lit("HTTP://WWW.Site"), h, lit(".EXAMPLE.COM:80/a/"), b,
        lit("/?id="), b, lit("&utm_source=feed")))
      .when(v === 1, concat(
        lit("http://site"), h, lit(".example.com/a/"), b, lit("?id="), b))
      .when(v === 2, concat(
        lit("http://site"), h, lit(".example.com:80/a/"), b,
        lit("/index.html?id="), b, lit("#sec-2")))
      .otherwise(concat(
        lit("HTTPS://site"), h, lit(".example.com:443/b/"), b))
    df.select(col("doc_id"), col("n_chars"), url.as("url"))
  }

  /** The DuckDB replay of [[withUrl]] as a CTE named `u`. */
  private val UrlCte =
    """u AS (SELECT doc_id, n_chars,
      |  CASE doc_id % 4
      |    WHEN 0 THEN 'HTTP://WWW.Site' || CAST((doc_id // 4) % 7 AS VARCHAR)
      |      || '.EXAMPLE.COM:80/a/' || CAST(doc_id // 4 AS VARCHAR)
      |      || '/?id=' || CAST(doc_id // 4 AS VARCHAR) || '&utm_source=feed'
      |    WHEN 1 THEN 'http://site' || CAST((doc_id // 4) % 7 AS VARCHAR)
      |      || '.example.com/a/' || CAST(doc_id // 4 AS VARCHAR)
      |      || '?id=' || CAST(doc_id // 4 AS VARCHAR)
      |    WHEN 2 THEN 'http://site' || CAST((doc_id // 4) % 7 AS VARCHAR)
      |      || '.example.com:80/a/' || CAST(doc_id // 4 AS VARCHAR)
      |      || '/index.html?id=' || CAST(doc_id // 4 AS VARCHAR) || '#sec-2'
      |    ELSE 'HTTPS://site' || CAST((doc_id // 4) % 7 AS VARCHAR)
      |      || '.example.com:443/b/' || CAST(doc_id // 4 AS VARCHAR)
      |  END AS url
      |  FROM documents)""".stripMargin

  /** The DuckDB replay of [[operators.Crawl.canonicalizeUrl]] as a CTE
    * named `c` over `u` — the GENERIC rule set re-expressed in SQL
    * (regex-by-regex, not a shape-specific shortcut), so the oracle
    * actually checks the canonicalizer. */
  private val CanonCte =
    """c AS (SELECT doc_id, n_chars, url,
      |    CASE WHEN scheme = '' THEN lower(url)
      |         ELSE scheme || '://' || host || portpart || path ||
      |              CASE WHEN q = '' THEN '' ELSE '?' || q END
      |    END AS canon_url,
      |    CASE WHEN scheme = '' THEN '' ELSE host END AS host
      |  FROM (
      |    SELECT doc_id, n_chars, url, scheme, hostport,
      |      regexp_replace(lower(regexp_replace(hostport, ':[0-9]+$', '')),
      |                     '^www\.', '') AS host,
      |      CASE WHEN port = '' THEN ''
      |           WHEN scheme = 'http' AND port = '80' THEN ''
      |           WHEN scheme = 'https' AND port = '443' THEN ''
      |           ELSE ':' || port END AS portpart,
      |      regexp_replace(rawpath, '(/index\.html|/)+$', '') AS path,
      |      coalesce(array_to_string(list_sort(list_filter(
      |        string_split(rawq, '&'),
      |        p -> p <> '' AND NOT starts_with(p, 'utm_'))), '&'), '') AS q
      |    FROM (
      |      SELECT doc_id, n_chars, url,
      |        lower(regexp_extract(nofrag,
      |          '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |        regexp_extract(nofrag,
      |          '^[A-Za-z][A-Za-z0-9+.-]*://([^/?]*)', 1) AS hostport,
      |        regexp_extract(regexp_extract(nofrag,
      |          '^[A-Za-z][A-Za-z0-9+.-]*://([^/?]*)', 1),
      |          ':([0-9]+)$', 1) AS port,
      |        regexp_extract(nofrag,
      |          '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*([^?]*)', 1) AS rawpath,
      |        regexp_extract(nofrag, '\?(.*)$', 1) AS rawq
      |      FROM (SELECT doc_id, n_chars, url,
      |              regexp_replace(url, '#.*$', '') AS nofrag FROM u))))""".stripMargin

  /** The mirror-fetch synthesis of the mirror queries: every doc is
    * served by its h<k> host, every third also by an m<k> mirror, and
    * with `ways = 3` every sixth also by a w<k> mirror, so (h, m, w)
    * clusters of size 3 exercise transitivity. Columns (doc_id, host,
    * text). */
  private def mirrorFetches(s: SparkSession, d: String, ways: Int): DataFrame = {
    val k = (col("doc_id") % 10).cast("string")
    val base = table(s, d, "documents")
    def served(prefix: String, every: Int): DataFrame =
      base.filter(col("doc_id") % every === 0).select(col("doc_id"),
        concat(lit(prefix), k, lit(".example.com")).as("host"), col("text"))
    val hm = base.select(col("doc_id"),
        concat(lit("h"), k, lit(".example.com")).as("host"), col("text"))
      .unionByName(served("m", 3))
    if (ways == 2) hm else hm.unionByName(served("w", 6))
  }

  /** The DuckDB replay of [[mirrorFetches]] (with `doc_id` first when
    * `withId`). */
  private def mirrorFetchesSql(ways: Int, withId: Boolean = false): String = {
    val id = if (withId) "doc_id, " else ""
    val mirrors = Seq("m" -> 3, "w" -> 6).take(ways - 1).map { case (prefix, every) =>
      s"SELECT $id'$prefix' || CAST(doc_id % 10 AS VARCHAR) || '.example.com'," +
        s"\n    text FROM documents WHERE doc_id % $every = 0"
    }
    val primary = s"SELECT $id'h' || CAST(doc_id % 10 AS VARCHAR) || '.example.com'" +
      "\n    AS host, text FROM documents"
    (primary +: mirrors).mkString("\n  ", "\n  UNION ALL\n  ", "")
  }

  /** The DuckDB replay of [[operators.Crawl.mirrorHosts]] over the
    * fetches `f`: CTEs hd, fr, p and the mirror pairs mp (each name
    * suffixed with `sfx`). */
  private def mirrorPairCtes(f: String, sfx: String = ""): String =
    s"""hd$sfx AS (SELECT DISTINCT host, text FROM $f),
       |fr$sfx AS (SELECT text FROM
       |    (SELECT text, count(*) AS c FROM hd$sfx GROUP BY text)
       |  WHERE c BETWEEN 2 AND 5),
       |p$sfx AS (SELECT hd$sfx.host, hd$sfx.text FROM hd$sfx JOIN fr$sfx USING (text)),
       |mp$sfx AS (SELECT a.host AS host_a, b.host AS host_b
       |  FROM p$sfx a JOIN p$sfx b ON a.text = b.text AND a.host < b.host
       |  GROUP BY a.host, b.host HAVING count(*) >= 3)""".stripMargin

  /** The DuckDB replay of [[operators.Crawl.mirrorClusters]]' closure of
    * the pairs `mp`: CTE rep(host, canonical_host), the least host
    * reachable from each paired host. */
  private val MirrorClosureCtes =
    """edges AS (SELECT host_a AS src, host_b AS dst FROM mp
      |          UNION ALL SELECT host_b, host_a FROM mp),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      |rep AS (SELECT src AS host, least(src, min(dst)) AS canonical_host
      |        FROM reach GROUP BY src)""".stripMargin

  /** The trap-signature fetch log: even doc_ids mint one /d/<id> URL
    * each (50 distinct URLs per host and template cell), odd ones cycle
    * 7 stable /p/<k> pages. */
  private def trapFetchLog(s: SparkSession, d: String): DataFrame = {
    val h = (col("doc_id") % 5).cast("string")
    val url = when(col("doc_id") % 2 === 0, concat(
        lit("http://site"), h, lit(".example.com/d/"),
        col("doc_id").cast("string")))
      .otherwise(concat(
        lit("http://site"), h, lit(".example.com/p/"),
        (col("doc_id") % 7).cast("string")))
    table(s, d, "documents").select(url.as("url"))
  }

  /** The DuckDB replay of [[trapFetchLog]]. Like every SQL fragment
    * here, no line of it starts with `|`, so it may be interpolated into
    * a string that is then `stripMargin`ed. */
  private val TrapFetchLogSql =
    """SELECT CASE WHEN doc_id % 2 = 0
      |      THEN 'http://site' || CAST(doc_id % 5 AS VARCHAR) ||
      |        '.example.com/d/' || CAST(doc_id AS VARCHAR)
      |      ELSE 'http://site' || CAST(doc_id % 5 AS VARCHAR) ||
      |        '.example.com/p/' || CAST(doc_id % 7 AS VARCHAR)
      |    END AS url FROM documents""".stripMargin

  /** The candidates of the gated frontiers: paths cycle 4 shapes so
    * every gate bites — /private/ paths robots-denied, /d/<id> in a
    * mined trap cell, /public/ and /p<id> paths surviving. Columns (url, priority). */
  private def gatedCandidates(s: SparkSession, d: String): DataFrame = {
    val h = (col("doc_id") % 5).cast("string")
    val b = col("doc_id").cast("string")
    val path = when(col("doc_id") % 4 === 0, concat(lit("/private/p"), b))
      .when(col("doc_id") % 4 === 1, concat(lit("/d/"), b))
      .when(col("doc_id") % 4 === 2, concat(lit("/public/p"), b))
      .otherwise(concat(lit("/p"), b))
    table(s, d, "documents").select(
      concat(lit("http://site"), h, lit(".example.com"), path).as("url"),
      col("n_chars").as("priority"))
  }

  /** The DuckDB replay of [[gatedCandidates]], with the URL parsed into
    * its host (named `hostCol`) and path. */
  private def gatedCandidatesSql(hostCol: String): String =
    s"""SELECT
       |    'http://site' || CAST(doc_id % 5 AS VARCHAR) || '.example.com' ||
       |      CASE doc_id % 4
       |        WHEN 0 THEN '/private/p' || CAST(doc_id AS VARCHAR)
       |        WHEN 1 THEN '/d/' || CAST(doc_id AS VARCHAR)
       |        WHEN 2 THEN '/public/p' || CAST(doc_id AS VARCHAR)
       |        ELSE '/p' || CAST(doc_id AS VARCHAR)
       |      END AS canon_url,
       |    'site' || CAST(doc_id % 5 AS VARCHAR) || '.example.com' AS $hostCol,
       |    CASE doc_id % 4
       |      WHEN 0 THEN '/private/p' || CAST(doc_id AS VARCHAR)
       |      WHEN 1 THEN '/d/' || CAST(doc_id AS VARCHAR)
       |      WHEN 2 THEN '/public/p' || CAST(doc_id AS VARCHAR)
       |      ELSE '/p' || CAST(doc_id AS VARCHAR)
       |    END AS path,
       |    CAST(n_chars AS DOUBLE) AS priority
       |  FROM documents""".stripMargin

  /** The fetch history of the recrawl queries: 4 fetches (j = 0..3) per
    * URL at a per-URL cadence of 600..3300 s, the digest changing every
    * `doc_id % 4 + 1` fetches. Columns (url, fetched_at_s, digest, j). */
  private def recrawlHistory(s: SparkSession, d: String): DataFrame = {
    val gap = lit(600.0) +
      (col("doc_id") % 10).cast("double") * lit(300.0)
    val period = col("doc_id") % 4 + 1
    table(s, d, "documents")
      .select(col("doc_id"), gap.as("__gap"),
        explode(sequence(lit(0L), lit(3L))).as("j"))
      .select(
        concat(lit("http://h"), (col("doc_id") % 7).cast("string"),
          lit(".example.com/d/"), col("doc_id").cast("string")).as("url"),
        (col("j").cast("double") * col("__gap")).as("fetched_at_s"),
        floor(col("j") / period).cast("string").as("digest"),
        col("j"))
  }

  /** The DuckDB replay of [[operators.Crawl.urlTemplateReport]]'s trap
    * mining over a fetch log `fl(url)`: CTE traps(host, template) of the
    * cells holding more than 20 distinct URLs. */
  private val TrapCellsCtes =
    """fc AS (SELECT
      |    regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/:?]*)', 1) AS host,
      |    regexp_replace(
      |      regexp_extract(url, '^[a-z][a-z0-9+.-]*://[^/?]*([^?]*)', 1),
      |      '[0-9]+', 'N', 'g') AS template, url FROM fl),
      |g AS (SELECT host, template, url FROM fc GROUP BY 1, 2, 3),
      |traps AS (SELECT host, template FROM g
      |          GROUP BY host, template HAVING count(*) > 20)""".stripMargin

  /** The robots-parsed crawl delays as CTE delays(dhost, delay_s), over
    * [[robotsCtes]]' selected lines: the largest valid delay per host. */
  private val CrawlDelaysCte =
    """delays AS (SELECT l5.host AS dhost,
      |    max(TRY_CAST(value AS DOUBLE)) AS delay_s
      |  FROM l5 JOIN sel ON l5.host = sel.host AND l5.grp = sel.grp
      |  WHERE field = 'crawl-delay' AND TRY_CAST(value AS DOUBLE) >= 0
      |  GROUP BY l5.host)""".stripMargin

  /** The robots `Sitemap:` directives as CTE sm(host, url), over
    * [[robotsCtes]]' lines: global, so no group selection applies. */
  private val SitemapSeedsCte =
    """sm AS (SELECT DISTINCT host, value AS url FROM l5
      |       WHERE field = 'sitemap' AND value <> '')""".stripMargin

  /** The organic candidates of the sitemap-seeded frontiers: one page
    * per doc on six hosts. Columns (url, priority). */
  private def organicCandidates(s: SparkSession, d: String): DataFrame = {
    val h = (col("doc_id") % 6).cast("string")
    table(s, d, "documents").select(
      concat(lit("http://site"), h, lit(".example.com/p/"),
        col("doc_id").cast("string")).as("url"),
      col("n_chars").as("priority"))
  }

  /** The DuckDB replay of [[organicCandidates]], with the host parsed. */
  private val OrganicCandidatesSql =
    """SELECT
      |    'http://site' || CAST(doc_id % 6 AS VARCHAR) ||
      |      '.example.com/p/' || CAST(doc_id AS VARCHAR) AS canon_url,
      |    CAST(n_chars AS DOUBLE) AS priority,
      |    'site' || CAST(doc_id % 6 AS VARCHAR) || '.example.com' AS host
      |  FROM documents""".stripMargin

  /** The politeness policy of the frontier queries: site0..site3 wait
    * 1..4 s between fetches; other hosts take the default delay. */
  private def politenessPolicy(s: SparkSession): DataFrame =
    s.range(4).select(
      concat(lit("site"), col("id").cast("string"), lit(".example.com")).as("host"),
      (col("id") + 1).cast("double").as("delay_s"))

  /** The DuckDB replay of [[politenessPolicy]]. */
  private val PolicySql =
    """SELECT 'site' || CAST(i AS VARCHAR) || '.example.com' AS host,
      |        CAST(i + 1 AS DOUBLE) AS delay_s
      |      FROM generate_series(0, 3) t(i)""".stripMargin

  /** The robots rule table of q_robots_filter and q_frontier_gated:
    * every host denies /private/ but allows /private/public/; site0
    * denies everything but /public/, and site1 both allows and denies
    * /p (a tie the allow wins). */
  private def robotsRules(s: SparkSession): DataFrame = {
    import s.implicits._
    ((0 to 4).flatMap(i => Seq(
        (s"site$i.example.com", "/private/", false),
        (s"site$i.example.com", "/private/public/", true))) ++
      Seq(("site0.example.com", "/", false),
        ("site0.example.com", "/public/", true),
        ("site1.example.com", "/p", true),
        ("site1.example.com", "/p", false))
    ).toDF("host", "prefix", "allow")
  }

  /** The DuckDB replay of [[robotsRules]] as VALUES rows. */
  private val RuleRows =
    """  ('site0.example.com', '/private/', false),
      |  ('site0.example.com', '/private/public/', true),
      |  ('site1.example.com', '/private/', false),
      |  ('site1.example.com', '/private/public/', true),
      |  ('site2.example.com', '/private/', false),
      |  ('site2.example.com', '/private/public/', true),
      |  ('site3.example.com', '/private/', false),
      |  ('site3.example.com', '/private/public/', true),
      |  ('site4.example.com', '/private/', false),
      |  ('site4.example.com', '/private/public/', true),
      |  ('site0.example.com', '/', false),
      |  ('site0.example.com', '/public/', true),
      |  ('site1.example.com', '/p', true),
      |  ('site1.example.com', '/p', false)""".stripMargin

  /** The q_robots_parse fixture: raw robots.txt bodies as ONE Scala
    * constant rendered into BOTH engines (toDF on the Spark side,
    * VALUES + chr(10) concatenation on the DuckDB side), so the two
    * parsers read byte-identical text. The five hosts exercise the REP
    * grammar corners: exact-agent group beats `*`, trailing comments,
    * case-insensitive field names, an EMPTY `Disallow:` (allow-all —
    * yields no rule, and the exact group still shadows the `*`
    * group), multi-`User-agent` groups with interleaved comments,
    * ignored unknown fields, and a host whose only group names a
    * different agent (no rules at all). */
  private[graft] val RobotsBodies: Seq[(String, Seq[String])] = Seq(
    "site0.example.com" -> Seq(
      "# robots for site0",
      "Sitemap: http://site0.example.com/sitemap.xml",
      "User-agent: graftbot",
      "Disallow: /private/",
      "Allow: /private/public/",
      "",
      "User-agent: *",
      "Disallow: /",
      "Crawl-delay: 99",
      "Sitemap: http://site0.example.com/sitemap-news.xml"),
    "site1.example.com" -> Seq(
      "User-Agent: *",
      "Disallow: /tmp/   # trailing comment",
      "allow: /tmp/pub",
      "Crawl-delay: 2.5"),
    "site2.example.com" -> Seq(
      "User-agent: graftbot",
      "Disallow:",
      "",
      "User-agent: *",
      "Disallow: /"),
    "site3.example.com" -> Seq(
      "User-agent: helper",
      "# interleaved comment",
      "User-agent: graftbot",
      "Disallow: /cgi/",
      "Crawl-delay: 10",
      "Crawl-delay: 4"),
    "site4.example.com" -> Seq(
      "User-agent: other",
      "Disallow: /",
      "sitemap: http://site4.example.com/sm.xml # fields case-fold"),
    "site5.example.com" -> Seq(
      "User-agent: graftbot",
      "Disallow: /*?session=",
      "Allow: /*?session=pub",
      "Disallow: /*.pdf$",
      "Crawl-delay: 1"))

  /** Hosts whose body is joined with CRLF instead of LF — the common
    * wire format; a parser that splits on bare `\n` would leave a
    * trailing `\r` in every value and its rules would silently never
    * match. Rendered byte-identically on the DuckDB side
    * (`chr(13)||chr(10)`). */
  private[graft] val CrlfHosts: Set[String] = Set("site5.example.com")

  private[graft] def robotsBodySep(host: String): String =
    if (CrlfHosts(host)) "\r\n" else "\n"

  /** The shared robots-oracle CTE chain: [[RobotsBodies]] rendered as
    * VALUES rows (lines joined with `chr(10)` so the text is
    * byte-identical to the Spark fixture), then the REP
    * group/selection grammar replayed with the same window logic:
    * comment strip, field/value split, consecutive-User-agent group
    * starts via `lag`, running-sum group ids, exact-agent-beats-star
    * selection. q_robots_parse and q_crawl_delay append their final
    * selects. */
  private[graft] def robotsCtes: String = {
    val valuesRows = RobotsBodies.map { case (h, ls) =>
      val sep = if (CrlfHosts(h)) " || chr(13) || chr(10) || "
        else " || chr(10) || "
      val bodyExpr = ls.map {
        case "" => "''"
        case l => s"'${l.replace("'", "''")}'"
      }.mkString(sep)
      s"  ('$h', $bodyExpr)"
    }.mkString(",\n")
    s"""WITH bodies(host, body) AS (VALUES
       |$valuesRows),
       |ls AS (SELECT host, string_split_regex(body, '\r?\n') AS arr FROM bodies),
       |l0 AS (SELECT host, i AS ln, arr[i] AS line
       |       FROM ls, unnest(generate_series(1, len(arr))) t(i)),
       |l1 AS (SELECT host, ln,
       |         trim(regexp_replace(line, '#.*', '')) AS clean FROM l0),
       |l2 AS (SELECT host, ln,
       |         lower(trim(regexp_extract(clean, '^([^:]+):', 1))) AS field,
       |         trim(regexp_extract(clean, '^[^:]+:(.*)$$', 1)) AS value
       |       FROM l1 WHERE clean <> ''),
       |l3 AS (SELECT host, ln, field, value,
       |         CASE WHEN field = 'user-agent' THEN 1 ELSE 0 END AS isua
       |       FROM l2),
       |l4 AS (SELECT host, ln, field, value, isua,
       |         CASE WHEN isua = 1 AND coalesce(
       |             lag(isua) OVER (PARTITION BY host ORDER BY ln), 0) = 0
       |           THEN 1 ELSE 0 END AS bs FROM l3),
       |l5 AS (SELECT host, ln, field, value, isua,
       |         sum(bs) OVER (PARTITION BY host ORDER BY ln
       |           ROWS UNBOUNDED PRECEDING) AS grp FROM l4),
       |uas AS (SELECT host, grp, lower(value) AS ua FROM l5 WHERE isua = 1),
       |gs AS (SELECT host, grp,
       |        max(CASE WHEN ua = 'graftbot' THEN 1 ELSE 0 END) AS ex,
       |        max(CASE WHEN ua = '*' THEN 1 ELSE 0 END) AS st
       |      FROM uas GROUP BY host, grp),
       |he AS (SELECT host, max(ex) AS hx FROM gs GROUP BY host),
       |sel AS (SELECT gs.host, gs.grp FROM gs JOIN he USING (host)
       |        WHERE (hx = 1 AND ex = 1) OR (hx = 0 AND st = 1))""".stripMargin
  }

  private[graft] def robotsBodiesDf(s: SparkSession): DataFrame = {
    import s.implicits._
    RobotsBodies
      .map { case (h, ls) => (h, ls.mkString(robotsBodySep(h))) }
      .toDF("host", "body")
  }

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

  /** The DuckDB replay of [[operators.Crawl.recrawlSchedule]]'s
    * per-URL revisit statistics over a fetch history `h(url, ts,
    * digest)`: CTE f flags each digest change, CTE a counts revisits and
    * changes per URL with the first and last fetch times. */
  private val RevisitStatsCtes =
    """f AS (SELECT url, ts,
      |    CASE
      |      WHEN lag(digest) OVER (PARTITION BY url ORDER BY ts) IS NULL
      |        THEN NULL
      |      WHEN digest <> lag(digest) OVER (PARTITION BY url ORDER BY ts)
      |        THEN 1 ELSE 0 END AS chg
      |  FROM h),
      |a AS (SELECT url, count(*) - 1 AS n_revisits,
      |    CAST(coalesce(sum(chg), 0) AS BIGINT) AS n_changes,
      |    min(ts) AS fts, max(ts) AS lts
      |  FROM f GROUP BY url)""".stripMargin

  /** The q_recrawl oracle, which other oracles replay. */
  private def recrawlOracle: String =
    s"""WITH h AS (SELECT
        |    'http://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/d/'
        |      || CAST(doc_id AS VARCHAR) AS url,
        |    CAST(j AS DOUBLE) *
        |      (CAST(600 AS DOUBLE) + CAST(doc_id % 10 AS DOUBLE) * 300)
        |      AS ts,
        |    CAST(j // (doc_id % 4 + 1) AS VARCHAR) AS digest
        |  FROM documents, unnest(generate_series(0, 3)) t(j)),
        |$RevisitStatsCtes,
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
        |FROM i""".stripMargin

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

  /** The q_recrawl_seeded schedule replay, shared with q_frontier_due —
    * ends in a `sched` CTE with the engine's exact output columns. */
  private[graft] def seededScheduleCtes: String =
      s"""WITH raw AS (SELECT doc_id,
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
        |$RevisitStatsCtes,
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
      robotsCtes +
        s""",
           |$SitemapSeedsCte,
           |$CrawlDelaysCte,
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
           |u AS ($OrganicCandidatesSql
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

  /** q_frontier_due_gated's clock (same horizon as q_frontier_due). */
  private val GatedNowS = 9100000.0

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
    * `k(key, weight)`, the [[QueryParts.hamiltonCtes]] input shape. */
  private def censusCtes(hostSuffix: String = ""): String =
    s"g AS (${QueryParts.gopherRepOracle}),\n" +
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

  val specs: Seq[QuerySpec] = Seq(
    // --- URL canonicalization: the crawl-front normalize that runs
    //     before ANY text-level pass. Map-only projection of built-in
    //     string functions (codegen'd, RE2-portable regexes). ---
    QuerySpec("q_url_canon", { (s, d) =>
      withUrl(table(s, d, "documents"))
        .select(col("doc_id"), col("url"),
          operators.Crawl.canonicalizeUrl(col("url")).as("canon_url"))
        .withColumn("host", operators.Crawl.urlHost(col("canon_url")))
    },
      Sql((s"WITH $UrlCte,\n$CanonCte\n" +
        "SELECT doc_id, url, canon_url, host FROM c"))),
    // --- exact URL dedup: one survivor per canonical URL, keeping the
    //     highest-quality fetch (n_chars desc, doc_id tiebreak). The
    //     only exchange hash-partitions on the canonical DIGEST. ---
    QuerySpec("q_url_dedup", { (s, d) =>
      operators.Crawl.urlDedup(
        withUrl(table(s, d, "documents")), "url",
        Seq(col("n_chars").desc, col("doc_id")))
        .select(col("doc_id"), col("n_chars"), col("canon_url"))
    },
      Sql((s"WITH $UrlCte,\n$CanonCte,\n" +
        """r AS (SELECT doc_id, n_chars, canon_url,
          |    row_number() OVER (PARTITION BY canon_url
          |      ORDER BY n_chars DESC, doc_id) AS rn FROM c)
          |SELECT doc_id, n_chars, canon_url FROM r WHERE rn = 1""".stripMargin))),
    // --- per-host crawl report: fetches vs distinct canonical pages
    //     and the URL-level duplicate rate — the crawl-frontier health
    //     signal. One aggregation on the host key. ---
    QuerySpec("q_host_report", ((s, d) =>
      operators.Crawl.hostReport(withUrl(table(s, d, "documents")), "url")),
      Sql((s"WITH $UrlCte,\n$CanonCte\n" +
        """SELECT host, CAST(count(*) AS BIGINT) AS n_fetches,
          |       CAST(count(DISTINCT canon_url) AS BIGINT) AS n_pages,
          |       round(1.0 - count(DISTINCT canon_url) * 1.0 / count(*), 6)
          |         AS dup_rate
          |FROM c GROUP BY host""".stripMargin))),
    // --- per-registered-domain crawl ledger: hosts/fetches/pages per
    //     eTLD+1 (documented heuristic: last 2 labels, 3 when the 2nd-
    //     to-last is a registry label like co.uk). Own URL synthesis
    //     with domain variety (subdomains of one .com domain, co.uk
    //     hosts, bare .org hosts). Collapse-then-rollup shape — no
    //     distinct-aggregate on the low-cardinality domain key. ---
    QuerySpec("q_domain_report", { (s, d) =>
      val k = (col("doc_id") % 5).cast("string")
      val v = col("doc_id") % 3
      val b = col("doc_id").cast("string")
      val url = when(v === 0, concat(
          lit("http://a"), k, lit(".example.com/p/"), b))
        .when(v === 1, concat(
          lit("http://news.site"), k, lit(".co.uk/p/"), b))
        .otherwise(concat(lit("http://site"), k, lit(".org/p/"), b))
      operators.Crawl.domainReport(
        table(s, d, "documents").select(col("doc_id"), url.as("url")), "url")
    },
      Sql("""WITH u AS (SELECT doc_id,
        |  CASE doc_id % 3
        |    WHEN 0 THEN 'http://a' || CAST(doc_id % 5 AS VARCHAR)
        |      || '.example.com/p/' || CAST(doc_id AS VARCHAR)
        |    WHEN 1 THEN 'http://news.site' || CAST(doc_id % 5 AS VARCHAR)
        |      || '.co.uk/p/' || CAST(doc_id AS VARCHAR)
        |    ELSE 'http://site' || CAST(doc_id % 5 AS VARCHAR)
        |      || '.org/p/' || CAST(doc_id AS VARCHAR)
        |  END AS url FROM documents),
        |h AS (SELECT regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/:?]*)', 1)
        |        AS host, url FROM u),
        |hp AS (SELECT host, count(*) n_fetches, count(DISTINCT url) n_pages
        |       FROM h GROUP BY host),
        |d AS (SELECT CASE
        |    WHEN len(string_split(host, '.')) <= 2 THEN host
        |    WHEN string_split(host, '.')[-2] IN
        |      ('co','com','net','org','ac','gov','edu')
        |      THEN array_to_string(string_split(host, '.')[-3:], '.')
        |    ELSE array_to_string(string_split(host, '.')[-2:], '.') END AS domain,
        |  n_fetches, n_pages FROM hp)
        |SELECT domain, CAST(count(*) AS BIGINT) AS n_hosts,
        |       CAST(sum(n_fetches) AS BIGINT) AS n_fetches,
        |       CAST(sum(n_pages) AS BIGINT) AS n_pages
        |FROM d GROUP BY domain""".stripMargin)),
    // --- robots-style URL gate: per-host longest-prefix allow/deny
    //     with the REP tie rule (equal-length allow beats disallow),
    //     default allow. The rule table broadcasts; the verdict fold
    //     is a plain max over 2*len+allow scores (map-side combine).
    //     Own URL synthesis: 5 hosts x 4 path shapes exercising
    //     longest-match, tie, deny-all-except, and no-rule default. ---
    QuerySpec("q_robots_filter", { (s, d) =>
      val h = (col("doc_id") % 5).cast("string")
      val b = col("doc_id").cast("string")
      val path = when(col("doc_id") % 4 === 0, concat(lit("/private/p"), b))
        .when(col("doc_id") % 4 === 1, concat(lit("/private/public/p"), b))
        .when(col("doc_id") % 4 === 2, concat(lit("/public/p"), b))
        .otherwise(concat(lit("/p"), b))
      val urls = table(s, d, "documents").select(col("doc_id"),
        concat(lit("http://site"), h, lit(".example.com"), path).as("url"))
      val rules = robotsRules(s)
      operators.Crawl.robotsFilter(urls, "url", "doc_id", rules)
    },
      Sql(s"""WITH c AS (SELECT doc_id,
        |    'http://site' || CAST(doc_id % 5 AS VARCHAR) || '.example.com' ||
        |      CASE doc_id % 4
        |        WHEN 0 THEN '/private/p' || CAST(doc_id AS VARCHAR)
        |        WHEN 1 THEN '/private/public/p' || CAST(doc_id AS VARCHAR)
        |        WHEN 2 THEN '/public/p' || CAST(doc_id AS VARCHAR)
        |        ELSE '/p' || CAST(doc_id AS VARCHAR)
        |      END AS canon_url,
        |    'site' || CAST(doc_id % 5 AS VARCHAR) || '.example.com' AS host,
        |    CASE doc_id % 4
        |      WHEN 0 THEN '/private/p' || CAST(doc_id AS VARCHAR)
        |      WHEN 1 THEN '/private/public/p' || CAST(doc_id AS VARCHAR)
        |      WHEN 2 THEN '/public/p' || CAST(doc_id AS VARCHAR)
        |      ELSE '/p' || CAST(doc_id AS VARCHAR)
        |    END AS path
        |  FROM documents),
        |r(rhost, prefix, allow) AS (VALUES
        |$RuleRows),
        |m AS (SELECT c.doc_id, c.canon_url, c.host, c.path,
        |    max(CASE WHEN r.prefix IS NOT NULL
        |        THEN len(r.prefix) * 2 + CAST(r.allow AS INT) END) AS best
        |  FROM c LEFT JOIN r
        |    ON c.host = r.rhost AND starts_with(c.path, r.prefix)
        |  GROUP BY 1, 2, 3, 4)
        |SELECT doc_id, canon_url, host, path,
        |       (best IS NULL OR best % 2 = 1) AS allowed,
        |       CAST(best // 2 AS INT) AS matched_len
        |FROM m""".stripMargin)),
    // --- crawl-frontier politeness schedule: per-host queue capped at
    //     the 40 best-priority URLs (partial top-k BEFORE the exchange
    //     via GroupedTopK), fetch slots spaced by the host's crawl
    //     delay from a 4-row broadcast policy table (default 5 s for
    //     the three uncovered hosts). ---
    QuerySpec("q_frontier_plan", { (s, d) =>
      val h = (col("doc_id") % 7).cast("string")
      val b = col("doc_id").cast("string")
      val frontier = table(s, d, "documents").select(
        concat(lit("http://site"), h, lit(".example.com/p/"), b).as("url"),
        col("n_chars").as("priority"))
      val policy = politenessPolicy(s)
      operators.Crawl.frontierPlan(
        frontier, "url", "priority", policy,
        defaultDelayS = 5.0, maxPerHost = 40)
    },
      Sql(s"""WITH u AS (SELECT
        |    'http://site' || CAST(doc_id % 7 AS VARCHAR)
        |      || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS canon_url,
        |    CAST(n_chars AS DOUBLE) AS priority,
        |    'site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host
        |  FROM documents),
        |r AS (SELECT canon_url, priority, host,
        |    row_number() OVER (PARTITION BY host
        |      ORDER BY priority DESC, canon_url) AS rank
        |  FROM u),
        |c AS (SELECT * FROM r WHERE rank <= 40),
        |p AS ($PolicySql)
        |SELECT c.canon_url, c.priority, c.host, c.rank,
        |       coalesce(p.delay_s, 5.0) AS delay_s,
        |       (c.rank - 1) * coalesce(p.delay_s, 5.0) AS fetch_at_s
        |FROM c LEFT JOIN p ON c.host = p.host""".stripMargin)),
    // --- per-host quality prior: docs, Gopher-gate pass rate, mean
    //     token count per host — the domain-level curation signal
    //     (RefinedWeb-style) that feeds recrawl prioritization. All
    //     three repetition gates fold row-locally (map-only native
    //     expressions); the rollup is one partial-agg exchange on the
    //     host key; pass_rate/mean_tokens are exact integer sums over
    //     one division, so the floats hash-compare. ---
    QuerySpec("q_host_quality", { (s, d) =>
      val top2 = operators.TextAnalysis.gopherRepetition(col("text"), 2).head
      val top3 = operators.TextAnalysis.gopherRepetition(col("text"), 3).head
      val dup5 = operators.TextAnalysis.gopherRepetition(col("text"), 5)(1)
      table(s, d, "documents")
        .select(
          concat(lit("site"), (col("doc_id") % 7).cast("string")).as("host"),
          (top2 < 0.20 && top3 < 0.18 && dup5 < 0.15)
            .cast("double").as("p"),
          operators.TextAnalysis.tokenCount(col("text"))
            .cast("double").as("nt"))
        .groupBy(col("host"))
        .agg(
          count(lit(1)).as("n_docs"),
          round(avg(col("p")), 6).as("pass_rate"),
          round(avg(col("nt")), 6).as("mean_tokens"))
    },
      Sql((s"WITH g AS (${QueryParts.gopherRepOracle}),\n" +
        """t AS (SELECT doc_id,
          |    len(regexp_extract_all(text, '\S+')) AS nt FROM documents)
          |SELECT 'site' || CAST(g.doc_id % 7 AS VARCHAR) AS host,
          |       CAST(count(*) AS BIGINT) AS n_docs,
          |       round(avg(CASE WHEN top2_frac < 0.2 AND top3_frac < 0.18
          |         AND dup5_frac < 0.15 THEN 1.0 ELSE 0.0 END), 6)
          |         AS pass_rate,
          |       round(avg(nt * 1.0), 6) AS mean_tokens
          |FROM g JOIN t USING (doc_id)
          |GROUP BY 1""".stripMargin))),
    // --- crawler-trap report: URL-template mining (digit runs -> N).
    //     Even doc_ids generate one-URL-per-doc '/d/<id>' paths (the
    //     trap signature: 50 distinct URLs per (host, template) cell);
    //     odd doc_ids cycle 7 stable '/p/<k>' pages. Collapse on the
    //     spread triple first, then roll up — the hostReport shape. ---
    QuerySpec("q_url_traps", (s, d) =>
      operators.Crawl.urlTemplateReport(trapFetchLog(s, d), "url", maxUrlsPerTemplate = 20),
      Sql(s"""WITH u AS ($TrapFetchLogSql),
        |c AS (SELECT
        |    regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/:?]*)', 1) AS host,
        |    regexp_extract(url, '^[a-z][a-z0-9+.-]*://[^/?]*([^?]*)', 1)
        |      AS path, url FROM u),
        |t AS (SELECT host, regexp_replace(path, '[0-9]+', 'N', 'g')
        |        AS template, url FROM c),
        |g AS (SELECT host, template, url, count(*) AS f
        |      FROM t GROUP BY host, template, url)
        |SELECT host, template, CAST(sum(f) AS BIGINT) AS n_fetches,
        |       CAST(count(*) AS BIGINT) AS n_urls,
        |       count(*) > 20 AS trap
        |FROM g GROUP BY host, template""".stripMargin)),
    // --- mirror-host detection: every third doc is served by both its
    //     h<k> host and a m<k> mirror, so each (h<k>, m<k>) pair shares
    //     ~N/30 identical texts. Pairing is digest-only with the maxDf
    //     hot-content cutoff; text never crosses an exchange. ---
    QuerySpec("q_mirror_hosts", (s, d) =>
      operators.Crawl.mirrorHosts(
        mirrorFetches(s, d, ways = 2).select("host", "text"), "host", "text",
        maxDf = 5, minShared = 3),
      Sql("""WITH f AS (
        |  SELECT 'h' || CAST(doc_id % 10 AS VARCHAR) || '.example.com'
        |    AS host, text FROM documents
        |  UNION ALL
        |  SELECT 'm' || CAST(doc_id % 10 AS VARCHAR) || '.example.com',
        |    text FROM documents WHERE doc_id % 3 = 0),
        |hd AS (SELECT DISTINCT host, text FROM f),
        |fr AS (SELECT text FROM
        |    (SELECT text, count(*) AS c FROM hd GROUP BY text)
        |  WHERE c BETWEEN 2 AND 5),
        |p AS (SELECT hd.host, hd.text FROM hd JOIN fr USING (text))
        |SELECT a.host AS host_a, b.host AS host_b,
        |       CAST(count(*) AS BIGINT) AS n_shared
        |FROM p a JOIN p b ON a.text = b.text AND a.host < b.host
        |GROUP BY a.host, b.host
        |HAVING count(*) >= 3""".stripMargin)),
    // --- mirror clusters: the pair table closed into components with
    //     a canonical host per cluster (min host) — the per-cluster
    //     fetch-one decision a crawl actually takes. Same synthesis as
    //     q_mirror_hosts plus a THREE-way mirror (w<k> hosts for
    //     doc_id%6==0) so clusters of size 3 exercise transitivity. ---
    QuerySpec("q_mirror_clusters", (s, d) =>
      operators.Crawl.mirrorClusters(
        mirrorFetches(s, d, ways = 3).select("host", "text"), "host", "text",
        maxDf = 5, minShared = 3),
      Sql(s"""WITH RECURSIVE f AS (${mirrorFetchesSql(3)}),
        |${mirrorPairCtes("f")},
        |$MirrorClosureCtes,
        |hosts AS (SELECT DISTINCT host FROM f)
        |SELECT h.host, coalesce(r.canonical_host, h.host) AS canonical_host
        |FROM hosts h LEFT JOIN rep r ON h.host = r.host""".stripMargin)),
    // --- rank-prioritized frontier: the composition the link family
    //     exists for — PageRank over the crawl graph becomes the
    //     priority column of the politeness scheduler, so recrawl
    //     budget flows to the highest-authority pages first. 2 rank
    //     iterations, per-host queue capped at 40, policy delays from
    //     the 4-row broadcast table. ---
    QuerySpec("q_rank_frontier", { (s, d) =>
      val ranks = operators.LinkGraph.pageRank(
        QueryParts.linkEdges(s, d), "src", "dst", iterations = 2)
      val frontier = ranks.select(
        concat(lit("http://site"), (col("id") % 7).cast("string"),
          lit(".example.com/p/"), col("id").cast("string")).as("url"),
        col("rank_fp").as("priority"))
      val policy = politenessPolicy(s)
      operators.Crawl.frontierPlan(
        frontier, "url", "priority", policy,
        defaultDelayS = 5.0, maxPerHost = 40)
    },
      Sql((s"WITH ${QueryParts.pageRankCtes(2)},\n" +
        s"""u AS (SELECT
          |    'http://site' || CAST(id % 7 AS VARCHAR)
          |      || '.example.com/p/' || CAST(id AS VARCHAR) AS canon_url,
          |    CAST(rank_fp AS DOUBLE) AS priority,
          |    'site' || CAST(id % 7 AS VARCHAR) || '.example.com' AS host
          |  FROM r2),
          |rk AS (SELECT canon_url, priority, host,
          |    row_number() OVER (PARTITION BY host
          |      ORDER BY priority DESC, canon_url) AS rank
          |  FROM u),
          |cp AS (SELECT * FROM rk WHERE rank <= 40),
          |p AS ($PolicySql)
          |SELECT cp.canon_url, cp.priority, cp.host, cp.rank,
          |       coalesce(p.delay_s, 5.0) AS delay_s,
          |       (cp.rank - 1) * coalesce(p.delay_s, 5.0) AS fetch_at_s
          |FROM cp LEFT JOIN p ON cp.host = p.host""".stripMargin))),
    // --- the GATED frontier: robots verdict (per-host rule arrays,
    //     broadcast + row-local fold) and trap cells (template mining
    //     over the fetch log, flagged cells broadcast anti) composed
    //     IN FRONT of the politeness schedule. Candidate paths cycle
    //     4 shapes so every gate bites: /private/* robots-denied
    //     everywhere, /d/<id> lands in a mined trap cell, /public/*
    //     and /p<id> survive (except site0's deny-all). The only
    //     candidate-side exchange is the schedule's bounded top-k
    //     (plan-pinned in CrawlSpec). ---
    QuerySpec("q_frontier_gated", { (s, d) =>
      val cand = gatedCandidates(s, d)
      val rules = robotsRules(s)
      // Fetch log: q_url_traps' synthesis — even ids mint one /d/<id>
      // URL each (the trap signature), odd ids cycle 7 stable pages.
      val fetchLog = trapFetchLog(s, d)
      val policy = politenessPolicy(s)
      operators.Crawl.frontierPlanGated(
        cand, "url", "priority", rules, fetchLog, "url", policy,
        defaultDelayS = 5.0, maxPerHost = 40, maxUrlsPerTemplate = 20)
    },
      Sql(s"""WITH cand AS (${gatedCandidatesSql("host")}),
         |r(rhost, prefix, allow) AS (VALUES
         |$RuleRows),
         |m AS (SELECT cand.canon_url, cand.host, cand.path, cand.priority,
         |    max(CASE WHEN r.prefix IS NOT NULL
         |        THEN len(r.prefix) * 2 + CAST(r.allow AS INT) END) AS best
         |  FROM cand LEFT JOIN r
         |    ON cand.host = r.rhost AND starts_with(cand.path, r.prefix)
         |  GROUP BY 1, 2, 3, 4),
         |fl AS ($TrapFetchLogSql),
         |$TrapCellsCtes,
         |gated AS (SELECT m.canon_url, m.priority, m.host FROM m
         |  WHERE (m.best IS NULL OR m.best % 2 = 1)
         |    AND NOT EXISTS (SELECT 1 FROM traps t
         |      WHERE t.host = m.host
         |        AND t.template = regexp_replace(m.path, '[0-9]+', 'N', 'g'))),
         |rk AS (SELECT canon_url, priority, host,
         |    row_number() OVER (PARTITION BY host
         |      ORDER BY priority DESC, canon_url) AS rank
         |  FROM gated),
         |cp AS (SELECT * FROM rk WHERE rank <= 40),
         |p AS ($PolicySql)
         |SELECT cp.canon_url, cp.priority, cp.host, cp.rank,
         |       coalesce(p.delay_s, 5.0) AS delay_s,
         |       (cp.rank - 1) * coalesce(p.delay_s, 5.0) AS fetch_at_s
         |FROM cp LEFT JOIN p ON cp.host = p.host""".stripMargin)),
    // --- mirror-aware URL dedup: mirrorClusters elects a canonical
    //     host per mirror set; the SAME page fetched from h<k>/m<k>/
    //     w<k> rewrites to one cluster-canonical URL and ONE survivor
    //     remains (plain urlDedup can't collapse these — the canon
    //     URLs differ in host). Survivor = lexicographically smallest
    //     raw URL, so the h-copy wins deterministically. ---
    QuerySpec("q_mirror_dedup", { (s, d) =>
      val fetches = mirrorFetches(s, d, ways = 3)
      val hostMap = operators.Crawl.mirrorClusters(
        fetches, "host", "text", maxDf = 5, minShared = 3)
      val urls = fetches.select(col("doc_id"),
        concat(lit("http://"), col("host"), lit("/p/"),
          col("doc_id").cast("string")).as("url"))
      operators.Crawl.mirrorAwareUrlDedup(
          urls, "url", hostMap, Seq(col("url").asc))
        .select(col("doc_id"), col("url"), col("canon_url"))
    },
      Sql(s"""WITH RECURSIVE f AS (${mirrorFetchesSql(3, withId = true)}),
        |${mirrorPairCtes("f")},
        |$MirrorClosureCtes,
        |hosts AS (SELECT DISTINCT host FROM f),
        |cm AS (SELECT h.host, coalesce(r.canonical_host, h.host)
        |         AS canonical_host
        |       FROM hosts h LEFT JOIN rep r ON h.host = r.host),
        |u AS (SELECT doc_id, host,
        |    'http://' || host || '/p/' || CAST(doc_id AS VARCHAR) AS url
        |  FROM f),
        |rw AS (SELECT u.doc_id, u.url,
        |    'http://' || cm.canonical_host || '/p/'
        |      || CAST(u.doc_id AS VARCHAR) AS canon_url
        |  FROM u JOIN cm ON u.host = cm.host),
        |rn AS (SELECT doc_id, url, canon_url,
        |    row_number() OVER (PARTITION BY canon_url ORDER BY url) AS rn
        |  FROM rw)
        |SELECT doc_id, url, canon_url FROM rn WHERE rn = 1""".stripMargin)),
    // --- INCREMENTAL mirror clusters: prior clusters from the 2-way
    //     (h/m) corpus, new pair evidence mined from the 3-way
    //     (h/m/w) corpus; the contracted closure runs only on touched
    //     reps, and the result must equal the full 3-way rebuild —
    //     the oracle is q_mirror_clusters' verbatim. ---
    QuerySpec("q_mirror_incremental", { (s, d) =>
      val twoWay = mirrorFetches(s, d, ways = 2).select("host", "text")
      val threeWay = mirrorFetches(s, d, ways = 3).select("host", "text")
      val prior = operators.Crawl.mirrorClusters(
        twoWay, "host", "text", maxDf = 5, minShared = 3)
      val newPairs = operators.Crawl.mirrorHosts(
        threeWay, "host", "text", maxDf = 5, minShared = 3)
      operators.Crawl.mirrorClustersIncremental(
        threeWay.select(col("host")), prior, newPairs)
    },
      // Incrementality must be invisible — but the operator's contract
      // is closure(priorPairs ∪ newPairs), and mirrorHosts evidence is
      // NOT strictly append-only under the maxDf cap (a digest whose
      // host-df crosses maxDf when the w-corpus lands DROPS from the
      // 3-way pair set while the prior cluster table keeps its merge).
      // The oracle therefore replays exactly the contract: mine the
      // 2-way pairs AND the 3-way pairs, close their UNION — structural
      // equality with the operator at ANY corpus, instead of relying on
      // the fixture never crossing the cap.
      Sql(s"""WITH RECURSIVE f2 AS (${mirrorFetchesSql(2)}),
        |f3 AS (
        |  SELECT host, text FROM f2
        |  UNION ALL
        |  SELECT 'w' || CAST(doc_id % 10 AS VARCHAR) || '.example.com',
        |    text FROM documents WHERE doc_id % 6 = 0),
        |${mirrorPairCtes("f2", "2")},
        |${mirrorPairCtes("f3", "3")},
        |mp AS (SELECT host_a, host_b FROM mp2
        |       UNION SELECT host_a, host_b FROM mp3),
        |$MirrorClosureCtes,
        |hosts AS (SELECT DISTINCT host FROM f3)
        |SELECT h.host, coalesce(r.canonical_host, h.host) AS canonical_host
        |FROM hosts h LEFT JOIN rep r ON h.host = r.host""".stripMargin)),
    // --- robots.txt PARSING: raw bodies -> the (host, prefix, allow)
    //     rule table robotsFilter/robotsVerdict consume — the missing
    //     first step of the fetch-to-frontier composition, exact-gated
    //     against a full SQL replay of the group/selection grammar. ---
    QuerySpec("q_robots_parse", { (s, d) =>
      val bodies = robotsBodiesDf(s)
      operators.Crawl.parseRobots(bodies, "host", "body", "graftbot")
    },
      Sql((robotsCtes +
        """
          |SELECT DISTINCT l5.host AS host, value AS prefix,
          |  (field = 'allow') AS allow
          |FROM l5 JOIN sel ON l5.host = sel.host AND l5.grp = sel.grp
          |WHERE field IN ('allow', 'disallow') AND value <> ''""".stripMargin))),
    // --- Crawl-delay from the same bodies: the (host, delay_s) policy
    //     table the politeness scheduler consumes. site0's delay sits
    //     in the star group an exact graftbot group SHADOWS (must not
    //     appear); site1's star delay applies; site3 has TWO selected
    //     delays (10, 4) and the politeness-preserving MAX (10) wins;
    //     site5's CRLF body parses cleanly. ---
    QuerySpec("q_crawl_delay", { (s, d) =>
      val bodies = robotsBodiesDf(s)
      operators.Crawl.parseCrawlDelay(bodies, "host", "body", "graftbot")
    },
      Sql((robotsCtes +
        """
          |SELECT l5.host AS host, max(TRY_CAST(value AS DOUBLE)) AS delay_s
          |FROM l5 JOIN sel ON l5.host = sel.host AND l5.grp = sel.grp
          |WHERE field = 'crawl-delay' AND TRY_CAST(value AS DOUBLE) >= 0
          |GROUP BY l5.host""".stripMargin))),
    // --- the RAW-POLICY frontier: q_frontier_gated with BOTH policy
    //     inputs derived from the raw robots bodies — rules from
    //     parseRobots, politeness delays from parseCrawlDelay (the
    //     hand-written VALUES tables of q_frontier_gated replaced by the
    //     parse chain). Candidates and the trap-mining fetch log keep
    //     its synthesis; the oracle composes the shared robots
    //     CTEs into the gated-frontier replay. ---
    QuerySpec("q_frontier_raw", { (s, d) =>
      val bodies = robotsBodiesDf(s)
      val rules = operators.Crawl.parseRobots(bodies, "host", "body", "graftbot")
      val policy = operators.Crawl.parseCrawlDelay(
        bodies, "host", "body", "graftbot")
      val cand = gatedCandidates(s, d)
      val fetchLog = trapFetchLog(s, d)
      operators.Crawl.frontierPlanGated(
        cand, "url", "priority", rules, fetchLog, "url", policy,
        defaultDelayS = 5.0, maxPerHost = 40, maxUrlsPerTemplate = 20)
    },
      // The q_frontier_gated replay with BOTH policy tables swapped
      // for the parse chain: `rules` and `delays` come out of the shared
      // robots CTEs instead of hand-written VALUES.
      Sql((robotsCtes +
        s""",
          |rules AS (SELECT DISTINCT l5.host AS rhost, value AS prefix,
          |    (field = 'allow') AS allow
          |  FROM l5 JOIN sel ON l5.host = sel.host AND l5.grp = sel.grp
          |  WHERE field IN ('allow', 'disallow') AND value <> ''),
          |$CrawlDelaysCte,
          |cand AS (${gatedCandidatesSql("chost")}),
          |m AS (SELECT cand.canon_url, cand.chost, cand.path, cand.priority,
          |    max(CASE WHEN rules.prefix IS NOT NULL
          |        THEN len(rules.prefix) * 2 + CAST(rules.allow AS INT) END)
          |      AS best
          |  FROM cand LEFT JOIN rules
          |    ON cand.chost = rules.rhost
          |      AND starts_with(cand.path, rules.prefix)
          |  GROUP BY 1, 2, 3, 4),
          |fl AS ($TrapFetchLogSql),
          |fc AS (SELECT
          |    regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/:?]*)', 1)
          |      AS fhost,
          |    regexp_replace(
          |      regexp_extract(url, '^[a-z][a-z0-9+.-]*://[^/?]*([^?]*)', 1),
          |      '[0-9]+', 'N', 'g') AS template, url FROM fl),
          |g AS (SELECT fhost, template, url FROM fc GROUP BY 1, 2, 3),
          |traps AS (SELECT fhost, template FROM g
          |          GROUP BY fhost, template HAVING count(*) > 20),
          |gated AS (SELECT m.canon_url, m.priority, m.chost FROM m
          |  WHERE (m.best IS NULL OR m.best % 2 = 1)
          |    AND NOT EXISTS (SELECT 1 FROM traps t
          |      WHERE t.fhost = m.chost
          |        AND t.template = regexp_replace(m.path, '[0-9]+', 'N', 'g'))),
          |rk AS (SELECT canon_url, priority, chost,
          |    row_number() OVER (PARTITION BY chost
          |      ORDER BY priority DESC, canon_url) AS rank
          |  FROM gated),
          |cp AS (SELECT * FROM rk WHERE rank <= 40)
          |SELECT cp.canon_url, cp.priority, cp.chost AS host, cp.rank,
          |       coalesce(delays.delay_s, 5.0) AS delay_s,
          |       (cp.rank - 1) * coalesce(delays.delay_s, 5.0) AS fetch_at_s
          |FROM cp LEFT JOIN delays ON cp.chost = delays.dhost""".stripMargin))),
    // --- Sitemap directives: GLOBAL per the REP (no user-agent group
    //     scoping — site0's two sitemaps surface even though one sits
    //     inside a group graftbot shadows; site4's surfaces though its
    //     only group names a different agent). Map-only projection, no
    //     window, no exchange. ---
    QuerySpec("q_sitemaps", { (s, d) =>
      val bodies = robotsBodiesDf(s)
      operators.Crawl.parseSitemaps(bodies, "host", "body")
    },
      // Sitemaps bind to the host, never to a group: the final select
      // reads the cleaned lines with NO `sel` join.
      Sql((robotsCtes +
        """
          |SELECT DISTINCT host, value AS sitemap_url FROM l5
          |WHERE field = 'sitemap' AND value <> ''""".stripMargin))),
    // --- RFC 9309 wildcard gate: `*` spans chars, trailing `$`
    //     anchors, specificity counts LITERAL octets (so the 13-lit
    //     session=pub allow outranks the 10-lit session deny), and
    //     wild1 shows the same URL shapes under a different policy.
    //     Query strings are part of the match target. ---
    QuerySpec("q_robots_wild", { (s, d) =>
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
      // Hand-derived regex + literal-length per rule — an independent
      // derivation of the engine's RFC 9309 translation, not a replay of
      // it.
      Sql("""WITH c AS (SELECT doc_id,
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
        |FROM m""".stripMargin)),
    // --- sitemap-seeded frontier: seeds from the robots bodies (site0
    //     two, site4 one — GLOBAL directives, group selection does not
    //     apply), politeness delays from the same bodies via
    //     parseCrawlDelay, organic candidates on six hosts. Seed
    //     priority 1e6 outranks every organic candidate, so sitemaps
    //     schedule at rank 1 on their hosts. ---
    QuerySpec("q_frontier_seeded", { (s, d) =>
      val bodies = robotsBodiesDf(s)
      val cand = organicCandidates(s, d)
      val policy = operators.Crawl.parseCrawlDelay(
        bodies, "host", "body", "graftbot")
      operators.Crawl.frontierPlanSeeded(
        cand, "url", "priority", bodies, "host", "body", policy,
        defaultDelayS = 7.0, maxPerHost = 40, seedPriority = 1e6)
    },
      Sql((robotsCtes +
        s""",
          |$SitemapSeedsCte,
          |$CrawlDelaysCte,
          |u AS ($OrganicCandidatesSql
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
          |FROM cp LEFT JOIN delays ON cp.host = delays.dhost""".stripMargin))),
    // --- recrawl scheduling: 4 fetches per URL at a per-URL cadence
    //     (600..3300 s), digests changing every `period` fetches with
    //     period = doc_id % 4 + 1 — change counts 3/1/1/0, so the
    //     schedule spans the estimator's whole range: fast changers
    //     recrawl at ~gap/1.946, slow at ~2.97*gap, never-changed at
    //     the max clamp. ---
    QuerySpec("q_recrawl", { (s, d) =>
      val hist = recrawlHistory(s, d).drop("j")
      operators.Crawl.recrawlSchedule(hist, "url", "fetched_at_s", "digest",
        minIntervalS = 300.0, maxIntervalS = 2592000.0)
    },
      // Full estimator replay: same synthesis, same lag-based change
      // flags, same bias-corrected ln fold — every intermediate cast to
      // DOUBLE so DuckDB never routes the arithmetic through DECIMAL.
      Sql(recrawlOracle)),
    // --- robots cache freshness: ten hosts fetched at descending
    //     times (ages 50k..140k s at now), two frontier hosts never
    //     fetched; TTL 86400 splits the fetched set at age 90k. ---
    QuerySpec("q_robots_stale", { (s, d) =>
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
      Sql({
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
    })),
    // --- sitemap BODY parsing: urlset entries with W3C lastmod
    //     prefixes (time suffixes tolerated, junk -> null), a sitemap
    //     INDEX child table, duplicate locs collapsing, multiline
    //     whitespace — the per-URL freshness feed for recrawl. ---
    QuerySpec("q_sitemap_xml", { (s, d) =>
      import s.implicits._
      val bodies = SitemapBodies
        .map { case (h, ls) => (h, ls.mkString("\n")) }
        .toDF("host", "body")
      operators.Crawl.parseSitemapBodies(bodies, "host", "body")
    },
      // Byte-identical bodies via VALUES + chr(10); the same RE2
      // block/field extraction and W3C date-prefix cast.
      Sql({
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
    })),
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
    QuerySpec("q_recrawl_seeded", ((s, d) => seededScheduleFixture(s, d)),
      // Full seeded-schedule replay: the thinned history through the
      // same lag/agg/estimator chain as q_recrawl, date arithmetic as
      // whole days x 86400 (timezone-free in both engines), a FULL
      // OUTER join, and the three-way basis CASE. The sitemap side is
      // NOT replayed through an unescape: the CTEs build the TRUE URL
      // spellings directly, so the engine's one-pass reference decode
      // (both the &amp; and &#38; fixture spellings) is itself what the
      // hash gates — a broken decode leaves sitemap rows unjoined AND
      // mints escaped canon_urls.
      Sql((seededScheduleCtes + """
        |SELECT url, n_revisits, n_changes, interval_s, next_fetch_at_s,
        |  basis
        |FROM sched""".stripMargin))),
    // --- incremental recrawl scheduling: q_recrawl's history split
    //     into two time-ordered waves (j 0-1, then j 2-3), each
    //     reduced to per-url sufficient statistics, merged in
    //     O(urls), and the schedule derived from the MERGED stats.
    //     The oracle is q_recrawl's FULL-history replay verbatim —
    //     the exact gate itself proves incremental == full, the
    //     pageRankDelta discipline on the crawl clock. ---
    QuerySpec("q_recrawl_inc", { (s, d) =>
      val hist = recrawlHistory(s, d)
      val early = hist.filter(col("j") < 2).drop("j")
      val late = hist.filter(col("j") >= 2).drop("j")
      val merged = operators.Crawl.recrawlStatsMerge(
        operators.Crawl.recrawlStats(early, "url", "fetched_at_s", "digest"),
        operators.Crawl.recrawlStats(late, "url", "fetched_at_s", "digest"))
      operators.Crawl.scheduleFromStats(
        merged, minIntervalS = 300.0, maxIntervalS = 2592000.0)
    },
      // The FULL-history replay, verbatim: the engine computed the same
      // schedule from merged per-wave sufficient statistics, so a hash
      // match here IS the incremental == full proof.
      Sql(recrawlOracle)),
    // --- the loop closure: the seeded schedule's due-at-now URLs
    //     (observed rows are all long overdue; sitemap-based rows due
    //     only where the prior interval fits inside the 100k-s
    //     horizon) enter the politeness frontier with OVERDUENESS as
    //     priority — longest-overdue first per host, two hosts on
    //     explicit delays, maxPerHost capping the big hosts. ---
    QuerySpec("q_frontier_due", { (s, d) =>
      import s.implicits._
      val policy = Seq(
        ("h0.example.com", 2.0), ("h3.example.com", 5.0))
        .toDF("host", "delay_s")
      operators.Crawl.frontierFromSchedule(
        seededScheduleFixture(s, d), "url", "next_fetch_at_s",
        nowS = SeededNowS + 100000.0, policy,
        defaultDelayS = 7.0, maxPerHost = 50)
    },
      // The loop closure replayed: due filter + overdueness priority off
      // the shared schedule CTEs, then the frontier's per-host rank/cap
      // and the VALUES-rendered politeness policy (all fixture URLs are
      // canonicalization fixpoints).
      Sql((seededScheduleCtes + """,
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
        |FROM cp LEFT JOIN delays ON cp.host = delays.dhost""".stripMargin))),
    // --- sitemap-index-seeded frontier: q_frontier_seeded's robots
    //     fixture plus fetched sitemap-INDEX bodies — index children
    //     (one entity-escaped) enter the pool at seed priority; the
    //     urlset body's kind='url' entry must not. ---
    QuerySpec("q_frontier_xml", { (s, d) =>
      import s.implicits._
      val bodies = robotsBodiesDf(s)
      val smBodies = SitemapIndexBodies
        .map { case (h, ls) => (h, ls.mkString("\n")) }
        .toDF("host", "body")
      val cand = organicCandidates(s, d)
      val policy = operators.Crawl.parseCrawlDelay(
        bodies, "host", "body", "graftbot")
      operators.Crawl.frontierPlanSeededXml(
        cand, "url", "priority", bodies, smBodies, "host", "body",
        policy, defaultDelayS = 7.0, maxPerHost = 40, seedPriority = 1e6)
    },
      Sql(frontierXmlOracle)),
    // --- the gated loop closure: the q_frontier_due wave with every
    //     production gate composed in front of the schedule. h1
    //     disallows /d/1*; h2 is deny-all with an allow-back on
    //     /d/2*; h5's /d/N template is a mined trap cell (its due
    //     queue vanishes entirely); h3's robots fetch is stale and h6
    //     was never fetched — both collapse to a single robots.txt
    //     refetch candidate at their queue's peak overdueness. ---
    QuerySpec("q_frontier_due_gated", { (s, d) =>
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
        seededScheduleFixture(s, d), "url", "next_fetch_at_s",
        nowS = GatedNowS, rules, fetchLog, "url",
        robotsLog, "host", "fetched_at_s",
        policy, defaultDelayS = 7.0, maxPerHost = 50,
        maxUrlsPerTemplate = 20)
    },
      // The gated due wave replayed end to end: the shared schedule
      // CTEs, the due filter, the freshness split (fresh = max fetch
      // age within TTL), the REP longest-match fold over path+query,
      // the trap-template anti filter on the query-free path, the
      // stale hosts' argmax-by-(priority, url) robots.txt collapse,
      // then the shared politeness rank/cap and the lane label.
      Sql((seededScheduleCtes + s""",
        |due AS (SELECT url AS canon_url,
        |    CAST(9100000 AS DOUBLE) - next_fetch_at_s AS priority
        |  FROM sched WHERE next_fetch_at_s <= CAST(9100000 AS DOUBLE)),
        |du AS (SELECT canon_url, priority,
        |    regexp_extract(canon_url, '^[a-z][a-z0-9+.-]*://([^/:?]*)', 1)
        |      AS host,
        |    regexp_extract(canon_url, '^[a-z][a-z0-9+.-]*://[^/?]*(.*)$$', 1)
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
        |$TrapCellsCtes,
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
        |FROM cp LEFT JOIN delays ON cp.host = delays.dhost""".stripMargin))),
    // --- the loop closure: the keyed drift verdict DRIVES the next
    //     release's budget — sources whose score distribution held
    //     (per-source PSI within bound) split the token budget by
    //     Hamilton apportionment on char mass; drifted sources are
    //     quarantined until recalibrated. Fixture: sources whose
    //     numeric suffix is divisible by 3 score HOTTER in the
    //     candidate (/0.09 vs the /0.12 baseline) — genuine per-source
    //     drift the pooled PSI would dilute. ---
    QuerySpec("q_drift_gated_budget", { (s, d) =>
      val num = regexp_extract(col("source"), "([0-9]+)$", 1).cast("int")
      val div = when(num % 3 === 0, lit(0.09)).otherwise(lit(0.12))
      val base = table(s, d, "documents").filter(col("doc_id") % 2 === 0)
        .select(col("source"),
          least(QueryParts.stopRatio / lit(0.12), lit(1.0)).as("score"))
      val cur = table(s, d, "documents").select(col("source"),
        least(QueryParts.stopRatio / div, lit(1.0)).as("score"))
      val ok = operators.QualityModel
        .psiTotalBy(base, cur, "source", "score")
        .filter(col("psi_total") <= 0.25).select(col("source"))
      val w = table(s, d, "documents").join(broadcast(ok), Seq("source"), "left_semi")
        .groupBy(col("source")).agg(sum(col("n_chars")).as("w"))
      operators.Curation.apportionBudget(
        w, "source", "w", budget = 1000000000L)
    },
      // The whole loop replayed: per-source scoring at the TWO divisors,
      // the keyed smoothed-PSI grid and integer micro fold, the 0.25
      // drift verdict, then q_apportion's Hamilton replay restricted to
      // the surviving sources (null/zero weights dropped as the engine
      // does).
      Sql((s"""WITH t AS (SELECT source, doc_id, n_chars,
        |    regexp_extract_all(text, '\\S+') toks FROM documents),
        |r AS (SELECT source, doc_id, n_chars,
        |    ${QueryParts.StopRatioSql} AS ratio FROM t),
        |sb AS (SELECT source,
        |    least(ratio / CAST(0.12 AS DOUBLE), CAST(1 AS DOUBLE))
        |      AS score
        |  FROM r WHERE doc_id % 2 = 0),
        |sc AS (SELECT source,
        |    least(ratio / (CASE WHEN TRY_CAST(regexp_extract(source,
        |          '([0-9]+)$$', 1) AS INT) % 3 = 0
        |        THEN CAST(0.09 AS DOUBLE) ELSE CAST(0.12 AS DOUBLE) END),
        |      CAST(1 AS DOUBLE)) AS score
        |  FROM r),
        |""".stripMargin
        + QueryParts.psiGridCtes("sb", "sc") + ",\n" + QueryParts.PsiFoldCtes + """,
        |okk AS (SELECT source FROM px
        |        WHERE psi_total <= CAST(0.25 AS DOUBLE)),
        |k AS (SELECT d.source AS key,
        |    CAST(sum(d.n_chars) AS BIGINT) AS weight
        |  FROM documents d JOIN okk ON d.source = okk.source
        |  GROUP BY d.source
        |  HAVING sum(n_chars) IS NOT NULL AND sum(n_chars) > 0),
        |""".stripMargin + QueryParts.hamiltonSql("k", 1000000000L)))),
    // --- the crawl budget loop closed: per-host Gopher-gate census
    //     (hosts synthesized as site<doc_id%7>, the q_host_quality
    //     universe) -> pass-mass weights -> Hamilton fetch slots.
    //     Weights are integer char mass over PASSING docs only, so the
    //     pass-rate prior and the host's demand compose without a
    //     single double; allocations sum to EXACTLY the slot budget. ---
    QuerySpec("q_host_budget", ((s, d) =>
      operators.Crawl.hostFetchBudget(hostCensus(s, d), budget = HostSlots)),
      // The whole composition replayed: the shared per-doc Gopher
      // fraction CTE, the per-doc verdict stated ONCE (null where the
      // doc can't form a 5-gram — unmeasurable fails), the per-host
      // pass-mass census with zero-mass hosts dropped (the engine's
      // positive-weight contract), then the SHARED Hamilton replay over
      // the host table.
      Sql(("WITH " + censusCtes() + ",\n" +
        QueryParts.hamiltonSql("k", HostSlots, keyOut = "host")))),
    // --- the allocations CONSUMED: each host's scheduled wave is
    //     capped at ITS Hamilton seat count (50 slots across 7 hosts
    //     against ~N/7 candidates each, so every cap binds), ranked
    //     and delay-spaced inside the allocation exactly as
    //     frontierPlan ranks inside its cap — quality census →
    //     integer seats → the actual fetch schedule, end to end. ---
    QuerySpec("q_frontier_budgeted", { (s, d) =>
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
      // The full loop replayed: the shared census and Hamilton CTEs
      // seat the wave budget, then the candidate pool ranks per host
      // (priority DESC, url ASC — the politeness order) and keeps only
      // ranks inside the host's allocation, delay-spaced from the
      // policy table.
      Sql(("WITH " + censusCtes(".example.com") + ",\n" +
        QueryParts.hamiltonCtes("k", WaveSlots, "al", keyOut = "host") +
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
          |FROM ot""".stripMargin))))
}
