package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Sources.table

/** Round-11 queries: the crawl-front URL family (canonicalization,
  * exact URL dedup, per-host crawl report) and paragraph-level dedup.
  *
  * The synthetic corpus carries no URL column, so the URL queries
  * synthesize one DETERMINISTICALLY from (doc_id) — four messy
  * spellings per logical page, exercising every canonicalization rule
  * — and both engines replay the identical synthesis (precedent:
  * q_nfc_normalize's accent injection). Logical page `doc_id/4` on
  * host `site{page%7}.example.com`; variants 0-2 are the same http
  * page spelled with host case + `www.` + `:80` + tracking param +
  * trailing slash (v0), already-canonical (v1), and `index.html` +
  * fragment + `:80` (v2); variant 3 is a DIFFERENT https page
  * exercising the `:443` rule. */
object QueriesR11 {

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

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- URL canonicalization: the crawl-front normalize that runs
    //     before ANY text-level pass. Map-only projection of built-in
    //     string functions (codegen'd, RE2-portable regexes). ---
    "q_url_canon" -> { (s, d) =>
      withUrl(table(s, d, "documents"))
        .select(col("doc_id"), col("url"),
          operators.Crawl.canonicalizeUrl(col("url")).as("canon_url"))
        .withColumn("host", operators.Crawl.urlHost(col("canon_url")))
    },
    // --- exact URL dedup: one survivor per canonical URL, keeping the
    //     highest-quality fetch (n_chars desc, doc_id tiebreak). The
    //     only exchange hash-partitions on the canonical DIGEST. ---
    "q_url_dedup" -> { (s, d) =>
      operators.Crawl.urlDedup(
        withUrl(table(s, d, "documents")), "url",
        Seq(col("n_chars").desc, col("doc_id")))
        .select(col("doc_id"), col("n_chars"), col("canon_url"))
    },
    // --- per-host crawl report: fetches vs distinct canonical pages
    //     and the URL-level duplicate rate — the crawl-frontier health
    //     signal. One aggregation on the host key. ---
    "q_host_report" -> ((s, d) =>
      operators.Crawl.hostReport(withUrl(table(s, d, "documents")), "url")),
    // --- per-registered-domain crawl ledger: hosts/fetches/pages per
    //     eTLD+1 (documented heuristic: last 2 labels, 3 when the 2nd-
    //     to-last is a registry label like co.uk). Own URL synthesis
    //     with domain variety (subdomains of one .com domain, co.uk
    //     hosts, bare .org hosts). Collapse-then-rollup shape — no
    //     distinct-aggregate on the low-cardinality domain key. ---
    "q_domain_report" -> { (s, d) =>
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
    // --- robots-style URL gate: per-host longest-prefix allow/deny
    //     with the REP tie rule (equal-length allow beats disallow),
    //     default allow. The rule table broadcasts; the verdict fold
    //     is a plain max over 2*len+allow scores (map-side combine).
    //     Own URL synthesis: 5 hosts x 4 path shapes exercising
    //     longest-match, tie, deny-all-except, and no-rule default. ---
    "q_robots_filter" -> { (s, d) =>
      import s.implicits._
      val h = (col("doc_id") % 5).cast("string")
      val b = col("doc_id").cast("string")
      val path = when(col("doc_id") % 4 === 0, concat(lit("/private/p"), b))
        .when(col("doc_id") % 4 === 1, concat(lit("/private/public/p"), b))
        .when(col("doc_id") % 4 === 2, concat(lit("/public/p"), b))
        .otherwise(concat(lit("/p"), b))
      val urls = table(s, d, "documents").select(col("doc_id"),
        concat(lit("http://site"), h, lit(".example.com"), path).as("url"))
      val rules = (
        (0 to 4).flatMap(i => Seq(
          (s"site$i.example.com", "/private/", false),
          (s"site$i.example.com", "/private/public/", true))) ++
          Seq(("site0.example.com", "/", false),
            ("site0.example.com", "/public/", true),
            ("site1.example.com", "/p", true),
            ("site1.example.com", "/p", false))
        ).toDF("host", "prefix", "allow")
      operators.Crawl.robotsFilter(urls, "url", "doc_id", rules)
    },
    // --- crawl-frontier politeness schedule: per-host queue capped at
    //     the 40 best-priority URLs (partial top-k BEFORE the exchange
    //     via GroupedTopK), fetch slots spaced by the host's crawl
    //     delay from a 4-row broadcast policy table (default 5 s for
    //     the three uncovered hosts). ---
    "q_frontier_plan" -> { (s, d) =>
      val h = (col("doc_id") % 7).cast("string")
      val b = col("doc_id").cast("string")
      val frontier = table(s, d, "documents").select(
        concat(lit("http://site"), h, lit(".example.com/p/"), b).as("url"),
        col("n_chars").as("priority"))
      val policy = s.range(4).select(
        concat(lit("site"), col("id").cast("string"),
          lit(".example.com")).as("host"),
        (col("id") + 1).cast("double").as("delay_s"))
      operators.Crawl.frontierPlan(
        frontier, "url", "priority", policy,
        defaultDelayS = 5.0, maxPerHost = 40)
    },
    // --- fixed-point PageRank over a deterministic synthetic link
    //     graph (doc u -> (u + j*131) % N for j in 1..u%4; u%4==0 docs
    //     are dangling). Integer arithmetic end-to-end, so the power
    //     iteration is bit-stable under any partitioning and the
    //     oracle replays it exactly — a float PageRank could never be
    //     hash-compared across engines. 4 iterations, damping 85/100. ---
    "q_pagerank" -> { (s, d) =>
      operators.LinkGraph.pageRank(
        linkEdges(s, d), "src", "dst", iterations = PageRankIters)
    },
    // --- per-vertex degree + link-locality report over the same graph
    //     (hosts synthesized as id%7): out/in degree and the fraction
    //     of out-links staying on the source's own host — the
    //     link-farm signal. Two partial-agg exchanges + one join. ---
    "q_link_degree" -> { (s, d) =>
      val e = linkEdges(s, d).select(
        col("src"), col("dst"),
        concat(lit("site"), (col("src") % 7).cast("string")).as("src_host"),
        concat(lit("site"), (col("dst") % 7).cast("string")).as("dst_host"))
      operators.LinkGraph.degreeReport(e, "src", "dst", "src_host", "dst_host")
    },
    // --- per-host quality prior: docs, Gopher-gate pass rate, mean
    //     token count per host — the domain-level curation signal
    //     (RefinedWeb-style) that feeds recrawl prioritization. All
    //     three repetition gates fold row-locally (map-only native
    //     expressions); the rollup is one partial-agg exchange on the
    //     host key; pass_rate/mean_tokens are exact integer sums over
    //     one division, so the floats hash-compare. ---
    "q_host_quality" -> { (s, d) =>
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
    // --- crawler-trap report: URL-template mining (digit runs -> N).
    //     Even doc_ids generate one-URL-per-doc '/d/<id>' paths (the
    //     trap signature: 50 distinct URLs per (host, template) cell);
    //     odd doc_ids cycle 7 stable '/p/<k>' pages. Collapse on the
    //     spread triple first, then roll up — the hostReport shape. ---
    "q_url_traps" -> { (s, d) =>
      val h = (col("doc_id") % 5).cast("string")
      val url = when(col("doc_id") % 2 === 0, concat(
          lit("http://site"), h, lit(".example.com/d/"),
          col("doc_id").cast("string")))
        .otherwise(concat(
          lit("http://site"), h, lit(".example.com/p/"),
          (col("doc_id") % 7).cast("string")))
      operators.Crawl.urlTemplateReport(
        table(s, d, "documents").select(url.as("url")), "url", maxUrlsPerTemplate = 20)
    },
    // --- mirror-host detection: every third doc is served by both its
    //     h<k> host and a m<k> mirror, so each (h<k>, m<k>) pair shares
    //     ~N/30 identical texts. Pairing is digest-only with the maxDf
    //     hot-content cutoff; text never crosses an exchange. ---
    "q_mirror_hosts" -> { (s, d) =>
      val k = (col("doc_id") % 10).cast("string")
      val base = table(s, d, "documents")
      val primary = base.select(
        concat(lit("h"), k, lit(".example.com")).as("host"), col("text"))
      val mirror = base.filter(col("doc_id") % 3 === 0).select(
        concat(lit("m"), k, lit(".example.com")).as("host"), col("text"))
      operators.Crawl.mirrorHosts(
        primary.unionByName(mirror), "host", "text",
        maxDf = 5, minShared = 3)
    },
    // --- warm-started PageRank: resume 2 more iterations from a prior
    //     2-iteration run (the recrawl shape — last release's ranks
    //     seed the new graph). The oracle is the STRAIGHT 4-iteration
    //     replay: resuming is bit-exact by construction, and the
    //     driver gate enforces that identity cross-engine. ---
    "q_pagerank_warm" -> { (s, d) =>
      val e = linkEdges(s, d)
      val prior = operators.LinkGraph.pageRank(e, "src", "dst", 2)
      operators.LinkGraph.pageRank(e, "src", "dst", 2, initial = Some(prior))
    },
    // --- mirror clusters: the pair table closed into components with
    //     a canonical host per cluster (min host) — the per-cluster
    //     fetch-one decision a crawl actually takes. Same synthesis as
    //     q_mirror_hosts plus a THREE-way mirror (w<k> hosts for
    //     doc_id%6==0) so clusters of size 3 exercise transitivity. ---
    "q_mirror_clusters" -> { (s, d) =>
      val k = (col("doc_id") % 10).cast("string")
      val base = table(s, d, "documents")
      val fetches = base.select(
          concat(lit("h"), k, lit(".example.com")).as("host"), col("text"))
        .unionByName(base.filter(col("doc_id") % 3 === 0).select(
          concat(lit("m"), k, lit(".example.com")).as("host"), col("text")))
        .unionByName(base.filter(col("doc_id") % 6 === 0).select(
          concat(lit("w"), k, lit(".example.com")).as("host"), col("text")))
      operators.Crawl.mirrorClusters(
        fetches, "host", "text", maxDf = 5, minShared = 3)
    },
    // --- rank-prioritized frontier: the composition the link family
    //     exists for — PageRank over the crawl graph becomes the
    //     priority column of the politeness scheduler, so recrawl
    //     budget flows to the highest-authority pages first. 2 rank
    //     iterations, per-host queue capped at 40, policy delays from
    //     the 4-row broadcast table. ---
    "q_rank_frontier" -> { (s, d) =>
      val ranks = operators.LinkGraph.pageRank(
        linkEdges(s, d), "src", "dst", iterations = 2)
      val frontier = ranks.select(
        concat(lit("http://site"), (col("id") % 7).cast("string"),
          lit(".example.com/p/"), col("id").cast("string")).as("url"),
        col("rank_fp").as("priority"))
      val policy = s.range(4).select(
        concat(lit("site"), col("id").cast("string"),
          lit(".example.com")).as("host"),
        (col("id") + 1).cast("double").as("delay_s"))
      operators.Crawl.frontierPlan(
        frontier, "url", "priority", policy,
        defaultDelayS = 5.0, maxPerHost = 40)
    },
    // --- per-destination anchor-text profile: top-3 terms of incoming
    //     link anchors (anchor = the source doc's first 3 words). The
    //     (dst, term) count is partial-aggregating on the well-spread
    //     pair; the per-page cut is the partial-then-final GroupedTopK
    //     exec; the rank window is bounded at k rows per page. ---
    "q_anchor_text" -> { (s, d) =>
      val ds = table(s, d, "documents")
      val n = ds.count()
      val m = col("doc_id") % 4
      val e = ds.select(col("doc_id").as("src"),
          array_join(slice(split(col("text"), " "), 1, 3), " ").as("anchor"),
          explode(when(m > 0, sequence(lit(1L), m))
            .otherwise(array().cast("array<long>"))).as("j"))
        .select(((col("src") + col("j") * 131) % n).as("dst"), col("anchor"))
      operators.LinkGraph.anchorTerms(e, "dst", "anchor", k = 3)
    },
    // --- paragraph-level dedup (CCNet/RefinedWeb granularity between
    //     line- and chunk-level): the corpus has no newlines, so the
    //     query reflows each document into 24-word paragraphs first
    //     (both engines replay the reflow), then drops every paragraph
    //     appearing in > 2 distinct docs. Same plan shape as
    //     q_line_dedup: digests-only shuffle, sorted one-row broadcast
    //     hot set, row-local removal. ---
    "q_para_dedup" -> { (s, d) =>
      val reflowed = table(s, d, "documents").select(
        col("doc_id"),
        array_join(
          operators.SubstringDedup.tokenChunks(
            split(col("text"), " "), ParaWidth), "\n\n").as("text"))
      operators.SubstringDedup.paraDedup(reflowed, "doc_id", "text", maxDf = 2)
        .withColumnRenamed("n_lines", "n_paras")
    })

  /** Words per reflowed paragraph for q_para_dedup. */
  private val ParaWidth = 24

  /** Power-iteration count for q_pagerank (unrolled in the oracle). */
  private val PageRankIters = 4

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

  /** The q_pagerank oracle: [[operators.LinkGraph.pageRank]]'s fixed-
    * point iteration unrolled as chained CTEs (r0 -> c1/d1/r1 -> ...),
    * arithmetic mirrored operator-for-operator (`//` for `div`).
    * [[pageRankCtes]] emits the chain (final ranks in `r<iters>`) so
    * compositions can keep building on it. */
  private[graft] def pageRankOracle(iters: Int): String =
    s"WITH ${pageRankCtes(iters)}\nSELECT id, rank_fp FROM r$iters"

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

  // NOTE: the composed oracles CONCATENATE the pre-stripped CTE
  // fragments — running stripMargin over an interpolated fragment
  // would eat the first pipe of every line-leading `||` concat.
  val oracles: Map[String, String] = Map(
    "q_pagerank" -> pageRankOracle(PageRankIters),
    // Resume-is-exact: the warm-started 2+2 equals the straight 4.
    "q_pagerank_warm" -> pageRankOracle(4),
    "q_host_quality" ->
      (s"WITH g AS (${QueriesR9.gopherRepOracle}),\n" +
        """t AS (SELECT doc_id,
          |    len(regexp_extract_all(text, '\S+')) AS nt FROM documents)
          |SELECT 'site' || CAST(g.doc_id % 7 AS VARCHAR) AS host,
          |       CAST(count(*) AS BIGINT) AS n_docs,
          |       round(avg(CASE WHEN top2_frac < 0.2 AND top3_frac < 0.18
          |         AND dup5_frac < 0.15 THEN 1.0 ELSE 0.0 END), 6)
          |         AS pass_rate,
          |       round(avg(nt * 1.0), 6) AS mean_tokens
          |FROM g JOIN t USING (doc_id)
          |GROUP BY 1""".stripMargin),
    "q_url_traps" ->
      """WITH u AS (SELECT CASE WHEN doc_id % 2 = 0
        |      THEN 'http://site' || CAST(doc_id % 5 AS VARCHAR)
        |        || '.example.com/d/' || CAST(doc_id AS VARCHAR)
        |      ELSE 'http://site' || CAST(doc_id % 5 AS VARCHAR)
        |        || '.example.com/p/' || CAST(doc_id % 7 AS VARCHAR)
        |    END AS url FROM documents),
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
        |FROM g GROUP BY host, template""".stripMargin,
    "q_mirror_hosts" ->
      """WITH f AS (
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
        |HAVING count(*) >= 3""".stripMargin,
    "q_mirror_clusters" ->
      """WITH RECURSIVE f AS (
        |  SELECT 'h' || CAST(doc_id % 10 AS VARCHAR) || '.example.com'
        |    AS host, text FROM documents
        |  UNION ALL
        |  SELECT 'm' || CAST(doc_id % 10 AS VARCHAR) || '.example.com',
        |    text FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT 'w' || CAST(doc_id % 10 AS VARCHAR) || '.example.com',
        |    text FROM documents WHERE doc_id % 6 = 0),
        |hd AS (SELECT DISTINCT host, text FROM f),
        |fr AS (SELECT text FROM
        |    (SELECT text, count(*) AS c FROM hd GROUP BY text)
        |  WHERE c BETWEEN 2 AND 5),
        |p AS (SELECT hd.host, hd.text FROM hd JOIN fr USING (text)),
        |mp AS (SELECT a.host AS host_a, b.host AS host_b
        |  FROM p a JOIN p b ON a.text = b.text AND a.host < b.host
        |  GROUP BY a.host, b.host HAVING count(*) >= 3),
        |edges AS (SELECT host_a AS src, host_b AS dst FROM mp
        |          UNION ALL SELECT host_b, host_a FROM mp),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |rep AS (SELECT src AS host, least(src, min(dst)) AS canonical_host
        |        FROM reach GROUP BY src),
        |hosts AS (SELECT DISTINCT host FROM f)
        |SELECT h.host, coalesce(r.canonical_host, h.host) AS canonical_host
        |FROM hosts h LEFT JOIN rep r ON h.host = r.host""".stripMargin,
    "q_rank_frontier" ->
      (s"WITH ${pageRankCtes(2)},\n" +
        """u AS (SELECT
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
          |p AS (SELECT 'site' || CAST(i AS VARCHAR) || '.example.com' AS host,
          |        CAST(i + 1 AS DOUBLE) AS delay_s
          |      FROM generate_series(0, 3) t(i))
          |SELECT cp.canon_url, cp.priority, cp.host, cp.rank,
          |       coalesce(p.delay_s, 5.0) AS delay_s,
          |       (cp.rank - 1) * coalesce(p.delay_s, 5.0) AS fetch_at_s
          |FROM cp LEFT JOIN p ON cp.host = p.host""".stripMargin),
    "q_anchor_text" ->
      """WITH e AS (SELECT
        |    (doc_id + j * 131) % (SELECT count(*) FROM documents) AS dst,
        |    array_to_string(string_split(text, ' ')[1:3], ' ') AS anchor
        |  FROM documents, unnest(generate_series(1, doc_id % 4)) t(j)),
        |t AS (SELECT dst AS id,
        |        unnest(regexp_split_to_array(lower(anchor), '\s+')) AS term
        |      FROM e),
        |c AS (SELECT id, term, count(*) AS n FROM t WHERE term <> ''
        |      GROUP BY id, term),
        |r AS (SELECT id, term, CAST(n AS BIGINT) AS n,
        |    CAST(row_number() OVER (PARTITION BY id
        |      ORDER BY n DESC, term) AS BIGINT) AS rank FROM c)
        |SELECT id, term, n, rank FROM r WHERE rank <= 3""".stripMargin,
    "q_link_degree" ->
      (s"WITH $EdgeCte,\n" +
        """x AS (SELECT src, dst,
          |    CASE WHEN src % 7 = dst % 7 THEN 1 ELSE 0 END AS intra FROM e),
          |o AS (SELECT src AS id, count(*) AS out_deg, sum(intra) AS out_intra
          |      FROM x GROUP BY src),
          |i AS (SELECT dst AS id, count(*) AS in_deg FROM x GROUP BY dst)
          |SELECT coalesce(o.id, i.id) AS id,
          |       CAST(coalesce(o.out_deg, 0) AS BIGINT) AS out_deg,
          |       CAST(coalesce(i.in_deg, 0) AS BIGINT) AS in_deg,
          |       round(o.out_intra * 1.0 / o.out_deg, 6) AS intra_rate
          |FROM o FULL OUTER JOIN i ON o.id = i.id""".stripMargin),
    "q_url_canon" ->
      (s"WITH $UrlCte,\n$CanonCte\n" +
        "SELECT doc_id, url, canon_url, host FROM c"),
    "q_url_dedup" ->
      (s"WITH $UrlCte,\n$CanonCte,\n" +
        """r AS (SELECT doc_id, n_chars, canon_url,
          |    row_number() OVER (PARTITION BY canon_url
          |      ORDER BY n_chars DESC, doc_id) AS rn FROM c)
          |SELECT doc_id, n_chars, canon_url FROM r WHERE rn = 1""".stripMargin),
    "q_host_report" ->
      (s"WITH $UrlCte,\n$CanonCte\n" +
        """SELECT host, CAST(count(*) AS BIGINT) AS n_fetches,
          |       CAST(count(DISTINCT canon_url) AS BIGINT) AS n_pages,
          |       round(1.0 - count(DISTINCT canon_url) * 1.0 / count(*), 6)
          |         AS dup_rate
          |FROM c GROUP BY host""".stripMargin),
    "q_domain_report" ->
      """WITH u AS (SELECT doc_id,
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
        |FROM d GROUP BY domain""".stripMargin,
    "q_robots_filter" ->
      """WITH c AS (SELECT doc_id,
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
        |  ('site0.example.com', '/private/', false),
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
        |  ('site1.example.com', '/p', false)),
        |m AS (SELECT c.doc_id, c.canon_url, c.host, c.path,
        |    max(CASE WHEN r.prefix IS NOT NULL
        |        THEN len(r.prefix) * 2 + CAST(r.allow AS INT) END) AS best
        |  FROM c LEFT JOIN r
        |    ON c.host = r.rhost AND starts_with(c.path, r.prefix)
        |  GROUP BY 1, 2, 3, 4)
        |SELECT doc_id, canon_url, host, path,
        |       (best IS NULL OR best % 2 = 1) AS allowed,
        |       CAST(best // 2 AS INT) AS matched_len
        |FROM m""".stripMargin,
    "q_frontier_plan" ->
      """WITH u AS (SELECT
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
        |p AS (SELECT 'site' || CAST(i AS VARCHAR) || '.example.com' AS host,
        |        CAST(i + 1 AS DOUBLE) AS delay_s
        |      FROM generate_series(0, 3) t(i))
        |SELECT c.canon_url, c.priority, c.host, c.rank,
        |       coalesce(p.delay_s, 5.0) AS delay_s,
        |       (c.rank - 1) * coalesce(p.delay_s, 5.0) AS fetch_at_s
        |FROM c LEFT JOIN p ON c.host = p.host""".stripMargin,
    "q_para_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |p AS (SELECT doc_id, unnest(list_transform(generate_series(0, CAST(ceil(len(w) / 24.0) AS INT) - 1), k -> {'idx': k, 'para': array_to_string(w[k*24+1 : k*24+24], ' ')}), recursive := true) FROM t),
        |hot AS (SELECT para FROM (SELECT para, count(DISTINCT doc_id) df FROM p GROUP BY 1) WHERE df > 2),
        |kept AS (SELECT doc_id, idx, para FROM p WHERE para NOT IN (SELECT para FROM hot)),
        |r AS (SELECT doc_id, count(*) n_kept, string_agg(para, chr(10)||chr(10) ORDER BY idx) text_dedup FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, CAST(ceil(len(t.w) / 24.0) AS BIGINT) AS n_paras,
        |       coalesce(r.n_kept, 0)::BIGINT AS n_kept,
        |       coalesce(r.text_dedup, '') AS text_dedup
        |FROM t LEFT JOIN r ON t.doc_id = r.doc_id""".stripMargin)
}
