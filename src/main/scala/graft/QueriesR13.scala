package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Sources.table

/** Round-13 queries: the INCREMENTAL side of the link/crawl family —
  * PageRank maintained through an edge delta instead of a rebuild
  * (q_pagerank_delta) and mirror clusters maintained through new pair
  * evidence instead of a re-closure (q_mirror_incremental). Both are
  * exact-gated against FULL-REBUILD oracles: incrementality must be a
  * physical decision, never a semantic one — the same contract as the
  * cache layer's bit-transparency.
  *
  * Synthesis discipline (rounds 11-12): the corpus carries no links,
  * so edges derive deterministically from doc_id and both engines
  * replay the identical synthesis. */
object QueriesR13 {

  /** The PREVIOUS release's edge list: [[QueriesR11.linkEdges]] minus
    * every doc's third link (j == 3, present when doc_id % 4 == 3),
    * plus a STALE link (src + 977) % n from every fifth doc. The
    * recrawl then discovers the third links (added) and finds the
    * stale ones dead (removed), so the patched graph is exactly
    * [[QueriesR11.linkEdges]] — whose straight unroll the oracle
    * continues from. 977 is coprime-ish padding chosen so a stale
    * edge can never coincide with a real (src + j*131) % n edge at
    * the fixture document counts (500 / 5k / 50k): exceptAll removes
    * BY VALUE, so a collision would eat a genuine link. */
  private def prevEdges(s: SparkSession, d: String): DataFrame = {
    val ds = table(s, d, "documents")
    val n = ds.count()
    val m2 = least(col("doc_id") % 4, lit(2L))
    ds.select(col("doc_id").as("src"),
        explode(when(m2 > 0, sequence(lit(1L), m2))
          .otherwise(array().cast("array<long>"))).as("j"))
      .select(col("src"), ((col("src") + col("j") * 131) % n).as("dst"))
      .unionByName(ds.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id").as("src"),
          ((col("doc_id") + 977) % n).as("dst")))
  }

  private def addedEdges(s: SparkSession, d: String): DataFrame = {
    val ds = table(s, d, "documents")
    val n = ds.count()
    ds.filter(col("doc_id") % 4 === 3)
      .select(col("doc_id").as("src"),
        ((col("doc_id") + 3 * 131) % n).as("dst"))
  }

  private def removedEdges(s: SparkSession, d: String): DataFrame = {
    val ds = table(s, d, "documents")
    val n = ds.count()
    ds.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id").as("src"),
        ((col("doc_id") + 977) % n).as("dst"))
  }

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

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- INCREMENTAL PageRank: prior release's ranks (2 iterations on
    //     the stale graph) + an edge delta (3rd links discovered,
    //     stale links dead) -> pageRankDelta patches the edge list and
    //     warm-starts 2 more iterations. The oracle replays BOTH
    //     phases (prev-graph unroll, then the patched-graph unroll
    //     warm-started from it) — the patch itself must be invisible
    //     in the values. ---
    "q_pagerank_delta" -> { (s, d) =>
      // The prior ranks are MATERIALIZED before the delta run — the
      // production shape (last release's converged ranks are a table
      // read back from the cache, never a live lineage). Left lazy,
      // the delta run's two rank references per iteration re-execute
      // the whole prior pageRank up to 4x inside one action (measured
      // ~8 s vs ~5 s at sf0.1); value-transparent either way.
      val prior = operators.Materialize.checkpoint(
        operators.LinkGraph.pageRank(
          prevEdges(s, d), "src", "dst", iterations = 2))
      operators.LinkGraph.pageRankDelta(
        prevEdges(s, d), addedEdges(s, d), removedEdges(s, d),
        "src", "dst", prior, iterations = 2)
    },
    // --- INCREMENTAL mirror clusters: prior clusters from the 2-way
    //     (h/m) corpus, new pair evidence mined from the 3-way
    //     (h/m/w) corpus; the contracted closure runs only on touched
    //     reps, and the result must equal the full 3-way rebuild —
    //     the oracle is q_mirror_clusters' verbatim. ---
    "q_mirror_incremental" -> { (s, d) =>
      val k = (col("doc_id") % 10).cast("string")
      val base = table(s, d, "documents")
      val twoWay = base.select(
          concat(lit("h"), k, lit(".example.com")).as("host"), col("text"))
        .unionByName(base.filter(col("doc_id") % 3 === 0).select(
          concat(lit("m"), k, lit(".example.com")).as("host"), col("text")))
      val threeWay = twoWay
        .unionByName(base.filter(col("doc_id") % 6 === 0).select(
          concat(lit("w"), k, lit(".example.com")).as("host"), col("text")))
      val prior = operators.Crawl.mirrorClusters(
        twoWay, "host", "text", maxDf = 5, minShared = 3)
      val newPairs = operators.Crawl.mirrorHosts(
        threeWay, "host", "text", maxDf = 5, minShared = 3)
      operators.Crawl.mirrorClustersIncremental(
        threeWay.select(col("host")), prior, newPairs)
    },
    // --- INCREMENTAL near-dup components: prior labels from the
    //     even-id half of the corpus, new pair evidence from the full
    //     corpus (pair Jaccard is a property of the two documents
    //     alone, so evidence is append-only and prior pairs stay
    //     valid); the contracted closure touches only clusters the
    //     new pairs reach, and the result must equal the full-rebuild
    //     closure — q_dedup_components' recursive-CTE oracle
    //     verbatim. ---
    "q_dedup_components_inc" -> { (s, d) =>
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
    // --- INCREMENTAL IVF index: quantizer fit on the 6/7 base corpus,
    //     the 1/7 delta assigned to the FROZEN centroids relationally
    //     (no fit job) and appended; top-k from the extended index is
    //     recall-gated against full-corpus brute force — the same gate
    //     shape and threshold as q_ivf_recall, so extension must not
    //     cost recall on this corpus. ---
    "q_ivf_extend" -> { (s, d) =>
      val e = table(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val qs = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val base = e.filter(col("vec_id") % 7 =!= 0)
      val delta = e.filter(col("vec_id") % 7 === 0)
      val (assigned, centroids) = operators.Similarity.buildIvfIndex(
        base, "vec_id", "embedding", nLists = 16)
      val extended = assigned.unionByName(
        operators.Similarity.extendIvfIndex(
          delta, centroids, "vec_id", "embedding"))
      val ivf = operators.Similarity.ivfTopKFromIndex(
        extended, centroids, qs, "vec_id", "embedding", "qid", "qvec",
        k = 5, nProbe = 4)
      val exact = operators.Similarity.bruteForceTopKAgg(
        e, qs, "vec_id", "embedding", "qid", "qvec", k = 5)
      operators.Quality.topKRecallCounts(exact, ivf, "qid", "vec_id")
        .select(col("n_q"), col("n_exact"),
          operators.Quality.recallOk(bps = 3500).as("recall_ok"))
    },
    // --- robots.txt PARSING: raw bodies -> the (host, prefix, allow)
    //     rule table robotsFilter/robotsVerdict consume — the missing
    //     first step of the fetch-to-frontier composition, exact-gated
    //     against a full SQL replay of the group/selection grammar. ---
    "q_robots_parse" -> { (s, d) =>
      import s.implicits._
      val bodies = RobotsBodies
        .map { case (h, ls) => (h, ls.mkString(robotsBodySep(h))) }
        .toDF("host", "body")
      operators.Crawl.parseRobots(bodies, "host", "body", "graftbot")
    },
    // --- Crawl-delay from the same bodies: the (host, delay_s) policy
    //     table the politeness scheduler consumes. site0's delay sits
    //     in the star group an exact graftbot group SHADOWS (must not
    //     appear); site1's star delay applies; site3 has TWO selected
    //     delays (10, 4) and the politeness-preserving MAX (10) wins;
    //     site5's CRLF body parses cleanly. ---
    "q_crawl_delay" -> { (s, d) =>
      import s.implicits._
      val bodies = RobotsBodies
        .map { case (h, ls) => (h, ls.mkString(robotsBodySep(h))) }
        .toDF("host", "body")
      operators.Crawl.parseCrawlDelay(bodies, "host", "body", "graftbot")
    },
    // --- the RAW-POLICY frontier: q_frontier_gated with BOTH policy
    //     inputs derived from the raw robots bodies — rules from
    //     parseRobots, politeness delays from parseCrawlDelay (the
    //     hand-written VALUES tables of the r12 query replaced by the
    //     parse chain). Candidates and the trap-mining fetch log keep
    //     the r12 synthesis; the oracle composes the shared robots
    //     CTEs into the gated-frontier replay. ---
    "q_frontier_raw" -> { (s, d) =>
      import s.implicits._
      val bodies = RobotsBodies
        .map { case (h, ls) => (h, ls.mkString(robotsBodySep(h))) }
        .toDF("host", "body")
      val rules = operators.Crawl.parseRobots(bodies, "host", "body", "graftbot")
      val policy = operators.Crawl.parseCrawlDelay(
        bodies, "host", "body", "graftbot")
      val h = (col("doc_id") % 5).cast("string")
      val b = col("doc_id").cast("string")
      val path = when(col("doc_id") % 4 === 0, concat(lit("/private/p"), b))
        .when(col("doc_id") % 4 === 1, concat(lit("/d/"), b))
        .when(col("doc_id") % 4 === 2, concat(lit("/public/p"), b))
        .otherwise(concat(lit("/p"), b))
      val cand = table(s, d, "documents").select(
        concat(lit("http://site"), h, lit(".example.com"), path).as("url"),
        col("n_chars").as("priority"))
      val fh = (col("doc_id") % 5).cast("string")
      val logUrl = when(col("doc_id") % 2 === 0, concat(
          lit("http://site"), fh, lit(".example.com/d/"),
          col("doc_id").cast("string")))
        .otherwise(concat(
          lit("http://site"), fh, lit(".example.com/p/"),
          (col("doc_id") % 7).cast("string")))
      val fetchLog = table(s, d, "documents").select(logUrl.as("url"))
      operators.Crawl.frontierPlanGated(
        cand, "url", "priority", rules, fetchLog, "url", policy,
        defaultDelayS = 5.0, maxPerHost = 40, maxUrlsPerTemplate = 20)
    },
    // --- Sitemap directives: GLOBAL per the REP (no user-agent group
    //     scoping — site0's two sitemaps surface even though one sits
    //     inside a group graftbot shadows; site4's surfaces though its
    //     only group names a different agent). Map-only projection, no
    //     window, no exchange. ---
    "q_sitemaps" -> { (s, d) =>
      import s.implicits._
      val bodies = RobotsBodies
        .map { case (h, ls) => (h, ls.mkString(robotsBodySep(h))) }
        .toDF("host", "body")
      operators.Crawl.parseSitemaps(bodies, "host", "body")
    })

  /** The q_pagerank_delta oracle: the q_pagerank unroll arithmetic,
    * first over the PREVIOUS edge list (p-prefixed CTEs, uniform
    * init), then over the patched list (= the standard `e`) with r0
    * warm-started from the prev unroll's final ranks — new vertices
    * enter at uniform `scale // n`, dead vertices drop (the vertex
    * set is always the current graph's), exactly
    * [[operators.LinkGraph.pageRank]]'s `initial` contract. */
  private def prDeltaOracle(prevIters: Int, deltaIters: Int): String = {
    val header =
      s"""ep AS MATERIALIZED (
         |  SELECT doc_id AS src,
         |      (doc_id + j * 131) % (SELECT count(*) FROM documents) AS dst
         |    FROM documents,
         |      unnest(generate_series(1, least(doc_id % 4, 2))) t(j)
         |  UNION ALL
         |  SELECT doc_id, (doc_id + 977) % (SELECT count(*) FROM documents)
         |    FROM documents WHERE doc_id % 5 = 0),
         |vp AS MATERIALIZED (SELECT DISTINCT id FROM
         |  (SELECT src AS id FROM ep UNION ALL SELECT dst AS id FROM ep)),
         |odp AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM ep GROUP BY src),
         |np AS MATERIALIZED (SELECT count(*) AS n FROM vp),
         |rp0 AS MATERIALIZED (SELECT id, CAST(1000000000 // n AS BIGINT) AS rank_fp
         |       FROM vp, np)""".stripMargin
    val prevSteps = (1 to prevIters).map { i =>
      s"""cp$i AS MATERIALIZED (SELECT ep.dst AS id, sum(r.rank_fp // odp.outdeg) AS insum
         |  FROM ep JOIN odp ON ep.src = odp.src JOIN rp${i - 1} r ON ep.src = r.id
         |  GROUP BY ep.dst),
         |dp$i AS MATERIALIZED (SELECT coalesce(sum(r.rank_fp), 0) AS dang FROM rp${i - 1} r
         |  WHERE r.id NOT IN (SELECT src FROM odp)),
         |rp$i AS MATERIALIZED (SELECT vp.id, CAST((15 * (1000000000 // np.n)) // 100
         |    + (85 * (coalesce(c.insum, 0) + d.dang // np.n)) // 100
         |    AS BIGINT) AS rank_fp
         |  FROM vp LEFT JOIN cp$i c ON vp.id = c.id, dp$i d, np)""".stripMargin
    }
    val patched =
      s"""${QueriesR11.EdgeCte},
         |v AS MATERIALIZED (SELECT DISTINCT id FROM
         |  (SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)),
         |od AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
         |nn AS MATERIALIZED (SELECT count(*) AS n FROM v),
         |r0 AS MATERIALIZED (SELECT v.id,
         |    CAST(coalesce(rp.rank_fp, 1000000000 // nn.n) AS BIGINT) AS rank_fp
         |  FROM v LEFT JOIN rp$prevIters rp ON v.id = rp.id, nn)""".stripMargin
    val deltaSteps = (1 to deltaIters).map { i =>
      s"""c$i AS MATERIALIZED (SELECT e.dst AS id, sum(r.rank_fp // od.outdeg) AS insum
         |  FROM e JOIN od ON e.src = od.src JOIN r${i - 1} r ON e.src = r.id
         |  GROUP BY e.dst),
         |d$i AS MATERIALIZED (SELECT coalesce(sum(r.rank_fp), 0) AS dang FROM r${i - 1} r
         |  WHERE r.id NOT IN (SELECT src FROM od)),
         |r$i AS MATERIALIZED (SELECT v.id, CAST((15 * (1000000000 // nn.n)) // 100
         |    + (85 * (coalesce(c.insum, 0) + d.dang // nn.n)) // 100
         |    AS BIGINT) AS rank_fp
         |  FROM v LEFT JOIN c$i c ON v.id = c.id, d$i d, nn)""".stripMargin
    }
    s"WITH ${((header +: prevSteps) ++ (patched +: deltaSteps)).mkString(",\n")}\n" +
      s"SELECT id, rank_fp FROM r$deltaIters"
  }

  val oracles: Map[String, String] = Map(
    "q_pagerank_delta" -> prDeltaOracle(2, 2),
    // Incrementality must be invisible — but the operator's contract
    // is closure(priorPairs ∪ newPairs), and mirrorHosts evidence is
    // NOT strictly append-only under the maxDf cap (a digest whose
    // host-df crosses maxDf when the w-corpus lands DROPS from the
    // 3-way pair set while the prior cluster table keeps its merge).
    // The oracle therefore replays exactly the contract: mine the
    // 2-way pairs AND the 3-way pairs, close their UNION — structural
    // equality with the operator at ANY corpus, instead of relying on
    // the fixture never crossing the cap.
    "q_mirror_incremental" ->
      """WITH RECURSIVE f2 AS (
        |  SELECT 'h' || CAST(doc_id % 10 AS VARCHAR) || '.example.com'
        |    AS host, text FROM documents
        |  UNION ALL
        |  SELECT 'm' || CAST(doc_id % 10 AS VARCHAR) || '.example.com',
        |    text FROM documents WHERE doc_id % 3 = 0),
        |f3 AS (
        |  SELECT host, text FROM f2
        |  UNION ALL
        |  SELECT 'w' || CAST(doc_id % 10 AS VARCHAR) || '.example.com',
        |    text FROM documents WHERE doc_id % 6 = 0),
        |hd2 AS (SELECT DISTINCT host, text FROM f2),
        |fr2 AS (SELECT text FROM
        |    (SELECT text, count(*) AS c FROM hd2 GROUP BY text)
        |  WHERE c BETWEEN 2 AND 5),
        |p2 AS (SELECT hd2.host, hd2.text FROM hd2 JOIN fr2 USING (text)),
        |mp2 AS (SELECT a.host AS host_a, b.host AS host_b
        |  FROM p2 a JOIN p2 b ON a.text = b.text AND a.host < b.host
        |  GROUP BY a.host, b.host HAVING count(*) >= 3),
        |hd3 AS (SELECT DISTINCT host, text FROM f3),
        |fr3 AS (SELECT text FROM
        |    (SELECT text, count(*) AS c FROM hd3 GROUP BY text)
        |  WHERE c BETWEEN 2 AND 5),
        |p3 AS (SELECT hd3.host, hd3.text FROM hd3 JOIN fr3 USING (text)),
        |mp3 AS (SELECT a.host AS host_a, b.host AS host_b
        |  FROM p3 a JOIN p3 b ON a.text = b.text AND a.host < b.host
        |  GROUP BY a.host, b.host HAVING count(*) >= 3),
        |mp AS (SELECT host_a, host_b FROM mp2
        |       UNION SELECT host_a, host_b FROM mp3),
        |edges AS (SELECT host_a AS src, host_b AS dst FROM mp
        |          UNION ALL SELECT host_b, host_a FROM mp),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |rep AS (SELECT src AS host, least(src, min(dst)) AS canonical_host
        |        FROM reach GROUP BY src),
        |hosts AS (SELECT DISTINCT host FROM f3)
        |SELECT h.host, coalesce(r.canonical_host, h.host) AS canonical_host
        |FROM hosts h LEFT JOIN rep r ON h.host = r.host""".stripMargin,
    "q_dedup_components_inc" ->
      operators.PipelineQueries.oracles("q_dedup_components"),
    // Same exact-side counts + thresholded-boolean contract as
    // q_ivf_recall: the exact top-k side is engine-reproducible, the
    // recall gate is deterministic for the fixed seeds.
    "q_ivf_extend" ->
      """SELECT count(DISTINCT vec_id) AS n_q,
        |  5 * count(DISTINCT vec_id) AS n_exact, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin,
    "q_robots_parse" ->
      (robotsCtes +
        """
          |SELECT DISTINCT l5.host AS host, value AS prefix,
          |  (field = 'allow') AS allow
          |FROM l5 JOIN sel ON l5.host = sel.host AND l5.grp = sel.grp
          |WHERE field IN ('allow', 'disallow') AND value <> ''""".stripMargin),
    "q_crawl_delay" ->
      (robotsCtes +
        """
          |SELECT l5.host AS host, max(TRY_CAST(value AS DOUBLE)) AS delay_s
          |FROM l5 JOIN sel ON l5.host = sel.host AND l5.grp = sel.grp
          |WHERE field = 'crawl-delay' AND TRY_CAST(value AS DOUBLE) >= 0
          |GROUP BY l5.host""".stripMargin),
    // The r12 gated-frontier replay with BOTH policy tables swapped
    // for the parse chain: `rules` and `delays` come out of the shared
    // robots CTEs instead of hand-written VALUES.
    "q_frontier_raw" ->
      (robotsCtes +
        """,
          |rules AS (SELECT DISTINCT l5.host AS rhost, value AS prefix,
          |    (field = 'allow') AS allow
          |  FROM l5 JOIN sel ON l5.host = sel.host AND l5.grp = sel.grp
          |  WHERE field IN ('allow', 'disallow') AND value <> ''),
          |delays AS (SELECT l5.host AS dhost,
          |    max(TRY_CAST(value AS DOUBLE)) AS delay_s
          |  FROM l5 JOIN sel ON l5.host = sel.host AND l5.grp = sel.grp
          |  WHERE field = 'crawl-delay' AND TRY_CAST(value AS DOUBLE) >= 0
          |  GROUP BY l5.host),
          |cand AS (SELECT
          |    'http://site' || CAST(doc_id % 5 AS VARCHAR) || '.example.com' ||
          |      CASE doc_id % 4
          |        WHEN 0 THEN '/private/p' || CAST(doc_id AS VARCHAR)
          |        WHEN 1 THEN '/d/' || CAST(doc_id AS VARCHAR)
          |        WHEN 2 THEN '/public/p' || CAST(doc_id AS VARCHAR)
          |        ELSE '/p' || CAST(doc_id AS VARCHAR)
          |      END AS canon_url,
          |    'site' || CAST(doc_id % 5 AS VARCHAR) || '.example.com' AS chost,
          |    CASE doc_id % 4
          |      WHEN 0 THEN '/private/p' || CAST(doc_id AS VARCHAR)
          |      WHEN 1 THEN '/d/' || CAST(doc_id AS VARCHAR)
          |      WHEN 2 THEN '/public/p' || CAST(doc_id AS VARCHAR)
          |      ELSE '/p' || CAST(doc_id AS VARCHAR)
          |    END AS path,
          |    CAST(n_chars AS DOUBLE) AS priority
          |  FROM documents),
          |m AS (SELECT cand.canon_url, cand.chost, cand.path, cand.priority,
          |    max(CASE WHEN rules.prefix IS NOT NULL
          |        THEN len(rules.prefix) * 2 + CAST(rules.allow AS INT) END)
          |      AS best
          |  FROM cand LEFT JOIN rules
          |    ON cand.chost = rules.rhost
          |      AND starts_with(cand.path, rules.prefix)
          |  GROUP BY 1, 2, 3, 4),
          |fl AS (SELECT CASE WHEN doc_id % 2 = 0
          |      THEN 'http://site' || CAST(doc_id % 5 AS VARCHAR)
          |        || '.example.com/d/' || CAST(doc_id AS VARCHAR)
          |      ELSE 'http://site' || CAST(doc_id % 5 AS VARCHAR)
          |        || '.example.com/p/' || CAST(doc_id % 7 AS VARCHAR)
          |    END AS url FROM documents),
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
          |FROM cp LEFT JOIN delays ON cp.chost = delays.dhost""".stripMargin),
    // Sitemaps bind to the host, never to a group: the final select
    // reads the cleaned lines with NO `sel` join.
    "q_sitemaps" ->
      (robotsCtes +
        """
          |SELECT DISTINCT host, value AS sitemap_url FROM l5
          |WHERE field = 'sitemap' AND value <> ''""".stripMargin))

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
}
