package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Sources.table

/** Round-12 queries: the crawl front COMPOSED — the gated frontier
  * (robots + trap cells in front of the politeness schedule), mirror-
  * aware URL dedup (cluster-canonical hosts feeding survivor
  * election), anchor-weighted BM25 (the link graph's anchor signal as
  * a retrieval field), and the end-to-end web release (fetch log →
  * URL dedup → extract → gate/dedup/tokenize/pack).
  *
  * Synthesis follows the round-11 discipline: the corpus carries no
  * URLs/links, so each query derives them DETERMINISTICALLY from
  * doc_id and both engines replay the identical synthesis. */
object QueriesR12 {

  /** Shared h/m/w mirror-fetch synthesis (q_mirror_clusters', plus
    * doc_id carried through for the URL table). */
  private def mirrorFetches(s: SparkSession, d: String): DataFrame = {
    val k = (col("doc_id") % 10).cast("string")
    val base = table(s, d, "documents")
    base.select(col("doc_id"),
        concat(lit("h"), k, lit(".example.com")).as("host"), col("text"))
      .unionByName(base.filter(col("doc_id") % 3 === 0).select(col("doc_id"),
        concat(lit("m"), k, lit(".example.com")).as("host"), col("text")))
      .unionByName(base.filter(col("doc_id") % 6 === 0).select(col("doc_id"),
        concat(lit("w"), k, lit(".example.com")).as("host"), col("text")))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- the GATED frontier: robots verdict (per-host rule arrays,
    //     broadcast + row-local fold) and trap cells (template mining
    //     over the fetch log, flagged cells broadcast anti) composed
    //     IN FRONT of the politeness schedule. Candidate paths cycle
    //     4 shapes so every gate bites: /private/* robots-denied
    //     everywhere, /d/<id> lands in a mined trap cell, /public/*
    //     and /p<id> survive (except site0's deny-all). The only
    //     candidate-side exchange is the schedule's bounded top-k
    //     (plan-pinned in CrawlSpec). ---
    "q_frontier_gated" -> { (s, d) =>
      import s.implicits._
      val h = (col("doc_id") % 5).cast("string")
      val b = col("doc_id").cast("string")
      val path = when(col("doc_id") % 4 === 0, concat(lit("/private/p"), b))
        .when(col("doc_id") % 4 === 1, concat(lit("/d/"), b))
        .when(col("doc_id") % 4 === 2, concat(lit("/public/p"), b))
        .otherwise(concat(lit("/p"), b))
      val cand = table(s, d, "documents").select(
        concat(lit("http://site"), h, lit(".example.com"), path).as("url"),
        col("n_chars").as("priority"))
      val rules = (
        (0 to 4).flatMap(i => Seq(
          (s"site$i.example.com", "/private/", false),
          (s"site$i.example.com", "/private/public/", true))) ++
          Seq(("site0.example.com", "/", false),
            ("site0.example.com", "/public/", true),
            ("site1.example.com", "/p", true),
            ("site1.example.com", "/p", false))
        ).toDF("host", "prefix", "allow")
      // Fetch log: q_url_traps' synthesis — even ids mint one /d/<id>
      // URL each (the trap signature), odd ids cycle 7 stable pages.
      val fh = (col("doc_id") % 5).cast("string")
      val logUrl = when(col("doc_id") % 2 === 0, concat(
          lit("http://site"), fh, lit(".example.com/d/"),
          col("doc_id").cast("string")))
        .otherwise(concat(
          lit("http://site"), fh, lit(".example.com/p/"),
          (col("doc_id") % 7).cast("string")))
      val fetchLog = table(s, d, "documents").select(logUrl.as("url"))
      val policy = s.range(4).select(
        concat(lit("site"), col("id").cast("string"),
          lit(".example.com")).as("host"),
        (col("id") + 1).cast("double").as("delay_s"))
      operators.Crawl.frontierPlanGated(
        cand, "url", "priority", rules, fetchLog, "url", policy,
        defaultDelayS = 5.0, maxPerHost = 40, maxUrlsPerTemplate = 20)
    },
    // --- mirror-aware URL dedup: mirrorClusters elects a canonical
    //     host per mirror set; the SAME page fetched from h<k>/m<k>/
    //     w<k> rewrites to one cluster-canonical URL and ONE survivor
    //     remains (plain urlDedup can't collapse these — the canon
    //     URLs differ in host). Survivor = lexicographically smallest
    //     raw URL, so the h-copy wins deterministically. ---
    "q_mirror_dedup" -> { (s, d) =>
      val fetches = mirrorFetches(s, d)
      val hostMap = operators.Crawl.mirrorClusters(
        fetches, "host", "text", maxDf = 5, minShared = 3)
      val urls = fetches.select(col("doc_id"),
        concat(lit("http://"), col("host"), lit("/p/"),
          col("doc_id").cast("string")).as("url"))
      operators.Crawl.mirrorAwareUrlDedup(
          urls, "url", hostMap, Seq(col("url").asc))
        .select(col("doc_id"), col("url"), col("canon_url"))
    },
    // --- anchor-weighted BM25: body field + incoming-anchor field
    //     (simplified BM25F), each with its own length norm and df,
    //     anchor field weighted 1.5. Same link/anchor synthesis as
    //     q_anchor_text (anchor = source doc's first 3 words); the
    //     anchor side folds per edge row-locally and sums in ONE
    //     dst-keyed partial-agg exchange. ---
    "q_anchor_bm25" -> { (s, d) =>
      val ds = table(s, d, "documents")
      val n = ds.count()
      val m = col("doc_id") % 4
      val e = ds.select(col("doc_id").as("src"),
          array_join(slice(split(col("text"), " "), 1, 3), " ").as("anchor"),
          explode(when(m > 0, sequence(lit(1L), m))
            .otherwise(array().cast("array<long>"))).as("j"))
        .select(((col("src") + col("j") * 131) % n).as("dst"), col("anchor"))
      operators.Retrieval.bm25WithAnchors(
        ds, "doc_id", "text", e, "dst", "anchor",
        Seq("spark", "window", "vector"), anchorWeight = 1.5)
    },
    // --- PERSONALIZED PageRank: teleport mass restricted to the seed
    //     set (doc_id % 17 == 0) — the "more pages like these trusted
    //     ones" curation expansion. Same fixed-point integer
    //     discipline as q_pagerank; dangling mass teleports back to
    //     the seeds; the oracle unrolls the identical arithmetic. ---
    "q_ppr" -> { (s, d) =>
      val ds = table(s, d, "documents")
      val seeds = ds.select(col("doc_id").as("id"))
        .filter(col("id") % 17 === 0)
      operators.LinkGraph.personalizedPageRank(
        QueriesR11.linkEdges(s, d), "src", "dst", seeds, iterations = 4)
    },
    // --- HITS hubs & authorities: the Kleinberg complement to
    //     PageRank — authorities are content pages worth keeping,
    //     hubs the directory pages worth crawling. Fixed-point with
    //     integer renormalization to total mass each half-step, so
    //     both engines replay it exactly. 2 iterations. ---
    "q_hits" -> ((s, d) =>
      operators.LinkGraph.hits(
        QueriesR11.linkEdges(s, d), "src", "dst", iterations = HitsIters)),
    // --- PageRank through the CHECKPOINT discipline: 6 iterations
    //     pinned every 2 — the oracle is the straight 6-iteration
    //     unroll, so the cache/checkpoint layer's bit-transparency is
    //     driver-gated cross-engine, not just spec-asserted (the
    //     lineage doubles per iteration, so real iteration counts
    //     REQUIRE the pinning; this proves it free of semantics). ---
    "q_pagerank_pinned" -> ((s, d) =>
      operators.LinkGraph.pageRank(
        QueriesR11.linkEdges(s, d), "src", "dst", iterations = 6,
        materializeEvery = 2)),
    // --- RANK-WEIGHTED CURATION: the data-selection side of the link
    //     graph (q_rank_frontier is the crawl side) — documents pass
    //     the Gopher repetition gates, then the top 20 per source by
    //     PageRank are selected (the RefinedWeb-style "quality prior
    //     × authority prior" cut). Gate folds row-locally; one join
    //     rank↔docs; the cut is the bounded GroupedTopK heaps. ---
    "q_rank_curation" -> { (s, d) =>
      val ds = table(s, d, "documents")
      val ranks = operators.LinkGraph.pageRank(
        QueriesR11.linkEdges(s, d), "src", "dst", iterations = 2)
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
    // --- PageRank TO CONVERGENCE: the production loop — segments of
    //     4 iterations, checkpoint at each boundary, stop when the
    //     boundary-to-boundary L1 delta hits ZERO. Fixed-point Longs
    //     reach an EXACT fixed point (measured: iteration 15 at both
    //     sf0.001 and sf0.01), so the oracle is simply a straight
    //     unroll safely past it (24) — any longer unroll equals the
    //     fixed point. Bounded to the doc_id < 2000 subgraph so the
    //     per-segment actions stay cheap in the sweep at every sf. ---
    "q_pagerank_conv" -> { (s, d) =>
      operators.LinkGraph.pageRankConverged(
        convEdges(s, d), "src", "dst", tolFp = 0L,
        maxIterations = 40, segment = 4)._1
    },
    // --- the END-TO-END web release: fetch log (two messy spellings
    //     per page, markup-wrapped payload) → urlDedup → extract
    //     (markup strip + NFC) → quality gate → exact/near dedup →
    //     PII fingerprint → learned-BPE tokenize → shard packing —
    //     releaseFromCrawl, resumable through the same version-
    //     tokened cache keys as q_release_resumed. The synthesis
    //     inverts exactly (extract(wrap(text)) == text, URL variants
    //     collapse 2:1), so the manifest must be BIT-IDENTICAL to
    //     q_release's and the oracle is q_release's verbatim — a
    //     crawl-front bug (extra survivor, markup residue) would
    //     shift shard offsets or token counts and hash-mismatch. ---
    "q_release_web" -> { (s, d) =>
      val k = (col("doc_id") % 7).cast("string")
      val b = col("doc_id").cast("string")
      val fetches = table(s, d, "documents")
        .select(col("doc_id"), col("text"),
          explode(array(lit(0), lit(1))).as("v"))
        .select(col("doc_id"), col("v"),
          when(col("v") === 0, concat(
            lit("HTTP://WWW.Site"), k, lit(".EXAMPLE.COM:80/a/"), b,
            lit("/?utm_source=feed&id="), b))
          .otherwise(concat(
            lit("http://site"), k, lit(".example.com/a/"), b,
            lit("?id="), b)).as("url"),
          concat(lit("<html><body class=\"x\">"), col("text"),
            lit("</body></html>")).as("raw"))
      operators.Pipeline.releaseFromCrawlResumable(
        fetches, "doc_id", "url", "raw",
        Seq(col("doc_id"), col("v")), windowLen = 2048L, bpeRounds = 5)
    })

  /** Robots rule VALUES rows shared with q_robots_filter's oracle. */
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

  /** HITS power-iteration count for q_hits (unrolled in the oracle). */
  private val HitsIters = 2

  /** q_pagerank_conv's bounded link graph: the [[QueriesR11.linkEdges]]
    * synthesis restricted to doc_id < 2000, modulus the restricted
    * count — identical topology family at every sf, cheap per-segment
    * actions in the sweep. */
  private def convEdges(s: SparkSession, d: String): DataFrame = {
    val ds = table(s, d, "documents").filter(col("doc_id") < ConvCap)
    val n = ds.count()
    val m = col("doc_id") % 4
    ds.select(col("doc_id").as("src"),
        explode(when(m > 0, sequence(lit(1L), m))
          .otherwise(array().cast("array<long>"))).as("j"))
      .select(col("src"), ((col("src") + col("j") * 131) % n).as("dst"))
  }

  private val ConvCap = 2000L

  /** The q_pagerank_conv oracle: the q_pagerank unroll over the capped
    * subgraph, carried PAST the measured exact fixed point (iteration
    * 15) — at and beyond the fixed point every further iteration is
    * identity, so a 24-step unroll equals whatever iteration count the
    * convergence loop stopped at. */
  private def convOracle(iters: Int): String = {
    val header =
      s"""e AS MATERIALIZED (SELECT doc_id AS src,
         |    (doc_id + j * 131) %
         |      (SELECT count(*) FROM documents WHERE doc_id < $ConvCap)
         |      AS dst
         |  FROM documents, unnest(generate_series(1, doc_id % 4)) t(j)
         |  WHERE doc_id < $ConvCap),
         |v AS MATERIALIZED (SELECT DISTINCT id FROM
         |  (SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)),
         |od AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
         |nn AS MATERIALIZED (SELECT count(*) AS n FROM v),
         |r0 AS MATERIALIZED (SELECT id, CAST(1000000000 // n AS BIGINT) AS rank_fp
         |       FROM v, nn)""".stripMargin
    val steps = (1 to iters).map { i =>
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
    s"WITH ${(header +: steps).mkString(",\n")}\n" +
      s"SELECT id, rank_fp FROM r$iters"
  }

  /** The q_ppr oracle: [[operators.LinkGraph.personalizedPageRank]]
    * unrolled — the [[QueriesR11.EdgeCte]] graph, seeds doc_id%17==0,
    * the seed-gated base + dangling-teleport + contribution arithmetic
    * mirrored `div` for `//`. */
  private def pprOracle(iters: Int): String = {
    val header =
      s"""${QueriesR11.EdgeCte},
         |v AS MATERIALIZED (SELECT DISTINCT id FROM
         |  (SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)),
         |od AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
         |sd AS (SELECT doc_id AS id FROM documents WHERE doc_id % 17 = 0),
         |ss AS (SELECT count(*) AS s FROM sd JOIN v USING (id)),
         |r0 AS MATERIALIZED (SELECT v.id,
         |    CASE WHEN sd.id IS NOT NULL THEN 1 ELSE 0 END AS is_seed,
         |    CAST(CASE WHEN sd.id IS NOT NULL
         |      THEN 1000000000 // ss.s ELSE 0 END AS BIGINT) AS rank_fp
         |  FROM v LEFT JOIN sd ON v.id = sd.id, ss)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""c$i AS MATERIALIZED (SELECT e.dst AS id, sum(r.rank_fp // od.outdeg) AS insum
         |  FROM e JOIN od ON e.src = od.src JOIN r${i - 1} r ON e.src = r.id
         |  GROUP BY e.dst),
         |d$i AS MATERIALIZED (SELECT coalesce(sum(r.rank_fp), 0) AS dang FROM r${i - 1} r
         |  WHERE r.id NOT IN (SELECT src FROM od)),
         |r$i AS MATERIALIZED (SELECT r0.id, r0.is_seed, CAST(
         |    r0.is_seed * ((15 * (1000000000 // ss.s)) // 100
         |      + (85 * (d.dang // ss.s)) // 100)
         |    + (85 * coalesce(c.insum, 0)) // 100 AS BIGINT) AS rank_fp
         |  FROM r0 LEFT JOIN c$i c ON r0.id = c.id, d$i d, ss)""".stripMargin
    }
    s"WITH ${(header +: steps).mkString(",\n")}\n" +
      s"SELECT id, rank_fp FROM r$iters"
  }

  /** The q_hits oracle: hub/authority half-steps each renormalized to
    * total mass scale by `x·scale // Σx`, unrolled per iteration. */
  private def hitsOracle(iters: Int): String = {
    val header =
      s"""${QueriesR11.EdgeCte},
         |v AS MATERIALIZED (SELECT DISTINCT id FROM
         |  (SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)),
         |nn AS MATERIALIZED (SELECT count(*) AS n FROM v),
         |h0 AS (SELECT id, CAST(1000000000 // nn.n AS BIGINT) AS hub
         |       FROM v, nn)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""ar$i AS MATERIALIZED (SELECT e.dst AS id, sum(h.hub) AS x
         |  FROM e JOIN h${i - 1} h ON e.src = h.id GROUP BY e.dst),
         |arf$i AS (SELECT v.id, coalesce(ar$i.x, 0) AS x
         |  FROM v LEFT JOIN ar$i ON v.id = ar$i.id),
         |at$i AS (SELECT sum(x) AS t FROM arf$i),
         |a$i AS (SELECT id, CAST(CASE WHEN t > 0
         |    THEN (x * 1000000000) // t ELSE 0 END AS BIGINT) AS auth
         |  FROM arf$i, at$i),
         |hr$i AS MATERIALIZED (SELECT e.src AS id, sum(a.auth) AS x
         |  FROM e JOIN a$i a ON e.dst = a.id GROUP BY e.src),
         |hrf$i AS (SELECT v.id, coalesce(hr$i.x, 0) AS x
         |  FROM v LEFT JOIN hr$i ON v.id = hr$i.id),
         |ht$i AS (SELECT sum(x) AS t FROM hrf$i),
         |h$i AS (SELECT id, CAST(CASE WHEN t > 0
         |    THEN (x * 1000000000) // t ELSE 0 END AS BIGINT) AS hub
         |  FROM hrf$i, ht$i)""".stripMargin
    }
    s"WITH ${(header +: steps).mkString(",\n")}\n" +
      s"SELECT h$iters.id, h$iters.hub AS hub_fp, a$iters.auth AS auth_fp\n" +
      s"FROM h$iters JOIN a$iters USING (id)"
  }

  private def okapiTerm(tf: String, df: String, dl: String,
      sumdl: String): String =
    s"ln(1 + (n - $df + 0.5) / ($df + 0.5)) * ($tf * (1.2 + 1))" +
      s" / ($tf + 1.2 * (0.25 + 0.75 * $dl / ($sumdl / n)))"

  val oracles: Map[String, String] = Map(
    "q_frontier_gated" ->
      s"""WITH cand AS (SELECT
         |    'http://site' || CAST(doc_id % 5 AS VARCHAR) || '.example.com' ||
         |      CASE doc_id % 4
         |        WHEN 0 THEN '/private/p' || CAST(doc_id AS VARCHAR)
         |        WHEN 1 THEN '/d/' || CAST(doc_id AS VARCHAR)
         |        WHEN 2 THEN '/public/p' || CAST(doc_id AS VARCHAR)
         |        ELSE '/p' || CAST(doc_id AS VARCHAR)
         |      END AS canon_url,
         |    'site' || CAST(doc_id % 5 AS VARCHAR) || '.example.com' AS host,
         |    CASE doc_id % 4
         |      WHEN 0 THEN '/private/p' || CAST(doc_id AS VARCHAR)
         |      WHEN 1 THEN '/d/' || CAST(doc_id AS VARCHAR)
         |      WHEN 2 THEN '/public/p' || CAST(doc_id AS VARCHAR)
         |      ELSE '/p' || CAST(doc_id AS VARCHAR)
         |    END AS path,
         |    CAST(n_chars AS DOUBLE) AS priority
         |  FROM documents),
         |r(rhost, prefix, allow) AS (VALUES
         |$RuleRows),
         |m AS (SELECT cand.canon_url, cand.host, cand.path, cand.priority,
         |    max(CASE WHEN r.prefix IS NOT NULL
         |        THEN len(r.prefix) * 2 + CAST(r.allow AS INT) END) AS best
         |  FROM cand LEFT JOIN r
         |    ON cand.host = r.rhost AND starts_with(cand.path, r.prefix)
         |  GROUP BY 1, 2, 3, 4),
         |fl AS (SELECT CASE WHEN doc_id % 2 = 0
         |      THEN 'http://site' || CAST(doc_id % 5 AS VARCHAR)
         |        || '.example.com/d/' || CAST(doc_id AS VARCHAR)
         |      ELSE 'http://site' || CAST(doc_id % 5 AS VARCHAR)
         |        || '.example.com/p/' || CAST(doc_id % 7 AS VARCHAR)
         |    END AS url FROM documents),
         |fc AS (SELECT
         |    regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/:?]*)', 1) AS host,
         |    regexp_replace(
         |      regexp_extract(url, '^[a-z][a-z0-9+.-]*://[^/?]*([^?]*)', 1),
         |      '[0-9]+', 'N', 'g') AS template, url FROM fl),
         |g AS (SELECT host, template, url FROM fc GROUP BY 1, 2, 3),
         |traps AS (SELECT host, template FROM g
         |          GROUP BY host, template HAVING count(*) > 20),
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
         |p AS (SELECT 'site' || CAST(i AS VARCHAR) || '.example.com' AS host,
         |        CAST(i + 1 AS DOUBLE) AS delay_s
         |      FROM generate_series(0, 3) t(i))
         |SELECT cp.canon_url, cp.priority, cp.host, cp.rank,
         |       coalesce(p.delay_s, 5.0) AS delay_s,
         |       (cp.rank - 1) * coalesce(p.delay_s, 5.0) AS fetch_at_s
         |FROM cp LEFT JOIN p ON cp.host = p.host""".stripMargin,
    "q_mirror_dedup" ->
      """WITH RECURSIVE f AS (
        |  SELECT doc_id, 'h' || CAST(doc_id % 10 AS VARCHAR)
        |    || '.example.com' AS host, text FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'm' || CAST(doc_id % 10 AS VARCHAR)
        |    || '.example.com', text FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id, 'w' || CAST(doc_id % 10 AS VARCHAR)
        |    || '.example.com', text FROM documents WHERE doc_id % 6 = 0),
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
        |SELECT doc_id, url, canon_url FROM rn WHERE rn = 1""".stripMargin,
    "q_anchor_bm25" ->
      s"""WITH e AS (SELECT
         |    (doc_id + j * 131) % (SELECT count(*) FROM documents) AS dst,
         |    array_to_string(string_split(text, ' ')[1:3], ' ') AS anchor
         |  FROM documents, unnest(generate_series(1, doc_id % 4)) t(j)),
         |at AS (SELECT dst AS doc_id,
         |    unnest(regexp_split_to_array(lower(anchor), '\\s+')) AS term
         |  FROM e),
         |aagg AS (SELECT doc_id, CAST(count(*) AS DOUBLE) adl,
         |    CAST(sum(CASE WHEN term = 'spark' THEN 1 ELSE 0 END)
         |      AS DOUBLE) atf1,
         |    CAST(sum(CASE WHEN term = 'window' THEN 1 ELSE 0 END)
         |      AS DOUBLE) atf2,
         |    CAST(sum(CASE WHEN term = 'vector' THEN 1 ELSE 0 END)
         |      AS DOUBLE) atf3
         |  FROM at WHERE term <> '' GROUP BY doc_id),
         |f AS (SELECT doc_id, CAST(len(ts) AS DOUBLE) dl,
         |    CAST(len(list_filter(ts, x -> x = 'spark')) AS DOUBLE) tf1,
         |    CAST(len(list_filter(ts, x -> x = 'window')) AS DOUBLE) tf2,
         |    CAST(len(list_filter(ts, x -> x = 'vector')) AS DOUBLE) tf3
         |  FROM (SELECT doc_id, regexp_extract_all(text, '\\S+') ts
         |        FROM documents)),
         |fd AS (SELECT f.doc_id, f.dl, coalesce(a.adl, 0) AS adl,
         |    f.tf1, f.tf2, f.tf3,
         |    coalesce(a.atf1, 0) AS atf1, coalesce(a.atf2, 0) AS atf2,
         |    coalesce(a.atf3, 0) AS atf3
         |  FROM f LEFT JOIN aagg a USING (doc_id)),
         |st AS (SELECT CAST(count(*) AS DOUBLE) n, sum(dl) sumdl,
         |    sum(adl) sumadl,
         |    CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) df1,
         |    CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) df2,
         |    CAST(sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS DOUBLE) df3,
         |    CAST(sum(CASE WHEN atf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) adf1,
         |    CAST(sum(CASE WHEN atf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) adf2,
         |    CAST(sum(CASE WHEN atf3 > 0 THEN 1 ELSE 0 END) AS DOUBLE) adf3
         |  FROM fd)
         |SELECT doc_id, CAST(dl AS BIGINT) AS dl, CAST(adl AS BIGINT) AS adl,
         |  round(
         |    ${okapiTerm("tf1", "df1", "dl", "sumdl")}
         |  + ${okapiTerm("tf2", "df2", "dl", "sumdl")}
         |  + ${okapiTerm("tf3", "df3", "dl", "sumdl")}
         |  + 1.5 * (${okapiTerm("atf1", "adf1", "adl", "sumadl")}
         |  + ${okapiTerm("atf2", "adf2", "adl", "sumadl")}
         |  + ${okapiTerm("atf3", "adf3", "adl", "sumadl")}), 6) AS score
         |FROM fd, st
         |WHERE tf1 > 0 OR tf2 > 0 OR tf3 > 0
         |   OR atf1 > 0 OR atf2 > 0 OR atf3 > 0
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "q_ppr" -> pprOracle(4),
    "q_pagerank_conv" -> convOracle(24),
    "q_rank_curation" ->
      (s"WITH ${QueriesR11.pageRankCtes(2)},\n" +
        s"g AS (${QueriesR9.gopherRepOracle}),\n" +
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
          |WHERE rank <= 20""".stripMargin),
    "q_hits" -> hitsOracle(HitsIters),
    // Checkpointing is bit-transparent: the pinned 6-iteration run
    // replays against the straight 6-iteration unroll.
    "q_pagerank_pinned" -> QueriesR11.pageRankOracle(6),
    // The web release must be bit-identical to the plain release —
    // the crawl front's URL dedup and extraction invert the fetch
    // synthesis exactly (same contract as q_release_resumed).
    "q_release_web" -> QueriesR9.oracles("q_release"))
}
