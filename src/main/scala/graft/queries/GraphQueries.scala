package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Sources.table

/** Link-graph queries: PageRank (fixed, warm-started, pinned, converged,
  * incremental), personalized PageRank, HITS, degrees and anchor text.
  *
  * The corpus carries no links, so every query derives its edges
  * deterministically from doc_id ([[QueryParts.linkEdges]]) and each oracle
  * replays the identical synthesis in DuckDB.
  */
object GraphQueries {

  /** Power-iteration count for q_pagerank (unrolled in the oracle). */
  private val PageRankIters = 4

  /** The q_pagerank oracle: [[operators.LinkGraph.pageRank]]'s fixed-
    * point iteration unrolled as chained CTEs (r0 -> c1/d1/r1 -> ...),
    * arithmetic mirrored operator-for-operator (`//` for `div`).
    * [[pageRankCtes]] emits the chain (final ranks in `r<iters>`) so
    * compositions can keep building on it. */
  private[graft] def pageRankOracle(iters: Int): String =
    s"WITH ${QueryParts.pageRankCtes(iters)}\nSELECT id, rank_fp FROM r$iters"

  /** HITS power-iteration count for q_hits (unrolled in the oracle). */
  private val HitsIters = 2

  /** q_pagerank_conv's bounded link graph: the [[QueryParts.linkEdges]]
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
    * unrolled — the [[QueryParts.EdgeCte]] graph, seeds doc_id%17==0,
    * the seed-gated base + dangling-teleport + contribution arithmetic
    * mirrored `div` for `//`. */
  private def pprOracle(iters: Int): String = {
    val header =
      s"""${QueryParts.EdgeCte},
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
      s"""${QueryParts.EdgeCte},
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

  /** The PREVIOUS release's edge list: [[QueryParts.linkEdges]] minus
    * every doc's third link (j == 3, present when doc_id % 4 == 3),
    * plus a STALE link (src + 977) % n from every fifth doc. The
    * recrawl then discovers the third links (added) and finds the
    * stale ones dead (removed), so the patched graph is exactly
    * [[QueryParts.linkEdges]] — whose straight unroll the oracle
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
      s"""${QueryParts.EdgeCte},
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

  /** The anchor-text synthesis of the anchor queries over the documents
    * `ds`: the [[QueryParts.linkEdges]] links, each carrying its source
    * doc's first 3 words as anchor. Columns (dst, anchor). */
  private def anchorEdges(ds: DataFrame): DataFrame = {
    val n = ds.count()
    val m = col("doc_id") % 4
    ds.select(col("doc_id").as("src"),
        array_join(slice(split(col("text"), " "), 1, 3), " ").as("anchor"),
        explode(when(m > 0, sequence(lit(1L), m))
          .otherwise(array().cast("array<long>"))).as("j"))
      .select(((col("src") + col("j") * 131) % n).as("dst"), col("anchor"))
  }

  /** The DuckDB replay of [[anchorEdges]] as a CTE named `e`. */
  private val AnchorEdgesCte =
    """e AS (SELECT
      |    (doc_id + j * 131) % (SELECT count(*) FROM documents) AS dst,
      |    array_to_string(string_split(text, ' ')[1:3], ' ') AS anchor
      |  FROM documents, unnest(generate_series(1, doc_id % 4)) t(j))""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // --- fixed-point PageRank over a deterministic synthetic link
    //     graph (doc u -> (u + j*131) % N for j in 1..u%4; u%4==0 docs
    //     are dangling). Integer arithmetic end-to-end, so the power
    //     iteration is bit-stable under any partitioning and the
    //     oracle replays it exactly — a float PageRank could never be
    //     hash-compared across engines. 4 iterations, damping 85/100. ---
    QuerySpec("q_pagerank", { (s, d) =>
      operators.LinkGraph.pageRank(
        QueryParts.linkEdges(s, d), "src", "dst", iterations = PageRankIters)
    },
      Sql(pageRankOracle(PageRankIters))),
    // --- per-vertex degree + link-locality report over the same graph
    //     (hosts synthesized as id%7): out/in degree and the fraction
    //     of out-links staying on the source's own host — the
    //     link-farm signal. Two partial-agg exchanges + one join. ---
    QuerySpec("q_link_degree", { (s, d) =>
      val e = QueryParts.linkEdges(s, d).select(
        col("src"), col("dst"),
        concat(lit("site"), (col("src") % 7).cast("string")).as("src_host"),
        concat(lit("site"), (col("dst") % 7).cast("string")).as("dst_host"))
      operators.LinkGraph.degreeReport(e, "src", "dst", "src_host", "dst_host")
    },
      Sql((s"WITH ${QueryParts.EdgeCte},\n" +
        """x AS (SELECT src, dst,
          |    CASE WHEN src % 7 = dst % 7 THEN 1 ELSE 0 END AS intra FROM e),
          |o AS (SELECT src AS id, count(*) AS out_deg, sum(intra) AS out_intra
          |      FROM x GROUP BY src),
          |i AS (SELECT dst AS id, count(*) AS in_deg FROM x GROUP BY dst)
          |SELECT coalesce(o.id, i.id) AS id,
          |       CAST(coalesce(o.out_deg, 0) AS BIGINT) AS out_deg,
          |       CAST(coalesce(i.in_deg, 0) AS BIGINT) AS in_deg,
          |       round(o.out_intra * 1.0 / o.out_deg, 6) AS intra_rate
          |FROM o FULL OUTER JOIN i ON o.id = i.id""".stripMargin))),
    // --- warm-started PageRank: resume 2 more iterations from a prior
    //     2-iteration run (the recrawl shape — last release's ranks
    //     seed the new graph). The oracle is the STRAIGHT 4-iteration
    //     replay: resuming is bit-exact by construction, and the
    //     driver gate enforces that identity cross-engine. ---
    QuerySpec("q_pagerank_warm", { (s, d) =>
      val e = QueryParts.linkEdges(s, d)
      val prior = operators.LinkGraph.pageRank(e, "src", "dst", 2)
      operators.LinkGraph.pageRank(e, "src", "dst", 2, initial = Some(prior))
    },
      // Resume-is-exact: the warm-started 2+2 equals the straight 4.
      Sql(pageRankOracle(4))),
    // --- per-destination anchor-text profile: top-3 terms of incoming
    //     link anchors (anchor = the source doc's first 3 words). The
    //     (dst, term) count is partial-aggregating on the well-spread
    //     pair; the per-page cut is the partial-then-final GroupedTopK
    //     exec; the rank window is bounded at k rows per page. ---
    QuerySpec("q_anchor_text", { (s, d) =>
      val ds = table(s, d, "documents")
      val e = anchorEdges(ds)
      operators.LinkGraph.anchorTerms(e, "dst", "anchor", k = 3)
    },
      Sql(s"""WITH $AnchorEdgesCte,
        |t AS (SELECT dst AS id,
        |        unnest(regexp_split_to_array(lower(anchor), '\\s+')) AS term
        |      FROM e),
        |c AS (SELECT id, term, count(*) AS n FROM t WHERE term <> ''
        |      GROUP BY id, term),
        |r AS (SELECT id, term, CAST(n AS BIGINT) AS n,
        |    CAST(row_number() OVER (PARTITION BY id
        |      ORDER BY n DESC, term) AS BIGINT) AS rank FROM c)
        |SELECT id, term, n, rank FROM r WHERE rank <= 3""".stripMargin)),
    // --- anchor-weighted BM25: body field + incoming-anchor field
    //     (simplified BM25F), each with its own length norm and df,
    //     anchor field weighted 1.5. Same link/anchor synthesis as
    //     q_anchor_text (anchor = source doc's first 3 words); the
    //     anchor side folds per edge row-locally and sums in ONE
    //     dst-keyed partial-agg exchange. ---
    QuerySpec("q_anchor_bm25", { (s, d) =>
      val ds = table(s, d, "documents")
      val e = anchorEdges(ds)
      operators.Retrieval.bm25WithAnchors(
        ds, "doc_id", "text", e, "dst", "anchor",
        Seq("spark", "window", "vector"), anchorWeight = 1.5)
    },
      Sql(s"""WITH $AnchorEdgesCte,
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
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),
    // --- PERSONALIZED PageRank: teleport mass restricted to the seed
    //     set (doc_id % 17 == 0) — the "more pages like these trusted
    //     ones" curation expansion. Same fixed-point integer
    //     discipline as q_pagerank; dangling mass teleports back to
    //     the seeds; the oracle unrolls the identical arithmetic. ---
    QuerySpec("q_ppr", { (s, d) =>
      val ds = table(s, d, "documents")
      val seeds = ds.select(col("doc_id").as("id"))
        .filter(col("id") % 17 === 0)
      operators.LinkGraph.personalizedPageRank(
        QueryParts.linkEdges(s, d), "src", "dst", seeds, iterations = 4)
    },
      Sql(pprOracle(4))),
    // --- HITS hubs & authorities: the Kleinberg complement to
    //     PageRank — authorities are content pages worth keeping,
    //     hubs the directory pages worth crawling. Fixed-point with
    //     integer renormalization to total mass each half-step, so
    //     both engines replay it exactly. 2 iterations. ---
    QuerySpec("q_hits", ((s, d) =>
      operators.LinkGraph.hits(
        QueryParts.linkEdges(s, d), "src", "dst", iterations = HitsIters)),
      Sql(hitsOracle(HitsIters))),
    // --- PageRank through the CHECKPOINT discipline: 6 iterations of
    //     the block loop, each state pinned and the last checkpointed
    //     — the oracle is the straight 6-iteration unroll, so the
    //     checkpoint layer's bit-transparency is driver-gated
    //     cross-engine, not just spec-asserted. ---
    QuerySpec("q_pagerank_pinned", ((s, d) =>
      operators.LinkGraph.pageRank(
        QueryParts.linkEdges(s, d), "src", "dst", iterations = 6)),
      // Checkpointing is bit-transparent: the pinned 6-iteration run
      // replays against the straight 6-iteration unroll.
      Sql(pageRankOracle(6))),
    // --- PageRank TO CONVERGENCE: the production loop — segments of
    //     4 iterations, checkpoint at each boundary, stop when the
    //     boundary-to-boundary L1 delta hits ZERO. Fixed-point Longs
    //     reach an EXACT fixed point (measured: iteration 15 at both
    //     sf0.001 and sf0.01), so the oracle is simply a straight
    //     unroll safely past it (24) — any longer unroll equals the
    //     fixed point. Bounded to the doc_id < 2000 subgraph so the
    //     per-segment actions stay cheap in the sweep at every sf. ---
    QuerySpec("q_pagerank_conv", { (s, d) =>
      operators.LinkGraph.pageRankConverged(
        convEdges(s, d), "src", "dst", tolFp = 0L,
        maxIterations = 40, segment = 4)._1
    },
      Sql(convOracle(24))),
    // --- INCREMENTAL PageRank: prior release's ranks (2 iterations on
    //     the stale graph) + an edge delta (3rd links discovered,
    //     stale links dead) -> pageRankDelta patches the edge list and
    //     warm-starts 2 more iterations. The oracle replays BOTH
    //     phases (prev-graph unroll, then the patched-graph unroll
    //     warm-started from it) — the patch itself must be invisible
    //     in the values. ---
    QuerySpec("q_pagerank_delta", { (s, d) =>
      // pageRank is eager: the prior is already the pinned ranks of
      // its last iteration, read once by the delta run's adjacency
      // build.
      val prior = operators.LinkGraph.pageRank(
        prevEdges(s, d), "src", "dst", iterations = 2)
      operators.LinkGraph.pageRankDelta(
        prevEdges(s, d), addedEdges(s, d), removedEdges(s, d),
        "src", "dst", prior, iterations = 2)
    },
      Sql(prDeltaOracle(2, 2))))
}
