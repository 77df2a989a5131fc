package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Sources.table

/** Round-9 corpus queries: the learned-BPE loop closed end-to-end —
  * iterated merge learning ([[operators.Vocab.learnBpeMerges]]) and its
  * application to the corpus ([[operators.Vocab.tokenizeWithMerges]]),
  * both EXACT-oracle-gated by unrolling the greedy learning rounds as a
  * DuckDB CTE chain (the merge step is a plain string `replace` over
  * the pipe-delimited symbol form in both engines, so the replay is
  * bit-identical).
  */
object QueriesR9 {

  /** Greedy merge rounds learned/replayed by the BPE queries. Kept
    * small so the unrolled oracle stays readable; the operators take
    * any count. */
  private val BpeRounds = 5

  /** k-means shape replayed by the clustering oracles. */
  private[graft] val KmeansK = 4
  private[graft] val KmeansIters = 2
  private val KmeansDim = 64

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- iterated BPE merge learning: 5 greedy rounds over the
    //     vocab (pair explosion is vocab-sized, never corpus-sized);
    //     the oracle replays the identical rounds unrolled ---
    "q_bpe_learn" -> ((s, d) =>
      operators.Vocab.learnBpeMerges(table(s, d, "documents"), "text", BpeRounds)),
    // --- apply the LEARNED merges to every document: map-only replace
    //     chain per word, full subword sequence + count per doc — the
    //     token counts the packing operators consume ---
    "q_bpe_apply" -> { (s, d) =>
      val merges = operators.Vocab.learnedMerges(table(s, d, "documents"), "text", BpeRounds)
      operators.Vocab.tokenizeWithMerges(table(s, d, "documents"), "doc_id", "text", merges)
    },
    // --- anchor-based exact char-substring duplication profile:
    //     content-defined anchors (md5 of the 8-gram at each position)
    //     catch copied 50-char runs no matter how they shift against
    //     word-chunk boundaries; digests-only shuffles ---
    "q_substring_dedup" -> ((s, d) =>
      operators.SubstringDedup.anchoredSpanProfile(
        table(s, d, "documents"), "doc_id", "text", spanLen = 50, anchorK = 8,
        anchorZeros = 1)),
    // --- character coverage of cross-doc duplicated spans (interval
    //     union): the "how much would substring dedup remove" metric ---
    "q_dup_span_chars" -> ((s, d) =>
      operators.SubstringDedup.duplicatedSpanChars(
        table(s, d, "documents"), "doc_id", "text", spanLen = 50, anchorK = 8,
        anchorZeros = 1)),
    // --- sequence packing driven by the LEARNED tokenizer's counts:
    //     tokenizeWithMerges -> tokenShardOffsets, closing the loop
    //     from tokenizer design to context-window packing ---
    "q_pack_bpe" -> { (s, d) =>
      val merges = operators.Vocab.learnedMerges(table(s, d, "documents"), "text", BpeRounds)
      val counted = operators.Vocab
        .tokenizeWithMerges(table(s, d, "documents"), "doc_id", "text", merges)
        .select(col("doc_id"), col("n_tokens"))
      operators.Packing.tokenShardOffsets(counted, "doc_id", "n_tokens", 2048L)
    },
    // --- per-source tokenizer fertility (subword tokens per word under
    //     the LEARNED merges): the standard tokenizer-evaluation metric
    //     — a source tokenizing at 2× the corpus fertility pays 2× the
    //     context budget. One tokenize projection + one tiny group agg ---
    "q_bpe_fertility" -> { (s, d) =>
      val dd = table(s, d, "documents")
      val merges = operators.Vocab.learnedMerges(dd, "text", BpeRounds)
      val tok = operators.Vocab
        .tokenizeWithMerges(dd, "doc_id", "text", merges)
        .select("doc_id", "n_tokens")
      dd.select(col("doc_id"), col("source"),
          size(regexp_extract_all(lower(col("text")), lit("\\p{L}+"), lit(0)))
            .as("n_words"))
        .join(tok, "doc_id")
        .groupBy("source")
        .agg(
          sum("n_tokens").as("n_tokens"),
          sum("n_words").as("n_words"),
          round(sum("n_tokens").cast("double") / sum("n_words"), 6)
            .as("fertility"))
    },
    // --- per-source vocabulary drift (Jensen-Shannon vs the corpus):
    //     the mixture-design "which source is unlike the rest" report ---
    "q_source_drift" -> ((s, d) =>
      operators.Curation.sourceDriftReport(table(s, d, "documents"), "source", "text")),
    // --- incremental span overlap: per arriving doc, how many anchored
    //     spans already exist in the reference corpus (batch twin of
    //     the streaming substring screen; %3 split as q_dedup_incremental) ---
    "q_substring_incremental" -> { (s, d) =>
      val dd = table(s, d, "documents")
      operators.SubstringDedup.spanOverlapAgainstReference(
        batch = dd.filter(col("doc_id") % 3 =!= 0),
        reference = dd.filter(col("doc_id") % 3 === 0 || col("doc_id") < 10),
        idCol = "doc_id", textCol = "text")
    },
    // --- DSIR-weighted selection: importance weights learned from the
    //     target domain feed the A-Res draw — score -> sample in one
    //     composition (weight = exp of the ROUNDED avg llr, so both
    //     engines agree on the weight bit-for-bit) ---
    "q_dsir_sample" -> { (s, d) =>
      val dd = table(s, d, "documents")
      val weighted = operators.Curation
        .importanceWeights(dd, dd.filter(col("lang") === "en"), "doc_id", "text")
        .select(col("doc_id"), col("llr"))
      operators.Curation
        .weightedSampleByLogWeight(weighted, "doc_id", "llr", k = 100)
        .select("doc_id")
    },
    // --- deterministic weighted sample: 100 docs, inclusion odds
    //     proportional to n_chars, reproducible cross-engine ---
    "q_weighted_sample" -> ((s, d) =>
      operators.Curation.weightedSample(
        table(s, d, "documents"), "doc_id", "n_chars", k = 100)
        .select("doc_id", "source", "n_chars")),
    // --- embedding-corpus health card: counts, dimension bounds,
    //     L2-norm distribution in one map-side-combined aggregation ---
    "q_embed_card" -> ((s, d) =>
      operators.Similarity.embeddingCard(table(s, d, "embeddings"), "embedding")),
    // --- top drifted words between recrawl snapshots (same synthetic
    //     old/new split as q_snapshot_diff) ---
    "q_vocab_drift" -> { (s, d) =>
      val dd = table(s, d, "documents")
      operators.Versioning.vocabDrift(
        oldSnap = dd.filter(col("doc_id") % 7 =!= 0).select("text"),
        newSnap = dd.filter(col("doc_id") % 5 =!= 3)
          .select(when(col("doc_id") % 11 === 0,
            concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text")),
        textCol = "text")
    },
    // --- Gopher-style n-gram repetition: character MASS of the top
    //     2-/3-gram and of all duplicated 5-grams — one sorted-runs
    //     fold per row, map-only at any corpus size ---
    "q_gopher_rep" -> { (s, d) =>
      val top2 = operators.TextAnalysis.gopherRepetition(col("text"), 2).head
      val top3 = operators.TextAnalysis.gopherRepetition(col("text"), 3).head
      val dup5 = operators.TextAnalysis.gopherRepetition(col("text"), 5)(1)
      table(s, d, "documents").select(col("doc_id"), top2, top3, dup5)
    },
    // --- the published Gopher gates funneled: per-gate attrition from
    //     ONE corpus scan (filterFunnel's fail-index trick) ---
    "q_gopher_funnel" -> ((s, d) =>
      operators.Curation.filterFunnel(
        table(s, d, "documents"),
        operators.TextAnalysis.gopherStages(col("text")))),
    // --- BM25 keyword retrieval: two corpus scans, ONE stats row on
    //     the wire, top-k via TakeOrderedAndProject ---
    "q_bm25" -> ((s, d) =>
      operators.Retrieval.bm25(
        table(s, d, "documents"), "doc_id", "text", Seq("spark", "window", "vector"))),
    // --- batch BM25: queries as DATA (qid, term rows) — inverted-index
    //     shape restricted to the query vocabulary; one corpus scan,
    //     match-sized shuffle, GroupedTopK per qid ---
    "q_bm25_batch" -> { (s, d) =>
      import s.implicits._
      val qs = Seq(
        (1L, "spark"), (1L, "join"), (2L, "window"), (2L, "vector"),
        (3L, "merge")).toDF("qid", "term")
      operators.Retrieval.bm25Batch(
        table(s, d, "documents"), "doc_id", "text", qs, "qid", "term")
    },
    // --- deterministic Lloyd's k-means: md5-seeded init, 2 exact
    //     iterations, centroids rounded 6 each update — the oracle
    //     replays the fit round by round ---
    "q_kmeans" -> ((s, d) =>
      operators.Clustering.lloyd(
        table(s, d, "embeddings"), "vec_id", "embedding", k = KmeansK,
        iters = KmeansIters)),
    // --- cluster-balanced sampling off the fitted assignment: up to 25
    //     ids per cluster by md5 draw (bounded per-group heaps) ---
    "q_cluster_sample" -> ((s, d) =>
      operators.Clustering.clusterBalancedSample(
        operators.Clustering.lloyd(
          table(s, d, "embeddings"), "vec_id", "embedding", k = KmeansK,
          iters = KmeansIters),
        "vec_id", perCluster = 25)),
    // --- farthest-first (deterministic k-means++) seeded fit: better
    //     spread centroids, k bounded 1-row scans, same exact replay ---
    "q_kmeans_spread" -> ((s, d) =>
      operators.Clustering.lloyd(
        table(s, d, "embeddings"), "vec_id", "embedding", k = KmeansK, iters = 1,
        seeding = "spread")),
    // --- incremental assignment: fit centroids on the even-id half,
    //     assign the odd-id half map-only against the fitted model
    //     (the recrawl path: no refit, model folds in as literals) ---
    "q_kmeans_assign" -> { (s, d) =>
      val em = table(s, d, "embeddings")
      val model = operators.Clustering.lloydCentroids(
        em.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
        k = KmeansK, iters = KmeansIters)
      operators.Clustering.assignToCentroids(
        em.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", model)
    },
    // --- residual pruning: the 10 farthest vectors per cluster ---
    "q_cluster_outliers" -> ((s, d) =>
      operators.Clustering.clusterOutliers(
        operators.Clustering.lloyd(
          table(s, d, "embeddings"), "vec_id", "embedding", k = KmeansK,
          iters = KmeansIters),
        "vec_id", topN = 10)),
    // --- the RELEASE composition: quality gate -> exact + near dedup
    //     (q_pipeline's cleanCorpus) -> PII redaction fingerprint ->
    //     tokenize with the LEARNED merges (trained on the raw corpus,
    //     served from the freshness-keyed ModelCache) -> context-window
    //     shard/offset packing. Raw corpus in, training-shard manifest
    //     out — every stage an already-gated operator, composed ---
    "q_release" -> ((s, d) =>
      operators.Pipeline.releaseManifest(
        table(s, d, "documents"), "doc_id", "text", windowLen = 2048L,
        bpeRounds = BpeRounds)),
    // --- compression-ratio quality signal (DEFLATE/UTF-8 size): the
    //     long-range-repetition detector n-gram stats dilute. zlib
    //     byte counts are JVM-stable but not a cross-engine spec ⇒
    //     rows-only; q_compress_sanity carries the oracle gate ---
    "q_compress_ratio" -> ((s, d) =>
      table(s, d, "documents").select(
        col("doc_id") +:
          operators.TextAnalysis.compressionSignals(col("text")): _*)),
    // --- oracle-gated invariants of the deflate signal (q_sample_bounds
    //     pattern): exact doc count + ratio band + doubling
    //     sub-additivity (z(t||t) < 2·z(t): the second copy is one
    //     back-reference) + re-evaluation determinism ---
    "q_compress_sanity" -> { (s, d) =>
      val sig = operators.TextAnalysis.compressionSignals(col("text"))
      val sigDoubled = operators.TextAnalysis
        .compressionSignals(concat(col("text"), col("text")))
      val base = table(s, d, "documents").select(
        col("doc_id") +: (sig ++ Seq(
          sigDoubled(1).as("z2_bytes"),
          operators.TextAnalysis.compressionSignals(col("text"))(1)
            .as("z_again"))): _*)
      base.agg(
        count(lit(1)).as("n_docs"),
        (sum(when(col("z_ratio") <= 0 || col("z_ratio") > 1.3, 1)
          .otherwise(0)) === 0).as("band_ok"),
        (sum(when(col("z2_bytes") >= col("z_bytes") * 2, 1).otherwise(0))
          === 0).as("subadditive_ok"),
        (sum(when(col("z_bytes") =!= col("z_again"), 1).otherwise(0)) === 0)
          .as("deterministic"))
    },
    // --- temperature-based source mixing: inclusion rate ∝ n_s^(α−1),
    //     hash-threshold draw — selection is map-only ---
    "q_temperature_mix" -> ((s, d) =>
      operators.Curation.temperatureMix(
        table(s, d, "documents"), "doc_id", "source", alpha = 0.5, total = 300L)
        .select("doc_id", "source")),
    // --- deterministic training-sample generation: T5-style span
    //     corruption and causal context/continuation splits — md5
    //     positions, pure projections, exact-replayable ---
    "q_span_corrupt" -> ((s, d) =>
      operators.Augment.spanCorrupt(table(s, d, "documents"), "doc_id", "text")),
    "q_causal_split" -> ((s, d) =>
      operators.Augment.causalSplits(table(s, d, "documents"), "doc_id", "text")),
    "q_fim" -> ((s, d) =>
      operators.Augment.fimSplit(table(s, d, "documents"), "doc_id", "text")),
    // --- wordlist policy screen: per-category token-hit counts + flag
    //     (category lists are caller policy; these exercise the
    //     mechanism over the corpus vocabulary) ---
    "q_policy_screen" -> ((s, d) =>
      operators.Scrub.policyScreen(
        table(s, d, "documents"), "doc_id", "text",
        Seq("perf" -> Seq("slow", "fast"), "infra" -> Seq("spark", "table")))),
    // --- PII scrub over deterministically injected PII (the testdata
    //     corpus is synthetic words, so the query plants emails/IPs/SSNs
    //     as a function of doc_id, then redacts them) ---
    "q_pii_scrub" -> { (s, d) =>
      val injected = table(s, d, "documents").select(
        col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(col("text"),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com from 10.0."),
            (col("doc_id") % 256).cast("string"), lit("."),
            ((col("doc_id") * 7) % 256).cast("string"),
            lit(" id 123-45-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(col("text")).as("text"))
      operators.Scrub.scrubReport(injected, "doc_id", "text").drop("redacted")
    }
  )

  // ---- oracle construction: the BPE learning rounds unrolled --------

  /** CTE chain `words, s0, p1, t1, s1, …, pK, tK, sK` replaying
    * [[operators.Vocab.learnBpeMerges]] round by round: pR = weighted
    * adjacent-pair counts over the round's symbol strings, tR = the
    * arg-max pair (count desc, pair text), sR = the merge applied via
    * the same anchored `replace`. */
  private def bpeCtes(rounds: Int): String = {
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

  private def bpeLearnOracle(rounds: Int): String = {
    val unions = (1 to rounds)
      .map(r => s"SELECT $r AS step, pa, pb, pa || pb AS merged, cnt FROM t$r")
      .mkString("\nUNION ALL ")
    s"WITH ${bpeCtes(rounds)}\n$unions"
  }

  private def bpeApplyOracle(rounds: Int): String = {
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

  /** Token counts from the BPE-apply replay, then the same
    * doc_id-ordered running-sum shard/offset arithmetic as
    * q_pack_offsets. */
  private def bpePackOracle(rounds: Int, budget: Int): String =
    s"""WITH base AS (${bpeApplyOracle(rounds)}),
       |r AS (SELECT doc_id, n_tokens,
       |    sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM base)
       |SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
       |       CAST((cum - n_tokens) // $budget AS BIGINT) AS shard,
       |       CAST((cum - n_tokens) % $budget AS BIGINT) AS tok_offset
       |FROM r""".stripMargin

  // ---- k-means oracle: the Lloyd rounds unrolled ---------------------

  /** Squared-L2 between list columns `$a` and `$b` as the same
    * left-associated 64-term chain the Spark fold evaluates (the 0.0
    * fold seed is a bitwise no-op on the first non-negative term). */
  private def kmDist(a: String, b: String): String =
    (1 to KmeansDim)
      .map(i => s"($a[$i]-$b[$i])*($a[$i]-$b[$i])")
      .mkString(" + ")

  /** md5-draw seed CTEs: cluster index = rank in the md5 order. */
  private def kmHashSeedCtes(k: Int, rel: String = "e"): String =
    s"""seed AS (SELECT v, row_number() OVER (
       |    ORDER BY md5('km' || CAST(vec_id AS VARCHAR))) rk FROM $rel),
       |c0 AS (SELECT rk - 1 AS c, v FROM seed WHERE rk <= $k)""".stripMargin

  /** Farthest-first seed CTEs replaying
    * [[operators.Clustering.lloyd]]'s `seeding = "spread"`: ff0 is the
    * md5-min vector, ffR maximizes `least(dist to ff0..ff{R-1})` (ties
    * to the smaller id). The distance chains are bit-identical to the
    * Spark literal folds, so the argmax rows agree. */
  private def kmSpreadSeedCtes(k: Int): String = {
    val ff0 =
      """ff0 AS (SELECT v FROM e
        |  ORDER BY md5('km' || CAST(vec_id AS VARCHAR)) LIMIT 1)""".stripMargin
    val rest = (1 until k).map { r =>
      val dists = (0 until r).map(i => kmDist("e.v", s"ff$i.v"))
      val minD = if (dists.size == 1) dists.head
        else s"least(${dists.map(d => s"($d)").mkString(", ")})"
      val froms = (0 until r).map(i => s"ff$i").mkString(", ")
      s"""ff$r AS (SELECT e.v FROM e, $froms
         |  ORDER BY $minD DESC, e.vec_id LIMIT 1)""".stripMargin
    }
    val union = (0 until k)
      .map(i => s"SELECT $i AS c, v FROM ff$i").mkString("\n  UNION ALL ")
    ((ff0 +: rest) :+ s"c0 AS (\n  $union)").mkString(",\n")
  }

  /** CTE chain `e, <seeds>, a1, c1, a2, …` replaying
    * [[operators.Clustering.lloyd]]: cN = centroids after N mean
    * updates (rounded 6, empty clusters INHERIT THE PREVIOUS ROUND's
    * centroid — c{N-1}, exactly the Scala `prev`), aN = assignment
    * under c{N-1} with the (dist, cluster) tie-break. */
  private def kmCtes(
      k: Int, iters: Int, seedCtes: String, rel: String = "e"): String = {
    val base =
      s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
         |eh AS (SELECT * FROM e WHERE vec_id % 2 = 0),
         |$seedCtes""".stripMargin
    val rounds = (1 to iters).map { r =>
      s"""a$r AS (SELECT vec_id, v, c FROM (
         |  SELECT $rel.vec_id, $rel.v, c.c, ${kmDist(s"$rel.v", "c.v")} d,
         |    row_number() OVER (PARTITION BY $rel.vec_id
         |      ORDER BY ${kmDist(s"$rel.v", "c.v")}, c.c) rn
         |  FROM $rel CROSS JOIN c${r - 1} c) WHERE rn = 1),
         |m$r AS (SELECT c, list(m ORDER BY i) v FROM (
         |  SELECT c, i, round(avg(v[i]), 6) m
         |  FROM a$r, (SELECT unnest(generate_series(1, $KmeansDim)) i) s
         |  GROUP BY c, i) GROUP BY c),
         |c$r AS (SELECT p.c, coalesce(m.v, p.v) v
         |  FROM c${r - 1} p LEFT JOIN m$r m ON p.c = m.c)""".stripMargin
    }
    (base +: rounds).mkString(",\n")
  }

  private[graft] def kmeansOracle(k: Int, iters: Int, seeding: String = "hash"): String = {
    val seeds =
      if (seeding == "spread") kmSpreadSeedCtes(k) else kmHashSeedCtes(k)
    s"""WITH ${kmCtes(k, iters, seeds)}
       |SELECT vec_id, CAST(c AS INTEGER) AS cluster,
       |       round(d, 6) AS dist2 FROM (
       |  SELECT e.vec_id, c.c, ${kmDist("e.v", "c.v")} d,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${kmDist("e.v", "c.v")}, c.c) rn
       |  FROM e CROSS JOIN c$iters c) WHERE rn = 1""".stripMargin
  }

  /** Fit the model on the even-id half (`eh`), assign the odd-id half
    * against the fitted c$iters — the incremental/recrawl replay. */
  private def kmeansAssignOracle(k: Int, iters: Int): String =
    s"""WITH ${kmCtes(k, iters, kmHashSeedCtes(k, rel = "eh"), rel = "eh")}
       |SELECT vec_id, CAST(c AS INTEGER) AS cluster,
       |       round(d, 6) AS dist2 FROM (
       |  SELECT t.vec_id, c.c, ${kmDist("t.v", "c.v")} d,
       |    row_number() OVER (PARTITION BY t.vec_id
       |      ORDER BY ${kmDist("t.v", "c.v")}, c.c) rn
       |  FROM (SELECT * FROM e WHERE vec_id % 2 = 1) t
       |  CROSS JOIN c$iters c) WHERE rn = 1""".stripMargin

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

  val oracles: Map[String, String] = Map(
    "q_kmeans" -> kmeansOracle(KmeansK, KmeansIters),
    "q_kmeans_spread" -> kmeansOracle(KmeansK, 1, seeding = "spread"),
    "q_kmeans_assign" -> kmeansAssignOracle(KmeansK, KmeansIters),
    // Balanced draw replayed over the fitted assignment.
    "q_cluster_sample" ->
      s"""WITH base AS (${kmeansOracle(KmeansK, KmeansIters)})
         |SELECT CAST(cluster AS INTEGER) AS cluster, vec_id FROM (
         |  SELECT cluster, vec_id, row_number() OVER (
         |    PARTITION BY cluster
         |    ORDER BY md5('cs' || CAST(vec_id AS VARCHAR))) rn
         |  FROM base) WHERE rn <= 25""".stripMargin,
    // Farthest-per-cluster replay: ordered on the ROUNDED dist2 with
    // the id tiebreak, exactly as the GroupedTopK heaps order.
    "q_cluster_outliers" ->
      s"""WITH base AS (${kmeansOracle(KmeansK, KmeansIters)})
         |SELECT CAST(cluster AS INTEGER) AS cluster, vec_id, dist2 FROM (
         |  SELECT cluster, vec_id, dist2, row_number() OVER (
         |    PARTITION BY cluster ORDER BY dist2 DESC, vec_id) rn
         |  FROM base) WHERE rn <= 10""".stripMargin,
    // Release replay: survivors from the q_pipeline oracle (a full
    // WITH RECURSIVE query, legal as a CTE body), token counts from the
    // BPE-apply replay restricted to survivors, the same doc_id-ordered
    // running-sum shard arithmetic as q_pack_bpe, and the scrub chain
    // (a no-op fingerprint on this PII-free corpus, but replayed in
    // full so the gate would catch a redaction bug).
    "q_release" ->
      s"""WITH surv AS (${operators.PipelineQueries.oracles("q_pipeline")}),
         |tokall AS (${bpeApplyOracle(BpeRounds)}),
         |tok AS (SELECT t.doc_id, t.n_tokens FROM tokall t
         |        JOIN surv USING (doc_id)),
         |r AS (SELECT doc_id, n_tokens,
         |    sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) cum
         |  FROM tok),
         |scr AS (SELECT d.doc_id,
         |    md5(regexp_replace(regexp_replace(regexp_replace(d.text,
         |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |      '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
         |      '\\b\\d{3}-\\d{2}-\\d{4}\\b', '<ID>', 'g')) redacted_md5
         |  FROM documents d JOIN surv USING (doc_id))
         |SELECT r.doc_id, CAST(r.n_tokens AS INTEGER) AS n_tokens,
         |  CAST((r.cum - r.n_tokens) // 2048 AS BIGINT) AS shard,
         |  CAST((r.cum - r.n_tokens) % 2048 AS BIGINT) AS tok_offset,
         |  scr.redacted_md5
         |FROM r JOIN scr USING (doc_id)""".stripMargin,
    // Deflate invariants: the count is genuinely verified; the three
    // booleans are deterministic invariants of the Spark-side zlib, so
    // the oracle pins them TRUE (q_sample_bounds pattern).
    "q_compress_sanity" ->
      """SELECT count(*) AS n_docs, TRUE AS band_ok,
        |  TRUE AS subadditive_ok, TRUE AS deterministic
        |FROM documents""".stripMargin,
    // Rate replay: Σ n^α in SOURCE-SORTED order (ordered list sum ↔ the
    // driver's sorted fold), rate rounded to 6 (libm pow is not
    // correctly-rounded), same md5-uniform as q_weighted_sample.
    "q_temperature_mix" ->
      """WITH cnt AS (SELECT source, count(*) n FROM documents GROUP BY 1),
        |tot AS (SELECT list_sum(list(pow(CAST(n AS DOUBLE), 0.5)
        |          ORDER BY source)) sp FROM cnt),
        |rate AS (SELECT source,
        |    round(least(1.0, 300.0 * pow(CAST(n AS DOUBLE), 0.5) / sp
        |      / CAST(n AS DOUBLE)), 6) r
        |  FROM cnt, tot)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN rate USING (source)
        |WHERE (CAST(('0x' || substr(md5('mx' || CAST(doc_id AS VARCHAR)), 1, 13))
        |       AS BIGINT) + 1.0) / 4503599627370496.0 < r""".stripMargin,
    "q_bpe_learn" -> bpeLearnOracle(BpeRounds),
    // Fertility replay off the BPE-apply CTEs; same word regex as the
    // tokenizer, exact integer sums, one rounded division.
    "q_bpe_fertility" ->
      s"""WITH tokall AS (${bpeApplyOracle(BpeRounds)}),
         |w AS (SELECT doc_id, source,
         |    len(regexp_extract_all(lower(text), '\\p{L}+')) nw
         |  FROM documents)
         |SELECT w.source,
         |  CAST(sum(t.n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(w.nw) AS BIGINT) AS n_words,
         |  round(CAST(sum(t.n_tokens) AS DOUBLE) / CAST(sum(w.nw) AS DOUBLE), 6)
         |    AS fertility
         |FROM tokall t JOIN w USING (doc_id)
         |GROUP BY 1""".stripMargin,
    "q_bpe_apply" -> bpeApplyOracle(BpeRounds),
    "q_pack_bpe" -> bpePackOracle(BpeRounds, 2048),
    // JS drift replay: identical arithmetic — per-term doubles are
    // divisions of exact counts, absent-word mass folded in as
    // 0.5*ln(2)*(1 - sum q), final sums rounded to 6.
    "q_source_drift" ->
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) tok FROM documents),
        |sw AS (SELECT source, tok, count(*) csw FROM toks GROUP BY 1, 2),
        |st AS (SELECT source, sum(csw) ns, count(*) vs FROM sw GROUP BY 1),
        |wt AS (SELECT tok, sum(csw) cw FROM sw GROUP BY 1),
        |nt AS (SELECT sum(csw) n FROM sw),
        |j AS (SELECT sw.source,
        |    CAST(csw AS DOUBLE) / CAST(ns AS DOUBLE) AS p,
        |    CAST(cw AS DOUBLE) / CAST(n AS DOUBLE) AS q,
        |    ns, vs
        |  FROM sw JOIN wt USING (tok) JOIN st USING (source) CROSS JOIN nt)
        |SELECT source,
        |  CAST(max(ns) AS BIGINT) AS n_tokens,
        |  CAST(max(vs) AS BIGINT) AS n_words,
        |  round(sum(0.5 * (p * ln(2 * p / (p + q)) + q * ln(2 * q / (p + q))))
        |    + 0.5 * ln(2) * (1 - sum(q)), 6) AS js_vs_corpus
        |FROM j GROUP BY 1""".stripMargin,
    // DSIR weights replayed via the q_dsir oracle as a nested CTE, then
    // the identical Gumbel-form key ln(-ln(u)) - llr (weight exp(llr)
    // never materialized; llr is the ROUNDED oracle value both sides).
    "q_dsir_sample" ->
      s"""WITH base AS (${QueriesR8.oracles("q_dsir")})
         |SELECT doc_id FROM (
         |  SELECT doc_id,
         |    ln(-ln((CAST(('0x' || substr(md5('ws' || CAST(doc_id AS VARCHAR)), 1, 13))
         |         AS BIGINT) + 1.0) / 4503599627370496.0))
         |      - llr AS key
         |  FROM base)
         |ORDER BY key, doc_id LIMIT 100""".stripMargin,
    // A-Res key replay: identical md5-derived u and -ln(u)/w key;
    // selection only (the key never leaves the query).
    "q_weighted_sample" ->
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |    -ln((CAST(('0x' || substr(md5('ws' || CAST(doc_id AS VARCHAR)), 1, 13))
        |         AS BIGINT) + 1.0) / 4503599627370496.0)
        |      / CAST(n_chars AS DOUBLE) AS key
        |  FROM documents WHERE n_chars > 0)
        |ORDER BY key, doc_id LIMIT 100""".stripMargin,
    // Norm arithmetic mirrors the native dot product: double widening,
    // sequential accumulation; all stats rounded to 6.
    "q_embed_card" ->
      """WITH v AS (
        |  SELECT embedding e,
        |    CASE WHEN embedding IS NOT NULL THEN
        |      sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
        |                              CAST(embedding AS DOUBLE[]))) END AS norm,
        |    CASE WHEN embedding IS NOT NULL THEN len(embedding) END AS dim
        |  FROM embeddings)
        |SELECT
        |  CAST(count(*) AS BIGINT) AS n_vectors,
        |  CAST(coalesce(sum(CASE WHEN e IS NULL THEN 1 END), 0) AS BIGINT) AS n_null,
        |  CAST(min(dim) AS INTEGER) AS dim_min,
        |  CAST(max(dim) AS INTEGER) AS dim_max,
        |  CAST(coalesce(sum(CASE WHEN norm = 0 THEN 1 END), 0) AS BIGINT) AS n_zero,
        |  round(avg(norm), 6) AS avg_norm,
        |  round(quantile_cont(norm, 0.5), 6) AS med_norm,
        |  round(min(norm), 6) AS min_norm,
        |  round(max(norm), 6) AS max_norm
        |FROM v""".stripMargin,
    "q_substring_incremental" ->
      """WITH ref AS (
        |  SELECT DISTINCT md5(substr(t, i, 50)) h FROM (
        |    SELECT text t, unnest(generate_series(1, len(text) - 49)) i
        |    FROM documents
        |    WHERE (doc_id % 3 = 0 OR doc_id < 10) AND len(text) >= 50)
        |  WHERE substr(md5(substr(t, i, 8)), 1, 1) = '0'),
        |bat AS (
        |  SELECT doc_id, md5(substr(t, i, 50)) h FROM (
        |    SELECT doc_id, text t, unnest(generate_series(1, len(text) - 49)) i
        |    FROM documents WHERE doc_id % 3 <> 0 AND len(text) >= 50)
        |  WHERE substr(md5(substr(t, i, 8)), 1, 1) = '0'),
        |perdoc AS (
        |  SELECT b.doc_id,
        |    CAST(count(*) AS BIGINT) AS n_spans,
        |    CAST(coalesce(sum(CASE WHEN r.h IS NOT NULL THEN 1 END), 0) AS BIGINT) AS n_matched
        |  FROM bat b LEFT JOIN ref r USING (h) GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
        |  CAST(coalesce(p.n_matched, 0) AS BIGINT) AS n_matched
        |FROM documents d LEFT JOIN perdoc p USING (doc_id)
        |WHERE d.doc_id % 3 <> 0""".stripMargin,
    // Same old/new split as q_snapshot_diff; rank on the ROUNDED shift
    // with the word as tiebreak, exactly as the Spark side orders.
    "q_vocab_drift" ->
      """WITH o AS (
        |  SELECT unnest(string_split(text, ' ')) w FROM documents
        |  WHERE doc_id % 7 <> 0),
        |n AS (
        |  SELECT unnest(string_split(
        |    CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END, ' ')) w
        |  FROM documents WHERE doc_id % 5 <> 3),
        |oc AS (SELECT w, count(*) c_old FROM o GROUP BY 1),
        |nc AS (SELECT w, count(*) c_new FROM n GROUP BY 1),
        |tot AS (SELECT (SELECT sum(c_old) FROM oc) n_old,
        |               (SELECT sum(c_new) FROM nc) n_new),
        |j AS (SELECT coalesce(oc.w, nc.w) AS word,
        |        coalesce(c_old, 0) AS c_old, coalesce(c_new, 0) AS c_new
        |      FROM oc FULL OUTER JOIN nc ON oc.w = nc.w)
        |SELECT word, CAST(c_old AS BIGINT) AS c_old,
        |  CAST(c_new AS BIGINT) AS c_new,
        |  round(abs(CAST(c_old AS DOUBLE) / CAST(t.n_old AS DOUBLE)
        |      - CAST(c_new AS DOUBLE) / CAST(t.n_new AS DOUBLE)), 6) AS shift
        |FROM j, tot t
        |ORDER BY shift DESC, word LIMIT 20""".stripMargin,
    // Same gram text (space-joined), same integer masses (count·len),
    // same shared denominator; the top gram tie-breaks to the
    // lexicographically smallest among max counts in both engines.
    "q_gopher_rep" -> gopherRepOracle,
    // The published Gopher gates over those fractions, funneled with
    // the same fail-index arithmetic as q_gate_funnel.
    "q_gopher_funnel" ->
      s"""WITH g AS ($gopherRepOracle),
         |f AS (SELECT CASE
         |    WHEN NOT (top2_frac < 0.2) THEN 0
         |    WHEN NOT (top3_frac < 0.18) THEN 1
         |    WHEN NOT (dup5_frac < 0.15) THEN 2
         |    ELSE 3 END AS fail FROM g),
         |a AS (SELECT fail, count(*) AS c FROM f GROUP BY fail),
         |t AS (SELECT count(*) AS total FROM f),
         |s AS (SELECT * FROM (VALUES (0, 'top2_frac'), (1, 'top3_frac'),
         |      (2, 'dup5_frac')) v(stage_idx, stage))
         |SELECT s.stage_idx, s.stage,
         |  CAST(t.total - coalesce((SELECT sum(c) FROM a
         |    WHERE fail < s.stage_idx), 0) AS BIGINT) AS rows_in,
         |  CAST(t.total - coalesce((SELECT sum(c) FROM a
         |    WHERE fail <= s.stage_idx), 0) AS BIGINT) AS rows_out
         |FROM s, t""".stripMargin,
    // Same Okapi/Lucene arithmetic in the same evaluation order:
    // (1.2 + 1) and 1.2 mirror the Scala-side k1+1 / k1 doubles, avgdl
    // is sum/count in both, terms summed in the literal order.
    "q_bm25" ->
      """WITH f AS (
        |  SELECT doc_id, CAST(len(ts) AS DOUBLE) dl,
        |    CAST(len(list_filter(ts, x -> x = 'spark')) AS DOUBLE) tf1,
        |    CAST(len(list_filter(ts, x -> x = 'window')) AS DOUBLE) tf2,
        |    CAST(len(list_filter(ts, x -> x = 'vector')) AS DOUBLE) tf3
        |  FROM (SELECT doc_id, regexp_extract_all(text, '\S+') ts
        |        FROM documents)),
        |st AS (SELECT CAST(count(*) AS DOUBLE) n, sum(dl) sumdl,
        |    CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) df1,
        |    CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) df2,
        |    CAST(sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS DOUBLE) df3
        |  FROM f)
        |SELECT doc_id, CAST(dl AS BIGINT) AS dl, round(
        |    ln(1 + (n - df1 + 0.5) / (df1 + 0.5)) * (tf1 * (1.2 + 1))
        |      / (tf1 + 1.2 * (0.25 + 0.75 * dl / (sumdl / n)))
        |  + ln(1 + (n - df2 + 0.5) / (df2 + 0.5)) * (tf2 * (1.2 + 1))
        |      / (tf2 + 1.2 * (0.25 + 0.75 * dl / (sumdl / n)))
        |  + ln(1 + (n - df3 + 0.5) / (df3 + 0.5)) * (tf3 * (1.2 + 1))
        |      / (tf3 + 1.2 * (0.25 + 0.75 * dl / (sumdl / n))), 6) AS score
        |FROM f, st
        |WHERE tf1 > 0 OR tf2 > 0 OR tf3 > 0
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // Same md5-derived start (52-bit hex prefix mod valid starts), same
    // 1-based list slicing, space re-join.
    "q_span_corrupt" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |p AS (SELECT doc_id, ts, len(ts) n,
        |    CAST(CAST(('0x' || substr(md5('sc' || CAST(doc_id AS VARCHAR)), 1, 13))
        |      AS BIGINT) % (len(ts) - 5 + 1) AS INTEGER) + 1 AS s
        |  FROM tk WHERE len(ts) > 5)
        |SELECT doc_id,
        |  array_to_string(
        |    list_slice(ts, 1, s - 1) || ['<X>'] || list_slice(ts, s + 5, n),
        |    ' ') AS input,
        |  array_to_string(['<X>'] || list_slice(ts, s, s + 4), ' ') AS target,
        |  CAST(n AS BIGINT) AS n_tokens
        |FROM p""".stripMargin,
    // Two md5 cuts (seeds 'fima'/'fimb'), same slicing and PSM concat.
    "q_fim" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |p AS (SELECT doc_id, ts, len(ts) n,
        |    CAST(CAST(('0x' || substr(md5('fima' || CAST(doc_id AS VARCHAR)), 1, 13))
        |      AS BIGINT) % (len(ts) - 1) AS INTEGER) + 1 AS c1
        |  FROM tk WHERE len(ts) >= 2),
        |q AS (SELECT doc_id, ts, n, c1, c1 +
        |    CAST(CAST(('0x' || substr(md5('fimb' || CAST(doc_id AS VARCHAR)), 1, 13))
        |      AS BIGINT) % (n - c1) AS INTEGER) AS c2
        |  FROM p),
        |f AS (SELECT doc_id,
        |    coalesce(array_to_string(list_slice(ts, 1, c1), ' '), '') AS prefix,
        |    coalesce(array_to_string(list_slice(ts, c1 + 1, c2), ' '), '') AS middle,
        |    coalesce(array_to_string(list_slice(ts, c2 + 1, n), ' '), '') AS suffix
        |  FROM q)
        |SELECT doc_id, prefix, middle, suffix,
        |  '<PRE> ' || prefix || ' <SUF> ' || suffix || ' <MID> ' || middle AS psm
        |FROM f""".stripMargin,
    // Same md5 cut in [minContext, n - minContinuation].
    "q_causal_split" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |p AS (SELECT doc_id, ts, len(ts) n,
        |    CAST(CAST(('0x' || substr(md5('cs' || CAST(doc_id AS VARCHAR)), 1, 13))
        |      AS BIGINT) % (len(ts) - 4 - 8 + 1) AS INTEGER) + 8 AS cut
        |  FROM tk WHERE len(ts) >= 12)
        |SELECT doc_id,
        |  array_to_string(list_slice(ts, 1, cut), ' ') AS context,
        |  array_to_string(list_slice(ts, cut + 1, n), ' ') AS continuation
        |FROM p""".stripMargin,
    // Token-equality semantics: lowercase whitespace tokens, exact list
    // membership, counts as BIGINT, flag = any category hit.
    "q_policy_screen" ->
      """WITH tk AS (SELECT doc_id,
        |    string_split_regex(lower(text), '\s+') ts FROM documents)
        |SELECT doc_id,
        |  CAST(len(list_filter(ts, x -> x IN ('slow', 'fast'))) AS BIGINT)
        |    AS n_perf,
        |  CAST(len(list_filter(ts, x -> x IN ('spark', 'table'))) AS BIGINT)
        |    AS n_infra,
        |  (len(list_filter(ts, x -> x IN ('slow', 'fast'))) > 0 OR
        |   len(list_filter(ts, x -> x IN ('spark', 'table'))) > 0) AS flagged
        |FROM tk""".stripMargin,
    // Same per-term Okapi arithmetic as q_bm25 (the (1.2 + 1) literal
    // mirrors the Scala double), per-(qid, doc) sum rounded AFTER
    // summation, row_number cut on (score desc, doc_id).
    "q_bm25_batch" ->
      """WITH q(qid, term) AS (VALUES (1, 'spark'), (1, 'join'),
        |    (2, 'window'), (2, 'vector'), (3, 'merge')),
        |tk AS (SELECT doc_id, regexp_extract_all(text, '\S+') ts FROM documents),
        |ex AS (SELECT doc_id, len(ts) dl, unnest(ts) tok FROM tk),
        |tf AS (SELECT doc_id, tok AS term, count(*) tf, any_value(dl) dl
        |  FROM ex WHERE tok IN (SELECT DISTINCT term FROM q) GROUP BY 1, 2),
        |st AS (SELECT CAST(count(*) AS DOUBLE) n,
        |    CAST(sum(len(ts)) AS DOUBLE) sumdl FROM tk),
        |dft AS (SELECT term, CAST(count(*) AS DOUBLE) dfc FROM tf GROUP BY 1),
        |sc AS (SELECT q.qid, tf.doc_id,
        |    round(sum(
        |      ln(1 + (n - dfc + 0.5) / (dfc + 0.5))
        |        * (CAST(tf AS DOUBLE) * (1.2 + 1))
        |        / (CAST(tf AS DOUBLE)
        |           + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (sumdl / n)))),
        |      6) AS score
        |  FROM tf JOIN dft USING (term) JOIN q USING (term), st
        |  GROUP BY 1, 2)
        |SELECT CAST(qid AS BIGINT) AS qid, doc_id, score FROM (
        |  SELECT qid, doc_id, score, row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, doc_id) rn FROM sc)
        |WHERE rn <= 10""".stripMargin,
    // Identical RE2-compatible ruleset and redaction order; counts on
    // the original text, md5 over the redacted UTF-8 bytes.
    "q_pii_scrub" ->
      """WITH inj AS (SELECT doc_id,
        |  CASE WHEN doc_id % 4 = 0 THEN text
        |      || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
        |      || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
        |      || ' id 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |    ELSE text END AS text FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(text,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
        |  CAST(len(regexp_extract_all(text,
        |    '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ssn,
        |  md5(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{3}-\d{2}-\d{4}\b', '<ID>', 'g')) AS redacted_md5
        |FROM inj""".stripMargin,
    // Bit-exact replay of anchoredSpanProfile: md5 is the same
    // lowercase-hex digest in both engines, and substr is 1-based
    // char-indexed in both.
    "q_substring_dedup" ->
      """WITH pos AS (
        |  SELECT doc_id, text t, unnest(generate_series(1, len(text) - 49)) i
        |  FROM documents WHERE len(text) >= 50),
        |anch AS (
        |  SELECT doc_id, md5(substr(t, i, 50)) h FROM pos
        |  WHERE substr(md5(substr(t, i, 8)), 1, 1) = '0'),
        |occ AS (SELECT doc_id, h, count(*) occ FROM anch GROUP BY 1, 2),
        |tot AS (SELECT h, sum(occ) tot, count(*) ndocs FROM occ GROUP BY 1),
        |perdoc AS (
        |  SELECT o.doc_id,
        |    CAST(sum(o.occ) AS BIGINT) AS n_spans,
        |    CAST(coalesce(sum(CASE WHEN t.tot >= 2 THEN o.occ END), 0) AS BIGINT) AS n_dup,
        |    CAST(coalesce(sum(CASE WHEN t.ndocs >= 2 THEN o.occ END), 0) AS BIGINT) AS n_cross_dup
        |  FROM occ o JOIN tot t USING (h) GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
        |  CAST(coalesce(p.n_dup, 0) AS BIGINT) AS n_dup,
        |  CAST(coalesce(p.n_cross_dup, 0) AS BIGINT) AS n_cross_dup
        |FROM documents d LEFT JOIN perdoc p USING (doc_id)""".stripMargin,
    // Interval-union coverage replay: gaps-and-islands over the sorted
    // duplicated-span start positions — a new island opens when a start
    // clears the running max end; island length = max(i) - min(i) + 50.
    "q_dup_span_chars" ->
      """WITH pos AS (
        |  SELECT doc_id, text t, unnest(generate_series(1, len(text) - 49)) i
        |  FROM documents WHERE len(text) >= 50),
        |anch AS (
        |  SELECT doc_id, i, md5(substr(t, i, 50)) h FROM pos
        |  WHERE substr(md5(substr(t, i, 8)), 1, 1) = '0'),
        |nd AS (SELECT h, count(DISTINCT doc_id) ndocs FROM anch GROUP BY 1),
        |dup AS (SELECT a.doc_id, a.i FROM anch a JOIN nd USING (h)
        |        WHERE nd.ndocs >= 2),
        |marked AS (
        |  SELECT doc_id, i,
        |    CASE WHEN max(i + 49) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |      OR i > max(i + 49) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      THEN 1 ELSE 0 END AS new_island
        |  FROM dup),
        |isl AS (
        |  SELECT doc_id, i,
        |    sum(new_island) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS UNBOUNDED PRECEDING) AS island
        |  FROM marked),
        |perisl AS (
        |  SELECT doc_id, island, count(*) n, max(i) - min(i) + 50 AS cov
        |  FROM isl GROUP BY 1, 2),
        |perdoc AS (
        |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_dup_spans,
        |    CAST(sum(cov) AS BIGINT) AS dup_chars
        |  FROM perisl GROUP BY 1)
        |SELECT d.doc_id, CAST(len(d.text) AS BIGINT) AS n_chars,
        |  CAST(coalesce(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
        |  CAST(coalesce(p.dup_chars, 0) AS BIGINT) AS dup_chars
        |FROM documents d LEFT JOIN perdoc p USING (doc_id)""".stripMargin
  )
}
