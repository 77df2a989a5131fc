package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Sources.table

/** Round-10 corpus queries — the canonical crawl-front operators the
  * surface still lacked, all exact-oracle-gated:
  *
  *  - RefinedWeb/CCNet LINE-level exact dedup (q_line_dedup; plan
  *    pinned to never shuffle corpus text);
  *  - the release pipeline served from the PERSISTENT cache
  *    (q_release_resumed — bit-identical to q_release, zero jobs on a
  *    hit);
  *  - Unicode NFC cleanup via the native `nfc_normalize` expression
  *    (q_nfc_normalize) and WET-style markup strip (q_html_strip),
  *    composed end-to-end as the extraction front gate (q_extract);
  *  - the published GPT-3/Pile 13-gram decontamination collision rule
  *    (q_decontam_13g) and its lossless bloom-prefiltered scale form
  *    (q_decontam_13g_bloom, same oracle).
  *
  * The ASCII fixture is already clean, so the cleanup queries inject
  * their markup / decomposed accents / control chars deterministically
  * — both engines replay the identical injection.
  */
object QueriesR10 {

  /** Words per reflowed line for q_line_dedup: the synthetic corpus has
    * no newlines, so the query deterministically reflows each document
    * into 8-word lines first (both engines replay the same reflow). */
  private val LineWidth = 8

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- RefinedWeb/CCNet line dedup: drop EVERY line appearing in
    //     > 2 distinct docs, keep surviving lines in order. The df
    //     pass shuffles line digests only; the hot set collapses to a
    //     one-row broadcast and removal is a row-local array filter —
    //     corpus text never reaches an exchange (plan-pinned). ---
    "q_line_dedup" -> { (s, d) =>
      val reflowed = table(s, d, "documents").select(
        col("doc_id"),
        array_join(
          operators.SubstringDedup.tokenChunks(
            split(col("text"), " "), LineWidth), "\n").as("text"))
      operators.SubstringDedup.lineDedup(
        reflowed, "doc_id", "text", maxDf = 2)
    },
    // --- the release pipeline routed through the PERSISTENT cache
    //     layer (vs q_release's session-transient checkpoint): first
    //     execution writes the cleaned corpus + manifest as cache
    //     tables keyed on the raw corpus fingerprint; every re-run —
    //     including in a new session — is a pure table read that
    //     executes no dedup/tokenize/pack jobs. Same oracle as
    //     q_release: resumption must be bit-identical. ---
    "q_release_resumed" -> ((s, d) =>
      operators.Pipeline.releaseResumable(
        table(s, d, "documents"), "doc_id", "text", windowLen = 2048L, bpeRounds = 5)),
    // --- Unicode cleanup: NFC composition (native expression, ASCII
    //     fast path) + control-char strip. The ASCII fixture is
    //     already normalized, so the query deterministically injects
    //     decomposed accents (a -> a + U+0301) and a control char
    //     (e -> e + BEL) first — both engines replay the injection,
    //     then DuckDB's nfc_normalize replays the composition. ---
    "q_nfc_normalize" -> { (s, d) =>
      table(s, d, "documents")
        .select(col("doc_id"),
          regexp_replace(
            regexp_replace(col("text"), "a", "a\u0301"),
            "e", "e\u0007").as("__dec"))
        .select(col("doc_id"), col("__dec"),
          operators.TextAnalysis.normalizeText(col("__dec")).as("__norm"))
        .select(
          col("doc_id"),
          length(col("__dec")).cast("long").as("n_raw"),
          length(col("__norm")).cast("long").as("n_norm"),
          md5(col("__norm")).as("norm_md5"))
    },
    // --- WET-style markup strip: tags out (space-replaced), the five
    //     predefined entities decoded (&amp; last), whitespace
    //     collapsed. Fixture is plain text, so the query injects
    //     deterministic markup both engines replay. ---
    "q_html_strip" -> { (s, d) =>
      table(s, d, "documents")
        .select(col("doc_id"),
          concat(lit("<html><body class=\"x\">"),
            regexp_replace(
              regexp_replace(col("text"), "spark", "<b>spark</b>"),
              "key", "&quot;key&quot;"),
            lit("</body></html>")).as("__html"))
        .select(col("doc_id"), col("__html"),
          operators.TextAnalysis.stripMarkup(col("__html")).as("text_clean"))
        .select(
          col("doc_id"),
          length(col("__html")).cast("long").as("n_raw"),
          length(col("text_clean")).cast("long").as("n_clean"),
          col("text_clean"))
    },
    // --- the EXTRACTION front gate, composed: markup strip ∘ NFC
    //     normalize ∘ token count — what turns a raw crawl record
    //     into the plain text every downstream operator consumes.
    //     Injected markup AND decomposed accents, both replayed. ---
    "q_extract" -> { (s, d) =>
      table(s, d, "documents")
        .select(col("doc_id"),
          concat(lit("<div>"),
            regexp_replace(col("text"), "a", "a\u0301"),
            lit("</div>")).as("__raw"))
        .select(col("doc_id"),
          operators.TextAnalysis.normalizeText(
            operators.TextAnalysis.stripMarkup(col("__raw"))).as("__clean"))
        .select(
          col("doc_id"),
          operators.TextAnalysis.tokenCount(col("__clean")).cast("long")
            .as("n_tokens"),
          length(col("__clean")).cast("long").as("n_chars"),
          md5(col("__clean")).as("clean_md5"))
    },
    // --- RAG/embedding chunking: overlapping 32-token windows with
    //     stride 24 (8-token overlap so no boundary-straddling
    //     passage is lost). Row-local transform + posexplode — the
    //     chunk table that feeds the ANN/IVF operators. ---
    "q_rag_chunks" -> { (s, d) =>
      table(s, d, "documents")
        .select(col("doc_id"),
          explode(operators.TextAnalysis.tokenWindows(
            col("text"), window = 32, stride = 24)).as("c"))
        .select(
          col("doc_id"),
          col("c.idx").cast("long").as("idx"),
          col("c.start_tok").cast("long").as("start_tok"),
          col("c.n_tokens").cast("long").as("n_tokens"),
          col("c.chunk").as("chunk"))
    },
    // --- chunk-level retrieval, composed: tokenWindows → BM25 over
    //     the CHUNK table — the passage-retrieval shape a RAG index
    //     serves (score the chunk, not the whole document). ---
    "q_chunk_retrieval" -> { (s, d) =>
      val chunks = table(s, d, "documents")
        .select(col("doc_id"),
          explode(operators.TextAnalysis.tokenWindows(
            col("text"), window = 32, stride = 24)).as("c"))
        // 100000 ≫ any plausible chunks-per-doc (32-token windows,
        // stride 24): doc_id*k + idx must stay collision-free even if
        // fixture documents grow to ~2.4M space-tokens.
        .select((col("doc_id") * 100000 + col("c.idx")).as("chunk_id"),
          col("c.chunk").as("chunk"))
      operators.Retrieval.bm25(
        chunks, "chunk_id", "chunk", Seq("spark", "window"), topK = 20)
    },
    // --- the release DATA CARD: one-row summary of the release
    //     manifest (docs in/out, retention, shards, total tokens) —
    //     the provenance line a model card quotes. The manifest comes
    //     through releaseResumable, NOT a fresh releaseManifest run: a
    //     data card is a report over the RELEASED ARTIFACT, so at
    //     100 TB it must cost a table read + one-pass agg, never a
    //     re-execution of the dedup/tokenize/pack it summarizes (a
    //     prior release — q_release_resumed here, or any earlier
    //     session — already persisted the manifest; a first-ever call
    //     computes it once and persists it for everything downstream).
    //     Oracle wraps q_release's: the card's numbers are over the
    //     exact same manifest either way.
    //     Round 15 adds the SCORER-HEALTH columns: scorer_ece (the
    //     quality scorer's expected calibration error over the
    //     RELEASED docs) and scorer_psi (score-distribution PSI vs the
    //     previous release, stood in by the even-doc_id half) — so a
    //     release shipping a drifted scorer no longer looks healthy
    //     on its own card. Both one-row sides broadcast onto the
    //     card row; the manifest is never re-executed for them (the
    //     released doc set is a doc_id semi-join against it). ---
    "q_release_card" -> { (s, d) =>
      val dd = table(s, d, "documents")
      val manifest = operators.Pipeline.releaseResumable(
        dd, "doc_id", "text", windowLen = 2048L, bpeRounds = 5)
      // left_semi, not inner: at-most-once row multiplicity by
      // construction, so a future manifest shape with multiple rows
      // per doc_id (e.g. per-chunk) cannot silently double-weight
      // docs in the health columns.
      val released = dd.join(
        manifest.select(col("doc_id")), Seq("doc_id"), "left_semi")
      val scored = QueriesR14.scoreLabel(released)
      val ece = operators.QualityModel.expectedCalibrationError(
        operators.QualityModel.calibrationReport(scored, "score", "label"))
        .select(col("ece").as("scorer_ece"))
      val prev = QueriesR14.scoreLabel(dd.filter(col("doc_id") % 2 === 0))
      val psi = operators.QualityModel.psiTotal(prev, scored, "score")
        .select(col("psi_total").as("scorer_psi"))
      manifest
        .agg(
          count(lit(1)).as("n_docs_out"),
          countDistinct(col("shard")).as("n_shards"),
          sum(col("n_tokens")).cast("long").as("n_tokens"))
        .crossJoin(broadcast(dd.agg(count(lit(1)).as("n_docs_in"))))
        .select(
          col("n_docs_in"), col("n_docs_out"),
          round(col("n_docs_out").cast("double") / col("n_docs_in"), 6)
            .as("retention"),
          col("n_shards"), col("n_tokens"))
        .crossJoin(broadcast(ece))
        .crossJoin(broadcast(psi))
    },
    // --- packing CONTINUATION: pack corpus half A from zero, then
    //     half B starting at A's next shard boundary — the
    //     incremental-release mechanic (append-only shard space, new
    //     batch opens a fresh shard). Emits B's manifest. ---
    "q_pack_continue" -> { (s, d) =>
      val counts = table(s, d, "documents").select(col("doc_id"),
        operators.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      val packedA = operators.Packing.tokenShardOffsets(
        counts.filter(col("doc_id") % 3 === 0), "doc_id", "n_tokens", 512L)
      val startB = (packedA.agg(max(col("shard"))).collect()(0)
        .getLong(0) + 1L) * 512L
      operators.Packing
        .tokenShardOffsets(
          counts.filter(col("doc_id") % 3 =!= 0), "doc_id", "n_tokens",
          512L, startTokens = startB)
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("shard"), col("tok_offset"))
    },
    // --- GPT-3/Pile 13-gram decontamination: contaminated on ANY
    //     shared 13-gram (k=13, minShared=1 — the published collision
    //     rule). Eval = every 5th doc so the fixture's near-dup pairs
    //     actually straddle the train/eval split. ---
    "q_decontam_13g" -> { (s, d) =>
      val all = table(s, d, "documents")
      operators.Decontaminate.decontaminate13Gram(
        train = all.filter(col("doc_id") % 5 =!= 0),
        eval = all.filter(col("doc_id") % 5 === 0)
          .withColumn("eval_set", (col("doc_id") % 2).cast("int")),
        idCol = "doc_id", textCol = "text", setCol = "eval_set")
    },
    // --- bloom-prefiltered 13-gram decontamination: compact bloom
    //     over eval-gram hashes drops definitely-unshared train
    //     shingles map-side; exact join kills false positives —
    //     LOSSLESS, same oracle as the plain form. ---
    "q_decontam_13g_bloom" -> { (s, d) =>
      val all = table(s, d, "documents")
      operators.Decontaminate.ngramOverlapPerSetBloom(
        train = all.filter(col("doc_id") % 5 =!= 0),
        eval = all.filter(col("doc_id") % 5 === 0)
          .withColumn("eval_set", (col("doc_id") % 2).cast("int")),
        idCol = "doc_id", textCol = "text", setCol = "eval_set",
        k = 13, minShared = 1, expectedItems = 100000L)
    },
    // --- incremental near-dedup served from a PERSISTENT band index:
    //     the reference corpus's banded-MinHash table is built once
    //     (cache-materializable, like the IVF index); each recrawl
    //     batch computes only ITS OWN signatures and probes the index
    //     — no job ever re-reads the reference text. Rows-only by
    //     design (banding is approximate); q_index_recall gates the
    //     candidate quality ≥ 0.90 against the exact cross-corpus
    //     pair set. ---
    "q_dedup_index_near" -> { (s, d) =>
      val dd = table(s, d, "documents")
      val index = operators.Dedup.buildMinHashBandIndex(
        dd.filter(col("doc_id") % 3 === 0 || col("doc_id") < 10),
        "doc_id", "text")
      operators.Dedup.nearDupAgainstIndex(
        dd.filter(col("doc_id") % 3 =!= 0), index, "doc_id", "text")
        .select("doc_id", "source", "n_chars")
    },
    // --- candidate recall of the index probe vs the exact Jaccard
    //     >= 0.8 cross-corpus pair set (same split as
    //     q_dedup_incremental_near) — the q_minhash_recall pattern for
    //     the index-served path. ---
    "q_index_recall" -> { (s, d) =>
      val dd = table(s, d, "documents")
      val batch = dd.filter(col("doc_id") % 3 =!= 0)
      val ref = dd.filter(col("doc_id") % 3 === 0 || col("doc_id") < 10)
      val exact = operators.Dedup.ngramJaccardPairsAgainst(
        batch, ref, "doc_id", "text", k = 3, threshold = 0.8)
        .select(col("id_batch").as("id_a"), col("id_ref").as("id_b"))
      val cand = operators.Dedup.minHashPairsAgainstIndex(
        batch, operators.Dedup.buildMinHashBandIndex(ref, "doc_id", "text"),
        "doc_id", "text")
        .select(col("id_batch").as("id_a"), col("id_ref").as("id_b"))
      operators.Quality.pairRecallCounts(exact, cand)
        .select(col("n_exact"),
          operators.Quality.recallOk(bps = 9000).as("recall_ok"))
    },
    // --- in-context (semantic) packing: fit k-means on the doc
    //     embeddings, then fill each 256-token context window from ONE
    //     cluster — related documents land in the same training
    //     sequence (in-context pretraining). Composition of the two
    //     gated operators: lloyd assignment (map-only, centroid
    //     literals) + groupedPack (global two-pass prefix sum minus a
    //     broadcast k-row cluster-offset table; never a hot
    //     per-cluster window). ---
    "q_cluster_pack" -> { (s, d) =>
      val assigned = operators.Clustering.lloyd(
        table(s, d, "embeddings"), "vec_id", "embedding",
        k = QueriesR9.KmeansK, iters = QueriesR9.KmeansIters)
      val counts = table(s, d, "documents").select(col("doc_id"),
        operators.TextAnalysis.tokenCount(col("text")).as("__nt"))
      operators.Packing.groupedPack(
        assigned.withColumnRenamed("vec_id", "doc_id")
          .select("doc_id", "cluster").join(counts, "doc_id"),
        "doc_id", groupCol = col("cluster"), groupName = "cluster",
        tokensCol = col("__nt"), contextLen = 256)
    })

  private val oraclesBase: Map[String, String] = Map(
    // Identical result contract to q_release — the cache-resumed run
    // must be bit-identical to the computed one.
    "q_release_resumed" -> QueriesR9.oracles("q_release"),
    "q_line_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |ln AS (SELECT doc_id, unnest(list_transform(generate_series(0, CAST(ceil(len(w) / 8.0) AS INT) - 1), k -> {'idx': k, 'line': array_to_string(w[k*8+1 : k*8+8], ' ')}), recursive := true) FROM t),
        |hot AS (SELECT line FROM (SELECT line, count(DISTINCT doc_id) df FROM ln GROUP BY 1) WHERE df > 2),
        |kept AS (SELECT doc_id, idx, line FROM ln WHERE line NOT IN (SELECT line FROM hot)),
        |r AS (SELECT doc_id, count(*) n_kept, string_agg(line, chr(10) ORDER BY idx) text_dedup FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, CAST(ceil(len(t.w) / 8.0) AS BIGINT) AS n_lines,
        |       coalesce(r.n_kept, 0)::BIGINT AS n_kept,
        |       coalesce(r.text_dedup, '') AS text_dedup
        |FROM t LEFT JOIN r ON t.doc_id = r.doc_id""".stripMargin,
    "q_html_strip" ->
      """WITH raw AS (SELECT doc_id,
        |  '<html><body class="x">' ||
        |  replace(replace(text, 'spark', '<b>spark</b>'),
        |          'key', '&quot;key&quot;') || '</body></html>' AS h
        |  FROM documents),
        |s AS (SELECT doc_id, h, trim(regexp_replace(
        |  replace(replace(replace(replace(replace(
        |    regexp_replace(h, '<[^>]*>', ' ', 'g'),
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |    '&#39;', chr(39)), '&amp;', '&'),
        |  '\s+', ' ', 'g')) AS text_clean FROM raw)
        |SELECT doc_id, length(h)::BIGINT AS n_raw,
        |       length(text_clean)::BIGINT AS n_clean, text_clean
        |FROM s""".stripMargin,
    "q_rag_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |c AS (SELECT doc_id, unnest(list_transform(
        |  generate_series(0, CAST(ceil(greatest(len(w) - 32, 0) / 24.0) AS BIGINT)),
        |  k -> {'idx': k, 'start_tok': k*24 + 1,
        |        'n_tokens': least(32, len(w) - k*24),
        |        'chunk': array_to_string(w[k*24+1 : k*24+32], ' ')}),
        |  recursive := true) FROM t WHERE len(w) > 0)
        |SELECT doc_id, idx::BIGINT AS idx, start_tok::BIGINT AS start_tok,
        |       n_tokens::BIGINT AS n_tokens, chunk
        |FROM c""".stripMargin,
    "q_pack_continue" ->
      """WITH c AS (SELECT doc_id,
        |    len(regexp_extract_all(text, '\S+')) n FROM documents),
        |a AS (SELECT doc_id, n,
        |    sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) cum
        |  FROM c WHERE doc_id % 3 = 0),
        |st AS (SELECT (max((cum - n) // 512) + 1) * 512 AS s0 FROM a),
        |b AS (SELECT doc_id, n,
        |    sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) cum
        |  FROM c WHERE doc_id % 3 <> 0)
        |SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_tokens,
        |       CAST((b.cum - b.n + st.s0) // 512 AS BIGINT) AS shard,
        |       CAST((b.cum - b.n + st.s0) % 512 AS BIGINT) AS tok_offset
        |FROM b, st""".stripMargin,
    // Scorer-health replay (round 15): the released docs re-score
    // through the shared stopword-ratio chain; ECE via the integer
    // gap-mass fold over the reliability bins; PSI between the
    // even-doc_id half (previous release stand-in) and the released
    // scores, per-bin terms rounded then micro-folded — the same
    // arithmetic as q_calibration_ece / q_psi.
    "q_release_card" ->
      s"""WITH m AS (
         |${QueriesR9.oracles("q_release")}
         |), tot AS (SELECT CAST(count(*) AS BIGINT) n_docs_in FROM documents),
         |agg AS (SELECT CAST(count(*) AS BIGINT) n_docs_out,
         |    CAST(count(DISTINCT shard) AS BIGINT) n_shards,
         |    CAST(sum(n_tokens) AS BIGINT) n_tokens FROM m),
         |rel AS (SELECT d.lang, d.text FROM documents d
         |        WHERE d.doc_id IN (SELECT doc_id FROM m)),
         |rt AS (SELECT lang, regexp_extract_all(text, '\\S+') toks FROM rel),
         |rs AS (SELECT least(
         |    CAST(len(list_filter(toks,
         |        x -> x IN ('the','a','and','of','to','in'))) AS DOUBLE)
         |      / len(toks) / CAST(0.12 AS DOUBLE), CAST(1 AS DOUBLE))
         |      AS score,
         |    (lang = 'en') AS label FROM rt),
         |rb AS (SELECT greatest(least(CAST(floor(score * 10) AS INT), 9), 0)
         |      AS bin,
         |    CAST(round(score * 1e6) AS BIGINT) AS micros,
         |    CAST(label AS INT) AS pos FROM rs
         |  WHERE label IS NOT NULL),
         |rrep AS (SELECT bin, count(*) AS n,
         |    CAST(CASE WHEN sum(pos) * 1000000 - sum(micros) >= 0
         |      THEN (2 * (sum(pos) * 1000000 - sum(micros)) + count(*))
         |        // (2 * count(*))
         |      ELSE -((2 * (sum(micros) - sum(pos) * 1000000) + count(*))
         |        // (2 * count(*))) END AS DOUBLE) / 1e6 AS gap
         |  FROM rb GROUP BY bin),
         |ec AS (SELECT CAST((2 * sum(CAST(round(abs(gap) * 1e6) AS BIGINT)
         |      * n) + sum(n)) // (2 * sum(n)) AS DOUBLE) / 1e6
         |      AS scorer_ece FROM rrep),
         |pt AS (SELECT lang, regexp_extract_all(text, '\\S+') toks
         |       FROM documents WHERE doc_id % 2 = 0),
         |ps AS (SELECT least(
         |    CAST(len(list_filter(toks,
         |        x -> x IN ('the','a','and','of','to','in'))) AS DOUBLE)
         |      / len(toks) / CAST(0.12 AS DOUBLE), CAST(1 AS DOUBLE))
         |      AS score FROM pt),
         |bb AS (SELECT greatest(least(CAST(floor(score * 10) AS INT), 9), 0)
         |         AS bin, count(*) AS n_base FROM ps GROUP BY 1),
         |bc AS (SELECT greatest(least(CAST(floor(score * 10) AS INT), 9), 0)
         |         AS bin, count(*) AS n_cur FROM rs GROUP BY 1),
         |ab AS (SELECT CAST(i AS INT) AS bin
         |       FROM unnest(generate_series(0, 9)) u(i)),
         |pj AS (SELECT ab.bin,
         |    CAST(coalesce(n_base, 0) AS BIGINT) AS n_base,
         |    CAST(coalesce(n_cur, 0) AS BIGINT) AS n_cur
         |  FROM ab LEFT JOIN bb USING (bin) LEFT JOIN bc USING (bin)),
         |ptt AS (SELECT CAST(sum(n_base) AS DOUBLE) AS tb,
         |    CAST(sum(n_cur) AS DOUBLE) AS tc FROM pj),
         |pp AS (SELECT round(((CAST(n_cur AS DOUBLE) + 0.5) / (tc + 5.0)
         |      - (CAST(n_base AS DOUBLE) + 0.5) / (tb + 5.0))
         |    * ln(((CAST(n_cur AS DOUBLE) + 0.5) / (tc + 5.0))
         |      / ((CAST(n_base AS DOUBLE) + 0.5) / (tb + 5.0))), 6) AS psi
         |  FROM pj, ptt),
         |px AS (SELECT round(CAST(sum(CAST(round(psi * 1e6) AS BIGINT))
         |      AS DOUBLE) / 1e6, 6) AS scorer_psi FROM pp)
         |SELECT tot.n_docs_in, agg.n_docs_out,
         |       round(agg.n_docs_out * 1.0 / tot.n_docs_in, 6) AS retention,
         |       agg.n_shards, agg.n_tokens, ec.scorer_ece, px.scorer_psi
         |FROM tot, agg, ec, px""".stripMargin,
    "q_chunk_retrieval" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |c AS (SELECT doc_id, unnest(list_transform(
        |  generate_series(0, CAST(ceil(greatest(len(w) - 32, 0) / 24.0) AS BIGINT)),
        |  k -> {'idx': k, 'chunk': array_to_string(w[k*24+1 : k*24+32], ' ')}),
        |  recursive := true) FROM t WHERE len(w) > 0),
        |f AS (SELECT doc_id * 100000 + idx AS chunk_id,
        |    CAST(len(ts) AS DOUBLE) dl,
        |    CAST(len(list_filter(ts, x -> x = 'spark')) AS DOUBLE) tf1,
        |    CAST(len(list_filter(ts, x -> x = 'window')) AS DOUBLE) tf2
        |  FROM (SELECT doc_id, idx, regexp_extract_all(chunk, '\S+') ts
        |        FROM c)),
        |st AS (SELECT CAST(count(*) AS DOUBLE) n, sum(dl) sumdl,
        |    CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) df1,
        |    CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) df2
        |  FROM f)
        |SELECT chunk_id, CAST(dl AS BIGINT) AS dl, round(
        |    ln(1 + (n - df1 + 0.5) / (df1 + 0.5)) * (tf1 * (1.2 + 1))
        |      / (tf1 + 1.2 * (0.25 + 0.75 * dl / (sumdl / n)))
        |  + ln(1 + (n - df2 + 0.5) / (df2 + 0.5)) * (tf2 * (1.2 + 1))
        |      / (tf2 + 1.2 * (0.25 + 0.75 * dl / (sumdl / n))), 6) AS score
        |FROM f, st
        |WHERE tf1 > 0 OR tf2 > 0
        |ORDER BY score DESC, chunk_id LIMIT 20""".stripMargin,
    "q_extract" ->
      """WITH raw AS (SELECT doc_id,
        |  '<div>' || replace(text, 'a', 'a' || chr(769)) || '</div>' AS h
        |  FROM documents),
        |c AS (SELECT doc_id, regexp_replace(nfc_normalize(trim(regexp_replace(
        |  replace(replace(replace(replace(replace(
        |    regexp_replace(h, '<[^>]*>', ' ', 'g'),
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |    '&#39;', chr(39)), '&amp;', '&'),
        |  '\s+', ' ', 'g'))),
        |  '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g') AS clean FROM raw)
        |SELECT doc_id,
        |       len(regexp_extract_all(clean, '\S+'))::BIGINT AS n_tokens,
        |       length(clean)::BIGINT AS n_chars, md5(clean) AS clean_md5
        |FROM c""".stripMargin,
    "q_nfc_normalize" ->
      """WITH raw AS (SELECT doc_id,
        |  replace(replace(text, 'a', 'a' || chr(769)), 'e', 'e' || chr(7)) dtxt
        |  FROM documents),
        |n AS (SELECT doc_id, dtxt,
        |  regexp_replace(nfc_normalize(dtxt),
        |    '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g') norm FROM raw)
        |SELECT doc_id, length(dtxt)::BIGINT AS n_raw,
        |       length(norm)::BIGINT AS n_norm, md5(norm) AS norm_md5
        |FROM n""".stripMargin,
    "q_decontam_13g" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(ts) >= 13 THEN list_transform(generate_series(1, len(ts) - 12), i -> array_to_string(ts[i:i+12], ' ')) ELSE [] END) s FROM toks),
        |ev0 AS (SELECT CAST(doc_id % 2 AS INTEGER) eval_set, unnest(s) g FROM sh WHERE doc_id % 5 = 0),
        |ev AS (SELECT DISTINCT eval_set, g FROM ev0),
        |tr AS (SELECT doc_id, unnest(s) g FROM sh WHERE doc_id % 5 <> 0)
        |SELECT doc_id, eval_set, CAST(count(*) AS BIGINT) AS n_shared
        |FROM tr JOIN ev USING (g) GROUP BY 1, 2 HAVING count(*) >= 1""".stripMargin)

  // The bloom pass is lossless: identical oracle to the plain form.
  // q_cluster_pack replays the fitted k-means assignment (the shared
  // R9 CTE chain), joins token counts, and packs with the same
  // within-group prefix-sum arithmetic as q_bucket_pack.
  val oracles: Map[String, String] = oraclesBase +
    ("q_decontam_13g_bloom" -> oraclesBase("q_decontam_13g")) +
    // Exact cross-corpus >= 0.8 pair count (the recall denominator);
    // the recall verdict itself is driver-gated TRUE, like
    // q_minhash_recall.
    ("q_index_recall" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(ts) >= 3 THEN list_transform(generate_series(1, len(ts) - 2), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) ELSE [] END) s FROM toks),
        |b AS (SELECT * FROM sh WHERE doc_id % 3 <> 0 AND len(s) > 0),
        |r AS (SELECT * FROM sh WHERE (doc_id % 3 = 0 OR doc_id < 10) AND len(s) > 0),
        |exb AS (SELECT doc_id, unnest(s) g FROM b),
        |exr AS (SELECT doc_id, unnest(s) g FROM r),
        |cnb AS (SELECT doc_id, len(s) n FROM b),
        |cnr AS (SELECT doc_id, len(s) n FROM r),
        |cand AS (SELECT a.doc_id ia, c.doc_id ib, count(*) common
        |         FROM exb a JOIN exr c ON a.g = c.g GROUP BY 1, 2)
        |SELECT count(*)::BIGINT AS n_exact, TRUE AS recall_ok FROM (
        |  SELECT round(common * 1.0 / (ca.n + cb.n - common), 6) AS jaccard
        |  FROM cand JOIN cnb ca ON ia = ca.doc_id JOIN cnr cb ON ib = cb.doc_id)
        |WHERE jaccard >= 0.8""".stripMargin) +
    ("q_cluster_pack" ->
      s"""WITH a AS (
         |${QueriesR9.kmeansOracle(QueriesR9.KmeansK, QueriesR9.KmeansIters)}
         |),
         |n AS (SELECT doc_id, CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) n FROM documents),
         |j AS (SELECT a.vec_id AS doc_id, CAST(a.cluster AS INTEGER) AS cluster, n.n
         |      FROM a JOIN n ON a.vec_id = n.doc_id),
         |c AS (SELECT doc_id, cluster, n,
         |        sum(n) OVER (PARTITION BY cluster ORDER BY doc_id) - n AS cb FROM j)
         |SELECT doc_id, cluster, n,
         |  CAST(cb // 256 AS BIGINT) AS bin,
         |  CAST(cb % 256 AS BIGINT) AS bin_offset
         |FROM c""".stripMargin)
}
