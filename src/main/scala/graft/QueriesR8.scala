package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Sources.table

/** Round-8 corpus queries: the learned quality-classifier stage
  * ([[operators.QualityModel]]) — a model-based filter fit on a weak
  * label, gated the recall-companion way: the Spark side computes the
  * generalization verdict (holdout agreement ≥ threshold) as a boolean,
  * the oracle pins the exact deterministic parts (corpus count, md5
  * holdout count) plus the expected-true verdict — plus the incremental
  * dedup pair (exact + bloom-prefiltered), RefinedWeb boilerplate
  * strip, interpolated bigram-LM scoring, and the Gopher top-token
  * rule, all fully oracle-gated — and the [[operators.Curation]]
  * family (filter-funnel attrition, curriculum sampling, deterministic
  * shuffle order, token-budget selection), all exact hash/integer
  * arithmetic with full DuckDB oracles.
  */
object QueriesR8 {

  /** Same deterministic eval split as QueriesR7's q_decontam: every
    * 97th doc id forms the held-out eval pool. */
  private val evalMod = 97

  /** Weak label the classifier must learn: stopword-ratio ≥ 0.06 (the
    * corpus median — balanced ~50/50 at every SF, and genuinely
    * learnable from hashed token counts: the stopword hash buckets ARE
    * the signal, so holdout agreement well above the 0.5 majority
    * baseline demonstrates real generalization, not label echo). */
  private def weakLabel: org.apache.spark.sql.Column = {
    val toks = operators.TextAnalysis.tokens(col("text"))
    val stops = size(filter(toks,
      tk => tk.isInCollection(operators.TextAnalysis.StopwordsEn)))
    stops.cast("double") / size(toks) >= 0.06
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- learned quality classifier, gated on holdout generalization:
    //     LR over hashed bag-of-tokens must agree with the weak label
    //     on ≥ 75% of held-out docs (majority baseline ~50%). Scores
    //     themselves are engine-specific (LBFGS float accumulation);
    //     the gate is the portable contract. ---
    "q_quality_model" -> { (s, d) =>
      val scored = operators.QualityModel.fitScore(
        table(s, d, "documents"), "doc_id", "text", weakLabel)
      val holdN = count(when(col("holdout"), 1))
      scored.agg(
        count(lit(1)).as("n_docs"),
        holdN.as("n_holdout"),
        ((count(when(col("holdout") &&
          col("predicted") === col("weak_label"), 1)).cast("double") /
          holdN) >= 0.75).as("agree_ok"))
    },
    // --- incremental (cross-snapshot) dedup: today's batch anti-joined
    //     on content digest against the already-ingested reference —
    //     the recrawl staple that never re-shuffles the historical
    //     corpus. Reference = every 3rd doc PLUS docs 0-9 (re-ingested
    //     content), so the drop is observable: batch docs 1,2,4,5,7,8
    //     share exact text with the reference and must vanish. ---
    "q_dedup_incremental" -> { (s, d) =>
      val docs = table(s, d, "documents")
      operators.Dedup.dedupAgainstReference(
        batch = docs.filter(col("doc_id") % 3 =!= 0),
        reference = docs.filter(col("doc_id") % 3 === 0 || col("doc_id") < 10),
        textCol = "text",
        refTextCol = "text")
        .select("doc_id", "source", "n_chars")
    },
    // --- bloom-prefiltered incremental dedup: same contract as
    //     q_dedup_incremental (same oracle — the bloom pass is provably
    //     lossless), but batch rows missing the broadcast bloom skip
    //     the anti-join exchange entirely — the steady-state recrawl
    //     shape where the reference dwarfs the batch. ---
    "q_dedup_incremental_bloom" -> { (s, d) =>
      val docs = table(s, d, "documents")
      operators.Dedup.dedupAgainstReferenceBloom(
        batch = docs.filter(col("doc_id") % 3 =!= 0),
        reference = docs.filter(col("doc_id") % 3 === 0 || col("doc_id") < 10),
        textCol = "text",
        refTextCol = "text",
        expectedItems = 100000L)
        .select("doc_id", "source", "n_chars")
    },
    // --- incremental NEAR-dup dedup: batch rows near-duplicating
    //     (exact 3-shingle Jaccard >= 0.8) ANY reference doc are
    //     dropped — the fuzzy companion to q_dedup_incremental (a
    //     recrawled page with one changed word survives exact-digest
    //     dedup; it must not survive this). Exact cross-corpus pair
    //     operator so the oracle provably matches; at scale feed the
    //     anti join banded-MinHash candidates instead. ---
    "q_dedup_incremental_near" -> { (s, d) =>
      val docs = table(s, d, "documents")
      operators.Dedup.nearDupAgainstReference(
        batch = docs.filter(col("doc_id") % 3 =!= 0),
        reference = docs.filter(col("doc_id") % 3 === 0 || col("doc_id") < 10),
        idCol = "doc_id", textCol = "text", k = 3, threshold = 0.8)
        .select("doc_id", "source", "n_chars")
    },
    // --- RefinedWeb-style boilerplate strip: EVERY occurrence of any
    //     3-word chunk appearing in > 2 distinct docs is removed (vs
    //     q_chunk_dedup's keep-first). Hot set broadcasts; corpus text
    //     never shuffles for the removal itself. ---
    "q_boilerplate_strip" -> { (s, d) =>
      operators.SubstringDedup.stripFrequentChunks(
        table(s, d, "documents"), "doc_id", "text", w = 3, maxDf = 2)
    },
    // --- interpolated corpus-bigram LM score: the perplexity-proxy
    //     quality filter one step up from q_unigram_lm; λ = 0.75 with
    //     unigram interpolation floor, self-scored on the corpus. ---
    "q_bigram_lm" -> { (s, d) =>
      operators.TextAnalysis.bigramLogProbs(
        table(s, d, "documents"), "doc_id", "text", lambda = 0.75)
    },
    // --- Gopher-style top-token concentration: most frequent token per
    //     doc (deterministic lexicographic tie-break) and its fraction
    //     — row-local fold, no shuffle. ---
    "q_top_token" -> { (s, d) =>
      table(s, d, "documents").select(
        col("doc_id") +:
          operators.TextAnalysis.topTokenFraction(col("text")): _*)
    },
    // --- filter-chain attrition report: per-stage rows_in/rows_out for
    //     an ORDERED curation funnel, from ONE corpus scan (first
    //     failing stage per row -> <= k+1 partial-agg counts -> tiny
    //     broadcast join against the literal stage table). ---
    "q_funnel" -> { (s, d) =>
      operators.Curation.filterFunnel(table(s, d, "documents"), Seq(
        "min_len" -> (col("n_chars") >= 100),
        "lang" -> (col("lang") =!= "zh"),
        "min_toks" -> (operators.TextAnalysis.tokenCount(col("text")) >= 40)))
    },
    // --- quality-binned curriculum sampling: rank by n_chars (two-pass
    //     distributed prefix rank, never a single-task global window),
    //     quartile bins, md5-hash keep rates 25/50/75/100% — the
    //     deterministic curriculum-mix step. ---
    "q_curriculum" -> { (s, d) =>
      operators.Curation.curriculumSample(
        table(s, d, "documents").select("doc_id", "n_chars"),
        "doc_id", col("n_chars"), keepPerMille = Seq(250, 500, 750, 1000))
        .select("doc_id", "bin")
    },
    // --- deterministic global shuffle: training-order position under a
    //     seeded md5 permutation, assigned by the distributed prefix
    //     rank (row_number over a global ORDER BY is one window task). ---
    "q_shuffle_order" -> { (s, d) =>
      operators.Curation.shuffleOrder(
        table(s, d, "documents").select("doc_id"), "doc_id", seed = "s42")
        .select("doc_id", "pos")
    },
    // --- token-budget selection: greedy highest-n_chars docs while the
    //     running token total fits 12k — "the best B tokens", exact
    //     budget accounting via the descending-order prefix sum. ---
    "q_budget_select" -> { (s, d) =>
      val docs = table(s, d, "documents").select(
        col("doc_id"), col("n_chars"),
        operators.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      operators.Curation.budgetSelect(
        docs, "doc_id", "n_tokens", col("n_chars"), budget = 12000L)
        .select("doc_id", "n_tokens", "cum_tokens")
    },
    // --- snapshot diff: classify every id across two corpus snapshots
    //     as added/removed/changed/unchanged; both sides reduce to
    //     32-byte digests before the full outer join (text never
    //     shuffles — same contract as incremental dedup). Old snapshot
    //     lacks %7==0 docs (added), new lacks %5==3 (removed), %11==0
    //     text gains a ' v2' suffix (changed). ---
    "q_snapshot_diff" -> { (s, d) =>
      val docs = table(s, d, "documents")
      operators.Versioning.snapshotDiff(
        oldSnap = docs.filter(col("doc_id") % 7 =!= 0)
          .select("doc_id", "text"),
        newSnap = docs.filter(col("doc_id") % 5 =!= 3)
          .select(col("doc_id"),
            when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text")).as("text")),
        idCol = "doc_id", textCol = "text")
    },
    // --- sequence-packing offsets: shard + starting token offset per
    //     doc, the attention-boundary metadata for fixed-length
    //     training sequences — pure arithmetic on the distributed
    //     prefix sum. ---
    "q_pack_offsets" -> { (s, d) =>
      operators.Packing.tokenShardOffsets(
        table(s, d, "documents").select(col("doc_id"),
          operators.TextAnalysis.tokenCount(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", budget = 2048L)
        .select("doc_id", "n_tokens", "shard", "tok_offset")
    },
    // --- exact-count deterministic sample: the first 100 docs in
    //     seeded md5 order — TakeOrderedAndProject bounded heaps, never
    //     a global sort. ---
    "q_fixed_sample" -> { (s, d) =>
      operators.Curation.fixedSample(
        table(s, d, "documents").select("doc_id", "source"),
        "doc_id", n = 100, seed = "fs7")
    },
    // --- the cleaning pipeline's OWN gate attrition: which of the
    //     three quality-gate components (token band / TTR / avg token
    //     length, q_pipeline's exact parameters) drops what. ---
    "q_gate_funnel" -> { (s, d) =>
      operators.Pipeline.gateAttrition(table(s, d, "documents"), "text")
    },
    // --- cross-source duplication matrix: near-dup pair counts per
    //     unordered source pair — the provenance report over the exact
    //     Jaccard pairs (any pair set plugs in; banded at scale). ---
    "q_dup_matrix" -> { (s, d) =>
      val docs = table(s, d, "documents")
      operators.Dedup.dupGroupMatrix(
        docs,
        operators.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          k = 3, threshold = 0.8).select("id_a", "id_b"),
        "doc_id", "source")
    },
    // --- deterministic weighted upsampling: en ×2.5, zh ×0.3, rest ×1
    //     — fractional copies hash-selected, map-only fan-out. ---
    "q_upsample" -> { (s, d) =>
      val w = when(col("lang") === "en", 2.5)
        .when(col("lang") === "zh", 0.3).otherwise(1.0)
      operators.Curation.upsampleByWeight(
        table(s, d, "documents").select("doc_id", "lang"), "doc_id", w)
        .select("doc_id", "copy")
    },
    // --- language confusion matrix: declared `lang` × detected
    //     language-ID — the label-quality audit (how much of the
    //     corpus's language metadata does the heuristic contradict?).
    //     One scan + one tiny partial-agg shuffle. ---
    "q_lang_confusion" -> { (s, d) =>
      table(s, d, "documents")
        .select(col("lang"),
          operators.TextAnalysis.languageId(col("text")).as("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(count(lit(1)).as("n_docs"))
    },
    // --- near-dup similarity histogram: exact-Jaccard pair counts per
    //     0.05 bucket above 0.5 — the threshold-tuning report (where
    //     does the corpus's duplication mass sit?). Pure arithmetic on
    //     the pair operator's output. ---
    "q_dup_hist" -> { (s, d) =>
      operators.Dedup.ngramJaccardPairs(
        table(s, d, "documents"), "doc_id", "text", k = 3, threshold = 0.5)
        .select((floor(col("jaccard") * 20) / 20).as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_pairs"))
    },
    // --- per-benchmark decontamination: WHICH eval set leaked into
    //     which training doc (q_decontam pools all sets — it names the
    //     doc, not the benchmark). Eval (set, shingle) pairs broadcast;
    //     corpus scanned once; only (doc, set) HITS shuffle. ---
    "q_decontam_sets" -> { (s, d) =>
      val docs = table(s, d, "documents")
      operators.Decontaminate.ngramOverlapPerSet(
        train = docs.filter(col("doc_id") % evalMod =!= 0),
        eval = docs.filter(col("doc_id") % evalMod === 0)
          .withColumn("eval_set", (col("doc_id") % 2).cast("int")),
        idCol = "doc_id", textCol = "text", setCol = "eval_set",
        k = 3, minShared = 2)
    },
    // --- SemDeDup (Abbas et al. 2023): cluster-bounded semantic dedup.
    //     Cluster assignment is engine-specific (sampled k-means) ⇒
    //     rows-only; the recall companion below carries the gate. ---
    "q_semdedup" -> { (s, d) =>
      operators.Dedup.semanticDedup(
        table(s, d, "embeddings").select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", threshold = 0.45, nClusters = 8)
    },
    // --- SemDeDup quality companion: what fraction of the EXACT global
    //     cosine-≥-threshold pairs end up in one semantic-dedup
    //     component (the clustering's only loss is cross-cluster
    //     near-dups, so this measures exactly that miss rate). Exact
    //     side is DuckDB-reproducible; the gate is the portable
    //     contract. ---
    "q_semdedup_recall" -> { (s, d) =>
      val e = table(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val sem = operators.Dedup.semanticDedup(
        e, "vec_id", "embedding", threshold = 0.45, nClusters = 8)
      val comp = sem.select(col("rep"), col("vec_id"))
      // Co-component pairs: components are duplicate clusters, so the
      // within-component pair fan-out is bounded by the largest cluster.
      val coPairs = comp.as("x")
        .join(comp.as("y"),
          col("x.rep") === col("y.rep") && col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
      val exact = operators.Dedup.embeddingNearDupPairs(
        e, "vec_id", "embedding", threshold = 0.45, exact = true)
      operators.Quality.pairRecallCounts(exact, coPairs)
        .select(col("n_exact"),
          operators.Quality.recallOk(bps = 6000).as("recall_ok"))
    },
    // --- BPE merge learning (the TRAINING step, not tokenization):
    //     top-20 adjacent character pairs weighted by word frequency —
    //     the statistic the first BPE merge greedily maximizes. Pair
    //     explosion runs over the distinct-word vocabulary, not the
    //     corpus; fully oracle-gated. ---
    "q_bpe_merges" -> ((s, d) =>
      operators.Vocab.bpeMergePairs(table(s, d, "documents"), "text", topK = 20)),
    // --- power-of-two token-length histogram (sequence-bucket sizing);
    //     integer bucket = binary digit count, portable at 2^k edges ---
    "q_len_hist" -> ((s, d) =>
      operators.Vocab.lengthHistogram(table(s, d, "documents"), "text")),
    // --- vocabulary coverage curve: smallest freq-ranked vocab
    //     covering 50/75/90/99% of token occurrences; prefix sum via
    //     the two-pass distributed runningTotalBy, never a single-task
    //     global window ---
    "q_vocab_coverage" -> ((s, d) =>
      operators.Vocab.vocabCoverage(table(s, d, "documents"), "text")),
    // --- Zipf's-law fit: OLS slope of ln(count) vs ln(rank) over the
    //     frequency-ranked vocabulary — corpus-health statistic ---
    "q_zipf" -> ((s, d) =>
      operators.Vocab.zipfFit(table(s, d, "documents"), "text")),
    // --- rare-n-gram inverted index: posting lists for shingles with
    //     df <= 3 — contamination forensics; df filter runs before any
    //     posting list is materialized ---
    "q_rare_index" -> ((s, d) =>
      operators.Vocab.rareNgramIndex(
        table(s, d, "documents"), "doc_id", "text", k = 3, maxDf = 3)),
    // --- corpus data card: the one-scan overview a dataset release
    //     ships with (count-distinct pair is one Expand-based agg) ---
    "q_datacard" -> { (s, d) =>
      val nTok = operators.TextAnalysis.tokenCount(col("text"))
      table(s, d, "documents").agg(
        count(lit(1)).as("n_docs"),
        sum(nTok.cast("long")).as("n_tokens"),
        sum("n_chars").as("n_chars"),
        countDistinct("lang").as("n_langs"),
        countDistinct("source").as("n_sources"),
        round(avg(nTok), 4).as("avg_tokens"))
    },
    // --- join-key skew diagnostic on the power-law-ish events user_id:
    //     decides salting/AQE-skew before the key melts one reducer ---
    "q_key_skew" -> ((s, d) =>
      operators.Skew.keySkewReport(
        sources.Sources.events(s, d), "user_id")),
    // --- length-bucketed sequence packing: same-length docs fill
    //     fixed 256-token bins; within-bucket prefix sum via the
    //     global two-pass runningTotalBy minus broadcast bucket
    //     offsets (never a hot per-bucket window) ---
    "q_bucket_pack" -> ((s, d) =>
      operators.Packing.bucketedPack(
        table(s, d, "documents"), "doc_id",
        operators.TextAnalysis.tokenCount(col("text")), contextLen = 256)),
    // --- DSIR-style importance weighting: per-doc avg log-likelihood
    //     ratio of an in-domain (lang='en') unigram LM vs the
    //     whole-corpus LM — importance-based data selection without a
    //     pretrained model; fully exact count arithmetic ---
    "q_dsir" -> { (s, d) =>
      val docs = table(s, d, "documents")
      operators.Curation.importanceWeights(
        docs, docs.filter(col("lang") === "en"), "doc_id", "text")
    },
    // --- decontamination k-sweep: per-doc eval overlap at k=3,4,5 in
    //     ONE corpus scan (tagged-struct explode + broadcast pool) —
    //     the measurement that picks the production shingle size ---
    "q_decontam_sweep" -> { (s, d) =>
      val docs = table(s, d, "documents")
      operators.Decontaminate.ngramOverlapSweep(
        train = docs.filter(col("doc_id") % evalMod =!= 0),
        eval = docs.filter(col("doc_id") % evalMod === 0),
        idCol = "doc_id", textCol = "text", ks = Seq(3, 4, 5))
    },
    // --- Misra–Gries heavy hitters over the corpus token stream:
    //     at most k counters of state per group ever exist. Counter
    //     values (and which non-heavy items ride along) depend on
    //     partition merge order ⇒ rows-only; q_heavy_complete below is
    //     the driver-gated capture guarantee. ---
    "q_heavy_hitters" -> { (s, d) =>
      val toks = table(s, d, "documents")
        .select(explode(operators.TextAnalysis.tokens(col("text"))).as("tok"))
      toks
        .agg(functions.FreqSketch.freqSketch(col("tok"), 8).as("sk"))
        .select(explode(col("sk")).as("e"))
        .select(col("e.item").as("item"), col("e.count_lb").as("count_lb"))
    },
    // --- MG capture guarantee, oracle-gated: EVERY token with true
    //     frequency > N/(k+1) must appear in the sketch summary, and
    //     each reported lower bound must not exceed the true count ---
    "q_heavy_complete" -> { (s, d) =>
      val toks = table(s, d, "documents")
        .select(explode(operators.TextAnalysis.tokens(col("text"))).as("tok"))
      val sketch = toks
        .agg(functions.FreqSketch.freqSketch(col("tok"), 8).as("sk"))
        .select(explode(col("sk")).as("e"))
        .select(col("e.item").as("item"), col("e.count_lb").as("count_lb"))
      val exact = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      val total = toks.agg(count(lit(1)).as("n"))
      val heavy = exact.crossJoin(broadcast(total))
        .filter(col("c") * 9 > col("n")) // c > N/(k+1), exact integers
      // Sketch items are unique, so the left join cannot fan out heavy
      // rows; a heavy token with no sketch match leaves item NULL.
      val cap = heavy.join(sketch, col("tok") === col("item"), "left")
        .agg(
          count(lit(1)).as("n_heavy"),
          (count(col("item")) === count(lit(1))).as("all_captured"))
      val bounds = sketch.join(exact, col("item") === col("tok"))
        .agg((count(when(col("count_lb") > col("c"), 1)) === 0)
          .as("bounds_ok"))
      cap.crossJoin(bounds)
    },
    // --- edit-distance-verified near-dup pairs: posting-list Jaccard
    //     candidates, levenshtein verify on pairs only (never
    //     corpus×corpus) — the character-level measure set-Jaccard
    //     can't express ---
    "q_edit_pairs" -> ((s, d) =>
      operators.Dedup.editDistancePairs(
        table(s, d, "documents"), "doc_id", "text",
        k = 3, jaccardMin = 0.5, maxDist = 20)),
    // --- per-source data card: the q_datacard overview broken out by
    //     provenance source (what each crawl contributes to the mix) ---
    "q_datacard_by_source" -> { (s, d) =>
      val nTok = operators.TextAnalysis.tokenCount(col("text"))
      table(s, d, "documents")
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(nTok.cast("long")).as("n_tokens"),
          sum("n_chars").as("n_chars"),
          countDistinct("lang").as("n_langs"),
          round(avg(nTok), 4).as("avg_tokens"))
    }
  )

  val oracles: Map[String, String] = Map(
    "q_quality_model" ->
      """SELECT count(*) AS n_docs,
        |  count(*) FILTER (WHERE
        |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |      AS BIGINT) % 10000 AS INTEGER) % 4 = 0) AS n_holdout,
        |  TRUE AS agree_ok
        |FROM documents""".stripMargin,
    "q_dedup_incremental" ->
      """SELECT b.doc_id, b.source, b.n_chars
        |FROM documents b
        |WHERE b.doc_id % 3 <> 0
        |  AND NOT EXISTS (
        |    SELECT 1 FROM documents r
        |    WHERE (r.doc_id % 3 = 0 OR r.doc_id < 10)
        |      AND r.text = b.text)""".stripMargin,
    // Same oracle as q_dedup_incremental: the bloom pass is lossless.
    "q_dedup_incremental_bloom" ->
      """SELECT b.doc_id, b.source, b.n_chars
        |FROM documents b
        |WHERE b.doc_id % 3 <> 0
        |  AND NOT EXISTS (
        |    SELECT 1 FROM documents r
        |    WHERE (r.doc_id % 3 = 0 OR r.doc_id < 10)
        |      AND r.text = b.text)""".stripMargin,
    "q_dedup_incremental_near" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(ts) >= 3 THEN list_transform(generate_series(1, len(ts) - 2), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) ELSE [] END) s FROM toks),
        |a AS (SELECT doc_id, s FROM sh WHERE doc_id % 3 <> 0 AND len(s) > 0),
        |b AS (SELECT doc_id, s FROM sh WHERE (doc_id % 3 = 0 OR doc_id < 10) AND len(s) > 0),
        |exa AS (SELECT doc_id, unnest(s) g FROM a),
        |exb AS (SELECT doc_id, unnest(s) g FROM b),
        |cand AS (SELECT exa.doc_id ia, exb.doc_id ib, count(*) common
        |         FROM exa JOIN exb USING (g) GROUP BY 1, 2),
        |contaminated AS (
        |  SELECT DISTINCT ia FROM cand
        |  JOIN (SELECT doc_id, len(s) n FROM a) ca ON ia = ca.doc_id
        |  JOIN (SELECT doc_id, len(s) n FROM b) cb ON ib = cb.doc_id
        |  WHERE round(common * 1.0 / (ca.n + cb.n - common), 6) >= 0.8)
        |SELECT d.doc_id, d.source, d.n_chars FROM documents d
        |WHERE d.doc_id % 3 <> 0
        |  AND d.doc_id NOT IN (SELECT ia FROM contaminated)""".stripMargin,
    "q_boilerplate_strip" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') l FROM documents),
        |c AS (SELECT doc_id, unnest(list_transform(generate_series(0, CAST(ceil(len(l) / 3.0) AS INT) - 1), k -> {'idx': k, 'chunk': array_to_string(l[k*3+1 : k*3+3], ' ')}), recursive := true) FROM t),
        |hot AS (SELECT chunk FROM (SELECT chunk, count(DISTINCT doc_id) df FROM c GROUP BY 1) WHERE df > 2),
        |kept AS (SELECT doc_id, idx, chunk FROM c WHERE chunk NOT IN (SELECT chunk FROM hot)),
        |r AS (SELECT doc_id, count(*) n_kept, string_agg(chunk, ' ' ORDER BY idx) text_stripped
        |      FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, CAST(ceil(len(t.l) / 3.0) AS BIGINT) AS n_chunks,
        |       coalesce(r.n_kept, 0)::BIGINT AS n_kept,
        |       coalesce(r.text_stripped, '') AS text_stripped
        |FROM t LEFT JOIN r ON t.doc_id = r.doc_id""".stripMargin,
    "q_bigram_lm" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |base AS (SELECT doc_id, ts FROM t WHERE len(ts) >= 2),
        |big AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ts) - 1), i -> {'w1': ts[i], 'w2': ts[i+1]}), recursive := true) FROM base),
        |cb AS (SELECT w1, w2, count(*) cb FROM big GROUP BY 1, 2),
        |c1 AS (SELECT w1, sum(cb) c1 FROM cb GROUP BY 1),
        |toks AS (SELECT doc_id, unnest(ts) tok FROM t),
        |cu AS (SELECT tok, count(*) cu FROM toks GROUP BY 1),
        |tot AS (SELECT sum(cu) n FROM cu),
        |bterm AS (SELECT big.doc_id,
        |            ln(0.75 * (CAST(cb.cb AS DOUBLE) / CAST(c1.c1 AS DOUBLE))
        |             + 0.25 * (CAST(cu.cu AS DOUBLE) / CAST(tot.n AS DOUBLE))) term
        |          FROM big JOIN cb USING (w1, w2) JOIN c1 USING (w1)
        |          JOIN cu ON big.w2 = cu.tok CROSS JOIN tot),
        |bp AS (SELECT doc_id, sum(term) bsum, count(*) + 1 n_tok FROM bterm GROUP BY 1),
        |fp AS (SELECT base.doc_id,
        |         ln(CAST(cu.cu AS DOUBLE) / CAST(tot.n AS DOUBLE)) fterm
        |       FROM base JOIN cu ON base.ts[1] = cu.tok CROSS JOIN tot)
        |SELECT bp.doc_id, n_tok::BIGINT AS n_tok,
        |       round(fterm + bsum, 6) AS logprob,
        |       round((fterm + bsum) / n_tok, 6) AS avg_lp
        |FROM bp JOIN fp USING (doc_id)""".stripMargin,
    "q_top_token" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) tok FROM documents),
        |cnt AS (SELECT doc_id, tok, count(*) c FROM toks GROUP BY 1, 2),
        |tot AS (SELECT doc_id, count(*) n FROM toks GROUP BY 1),
        |best AS (SELECT doc_id, tok, c,
        |           row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, tok) rn
        |         FROM cnt)
        |SELECT b.doc_id, b.tok AS top_tok, b.c::BIGINT AS top_n,
        |       round(CAST(b.c AS DOUBLE) / tot.n, 6) AS top_frac
        |FROM best b JOIN tot USING (doc_id) WHERE b.rn = 1""".stripMargin,
    "q_funnel" ->
      """WITH f AS (SELECT CASE
        |    WHEN NOT coalesce(n_chars >= 100, false) THEN 0
        |    WHEN NOT coalesce(lang <> 'zh', false) THEN 1
        |    WHEN NOT coalesce(len(regexp_extract_all(text, '\S+')) >= 40, false) THEN 2
        |    ELSE 3 END AS fail FROM documents),
        |a AS (SELECT fail, count(*) AS c FROM f GROUP BY fail),
        |t AS (SELECT count(*) AS total FROM f),
        |s AS (SELECT * FROM (VALUES (0, 'min_len'), (1, 'lang'), (2, 'min_toks'))
        |      v(stage_idx, stage))
        |SELECT s.stage_idx, s.stage,
        |  CAST(t.total - coalesce((SELECT sum(c) FROM a WHERE fail < s.stage_idx), 0) AS BIGINT) AS rows_in,
        |  CAST(t.total - coalesce((SELECT sum(c) FROM a WHERE fail <= s.stage_idx), 0) AS BIGINT) AS rows_out
        |FROM s, t""".stripMargin,
    "q_curriculum" ->
      """WITH r AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS rk,
        |    count(*) OVER () AS n
        |  FROM documents),
        |b AS (SELECT doc_id, CAST((rk * 4) // n AS INTEGER) AS bin FROM r)
        |SELECT doc_id, bin FROM b
        |WHERE CAST(CAST(('0x' || substr(md5('cur:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 AS INTEGER)
        |  < (CASE bin WHEN 0 THEN 250 WHEN 1 THEN 500 WHEN 2 THEN 750 ELSE 1000 END) * 10""".stripMargin,
    "q_shuffle_order" ->
      """SELECT doc_id,
        |  CAST(row_number() OVER (
        |    ORDER BY md5('s42' || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS BIGINT) AS pos
        |FROM documents""".stripMargin,
    "q_budget_select" ->
      """WITH c AS (SELECT doc_id, n_chars,
        |    len(regexp_extract_all(text, '\S+')) AS n_tokens FROM documents),
        |r AS (SELECT doc_id, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY n_chars DESC, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum_tokens
        |  FROM c)
        |SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
        |       CAST(cum_tokens AS BIGINT) AS cum_tokens
        |FROM r WHERE cum_tokens <= 12000""".stripMargin,
    "q_snapshot_diff" ->
      """WITH o AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
        |n AS (SELECT doc_id,
        |        CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END AS text
        |      FROM documents WHERE doc_id % 5 <> 3)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.text = n.text THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""".stripMargin,
    "q_pack_offsets" ->
      """WITH c AS (SELECT doc_id,
        |    len(regexp_extract_all(text, '\S+')) AS n_tokens FROM documents),
        |r AS (SELECT doc_id, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM c)
        |SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
        |       CAST((cum - n_tokens) // 2048 AS BIGINT) AS shard,
        |       CAST((cum - n_tokens) % 2048 AS BIGINT) AS tok_offset
        |FROM r""".stripMargin,
    "q_fixed_sample" ->
      """SELECT doc_id, source FROM documents
        |ORDER BY md5('fs7' || CAST(doc_id AS VARCHAR)), doc_id
        |LIMIT 100""".stripMargin,
    "q_gate_funnel" ->
      """WITH tk AS (SELECT regexp_extract_all(text, '\S+') AS toks FROM documents),
        |f AS (SELECT CASE
        |    WHEN NOT coalesce(len(toks) BETWEEN 20 AND 500, false) THEN 0
        |    WHEN NOT coalesce(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= 0.15, false) THEN 1
        |    WHEN NOT coalesce(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) BETWEEN 2.0 AND 8.0, false) THEN 2
        |    ELSE 3 END AS fail FROM tk),
        |a AS (SELECT fail, count(*) AS c FROM f GROUP BY fail),
        |t AS (SELECT count(*) AS total FROM f),
        |s AS (SELECT * FROM (VALUES (0, 'tok_band'), (1, 'ttr'), (2, 'avg_token_len'))
        |      v(stage_idx, stage))
        |SELECT s.stage_idx, s.stage,
        |  CAST(t.total - coalesce((SELECT sum(c) FROM a WHERE fail < s.stage_idx), 0) AS BIGINT) AS rows_in,
        |  CAST(t.total - coalesce((SELECT sum(c) FROM a WHERE fail <= s.stage_idx), 0) AS BIGINT) AS rows_out
        |FROM s, t""".stripMargin,
    "q_dup_matrix" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(ts) >= 3 THEN list_transform(generate_series(1, len(ts) - 2), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) ELSE [] END) s FROM toks),
        |ex AS (SELECT doc_id, unnest(s) g FROM sh),
        |cnt AS (SELECT doc_id, len(s) n FROM sh),
        |cand AS (SELECT a.doc_id ia, b.doc_id ib, count(*) common FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT ia, ib FROM (
        |    SELECT ia, ib, round(common * 1.0 / (ca.n + cb.n - common), 6) AS jaccard
        |    FROM cand JOIN cnt ca ON ia = ca.doc_id JOIN cnt cb ON ib = cb.doc_id)
        |  WHERE jaccard >= 0.8),
        |lab AS (SELECT p.ia, p.ib, da.source sa, db.source sb
        |        FROM pairs p JOIN documents da ON p.ia = da.doc_id
        |        JOIN documents db ON p.ib = db.doc_id)
        |SELECT least(sa, sb) AS group_a, greatest(sa, sb) AS group_b,
        |       CAST(count(*) AS BIGINT) AS n_pairs
        |FROM lab GROUP BY 1, 2""".stripMargin,
    "q_upsample" ->
      """WITH w AS (SELECT doc_id,
        |    CASE WHEN lang = 'en' THEN 2.5 WHEN lang = 'zh' THEN 0.3
        |         ELSE 1.0 END AS wt,
        |    CAST(CAST(('0x' || substr(md5('up:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 AS INTEGER) AS bucket
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    CAST(floor(wt) + CASE WHEN bucket < (wt - floor(wt)) * 10000
        |      THEN 1 ELSE 0 END AS INTEGER) AS n_copies FROM w)
        |SELECT doc_id, CAST(copy AS INTEGER) AS copy
        |FROM c, LATERAL unnest(generate_series(1, n_copies)) AS u(copy)
        |WHERE n_copies > 0""".stripMargin,
    "q_lang_confusion" ->
      """WITH t AS (SELECT doc_id, lang, regexp_extract_all(text, '\S+') toks FROM documents),
        |sc AS (SELECT doc_id, lang,
        |  len(list_filter(toks, x -> x IN ('the','and','of','a'))) en,
        |  len(list_filter(toks, x -> x IN ('le','la','et','les'))) fr,
        |  len(list_filter(toks, x -> x IN ('der','und','die','das'))) de,
        |  len(list_filter(toks, x -> x IN ('el','y','los','las'))) es
        |FROM t),
        |p AS (SELECT lang, CASE
        |  WHEN en = greatest(en, fr, de, es) AND greatest(en, fr, de, es) > 0 THEN 'en'
        |  WHEN fr = greatest(en, fr, de, es) AND greatest(en, fr, de, es) > 0 THEN 'fr'
        |  WHEN de = greatest(en, fr, de, es) AND greatest(en, fr, de, es) > 0 THEN 'de'
        |  WHEN es = greatest(en, fr, de, es) AND greatest(en, fr, de, es) > 0 THEN 'es'
        |  ELSE 'und' END AS lang_pred
        |FROM sc)
        |SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n_docs
        |FROM p GROUP BY 1, 2""".stripMargin,
    "q_dup_hist" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(ts) >= 3 THEN list_transform(generate_series(1, len(ts) - 2), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) ELSE [] END) s FROM toks),
        |ex AS (SELECT doc_id, unnest(s) g FROM sh),
        |cnt AS (SELECT doc_id, len(s) n FROM sh),
        |cand AS (SELECT a.doc_id ia, b.doc_id ib, count(*) common FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |jac AS (SELECT round(common * 1.0 / (ca.n + cb.n - common), 6) AS jaccard
        |        FROM cand JOIN cnt ca ON ia = ca.doc_id JOIN cnt cb ON ib = cb.doc_id)
        |SELECT floor(jaccard * 20) / 20 AS bucket, CAST(count(*) AS BIGINT) AS n_pairs
        |FROM jac WHERE jaccard >= 0.5 GROUP BY 1""".stripMargin,
    "q_decontam_sets" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(ts) >= 3 THEN list_transform(generate_series(1, len(ts) - 2), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) ELSE [] END) s FROM toks),
        |ev0 AS (SELECT CAST(doc_id % 2 AS INTEGER) eval_set, unnest(s) g
        |        FROM sh WHERE doc_id % 97 = 0),
        |ev AS (SELECT DISTINCT eval_set, g FROM ev0),
        |tr AS (SELECT doc_id, unnest(s) g FROM sh WHERE doc_id % 97 <> 0)
        |SELECT doc_id, eval_set, CAST(count(*) AS BIGINT) AS n_shared
        |FROM tr JOIN ev USING (g) GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,
    "q_semdedup_recall" ->
      """SELECT count(*) AS n_exact, TRUE AS recall_ok FROM (
        |  SELECT a.vec_id, b.vec_id
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                                     CAST(b.embedding AS DOUBLE[])), 6) >= 0.45)""".stripMargin,
    "q_bpe_merges" ->
      """WITH words AS (SELECT unnest(regexp_extract_all(lower(text), '\p{L}+')) w FROM documents),
        |wc AS (SELECT w, count(*) c FROM words WHERE len(w) >= 2 GROUP BY 1),
        |pairs AS (SELECT c, unnest(list_transform(generate_series(1, len(w) - 1), i -> substr(w, i, 2))) pair FROM wc)
        |SELECT pair, CAST(sum(c) AS BIGINT) AS cnt FROM pairs GROUP BY 1
        |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin,
    "q_len_hist" ->
      """WITH n AS (SELECT len(regexp_extract_all(text, '\S+')) AS n FROM documents),
        |b AS (SELECT CAST(length(bin(CAST(n AS BIGINT))) AS INTEGER) bucket, n FROM n)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n) AS BIGINT) AS n_tokens,
        |       CAST(pow(2, bucket - 1) AS BIGINT) AS lo
        |FROM b GROUP BY 1""".stripMargin,
    "q_vocab_coverage" ->
      """WITH words AS (SELECT unnest(regexp_extract_all(lower(text), '\p{L}+')) w FROM documents),
        |wc AS (SELECT w, count(*) c FROM words GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) total FROM wc),
        |r AS (SELECT c, sum(c) OVER (ORDER BY c DESC, w) cum FROM wc),
        |t AS (SELECT CAST(unnest([0.5, 0.75, 0.9, 0.99]) AS DOUBLE) threshold)
        |SELECT threshold, CAST(count(*) AS BIGINT) AS vocab_size,
        |       round(max(CAST(cum AS DOUBLE) / total), 6) AS covered_frac
        |FROM r CROSS JOIN tot CROSS JOIN t
        |WHERE cum - c < threshold * total
        |GROUP BY 1""".stripMargin,
    "q_zipf" ->
      """WITH words AS (SELECT unnest(regexp_extract_all(lower(text), '\p{L}+')) w FROM documents),
        |wc AS (SELECT w, count(*) c FROM words GROUP BY 1),
        |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, w) rank FROM wc)
        |SELECT CAST(count(*) AS BIGINT) AS n_terms,
        |       round(regr_slope(ln(CAST(c AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 4) AS zipf_slope,
        |       round(regr_intercept(ln(CAST(c AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 4) AS zipf_intercept
        |FROM r""".stripMargin,
    "q_rare_index" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(ts) >= 3 THEN list_transform(generate_series(1, len(ts) - 2), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) ELSE [] END)) g FROM t),
        |d AS (SELECT g, count(*) df FROM sh GROUP BY 1)
        |SELECT sh.g AS gram, CAST(d.df AS BIGINT) AS df,
        |       string_agg(CAST(sh.doc_id AS VARCHAR), ' ' ORDER BY sh.doc_id) AS postings
        |FROM sh JOIN d USING (g) WHERE d.df <= 3 GROUP BY sh.g, d.df""".stripMargin,
    "q_datacard" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |  round(avg(len(regexp_extract_all(text, '\S+'))), 4) AS avg_tokens
        |FROM documents""".stripMargin,
    "q_key_skew" ->
      """WITH c AS (SELECT user_id, count(*) c FROM events GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(sum(c) AS BIGINT) AS n_rows,
        |  CAST(max(c) AS BIGINT) AS max_rows,
        |  round(quantile_cont(c, 0.99), 4) AS p99_rows,
        |  round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_share,
        |  round(CAST(max(c) AS DOUBLE) * count(*) / sum(c), 4) AS skew_ratio
        |FROM c""".stripMargin,
    "q_bucket_pack" ->
      """WITH n AS (SELECT doc_id, CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) n FROM documents),
        |b AS (SELECT doc_id, n, CAST(length(bin(n)) AS INTEGER) bucket FROM n),
        |c AS (SELECT doc_id, n, bucket,
        |        sum(n) OVER (PARTITION BY bucket ORDER BY doc_id) - n AS cb FROM b)
        |SELECT doc_id, bucket, n,
        |  CAST(cb // 256 AS BIGINT) AS bin,
        |  CAST(cb % 256 AS BIGINT) AS bin_offset
        |FROM c""".stripMargin,
    "q_dsir" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) tok FROM documents),
        |src AS (SELECT tok, count(*) cs FROM toks GROUP BY 1),
        |tgt AS (SELECT tok, count(*) ct FROM (
        |          SELECT unnest(string_split(text, ' ')) tok FROM documents WHERE lang = 'en') GROUP BY 1),
        |tot AS (SELECT (SELECT sum(cs) FROM src) ns, (SELECT count(*) FROM src) v,
        |               (SELECT coalesce(sum(ct), 0) FROM tgt) nt),
        |terms AS (SELECT toks.doc_id,
        |            ln((coalesce(tgt.ct, 0) + 1.0) / (CAST(tot.nt AS DOUBLE) + tot.v))
        |          - ln((src.cs + 1.0) / (CAST(tot.ns AS DOUBLE) + tot.v)) AS d
        |          FROM toks JOIN src USING (tok) LEFT JOIN tgt USING (tok) CROSS JOIN tot)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        |       round(sum(d), 6) AS llr,
        |       round(sum(d) / count(*), 6) AS avg_llr
        |FROM terms GROUP BY 1""".stripMargin,
    "q_decontam_sweep" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |ks AS (SELECT unnest([3, 4, 5]) k),
        |sh AS (SELECT doc_id, k, unnest(list_distinct(CASE WHEN len(ts) >= k THEN list_transform(generate_series(1, len(ts) - k + 1), i -> array_to_string(ts[i:i+k-1], ' ')) ELSE [] END)) g
        |       FROM t CROSS JOIN ks),
        |ev AS (SELECT k, g, 1 hit FROM (SELECT DISTINCT k, g FROM sh WHERE doc_id % 97 = 0)),
        |tr AS (SELECT doc_id, k, g FROM sh WHERE doc_id % 97 <> 0)
        |SELECT tr.doc_id, tr.k, CAST(count(*) AS BIGINT) AS n_shingles,
        |       CAST(count(ev.hit) AS BIGINT) AS n_shared
        |FROM tr LEFT JOIN ev ON tr.k = ev.k AND tr.g = ev.g
        |GROUP BY 1, 2""".stripMargin,
    "q_heavy_complete" ->
      """WITH toks AS (SELECT unnest(regexp_extract_all(text, '\S+')) tok FROM documents),
        |c AS (SELECT tok, count(*) c FROM toks GROUP BY 1),
        |tot AS (SELECT count(*) n FROM toks)
        |SELECT CAST(count(*) AS BIGINT) AS n_heavy,
        |       TRUE AS all_captured, TRUE AS bounds_ok
        |FROM c CROSS JOIN tot WHERE c * 9 > n""".stripMargin,
    "q_edit_pairs" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(ts) >= 3 THEN list_transform(generate_series(1, len(ts) - 2), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) ELSE [] END) s FROM t),
        |ex AS (SELECT doc_id, unnest(s) g FROM sh),
        |cnt AS (SELECT doc_id, len(s) n FROM sh),
        |pairs AS (SELECT a.doc_id ia, b.doc_id ib, count(*) common FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |j AS (SELECT ia, ib, round(common * 1.0 / (ca.n + cb.n - common), 6) AS jaccard
        |      FROM pairs JOIN cnt ca ON ia = ca.doc_id JOIN cnt cb ON ib = cb.doc_id
        |      WHERE round(common * 1.0 / (ca.n + cb.n - common), 6) >= 0.5)
        |SELECT ia AS id_a, ib AS id_b, jaccard,
        |       CAST(levenshtein(ta.text, tb.text) AS INTEGER) AS edit_dist
        |FROM j JOIN t ta ON ia = ta.doc_id JOIN t tb ON ib = tb.doc_id
        |WHERE levenshtein(ta.text, tb.text) <= 20""".stripMargin,
    "q_datacard_by_source" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  round(avg(len(regexp_extract_all(text, '\S+'))), 4) AS avg_tokens
        |FROM documents GROUP BY 1""".stripMargin
  )
}
