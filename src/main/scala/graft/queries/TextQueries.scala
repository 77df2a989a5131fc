package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.TextAnalysis
import graft.sources.Sources.table

/** Text and tokenization: token counts, learned BPE (merges, apply,
  * fertility, packing), n-gram language models, vocabulary statistics,
  * TF-IDF and BM25 retrieval, language id, PII redaction, Unicode / markup
  * cleanup and RAG chunking.
  *
  * The ASCII fixture is already clean, so the cleanup queries inject
  * their markup, decomposed accents and control chars deterministically,
  * and both engines replay the identical injection.
  */
object TextQueries {

  private def bpeLearnOracle(rounds: Int): String = {
    val unions = (1 to rounds)
      .map(r => s"SELECT $r AS step, pa, pb, pa || pb AS merged, cnt FROM t$r")
      .mkString("\nUNION ALL ")
    s"WITH ${QueryParts.bpeCtes(rounds)}\n$unions"
  }

  /** Token counts from the BPE-apply replay, then the same
    * doc_id-ordered running-sum shard/offset arithmetic as
    * q_pack_offsets. */
  private def bpePackOracle(rounds: Int, budget: Int): String =
    s"""WITH base AS (${QueryParts.bpeApplyOracle(rounds)}),
       |r AS (SELECT doc_id, n_tokens,
       |    sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM base)
       |SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
       |       CAST((cum - n_tokens) // $budget AS BIGINT) AS shard,
       |       CAST((cum - n_tokens) % $budget AS BIGINT) AS tok_offset
       |FROM r""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // --- text analysis ---
    QuerySpec("q_token_count", ((s, d) =>
      table(s, d, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))),
      Sql(s"SELECT doc_id, CAST(len(${QueryParts.toksSql}) AS INTEGER) AS n_tokens FROM documents")),
    QuerySpec("q_token_bpe", ((s, d) =>
      table(s, d, "documents").select(col("doc_id"),
        TextAnalysis.bpeTokenCount(col("text")).as("n_bpe"))),
      Sql("""SELECT doc_id, CAST(len(regexp_extract_all(text, '\p{L}+|\p{N}+|[^\p{L}\p{N}\s]+')) AS INTEGER) AS n_bpe FROM documents""")),
    QuerySpec("q_lang_id", ((s, d) =>
      table(s, d, "documents").select(col("doc_id"),
        TextAnalysis.languageId(col("text")).as("lang_pred"))),
      Sql(s"""WITH t AS (SELECT doc_id, ${QueryParts.toksSql} toks FROM documents),
         |sc AS (SELECT doc_id,
         |  len(list_filter(toks, x -> x IN ('the','and','of','a'))) en,
         |  len(list_filter(toks, x -> x IN ('le','la','et','les'))) fr,
         |  len(list_filter(toks, x -> x IN ('der','und','die','das'))) de,
         |  len(list_filter(toks, x -> x IN ('el','y','los','las'))) es
         |FROM t)
         |SELECT doc_id, CASE
         |  WHEN en = greatest(en, fr, de, es) AND greatest(en, fr, de, es) > 0 THEN 'en'
         |  WHEN fr = greatest(en, fr, de, es) AND greatest(en, fr, de, es) > 0 THEN 'fr'
         |  WHEN de = greatest(en, fr, de, es) AND greatest(en, fr, de, es) > 0 THEN 'de'
         |  WHEN es = greatest(en, fr, de, es) AND greatest(en, fr, de, es) > 0 THEN 'es'
         |  ELSE 'und' END AS lang_pred
         |FROM sc""".stripMargin)),
    // --- PII-style redaction (digit runs masked) — training-data scrub ---
    QuerySpec("q_redact", ((s, d) =>
      table(s, d, "documents")
        .select(col("doc_id"),
          substring(regexp_replace(col("text"), "[0-9]+", "#"), 1, 80)
            .as("red"))),
      Sql("""SELECT doc_id,
        |  substr(regexp_replace(text, '[0-9]+', '#', 'g'), 1, 80) AS red
        |FROM documents""".stripMargin)),
    // --- corpus-unigram LM score (cheap perplexity-proxy quality signal) ---
    QuerySpec("q_unigram_lm", ((s, d) =>
      operators.TextAnalysis.unigramLogProbs(
        table(s, d, "documents"), "doc_id", "text")),
      Sql("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |freq AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
        |tot AS (SELECT sum(c) AS n FROM freq)
        |SELECT t.doc_id, count(*) AS n_tok,
        |  round(sum(ln(CAST(f.c AS DOUBLE) / CAST(tot.n AS DOUBLE))), 6) AS logprob,
        |  round(sum(ln(CAST(f.c AS DOUBLE) / CAST(tot.n AS DOUBLE))) / count(*), 6) AS avg_lp
        |FROM toks t JOIN freq f USING (tok) CROSS JOIN tot
        |GROUP BY t.doc_id""".stripMargin)),
    // --- TF-IDF top-5 terms per doc: keyword extraction over the
    //     corpus's own document frequencies; ranked on the ROUNDED score
    //     with term tiebreak so both engines rank identically. ---
    QuerySpec("q_tfidf", { (s, d) =>
      operators.TextAnalysis
        .tfIdfTopTerms(table(s, d, "documents"), "doc_id", "text", topK = 5)
        .select("doc_id", "term", "tfidf")
    },
      Sql("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) tf FROM toks WHERE term <> '' GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) n FROM documents),
        |scored AS (SELECT doc_id, term, round(tf * ln((n + 1.0) / (df + 1)), 6) tfidf
        |           FROM tf JOIN dfreq USING (term) CROSS JOIN n)
        |SELECT doc_id, term, tfidf FROM (
        |  SELECT doc_id, term, tfidf,
        |         row_number() OVER (PARTITION BY doc_id
        |                            ORDER BY tfidf DESC, term) rn
        |  FROM scored)
        |WHERE rn <= 5""".stripMargin)),
    // --- boilerplate phrase mining: top-20 most frequent 3-word
    //     shingles corpus-wide. One shuffle (partial-agg counts) and a
    //     TakeOrderedAndProject top-N — never a global sort. ---
    QuerySpec("q_top_phrases", { (s, d) =>
      operators.TextAnalysis.topPhrases(
        table(s, d, "documents"), "text", k = 3, topN = 20)
    },
      Sql("""WITH toks AS (SELECT string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT unnest(list_transform(generate_series(1, len(ts) - 2), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) phrase FROM toks WHERE len(ts) >= 3)
        |SELECT phrase, count(*)::BIGINT AS n FROM sh GROUP BY 1
        |ORDER BY n DESC, phrase LIMIT 20""".stripMargin)),
    // --- RefinedWeb-style boilerplate strip: EVERY occurrence of any
    //     3-word chunk appearing in > 2 distinct docs is removed (vs
    //     q_chunk_dedup's keep-first). Hot set broadcasts; corpus text
    //     never shuffles for the removal itself. ---
    QuerySpec("q_boilerplate_strip", { (s, d) =>
      operators.SubstringDedup.stripFrequentChunks(
        table(s, d, "documents"), "doc_id", "text", w = 3, maxDf = 2)
    },
      Sql("""WITH t AS (SELECT doc_id, string_split(text, ' ') l FROM documents),
        |c AS (SELECT doc_id, unnest(list_transform(generate_series(0, CAST(ceil(len(l) / 3.0) AS INT) - 1), k -> {'idx': k, 'chunk': array_to_string(l[k*3+1 : k*3+3], ' ')}), recursive := true) FROM t),
        |hot AS (SELECT chunk FROM (SELECT chunk, count(DISTINCT doc_id) df FROM c GROUP BY 1) WHERE df > 2),
        |kept AS (SELECT doc_id, idx, chunk FROM c WHERE chunk NOT IN (SELECT chunk FROM hot)),
        |r AS (SELECT doc_id, count(*) n_kept, string_agg(chunk, ' ' ORDER BY idx) text_stripped
        |      FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, CAST(ceil(len(t.l) / 3.0) AS BIGINT) AS n_chunks,
        |       coalesce(r.n_kept, 0)::BIGINT AS n_kept,
        |       coalesce(r.text_stripped, '') AS text_stripped
        |FROM t LEFT JOIN r ON t.doc_id = r.doc_id""".stripMargin)),
    // --- interpolated corpus-bigram LM score: the perplexity-proxy
    //     quality filter one step up from q_unigram_lm; λ = 0.75 with
    //     unigram interpolation floor, self-scored on the corpus. ---
    QuerySpec("q_bigram_lm", { (s, d) =>
      operators.TextAnalysis.bigramLogProbs(
        table(s, d, "documents"), "doc_id", "text", lambda = 0.75)
    },
      Sql("""WITH t AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
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
        |FROM bp JOIN fp USING (doc_id)""".stripMargin)),
    // --- Gopher-style top-token concentration: most frequent token per
    //     doc (deterministic lexicographic tie-break) and its fraction
    //     — row-local fold, no shuffle. ---
    QuerySpec("q_top_token", { (s, d) =>
      table(s, d, "documents").select(
        col("doc_id") +:
          operators.TextAnalysis.topTokenFraction(col("text")): _*)
    },
      Sql("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) tok FROM documents),
        |cnt AS (SELECT doc_id, tok, count(*) c FROM toks GROUP BY 1, 2),
        |tot AS (SELECT doc_id, count(*) n FROM toks GROUP BY 1),
        |best AS (SELECT doc_id, tok, c,
        |           row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, tok) rn
        |         FROM cnt)
        |SELECT b.doc_id, b.tok AS top_tok, b.c::BIGINT AS top_n,
        |       round(CAST(b.c AS DOUBLE) / tot.n, 6) AS top_frac
        |FROM best b JOIN tot USING (doc_id) WHERE b.rn = 1""".stripMargin)),
    // --- BPE merge learning (the TRAINING step, not tokenization):
    //     top-20 adjacent character pairs weighted by word frequency —
    //     the statistic the first BPE merge greedily maximizes. Pair
    //     explosion runs over the distinct-word vocabulary, not the
    //     corpus; fully oracle-gated. ---
    QuerySpec("q_bpe_merges", ((s, d) =>
      operators.Vocab.bpeMergePairs(table(s, d, "documents"), "text", topK = 20)),
      Sql("""WITH words AS (SELECT unnest(regexp_extract_all(lower(text), '\p{L}+')) w FROM documents),
        |wc AS (SELECT w, count(*) c FROM words WHERE len(w) >= 2 GROUP BY 1),
        |pairs AS (SELECT c, unnest(list_transform(generate_series(1, len(w) - 1), i -> substr(w, i, 2))) pair FROM wc)
        |SELECT pair, CAST(sum(c) AS BIGINT) AS cnt FROM pairs GROUP BY 1
        |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin)),
    // --- power-of-two token-length histogram (sequence-bucket sizing);
    //     integer bucket = binary digit count, portable at 2^k edges ---
    QuerySpec("q_len_hist", ((s, d) =>
      operators.Vocab.lengthHistogram(table(s, d, "documents"), "text")),
      Sql("""WITH n AS (SELECT len(regexp_extract_all(text, '\S+')) AS n FROM documents),
        |b AS (SELECT CAST(length(bin(CAST(n AS BIGINT))) AS INTEGER) bucket, n FROM n)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n) AS BIGINT) AS n_tokens,
        |       CAST(pow(2, bucket - 1) AS BIGINT) AS lo
        |FROM b GROUP BY 1""".stripMargin)),
    // --- vocabulary coverage curve: smallest freq-ranked vocab
    //     covering 50/75/90/99% of token occurrences; prefix sum via
    //     the two-pass distributed runningTotalBy, never a single-task
    //     global window ---
    QuerySpec("q_vocab_coverage", ((s, d) =>
      operators.Vocab.vocabCoverage(table(s, d, "documents"), "text")),
      Sql("""WITH words AS (SELECT unnest(regexp_extract_all(lower(text), '\p{L}+')) w FROM documents),
        |wc AS (SELECT w, count(*) c FROM words GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) total FROM wc),
        |r AS (SELECT c, sum(c) OVER (ORDER BY c DESC, w) cum FROM wc),
        |t AS (SELECT CAST(unnest([0.5, 0.75, 0.9, 0.99]) AS DOUBLE) threshold)
        |SELECT threshold, CAST(count(*) AS BIGINT) AS vocab_size,
        |       round(max(CAST(cum AS DOUBLE) / total), 6) AS covered_frac
        |FROM r CROSS JOIN tot CROSS JOIN t
        |WHERE cum - c < threshold * total
        |GROUP BY 1""".stripMargin)),
    // --- Zipf's-law fit: OLS slope of ln(count) vs ln(rank) over the
    //     frequency-ranked vocabulary — corpus-health statistic ---
    QuerySpec("q_zipf", ((s, d) =>
      operators.Vocab.zipfFit(table(s, d, "documents"), "text")),
      Sql("""WITH words AS (SELECT unnest(regexp_extract_all(lower(text), '\p{L}+')) w FROM documents),
        |wc AS (SELECT w, count(*) c FROM words GROUP BY 1),
        |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, w) rank FROM wc)
        |SELECT CAST(count(*) AS BIGINT) AS n_terms,
        |       round(regr_slope(ln(CAST(c AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 4) AS zipf_slope,
        |       round(regr_intercept(ln(CAST(c AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 4) AS zipf_intercept
        |FROM r""".stripMargin)),
    // --- rare-n-gram inverted index: posting lists for shingles with
    //     df <= 3 — contamination forensics; df filter runs before any
    //     posting list is materialized ---
    QuerySpec("q_rare_index", ((s, d) =>
      operators.Vocab.rareNgramIndex(
        table(s, d, "documents"), "doc_id", "text", k = 3, maxDf = 3)),
      Sql("""WITH t AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(ts) >= 3 THEN list_transform(generate_series(1, len(ts) - 2), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) ELSE [] END)) g FROM t),
        |d AS (SELECT g, count(*) df FROM sh GROUP BY 1)
        |SELECT sh.g AS gram, CAST(d.df AS BIGINT) AS df,
        |       string_agg(CAST(sh.doc_id AS VARCHAR), ' ' ORDER BY sh.doc_id) AS postings
        |FROM sh JOIN d USING (g) WHERE d.df <= 3 GROUP BY sh.g, d.df""".stripMargin)),
    // --- iterated BPE merge learning: 5 greedy rounds over the
    //     vocab (pair explosion is vocab-sized, never corpus-sized);
    //     the oracle replays the identical rounds unrolled ---
    QuerySpec("q_bpe_learn", ((s, d) =>
      operators.Vocab.learnBpeMerges(table(s, d, "documents"), "text", QueryParts.BpeRounds)),
      Sql(bpeLearnOracle(QueryParts.BpeRounds))),
    // --- apply the LEARNED merges to every document: map-only replace
    //     chain per word, full subword sequence + count per doc — the
    //     token counts the packing operators consume ---
    QuerySpec("q_bpe_apply", { (s, d) =>
      val merges = operators.Vocab.learnedMerges(table(s, d, "documents"), "text", QueryParts.BpeRounds)
      operators.Vocab.tokenizeWithMerges(table(s, d, "documents"), "doc_id", "text", merges)
    },
      Sql(QueryParts.bpeApplyOracle(QueryParts.BpeRounds))),
    // --- sequence packing driven by the LEARNED tokenizer's counts:
    //     tokenizeWithMerges -> tokenShardOffsets, closing the loop
    //     from tokenizer design to context-window packing ---
    QuerySpec("q_pack_bpe", { (s, d) =>
      val merges = operators.Vocab.learnedMerges(table(s, d, "documents"), "text", QueryParts.BpeRounds)
      val counted = operators.Vocab
        .tokenizeWithMerges(table(s, d, "documents"), "doc_id", "text", merges)
        .select(col("doc_id"), col("n_tokens"))
      operators.Packing.tokenShardOffsets(counted, "doc_id", "n_tokens", 2048L)
    },
      Sql(bpePackOracle(QueryParts.BpeRounds, 2048))),
    // --- per-source tokenizer fertility (subword tokens per word under
    //     the LEARNED merges): the standard tokenizer-evaluation metric
    //     — a source tokenizing at 2× the corpus fertility pays 2× the
    //     context budget. One tokenize projection + one tiny group agg ---
    QuerySpec("q_bpe_fertility", { (s, d) =>
      val dd = table(s, d, "documents")
      val merges = operators.Vocab.learnedMerges(dd, "text", QueryParts.BpeRounds)
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
      // Fertility replay off the BPE-apply CTEs; same word regex as the
      // tokenizer, exact integer sums, one rounded division.
      Sql(s"""WITH tokall AS (${QueryParts.bpeApplyOracle(QueryParts.BpeRounds)}),
         |w AS (SELECT doc_id, source,
         |    len(regexp_extract_all(lower(text), '\\p{L}+')) nw
         |  FROM documents)
         |SELECT w.source,
         |  CAST(sum(t.n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(w.nw) AS BIGINT) AS n_words,
         |  round(CAST(sum(t.n_tokens) AS DOUBLE) / CAST(sum(w.nw) AS DOUBLE), 6)
         |    AS fertility
         |FROM tokall t JOIN w USING (doc_id)
         |GROUP BY 1""".stripMargin)),
    // --- top drifted words between recrawl snapshots (same synthetic
    //     old/new split as q_snapshot_diff) ---
    QuerySpec("q_vocab_drift", { (s, d) =>
      val dd = table(s, d, "documents")
      operators.Versioning.vocabDrift(
        oldSnap = dd.filter(col("doc_id") % 7 =!= 0).select("text"),
        newSnap = dd.filter(col("doc_id") % 5 =!= 3)
          .select(when(col("doc_id") % 11 === 0,
            concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text")),
        textCol = "text")
    },
      // Same old/new split as q_snapshot_diff; rank on the ROUNDED shift
      // with the word as tiebreak, exactly as the Spark side orders.
      Sql("""WITH o AS (
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
        |ORDER BY shift DESC, word LIMIT 20""".stripMargin)),
    // --- BM25 keyword retrieval: two corpus scans, ONE stats row on
    //     the wire, top-k via TakeOrderedAndProject ---
    QuerySpec("q_bm25", ((s, d) =>
      operators.Retrieval.bm25(
        table(s, d, "documents"), "doc_id", "text", Seq("spark", "window", "vector"))),
      // Same Okapi/Lucene arithmetic in the same evaluation order:
      // (1.2 + 1) and 1.2 mirror the Scala-side k1+1 / k1 doubles, avgdl
      // is sum/count in both, terms summed in the literal order.
      Sql("""WITH f AS (
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
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),
    // --- batch BM25: queries as DATA (qid, term rows) — inverted-index
    //     shape restricted to the query vocabulary; one corpus scan,
    //     match-sized shuffle, GroupedTopK per qid ---
    QuerySpec("q_bm25_batch", { (s, d) =>
      import s.implicits._
      val qs = Seq(
        (1L, "spark"), (1L, "join"), (2L, "window"), (2L, "vector"),
        (3L, "merge")).toDF("qid", "term")
      operators.Retrieval.bm25Batch(
        table(s, d, "documents"), "doc_id", "text", qs, "qid", "term")
    },
      // Same per-term Okapi arithmetic as q_bm25 (the (1.2 + 1) literal
      // mirrors the Scala double), per-(qid, doc) sum rounded AFTER
      // summation, row_number cut on (score desc, doc_id).
      Sql("""WITH q(qid, term) AS (VALUES (1, 'spark'), (1, 'join'),
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
        |WHERE rn <= 10""".stripMargin)),
    // --- PII scrub over deterministically injected PII (the testdata
    //     corpus is synthetic words, so the query plants emails/IPs/SSNs
    //     as a function of doc_id, then redacts them) ---
    QuerySpec("q_pii_scrub", { (s, d) =>
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
    },
      // Identical RE2-compatible ruleset and redaction order; counts on
      // the original text, md5 over the redacted UTF-8 bytes.
      Sql("""WITH inj AS (SELECT doc_id,
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
        |FROM inj""".stripMargin)),
    // --- Unicode cleanup: NFC composition (native expression, ASCII
    //     fast path) + control-char strip. The ASCII fixture is
    //     already normalized, so the query deterministically injects
    //     decomposed accents (a -> a + U+0301) and a control char
    //     (e -> e + BEL) first — both engines replay the injection,
    //     then DuckDB's nfc_normalize replays the composition. ---
    QuerySpec("q_nfc_normalize", { (s, d) =>
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
      Sql("""WITH raw AS (SELECT doc_id,
        |  replace(replace(text, 'a', 'a' || chr(769)), 'e', 'e' || chr(7)) dtxt
        |  FROM documents),
        |n AS (SELECT doc_id, dtxt,
        |  regexp_replace(nfc_normalize(dtxt),
        |    '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g') norm FROM raw)
        |SELECT doc_id, length(dtxt)::BIGINT AS n_raw,
        |       length(norm)::BIGINT AS n_norm, md5(norm) AS norm_md5
        |FROM n""".stripMargin)),
    // --- WET-style markup strip: tags out (space-replaced), the five
    //     predefined entities decoded (&amp; last), whitespace
    //     collapsed. Fixture is plain text, so the query injects
    //     deterministic markup both engines replay. ---
    QuerySpec("q_html_strip", { (s, d) =>
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
      Sql("""WITH raw AS (SELECT doc_id,
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
        |FROM s""".stripMargin)),
    // --- the EXTRACTION front gate, composed: markup strip ∘ NFC
    //     normalize ∘ token count — what turns a raw crawl record
    //     into the plain text every downstream operator consumes.
    //     Injected markup AND decomposed accents, both replayed. ---
    QuerySpec("q_extract", { (s, d) =>
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
      Sql("""WITH raw AS (SELECT doc_id,
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
        |FROM c""".stripMargin)),
    // --- RAG/embedding chunking: overlapping 32-token windows with
    //     stride 24 (8-token overlap so no boundary-straddling
    //     passage is lost). Row-local transform + posexplode — the
    //     chunk table that feeds the ANN/IVF operators. ---
    QuerySpec("q_rag_chunks", { (s, d) =>
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
      Sql("""WITH t AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |c AS (SELECT doc_id, unnest(list_transform(
        |  generate_series(0, CAST(ceil(greatest(len(w) - 32, 0) / 24.0) AS BIGINT)),
        |  k -> {'idx': k, 'start_tok': k*24 + 1,
        |        'n_tokens': least(32, len(w) - k*24),
        |        'chunk': array_to_string(w[k*24+1 : k*24+32], ' ')}),
        |  recursive := true) FROM t WHERE len(w) > 0)
        |SELECT doc_id, idx::BIGINT AS idx, start_tok::BIGINT AS start_tok,
        |       n_tokens::BIGINT AS n_tokens, chunk
        |FROM c""".stripMargin)),
    // --- chunk-level retrieval, composed: tokenWindows → BM25 over
    //     the CHUNK table — the passage-retrieval shape a RAG index
    //     serves (score the chunk, not the whole document). ---
    QuerySpec("q_chunk_retrieval", { (s, d) =>
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
      Sql("""WITH t AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
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
        |ORDER BY score DESC, chunk_id LIMIT 20""".stripMargin)))
}
