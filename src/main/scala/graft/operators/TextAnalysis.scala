package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization stats, quality scoring, language ID, fingerprinting.
  *
  * All pure `org.apache.spark.sql.functions` expressions — no UDFs — so
  * every operator stays inside whole-stage codegen and scales linearly
  * with no shuffle (they are per-row projections; the only shuffles are
  * the caller's aggregations).
  */
object TextAnalysis {

  /** Whitespace-robust tokens: maximal runs of non-space characters.
    * Regex-based so double spaces / leading blanks don't produce empty
    * tokens (a plain `split(' ')` would). */
  def tokens(text: Column): Column =
    regexp_extract_all(text, lit("\\S+"), lit(0))

  /** Token count per document. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-style pre-tokenization (GPT-2-ish): letter runs, digit runs,
    * and punctuation runs are separate tokens — the unit a byte-pair
    * tokenizer would merge from. Pure regex, RE2-compatible so SQL
    * oracles agree. */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit("\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]+"), lit(0))

  /** Approximate LLM token count via BPE pre-tokens. */
  def bpeTokenCount(text: Column): Column = size(bpeTokens(text))

  /** Unicode cleanup — the CCNet-style normalization pass a crawl
    * pipeline runs BEFORE anything hashes text: NFC canonical
    * composition (native [[graft.functions.NfcNormalize]] expression,
    * ASCII fast path, no UDF) followed by C0/DEL control-character
    * removal (newline and tab kept — they are document structure).
    * Un-normalized text silently under-deduplicates: a decomposed and
    * a composed "é" read identically but hash differently in every
    * digest/shingle/dedup operator downstream. Map-only at any scale;
    * RE2-portable strip + DuckDB's `nfc_normalize` make it
    * exact-oracle-checkable. */
  def normalizeText(text: Column): Column =
    regexp_replace(
      graft.functions.NfcNormalize.nfc(text),
      "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")

  /** Overlapping token-window chunks — the document splitter an
    * embedding / RAG indexing pipeline runs before anything embeds:
    * windows of `window` tokens advancing by `stride` (< window ⇒
    * overlapping context so no boundary-straddling passage is lost).
    * Returns an array of `(idx, start_tok, n_tokens, chunk)` structs;
    * the caller `posexplode`s it into the chunk table. The final
    * window may be short; a window is emitted only if it STARTS
    * before the end (so a 10-token doc at window 32 emits exactly one
    * chunk); NULL text yields an empty array (space-split semantics
    * give every non-null text ≥ 1 token, empty string included).
    * Pure row-local
    * projection — chunking 100 TB never shuffles, and the chunk table
    * feeds the ANN/IVF operators directly. */
  def tokenWindows(text: Column, window: Int, stride: Int): Column = {
    require(window >= 1, s"window must be positive, got $window")
    require(stride >= 1 && stride <= window,
      s"stride must be in [1, window], got $stride (window $window)")
    val toks = split(text, " ")
    val n = size(toks)
    // Number of windows: 1 + ceil(max(n - window, 0) / stride); 0 when
    // the document has no tokens at all.
    val extra = ceil(greatest(n - window, lit(0)).cast("double") / stride)
      .cast("int")
    when(n > lit(0),
      transform(sequence(lit(0), extra),
        k => struct(
          k.as("idx"),
          (k * stride + 1).as("start_tok"),
          least(lit(window), n - k * stride).as("n_tokens"),
          array_join(slice(toks, k * stride + 1, lit(window)), " ")
            .as("chunk"))))
      .otherwise(array().cast(
        "array<struct<idx:int,start_tok:int,n_tokens:int,chunk:string>>"))
  }

  /** WET-style markup strip — the raw-crawl → plain-text extraction
    * step (what Common Crawl's WET files are to its WARC files): drop
    * every `<...>` tag (replaced by a space so adjacent text doesn't
    * fuse), decode the five predefined XML entities (`&amp;` LAST so
    * nothing double-decodes — `&amp;lt;` must yield the literal
    * `&lt;`, not `<`), collapse whitespace runs, trim. A real parser
    * this is not (script/style CONTENT survives; malformed nesting is
    * the crawl's problem) — it is the deterministic, RE2-portable
    * core every engine can replay exactly, which is what makes the
    * corpus query oracle-checkable. Pure projection, zero shuffle. */
  def stripMarkup(html: Column): Column = {
    val unTagged = regexp_replace(html, "<[^>]*>", " ")
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(unTagged) { case (c, (ent, ch)) =>
        regexp_replace(c, java.util.regex.Pattern.quote(ent),
          java.util.regex.Matcher.quoteReplacement(ch))
      }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Stopword list used by quality scoring and language ID. Tiny by
    * design: deterministic, language-marker oriented. */
  val StopwordsEn: Seq[String] = Seq("the", "a", "and", "of", "to", "in")

  private def countIn(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words)))

  /** Quality features per document: char/token counts, type-token ratio,
    * stopword ratio, mean token length. All ratios are single double
    * divisions of exact integers, so they are bit-stable across engines.
    */
  def qualityFeatures(text: Column): Seq[Column] = {
    val toks = tokens(text)
    val nTok = size(toks)
    Seq(
      length(text).as("n_chars_txt"),
      nTok.as("n_tokens"),
      size(array_distinct(toks)).as("n_distinct"),
      (size(array_distinct(toks)).cast("double") / nTok).as("ttr"),
      (countIn(toks, StopwordsEn).cast("double") / nTok).as("stop_ratio"),
      (aggregate(transform(toks, t => length(t)), lit(0),
        (acc, x) => acc + x).cast("double") / nTok).as("avg_token_len")
    )
  }

  /** Marker words per language for the n-gram-free language-ID
    * heuristic. Deterministic argmax with fixed precedence order. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "a"),
    "fr" -> Seq("le", "la", "et", "les"),
    "de" -> Seq("der", "und", "die", "das"),
    "es" -> Seq("el", "y", "los", "las")
  )

  /** Heuristic language ID: count marker-word hits per language, pick
    * the first language (in [[LangMarkers]] order) achieving the max
    * count; `und` (undetermined) when no marker hits at all. */
  def languageId(text: Column): Column = {
    val toks = tokens(text)
    val scores = LangMarkers.map { case (lang, ws) => lang -> countIn(toks, ws) }
    val maxScore = greatest(scores.map(_._2): _*)
    // first-match-wins CASE chain => deterministic tie-break
    scores.foldRight(lit("und")) { case ((lang, sc), els) =>
      when(sc === maxScore && maxScore > 0, lit(lang)).otherwise(els)
    }
  }

  /** Heuristic quality gate for training-data filtering: token-count
    * band, type-token-ratio floor (repetition filter) and mean-token-
    * length band (gibberish/binary filter). Pure expression — composes
    * into the scan's filter and pushes nothing to a UDF. */
  def qualityFilter(
      text: Column,
      minTokens: Int = 10,
      maxTokens: Int = 100000,
      minTtr: Double = 0.1,
      minAvgTokenLen: Double = 2.0,
      maxAvgTokenLen: Double = 12.0): Column = {
    val toks = tokens(text)
    val nTok = size(toks)
    val ttr = size(array_distinct(toks)).cast("double") / nTok
    val avgLen = aggregate(transform(toks, t => length(t)), lit(0),
      (acc, x) => acc + x).cast("double") / nTok
    nTok.between(minTokens, maxTokens) &&
      ttr >= minTtr &&
      avgLen.between(minAvgTokenLen, maxAvgTokenLen)
  }

  /** [[qualityFilter]]'s components as ORDERED named stages — the input
    * [[Curation.filterFunnel]] needs to report which gate drops what
    * (the conjunction tells you a doc failed; the funnel tells you
    * where). Same predicates, same order as the conjunction, so
    * `stages.map(_._2).reduce(_ && _)` ≡ `qualityFilter`. */
  def qualityStages(
      text: Column,
      minTokens: Int = 10,
      maxTokens: Int = 100000,
      minTtr: Double = 0.1,
      minAvgTokenLen: Double = 2.0,
      maxAvgTokenLen: Double = 12.0): Seq[(String, Column)] = {
    val toks = tokens(text)
    val nTok = size(toks)
    val ttr = size(array_distinct(toks)).cast("double") / nTok
    val avgLen = aggregate(transform(toks, t => length(t)), lit(0),
      (acc, x) => acc + x).cast("double") / nTok
    Seq(
      "tok_band" -> nTok.between(minTokens, maxTokens),
      "ttr" -> (ttr >= minTtr),
      "avg_token_len" -> avgLen.between(minAvgTokenLen, maxAvgTokenLen))
  }

  /** Exact content fingerprint (md5 hex of UTF-8 text) — the unit for
    * exact dedup and cache keys. */
  def fingerprintMd5(text: Column): Column = md5(text.cast("binary"))

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    * SIGMOD'03): hash every k-token shingle with a polynomial rolling
    * hash, slide a window of `w` consecutive shingle hashes, keep each
    * window's minimum, return the distinct selected hashes. Guarantees:
    * any shared run of w+k-1 tokens between two documents contributes at
    * least one COMMON fingerprint, so fingerprint overlap lower-bounds
    * long shared substrings — the unit for plagiarism-style / boilerplate
    * containment detection, where set-Jaccard (MinHash) misses
    * contained-but-small overlaps.
    *
    * The hash is `fold(chars, 0, h*257+cp mod 1e9+7)` over the shingle's
    * characters — pure 64-bit integer arithmetic (max intermediate
    * ≈ 2.6e11), so any engine reproduces it bit-for-bit; no xxhash64 /
    * md5 dependence.
    *
    * Returns the native fused
    * [[graft.functions.WinnowFingerprints]] expression: tokenize →
    * rolling-hash → window-min → distinct in ONE codegen'd pass over
    * the raw UTF8String — entirely row-local (a projection, no
    * shuffle), no intermediate shingle/hash arrays (13.4 s interpreted
    * chain → 0.22 s at sf0.1). [[winnowFingerprintsChain]] +
    * [[windowMinDistinct]] keep the composable-expression reference
    * form, spec-pinned bit-identical. */
  def winnowFingerprints(text: Column, k: Int = 3, w: Int = 4): Column =
    graft.functions.WinnowFingerprints.winnowFingerprints(text, k, w)

  /** The composable-expression reference form of [[winnowFingerprints]]
    * (spec-pinned bit-identical to the native expression): pre-project
    * [[shingleHashes]], then [[windowMinDistinct]] over the column. */
  def winnowFingerprintsChain(hashes: Column, w: Int): Column =
    windowMinDistinct(hashes, w)

  /** Polynomial rolling hash of every k-token shingle (the winnowing
    * hash stream). O(tokens · chars) interpreted work per row — callers
    * that feed [[windowMinDistinct]] should materialize this as a
    * projection column so it is computed exactly once. */
  def shingleHashes(text: Column, k: Int = 3): Column = {
    require(k >= 1, "shingle size must be positive")
    transform(Shingles.wordShinglesAll(text, k), g =>
      aggregate(
        split(g, ""),
        lit(0L),
        (acc, c) => (acc * 257L + ascii(c)) % 1000000007L))
  }

  /** Distinct window-minima of `hashes` (window width `w`) — the
    * winnowing selection step. Window-min is a zip_with SHIFT CHAIN
    * (elementwise `least` of the w shifted copies), not `transform(…,
    * i => array_min(slice(hashes, i, w)))`: interpreted lambda eval has
    * no common-subexpression elimination, so a lambda referencing
    * `hashes` would recompute the whole rolling-hash array once per
    * WINDOW — O(tokens²·chars) per row. As zip_with arguments the
    * shifted slices are evaluated once per level: O(w · tokens · chars)
    * per row, linear in document length. `least` skips the nulls
    * zip_with pads with, and partial tail windows are cut by the final
    * slice, so the selected minima are identical to the slice+array_min
    * formulation (oracle unchanged).
    *
    * Pass a MATERIALIZED column: each shift level evaluates `hashes`
    * once more, and interpreted eval has no common-subexpression
    * elimination, so an inline expression is recomputed w+1 times
    * (measured 13 s for q_winnow at sf0.1 vs sub-second with the
    * pre-projected column). */
  def windowMinDistinct(hashes: Column, w: Int): Column = {
    require(w >= 1, "window must be positive")
    val chain = (1 until w).foldLeft(hashes) { (acc, j) =>
      zip_with(acc,
        slice(hashes, lit(j + 1), greatest(size(hashes) - j, lit(0))),
        (a, b) => least(a, b))
    }
    val mins =
      slice(chain, lit(1), greatest(size(hashes) - lit(w - 1), lit(1)))
    when(size(hashes) > 0, array_distinct(mins))
      .otherwise(array().cast("array<bigint>"))
  }

  /** TF-IDF top-`topK` terms per document: tf = in-doc term count,
    * idf = ln((N+1)/(df+1)) with df = number of documents containing the
    * term. The ranking signal for keyword extraction / topic tagging in
    * a cleaning pipeline.
    *
    * Shuffle budget at 100 TB: ONE corpus-wide shuffle builds tf (map-
    * side combined: key (doc, term) collapses each doc's repeats before
    * the exchange); df aggregates FROM tf (vocabulary-sized input, never
    * a second pass over the corpus — and Spark reuses tf's exchange for
    * both branches); N is a broadcast scalar; the tf⋈df join keys on the
    * term (AQE broadcasts the Zipf-small df side); the final per-doc
    * top-k runs on [[graft.plans.GroupedTopK]] — partial per-partition
    * heaps, ≤ k rows per doc through the single clustered exchange,
    * never a full per-doc sort. Ranking uses the ROUNDED score (term
    * asc tiebreak), so rank order is reproducible across engines. */
  def tfIdfTopTerms(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      topK: Int = 5): org.apache.spark.sql.DataFrame = {
    val toks = df
      .select(col(idCol).as("doc_id"), explode(split(col(textCol), " ")).as("term"))
      .filter(col("term") =!= "")
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("n"))
    val scored = tf
      .join(dfreq, "term")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        round(col("tf") *
          log((col("n") + lit(1)).cast("double") / (col("df") + lit(1))), 6)
          .as("tfidf"))
    graft.plans.GroupedTopK.topKPerGroup(
      scored, Seq("doc_id"), Seq(col("tfidf").desc, col("term").asc), k = topK)
  }

  /** Word-level Shannon entropy per document — the classic gibberish /
    * keyword-stuffing detector (low entropy = few words dominate; high
    * entropy at fixed length = near-uniform noise). Returns
    * (n_words, n_unique, entropy-in-bits).
    *
    * Fully row-local, ONE `aggregate` fold over the sorted token array
    * carrying (prev word, run length, Σ c·log2 c, distinct count). The
    * lambda reads only the accumulator and the element — this matters:
    * interpreted higher-order-function eval has NO common-subexpression
    * elimination, so a lambda that referenced the sorted array (e.g.
    * `element_at(ws, i)`) would re-run the sort once per ELEMENT —
    * O(n²·log n) per row, measured as a multi-minute stall at sf0.1.
    * The fold keeps the sort a one-shot argument: O(n log n) per row,
    * map-only at any corpus size.
    *
    * Entropy via the identity H = log2(n) − (Σ c·log2 c)/n over run
    * lengths c. The oracle mirrors the same runs-in-sorted-order sum
    * left-to-right, so both engines produce bit-identical doubles;
    * results are rounded (with `+0.0` so a single-word doc's `-0.0`
    * normalizes). Space tokenization so `string_split` oracles tokenize
    * identically; `split` never yields an empty array, so n ≥ 1.
    *
    * Served by the native one-pass `entropy_features` expression
    * (tokenize → binary-order sort → run fold in one codegen'd call);
    * rounding stays Spark's own `round` over the raw double, so the
    * native and composable forms can never drift in rounding. The fold
    * chain below ([[entropyFeaturesChain]]) is the spec-pinned
    * reference. */
  def entropyFeatures(text: Column): Seq[Column] = {
    val f = graft.functions.EntropyFeatures.entropyFeatures(text)
    Seq(
      f.getField("n_words").as("n_words"),
      f.getField("n_unique").as("n_unique"),
      round(f.getField("entropy_raw") + lit(0.0), 6).as("entropy"))
  }

  /** The composable-expression reference form of [[entropyFeatures]]
    * (one `aggregate` fold; see the no-CSE-in-lambdas notes in
    * SCALE.md). Spec-pinned bit-identical to the native expression. */
  def entropyFeaturesChain(text: Column): Seq[Column] = {
    val n = size(split(text, " "))
    def cLog2c(c: Column): Column =
      when(c <= 0, lit(0.0))
        .otherwise(c.cast("double") * log2(c.cast("double")))
    def fin(acc: Column) = struct(
      (acc.getField("s") + cLog2c(acc.getField("c"))).as("s"),
      acc.getField("u").as("u"))
    def folded = aggregate(
      sort_array(split(text, " ")),
      struct(lit(null).cast("string").as("prev"), lit(0L).as("c"),
        lit(0.0).as("s"), lit(0L).as("u")),
      (acc, w) => when(
        acc.getField("c") > 0 && w === acc.getField("prev"),
        struct(acc.getField("prev").as("prev"),
          (acc.getField("c") + lit(1L)).as("c"),
          acc.getField("s").as("s"), acc.getField("u").as("u")))
        .otherwise(struct(w.as("prev"), lit(1L).as("c"),
          (acc.getField("s") + cLog2c(acc.getField("c"))).as("s"),
          (acc.getField("u") + lit(1L)).as("u"))),
      fin)
    Seq(
      n.cast("long").as("n_words"),
      folded.getField("u").cast("long").as("n_unique"),
      round(log2(n.cast("double")) -
        folded.getField("s") / n.cast("double") + lit(0.0), 6)
        .as("entropy"))
  }

  /** Gopher-style n-gram repetition signals (Rae et al. 2021, table A1):
    * the character-MASS view of repetition — what fraction of the
    * document's n-gram characters sit in the single most frequent
    * n-gram (`top{n}_frac`, Gopher filters on n = 2..4) and in ALL
    * duplicated n-grams (`dup{n}_frac`, Gopher filters on n = 5..10).
    * Complements the distinct-COUNT ratios of q_repetition: a doc that
    * repeats one long slogan has a near-normal distinct ratio but a
    * huge top-gram character mass.
    *
    * Definitions (documented deviation from the paper, which leaves the
    * denominator and overlap handling unspecified): gram text is the
    * space-joined words, mass of a gram = occurrences × length, and
    * both fractions share the denominator Σ_grams count·len — so they
    * are ratios of exact integers and bit-stable across engines. The
    * top gram tie-breaks to the lexicographically smallest among equal
    * counts.
    *
    * Entirely row-local and O(g log g) per document — never the
    * O(distinct·positions) per-row rescan, so a 100k-token document
    * costs a sort, not a quadratic scan, and the whole signal set is a
    * map-only projection at any corpus size. The masses come from ONE
    * fused native pass ([[graft.functions.GopherRepetition]]); the
    * fractions are Spark's own division + round so float semantics
    * match the composable [[gopherRepetitionChain]] exactly
    * (spec-pinned bit-parity). */
  def gopherRepetition(text: Column, n: Int): Seq[Column] = {
    val m = graft.functions.GopherRepetition.gopherMasses(text, n)
    val total = m.getField("total_mass")
    def frac(mass: Column): Column =
      when(total > 0, round(mass.cast("double") / total, 6))
        .otherwise(lit(0.0))
    Seq(
      frac(m.getField("top_mass")).as(s"top${n}_frac"),
      frac(m.getField("dup_mass")).as(s"dup${n}_frac"))
  }

  /** The composable-expression reference form of [[gopherRepetition]]
    * (`sort_array` + one run-walking fold, the
    * [[entropyFeaturesChain]] pattern). Spec-pinned bit-identical to
    * the native expression. */
  def gopherRepetitionChain(text: Column, n: Int): Seq[Column] = {
    val grams = Shingles.wordShinglesAll(text, n)
    // One fold over the sorted multiset. Accumulator fields: the run in
    // progress (prev, c), the best finalized run (topc, topg) and the
    // finalized duplicated mass (dup). A run is finalized when the next
    // gram differs and by the `finish` lambda for the last run.
    def finalized(acc: Column): Column = {
      val c = acc.getField("c")
      val prev = acc.getField("prev")
      val dup = acc.getField("dup") +
        when(c >= 2, c * length(prev).cast("long")).otherwise(lit(0L))
      val better = c > acc.getField("topc")
      struct(
        prev.as("prev"), c.as("c"),
        when(better, c).otherwise(acc.getField("topc")).as("topc"),
        when(better, prev).otherwise(acc.getField("topg")).as("topg"),
        dup.as("dup"))
    }
    val folded = aggregate(
      sort_array(grams),
      struct(lit(null).cast("string").as("prev"), lit(0L).as("c"),
        lit(0L).as("topc"), lit("").as("topg"), lit(0L).as("dup")),
      (acc, g) => when(
        acc.getField("c") > 0 && g === acc.getField("prev"),
        struct(acc.getField("prev").as("prev"),
          (acc.getField("c") + lit(1L)).as("c"),
          acc.getField("topc").as("topc"), acc.getField("topg").as("topg"),
          acc.getField("dup").as("dup")))
        .otherwise {
          val f = finalized(acc)
          struct(g.as("prev"), lit(1L).as("c"),
            f.getField("topc").as("topc"), f.getField("topg").as("topg"),
            f.getField("dup").as("dup"))
        },
      finalized)
    val totalMass = aggregate(grams, lit(0L), (a, g) => a + length(g))
    def frac(mass: Column): Column =
      when(totalMass > 0, round(mass.cast("double") / totalMass, 6))
        .otherwise(lit(0.0))
    Seq(
      frac(folded.getField("topc") * length(folded.getField("topg")))
        .as(s"top${n}_frac"),
      frac(folded.getField("dup")).as(s"dup${n}_frac"))
  }

  /** The published Gopher repetition gates (Rae et al. 2021, table A1)
    * as ORDERED funnel stages over [[gopherRepetition]]'s fractions:
    * top-2-gram mass < 0.20, top-3-gram < 0.18, duplicated-5-gram
    * < 0.15. Feed to [[Curation.filterFunnel]] for per-gate attrition
    * (q_gopher_funnel) or conjoin for the filter itself. */
  def gopherStages(text: Column): Seq[(String, Column)] = {
    val top2 = gopherRepetition(text, 2).head
    val top3 = gopherRepetition(text, 3).head
    val dup5 = gopherRepetition(text, 5)(1)
    Seq(
      "top2_frac" -> (top2 < 0.20),
      "top3_frac" -> (top3 < 0.18),
      "dup5_frac" -> (dup5 < 0.15))
  }

  /** Compression-ratio quality signal `(n_bytes, z_bytes, z_ratio)`:
    * DEFLATE size over UTF-8 size ([[graft.functions.DeflateStats]] —
    * see its scaladoc for the determinism contract and why the corpus
    * query is rows-only gated). Low ratio ⇒ boilerplate/repetition the
    * n-gram signals dilute; ratios near/above 1 ⇒ non-text payloads.
    * Map-only. */
  def compressionSignals(text: Column): Seq[Column] = {
    val st = graft.functions.DeflateStats.deflateStats(text)
    val n = st.getField("n_bytes")
    val z = st.getField("z_bytes")
    Seq(
      n.as("n_bytes"),
      z.as("z_bytes"),
      when(n > 0, round(z.cast("double") / n, 6)).otherwise(lit(0.0))
        .as("z_ratio"))
  }

  /** Containment-pair detection over winnowing fingerprints: document
    * pairs sharing at least `minShared` distinct fingerprints, scored
    * by containment = shared / min(|fpA|, |fpB|). The winnowing
    * guarantee makes this catch CONTAINED overlaps (a paragraph of A
    * pasted into B) that whole-document set-Jaccard dilutes away —
    * every shared run of w+k−1 tokens contributes a common fingerprint.
    *
    * Posting-list shape, same scaling as the exact n-gram pair stage:
    * fingerprinting is the native one-pass expression (map-only), ONE
    * shuffle clusters each fingerprint's posting list (a bare long
    * key), pairs are emitted by pipelined local generators, and
    * singleton postings emit nothing. At web scale bound the block size
    * with `maxDf` exactly as ngramJaccardPairs documents. */
  def winnowContainmentPairs(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      w: Int = 4,
      minShared: Int = 3,
      maxDf: Option[Int] = None): org.apache.spark.sql.DataFrame = {
    val fps = df
      .select(col(idCol).as("doc"),
        winnowFingerprints(col(textCol), k, w).as("fps"))
      .filter(size(col("fps")) > 0)
    val counts = fps.select(col("doc"), size(col("fps")).as("n"))
    val postings = fps
      .select(col("doc"), explode(col("fps")).as("fp"))
      .groupBy(col("fp"))
      .agg(collect_list(col("doc")).as("docs"))
      .filter(size(col("docs")) > 1)
    val kept = maxDf.fold(postings)(m => postings.filter(size(col("docs")) <= m))
    val pairs = kept
      .select(col("docs"), explode(col("docs")).as("a"))
      .select(col("a"), explode(col("docs")).as("b"))
      .filter(col("a") < col("b"))
      .groupBy(col("a").as("id_a"), col("b").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    pairs
      .join(counts.as("ca"), col("id_a") === col("ca.doc"))
      .join(counts.as("cb"), col("id_b") === col("cb.doc"))
      .withColumn("containment",
        round(col("n_shared") / least(col("ca.n"), col("cb.n")), 6))
      .select("id_a", "id_b", "n_shared", "containment")
  }

  /** Corpus-level boilerplate phrase mining: the `topN` most frequent
    * k-word shingles (all occurrences, not per-doc distinct) — the
    * report that feeds stop-shingle lists and template detection in a
    * crawl-curation pipeline.
    *
    * One shuffle total: shingling is row-local, the phrase count is a
    * partial/final hash aggregate (map-side combine collapses each hot
    * boilerplate phrase per partition), and the global top-N plans as
    * `TakeOrderedAndProject` — per-partition bounded heaps, never a
    * corpus-wide sort shuffle. Total order (count desc, phrase asc) so
    * the cut at rank `topN` is deterministic across engines. */
  def topPhrases(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      k: Int = 3,
      topN: Int = 20): org.apache.spark.sql.DataFrame =
    df.select(explode(Shingles.wordShinglesAll(col(textCol), k)).as("phrase"))
      .groupBy(col("phrase"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("phrase").asc)
      .limit(topN)

  /** Corpus-unigram language-model score per document: each token's
    * log probability under the corpus's own unigram distribution,
    * summed per doc (and averaged — a perplexity proxy). The standard
    * cheap quality signal: gibberish and boilerplate-heavy documents
    * sit far from the corpus mode.
    *
    * Two-phase, both distributed: (1) one shuffle builds the frequency
    * table; (2) the token stream joins back to it — Catalyst/AQE
    * broadcasts the vocabulary when it is small (Zipf: usually yes); at
    * web scale apply a min-count cut to bound it. Space tokenization
    * (not `\S+`) so the DuckDB `string_split` oracle tokenizes
    * identically. Log-prob sums are rounded (summation order differs
    * across engines); each term is a single `ln` of one exact ratio. */
  def unigramLogProbs(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val tot = freq.agg(sum("c").as("n"))
    val lp = log(col("c").cast("double") / col("n").cast("double"))
    toks
      .join(freq, "tok")
      .crossJoin(tot)
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tok"),
        round(sum(lp), 6).as("logprob"),
        round(sum(lp) / count(lit(1)), 6).as("avg_lp"))
  }

  /** Interpolated corpus-BIGRAM language-model score per document — the
    * next perplexity-proxy step up from [[unigramLogProbs]] (CCNet-style
    * LM filtering without shipping a pretrained model): token `i ≥ 2`
    * scores `ln(λ·P(wᵢ|wᵢ₋₁) + (1−λ)·P(wᵢ))` under the corpus's own
    * bigram/unigram counts, the first token scores `ln(P(w₁))`.
    * Interpolation with the unigram floor means unseen-bigram zeros
    * cannot occur (every token in the corpus has a unigram count), so
    * no discounting scheme is needed for self-scoring.
    *
    * Scale shape: bigrams are built ROW-LOCALLY from the token array
    * (one explode — never a positional self-join of the token stream),
    * counted with partial aggregation, and joined back on the bigram
    * key, where the count exchange is reusable; the context count
    * `c₁(w₁)` derives from the bigram table (one small second agg), so
    * the corpus is scanned twice and shuffled only as (w1, w2) pairs.
    * At web scale apply a min-count cut to the bigram vocabulary the
    * same way the unigram docstring prescribes. Docs need ≥ 2 tokens.
    *
    * Every inner ratio is one double division of exact counts and the
    * interpolation is written operand-for-operand as the DuckDB oracle
    * writes it, so per-term values are bit-identical; only the final
    * sums are rounded (summation order differs across engines). */
  def bigramLogProbs(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      lambda: Double = 0.75): org.apache.spark.sql.DataFrame = {
    val base = df
      .select(col(idCol), split(col(textCol), " ").as("ts"))
      .filter(size(col("ts")) >= 2)
    val bigEx = base
      .select(col(idCol), explode(
        transform(sequence(lit(1), size(col("ts")) - 1),
          i => struct(
            element_at(col("ts"), i).as("w1"),
            element_at(col("ts"), i + 1).as("w2")))).as("bg"))
      .select(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val cb = bigEx.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val c1 = cb.groupBy("w1").agg(sum("cb").as("c1"))
    val toksEx = df.select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
    val cu = toksEx.groupBy("tok").agg(count(lit(1)).as("cu"))
    val tot = cu.agg(sum("cu").as("n"))
    val term = log(
      lit(lambda) * (col("cb").cast("double") / col("c1").cast("double")) +
        lit(1.0 - lambda) * (col("cu").cast("double") / col("n").cast("double")))
    val bPart = bigEx
      .join(cb, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .join(cu, col("w2") === col("tok"))
      .crossJoin(tot)
      .groupBy(col(idCol))
      .agg(sum(term).as("bsum"), (count(lit(1)) + 1).as("n_tok"))
    val fPart = base
      .select(col(idCol), element_at(col("ts"), 1).as("tok"))
      .join(cu, Seq("tok"))
      .crossJoin(tot)
      .select(col(idCol),
        log(col("cu").cast("double") / col("n").cast("double")).as("fterm"))
    bPart
      .join(fPart, Seq(idCol))
      .select(
        col(idCol),
        col("n_tok").cast("long").as("n_tok"),
        round(col("fterm") + col("bsum"), 6).as("logprob"),
        round((col("fterm") + col("bsum")) / col("n_tok"), 6).as("avg_lp"))
  }

  /** Gopher-style top-token concentration: the single most frequent
    * token in the document (lexicographic min on count ties, so the
    * winner is deterministic), its count, and its fraction of all
    * tokens — the "fraction of tokens in the most common word" rule
    * that catches keyword-stuffed and template documents which
    * distinct-ratio metrics ([[graft.queries.CurationQueries]] q_repetition) dilute.
    *
    * Entirely row-local — one fold over the distinct tokens per row
    * (O(n·distinct) comparisons inside codegen, no shuffle at any
    * scale). The fold seeds with count 0 so any real token wins. */
  def topTokenFraction(text: Column): Seq[Column] = {
    val ts = split(text, " ")
    val d = array_distinct(ts)
    val counted = transform(d, t =>
      struct(size(filter(ts, x => x === t)).as("c"), t.as("t")))
    val best = aggregate(
      counted,
      struct(lit(0).as("c"), lit("").as("t")),
      (acc, x) =>
        when(x("c") > acc("c") ||
          (x("c") === acc("c") && x("t") < acc("t")), x)
          .otherwise(acc))
    Seq(
      best.getField("t").as("top_tok"),
      best.getField("c").cast("long").as("top_n"),
      round(best.getField("c").cast("double") / size(ts), 6).as("top_frac"))
  }
}
