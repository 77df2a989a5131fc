package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Deduplication operators for training-data pipelines, each designed for
  * the 100 TB case:
  *
  *  - exact dedup: one hash-shuffle on the content digest (map-side
  *    partial agg), never a driver-side collect — contrast the
  *    reference's pandas row hashing (`hashing.py:37-72`) which is
  *    driver-local by design;
  *  - MinHash LSH: banded candidate generation via
  *    `spark.ml.feature.MinHashLSH` — join cost is Σ bucket², never the
  *    all-pairs n²;
  *  - SimHash: 64-bit signature in one aggregation, near-dup candidates
  *    via 16-bit band equality (pigeonhole: hamming ≤ 3 ⇒ ≥ 1 of 4 bands
  *    equal), exact hamming verify on candidates only;
  *  - n-gram Jaccard: exact verification operator — shingle-bucket join,
  *    quadratic only within a shingle's posting list.
  */
object Dedup {

  /** Representative id (min) per distinct content hash. One shuffle on
    * the 256-bit digest; output is one row per distinct content. */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(sha2(col(textCol).cast("binary"), 256).as("content_hash"))
      .agg(min(col(idCol)).as(idCol))

  /** Incremental (cross-snapshot) exact dedup: rows of `batch` whose
    * content does NOT already appear in `reference` — the recrawl-
    * pipeline staple (dedup today's crawl against the corpus already
    * ingested) where re-deduplicating the union from scratch would
    * re-shuffle the full historical corpus every increment.
    *
    * Scale shape: both sides project to the 256-bit digest BEFORE the
    * join, so the shuffle carries 32-byte hashes (the reference side's
    * text never moves), the distinct collapses map-side, and the anti
    * join is a plain hash semi-difference — one shuffle of digests per
    * side at any corpus size. Batch rows survive with all columns. */
  def dedupAgainstReference(
      batch: DataFrame,
      reference: DataFrame,
      textCol: String,
      refTextCol: String): DataFrame = {
    val refHashes = reference
      .select(sha2(col(refTextCol).cast("binary"), 256).as("__ref_hash"))
      .distinct()
    batch
      .withColumn("__hash", sha2(col(textCol).cast("binary"), 256))
      .join(refHashes, col("__hash") === col("__ref_hash"), "left_anti")
      .drop("__hash")
  }

  /** [[dedupAgainstReference]] with a BLOOM prefilter — the shape to
    * run when the reference corpus is orders of magnitude larger than
    * the batch (the steady-state recrawl: 100 TB ingested, 100 GB new).
    *
    * A bloom filter over `xxhash64(reference text)` is built in one
    * distributed aggregation and broadcast; batch rows whose 64-bit
    * key MISSES the filter are provably new (no false negatives — the
    * key function is identical on both sides) and bypass the anti-join
    * entirely, so the exchange carries only the bloom-positive sliver
    * (true duplicates + fpp·|batch| false positives + 64-bit collision
    * odds), which the exact sha2 anti join then resolves. Result is
    * EXACT — bit-identical to [[dedupAgainstReference]] (pinned by
    * DedupSpec). The batch scan runs twice (once per branch of the
    * union), the cheap trade for shrinking the shuffle ~(1-dup_rate)×.
    * Size `expectedItems` at the reference's distinct-content count. */
  def dedupAgainstReferenceBloom(
      batch: DataFrame,
      reference: DataFrame,
      textCol: String,
      refTextCol: String,
      expectedItems: Long = 1000000L,
      fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.types.LongType
    val bf = reference
      .select(xxhash64(col(refTextCol)).as("__k"))
      .stat.bloomFilter("__k", expectedItems, fpp)
    val bc = batch.sparkSession.sparkContext.broadcast(bf)
    val might = Bridge.column(graft.functions.BloomMightContainLong(
      Cast(Bridge.expression(xxhash64(col(textCol))), LongType), bc))
    val definitelyNew = batch.filter(!might)
    val needsCheck = batch.filter(might)
    definitelyNew.unionByName(
      dedupAgainstReference(needsCheck, reference, textCol, refTextCol))
  }

  /** Full-row exact dedup keeping the lowest-id row per content hash. */
  def dropExactDuplicates(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window
      .partitionBy(sha2(col(textCol).cast("binary"), 256))
      .orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Exact k-word-shingle Jaccard pairs with similarity ≥ `threshold`.
    * Shingle posting lists drive pair generation, so cost is
    * Σ(per-shingle doc-frequency²) — tractable whenever shingles are
    * selective; for web-scale corpora run [[minHashNearDupPairs]] first
    * and use this as the verify stage on candidates. Jaccard is computed
    * as `common / (|A| + |B| - common)` over exact integer counts, so the
    * value is bit-identical across engines. Output: `id_a < id_b` (both
    * non-null longs) and `jaccard`.
    *
    * Ids must be unique. Pairs are grouped by their two ids and the two
    * shingle counts, so rows that share an id and a shingle count pool
    * their shared shingles into one `common`, a Jaccard that describes
    * neither row. Rows with a null id never pair.
    *
    * `maxDf` (None = exact, the default) drops posting lists longer than
    * the cutoff before pair generation — the standard stop-shingle
    * approximation for corpora where a boilerplate shingle would
    * otherwise emit a quadratic pair block AND build an unbounded
    * `collect_list` buffer in one task. With it set, `common` undercounts
    * by at most the number of dropped shingles shared by a pair, so a
    * reported Jaccard never exceeds the true one. */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      threshold: Double = 0.8,
      maxDf: Option[Int] = None): DataFrame = {
    // Posting-list formulation: ONE shuffle clusters each shingle's
    // docs (vs TWO + a sort for the equivalent exploded self-join —
    // measured 1.9s → 1.1s on the pair pipeline at sf0.1), then a
    // pipelined double generator emits pairs locally from each list.
    // Entries carry their doc's shingle count, so the corpus is read once.
    val postings = clusteredPostings(shinglePostings(df, idCol, textCol, k))
      .agg(collect_list(col("d")).as("docs"))
      .filter(size(col("docs")) > 1)
    val kept = maxDf.fold(postings)(m => postings.filter(size(col("docs")) <= m))
    val pairs = kept
      .select(col("docs"), explode(col("docs")).as("a"))
      .select(col("a"), explode(col("docs")).as("b"))
      .filter(col("a.doc") < col("b.doc") && sizeFilter(threshold))
    jaccardAtLeast(pairs, "id_a", "id_b", threshold)
  }

  /** CROSS-corpus exact k-shingle Jaccard pairs: every (batch, ref)
    * pair with similarity ≥ `threshold` — the verify stage for
    * incremental NEAR-dup dedup (is today's crawl a near-copy of
    * anything already ingested?). Same posting-list formulation as
    * [[ngramJaccardPairs]] (ONE shuffle clusters each shingle's docs,
    * pairs generated locally per list, sizes carried in the postings,
    * ids unique within each side), but the two corpora are tagged
    * into separate sub-lists so only batch×ref pairs are emitted —
    * cost is Σ(|batch_g|·|ref_g|) per shingle g, never within-corpus
    * quadratic, and never all-pairs. `maxDf` drops posting lists whose
    * combined length exceeds the cutoff (stop-shingle approximation,
    * same contract as [[ngramJaccardPairs]]). Output: non-null
    * `id_batch`, `id_ref` and `jaccard`. */
  def ngramJaccardPairsAgainst(
      batch: DataFrame,
      reference: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      threshold: Double = 0.8,
      maxDf: Option[Int] = None): DataFrame = {
    def side(df: DataFrame, isBatch: Boolean) =
      shinglePostings(df, idCol, textCol, k).withColumn("is_batch", lit(isBatch))
    val ex = side(batch, isBatch = true).unionByName(side(reference, isBatch = false))
    // collect_list skips nulls, so the two `when`s split each posting
    // list by side inside ONE aggregation.
    val postings = clusteredPostings(ex)
      .agg(
        collect_list(when(col("is_batch"), col("d"))).as("adocs"),
        collect_list(when(!col("is_batch"), col("d"))).as("bdocs"))
      .filter(size(col("adocs")) > 0 && size(col("bdocs")) > 0)
    val kept = maxDf.fold(postings)(m =>
      postings.filter(size(col("adocs")) + size(col("bdocs")) <= m))
    val pairs = kept
      .select(col("bdocs"), explode(col("adocs")).as("a"))
      .select(col("a"), explode(col("bdocs")).as("b"))
      .filter(sizeFilter(threshold))
    jaccardAtLeast(pairs, "id_batch", "id_ref", threshold)
  }

  /** One row per (doc, shingle g): `d = struct(doc, n)`, `n` the doc's
    * shingle count. Null ids count toward no posting list. `n` is taken
    * before the explode, so the shingle array does not ride along with
    * each shingle; no `size(sh)>0` filter, which Catalyst would push
    * below the projection, evaluating the shingles twice (r18). */
  private def shinglePostings(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.filter(col(idCol).isNotNull)
      .select(col(idCol).as("doc"), Shingles.wordShingles(col(textCol), k).as("sh"))
      .select(struct(col("doc"), size(col("sh")).as("n")).as("d"), col("sh"))
      .select(col("d"), explode(col("sh")).as("g"))

  /** Posting rows grouped per shingle after ONE exchange on its hash, so
    * no map-side partial `collect_list` (which shrinks nothing) runs in
    * the scan tasks. Keying on (xxhash64(g), g) stays exact, and a sort
    * fallback compares the strings only between hash-equal rows. */
  private def clusteredPostings(rows: DataFrame) =
    rows.withColumn("h", xxhash64(col("g")))
      .repartition(col("h"))
      .groupBy(col("h"), col("g"))

  /** Size filter of set-similarity joins: J(A, B) ≤ min/max of the sizes.
    * The 1e-6 margin keeps it lossless, since `round(J, 6)` can lift a J
    * just below the threshold up to it. */
  private def sizeFilter(threshold: Double): Column =
    least(col("a.n"), col("b.n")) >= greatest(col("a.n"), col("b.n")) * (threshold - 1e-6)

  /** `(idA, idB, jaccard)` of the emitted `a`×`b` entries with
    * `round(J, 6) ≥ threshold`; the ids are non-null ([[shinglePostings]]). */
  private def jaccardAtLeast(
      pairs: DataFrame, idA: String, idB: String, threshold: Double): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.KnownNotNull
    import org.apache.spark.sql.graftbridge.Bridge
    def notNull(c: String) = Bridge.column(KnownNotNull(Bridge.expression(col(c)))).as(c)
    pairs
      .groupBy(col("a.doc").as(idA), col("b.doc").as(idB), col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("common"))
      .withColumn("jaccard",
        round(col("common") / (col("na") + col("nb") - col("common")), 6))
      .filter(col("jaccard") >= threshold)
      .select(notNull(idA), notNull(idB), col("jaccard"))
  }

  /** Incremental NEAR-dup dedup: rows of `batch` that are not a
    * near-duplicate (k-shingle Jaccard ≥ `threshold`) of ANY document
    * already in `reference` — [[dedupAgainstReference]]'s fuzzy
    * companion for the recrawl pipeline (a re-crawled page with a new
    * timestamp survives exact-digest dedup; it must not survive this).
    *
    * The declared query feeds the EXACT cross-corpus pair operator so
    * the DuckDB oracle provably matches; at 100 TB swap the pair
    * source for banded-MinHash batch×ref candidates + exact verify —
    * the anti join at the end accepts any (id_batch, id_ref) pair set. */
  def nearDupAgainstReference(
      batch: DataFrame,
      reference: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      threshold: Double = 0.8,
      maxDf: Option[Int] = None): DataFrame = {
    val contaminated = ngramJaccardPairsAgainst(
      batch, reference, idCol, textCol, k, threshold, maxDf)
      .select(col("id_batch")).distinct()
    batch.join(contaminated, col(idCol) === col("id_batch"), "left_anti")
  }

  /** MinHash signature matrix: `numHashes` seeded min-hashes over the
    * document's k-shingles, computed by the native
    * [[graft.functions.MinHashSignature]] expression — a pure per-row
    * projection (the explode + groupBy + k min-aggregates formulation
    * this replaced shuffled every shingle of the corpus). Returns
    * `(id, sig array<bigint>)`. Deterministic by construction. */
  def minHashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      numHashes: Int = 18): DataFrame =
    df.select(col(idCol).as("id"), Shingles.wordShingles(col(textCol), k).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"),
        graft.functions.MinHashSignature
          .minHashSignature(col("sh"), numHashes).as("sig"))

  /** Band-hash array over a signature column — the ONE banding
    * definition shared by the within-corpus pair generator, the
    * persistent index builder and the index probe, so all three agree
    * bit-for-bit on bucket membership: element `b` is the hash of
    * signature rows `[b*rowsPerBand, (b+1)*rowsPerBand)` salted with
    * the band number. */
  private def bandArray(rowsPerBand: Int, numBands: Int) =
    array((0 until numBands).map(b =>
      xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand), lit(b))): _*)

  /** `(id, band, bval, sig)` exploded band table of a signature frame
    * — the join-ready shape of [[bandArray]]. */
  private def bandedSignatures(
      sig: DataFrame,
      rowsPerBand: Int,
      numBands: Int): DataFrame =
    sig
      .select(col("id"), col("sig"),
        posexplode(bandArray(rowsPerBand, numBands)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bval")

  /** Banded-MinHash band table of a REFERENCE corpus, ready for
    * persistent materialization through the cache layer (the third
    * index-is-a-cache-entry family after the BPE merges served by
    * ModelCache and the IVF index of [[Similarity.buildIvfIndex]]):
    * compute once per corpus with `cacheToDbfs`, then every recrawl
    * batch probes it via [[minHashPairsAgainstIndex]] with NO job over
    * the reference text — at 100 TB the reference is the giant side,
    * and re-shingling it per batch is the cost this removes. ONE row
    * per document: `(id, sig array<bigint>, bands array<bigint>)` —
    * the signature is stored exactly once (an exploded (doc, band)
    * layout would duplicate the full `numBands*rowsPerBand`-long
    * signature `numBands` times in the materialized table); the probe
    * re-derives the join-ready (doc, band) rows with a map-only
    * `posexplode`, which costs nothing at read time compared to the
    * `numBands`× storage and scan amplification it avoids. */
  def buildMinHashBandIndex(
      reference: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      rowsPerBand: Int = 3,
      numBands: Int = 6): DataFrame =
    minHashSignatures(reference, idCol, textCol, k, rowsPerBand * numBands)
      .select(col("id"), col("sig"),
        bandArray(rowsPerBand, numBands).as("bands"))

  /** Append a new (already cleaned/accepted) batch to a persistent
    * band index — the index-maintenance half of the monthly-recrawl
    * loop: probe the index ([[nearDupAgainstIndex]]), keep the
    * survivors, then EXTEND the index with exactly those survivors so
    * the next recrawl dedups against them too. A pure union of
    * one-row-per-doc index rows (map-only over the batch; the existing
    * index is untouched), so the result re-materializes through
    * `cacheToDbfs` exactly like the original. Band parameters must
    * match the index's ([[minHashPairsAgainstIndex]]'s contract). */
  def extendMinHashBandIndex(
      index: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      rowsPerBand: Int = 3,
      numBands: Int = 6): DataFrame =
    index.unionByName(
      buildMinHashBandIndex(batch, idCol, textCol, k, rowsPerBand, numBands))

  /** Cross-corpus banded-MinHash candidate pairs of a batch against a
    * MATERIALIZED reference band index ([[buildMinHashBandIndex]],
    * typically read back from a cache table): batch signatures are
    * computed live (a map-only projection), candidates come from the
    * (band, bval) equi-join, and each candidate is scored by the
    * full-signature agreement fraction (unbiased Jaccard estimate) and
    * filtered at `threshold`. Output `(id_batch, id_ref,
    * jaccard_est)`; identical ids on both sides are allowed (the same
    * document present in both corpora estimates 1.0).
    *
    * The band parameters MUST match the ones the index was built with
    * (a mismatched-width index never collides on `bval`, since the
    * band hash covers different signature slices). `maxBucket` drops
    * (band, bval) buckets whose COMBINED population exceeds the
    * cutoff, the same hot-bucket guard as [[minHashNearDupPairs]]:
    * join cost is Σ |batch_bucket|·|ref_bucket|, and a clone-heavy
    * bucket would turn the probe quadratic. */
  def minHashPairsAgainstIndex(
      batch: DataFrame,
      index: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      rowsPerBand: Int = 3,
      numBands: Int = 6,
      threshold: Double = 0.7,
      maxBucket: Option[Int] = None): DataFrame = {
    val nHash = rowsPerBand * numBands
    val batchBands = bandedSignatures(
      minHashSignatures(batch, idCol, textCol, k, nHash),
      rowsPerBand, numBands)
    // Unpack the one-row-per-doc index layout (sig stored once) into
    // the join-ready (id, band, bval, sig) rows — a map-only explode.
    val indexBands = index
      .select(col("id"), col("sig"), posexplode(col("bands")))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bval")
    val probeSides = maxBucket match {
      case Some(m) =>
        require(m >= 1, s"maxBucket must be >= 1, got $m")
        val hot = batchBands.select("band", "bval")
          .unionAll(indexBands.select("band", "bval"))
          .groupBy(col("band"), col("bval"))
          .agg(count(lit(1)).as("__n"))
          .filter(col("__n") > m)
          .select("band", "bval")
        (batchBands.join(broadcast(hot), Seq("band", "bval"), "left_anti"),
          indexBands.join(broadcast(hot), Seq("band", "bval"), "left_anti"))
      case None => (batchBands, indexBands)
    }
    val (pb, pi) = probeSides
    val cand = pb.as("a")
      .join(pi.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval"))
      .select(
        col("a.id").as("id_batch"), col("b.id").as("id_ref"),
        col("a.sig").as("siga"), col("b.sig").as("sigb"))
      .distinct()
    cand
      .withColumn("jaccard_est",
        round(size(filter(zip_with(col("siga"), col("sigb"),
          (x, y) => when(x === y, 1).otherwise(0)), v => v === 1))
          .cast("double") / nHash, 6))
      .filter(col("jaccard_est") >= threshold)
      .select("id_batch", "id_ref", "jaccard_est")
  }

  /** Incremental near-dup dedup against a persistent index: batch rows
    * whose estimated Jaccard against ANY indexed reference document
    * reaches `threshold` are dropped — the scale form of
    * [[nearDupAgainstReference]] (which re-shingles the reference every
    * batch; this probes the one-time band index instead). */
  def nearDupAgainstIndex(
      batch: DataFrame,
      index: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      rowsPerBand: Int = 3,
      numBands: Int = 6,
      threshold: Double = 0.7,
      maxBucket: Option[Int] = None): DataFrame = {
    val contaminated = minHashPairsAgainstIndex(
      batch, index, idCol, textCol, k, rowsPerBand, numBands, threshold,
      maxBucket)
      .select(col("id_batch")).distinct()
    batch.join(contaminated, col(idCol) === col("id_batch"), "left_anti")
  }

  /** Banded MinHash-LSH near-duplicate pairs: signatures split into `b`
    * bands of `r` rows; documents joining on any (band, band-hash) pair
    * become candidates; candidates are scored by the full-signature
    * match fraction (an unbiased Jaccard estimate) and filtered at
    * `threshold`.
    *
    * AND-amplification matters: a band collides with probability j^r, so
    * unrelated documents (j ≈ 0.01) are candidates with probability
    * ~b·j^r ≈ 10^-5 — on a correlated small-vocab corpus this is the
    * difference between a bucket join and an accidental all-pairs
    * (spark.ml's MinHashLSH has r = 1 and floods the join with every
    * pair sharing one hot min-hash). Join cost is Σ bucket², never n².
    */
  def minHashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      rowsPerBand: Int = 3,
      numBands: Int = 6,
      threshold: Double = 0.7,
      // Hot-bucket cutoff (None = exact) — see
      // [[Similarity.srpCosinePairs]]: join cost is Σ bucket², and a
      // bucket of near-identical clones turns the candidate stage
      // quadratic. Run digest dedup first; cap what remains.
      maxBucket: Option[Int] = None): DataFrame = {
    val nHash = rowsPerBand * numBands
    val sig = minHashSignatures(df, idCol, textCol, k, nHash)
    val bandsAll = bandedSignatures(sig, rowsPerBand, numBands)
    val bands = maxBucket match {
      case Some(m) =>
        require(m >= 1, s"maxBucket must be >= 1, got $m")
        val hot = bandsAll.groupBy(col("band"), col("bval"))
          .agg(count(lit(1)).as("__n"))
          .filter(col("__n") > m)
          .select("band", "bval")
        bandsAll.join(broadcast(hot), Seq("band", "bval"), "left_anti")
      case None => bandsAll
    }
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
          col("a.id") < col("b.id"))
      .select(
        col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sig").as("siga"), col("b.sig").as("sigb"))
      .distinct()
    cand
      .withColumn("jaccard_est",
        round(size(filter(zip_with(col("siga"), col("sigb"),
          (x, y) => when(x === y, 1).otherwise(0)), v => v === 1))
          .cast("double") / nHash, 6))
      .filter(col("jaccard_est") >= threshold)
      .select("id_a", "id_b", "jaccard_est")
  }

  /** Edit-distance-verified near-dup pairs: the exact posting-list
    * Jaccard stage generates candidates (sub-quadratic), then
    * `levenshtein` verifies each candidate pair — the CHARACTER-level
    * similarity measure that set-Jaccard can't express (it sees a
    * single in-word typo as a 3-shingle disagreement but is blind to
    * word order swaps at distance 0... edit distance distinguishes
    * both). Edit distance is O(|a|·|b|) per PAIR, so it must never see
    * corpus×corpus — the candidate stage bounds the quadratic work to
    * near-dup pairs, and the texts join back by id (no text rides the
    * pair-generation shuffle). Output: both measures per surviving
    * pair, fully oracle-portable (DuckDB `levenshtein` agrees). */
  def editDistancePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      jaccardMin: Double = 0.5,
      maxDist: Int = 20,
      // Posting-list cutoff threaded to the candidate stage (None =
      // exact, the oracle-gated default). Without it a boilerplate-
      // heavy corpus makes the candidate stage quadratic BEFORE the
      // edit verify ever runs — a 10× scaling probe measured 48×
      // wall growth uncapped vs near-linear at maxDf = 50.
      maxDf: Option[Int] = None): DataFrame = {
    val cand = ngramJaccardPairs(df, idCol, textCol, k,
      threshold = jaccardMin, maxDf = maxDf)
    val texts = df.select(col(idCol), col(textCol))
    cand
      .join(texts.select(col(idCol).as("id_a"), col(textCol).as("__ta")),
        "id_a")
      .join(texts.select(col(idCol).as("id_b"), col(textCol).as("__tb")),
        "id_b")
      .withColumn("edit_dist", levenshtein(col("__ta"), col("__tb")))
      .filter(col("edit_dist") <= maxDist)
      .select("id_a", "id_b", "jaccard", "edit_dist")
  }

  /** Production near-dup shape: banded MinHash generates candidates
    * (sub-quadratic), then the exact k-shingle Jaccard is computed ONLY
    * for candidate pairs — never all-pairs. The exact value replaces the
    * signature estimate, so the output is exact-Jaccard-thresholded with
    * MinHash recall. This is the composition to run at 100 TB: stage 1
    * touches each doc once, stage 2 touches each candidate pair once.
    *
    * Ids must be unique: the verify joins candidates back to rows by id,
    * so a duplicated id verifies every row that carries it (a
    * shingle-empty duplicate yields a `jaccard = 0` row). */
  def nearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      rowsPerBand: Int = 3,
      numBands: Int = 6,
      threshold: Double = 0.8): DataFrame = {
    // Stage 1: banded candidates (estimate gate at half the threshold —
    // generous, the exact verify below is the real filter).
    val cand = minHashNearDupPairs(df, idCol, textCol, k, rowsPerBand, numBands,
      threshold = math.max(0.0, threshold / 2))
      .select("id_a", "id_b")
    // Stage 2: exact verify on candidates only. No size(sh)>0 filter:
    // candidates only name docs whose signature existed (stage 1
    // filters empties), and a pushed-down size filter re-evaluates the
    // shingle expression below the projection — each verify side paid
    // the corpus shingling twice (r18).
    val sh = df
      .select(col(idCol).as("doc"), Shingles.wordShingles(col(textCol), k).as("sh"))
    val verified = cand
      .join(sh.as("sa"), col("id_a") === col("sa.doc"))
      .join(sh.as("sb"), col("id_b") === col("sb.doc"))
      .withColumn("common", size(array_intersect(col("sa.sh"), col("sb.sh"))))
      .withColumn("jaccard",
        round(col("common") /
          (size(col("sa.sh")) + size(col("sb.sh")) - col("common")), 6))
      .filter(col("jaccard") >= threshold)
    verified.select("id_a", "id_b", "jaccard")
  }

  /** Connected components over near-duplicate pairs by min-label
    * propagation WITH pointer jumping: every document's representative
    * is the smallest doc id reachable through the pair graph (itself
    * when un-paired).
    *
    * Labels are SEEDED with the one-hop neighbor min (a single groupBy
    * over the edge list — on identity labels the first hop and jump
    * degenerate to exactly that), then a Pregel-style driver loop runs
    * distributed rounds — each round is (a) one edge join + grouped min
    * (labels flow one hop) and (b) one label self-join (`rep ←
    * rep(rep)`, the pointer-jumping shortcut that makes label distance
    * roughly double per round), so convergence needs O(log diameter)
    * rounds, not diameter rounds — a 2^maxIter-hop chain fits in the
    * cap. Clique-shaped clusters converge at the seed, so the loop runs
    * one confirming hop and stops (convergence is read off the hop:
    * symmetric edges make an unchanged hop a proof that labels are the
    * exact component minima). Labels are `localCheckpoint`ed so the
    * plan doesn't grow with iterations.
    * Exhausting the cap THROWS instead of returning non-minimal
    * representatives: a silent partial answer here would let near-dups
    * straddle train/test in [[graft.operators.Splits]] — the exact
    * contamination bug components exist to prevent. This is how dedup
    * becomes actionable: keep exactly one representative per duplicate
    * CLUSTER, not per pair. */
  def nearDupComponents(
      ids: DataFrame,
      pairs: DataFrame,
      maxIter: Int = 25): DataFrame = {
    // Materialize the PAIR list once, then build the symmetric edge
    // view from the pinned frame: `pairs` is typically the whole
    // MinHash-candidate + exact-verify pipeline, and without pinning
    // every iteration of the loop below would re-execute it from the
    // parquet scan up (measured 24s -> ~3s on the bench corpus).
    // Pinning BEFORE the src/dst ⊎ dst/src union matters as much as
    // pinning at all: the union's two arms are separate plan subtrees,
    // so an eager checkpoint OF THE UNION executed the entire pair
    // pipeline twice — the populationStabilityBy multi-consumption
    // shape hiding inside one operator (measured r17: q_canonical
    // 6.5 -> ~3.9 executor-CPU sec, q_split_leakfree 6.1 -> ~3.5, the
    // full Jaccard pipeline no longer runs twice). The union itself
    // stays lazy — both arms are block reads of the pinned pairs, so
    // each consumer pays two cheap scans instead of a second full
    // materialization job.
    val pairsMat = Materialize.checkpoint(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
    val edgesMat = pairsMat.unionByName(
      pairsMat.select(col("dst").as("src"), col("src").as("dst")))
    // Seed with the one-hop neighbor min: while labels are still the
    // identity, min(neighbor labels) is just min(neighbor ids), so the
    // whole first round collapses to one groupBy over the edge list —
    // no hop join, no jump join (rep(rep) = rep on identity labels).
    // On clique-shaped duplicate clusters (the common case: every copy
    // pairs with every copy) the seed IS the fixpoint and the loop
    // below runs exactly one confirming hop.
    val seedMin = edgesMat.groupBy(col("src").as("doc_id"))
      .agg(min(col("dst")).as("nmin"))
    var labels = ids.select(col("doc_id"))
      .join(seedMin, Seq("doc_id"), "left")
      .select(col("doc_id"),
        least(col("doc_id"), coalesce(col("nmin"), col("doc_id"))).as("rep"))
    labels = Materialize.checkpoint(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val neighborMin = edgesMat
        .join(labels, col("dst") === col("doc_id"))
        .groupBy("src")
        .agg(min("rep").as("nmin"))
      // Carry the previous label through the update so convergence is
      // read off the SAME materialization — no second join per round.
      val hopped = labels.as("l")
        .join(neighborMin, col("l.doc_id") === col("src"), "left")
        .select(col("l.doc_id").as("doc_id"),
          least(col("l.rep"), coalesce(col("nmin"), col("l.rep"))).as("rep"),
          col("l.rep").as("prev_rep"))
      // Materialized so the convergence read and the self-join below
      // both hit this, not the hop join twice.
      val hoppedMat = Materialize.checkpoint(hopped)
      // Convergence is decidable on the HOP alone: edges are symmetric,
      // so an unchanged hop means rep(v) <= rep(u) in both directions of
      // every edge -> rep is constant per component, and since rep(v)
      // <= v with the component min m giving rep(m) <= m, that constant
      // is exactly m. Checking here (not after the jump) makes the last
      // round 1 join + 1 scan instead of 2 joins + 1 scan.
      converged = hoppedMat.filter(col("rep") =!= col("prev_rep")).isEmpty
      if (converged) {
        labels = hoppedMat.drop("prev_rep")
      } else {
        // Pointer jump: rep ← rep(rep). Every label is itself a doc id,
        // so the lookup is a self-join on the label table; labels only
        // decrease, hence rep(rep) ≤ rep and `least` is for safety only.
        labels = Materialize.checkpoint(hoppedMat.as("u")
          .join(hoppedMat.select(col("doc_id").as("__jid"), col("rep").as("__jrep")),
            col("u.rep") === col("__jid"), "left")
          .select(col("u.doc_id").as("doc_id"),
            least(col("u.rep"), coalesce(col("__jrep"), col("u.rep"))).as("rep")))
      }
      iter += 1
    }
    if (!converged) {
      throw new IllegalStateException(
        s"nearDupComponents did not converge after $maxIter rounds — " +
          "component diameter exceeds 2^maxIter hops (pathological chain " +
          "graph?); raise maxIter rather than accept non-minimal " +
          "representatives")
    }
    labels
  }

  /** INCREMENTAL connected components for the append-only corpus loop:
    * [[nearDupComponents]]' labels maintained through NEW pair
    * evidence instead of a full re-closure. Near-dup pair evidence
    * only ever GROWS as a corpus is extended (a pair's Jaccard is a
    * property of the two documents alone), so the merged closure
    * factors through the QUOTIENT graph: contract each new pair
    * endpoint to its prior representative (prior labels are a valid
    * depth-1 union-find forest — every rep is its component's min),
    * drop the now-internal self-pairs, run the pointer-jumping
    * closure on that contracted set ONLY — its size is bounded by the
    * clusters the new evidence touches, not the corpus — and remap:
    * `rep(doc) = newRep(priorRep(doc))`. Min-of-component-minima IS
    * the merged component's min, so the result is spec-pinned EQUAL
    * to a full [[nearDupComponents]] over `priorPairs ∪ newPairs`
    * (DedupSpec) and exact-gated cross-engine by
    * q_dedup_components_inc against the full-rebuild recursive-CTE
    * oracle verbatim. [[Crawl.mirrorClustersIncremental]] is this
    * operator on host strings.
    *
    * `ids` is the CURRENT universe (old + new documents) — output has
    * one row per id; ids unknown to both the prior table and the new
    * pairs map to themselves.
    *
    * Scale shape: two hash joins keyed on the id (prior labels ×
    * new-pair endpoints, prior labels × universe), the O(log d)
    * pointer-jumping rounds on the TOUCHED subgraph only, one hash
    * join remapping touched reps. Nothing scales with the untouched
    * cluster count — the recrawl/append case runs closure work
    * proportional to the delta. */
  def nearDupComponentsIncremental(
      ids: DataFrame,
      priorLabels: DataFrame,
      newPairs: DataFrame,
      maxIter: Int = 25): DataFrame = {
    val prior = priorLabels.select(col("doc_id"), col("rep"))
    // Lazily pinned: `contracted` (the new-pair evidence joined twice
    // against the prior labels) feeds THREE consumers — both arms of
    // the `touched` union below and [[nearDupComponents]]' pair pin —
    // so without this the contraction joins (and the whole newPairs
    // lineage under them) execute three times. Lazy is enough: the
    // first action to touch it is nearDupComponents' eager pair
    // checkpoint, where `contracted` appears exactly once, so there is
    // no same-job cache race; every later consumer reads the pinned
    // blocks.
    val contracted = Materialize.checkpoint(
      newPairs
        .join(prior.select(col("doc_id").as("id_a"), col("rep").as("__ra")),
          Seq("id_a"), "left")
        .join(prior.select(col("doc_id").as("id_b"), col("rep").as("__rb")),
          Seq("id_b"), "left")
        .select(
          coalesce(col("__ra"), col("id_a")).as("id_a"),
          coalesce(col("__rb"), col("id_b")).as("id_b"))
        .filter(col("id_a") =!= col("id_b")),
      eager = false)
    val touched = contracted.select(col("id_a").as("doc_id"))
      .union(contracted.select(col("id_b").as("doc_id")))
      .distinct()
    val remap = nearDupComponents(touched, contracted, maxIter)
      .select(col("doc_id").as("__r0"), col("rep").as("__new_rep"))
    ids.select(col("doc_id"))
      .join(prior, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("__r0"))
      .join(remap, Seq("__r0"), "left")
      .select(col("doc_id"),
        coalesce(col("__new_rep"), col("__r0")).as("rep"))
  }

  /** Full corpus dedup: exact dups collapse via content hash, near-dup
    * clusters (MinHash candidates verified by exact Jaccard) collapse to
    * their min-id representative. Returns the surviving rows. */
  def dedupCorpus(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    // Materialized once: the exact-dedup survivor set feeds the MinHash
    // signatures, BOTH sides of the verify join, and the component ids —
    // without this the window-dedup recomputes three times.
    val exact = Materialize.checkpoint(dropExactDuplicates(df, textCol, idCol))
    val pairs = nearDupPairs(exact, idCol, textCol, k, threshold = threshold)
      .select("id_a", "id_b")
    val reps = nearDupComponents(exact.select(col(idCol).as("doc_id")), pairs)
      .filter(col("doc_id") === col("rep"))
      .select(col("doc_id").as(idCol))
    df.join(reps, idCol)
  }

  /** Embedding-cosine near-duplicate pairs (semantic dedup).
    *
    * `exact = true` scores every (i < j) pair with the native fused
    * cosine — O(n²), the verify/small-corpus path (the oracle-checkable
    * one). `exact = false` goes through the native
    * euclidean-LSH bucket join ([[Similarity.annCosinePairs]]) and only
    * scores within-bucket candidates — the 100 TB path.
    *
    * Contract: all vectors in `vecCol` must have EQUAL dimension. The
    * exact path precomputes each vector's norm over its full length,
    * while the fused [[Similarity.cosine]] folds over the common prefix
    * `min(len(a), len(b))` — on ragged inputs the two paths would
    * disagree. Equal dimension is the only shape under which "cosine
    * similarity" is well-defined anyway. */
  def embeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      exact: Boolean = false): DataFrame =
    if (exact) exactCosinePairsBlocked(df, idCol, vecCol, threshold)
    else {
      // Band shape tuned on the synthetic embeddings (dim 64, cosine
      // threshold 0.45): 8 tables × 2 AND-composed projections at
      // w = 0.3 measures pair recall 0.993 at sf0.1 with ~2× fewer
      // candidate rows than the single-projection spark.ml-default
      // shape (4 × 1 at w = 0.5, recall 0.993 but near-all-pairs
      // candidates). More AND (r = 3-4, smaller w) collapses recall on
      // barely-over-threshold pairs — same lesson as the SRP 16×4
      // band shape.
      Similarity
        .annCosinePairs(df, df, idCol, vecCol, idCol, vecCol,
          maxCosDist = 1.0 - threshold,
          numHashTables = 8, bucketLength = 0.3, rowsPerTable = 2)
        .filter(col("id_a") < col("id_b") && col("sim") >= threshold)
    }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540 — public): cluster the embeddings with the IVF
    * coarse quantizer — MULTI-PROBE, each row in its `nProbes` nearest
    * cells ([[Similarity.assignCellsMulti]]) — score cosine pairs
    * WITHIN shared cells only, connect the ≥ `threshold` pairs into
    * components, and keep one representative (min id) per component.
    *
    * The clustering is what makes semantic dedup runnable at corpus
    * scale: n docs in c balanced cells score ~P²·n²/c pairs instead of
    * n². Cross-cluster near-duplicates are the residual miss — the
    * paper's single-cell variant loses every boundary-straddling pair
    * (measured 0.29 pair recall on the near-isotropic synthetic
    * embeddings at sf0.1); top-2 probing converts the bulk of those
    * misses into hits. That loss is MEASURED, not assumed:
    * q_semdedup_recall gates the fraction of exact global
    * cosine-≥-threshold pairs that land in one component.
    * Cluster assignment is engine-specific (sampled k-means), so the
    * output is rows-only in CORRECTNESS; the recall companion plus the
    * partition invariants (`keep` marks exactly the component minima)
    * carry the oracle-gated contract.
    *
    * Shape: ONE assignment pass (broadcast centroids), one
    * vector-carrying shuffle on `__cell` for the within-cell self-join,
    * then the pair pipeline runs on bare ids. The assignment is
    * materialized so the k-means transform doesn't re-run per
    * downstream branch. Zero-norm embeddings have no direction, hence
    * no semantic identity: dropped (same contract as every cosine
    * operator here). At 100 TB the within-cell join is the knob: cells
    * are sized by `nClusters` so a cell fits one task's memory, and a
    * skewed mega-cell is exactly what [[exactCosinePairsBlocked]]'s
    * tiling handles if a cell needs further splitting. */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nClusters: Int = 16,
      nProbes: Int = 2,
      seed: Long = 42L,
      maxIter: Int = 8,
      fitSampleFraction: Double = 0.25): DataFrame = {
    val assigned = Materialize.checkpoint(
      Similarity.assignCellsMulti(df, idCol, vecCol, nClusters, nProbes,
        seed, maxIter, fitSampleFraction))
    // Multi-probe postings: each row appears in its nProbes nearest
    // cells; a straddling near-dup pair is caught when ANY cell is
    // shared. Vectors ride the cell join (P× inflation) so no id
    // join-back is needed; the pair `distinct` collapses multi-cell
    // double-hits before components.
    val posts = assigned.select(
      col(idCol), col(vecCol), explode(col("__cells")).as("__cell"))
    val a = posts.select(
      col("__cell"), col(idCol).as("id_a"), col(vecCol).as("__va"))
    val b = posts.select(
      col("__cell"), col(idCol).as("id_b"), col(vecCol).as("__vb"))
    val pairs = a.join(b, Seq("__cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", round(Similarity.cosine(col("__va"), col("__vb")), 6))
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b")
      .distinct()
    val reps = nearDupComponents(
      assigned.select(col(idCol).as("doc_id")), pairs)
      .select(col("doc_id").as(idCol), col("rep"))
    assigned
      .join(reps, idCol)
      .withColumn("keep", col(idCol) === col("rep"))
      .select(col(idCol), element_at(col("__cells"), 1).as("cell"),
        col("rep"), col("keep"))
  }

  /** Exact all-pairs cosine ≥ threshold via BLOCK-PARTITIONED scoring.
    *
    * The naive formulation (`a.join(b, id_a < id_b)` + a scored
    * projection) makes the nested-loop join materialize one UnsafeRow
    * PER PAIR carrying both full vectors — at n = 2k × dim 64 that is
    * ~2M row copies of ~600 B each before a single flop, and it
    * dominated the runtime ~40× over the arithmetic. Here vectors are
    * grouped into `nBlocks` blocks, only the B(B+1)/2 block-pair rows
    * flow through a (broadcast, trivially small) join, and each block
    * pair is scored in a tight primitive-array loop inside `flatMap`
    * that emits ONLY qualifying pairs — per-pair row materialization
    * disappears. This is the dense-GEMM tiling pattern: at 100 TB each
    * block row is a bounded tile, the block-pair grid gives B²/2-way
    * parallelism, and data inflation is a factor of B (choose
    * B ≈ √cluster-cores; callers should persist the block table when
    * the corpus scan is expensive).
    *
    * Arithmetic parity with the fused [[Similarity.cosine]] /
    * per-vector-norm form (and the DuckDB oracle): norms are the same
    * `sqrt(left-fold of x²)` Spark expression, the dot is the same
    * sequential index-order fold, and `round(dot/(na·nb), 6)` is
    * applied by the same Spark `round` expression AFTER the loop — the
    * loop prefilters with a `threshold − 1e-6` margin (rounding to 6
    * decimals moves a value by < 5e-7, so no qualifying pair is lost).
    * Requires an integral id column (ids are carried as longs through
    * the tuple encoder). */
  def exactCosinePairsBlocked(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nBlocks: Int = 32): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val vd = col(vecCol).cast("array<double>")
    val nrm = sqrt(aggregate(transform(vd, x => x * x), lit(0.0), (acc, x) => acc + x))
    val blocks = df
      .select(
        pmod(hash(col(idCol)), lit(nBlocks)).as("b"),
        struct(col(idCol).cast("long").as("_1"), vd.as("_2"), nrm.as("_3")).as("r"))
      .groupBy("b")
      .agg(collect_list(col("r")).as("rows"))
    val pairs = blocks.as("p")
      .join(blocks.as("q"), col("p.b") <= col("q.b"))
      .select(
        (col("p.b") === col("q.b")).as("same"),
        col("p.rows").as("pr"), col("q.rows").as("qr"))
      .as[(Boolean, Seq[(Long, Seq[Double], Double)], Seq[(Long, Seq[Double], Double)])]
    val cut = threshold - 1e-6
    val raw = pairs.flatMap { case (same, pr, qr) =>
      val ps = pr.iterator.map { case (i, v, n) => (i, v.toArray, n) }.toArray
      val qs =
        if (same) ps
        else qr.iterator.map { case (i, v, n) => (i, v.toArray, n) }.toArray
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      var i = 0
      while (i < ps.length) {
        val (ida, va, na) = ps(i)
        // Same-block tile: score the strict upper triangle once.
        var j = if (same) i + 1 else 0
        while (j < qs.length) {
          val (idb, vb, nb) = qs(j)
          if (ida != idb) {
            val n = math.min(va.length, vb.length)
            var k = 0
            var dot = 0.0
            while (k < n) { dot += va(k) * vb(k); k += 1 }
            val sim = dot / (na * nb)
            // NaN (zero-norm vector ⇒ undefined cosine) must survive to
            // the Spark-side filter: Spark SQL and DuckDB both order NaN
            // ABOVE every value, so `sim >= threshold` keeps it there —
            // Java's `NaN >= cut` (false) would silently diverge.
            if (sim >= cut || java.lang.Double.isNaN(sim)) {
              if (ida < idb) out += ((ida, idb, sim)) else out += ((idb, ida, sim))
            }
          }
          j += 1
        }
        i += 1
      }
      out
    }
    raw.toDF("id_a", "id_b", "raw")
      .withColumn("sim", round(col("raw"), 6))
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
  }

  /** 64-bit SimHash signature per document via the native
    * [[graft.functions.SimHash64]] expression — a pure per-row
    * projection inside codegen, NO shuffle (the aggregation formulation
    * this replaced exploded and shuffled every token of the corpus;
    * per-token hashes are xxhash64-seed-42 compatible so signatures are
    * unchanged). */
  def simHash64(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.SimHash64
        .simHash64(TextAnalysis.tokens(col(textCol))).as("simhash"))

  /** SimHash near-dup pairs with hamming distance ≤ `maxHamming` (≤ 3
    * with the default 4×16-bit banding, by pigeonhole the banding is
    * exact — no candidate with hamming ≤ 3 is missed). Join cost is per
    * band-value bucket, never all-pairs. */
  def simHashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4x16 banding only guarantees hamming <= 3")
    val sig = simHash64(df, idCol, textCol)
    val bandCols = array((0 until 4).map(b =>
      shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(0xFFFFL)): _*)
    val bands = sig
      .select(col("id"), col("simhash"), posexplode(bandCols))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bval")
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
          col("a.id") < col("b.id"))
      .select(
        col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.simhash").as("sa"), col("b.simhash").as("sb"))
      .distinct()
    cand
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Canonical selection: ONE surviving document per near-dup cluster,
    * chosen by the caller's quality ordering (longest / highest-scoring
    * / freshest) instead of the arbitrary min-id representative — the
    * "keep the best copy" step that follows clustering in every dedup
    * pipeline.
    *
    * `df` must contain `idCol` plus every column the ordering touches;
    * `pairs` is any `(id_a, id_b)` near-dup pair set (exact or banded).
    * Output = the full `df` row of each survivor plus its cluster `rep`.
    *
    * Scale: components are O(log diameter) rounds over the pair set
    * ([[nearDupComponents]]); the selection itself is the GroupedTopK
    * custom operator with k = 1, so each partition forwards at most one
    * candidate row per cluster to the single exchange — no full
    * row_number sort of the corpus. Give the ordering a unique
    * tie-break column to keep the survivor deterministic. */
  def keepCanonical(
      df: DataFrame,
      pairs: DataFrame,
      idCol: String,
      orderBy: Seq[Column],
      maxIter: Int = 25): DataFrame = {
    val reps = nearDupComponents(
      df.select(col(idCol).as("doc_id")), pairs, maxIter)
      .select(col("doc_id").as(idCol), col("rep"))
    graft.plans.GroupedTopK.topKPerGroup(
      df.join(reps, idCol), Seq("rep"), orderBy, k = 1)
  }

  /** Cross-group duplication matrix: duplicate-pair counts per
    * UNORDERED group pair — "which crawls/sources copy each other", the
    * provenance report that decides which source to drop when near-dups
    * straddle two of them. Takes ANY `(id_a, id_b)` pair set (exact or
    * banded, same contract as [[nearDupComponents]]); group labels come
    * from `df`'s `groupCol`. Normalized `least/greatest` so (A,B) and
    * (B,A) count as one cell; the diagonal counts within-group pairs.
    *
    * The pair set is sub-quadratic by construction and the label table
    * projects to `(id, group)` before joining — two hash joins that
    * broadcast whenever either side is small, then a partial-agg count
    * over at most |groups|² cells. */
  def dupGroupMatrix(
      df: DataFrame,
      pairs: DataFrame,
      idCol: String,
      groupCol: String): DataFrame = {
    // NULL labels become their own named group: least/greatest SKIP
    // nulls, so a (web, NULL) pair would otherwise collapse onto the
    // (web, web) diagonal — inflating self-duplication and hiding the
    // unlabeled source entirely.
    val g = df.select(col(idCol).as("__gid"),
      coalesce(col(groupCol).cast("string"), lit("(unknown)")).as("__g"))
    pairs
      .join(g.as("ga"), col("id_a") === col("ga.__gid"))
      .join(g.as("gb"), col("id_b") === col("gb.__gid"))
      .select(
        least(col("ga.__g"), col("gb.__g")).as("group_a"),
        greatest(col("ga.__g"), col("gb.__g")).as("group_b"))
      .groupBy("group_a", "group_b")
      .agg(count(lit(1)).as("n_pairs"))
  }
}
