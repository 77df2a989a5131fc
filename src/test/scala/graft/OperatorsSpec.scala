package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Behavior + plan-shape tests for the LLM-pipeline operators. */
class OperatorsSpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  private def docs = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "en"),
      (2L, "the quick brown fox jumps over the lazy cat", "en"),
      (3L, "le chat et le chien dans la maison", "fr"),
      (4L, "der hund und die katze in das haus", "de"),
      (5L, "the quick brown fox jumps over the lazy dog", "en"), // exact dup of 1
      (6L, "completely different words entirely here now today", "en"),
      (7L, "ab", "en") // below shingle size
    ).toDF("doc_id", "text", "lang")
  }

  test("exactDedup keeps one representative per distinct content") {
    val out = Dedup.exactDedup(docs, "text", "doc_id")
    assert(out.count() == 6) // 7 docs, one exact dup
    val reps = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(reps.contains(1L) && !reps.contains(5L), "min doc_id wins")
  }

  test("dropExactDuplicates keeps full lowest-id rows") {
    val out = Dedup.dropExactDuplicates(docs, "text", "doc_id")
    assert(out.count() == 6)
    assert(out.columns.toSeq == Seq("doc_id", "text", "lang"))
  }

  test("dedupAgainstReferenceBloom is bit-identical to the exact anti join") {
    val s = spark
    import s.implicits._
    val batch = docs
    val reference = Seq(
      (100L, "the quick brown fox jumps over the lazy dog", "en"), // dup of 1/5
      (101L, "le chat et le chien dans la maison", "fr"),          // dup of 3
      (102L, "reference only content never in batch", "en")
    ).toDF("doc_id", "text", "lang")
    val exact = Dedup.dedupAgainstReference(batch, reference, "text", "text")
    val bloom = Dedup.dedupAgainstReferenceBloom(
      batch, reference, "text", "text", expectedItems = 1000L)
    val ex = exact.collect().map(_.getLong(0)).toSet
    val bl = bloom.collect().map(_.getLong(0)).toSet
    assert(ex == Set(2L, 4L, 6L, 7L))
    assert(bl == ex, "bloom prefilter must not change the result")
    assert(bloom.columns.toSeq == batch.columns.toSeq)
  }

  test("nearDupAgainstReference drops fuzzy matches, keeps unrelated and short docs") {
    val s = spark
    import s.implicits._
    val reference = Seq((100L, "the quick brown fox jumps over the lazy dog", "en"))
      .toDF("doc_id", "text", "lang")
    // docs 1/5 are exact copies of ref (jaccard 1.0); doc 2 differs by
    // one word (6 of 7 shingles shared -> 0.75); doc 7 is too short to
    // shingle and must survive by construction.
    val pairs = Dedup.ngramJaccardPairsAgainst(
      docs, reference, "doc_id", "text", k = 3, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 100L), (2L, 100L), (5L, 100L)),
      s"cross-corpus pairs only, got $pairs")
    val kept = Dedup.nearDupAgainstReference(
      docs, reference, "doc_id", "text", k = 3, threshold = 0.7)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 4L, 6L, 7L))
  }

  test("minhash band index: cache round trip probes identically to the live bands") {
    import graft.extensions._
    val s = spark
    import s.implicits._
    val reference = Seq(
      (100L, "the quick brown fox jumps over the lazy dog", "en"),
      (101L, "completely different words entirely here now today", "en"))
      .toDF("doc_id", "text", "lang")
    val live = Dedup.buildMinHashBandIndex(reference, "doc_id", "text")
    val fromCache = live.cacheToDbfs(
      overridePreferSparkCache = true,
      dbfsCacheComplexityThreshold = None,
      dbfsCacheMultiplierThreshold = None)
    def probe(ix: org.apache.spark.sql.DataFrame) =
      Dedup.minHashPairsAgainstIndex(docs, ix, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val a = probe(live)
    val b = probe(fromCache)
    assert(a == b, "index served from the cache table must probe identically")
    assert(a.nonEmpty, "exact copies of ref doc 100 must surface as candidates")
    // Survivor semantics: exact copies of ref 100 (docs 1 and 5) drop;
    // the unrelated/short docs survive. Doc 6 matches ref 101 exactly
    // and must drop too.
    val kept = Dedup.nearDupAgainstIndex(
      docs, fromCache, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(!kept.contains(1L) && !kept.contains(5L) && !kept.contains(6L))
    assert(kept.contains(3L) && kept.contains(4L) && kept.contains(7L),
      s"unrelated and sub-shingle docs must survive, kept=$kept")
  }

  test("bigramLogProbs matches an in-memory reference model") {
    val s = spark
    import s.implicits._
    val corpus = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "c a"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bigramLogProbs(corpus, "doc_id", "text", lambda = 0.75)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    // In-memory model over the same corpus
    val toks = Map(1L -> Seq("a", "b", "a", "b"), 2L -> Seq("a", "b", "c"), 3L -> Seq("c", "a"))
    val all = toks.values.flatten.toSeq
    val cu = all.groupBy(identity).view.mapValues(_.size.toDouble).toMap
    val n = all.size.toDouble
    val bigrams = toks.values.flatMap(ts => ts.zip(ts.tail)).toSeq
    val cb = bigrams.groupBy(identity).view.mapValues(_.size.toDouble).toMap
    val c1 = bigrams.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    def lp(ts: Seq[String]): Double =
      math.log(cu(ts.head) / n) +
        ts.zip(ts.tail).map { case (w1, w2) =>
          math.log(0.75 * (cb((w1, w2)) / c1(w1)) + 0.25 * (cu(w2) / n))
        }.sum
    for ((id, ts) <- toks) {
      val (nTok, logprob, avgLp) = out(id)
      assert(nTok == ts.size.toLong, s"doc $id n_tok")
      val want = BigDecimal(lp(ts)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      assert(math.abs(logprob - want.toDouble) < 2e-6, s"doc $id: $logprob vs $want")
      assert(math.abs(avgLp - logprob / nTok) < 2e-6, s"doc $id avg")
    }
  }

  test("topTokenFraction: deterministic lexicographic tie-break, no shuffle") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "b a b a c"), (2L, "z z z y"))
      .toDF("doc_id", "text")
      .select(col("doc_id") +: TextAnalysis.topTokenFraction(col("text")): _*)
    val rows = df.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(rows(1L) == (("a", 2L, 0.4)), "tie a/b at 2 -> lexicographic min a")
    assert(rows(2L) == (("z", 3L, 0.75)))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"expected map-only plan:\n$p")
  }

  test("ngramJaccardPairs finds near-dups, not unrelated docs") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 5L)), "exact dup pair found")
    assert(pairs.contains((1L, 2L)), "near dup (one word changed) found")
    assert(!pairs.exists(p => p._1 == 6L || p._2 == 6L), "unrelated doc excluded")
  }

  // The size filter keeps a pair only when min(|A|,|B|) >= (t - 1e-6) *
  // max(|A|,|B|). These pins sit on its boundary; every expected row is
  // the output of the count-join formulation the filter replaced.
  private def jaccardRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("Jaccard size filter: a contained 2-of-3 doc still reports 0.666667") {
    val s = spark
    import s.implicits._
    // J = 2/3 rounds up to the threshold while the size ratio 2/3 sits
    // below it: only the margin keeps this pair.
    val d = Seq((1L, "a b c d"), (2L, "a b c d e")).toDF("doc_id", "text")
    assert(jaccardRows(Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, 0.666667)) ==
      Set((1L, 2L, 0.666667)))
    assert(jaccardRows(Dedup.ngramJaccardPairsAgainst(d.filter($"doc_id" === 2),
      d.filter($"doc_id" === 1), "doc_id", "text", 3, 0.666667)) == Set((2L, 1L, 0.666667)))
  }

  test("Jaccard size filter: J exactly at the threshold (4 of 5 shingles) is kept") {
    val s = spark
    import s.implicits._
    val d = Seq((3L, "p q r s t u"), (4L, "p q r s t u v")).toDF("doc_id", "text")
    assert(jaccardRows(Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, 0.8)) ==
      Set((3L, 4L, 0.8)))
    assert(jaccardRows(Dedup.ngramJaccardPairsAgainst(d.filter($"doc_id" === 3),
      d.filter($"doc_id" === 4), "doc_id", "text", 3, 0.8)) == Set((3L, 4L, 0.8)))
  }

  test("Jaccard maxDf: a hot shingle is dropped, null ids count toward no posting list") {
    val s = spark
    import s.implicits._
    // "x y z" is in 3 docs (dropped at maxDf 2): 1-2 keep 2 of their 3
    // shared shingles. The null-id copy of doc 4 is in no posting list,
    // so 4-5's lists stay at length 2.
    val d = Seq[(Option[Long], String)](
      (Some(1L), "x y z a b c"), (Some(2L), "x y z a b d"), (Some(3L), "x y z q r s"),
      (Some(4L), "m n o p q"), (Some(5L), "m n o p q r"), (None, "m n o p q"))
      .toDF("doc_id", "text")
    assert(jaccardRows(Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, 0.3, Some(2))) ==
      Set((1L, 2L, 0.333333), (4L, 5L, 0.75)))
    assert(jaccardRows(Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, 0.3)) ==
      Set((1L, 2L, 0.6), (4L, 5L, 0.75)))
    val ref = d.filter($"doc_id" === 5 || $"doc_id".isNull)
    assert(jaccardRows(Dedup.ngramJaccardPairsAgainst(d.filter($"doc_id" =!= 5 || $"doc_id".isNull),
      ref, "doc_id", "text", 3, 0.3, Some(2))) == Set((4L, 5L, 0.75)))
  }

  test("exact Jaccard pairs keep their output schema: ids non-null") {
    // Parquet ids are nullable; the pair ids are not.
    val corpus = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    assert(corpus.schema("doc_id").nullable)
    assert(Dedup.ngramJaccardPairs(corpus, "doc_id", "text").schema.toDDL ==
      "id_a BIGINT NOT NULL,id_b BIGINT NOT NULL,jaccard DOUBLE")
    assert(Dedup.ngramJaccardPairsAgainst(corpus, corpus, "doc_id", "text").schema.toDDL ==
      "id_batch BIGINT NOT NULL,id_ref BIGINT NOT NULL,jaccard DOUBLE")
  }

  test("minHash candidates match exact near-dups and the plan has no cartesian") {
    // r = 1 for high recall at moderate jaccard on this tiny corpus;
    // seeded hashes make the outcome deterministic.
    val nd = Dedup.minHashNearDupPairs(docs, "doc_id", "text",
      k = 3, rowsPerBand = 1, numBands = 8, threshold = 0.3)
    val plan = nd.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"LSH join must be bucketed, not all-pairs:\n$plan")
    val pairs = nd.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 5L)), "exact dup: all minhashes equal")
    assert(pairs.contains((1L, 2L)), "near dup candidate")
    assert(!pairs.exists(p => p._1 == 6L || p._2 == 6L), "unrelated excluded")
  }

  test("minhash signature: exact dups identical, estimate tracks jaccard") {
    val sigs = Dedup.minHashSignatures(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(5L))
    val matches12 = sigs(1L).zip(sigs(2L)).count(p => p._1 == p._2)
    assert(matches12 > 0 && matches12 < 18, "near-dup shares some minhashes")
  }

  test("nearDupPairs: minhash candidates + exact verify equals pure exact on near-dups") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val composed = Dedup.nearDupPairs(docs, "doc_id", "text", k = 3,
      rowsPerBand = 1, numBands = 8, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(composed == exact,
      s"composed=$composed exact=$exact (jaccard values must be the exact ones)")
  }

  test("nearDupComponents collapses transitive clusters to min-id reps") {
    val s = spark
    import s.implicits._
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    // chain 1-2-3 (transitive), pair 4-5, singleton 6
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val reps = Dedup.nearDupComponents(ids, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L))
  }

  test("nearDupComponents converges on a chain far longer than the round cap") {
    val s = spark
    import s.implicits._
    // Path graph 0-1-2-...-63: diameter 63, which plain one-hop
    // propagation could not finish inside the default round cap —
    // pointer jumping must (label distance ~doubles per round).
    val n = 64
    val ids = (0 until n).map(_.toLong).toDF("doc_id")
    val pairs = (0 until n - 1).map(i => (i.toLong, i.toLong + 1)).toDF("id_a", "id_b")
    val reps = Dedup.nearDupComponents(ids, pairs, maxIter = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps.size == n && reps.values.forall(_ == 0L),
      s"all chain members must collapse to rep 0: $reps")
  }

  test("nearDupComponentsIncremental == full rebuild over all evidence") {
    val s = spark
    import s.implicits._
    // Prior: clusters {1,2,3} and {4,5}, singletons 6/7.
    val priorPairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val oldIds = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("doc_id")
    val prior = Dedup.nearDupComponents(oldIds, priorPairs)
    // New evidence: 3~4 MERGES the two prior clusters; brand-new doc 8
    // attaches to singleton 6; 7 untouched; new doc 9 is a singleton.
    val newPairs = Seq((3L, 4L), (6L, 8L)).toDF("id_a", "id_b")
    val ids = (1L to 9L).toDF("doc_id")
    val inc = Dedup.nearDupComponentsIncremental(ids, prior, newPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Dedup.nearDupComponents(ids, priorPairs.unionByName(newPairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc == full, s"incremental $inc vs full $full")
    assert(inc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      6L -> 6L, 7L -> 7L, 8L -> 6L, 9L -> 9L))
  }

  test("nearDupComponents fails loudly when the round cap is exhausted") {
    val s = spark
    import s.implicits._
    val n = 16
    val ids = (0 until n).map(_.toLong).toDF("doc_id")
    val pairs = (0 until n - 1).map(i => (i.toLong, i.toLong + 1)).toDF("id_a", "id_b")
    // One round cannot finish a 15-hop chain — must throw, never return
    // non-minimal representatives (train/test contamination downstream).
    val e = intercept[IllegalStateException] {
      Dedup.nearDupComponents(ids, pairs, maxIter = 1).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("dedupCorpus keeps one representative per exact+near cluster") {
    val out = Dedup.dedupCorpus(docs, "doc_id", "text", threshold = 0.5)
    val kept = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(1L) && !kept.contains(5L), "exact dup dropped")
    assert(!kept.contains(2L), "near dup (1,2) collapsed to doc 1")
    assert(kept.contains(3L) && kept.contains(4L) && kept.contains(6L) &&
      kept.contains(7L), s"non-duplicates survive: $kept")
  }

  test("saltedJoin equals plain join and spreads the hot key") {
    val s = spark
    import s.implicits._
    // heavily skewed: 900 rows of key 1, 100 of others
    val big = ((1 to 900).map(i => (1L, i)) ++ (1 to 100).map(i => (i.toLong + 1, i)))
      .toDF("k", "v")
    val dim = Seq((1L, "hot"), (2L, "a"), (50L, "b")).toDF("k", "name")
    val plain = big.join(dim, "k").collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val salted = Skew.saltedJoin(big, dim, "k", saltFactor = 4)
      .select("k", "v", "name")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(salted == plain)
  }

  test("editDistancePairs verifies candidates at character level") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta thetaX"), // 1 char off
      (3L, "alpha beta gamma delta epsilon zeta eta iota mu nu xi pi"),
      (4L, "totally different words nothing shared here at all")
    ).toDF("doc_id", "text")
    val out = Dedup
      .editDistancePairs(df, "doc_id", "text", k = 3, jaccardMin = 0.3,
        maxDist = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(3))
      .toMap
    assert(out.contains((1L, 2L)) && out((1L, 2L)) == 1,
      s"one-char edit must survive with distance 1: $out")
    // (1,3) shares shingles (jaccard above 0.3) but is 19 edits away —
    // the character-level verify must drop it.
    assert(!out.contains((1L, 3L)), s"distant pair must be dropped: $out")
    // A generous maxDf is a no-op (all posting lists under the cap) —
    // the cutoff threads through without changing exact results.
    val capped = Dedup
      .editDistancePairs(df, "doc_id", "text", k = 3, jaccardMin = 0.3,
        maxDist = 5, maxDf = Some(100))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(3))
      .toMap
    assert(capped == out)
  }

  test("keySkewReport quantifies a hot key and reads 1.0 on uniform data") {
    val s = spark
    import s.implicits._
    val skewed = ((1 to 900).map(_ => 1L) ++ (2 to 101).map(_.toLong))
      .toDF("k")
    val r = Skew.keySkewReport(skewed, "k").collect()(0)
    assert(r.getAs[Long]("n_keys") == 101L)
    assert(r.getAs[Long]("n_rows") == 1000L)
    assert(r.getAs[Long]("max_rows") == 900L)
    assert(r.getAs[Double]("top_share") == 0.9)
    // max/mean = 900 / (1000/101) = 90.9
    assert(r.getAs[Double]("skew_ratio") == 90.9)

    val uniform = (1 to 100).map(_.toLong).toDF("k")
    val u = Skew.keySkewReport(uniform, "k").collect()(0)
    assert(u.getAs[Double]("skew_ratio") == 1.0)
    assert(u.getAs[Long]("max_rows") == 1L)
  }

  test("simHash: identical docs hash identical, near-dups within hamming 3") {
    val sigs = Dedup.simHash64(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(5L), "exact dups share the signature")
    val pairs = Dedup.simHashNearDupPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 5L)))
  }

  test("cosine similarity: self-similarity 1, orthogonal 0, topk ranks right") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.9f, 0.1f, 0.0f)),
      (4L, Array(-1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val queries = Seq((100L, Array(1.0f, 0.0f, 0.0f))).toDF("qid", "qvec")
    val top = Similarity.bruteForceTopK(corpus, queries,
      "vec_id", "embedding", "qid", "qvec", k = 4)
      .orderBy("rn").collect()
    assert(top.map(_.getLong(1)).toSeq == Seq(1L, 3L, 2L, 4L))
    assert(top.head.getDouble(2) == 1.0)
    assert(top(2).getDouble(2) == 0.0)
    assert(top(3).getDouble(2) == -1.0)
  }

  test("blocked exact cosine pairs equal the naive all-pairs formulation") {
    val e = spark.read.parquet(TestSpark.sf0001 + "/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    def norm(vec: org.apache.spark.sql.Column) = {
      val vd = vec.cast("array<double>")
      sqrt(aggregate(transform(vd, x => x * x), lit(0.0), (a, x) => a + x))
    }
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("__va"),
      norm(col("embedding")).as("__na"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("__vb"),
      norm(col("embedding")).as("__nb"))
    val naive = a.join(b, col("id_a") < col("id_b"))
      .withColumn("sim", round(
        Similarity.dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")), 6))
      .filter(col("sim") >= 0.45)
      .select("id_a", "id_b", "sim")
    val blocked =
      Dedup.exactCosinePairsBlocked(e, "vec_id", "embedding", 0.45, nBlocks = 7)
    assert(naive.count() > 0, "fixture produced no qualifying pairs")
    // Set equality INCLUDING the sim values (bit-identical arithmetic).
    assert(naive.exceptAll(blocked).isEmpty && blocked.exceptAll(naive).isEmpty)
  }

  test("aggregator top-k equals the window top-k and partially aggregates") {
    val e = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val c = e.select(col("vec_id"), col("embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val viaWindow = rows(Similarity.bruteForceTopK(c, q, "vec_id", "embedding", "qid", "qvec", 4))
    val viaAgg = rows(Similarity.bruteForceTopKAgg(c, q, "vec_id", "embedding", "qid", "qvec", 4))
    assert(viaAgg == viaWindow)
    val plan = Similarity.bruteForceTopKAgg(c, q, "vec_id", "embedding", "qid", "qvec", 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial"), s"must partially aggregate map-side:\n$plan")
  }

  test("ANN LSH top-k agrees with brute force on an easy corpus") {
    val e = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val c = e.select(col("vec_id"), col("embedding"))
    val brute = Similarity.bruteForceTopK(c, q, "vec_id", "embedding", "qid", "qvec", 3)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Generous radius AND coarse buckets (projections on the unit sphere
    // lie in [-1,1], so bucketLength 2 puts almost everything in 1-2
    // buckets per table): recall must be total on this tiny corpus.
    val ann = Similarity.annCosineTopK(c, q, "vec_id", "embedding", "qid", "qvec", 3,
      maxCosDist = 2.0, numHashTables = 8, bucketLength = 2.0)
    val annSet = ann.select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.subsetOf(annSet), s"ANN missed ${brute diff annSet}")
  }

  test("ANN tolerates an all-zero embedding (dropped, not a crash)") {
    val s = spark
    import s.implicits._
    val c = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 0.0f)), // zero norm: no direction — must be skipped
      (3L, Array(0.9f, 0.1f))).toDF("vec_id", "embedding")
    val q = Seq((10L, Array(1.0f, 0.0f))).toDF("qid", "qvec")
    val out = Similarity.annCosineTopK(c, q, "vec_id", "embedding",
      "qid", "qvec", k = 3, maxCosDist = 2.0,
      numHashTables = 8, bucketLength = 2.0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 3L), s"zero vector must drop silently, got $out")
  }

  test("IVF top-k with full probe equals brute force exactly") {
    val e = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val c = e.select(col("vec_id"), col("embedding"))
    val brute = Similarity.bruteForceTopK(c, q, "vec_id", "embedding", "qid", "qvec", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    // probing every cell makes the candidate set the whole corpus
    val ivf = Similarity.ivfCosineTopK(c, q, "vec_id", "embedding", "qid", "qvec", 3,
      nLists = 4, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(ivf == brute, s"ivf=$ivf brute=$brute")
  }

  test("bucketed cache tables join co-located: no shuffle exchange") {
    import graft.extensions._
    val s = spark
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    try {
      val orders = s.read.parquet(s"${TestSpark.sf0001}/orders.parquet")
        .withColumn("bk", lit(1))
      val customer = s.read.parquet(s"${TestSpark.sf0001}/customer.parquet")
        .withColumn("bk", lit(2))
      val co = orders.cacheToDbfs(
        overridePreferSparkCache = true,
        dbfsCacheComplexityThreshold = None,
        dbfsCacheMultiplierThreshold = None,
        bucketBy = Some((4, Seq("o_custkey"))))
      val cc = customer.cacheToDbfs(
        overridePreferSparkCache = true,
        dbfsCacheComplexityThreshold = None,
        dbfsCacheMultiplierThreshold = None,
        bucketBy = Some((4, Seq("c_custkey"))))
      val joined = co.join(cc, col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"same-bucketing join must be co-located (no shuffle):\n$plan")
      assert(joined.count() ==
        orders.join(customer, col("o_custkey") === col("c_custkey")).count())
    } finally s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("partitioned cache write prunes partitions on filtered reads") {
    import graft.extensions._
    val orders = spark.read.parquet(s"${TestSpark.sf0001}/orders.parquet")
      .withColumn("part_tag", lit(8))
    val cached = orders.cacheToDbfs(
      overridePreferSparkCache = true,
      dbfsCacheComplexityThreshold = None,
      dbfsCacheMultiplierThreshold = None,
      partitionBy = Seq("o_orderstatus"))
    val filtered = cached.filter(col("o_orderstatus") === "F")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      plan.contains("o_orderstatus"),
      s"filter on the partition column must prune partitions:\n$plan")
    assert(filtered.count() ==
      orders.filter(col("o_orderstatus") === "F").count())
  }

  test("asofJoin matches each left row to the latest right row at-or-before") {
    val s = spark
    import s.implicits._
    val trades = Seq(
      (1L, 100L, 10, "t1"), // key 100, time 10
      (2L, 100L, 20, "t2"),
      (3L, 100L, 5, "t3"), // before any quote
      (4L, 200L, 15, "t4")
    ).toDF("trade_id", "k", "t", "tag")
    val quotes = Seq(
      (100L, 10, 1.0), // equal time => inclusive match for trade 1
      (100L, 12, 2.0),
      (200L, 1, 9.0),
      (200L, 15, 8.0)
    ).toDF("k", "t", "px")
    val out = AsOfJoin.asofJoin(trades, quotes, "k", "k", "t", "t", Seq("px"))
      .collect().map(r => r.getLong(0) -> Option(r.get(4)).map(_.asInstanceOf[Double])).toMap
    assert(out(1L).contains(1.0), "equal timestamp matches inclusively")
    assert(out(2L).contains(2.0), "latest quote <= t wins")
    assert(out(3L).isEmpty, "no quote at-or-before => null")
    assert(out(4L).contains(8.0))
  }

  test("bucketedRangeJoin equals the naive between-join, without nested loop") {
    val s = spark
    import s.implicits._
    val points = Seq(
      (1L, 10L, 5L), (2L, 10L, 15L), (3L, 10L, 25L), (4L, 20L, 12L)
    ).toDF("pid", "k", "t")
    val intervals = Seq(
      (10L, 0L, 10L, "a"), (10L, 11L, 20L, "b"), (10L, 14L, 30L, "c"),
      (20L, 0L, 100L, "d")
    ).toDF("k2", "s", "e", "tag")
    val naive = points.join(intervals,
      col("k") === col("k2") && col("t") >= col("s") && col("t") <= col("e"))
      .select("pid", "tag").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val bucketed = RangeJoin.bucketedRangeJoin(
      points, intervals, "k", "k2", "t", "s", "e", bucketWidth = 8L)
      .select("pid", "tag").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(bucketed == naive, s"bucketed=$bucketed naive=$naive")
    assert(bucketed.contains((2L, "b")) && bucketed.contains((2L, "c")),
      "overlapping intervals both match")
    val plan = RangeJoin.bucketedRangeJoin(
      points, intervals, "k", "k2", "t", "s", "e", 8L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join must be an equi-join on (key, bucket):\n$plan")
  }

  test("asofJoin plan: one shuffle on the key, no join node") {
    val s = spark
    import s.implicits._
    val a = Seq((1L, 1, "x")).toDF("id", "t", "v")
    val b = Seq((1L, 1, 2.0)).toDF("id", "t", "px")
    val plan = AsOfJoin.asofJoin(
      a.withColumnRenamed("id", "k"), b.withColumnRenamed("id", "k"),
      "k", "k", "t", "t", Seq("px"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"composition must not plan a join:\n$plan")
    assert(plan.split("Exchange hashpartitioning").length <= 3,
      s"one hash exchange per union branch at most:\n$plan")
  }

  test("text analysis: tokens, quality, language id") {
    val out = docs.select(
      col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("n"),
      TextAnalysis.languageId(col("text")).as("lang_pred"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getString(2))).toMap
    assert(out(1L)._1 == 9)
    assert(out(1L)._2 == "en")
    assert(out(3L)._2 == "fr")
    assert(out(4L)._2 == "de")
    assert(out(6L)._2 == "und", "no markers => undetermined")
  }

  test("assignSplit: deterministic, covering, and roughly proportional") {
    val docs01 = spark.read.parquet(s"${TestSpark.sf001}/documents.parquet")
    val split = Splits.assignSplit(col("doc_id"),
      Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
    val counts = docs01.groupBy(split.as("s")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 500, "every row gets exactly one split")
    assert(counts("train") > 400 && counts("train") < 490,
      s"~90% train: $counts")
    // repartitioning must NOT change assignments (the sample() pitfall)
    val a = docs01.select(col("doc_id"), split.as("s")).collect().toSet
    val b = docs01.repartition(13).select(col("doc_id"), split.as("s"))
      .collect().toSet
    assert(a == b)
  }

  test("multimodal: asset schema round-trip and partition-parallel features") {
    val assets = Multimodal.toAssets(docs, "doc_id", "text", "lang")
    assert(assets.schema.fieldNames.toSeq == Seq("doc_id", "payload", "meta"))
    val feats = Multimodal.extractFeatures(assets)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(feats(1L) == "the quick brown fox jumps over the lazy dog".length)
    val stats = Multimodal.assetStats(assets)
      .filter(col("doc_id") === 1L).collect().head
    assert(stats.getInt(1) == feats(1L))
    assert(stats.getString(2).length == 64) // sha-256 hex
  }

  test("multimodal: batched extraction matches row-wise exactly") {
    val assets = Multimodal.toAssets(docs, "doc_id", "text", "lang")
    val rowWise = Multimodal.extractFeatures(assets).collect().toSet
    for (batchSize <- Seq(1, 3, 100)) {
      val batched = Multimodal.extractFeaturesBatched(assets, batchSize).collect().toSet
      assert(batched == rowWise, s"batchSize=$batchSize must not change results")
    }
  }

  test("multimodal: frame sampling fans out slices that reassemble the payload") {
    val assets = Multimodal.toAssets(docs, "doc_id", "text", "lang")
    val frames = Multimodal.sampleFrames(assets, nFrames = 4)
    assert(frames.schema.fieldNames.toSeq == Seq("doc_id", "frame_idx", "frame_bytes"))
    val doc1 = frames.filter(col("doc_id") === 1L)
      .orderBy("frame_idx").collect()
    assert(doc1.length == 4)
    val text = "the quick brown fox jumps over the lazy dog"
    val reassembled = doc1.flatMap(_.getAs[Array[Byte]]("frame_bytes"))
    // evenly-spaced non-overlapping slices cover a len/n*n prefix
    val span = text.length / 4
    assert(new String(reassembled, "UTF-8") == text.take(4 * span))
    // a 2-byte payload yields 2 single-byte frames, not 4
    assert(frames.filter(col("doc_id") === 7L).count() == 2)
  }

  test("broadcast hint survives into the physical plan for topk scoring") {
    val e = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val plan = Similarity.bruteForceTopK(
      e.select(col("vec_id"), col("embedding")), q,
      "vec_id", "embedding", "qid", "qvec", 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"query side must broadcast:\n$plan")
  }
}
