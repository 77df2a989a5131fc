package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Decontaminate

/** Decontamination, per-domain caps and deterministic stratified sampling:
  * the operators and their queries. */
class QueriesR7Spec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("ngramOverlap flags a planted eval copy and spares disjoint text") {
    val s = spark
    import s.implicits._
    val eval = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val train = Seq(
      // full copy of the eval doc: every one of its 4 shingles is shared
      (1L, "alpha beta gamma delta epsilon zeta"),
      // one shared shingle window
      (2L, "unrelated words alpha beta gamma other tail here"),
      // disjoint
      (3L, "totally different tokens nothing common at all")
    ).toDF("doc_id", "text")
    val out = Decontaminate
      .ngramOverlap(train, eval, "doc_id", "text", k = 3, minShared = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(1L) == ((4L, true)), "full copy shares all 4 shingles")
    assert(out(2L) == ((1L, false)), "one window shares exactly 1 shingle")
    assert(out(3L) == ((0L, false)))
  }

  test("ngramOverlapSweep agrees with per-k ngramOverlap in one scan") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val train = docs.filter(col("doc_id") % 97 =!= 0)
    val eval = docs.filter(col("doc_id") % 97 === 0)
    val sweep = Decontaminate
      .ngramOverlapSweep(train, eval, "doc_id", "text", ks = Seq(3, 5))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3))))
      .toMap
    for (k <- Seq(3, 5)) {
      val single = Decontaminate
        .ngramOverlap(train, eval, "doc_id", "text", k = k)
        .filter(col("n_shingles") > 0)
        .collect()
        .map(r => (r.getLong(0), k) -> ((r.getLong(1), r.getLong(2))))
        .toMap
      assert(sweep.view.filterKeys(_._2 == k).toMap == single,
        s"sweep disagrees with per-k run at k=$k")
    }
    // Monotonicity: longer shingles can only shrink the shared count.
    sweep.collect { case ((id, 3), (_, s3)) =>
      sweep.get((id, 5)).foreach { case (_, s5) => assert(s5 <= s3, s"doc $id") }
    }
  }

  test("ngramOverlap broadcasts the eval shingle set") {
    val df = Decontaminate.ngramOverlap(
      spark.read.parquet(s"$sf/documents.parquet").filter(col("doc_id") % 97 =!= 0),
      spark.read.parquet(s"$sf/documents.parquet").filter(col("doc_id") % 97 === 0),
      "doc_id", "text")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"eval side must broadcast, got:\n$plan")
  }

  test("q_domain_cap keeps at most k rows per cell with deterministic ties") {
    val out = SparkEntry.queries("q_domain_cap")(spark, sf)
    val byCell = out.groupBy("source", "lang").count().collect()
    assert(byCell.nonEmpty && byCell.forall(_.getLong(2) <= 3))
    // determinism across invocations (total order includes doc_id)
    val again = SparkEntry.queries("q_domain_cap")(spark, sf).collect().toSet
    assert(SparkEntry.queries("q_domain_cap")(spark, sf).collect().toSet == again)
  }

  test("keepCanonical keeps exactly the best row of each cluster") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, 10L), (2L, 30L), (3L, 30L), // cluster {1,2,3}: 2 wins (len tie -> min id)
      (4L, 5L),                        // singleton
      (5L, 7L), (6L, 9L)               // cluster {5,6}: 6 wins
    ).toDF("doc_id", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val out = operators.Dedup.keepCanonical(
      docs, pairs, "doc_id",
      Seq(org.apache.spark.sql.functions.col("n_chars").desc,
        org.apache.spark.sql.functions.col("doc_id").asc))
      .select("rep", "doc_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 2L, 4L -> 4L, 5L -> 6L))
  }

  test("q_stratified takes ceil(10%) of every language deterministically") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val expected = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> (r.getLong(1) + 9) / 10).toMap
    val got = SparkEntry.queries("q_stratified")(spark, sf)
      .groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected, s"per-stratum allocation: got $got expected $expected")
    val a = SparkEntry.queries("q_stratified")(spark, sf).collect().toSet
    val b = SparkEntry.queries("q_stratified")(spark, sf).collect().toSet
    assert(a == b, "hash-ranked selection is deterministic")
  }

  test("winnowing guarantees a shared fingerprint for a shared token run") {
    val s = spark
    import s.implicits._
    // k=3, w=4: any shared run of w+k-1 = 6 tokens must yield >= 1
    // common selected fingerprint (the winnowing coverage guarantee).
    val shared = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, s"completely unrelated prefix words here $shared and a suffix"),
      (2L, s"$shared totally different ending tokens follow now"),
      (3L, "no overlap at all with either document above period")
    ).toDF("doc_id", "text")
    val fp = docs.select(col("doc_id"),
      operators.TextAnalysis.winnowFingerprints(col("text"), k = 3, w = 4).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((fp(1L) & fp(2L)).nonEmpty, "shared 6-token run must share a fingerprint")
    assert((fp(1L) & fp(3L)).isEmpty && (fp(2L) & fp(3L)).isEmpty,
      "disjoint text shares nothing")
  }

  test("winnowFingerprints is a row-local projection and short docs are empty") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "one two"), (2L, "a b c d")).toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
      operators.TextAnalysis.winnowFingerprints(col("text"), k = 3, w = 4).as("fps"))
    val m = out.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(m(1L).isEmpty, "doc with < k tokens has no shingles")
    assert(m(2L).size == 1, "2 shingles < w -> one window, one min")
    // no exchange in the plan: pure projection over the scan
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"),
      "winnowing must not shuffle")
  }

  test("winnowContainmentPairs finds a pasted run and spares disjoint docs") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      // B contains A's 6-token run (w+k-1 = 6 guarantees >= 1 shared fp)
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "intro words alpha beta gamma delta epsilon zeta trailing tail"),
      (3L, "completely different tokens nothing here matches at all")
    ).toDF("doc_id", "text")
    val pairs = operators.TextAnalysis
      .winnowContainmentPairs(docs, "doc_id", "text", k = 3, w = 4,
        minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "the shared run must surface")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      "disjoint doc pairs with nobody")
  }

  test("tfIdfTopTerms ranks rare terms above ubiquitous ones") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "common common common rareword"),
      (2L, "common filler text body"),
      (3L, "common other words here"),
      (4L, "common yet more padding")
    ).toDF("doc_id", "text")
    val top = operators.TextAnalysis.tfIdfTopTerms(docs, "doc_id", "text", topK = 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // "common" is in all docs (df=4, idf=0) — the doc-1 winner must be
    // the rare term even though "common" has 3x its term frequency.
    assert(top(1L) == "rareword", s"expected rareword, got ${top(1L)}")
  }

  test("embeddingDecontam flags a planted near-copy and broadcasts the eval pool") {
    val s = spark
    import s.implicits._
    val ev = Seq((100L, Array(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val tr = Seq(
      (1L, Array(0.99f, 0.1f, 0.0f)),  // near-copy of the eval vector
      (2L, Array(0.0f, 0.0f, 1.0f))    // orthogonal
    ).toDF("vec_id", "embedding")
    val out = operators.Similarity
      .embeddingDecontam(tr, ev, "vec_id", "embedding", threshold = 0.9)
    val m = out.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(3)))).toMap
    assert(m(1L)._1 == 1L && m(1L)._2, "near-copy must be flagged")
    assert(m(2L)._1 == 0L && !m(2L)._2, "orthogonal vector is clean")
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastExchange"), s"eval pool must broadcast:\n$p")
    assert(p.split("HashAggregate").length >= 3,
      "per-id counts must partial-aggregate before the shuffle")
    // EMPTY eval pool: every train vector still reports, with n_near=0
    // (one row per training vector is the contract — an empty report
    // would silently drop the whole corpus from the audit).
    val empty = operators.Similarity.embeddingDecontam(
      tr, ev.filter(col("vec_id") < 0), "vec_id", "embedding",
      threshold = 0.9)
    assert(empty.count() == 2)
    assert(empty.filter(col("n_near") =!= 0 || col("contaminated")).count() == 0)
  }

  test("stratifiedSampleExact selects the same rows as the per-stratum window") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    for ((num, den) <- Seq((1, 10), (1, 3), (2, 5))) {
      val rank = Window.partitionBy("lang")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      val byLang = Window.partitionBy("lang")
      val windowed = docs
        .withColumn("rn", row_number().over(rank))
        .withColumn("n", count(lit(1)).over(byLang))
        .filter(col("rn") <= expr(s"(n * $num + $den - 1) div $den"))
        .select("lang", "doc_id").collect().toSet
      val prefixed = operators.Splits.stratifiedSampleExact(
        docs, "lang", md5(col("doc_id").cast("string")), "doc_id", num, den)
        .select("lang", "doc_id").collect().toSet
      assert(prefixed == windowed, s"selection diverged at $num/$den")
    }
  }
}
