package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame

import graft.operators.{LinkGraph, Materialize}

/** Fixed-point PageRank semantics (hand-computed iteration, dangling
  * mass, mass conservation, partitioning bit-stability, a driver-side
  * reference) and the degree / link-locality report. */
class LinkGraphSpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  /** The scaladoc formulas of [[LinkGraph.pageRank]] and
    * [[LinkGraph.personalizedPageRank]] in plain Scala over an edge
    * list, independent of Spark. None is the null endpoint: one more
    * vertex, always dangling, whose out-links carry nothing; a link to
    * it counts in its source's degree and its share is dropped. */
  private object Reference {
    type V = Option[Long]
    private val (scale, num, den) = (1000000000L, 85L, 100L)

    private class Graph(edges: Seq[(V, V)]) {
      val verts: Seq[V] = edges.flatMap(e => Seq(e._1, e._2)).distinct
      private val outdeg: Map[Long, Long] =
        edges.collect { case (Some(u), _) => u }
          .groupMapReduce(identity)(_ => 1L)(_ + _)
      def insum(r: Map[V, Long]): Map[V, Long] =
        edges.collect { case (Some(u), Some(v)) => (Some(v): V) -> r(Some(u)) / outdeg(u) }
          .groupMapReduce(_._1)(_._2)(_ + _)
      def dang(r: Map[V, Long]): Long =
        verts.filter(_.forall(!outdeg.contains(_))).map(r).sum
    }

    /** `k` iterations from `initial` (by id; other vertices at the
      * uniform start). */
    def pageRank(edges: Seq[(V, V)], k: Int,
        initial: Map[Long, Long] = Map.empty): Map[V, Long] = {
      val g = new Graph(edges)
      val n = g.verts.size
      val init = scale / n
      val base = (den - num) * init / den
      val r0 = g.verts.map(v => v -> v.flatMap(initial.get).getOrElse(init)).toMap
      (1 to k).foldLeft(r0) { (r, _) =>
        val (in, d) = (g.insum(r), g.dang(r))
        g.verts.map(v => v -> (base + num * (in.getOrElse(v, 0L) + d / n) / den)).toMap
      }
    }

    /** `k` personalized iterations; S = the non-null `seeds` in the graph. */
    def personalized(edges: Seq[(V, V)], seeds: Seq[V], k: Int): Map[V, Long] = {
      val g = new Graph(edges)
      val inS = g.verts.filter(v => v.isDefined && seeds.contains(v)).toSet
      val s = inS.size.toLong
      val init = scale / s
      val base = (den - num) * init / den
      def seed(v: V) = if (inS(v)) 1L else 0L
      val r0 = g.verts.map(v => v -> seed(v) * init).toMap
      (1 to k).foldLeft(r0) { (r, _) =>
        val (in, d) = (g.insum(r), g.dang(r))
        g.verts.map(v => v -> (seed(v) * (base + num * (d / s) / den) +
          num * in.getOrElse(v, 0L) / den)).toMap
      }
    }
  }

  /** 1 -> 2, 2 -> {1, 3}; vertex 3 dangling. */
  private def triangle = {
    val s = spark
    import s.implicits._
    Seq((1L, 2L), (2L, 1L), (2L, 3L)).toDF("src", "dst")
  }

  private def rankMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("pageRank: one hand-computed fixed-point iteration") {
    // N=3, scale=1e9: init = 333333333, base = (15*init) div 100 = 49999999.
    // Contribs: 1->2 full 333333333; 2 splits 166666666 to 1 and 3.
    // Dangling 3 contributes 333333333 div 3 = 111111111 to everyone.
    // r1(1) = r1(3) = 49999999 + 85*(166666666+111111111) div 100 = 286111109
    // r1(2) =          49999999 + 85*(333333333+111111111) div 100 = 427777776
    val r = rankMap(LinkGraph.pageRank(triangle, "src", "dst", iterations = 1))
    assert(r == Map(1L -> 286111109L, 2L -> 427777776L, 3L -> 286111109L))
  }

  test("pageRank: mass conserved up to truncation loss") {
    val r = LinkGraph.pageRank(triangle, "src", "dst", iterations = 5)
      .agg(sum("rank_fp")).collect()(0).getLong(0)
    // Each div truncates < 1 unit per edge/vertex per iteration: the
    // total can only drift a few hundred units below the scale.
    assert(r <= 1000000000L && r > 999990000L, s"mass $r")
  }

  test("pageRank: bit-identical under repartitioning") {
    val a = rankMap(LinkGraph.pageRank(triangle, "src", "dst", 3))
    val b = rankMap(LinkGraph.pageRank(triangle.repartition(7), "src", "dst", 3))
    assert(a == b)
  }

  test("pageRank: sink accumulates rank, no-inlink vertex keeps base") {
    val s = spark
    import s.implicits._
    // Star into 9: vertices 0-8 each link only to 9 (9 dangling).
    val star = (0L to 8L).map(u => (u, 9L)).toDF("src", "dst")
    val r = rankMap(LinkGraph.pageRank(star, "src", "dst", 2))
    assert(r(9L) > r(0L) * 3, s"sink should dominate: ${r(9L)} vs ${r(0L)}")
    assert((0L to 8L).map(r).toSet.size == 1, "symmetric sources tie exactly")
  }

  test("degreeReport: degrees, locality, full-outer vertex coverage") {
    val s = spark
    import s.implicits._
    val e = Seq(
      (1L, 2L, "a", "a"), // intra
      (1L, 3L, "a", "b"), // cross
      (2L, 3L, "a", "b")) // cross
      .toDF("src", "dst", "sh", "dh")
    val rows = LinkGraph.degreeReport(e, "src", "dst", "sh", "dh")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3))))).toMap
    assert(rows(1L) == ((2L, 0L, Some(0.5))))
    assert(rows(2L) == ((1L, 1L, Some(0.0))))
    // in-only vertex: out_deg 0, intra_rate null (not 0 — no out-links
    // to be local, and 0.0 would alias the all-cross case)
    assert(rows(3L) == ((0L, 2L, None)))
  }

  test("pageRank warm-start: resume from k1 ranks == running k1+k2 straight") {
    val full = rankMap(LinkGraph.pageRank(triangle, "src", "dst", 5))
    val k2 = LinkGraph.pageRank(triangle, "src", "dst", 2)
    val resumed = rankMap(LinkGraph.pageRank(
      triangle, "src", "dst", 3, initial = Some(k2)))
    assert(resumed == full, "warm-start must be exact, not approximate")
  }

  test("pageRank warm-start: new vertices enter at uniform, dead rows drop") {
    val s = spark
    import s.implicits._
    // Prior ranks cover vertex 1 only (+ a dead vertex 99); the graph
    // has vertices 1,2,3 — 2 and 3 must enter at scale div 3.
    val prior = Seq((1L, 777L), (99L, 123L)).toDF("id", "rank_fp")
    val r = LinkGraph.pageRank(triangle, "src", "dst", 1,
      initial = Some(prior))
    assert(!rankMap(r).contains(99L), "dead vertices drop")
    // One iteration from (777, init, init) — just pin it runs and keeps
    // the full current vertex set.
    assert(rankMap(r).keySet == Set(1L, 2L, 3L))
  }

  test("anchorTerms: top-k terms per destination, count desc / term asc ties") {
    val s = spark
    import s.implicits._
    val e = Seq(
      (1L, "big cat"), (1L, "big dog"), (1L, "big cat"), (1L, "ant"),
      (2L, "zz aa")) // one in-link: both terms tie at 1, term asc breaks
      .toDF("dst", "anchor")
    val rows = LinkGraph.anchorTerms(e, "dst", "anchor", k = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    // dst 1: big=3, cat=2, dog/ant tie at 1 -> ant wins rank 3 (term asc)
    assert(rows == Set(
      (1L, "big", 3L, 1L), (1L, "cat", 2L, 2L), (1L, "ant", 1L, 3L),
      (2L, "aa", 1L, 1L), (2L, "zz", 1L, 2L)))
  }

  test("pageRank: plan and lineage the same size at any iteration count") {
    // The loop pins every state and checkpoints the last, so the result
    // reads one pin: neither its plan nor its RDD lineage grows with
    // the iterations that produced it.
    def size(df: DataFrame) = (
      df.queryExecution.analyzed.treeString.linesIterator.size,
      df.rdd.toDebugString.linesIterator.size)
    val one = LinkGraph.pageRank(triangle, "src", "dst", 1)
    val seven = LinkGraph.pageRank(triangle, "src", "dst", 7)
    assert(size(seven) == size(one), s"${size(seven)} vs ${size(one)}")
  }

  test("pageRankConverged: stops at the exact fixed point") {
    val (conv, k) = LinkGraph.pageRankConverged(
      triangle, "src", "dst", tolFp = 0L, maxIterations = 64, segment = 4)
    val m = rankMap(conv)
    // The converged state equals a straight run of the same length
    // (warm-start exactness), and one more iteration is the identity
    // — the definition of a fixed point in fixed-point arithmetic.
    assert(m == rankMap(LinkGraph.pageRank(triangle, "src", "dst", k)),
      s"k=$k")
    assert(m == rankMap(LinkGraph.pageRank(
      triangle, "src", "dst", 1, initial = Some(conv))),
      "fixed point must be stable under one more iteration")
    assert(k >= 8 && k < 64, s"plausible convergence length, got $k")
  }

  test("applyEdgeDelta: multiset patch semantics") {
    val s = spark
    import s.implicits._
    // prev holds 1->2 TWICE (a doubled link) plus 2->3; the delta adds
    // 3->1 and removes ONE instance of 1->2 — the other must survive.
    val prev = Seq((1L, 2L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    val added = Seq((3L, 1L)).toDF("src", "dst")
    val removed = Seq((1L, 2L)).toDF("src", "dst")
    val patched = LinkGraph.applyEdgeDelta(prev, added, removed, "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(patched == Seq((1L, 2L), (2L, 3L), (3L, 1L)), patched.toString)
  }

  test("pageRankDelta == warm-started pageRank on the hand-patched graph") {
    val s = spark
    import s.implicits._
    val prev = Seq((1L, 2L), (2L, 1L), (2L, 3L), (4L, 1L)).toDF("src", "dst")
    val added = Seq((3L, 4L), (1L, 3L)).toDF("src", "dst")
    val removed = Seq((4L, 1L)).toDF("src", "dst")
    val prior = LinkGraph.pageRank(prev, "src", "dst", 3)
    val viaDelta = rankMap(LinkGraph.pageRankDelta(
      prev, added, removed, "src", "dst", prior, iterations = 2))
    val handPatched = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (1L, 3L))
      .toDF("src", "dst")
    val fromScratch = rankMap(LinkGraph.pageRank(
      handPatched, "src", "dst", 2, initial = Some(prior)))
    assert(viaDelta == fromScratch)
    // Vertex 4 lost its only out-edge but gained an in-edge: it must
    // still be in the result (the vertex set is the patched graph's).
    assert(viaDelta.contains(4L))
  }

  test("pageRankConverged: never overruns maxIterations (clamped last segment)") {
    // segment=4, maxIterations=6: 4 then a CLAMPED 2 — the old loop
    // ran 4+4=8, contradicting the "or maxIterations is hit" contract.
    val (ranks, k) = LinkGraph.pageRankConverged(
      triangle, "src", "dst", tolFp = 0L, maxIterations = 6, segment = 4)
    assert(k == 6, s"must stop exactly at maxIterations, ran $k")
    // The clamped 4+2 run equals the straight 6-iteration run
    // (warm-start exactness holds for any segment lengths).
    assert(rankMap(ranks) ==
      rankMap(LinkGraph.pageRank(triangle, "src", "dst", 6)))
  }

  test("personalizedPageRank: phantom seeds outside the graph are excluded") {
    val s = spark
    import s.implicits._
    // Seed 99 appears in no edge: it can never receive teleport mass,
    // so counting it would ship scale/|seeds| of rank to nowhere.
    // |S ∩ V| = 1, so the result must equal the {1}-only run and total
    // mass must stay at full scale (up to truncation).
    val phantom = LinkGraph.personalizedPageRank(
      triangle, "src", "dst", Seq(1L, 99L).toDF("id"), iterations = 3)
    val clean = LinkGraph.personalizedPageRank(
      triangle, "src", "dst", Seq(1L).toDF("id"), iterations = 3)
    assert(rankMap(phantom) == rankMap(clean))
    val mass = phantom.agg(sum("rank_fp")).collect()(0).getLong(0)
    assert(mass > 999990000L && mass <= 1000000000L, s"mass $mass")
    // An all-phantom seed set has no vertex to teleport to — refuse.
    intercept[IllegalArgumentException] {
      LinkGraph.personalizedPageRank(
        triangle, "src", "dst", Seq(99L).toDF("id"), iterations = 1)
    }
  }

  test("personalizedPageRank: one hand-computed iteration, seed-only teleport") {
    val s = spark
    import s.implicits._
    val seeds = Seq(1L).toDF("id")
    // s=1: init=1e9 on vertex 1 only; base=(15*1e9)/100.
    // Contribs after r0: 1 -> 2 carries the full 1e9; 2's rank is 0.
    // Dangling 3 holds 0. So r1 = (seed base, 85% of 1e9, 0).
    val r = rankMap(LinkGraph.personalizedPageRank(
      triangle, "src", "dst", seeds, iterations = 1))
    assert(r == Map(1L -> 150000000L, 2L -> 850000000L, 3L -> 0L), r.toString)
  }

  test("personalizedPageRank: mass stays in the seed neighborhood") {
    val s = spark
    import s.implicits._
    // Two disconnected triangles 1-2-3 and 11-12-13; seeding {1} must
    // leave the other component at exactly zero forever.
    val twoTri = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (11L, 12L), (12L, 13L), (13L, 11L)).toDF("src", "dst")
    val r = rankMap(LinkGraph.personalizedPageRank(
      twoTri, "src", "dst", Seq(1L).toDF("id"), iterations = 5))
    assert(Seq(11L, 12L, 13L).forall(r(_) == 0L),
      s"unreachable component must hold zero mass: $r")
    assert(r(1L) > 0 && r(2L) > 0 && r(3L) > 0)
  }

  test("hits: star graph — sink is the authority, sources are the hubs") {
    val s = spark
    import s.implicits._
    val star = (0L to 8L).map(u => (u, 9L)).toDF("src", "dst")
    val rows = LinkGraph.hits(star, "src", "dst", iterations = 1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // auth: only 9 has in-links; renorm gives it the whole scale.
    // hub: each source's raw hub = auth(9) = 1e9; nine-way split.
    assert(rows(9L) == ((0L, 1000000000L)), rows.toString)
    (0L to 8L).foreach(u => assert(rows(u) == ((111111111L, 0L))))
  }

  test("hits: mass renormalizes to scale each half-step, runs deep") {
    // Every half-step pins its raw frame before the renorm total, so
    // 6 iterations stay linear work (unpinned this would be 4^6 plan
    // copies). Both totals must sit within one truncation unit per
    // vertex of the full scale.
    val rows = LinkGraph.hits(triangle, "src", "dst", 6).collect()
    val hubMass = rows.map(_.getLong(1)).sum
    val authMass = rows.map(_.getLong(2)).sum
    assert(hubMass > 999999990L && hubMass <= 1000000000L, s"hub $hubMass")
    assert(authMass > 999999990L && authMass <= 1000000000L, s"auth $authMass")
  }

  test("reference: reproduces the hand-computed PageRank and PPR iterations") {
    // The driver-side reference the shape test below checks against,
    // anchored to the hand computations of the first tests.
    val t: Seq[(Option[Long], Option[Long])] =
      Seq((1L, 2L), (2L, 1L), (2L, 3L)).map { case (u, v) => (Some(u), Some(v)) }
    assert(Reference.pageRank(t, 1) ==
      Map(Some(1L) -> 286111109L, Some(2L) -> 427777776L, Some(3L) -> 286111109L))
    assert(Reference.personalized(t, Seq(Some(1L)), 1) ==
      Map(Some(1L) -> 150000000L, Some(2L) -> 850000000L, Some(3L) -> 0L))
  }

  test("pageRank warm-start: prior rows for one id add up, null ids and ranks match nothing") {
    val s = spark
    import s.implicits._
    val split = Seq((Some(1L), Some(300L)), (Some(1L), Some(477L)),
      (None, Some(5L)), (Some(2L), None)).toDF("id", "rank_fp")
    val whole = Seq((1L, 777L)).toDF("id", "rank_fp")
    assert(rankMap(LinkGraph.pageRank(triangle, "src", "dst", 2, initial = Some(split))) ==
      rankMap(LinkGraph.pageRank(triangle, "src", "dst", 2, initial = Some(whole))))
  }

  /** Ranks by id, with the null vertex under None. */
  private def ranksOf(df: DataFrame): Map[Option[Long], Long] =
    df.collect().map(r =>
      Option(r.get(0)).map(_.asInstanceOf[Long]) -> r.getLong(1)).toMap

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def converged(edges: DataFrame, tolFp: Long = 0L,
      segment: Int = 4): (DataFrame, Int) =
    LinkGraph.pageRankConverged(edges, "src", "dst", tolFp,
      maxIterations = 64, segment = segment)

  test("pageRankConverged == pageRank(k) on every graph shape and partitioning") {
    val s = spark
    import s.implicits._
    def some(es: Seq[(Long, Long)]) = es.map { case (u, v) => (Some(u), Some(v)) }
    // Each graph with its pinned iteration count at tolFp = 0,
    // segment = 4 (the star and the doubled edge end in an integer
    // cycle, so they run to maxIterations).
    val graphs: Seq[(String, Seq[(Option[Long], Option[Long])], Int)] = Seq(
      ("triangle", some(Seq((1L, 2L), (2L, 1L), (2L, 3L))), 40),
      ("star into a sink", some((0L to 8L).map(u => (u, 9L))), 64),
      // 1->2 doubled (twice the weight), 2->2 a self-loop, 4 no in-link.
      ("duplicate edge and self-loop",
        some(Seq((1L, 2L), (1L, 2L), (2L, 2L), (2L, 3L), (3L, 1L), (4L, 3L))),
        64),
      // The null endpoint is one more vertex, dangling: 3's link to it
      // counts in 3's out-degree, its share of rank is dropped, and the
      // null -> 1 link carries nothing.
      ("null endpoints",
        Seq((Some(1L), Some(2L)), (Some(2L), Some(1L)), (Some(2L), Some(3L)),
          (Some(3L), None), (None, Some(1L))), 44))
    for ((name, edges, expectK) <- graphs) {
      val g = edges.toDF("src", "dst")
      // A warm start with a dead row, a null id and a null rank; seeds
      // with a phantom and a null id.
      val (a, b) = (edges.head._1, edges.head._2)
      val prior = Seq((a, Some(777L)), (Some(99L), Some(123L)),
        (None, Some(5L)), (b, None)).toDF("id", "rank_fp")
      val seeds = Seq(a, Some(99L), None)
      for ((parts, input) <- Seq("1" -> g, "7" -> g, "4" -> g.repartition(7)))
        withConf("spark.sql.shuffle.partitions", parts) {
          val where = s"$name, $parts shuffle partitions"
          val (conv, k) = converged(input)
          assert(k == expectK, where)
          assert(ranksOf(conv) == Reference.pageRank(edges, expectK), where)
          for (i <- Seq(1, 4, expectK))
            assert(ranksOf(LinkGraph.pageRank(input, "src", "dst", i)) ==
              Reference.pageRank(edges, i), s"$where, pageRank($i)")
          assert(ranksOf(LinkGraph.pageRank(input, "src", "dst", 3,
              initial = Some(prior))) ==
            Reference.pageRank(edges, 3, Map(a.get -> 777L)), s"$where, warm")
          assert(ranksOf(LinkGraph.personalizedPageRank(input, "src", "dst",
              seeds.toDF("id"), 3)) ==
            Reference.personalized(edges, seeds, 3), s"$where, PPR")
        }
    }
  }

  test("pageRankConverged: a positive tolerance stops before maxIterations") {
    val (conv, k) = converged(triangle, tolFp = 1000L, segment = 2)
    assert(k == 22)
    assert(ranksOf(conv) ==
      ranksOf(LinkGraph.pageRank(triangle, "src", "dst", k)))
  }

  test("pageRankConverged: overflow and bad arguments fail loudly, pinning nothing") {
    val s = spark
    import s.implicits._
    val sc = spark.sparkContext
    val pinsBefore = sc.getPersistentRDDs.keySet
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    val prior = Seq((1L, 1L)).toDF("id", "rank_fp")
    def delta(edges: DataFrame, iterations: Int, scale: Long) =
      LinkGraph.pageRankDelta(edges, empty, empty, "src", "dst", prior,
        iterations, scale = scale)
    // scale = 1e18: num * (insum + dang div n) passes Long.MaxValue in
    // the first iteration (for PPR with one seed, already the teleport
    // base (den - num) * scale does).
    val big = 1000000000000000000L
    for (overflow <- Seq[() => Any](
        () => LinkGraph.pageRankConverged(triangle, "src", "dst", 0L, scale = big),
        () => LinkGraph.pageRank(triangle, "src", "dst", 2, scale = big),
        () => delta(triangle, 2, big),
        () => LinkGraph.personalizedPageRank(triangle, "src", "dst", seeds, 2,
          scale = big))) {
      val e = intercept[Exception](overflow())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArithmeticException]), e.toString)
    }
    intercept[IllegalArgumentException](converged(triangle, tolFp = -1L))
    intercept[IllegalArgumentException](converged(triangle, segment = 0))
    intercept[IllegalArgumentException](
      LinkGraph.pageRankConverged(triangle, "src", "dst", 0L,
        maxIterations = 3, segment = 4))
    intercept[IllegalArgumentException](converged(empty))
    intercept[IllegalArgumentException](
      LinkGraph.pageRank(triangle, "src", "dst", 0))
    intercept[IllegalArgumentException](
      LinkGraph.pageRank(triangle, "src", "dst", 2, dampingNum = 101L))
    intercept[IllegalArgumentException](
      LinkGraph.pageRank(empty, "src", "dst", 2))
    intercept[IllegalArgumentException](delta(triangle, 0, 1000000000L))
    intercept[IllegalArgumentException](delta(empty, 2, 1000000000L))
    intercept[IllegalArgumentException](
      LinkGraph.personalizedPageRank(triangle, "src", "dst", seeds, 0))
    intercept[IllegalArgumentException](
      LinkGraph.personalizedPageRank(triangle, "src", "dst", seeds, 2,
        dampingNum = -1L))
    intercept[IllegalArgumentException](
      LinkGraph.personalizedPageRank(triangle, "src", "dst",
        Seq(99L).toDF("id"), 2))
    assert(sc.getPersistentRDDs.keySet -- pinsBefore == Set.empty)
  }

  test("pageRankConverged: jobs bounded by the iterations, one pin left") {
    val s = spark
    import s.implicits._
    val sc = spark.sparkContext
    val none = Seq.empty[(Long, Long)].toDF("src", "dst")
    val prior = Seq((1L, 500000000L)).toDF("id", "rank_fp")
    // Every entry point runs the same loop: (name, run -> (ranks, k)).
    val runs = Seq[(String, () => (DataFrame, Int))](
      "pageRankConverged" -> (() => converged(triangle)),
      "pageRank" -> (() => (LinkGraph.pageRank(triangle, "src", "dst", 6), 6)),
      "pageRankDelta" -> (() => (LinkGraph.pageRankDelta(
        triangle, none, none, "src", "dst", prior, 3), 3)),
      "personalizedPageRank" -> (() => (LinkGraph.personalizedPageRank(
        triangle, "src", "dst", Seq(1L).toDF("id"), 5), 5)))
    for ((name, run) <- runs) {
      val pinsBefore = sc.getPersistentRDDs.keySet
      // Pins held while the loop runs, sampled at every job start: the
      // adjacency, the segment start, the current and the next state.
      val peak = new java.util.concurrent.atomic.AtomicInteger(0)
      val sampler = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          peak.accumulateAndGet(
            (sc.getPersistentRDDs.keySet -- pinsBefore).size,
            (a: Int, b: Int) => math.max(a, b))
      }
      sc.addSparkListener(sampler)
      val ((ranks, k), jobs) =
        try TestSpark.jobsDuring(run())
        finally sc.removeSparkListener(sampler)
      // One job builds the adjacency, then one per iteration.
      assert(jobs <= k + 8, s"$name: $jobs jobs for $k iterations")
      assert(peak.get <= 4,
        s"$name: ${peak.get} pins held at once over $k iterations")
      // The adjacency and every superseded state are released; what
      // remains is the pin the returned frame reads.
      val left = sc.getPersistentRDDs.keySet -- pinsBefore
      assert(left.size <= 1, s"$name: pins left behind: $left")
      assert(ranksOf(ranks).size == 3, name)
    }
  }

  test("pageRankConverged: reliable checkpoints give the same ranks and count as local") {
    val (local, kLocal) = converged(triangle, segment = 3)
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-pr").toString
    val prevDir = sc.getCheckpointDir
    sc.setCheckpointDir(dir)
    try withConf(Materialize.ConfKey, "reliable") {
      val (reliable, kReliable) = converged(triangle, segment = 3)
      assert(kReliable == kLocal)
      assert(ranksOf(reliable) == ranksOf(local))
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(files > 0, "expected checkpoint files on disk")
    } finally prevDir.foreach(sc.setCheckpointDir)
  }
}
