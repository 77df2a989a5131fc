package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Link-graph analytics over a crawl's edge list — the ranking signal a
  * frontier scheduler consumes ([[Crawl.frontierPlan]]'s `priority`
  * column) and the classic quality prior for training-data curation
  * (page rank as a document-quality feature next to the Gopher/quality
  * screens).
  *
  * PageRank here is FIXED-POINT: every rank is a `Long` in units of
  * `1/scale`, and every step is integer arithmetic (`div`, `sum`, `*`).
  * Floating-point power iteration is not reproducible under Spark's
  * re-associated parallel sums — the same graph can produce
  * last-ulp-different ranks run to run, which breaks exact oracles,
  * cache fingerprints, and cross-engine replay. Integer sums are
  * associative and commutative EXACTLY, so the fixed-point iteration is
  * bit-stable under any partitioning and replays verbatim in ANSI-ish
  * SQL (the q_pagerank oracle unrolls the same iterations in DuckDB).
  * With the default `scale` = 1e9 the quantization error per step is
  * one part in ~1e9 per vertex — far below any ranking-relevant
  * difference — and all intermediates stay well inside `Long` (total
  * mass ≈ `scale`, times `dampingNum` ≈ 1e11).
  *
  * Every PageRank entry point ([[pageRank]], [[pageRankDelta]],
  * [[pageRankConverged]], [[personalizedPageRank]]) runs the one
  * iteration of [[pageRankConverged]]'s co-partitioned block loop.
  */
object LinkGraph {

  /** Fixed-point PageRank over `edges` (duplicate edges count as
    * parallel links, weighting the contribution — dedup first with
    * [[Crawl.urlDedup]]/`distinct` if unwanted).
    *
    * Semantics (the published random-surfer model, Brin & Page 1998,
    * with the standard dangling-mass redistribution):
    *
    *   rank₀(v)    = scale div N
    *   rankₜ₊₁(v) = (den−num)·(scale div N) div den
    *               + num·( Σ_{u→v} rankₜ(u) div outdeg(u)
    *                       + (Σ_{dangling u} rankₜ(u)) div N ) div den
    *
    * with num/den the damping fraction (85/100) and every `div` a
    * truncating integer division. Vertices = src ∪ dst of the edge
    * list; dangling vertices (no out-edges) spread their mass evenly.
    * A null endpoint is one more vertex, always dangling: its out-links
    * carry nothing, and a link to it counts in its source's out-degree
    * while its share is dropped. Overflow throws.
    *
    * `initial` warm-starts the iteration from a prior run's
    * `(id, rank_fp)` frame — the recrawl shape: last month's converged
    * ranks seed this month's graph, so a handful of iterations absorb
    * the delta instead of re-converging from uniform. Vertices absent
    * from `initial` (newly discovered pages) enter at the uniform
    * `scale div N`; `initial` rows for vertices no longer in the edge
    * list (dead pages) drop — the vertex set is always the current
    * graph's. Rows with a null id or rank match nothing; several rows
    * for one id add up. Because each iteration is a deterministic
    * function of the ranks, warm-starting from `pageRank(k1)` and
    * running k2 more is BIT-IDENTICAL to `pageRank(k1+k2)`
    * (spec-pinned), so resuming is exact, not approximate. Mass drift
    * in a hand-rolled `initial` self-corrects: the update is a
    * contraction that re-approaches total mass `scale` at rate num/den
    * per iteration.
    *
    * Eager: this is [[pageRankConverged]]'s loop run for exactly
    * `iterations` steps with no L1 measurement — `iterations` + 1 jobs
    * when called (the adjacency build, then one per iteration), and the
    * returned frame reads the last state's pin.
    *
    * Returns `(id, rank_fp)` — `rank_fp/scale` is the rank as a
    * fraction of total mass. */
  def pageRank(
      edgesIn: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int,
      dampingNum: Long = 85L,
      dampingDen: Long = 100L,
      scale: Long = 1000000000L,
      initial: Option[DataFrame] = None): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    rankLoop(edgesIn, srcCol, dstCol, None, initial, 0L, iterations,
      iterations, dampingNum, dampingDen, scale)._1
  }

  /** Patched edge list for the recrawl loop: `prev ⊎ added ∖ removed`
    * with MULTISET semantics — duplicate edges weight [[pageRank]]
    * contributions, so multiplicity is load-bearing: removing one
    * instance of a doubled link keeps the other, and adding a
    * duplicate genuinely doubles the link's weight.
    *
    * This is the link-graph side of the crawl family's incremental
    * story ([[Dedup]]'s `extendMinHashBandIndex`,
    * [[Pipeline]]'s `releaseIncremental`): a recrawl discovers some
    * new links and finds some dead, and the graph should be PATCHED —
    * one pass over prev+added — never rebuilt from the raw fetch log.
    *
    * Scale shape: the union is shuffle-free; the multiset difference
    * is ONE exchange keyed on the full (src,dst) pair (`exceptAll`'s
    * count-based anti semantics — partial-aggregating, spread across
    * the pair space, skew-safe). */
  def applyEdgeDelta(
      prevEdges: DataFrame,
      addedEdges: DataFrame,
      removedEdges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    def norm(df: DataFrame): DataFrame = df.select(
      col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    norm(prevEdges).union(norm(addedEdges)).exceptAll(norm(removedEdges))
  }

  /** Incremental PageRank maintenance: [[applyEdgeDelta]] patches the
    * edge list, then [[pageRank]] warm-starts from the prior release's
    * converged ranks — a handful of iterations absorb the delta
    * instead of re-converging from uniform. Spec-pinned EQUAL to a
    * from-scratch warm-started run over the patched edge list (the
    * patch is a value-level identity), exact-gated cross-engine by
    * q_pagerank_delta. The prior ranks ride into the adjacency build
    * as tagged records, so the patch feeds the same one shuffle any
    * run needs. */
  def pageRankDelta(
      prevEdges: DataFrame,
      addedEdges: DataFrame,
      removedEdges: DataFrame,
      srcCol: String,
      dstCol: String,
      priorRanks: DataFrame,
      iterations: Int,
      dampingNum: Long = 85L,
      dampingDen: Long = 100L,
      scale: Long = 1000000000L): DataFrame =
    pageRank(
      applyEdgeDelta(prevEdges, addedEdges, removedEdges, srcCol, dstCol),
      "src", "dst", iterations, dampingNum, dampingDen, scale,
      initial = Some(priorRanks))

  /** PageRank TO CONVERGENCE — the production loop: nobody knows the
    * right iteration count up front, so iterate in SEGMENTS of
    * `segment` iterations and stop when the L1 rank delta across a
    * segment drops to `tolFp` fixed-point units, or at `maxIterations`
    * (the last segment is clamped; the first is never measured).
    * Semantics are [[pageRank]]'s — a null endpoint is one more,
    * dangling, vertex; overflow throws — and the result is
    * `pageRank(iterationsRun)` (spec-pinned against a driver-side
    * reference; driver-gated by q_pagerank_conv's exact oracle).
    *
    * The loop is eager (one driver scalar per iteration), so it runs on
    * RDDs co-partitioned the GraphX way (Gonzalez et al., OSDI 2014)
    * instead of a growing DataFrame plan: one CSR adjacency block and
    * one rank array per hash partition of `spark.sql.shuffle.partitions`,
    * in the same vertex order. An iteration is ONE job — the
    * contributions summed by `reduceByKey` (the only shuffle, combined
    * map-side), then the update zipped against the adjacency with the
    * dangling total as a literal; the action returns the next dangling
    * total and, at a measured segment end, the L1. States persist at
    * [[Materialize.storageLevel]] until superseded; segment ends go
    * through [[Materialize.checkpoint]], which bounds the lineage, and
    * the returned frame reads the last one's pin.
    *
    * Returns (ranks, iterationsRun). */
  def pageRankConverged(
      edgesIn: DataFrame,
      srcCol: String,
      dstCol: String,
      tolFp: Long,
      maxIterations: Int = 64,
      segment: Int = 4,
      dampingNum: Long = 85L,
      dampingDen: Long = 100L,
      scale: Long = 1000000000L): (DataFrame, Int) = {
    require(tolFp >= 0, "tolerance must be non-negative")
    require(segment >= 1 && maxIterations >= segment,
      s"need 1 <= segment <= maxIterations, got $segment/$maxIterations")
    rankLoop(edgesIn, srcCol, dstCol, None, None, tolFp, maxIterations,
      segment, dampingNum, dampingDen, scale)
  }

  /** PERSONALIZED PageRank: teleport mass flows only to `seeds` — the
    * seed-set expansion primitive behind curation ("give me more pages
    * like these trusted ones"): rank concentrates in the seeds'
    * link neighborhood instead of spreading globally, so the top
    * non-seed ranks ARE the expansion set. Same fixed-point integer
    * discipline as [[pageRank]] (bit-stable, SQL-replayable):
    *
    *   rank₀(v)    = [v∈S] · (scale div |S|)
    *   rankₜ₊₁(v) = [v∈S]·( (den−num)·(scale div |S|) div den
    *                        + num·(dangₜ div |S|) div den )
    *               + num·Σ_{u→v} rankₜ(u) div outdeg(u) div den
    *
    * with dangling mass teleporting back to the seeds (the standard
    * PPR convention — dangling pages "restart" the surfer). Note the
    * dangling term sits in its own num·x div den so every operation
    * stays integer and order-free.
    *
    * S is `seeds` INTERSECTED with the graph's vertex set: a seed URL
    * that never appears in the edge list (a dead page, a typo'd id)
    * cannot receive teleport mass anyway, so counting it would
    * silently ship `scale div |seeds|` of rank mass to nowhere and
    * total mass would fall below `scale`. Phantom seeds are therefore
    * ignored — total teleport mass always lands on real vertices — and
    * a null seed id matches nothing.
    *
    * Eager, as [[pageRank]]: the same block loop, with the seed flags
    * built into the adjacency and the teleport term computed on the
    * driver per iteration. */
  def personalizedPageRank(
      edgesIn: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      iterations: Int,
      dampingNum: Long = 85L,
      dampingDen: Long = 100L,
      scale: Long = 1000000000L): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    rankLoop(edgesIn, srcCol, dstCol, Some(seeds), None, 0L, iterations,
      iterations, dampingNum, dampingDen, scale)._1
  }

  /** The one PageRank iteration, run in segments as
    * [[pageRankConverged]] describes. Each slot's update is
    *
    *   rank = [slot teleports]·tele + num·(insum + lift) div den
    *
    * with `tele` = base and `lift` = dang div N for PageRank, where
    * every slot teleports; and `tele` = base + num·(dang div |S|) div den
    * and `lift` = 0 for personalized PageRank (`seeds` given), where
    * only the seeds do. `initial` and `seeds` ride into the adjacency
    * build as tagged records; a key carrying only those is not a
    * vertex. Returns (ranks, iterationsRun). */
  private def rankLoop(
      edgesIn: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: Option[DataFrame],
      initial: Option[DataFrame],
      tolFp: Long,
      maxIterations: Int,
      segment: Int,
      dampingNum: Long,
      dampingDen: Long,
      scale: Long): (DataFrame, Int) = {
    require(dampingNum >= 0 && dampingNum <= dampingDen,
      s"damping $dampingNum/$dampingDen outside [0,1]")
    val spark = edgesIn.sparkSession
    val sc = spark.sparkContext
    val edges = edgesIn.select(
      col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
    val idNullable = edges.schema.fields.exists(_.nullable)
    val personalized = seeds.isDefined
    // Seed and prior rows keyed by their non-null id; a null id would
    // otherwise key the null vertex.
    def tagged(df: DataFrame, tag: Int, value: Column): RDD[Keyed] =
      df.select(col("id").cast("long").as("id"), value.cast("long").as("v"))
        .where(col("id").isNotNull && col("v").isNotNull)
        .rdd.map(r => (java.lang.Long.valueOf(r.getLong(0)), (tag, r.getLong(1))))
    val records = edges.rdd.flatMap(linkRecords) ++
      seeds.fold(sc.emptyRDD[Keyed])(tagged(_, Seed, lit(0L))) ++
      initial.fold(sc.emptyRDD[Keyed])(tagged(_, Prior, col("rank_fp")))
    val part = new HashPartitioner(
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val level = Materialize.storageLevel
    // Every RDD persisted here until released; on the way out all but
    // the returned state go, on failure too.
    val held = scala.collection.mutable.LinkedHashSet.empty[RDD[_]]
    def release(r: RDD[_]): Unit =
      if (held.remove(r)) r.unpersist(blocking = false)
    var result: RDD[RankBlock] = null
    try {
      val adj = records.groupByKey(part)
        .mapPartitions(it => Iterator.single(AdjBlock(it, personalized)))
        .persist(level)
      held += adj
      val Array(n, s, dangPrior, dangFresh) =
        sc.runJob(adj, (it: Iterator[AdjBlock]) => it.next().stats)
          .transpose.map(_.reduce(Math.addExact(_, _)))
      // s = |S|: the teleport slots, which are all N unless personalized.
      require(s > 0,
        if (personalized)
          "personalizedPageRank needs at least one seed present in the graph"
        else "PageRank needs a non-empty edge list")
      val init = scale / s
      val base = Math.multiplyExact(dampingDen - dampingNum, init) / dampingDen

      var state: RDD[RankBlock] =
        adj.map(a => RankBlock(a.ids, a.start(init), 0L, 0L))
      var dang = Math.addExact(dangPrior, Math.multiplyExact(init, dangFresh))
      var start = state // the last segment end, pinned
      // Runs `steps` iterations; the last one is pinned as the new
      // segment end and, when `measure`, also returns its L1 from `start`.
      def advance(steps: Int, measure: Boolean): Long = {
        var l1 = 0L
        for (i <- 1 to steps) {
          val end = i == steps
          val insum = adj.zipPartitions(state)((ai, si) =>
            ai.next().contributions(si.next()))
            .reduceByKey(part, (a: Long, b: Long) => Math.addExact(a, b))
          val (tele, lift) =
            if (personalized) (Math.addExact(base,
              Math.multiplyExact(dampingNum, dang / s) / dampingDen), 0L)
            else (base, dang / n)
          val next =
            if (measure && end)
              adj.zipPartitions(insum, start) { (ai, ci, si) =>
                Iterator.single(ai.next().update(
                  ci, tele, dampingNum, dampingDen, lift, si.next()))
              }
            else
              adj.zipPartitions(insum) { (ai, ci) =>
                Iterator.single(ai.next().update(
                  ci, tele, dampingNum, dampingDen, lift, null))
              }
          held += (if (end) Materialize.checkpoint(next, spark)
            else next.persist(level))
          val totals = sc.runJob(next,
            (it: Iterator[RankBlock]) => { val r = it.next(); (r.dang, r.l1) })
          dang = totals.map(_._1).reduce(Math.addExact(_, _))
          l1 = totals.map(_._2).reduce(Math.addExact(_, _))
          if (state ne start) release(state)
          state = next
        }
        release(start)
        start = state
        l1
      }

      advance(segment, measure = false)
      var iters = segment
      var done = false
      while (!done && iters < maxIterations) {
        val step = math.min(segment, maxIterations - iters)
        done = advance(step, measure = true) <= tolFp
        iters += step
      }
      result = state
      (spark.createDataFrame(result.flatMap(_.rows), StructType(Seq(
        StructField("id", LongType, idNullable),
        StructField("rank_fp", LongType)))), iters)
    } finally held.toList.filter(_ ne result).foreach(release)
  }

  /** An adjacency-build record: a vertex key (null = the null vertex)
    * and a tagged value. */
  private type Keyed = (java.lang.Long, (Int, Long))

  /** One edge's records for the adjacency build, keyed by vertex (a
    * null endpoint keys the null vertex): an out-link on `src` (to
    * `dst`, or [[ToNull]]) and an in-link marker on `dst`. */
  private def linkRecords(e: Row): Seq[Keyed] = {
    def key(i: Int) = if (e.isNullAt(i)) null else java.lang.Long.valueOf(e.getLong(i))
    val out = if (e.isNullAt(1)) (ToNull, 0L) else (ToVertex, e.getLong(1))
    Seq(key(0) -> out, key(1) -> (InLink, 0L))
  }

  // Record tags; the first three are links and make their key a vertex.
  private val InLink = 0
  private val ToVertex = 1
  private val ToNull = 2
  private val Seed = 3
  private val Prior = 4

  /** One hash partition of the graph for [[rankLoop]]: its non-null
    * vertex ids ascending, then the null vertex if the partition holds
    * it (slot `ids.length`); each slot's out-degree (0 = dangling; the
    * null vertex is always dangling), and the non-null vertices'
    * out-links in CSR form — slot `i` links to
    * `dsts(dstFrom(i) until dstFrom(i + 1))`. A link to a null
    * endpoint counts in the degree but has no entry: its share of rank
    * is dropped. `teleport` flags the slots that receive teleport mass
    * (all, unless personalized: the seeds); `prior` holds the warm-start
    * ranks by slot. */
  private final case class AdjBlock(
      ids: Array[Long],
      outdeg: Array[Long],
      dstFrom: Array[Int],
      dsts: Array[Long],
      teleport: Array[Boolean],
      prior: Map[Int, Long]) {
    def size: Int = outdeg.length

    /** Slot ranks before the first iteration: the prior where there is
      * one, else `init` on teleport slots and 0 elsewhere. */
    def start(init: Long): Array[Long] = Array.tabulate(size)(i =>
      prior.getOrElse(i, if (teleport(i)) init else 0L))

    /** For the driver, before `init` is known: the vertex count, the
      * teleport-slot count, and the dangling slots' start ranks as the
      * sum of their priors plus the number that start at `init`. */
    def stats: Array[Long] = {
      val (primed, fresh) = (0 until size).filter(outdeg(_) == 0)
        .partition(prior.contains)
      Array(size.toLong, teleport.count(identity).toLong,
        primed.map(prior).foldLeft(0L)(Math.addExact(_, _)),
        fresh.count(teleport).toLong)
    }

    /** Each out-link's share `rank div outdeg` of its source's rank in
      * `r`, keyed by destination. */
    def contributions(r: RankBlock): Iterator[(Long, Long)] =
      Iterator.range(0, ids.length).filter(outdeg(_) > 0).flatMap { i =>
        val share = r.rank(i) / outdeg(i)
        Iterator.range(dstFrom(i), dstFrom(i + 1)).map(j => (dsts(j), share))
      }

    /** The next ranks from this block's summed in-contributions
      * `(dst, insum)`: `tele + num·(insum + lift) div den` on teleport
      * slots, without `tele` elsewhere. With `from` (the segment's
      * start state) the block's L1 distance from it is filled in. */
    def update(in: Iterator[(Long, Long)], tele: Long, num: Long, den: Long,
        lift: Long, from: RankBlock): RankBlock = {
      val insum = new Array[Long](size)
      in.foreach { case (dst, s) =>
        insum(java.util.Arrays.binarySearch(ids, dst)) = s
      }
      val rank = new Array[Long](size)
      var dang = 0L
      var l1 = 0L
      for (i <- 0 until size) {
        rank(i) = Math.addExact(if (teleport(i)) tele else 0L,
          Math.multiplyExact(num, Math.addExact(insum(i), lift)) / den)
        if (outdeg(i) == 0) dang = Math.addExact(dang, rank(i))
        if (from != null) l1 = Math.addExact(l1,
          Math.absExact(Math.subtractExact(rank(i), from.rank(i))))
      }
      RankBlock(ids, rank, dang, l1)
    }
  }

  private object AdjBlock {
    def apply(groups: Iterator[(java.lang.Long, Iterable[(Int, Long)])],
        personalized: Boolean): AdjBlock = {
      val (nulls, keyed) = groups.filter(_._2.exists(_._1 <= ToNull))
        .toArray.partition(_._1 == null)
      val sorted = keyed.sortBy(_._1.longValue)
      val slots = sorted.map(_._2) ++ nulls.map(_._2)
      val outdeg = sorted.map(_._2.count(r => r._1 == ToVertex || r._1 == ToNull)
        .toLong) ++ nulls.map(_ => 0L)
      val links = sorted.map(_._2.collect { case (ToVertex, d) => d })
      val prior = slots.iterator.zipWithIndex.collect {
        case (rs, i) if rs.exists(_._1 == Prior) =>
          i -> rs.collect { case (Prior, p) => p }.reduce(Math.addExact(_, _))
      }.toMap
      AdjBlock(sorted.map(_._1.longValue), outdeg,
        links.scanLeft(0)(_ + _.size), links.flatten,
        slots.map(rs => !personalized || rs.exists(_._1 == Seed)), prior)
    }
  }

  /** The ranks of one [[AdjBlock]]'s slots, in its order, with the
    * block's dangling total and its L1 from a segment's start (0 when
    * not measured). */
  private final case class RankBlock(
      ids: Array[Long], rank: Array[Long], dang: Long, l1: Long) {
    def rows: Iterator[Row] =
      Iterator.range(0, rank.length).map { i =>
        Row(if (i < ids.length) ids(i) else null, rank(i))
      }
  }


  /** HITS hubs & authorities (Kleinberg 1999) in the same fixed-point
    * integer discipline: authority = sum of in-neighbor hub scores,
    * hub = sum of out-neighbor authority scores, each renormalized to
    * total mass `scale` after every half-step (`x·scale div Σx` —
    * the one-row sum broadcasts, so normalization is exact integer
    * arithmetic and the whole iteration replays in SQL). The classic
    * complement to PageRank for crawl curation: authorities are the
    * content pages worth keeping, hubs are the link/directory pages
    * worth crawling but not training on.
    *
    * Scale shape, per iteration: one dst-keyed exchange (authority
    * sum), one src-keyed exchange (hub sum), two one-row broadcasts.
    * Renormalization is inherently TWO-PASS (the total must exist
    * before any row can be scaled), and each half-step references its
    * input twice — sum + total — so unpinned growth would be ~4^k per
    * iteration. Every half-step therefore pins its raw frame through
    * [[Materialize.checkpoint]] before the renorm total: the second
    * pass reads O(V) materialized rows instead of re-running the
    * half-step's joins. Pinning every iteration was A/B'd against
    * every 2 and 4 at 5k and 200k vertices (SCALE.md) and won at both:
    * an unpinned half-step is re-executed within its OWN iteration by
    * the renorm's second pass, so laziness duplicates work instead of
    * deferring it. The edges and vertices are pinned once up front,
    * since every pinned half-step would otherwise re-derive them.
    * Returns `(id, hub_fp, auth_fp)`. */
  def hits(
      edgesIn: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int,
      scale: Long = 1000000000L): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val edges = Materialize.checkpoint(edgesIn.select(
      col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")))
    val verts = Materialize.checkpoint(
      edges.select(col("src").as("id"))
        .union(edges.select(col("dst").as("id"))).distinct())
    val n = verts.count()
    var scores = verts.select(col("id"),
      lit(scale / n).as("hub_fp"), lit(scale / n).as("auth_fp"))
    def renorm(df0: DataFrame, cName: String): DataFrame = {
      val df = Materialize.checkpoint(df0)
      val total = df.agg(
        coalesce(sum(col(cName)), lit(0L)).as("__tot"))
      df.crossJoin(broadcast(total))
        .select(col("id"),
          when(col("__tot") > 0,
            expr(s"$cName * ${scale}L div __tot"))
            .otherwise(lit(0L)).as(cName))
    }
    for (_ <- 1 to iterations) {
      val auth = renorm(
        verts.join(
            edges.join(scores.select(col("id").as("src"), col("hub_fp")),
                "src")
              .groupBy(col("dst")).agg(sum(col("hub_fp")).as("auth_fp"))
              .withColumnRenamed("dst", "id"),
            Seq("id"), "left")
          .select(col("id"), coalesce(col("auth_fp"), lit(0L)).as("auth_fp")),
        "auth_fp")
      val hub = renorm(
        verts.join(
            edges.join(auth.select(col("id").as("dst"), col("auth_fp")),
                "dst")
              .groupBy(col("src")).agg(sum(col("auth_fp")).as("hub_fp"))
              .withColumnRenamed("src", "id"),
            Seq("id"), "left")
          .select(col("id"), coalesce(col("hub_fp"), lit(0L)).as("hub_fp")),
        "hub_fp")
      scores = hub.join(auth, Seq("id"))
    }
    scores.select(col("id"), col("hub_fp"), col("auth_fp"))
  }

  /** Per-destination anchor-text profile: the k most frequent terms in
    * the anchor text of a page's incoming links — how the REST of the
    * web describes a page, the classic index-side retrieval/quality
    * signal (it names pages better than their own titles and feeds the
    * same curation screens as the text-quality scores).
    *
    * Output is one row per `(id, term)` kept: `(id, term, n, rank)`,
    * ranked by count descending with the term as the deterministic
    * tiebreak.
    *
    * Scale shape: terms count on the HIGH-cardinality (dst, term) pair
    * (partial-aggregating, skew-safe — never a collect_list of raw
    * anchors per page); the per-page cut runs through the
    * partial-then-final [[graft.plans.GroupedTopK]] exec so a page with
    * millions of in-links contributes at most k rows per partition to
    * the final exchange; the rank window after the cut is bounded at k
    * rows per page by construction (the [[Crawl.frontierPlan]]
    * discipline). */
  def anchorTerms(
      edges: DataFrame,
      dstCol: String,
      anchorCol: String,
      k: Int): DataFrame = {
    val counts = edges
      .select(col(dstCol).as("id"),
        explode(split(lower(col(anchorCol)), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("n"))
    val order = Seq(col("n").desc, col("term").asc)
    graft.plans.GroupedTopK.topKPerGroup(counts, Seq("id"), order, k)
      .withColumn("rank", row_number()
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("id")).orderBy(order: _*))
        .cast("long"))
  }

  /** Per-vertex degree summary of an edge list: out-degree, in-degree,
    * and the intra-group link fraction under `groupOf` (e.g.
    * [[Crawl.urlHost]] of both endpoints) — the link-locality signal
    * that separates organically-linked pages from link-farm clusters
    * whose edges never leave their own host.
    *
    * Scale shape: one exchange per side keyed on the vertex (partial
    * sums), one final join of the two degree tables. No distinct
    * aggregates, no window.
    */
  def degreeReport(
      edgesIn: DataFrame,
      srcCol: String,
      dstCol: String,
      srcGroupCol: String,
      dstGroupCol: String): DataFrame = {
    val edges = edgesIn.select(
      col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"),
      (col(srcGroupCol) === col(dstGroupCol)).cast("long").as("intra"))
    val out = edges.groupBy(col("src").as("id")).agg(
      count(lit(1)).as("out_deg"),
      sum(col("intra")).as("out_intra"))
    val in = edges.groupBy(col("dst").as("id")).agg(
      count(lit(1)).as("in_deg"))
    out.join(in, Seq("id"), "full_outer")
      .select(
        col("id"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        round(coalesce(col("out_intra"), lit(0L)).cast("double") /
          when(col("out_deg").isNull || col("out_deg") === 0, lit(null))
            .otherwise(col("out_deg")), 6).as("intra_rate"))
  }
}
