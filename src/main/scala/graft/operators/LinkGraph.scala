package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
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
  */
object LinkGraph {

  /** Vertex count at which the iterative operators switch from lazy
    * 4-iteration segments to pin-every-iteration (AUTO cadence, the
    * measured crossover band: 5k vertices — job latency dominates,
    * lazy wins 2×; 200k vertices — recompute dominates, pinning wins
    * 3×). */
  val AutoPinVertices = 50000L

  private def resolveCadence(materializeEvery: Int, n: Long): Int =
    if (materializeEvery >= 0) materializeEvery
    else if (n >= AutoPinVertices) 1
    else 4

  /** The static per-graph frames every iteration reuses. */
  private case class GraphFrames(
      edges: DataFrame, verts: DataFrame, outdeg: DataFrame)

  private def graphFrames(
      edgesIn: DataFrame, srcCol: String, dstCol: String): GraphFrames = {
    val edges = edgesIn.select(
      col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val verts = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id")))
      .distinct()
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    GraphFrames(edges, verts, outdeg)
  }

  /** The static per-vertex PageRank base `(id, outdeg)` (null outdeg =
    * dangling), LAZILY pinned — counting it is the one driver scalar
    * every PageRank entry point needs anyway (|V|: vbase has exactly
    * one row per vertex), so the count job materializes the pin as a
    * side effect: zero extra jobs, and every iteration (plus every
    * mid-loop checkpoint) reads O(V) pinned blocks instead of carrying
    * the vertex-distinct + outdeg aggregate + join subtree inside its
    * 2^k-replicated lineage (r18;
    * the r17 carry-outdeg rewrite moved the joins out of the
    * iteration, this moves the derivation out of the plan). */
  private def pinnedVBase(g: GraphFrames): DataFrame =
    Materialize.checkpoint(
      g.verts.join(g.outdeg.withColumnRenamed("src", "id"), Seq("id"), "left"),
      eager = false)

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
    *
    * Scale shape, per iteration: contributions are ONE exchange on the
    * destination key (partial-aggregating `sum`, map-side combine); the
    * dangling total is a one-row aggregate CROSS-JOINED as a broadcast
    * — kept lazy, no per-iteration driver action; the vertex left-join
    * keeps rank mass on no-inlink pages. The only driver scalar is N
    * (one `count`). Lineage growth is EXPONENTIAL, not linear: each
    * iteration references the previous `ranks` frame TWICE (once via
    * the contribution sum, once via the dangling-mass aggregate), so
    * the unmaterialized plan contains 2^k copies of the base scan
    * after k iterations — measured at the knee in
    * `tools/scale_probe_r12.scala` (4 iterations analyze in
    * milliseconds; 12+ unpinned stalls Catalyst for minutes on a
    * 5-vertex graph). `materializeEvery` (below) is therefore not an
    * optimization but a correctness-of-scale requirement for real
    * iteration counts — the same checkpoint-vs-lineage discipline as
    * [[Dedup]]'s pointer-jumping.
    *
    * `initial` warm-starts the iteration from a prior run's
    * `(id, rank_fp)` frame — the recrawl shape: last month's converged
    * ranks seed this month's graph, so a handful of iterations absorb
    * the delta instead of re-converging from uniform. Vertices absent
    * from `initial` (newly discovered pages) enter at the uniform
    * `scale div N`; `initial` rows for vertices no longer in the edge
    * list (dead pages) drop — the vertex set is always the current
    * graph's. Because each iteration is a deterministic function of
    * the rank frame, warm-starting from `pageRank(k1)` and running k2
    * more is BIT-IDENTICAL to `pageRank(k1+k2)` (spec-pinned), so
    * resuming is exact, not approximate. Mass drift in a hand-rolled
    * `initial` self-corrects: the update is a contraction that
    * re-approaches total mass `scale` at rate num/den per iteration.
    *
    * `materializeEvery` is that discipline as a parameter: every k
    * iterations `ranks` routes through [[Materialize.checkpoint]],
    * bounding the plan at 2^k copies of the base. The doubling is
    * EXECUTION work too — Spark shares no subtrees across the two
    * references — so at 200k vertices / 300k edges, 8 iterations,
    * pinning every 4 / 2 / 1 cost 44.7 / 18.2 / 14.7 s; at 5k vertices
    * the per-job latency of each eager checkpoint dominates instead,
    * and pin-every-1 measured 2× SLOWER than lazy segments. Hence AUTO
    * (`-1`): every iteration from [[LinkGraph.AutoPinVertices]]
    * vertices (the count is on the driver anyway), else every 4. Any
    * cadence is BIT-IDENTICAL (fixed-point Longs; spec-pinned, and
    * driver-gated by q_pagerank_pinned). 0 disables the mid-loop pins
    * (right only for 1-2 iterations); the static base is pinned at
    * every cadence — the |V| count writes it as a side effect, one
    * O(V) block write and no extra job.
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
      initial: Option[DataFrame] = None,
      materializeEvery: Int = -1): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(dampingNum >= 0 && dampingNum <= dampingDen,
      s"damping $dampingNum/$dampingDen outside [0,1]")
    val g0 = graphFrames(edgesIn, srcCol, dstCol)
    val vbase = pinnedVBase(g0)
    val n = vbase.count() // the one driver scalar; materializes the pin
    require(n > 0, "pageRank needs a non-empty edge list")
    val cadence = resolveCadence(materializeEvery, n)
    // Pin the EDGES only when the loop materializes MID-STREAM: then
    // ≥ 2 jobs (checkpoints + the final consumption) would each
    // re-derive them. A lazy or single-segment run skips that pin. The
    // vertex and out-degree statics need no pins of their own — the
    // loop reads them off the already-materialized vbase.
    val edges =
      if (cadence > 0 && iterations > cadence) Materialize.checkpoint(g0.edges)
      else g0.edges
    val init = scale / n
    val base = ((dampingDen - dampingNum) * init) / dampingDen
    // The static per-vertex base (id, outdeg; null outdeg = dangling)
    // rides ON the rank frame, so every iteration drops two joins (r17):
    // contribs reads `outdeg` off the rank row instead of joining
    // outdeg per iteration, and the dangling total is a FILTER over the
    // rank frame instead of a left-anti join. The rank frame still has
    // exactly TWO consumers per iteration (contribs, dangling) —
    // lineage growth is unchanged at 2^k per unpinned segment.
    var ranks = initial match {
      case None =>
        vbase.select(col("id"), col("outdeg"), lit(init).as("rank_fp"))
      case Some(prior) =>
        vbase.join(
            prior.select(col("id"), col("rank_fp").as("__prior")),
            Seq("id"), "left")
          .select(col("id"), col("outdeg"),
            coalesce(col("__prior"), lit(init)).as("rank_fp"))
    }
    for (iter <- 1 to iterations) {
      // Every frame here descends from `edges`, so joins use column
      // NAMES (unique by construction), never dataset-qualified refs —
      // qualified attributes are ambiguous under Spark's self-join
      // dedup once the lineages share a scan.
      val contribs = edges
        .join(ranks.withColumnRenamed("id", "src"), "src")
        .select(col("dst"), expr("rank_fp div outdeg").as("contrib"))
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("insum"))
      val dangling = ranks
        .filter(col("outdeg").isNull)
        .agg(coalesce(sum(col("rank_fp")), lit(0L)).as("dang"))
      ranks = vbase
        .join(contribs.withColumnRenamed("dst", "id"), Seq("id"), "left")
        .crossJoin(broadcast(dangling))
        .select(
          col("id"), col("outdeg"),
          (lit(base) +
            expr(s"$dampingNum * (coalesce(insum, 0L) + (dang div $n))" +
              s" div $dampingDen")).as("rank_fp"))
      // Pin the rank frame every `cadence` iterations (never after
      // the last — the caller decides whether the RESULT
      // materializes). The values are fixed-point Longs, so this
      // changes nothing but the plan depth and the execution shape.
      if (cadence > 0 && iter % cadence == 0 && iter < iterations)
        ranks = Materialize.checkpoint(ranks)
    }
    ranks.select(col("id"), col("rank_fp"))
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
    * q_pagerank_delta. Vertices/out-degrees re-derive from the patched
    * list by partial aggregation inside [[pageRank]] — the same two
    * exchanges any run needs, now fed by the patch instead of a
    * rebuild. */
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
      scale: Long = 1000000000L,
      materializeEvery: Int = -1): DataFrame =
    pageRank(
      applyEdgeDelta(prevEdges, addedEdges, removedEdges, srcCol, dstCol),
      "src", "dst", iterations, dampingNum, dampingDen, scale,
      initial = Some(priorRanks), materializeEvery)

  /** PageRank TO CONVERGENCE — the production loop: nobody knows the
    * right iteration count up front, so iterate in SEGMENTS of
    * `segment` iterations and stop when the L1 rank delta across a
    * segment drops to `tolFp` fixed-point units, or at `maxIterations`
    * (the last segment is clamped; the first is never measured).
    * Semantics are [[pageRank]]'s — a null endpoint is one more,
    * dangling, vertex; overflow throws — and the result is
    * BIT-IDENTICAL to `pageRank(iterationsRun)` (spec-pinned;
    * driver-gated by q_pagerank_conv's exact oracle).
    *
    * The loop is eager (one driver scalar per segment), so it runs on
    * RDDs co-partitioned the GraphX way (Gonzalez et al., OSDI 2014)
    * instead of a growing DataFrame plan: one CSR adjacency block and
    * one rank array per hash partition of `spark.sql.shuffle.partitions`,
    * in the same vertex order. An iteration is ONE job — the
    * contributions summed by `reduceByKey` (the only shuffle), then the
    * update zipped against the adjacency with the dangling total as a
    * literal; the action returns the next dangling total and, at a
    * measured segment end, the L1. States persist at
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
    val spark = edgesIn.sparkSession
    val sc = spark.sparkContext
    val edges = edgesIn.select(
      col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
    val idNullable = edges.schema.fields.exists(_.nullable)
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
      val adj = edges.rdd.flatMap(linkRecords).groupByKey(part)
        .mapPartitions(it => Iterator.single(AdjBlock(it))).persist(level)
      held += adj
      val sizes = sc.runJob(adj, (it: Iterator[AdjBlock]) => {
        val a = it.next(); (a.size.toLong, a.outdeg.count(_ == 0).toLong)
      })
      val n = sizes.map(_._1).sum
      require(n > 0, "pageRankConverged needs a non-empty edge list")
      val init = scale / n
      val base = ((dampingDen - dampingNum) * init) / dampingDen

      var state: RDD[RankBlock] =
        adj.map(a => RankBlock(a.ids, Array.fill(a.size)(init), 0L, 0L))
      var dang = Math.multiplyExact(init, sizes.map(_._2).sum)
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
          val lift = dang / n
          val next =
            if (measure && end)
              adj.zipPartitions(insum, start) { (ai, ci, si) =>
                Iterator.single(ai.next().update(
                  ci, base, dampingNum, dampingDen, lift, si.next()))
              }
            else
              adj.zipPartitions(insum) { (ai, ci) =>
                Iterator.single(ai.next().update(
                  ci, base, dampingNum, dampingDen, lift, null))
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

  /** One edge's records for the adjacency build, keyed by vertex (a
    * null endpoint keys the null vertex): an out-link on `src` (to
    * `dst`, or [[ToNull]]) and an in-link marker on `dst`. */
  private def linkRecords(e: Row): Seq[(java.lang.Long, (Int, Long))] = {
    def key(i: Int) = if (e.isNullAt(i)) null else java.lang.Long.valueOf(e.getLong(i))
    val out = if (e.isNullAt(1)) (ToNull, 0L) else (ToVertex, e.getLong(1))
    Seq(key(0) -> out, key(1) -> (InLink, 0L))
  }

  private val InLink = 0
  private val ToVertex = 1
  private val ToNull = 2

  /** One hash partition of the graph for [[pageRankConverged]]: its
    * non-null vertex ids ascending, then the null vertex if the
    * partition holds it (slot `ids.length`); each slot's out-degree (0 =
    * dangling; the null vertex is always dangling), and the non-null
    * vertices' out-links in CSR form — slot `i` links to
    * `dsts(dstFrom(i) until dstFrom(i + 1))`. A link to a null
    * endpoint counts in the degree but has no entry: its share of rank
    * is dropped, as in [[pageRank]]. */
  private final case class AdjBlock(
      ids: Array[Long],
      outdeg: Array[Long],
      dstFrom: Array[Int],
      dsts: Array[Long]) {
    def size: Int = outdeg.length

    /** Each out-link's share `rank div outdeg` of its source's rank in
      * `r`, keyed by destination. */
    def contributions(r: RankBlock): Iterator[(Long, Long)] =
      Iterator.range(0, ids.length).filter(outdeg(_) > 0).flatMap { i =>
        val share = r.rank(i) / outdeg(i)
        Iterator.range(dstFrom(i), dstFrom(i + 1)).map(j => (dsts(j), share))
      }

    /** The next ranks from this block's summed in-contributions
      * `(dst, insum)`: `base + num·(insum + lift) div den`, with
      * `lift` = dang div n. With `from` (the segment's start state)
      * the block's L1 distance from it is filled in. */
    def update(in: Iterator[(Long, Long)], base: Long, num: Long, den: Long,
        lift: Long, from: RankBlock): RankBlock = {
      val insum = new Array[Long](size)
      in.foreach { case (dst, s) =>
        insum(java.util.Arrays.binarySearch(ids, dst)) = s
      }
      val rank = new Array[Long](size)
      var dang = 0L
      var l1 = 0L
      for (i <- 0 until size) {
        rank(i) = Math.addExact(base,
          Math.multiplyExact(num, Math.addExact(insum(i), lift)) / den)
        if (outdeg(i) == 0) dang = Math.addExact(dang, rank(i))
        if (from != null) l1 = Math.addExact(l1,
          Math.absExact(Math.subtractExact(rank(i), from.rank(i))))
      }
      RankBlock(ids, rank, dang, l1)
    }
  }

  private object AdjBlock {
    def apply(
        groups: Iterator[(java.lang.Long, Iterable[(Int, Long)])]): AdjBlock = {
      val (nulls, keyed) = groups.toArray.partition(_._1 == null)
      val sorted = keyed.sortBy(_._1.longValue)
      val outdeg = sorted.map(_._2.count(_._1 != InLink).toLong) ++
        nulls.map(_ => 0L)
      val links = sorted.map(_._2.collect { case (ToVertex, d) => d })
      AdjBlock(sorted.map(_._1.longValue), outdeg,
        links.scanLeft(0)(_ + _.size), links.flatten)
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
    * ignored — total teleport mass always lands on real vertices.
    *
    * Scale shape: identical to [[pageRank]] — one dst-keyed exchange
    * per iteration, dangling total as a one-row broadcast, seeds as a
    * broadcast flag join (seed sets are small by definition). Driver
    * scalars: |S| (one count). Same `materializeEvery` discipline
    * (the lineage doubles per iteration here too). */
  def personalizedPageRank(
      edgesIn: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      iterations: Int,
      dampingNum: Long = 85L,
      dampingDen: Long = 100L,
      scale: Long = 1000000000L,
      materializeEvery: Int = -1): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val g0 = graphFrames(edgesIn, srcCol, dstCol)
    val seedFlag = broadcast(
      seeds.select(col("id").cast("long").as("id")).distinct()
        .withColumn("__seed", lit(1L)))
    // The static (id, is_seed) base frame, LAZILY pinned (r18): the
    // update references `flagged` every iteration, so unpinned it
    // rides the 2^k-replicated lineage carrying the vertex-distinct
    // exchange with it. The nsRow aggregate below is its first action
    // and materializes the pin as a side effect — zero extra jobs,
    // same rule as [[pinnedVBase]]. (The r17 carry-outdeg rewrite was
    // A/B'd here and REVERTED — it moved the outdeg aggregate INTO
    // this replicated lineage; this change does the opposite, moving
    // the seed-flag derivation OUT of it.)
    val flagged = Materialize.checkpoint(
      g0.verts.join(seedFlag, Seq("id"), "left")
        .select(col("id"), coalesce(col("__seed"), lit(0L)).as("is_seed")),
      eager = false)
    // ONE driver job for both scalars: |S ∩ V| (the teleport divisor —
    // phantom seeds outside the graph are excluded, see the scaladoc)
    // and |V| (the cadence key, the work per iteration).
    val nsRow = flagged
      .agg(count(lit(1)).as("__n"),
        coalesce(sum(col("is_seed")), lit(0L)).as("__s"))
      .collect()(0)
    val s = nsRow.getLong(1)
    require(s > 0,
      "personalizedPageRank needs at least one seed present in the graph")
    val cadence = resolveCadence(materializeEvery, nsRow.getLong(0))
    // Same statics-pinning rule as [[pageRank]]: only when mid-loop
    // checkpoints will re-derive them. `flagged` is already
    // materialized (above) either way; the vertex frame needs no pin
    // of its own — nothing in the loop reads it directly.
    val pinStatics = cadence > 0 && iterations > cadence
    val g =
      if (pinStatics) {
        val e = Materialize.checkpoint(g0.edges)
        GraphFrames(e, g0.verts, Materialize.checkpoint(
          e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))))
      } else g0
    val init = scale / s
    val base = ((dampingDen - dampingNum) * init) / dampingDen
    // NOTE (r17): the [[pageRank]] carry-outdeg-on-the-rank-frame
    // rewrite was A/B'd here too and REGRESSED the lazy small-graph
    // shape this query family runs in (q_ppr 3.05 → 4.27 s isolated):
    // PPR's update path references `flagged` every iteration, so the
    // outdeg aggregate moved from the statically-reusable
    // edges⋈outdeg subtree (exchange-reused across iterations) into
    // the 2^k-replicated update lineage. Kept in the measured faster
    // original form.
    var ranks = flagged.select(col("id"), col("is_seed"),
      (col("is_seed") * init).as("rank_fp"))
    for (iter <- 1 to iterations) {
      val contribs = g.edges
        .join(g.outdeg, "src")
        .join(ranks.select(col("id").as("src"), col("rank_fp")), "src")
        .select(col("dst"), expr("rank_fp div outdeg").as("contrib"))
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("insum"))
      val dangling = ranks
        .join(g.outdeg.withColumnRenamed("src", "id"), Seq("id"), "left_anti")
        .agg(coalesce(sum(col("rank_fp")), lit(0L)).as("dang"))
      ranks = flagged
        .join(contribs.withColumnRenamed("dst", "id"), Seq("id"), "left")
        .crossJoin(broadcast(dangling))
        .select(
          col("id"), col("is_seed"),
          (col("is_seed") * (lit(base) +
              expr(s"$dampingNum * (dang div $s) div $dampingDen")) +
            expr(s"$dampingNum * coalesce(insum, 0L) div $dampingDen"))
            .as("rank_fp"))
      if (cadence > 0 && iter % cadence == 0 && iter < iterations)
        ranks = Materialize.checkpoint(ranks)
    }
    ranks.select(col("id"), col("rank_fp"))
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
    * input twice — sum + total — so unpinned growth is ~4^k per
    * iteration (the [[pageRank]] doubling, squared).
    *
    * `materializeEvery` is the same checkpoint-vs-lineage knob as
    * [[pageRank]]'s: every `materializeEvery`-th ITERATION both
    * half-steps pin their raw frame before the renorm total (the
    * second pass then reads O(V) materialized rows instead of
    * re-running the half-step's joins); in-between iterations stay
    * lazy. AUTO (`-1`) resolves to pin-every-iteration at EVERY graph
    * size — A/B'd at 5k and 200k vertices (SCALE.md): unlike
    * pageRank, an unpinned half-step is re-executed within its OWN
    * iteration by the renorm's second pass, so laziness duplicates
    * work instead of deferring it and the small-graph job-latency
    * trade never wins. Any cadence is BIT-IDENTICAL (fixed-point
    * Longs; the q_hits oracle is the transparency gate, the
    * cross-cadence spec pins 0/1/2 equal). Returns
    * `(id, hub_fp, auth_fp)`. */
  def hits(
      edgesIn: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int,
      scale: Long = 1000000000L,
      materializeEvery: Int = -1): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    // AUTO resolves to pin-every-iteration at EVERY size — measured at
    // 5k AND 200k vertices, 4 iterations (tools/scale_probe_r13.scala,
    // SCALE.md): 7.0/7.9/15.6 s and 10.6/11.8/21.4 s for cadence
    // 1/2/4. Unlike pageRank, laziness never pays here: the two-pass
    // renorm re-executes an unpinned half-step within its OWN
    // iteration (total + scale are two references), so skipping a pin
    // DUPLICATES work instead of deferring it, at any graph size.
    val cadence = if (materializeEvery >= 0) materializeEvery else 1
    val g0 = graphFrames(edgesIn, srcCol, dstCol)
    // Statics pinning (edges + verts; hits never needs out-degrees):
    // any pinned half-step is a job that would re-derive them, so pin
    // only when some iteration will actually pin (cadence > 0 AND the
    // run is long enough to reach a pin point — materializeEvery=4
    // with 3 iterations never pins, and paying two checkpoint writes
    // no renorm ever reads would contradict the rule). Fully-lazy and
    // never-pinning runs keep the zero-setup-jobs construction.
    val (edges, verts) =
      if (cadence > 0 && iterations >= cadence) {
        val e = Materialize.checkpoint(g0.edges)
        val v = Materialize.checkpoint(
          e.select(col("src").as("id"))
            .union(e.select(col("dst").as("id"))).distinct())
        (e, v)
      } else (g0.edges, g0.verts)
    val n = verts.count()
    var scores = verts.select(col("id"),
      lit(scale / n).as("hub_fp"), lit(scale / n).as("auth_fp"))
    def renorm(df0: DataFrame, cName: String, pin: Boolean): DataFrame = {
      // Pinned: the two-pass renorm reads O(V) materialized rows
      // twice instead of running the half-step's joins twice. Lazy:
      // the doubled work is deferred to the next pinned iteration —
      // cheaper on small graphs where job latency dominates.
      val df = if (pin) Materialize.checkpoint(df0) else df0
      val total = df.agg(
        coalesce(sum(col(cName)), lit(0L)).as("__tot"))
      df.crossJoin(broadcast(total))
        .select(col("id"),
          when(col("__tot") > 0,
            expr(s"$cName * ${scale}L div __tot"))
            .otherwise(lit(0L)).as(cName))
    }
    for (iter <- 1 to iterations) {
      val pin = cadence > 0 && iter % cadence == 0
      val auth = renorm(
        verts.join(
            edges.join(scores.select(col("id").as("src"), col("hub_fp")),
                "src")
              .groupBy(col("dst")).agg(sum(col("hub_fp")).as("auth_fp"))
              .withColumnRenamed("dst", "id"),
            Seq("id"), "left")
          .select(col("id"), coalesce(col("auth_fp"), lit(0L)).as("auth_fp")),
        "auth_fp", pin)
      val hub = renorm(
        verts.join(
            edges.join(auth.select(col("id").as("dst"), col("auth_fp")),
                "dst")
              .groupBy(col("src")).agg(sum(col("auth_fp")).as("hub_fp"))
              .withColumnRenamed("src", "id"),
            Seq("id"), "left")
          .select(col("id"), coalesce(col("hub_fp"), lit(0L)).as("hub_fp")),
        "hub_fp", pin)
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
