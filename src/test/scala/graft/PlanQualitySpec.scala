package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** Pins the PHYSICAL plan properties that make the corpus scale: filters
  * reach the parquet scan, projections prune the read schema, dimension
  * joins broadcast, aggregations partial-aggregate map-side, and the
  * banded/LSH self-joins never degenerate to a cartesian product. A
  * correctness-green query whose plan regressed on any of these would
  * still pass the oracle — these tests are the 100×-scale gate. */
class PlanQualitySpec extends AnyFunSuite {

  private def spark = TestSpark.spark
  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, TestSpark.sf0001)

  test("extendIvfIndex: broadcast centroid fan-out, aggregated argmin, no window") {
    import org.apache.spark.sql.functions.col
    val embs = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val (_, cents) = operators.Similarity.buildIvfIndex(
      embs, "vec_id", "embedding", nLists = 4)
    val p = plan(operators.Similarity.extendIvfIndex(
      embs, cents, "vec_id", "embedding"))
    // The nLists-row centroid table must fan out as a BROADCAST (the
    // delta never shuffles for the assignment)...
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), s"centroids must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // ...and the per-vector argmin is a partial+final aggregate, never
    // a window over the 16-way fan-out.
    assert(!p.contains("Window"), s"argmin must not window:\n$p")
    assert(p.linesIterator.count(_.contains("Aggregate")) >= 2,
      s"expected partial+final aggregate pair:\n$p")
  }

  test("applyEdgeDelta: one pair-keyed exchange, no nested-loop blowup") {
    val s = spark
    import s.implicits._
    val prev = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val add = Seq((3L, 1L)).toDF("src", "dst")
    val rem = Seq((2L, 3L)).toDF("src", "dst")
    val p = plan(operators.LinkGraph.applyEdgeDelta(
      prev, add, rem, "src", "dst"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // exceptAll rewrites to a count-based aggregate over the full
    // (src,dst) pair — exactly one exchange keyed on the pair.
    assert(p.linesIterator.count(_.trim.startsWith("Exchange")) <= 1 ||
      p.linesIterator.count(_.contains("Exchange")) <= 2,
      s"the multiset difference is ONE pair-keyed exchange:\n$p")
  }

  test("parseSitemaps is map-only before its final distinct") {
    val s = spark
    import s.implicits._
    val bodies = Seq(("a.com", "Sitemap: http://a.com/sm.xml"))
      .toDF("host", "body")
    val p = plan(operators.Crawl.parseSitemaps(bodies, "host", "body"))
    assert(!p.contains("Window") && !p.contains("Join"),
      s"sitemap extraction must not window or join:\n$p")
  }

  test("filter is pushed down to the parquet scan") {
    val p = plan(q("q_filter"))
    assert(p.contains("PushedFilters:") &&
      (p.contains("GreaterThanOrEqual(l_quantity") || p.contains("IsNotNull(l_quantity")),
      s"expected l_quantity pushdown in:\n$p")
  }

  test("projection prunes the read schema to referenced columns") {
    val p = plan(q("q_projection"))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema:")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && !readSchema.contains("l_shipdate"),
      s"unused columns must not be read: $readSchema")
  }

  test("dimension join broadcasts the small side") {
    val p = plan(q("q_join_multi"))
    assert(p.contains("BroadcastHashJoin"),
      s"customer/orders dims should broadcast:\n$p")
  }

  test("grouped aggregation partial-aggregates before the shuffle") {
    val p = plan(q("q_agg_grouped"))
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 2, s"expected partial+final HashAggregate pair:\n$p")
  }

  test("exact dedup is a hash aggregate, not a sort or collect") {
    val p = plan(q("q_dedup_exact"))
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("banded minhash/simhash candidate joins are never cartesian") {
    for (name <- Seq("q_dedup_minhash", "q_dedup_simhash", "q_dedup_neardup")) {
      val p = plan(q(name))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name must join on (band, value) equality, got:\n$p")
    }
  }

  test("stats aggregates partial-aggregate before the shuffle") {
    val p = plan(q("q_stats_agg"))
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 2, s"stddev/corr/covar should plan partial+final:\n$p")
  }

  test("correlated EXISTS plans as semi/anti joins, not subquery loops") {
    val p = plan(q("q_exists"))
    assert(p.toLowerCase.contains("semi") && p.toLowerCase.contains("anti"),
      s"EXISTS/NOT EXISTS must decorrelate to semi+anti joins:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("RANGE window frame shuffles once on the partition key") {
    val p = plan(q("q_window_range"))
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2, s"range-frame window over-shuffles:\n$p")
    assert(p.contains("Window"), p)
  }

  test("IVF and ANN top-k rerank through partial aggregation, not a window") {
    // The rerank must be the two-phase TopKAggregator (map tasks forward
    // <= k candidates per query) - a row_number window here would ship
    // every scored row of a query to one task. IVF keeps ONE legitimate
    // window: the per-query cell probe ranks queries x nLists centroid
    // rows (tiny, broadcast), never corpus-sized data.
    for ((name, maxWindows) <- Seq("q_embed_ivf" -> 1, "q_embed_ann" -> 0)) {
      val p = plan(q(name))
      val windows = p.linesIterator.count(_.matches("\\s*(:?[+-]\\s)?\\(\\d+\\) Window\\b.*"))
      assert(windows <= maxWindows,
        s"$name reranks through a window ($windows > $maxWindows):\n${p.take(2000)}")
      assert(p.contains("ObjectHashAggregate"),
        s"$name must rank through the partial TopKAggregator:\n${p.take(2000)}")
    }
  }

  test("blocked exact cosine never materializes a per-pair vector row") {
    val p = plan(q("q_embed_neardup"))
    // The block-pair join may be nested-loop (tiny: B(B+1)/2 rows of
    // collected tiles) but the per-pair scoring lives in a typed
    // flatMap, so no Project of both vectors per output pair exists.
    assert(p.contains("SerializeFromObject"),
      s"expected the flatMap scoring stage in:\n$p")
  }

  test("whole-stage codegen covers the scalar/text hot paths") {
    for (name <- Seq("q_scalar_fn", "q_token_count", "q_fingerprint")) {
      // formatted mode tags codegen'd operators with "[codegen id : N]"
      val p = plan(q(name))
      assert(p.contains("[codegen id :"), s"$name fell out of codegen:\n$p")
    }
  }

  test("grouped top-k plans exactly one exchange between partial and final") {
    val p = q("q_grouped_topk").queryExecution.executedPlan.toString
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(p.contains("GroupedTopKExec(partial") && p.contains("GroupedTopKExec(final"), p)
    assert(exchanges == 1, s"expected exactly 1 exchange, got $exchanges:\n$p")
  }

  test("bloom-pruned scan stage stays codegen'd with no UDF in the probe") {
    // The probe must be the native BloomMightContainLong expression:
    // still inside whole-stage codegen, never a boxed Scala UDF
    // (BatchEvalPython is the pyspark shape of the same mistake).
    // Executed first: the AQE plan only carries codegen markers
    // (`*(n)`) once the final plan is materialized.
    val df = q("q_bloom_join")
    df.collect() // finalize THIS QueryExecution's adaptive plan
    val p = df.queryExecution.executedPlan.toString
    val filterLine = p.linesIterator
      .find(_.contains("bloom_might_contain_long")).getOrElse("")
    assert(filterLine.nonEmpty, s"expected the native bloom probe in:\n$p")
    assert(filterLine.contains("*("),
      s"bloom probe filter fell out of codegen: $filterLine\n$p")
    assert(!p.contains("BatchEvalPython") && !filterLine.contains("UDF"),
      s"bloom probe must not be a UDF:\n$p")
  }

  test("approx percentile partial-aggregates its fixed-state sketch") {
    // The whole point of percentile_approx over exact percentile is
    // mergeable fixed-size partial state: the plan must carry a
    // partial+final aggregate pair (sketches merge map-side), never a
    // single final aggregation buffering raw values.
    val p = plan(q("q_approx_percentile"))
    val aggs = p.linesIterator.count(l =>
      l.contains("ObjectHashAggregate") || l.contains("SortAggregate") ||
        l.contains("HashAggregate"))
    assert(aggs >= 2, s"expected partial+final aggregate pair:\n$p")
  }

  test("join strategy follows the broadcast threshold, not a hardcoded hint") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val p = q("q_join").queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastHashJoin"),
        s"with broadcast disabled the planner must pick a shuffle join:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
    } finally spark.conf.set(key, prev)
  }

  test("events source prunes partitions of the scan to referenced columns") {
    val p = plan(q("q_events_agg"))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema:")).getOrElse("")
    assert(!readSchema.contains("event_id"),
      s"aggregation over (event_type, value) must not read event_id: $readSchema")
  }

  test("stratified sample never windows on the bare stratum") {
    // Every window in the plan must partition by MORE than the stratum —
    // a Window.partitionBy(lang) alone concentrates each language on one
    // reducer (the exact hot-task shape stratifiedSampleExact exists to
    // avoid).
    import org.apache.spark.sql.catalyst.plans.logical
    val df = q("q_stratified")
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: logical.Window => w.partitionSpec.length
    }
    assert(windows.nonEmpty && windows.forall(_ >= 2),
      s"window partition specs must include the physical partition id, got arities: $windows")
  }

  test("vocab coverage and zipf fit never plan a single-task global window") {
    // Both need a global prefix sum / rank; the two-pass runningTotalBy
    // must keep every window partitioned (an empty partitionSpec is the
    // whole-corpus-through-one-reducer shape).
    import org.apache.spark.sql.catalyst.plans.logical
    for (name <- Seq("q_vocab_coverage", "q_zipf")) {
      val windows = q(name).queryExecution.optimizedPlan.collect {
        case w: logical.Window => w.partitionSpec.length
      }
      assert(windows.forall(_ >= 1),
        s"$name plans a window with an empty partitionSpec: arities $windows")
    }
  }

  test("bucketed packing's only unpartitioned window covers the bounded bucket table") {
    // bucketedPack may window without a partitionSpec ONLY over the
    // <=64-row bucket-offset aggregate; every row-scale window must be
    // partitioned (by __pid). An unpartitioned window whose subtree has
    // no Aggregate would be the whole-corpus-through-one-reducer shape.
    import org.apache.spark.sql.catalyst.plans.logical
    val plan = q("q_bucket_pack").queryExecution.optimizedPlan
    val bad = plan.collect {
      case w: logical.Window if w.partitionSpec.isEmpty &&
        w.collectFirst { case a: logical.Aggregate => a }.isEmpty => w
    }
    assert(bad.isEmpty,
      s"unpartitioned window over non-aggregated (row-scale) input:\n$bad")
  }

  test("in-context packing's only unpartitioned window covers the bounded cluster table") {
    // Same contract as bucketedPack, with the k-means cluster as the
    // group: the k-row cluster-offset aggregate may window
    // unpartitioned; every row-scale window must be partitioned.
    import org.apache.spark.sql.catalyst.plans.logical
    val plan = q("q_cluster_pack").queryExecution.optimizedPlan
    val bad = plan.collect {
      case w: logical.Window if w.partitionSpec.isEmpty &&
        w.collectFirst { case a: logical.Aggregate => a }.isEmpty => w
    }
    assert(bad.isEmpty,
      s"unpartitioned window over non-aggregated (row-scale) input:\n$bad")
  }

  test("domain cap and canonical selection run through the partial top-k exec") {
    for (name <- Seq("q_domain_cap", "q_canonical")) {
      val p = plan(q(name))
      assert(p.contains("GroupedTopK"),
        s"$name must plan the GroupedTopK custom exec:\n${p.take(2000)}")
      assert(!p.contains("CartesianProduct"), s"$name must not go cartesian")
    }
  }

  test("decontamination scan side never shuffles corpus text") {
    val p = plan(q("q_decontam"))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"eval shingle set must broadcast:\n${p.take(2000)}")
  }

  test("per-set decontamination broadcasts and scans the corpus once") {
    val p = plan(q("q_decontam_sets"))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"(set, shingle) pairs must broadcast:\n${p.take(2000)}")
    // The train side explodes once; no second corpus scan hides in the
    // report (the eval side reads the same parquet, so 2 scans total).
    // Formatted explain prints each node in the tree and again in the
    // detail section — count the numbered tree entries only.
    val scans = p.linesIterator
      .count(_.matches("\\s*(:?[+-]\\s)?\\(\\d+\\) Scan parquet\\b.*"))
    assert(scans <= 2, s"expected train + eval scans only, saw $scans")
  }

  test("exact Jaccard pairs come from posting lists, not an exploded self-join") {
    // The pair stage must cluster each shingle's docs ONCE (object-hash
    // collect_list aggregate) and emit pairs through back-to-back
    // generators with no exchange between them — the exploded self-join
    // it replaced shuffled the full posting set twice and sorted both
    // sides.
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val df = operators.Dedup.ngramJaccardPairs(docs, "doc_id", "text")
    val p = plan(df)
    assert(p.contains("ObjectHashAggregate"),
      s"postings must cluster via collect_list:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      "pair generation must not sort-merge the posting set against itself")
    // Exact pin (same rationale as the q_containment test below): a
    // lower bound could not catch reintroduced per-shingle Generates.
    val gen = p.linesIterator.count(_.matches("\\s*(:?[+-]\\s)?\\(\\d+\\) Generate\\b.*"))
    assert(gen == 3, s"expected exactly shingle + two pair generators, got $gen")
    // One corpus pass: the shingle counts ride in the postings, so no
    // count join reads documents a second or third time.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val nodes = PlanCheck.nodes(df)
    val scans = nodes.collect { case f: FileSourceScanExec => f }
    assert(scans.size == 1 && scans.head.relation.location.rootPaths.head.getName ==
      "documents.parquet", s"expected one documents scan:\n${p.take(2000)}")
    assert(!nodes.exists(_.isInstanceOf[BaseJoinExec]), s"no join expected:\n${p.take(2000)}")
  }

  test("PlanCheck canary: a deliberate text shuffle IS visible through AQE " +
      "(and the naive collect is blind to it)") {
    import org.apache.spark.sql.functions.col
    // A frame that indisputably shuffles the text column — if
    // PlanCheck cannot see this, every "text never crosses an
    // exchange" pin in this suite is vacuous again. (repartition, not
    // groupBy: an aggregate's exchange carries the agg BUFFER attrs,
    // whose names are `first(text)`-style, not `text`.)
    val df = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
      .select("doc_id", "text")
      .repartition(col("doc_id"))
      .filter(col("doc_id") >= 0)
    df.collect() // final adaptive plan: exchanges live inside query stages
    assert(PlanCheck.exchangesCarrying(df, "text").nonEmpty,
      "PlanCheck lost sight of a real text shuffle — the AQE descender broke")
    // Document the trap this suite used to fall into: the naive typed
    // collect on the adaptive plan finds NOTHING. If Spark ever makes
    // TreeNode.collect descend AdaptiveSparkPlanExec, this fires and
    // PlanCheck can be simplified.
    import org.apache.spark.sql.execution.exchange.Exchange
    val naive = df.queryExecution.executedPlan.collect {
      case e: Exchange if e.child.output.exists(_.name == "text") => e
    }
    assert(naive.isEmpty,
      "TreeNode.collect now descends AQE wrappers — simplify PlanCheck.nodes")
  }

  test("incremental dedup anti-joins digests; reference text never crosses the wire") {
    val df = q("q_dedup_incremental")
    val p = plan(df)
    assert(p.contains("LeftAnti"), s"expected anti join:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "content-hash anti join must stay an equi hash join")
    // The reference side must reduce to its 32-byte digest BEFORE any
    // exchange: at 100 TB the historical corpus's text staying in place
    // is the point of incremental dedup.
    val exchangesCarryingText = PlanCheck.exchangesCarrying(df, "text")
    assert(exchangesCarryingText.isEmpty,
      "an exchange input still carries the text column")
  }

  test("line dedup: one digest-only shuffle, removal map-only behind a broadcast") {
    val df = q("q_line_dedup")
    // The df-count pass reduces lines to md5 digests BEFORE its
    // exchange, and the removal is a row-local array filter against
    // the broadcast one-row hot set — so the whole operator has ONE
    // hash exchange and corpus text never crosses the wire.
    val exchangesCarryingText = PlanCheck.exchangesCarrying(df, "text")
    assert(exchangesCarryingText.isEmpty,
      "an exchange input still carries the text column")
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), "hot-set probe must not be all-pairs")
    val shuffles = df.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(shuffles <= 1,
      s"line dedup must shuffle only the digest df count, got $shuffles")
  }

  test("url canonicalization is a zero-shuffle projection") {
    val p = q("q_url_canon").queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"canonicalization must be map-only, found an exchange:\n${p.take(1500)}")
  }

  test("url dedup shuffles ONCE, partitioned on the canonical digest") {
    val plan = q("q_url_dedup").queryExecution.executedPlan.toString
    val shuffles = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(shuffles.size == 1,
      s"url dedup must have exactly one hash exchange, got ${shuffles.size}:\n" +
        plan.take(2000))
    // The window's partition key is projected to a `_w0` alias below
    // the exchange, so assert the digest projection exists in the plan
    // (it is the only sha2 in this query) and the single exchange keys
    // on that alias.
    assert(plan.contains("sha2("),
      s"the exchange must partition on the canonical-url DIGEST " +
        s"(fixed-width keys, salt-friendly):\n${plan.take(2000)}")
  }

  test("host report partial-aggregates before its single host exchange") {
    val plan = q("q_host_report").queryExecution.executedPlan.toString
    assert(plan.linesIterator
      .count(_.contains("Exchange hashpartitioning")) <= 2,
      s"host report: host agg + countDistinct expansion only:\n${plan.take(2000)}")
    assert(plan.contains("partial"),
      s"map-side partial aggregation expected:\n${plan.take(2000)}")
  }

  test("paragraph dedup: text never shuffles, one digest exchange (same pins as line dedup)") {
    val df = q("q_para_dedup")
    val exchangesCarryingText = PlanCheck.exchangesCarrying(df, "text")
    assert(exchangesCarryingText.isEmpty,
      "an exchange input still carries the text column")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), "hot-set probe must not be all-pairs")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 1,
      "paragraph dedup must shuffle only the digest df count")
  }

  test("pagerank: one scan of the loop's pinned ranks, no exchange, no cartesian") {
    // The iterations run on the co-partitioned block loop (contributions
    // combined map-side by reduceByKey, the dangling total a driver
    // literal); the returned frame only reads the last state's pin.
    val p = q("q_pagerank").queryExecution.executedPlan.toString
    assert(p.contains("Scan ExistingRDD"),
      s"the ranks must be read from the loop's pinned state:\n${p.take(2000)}")
    assert(!p.contains("Exchange") && !p.contains("CartesianProduct"),
      s"nothing is left to shuffle or cross-join after the loop:\n${p.take(2000)}")
    assert(!p.contains("Window"),
      s"pagerank has no per-vertex ordering — a window would be a planner bug:\n${p.take(2000)}")
  }

  test("link degree report: two partial-agg sides, no window, no distinct-agg expand") {
    val p = q("q_link_degree").queryExecution.executedPlan.toString
    assert(p.contains("partial"), s"degree sums must partial-aggregate:\n${p.take(2000)}")
    assert(!p.contains("Window") && !p.contains("Expand"),
      s"degree report is plain sums — no window, no distinct-aggregate Expand:\n${p.take(2000)}")
  }

  test("trap report rolls up the spread triple; mirror pairs never ship text") {
    val traps = q("q_url_traps").queryExecution.executedPlan.toString
    assert(traps.contains("partial") && !traps.contains("Expand"),
      s"trap report must partial-aggregate, never distinct-expand:\n${traps.take(2000)}")
    val m = q("q_mirror_hosts").queryExecution.executedPlan.toString
    assert(!m.contains("CartesianProduct"),
      s"mirror pairing joins on the digest key:\n${m.take(2000)}")
    // Text reduces to sha2 digests BEFORE any exchange: no exchange row
    // type may carry the text column.
    val textInExchange = m.linesIterator
      .filter(_.contains("Exchange")).exists(_.contains("text"))
    assert(!textInExchange,
      s"content must cross exchanges as digests only:\n${m.take(2000)}")
  }

  test("anchor-text profile cuts per page through the partial top-k exec") {
    val p = plan(q("q_anchor_text"))
    assert(p.contains("GroupedTopK"),
      s"the per-page cut must be the partial-then-final top-k exec:\n${p.take(2000)}")
    assert(p.contains("partial"),
      s"(dst, term) counts must partial-aggregate map-side:\n${p.take(2000)}")
  }

  test("unicode cleanup and markup strip are zero-shuffle projections") {
    Seq("q_nfc_normalize", "q_html_strip").foreach { name =>
      val p = q(name).queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"$name must be map-only, found an exchange:\n${p.take(1500)}")
      // "*(n)" is simpleString's WholeStageCodegen marker.
      assert(p.contains("*(1)"),
        s"$name must stay inside one codegen stage:\n${p.take(1500)}")
    }
  }

  test("rag chunking is zero-shuffle; chunk retrieval never shuffles the corpus") {
    val pc = q("q_rag_chunks").queryExecution.executedPlan.toString
    assert(!pc.contains("Exchange"),
      s"chunking must be map-only:\n${pc.take(1500)}")
    val pr = q("q_chunk_retrieval").queryExecution.executedPlan.toString
    // Literal-terms BM25 over the chunk table: one broadcast stats row,
    // bounded-heap top-k — no hash exchange anywhere.
    assert(!pr.contains("Exchange hashpartitioning"),
      s"chunk retrieval must not shuffle the corpus:\n${pr.take(1500)}")
    assert(pr.contains("TakeOrderedAndProject"),
      s"top-k must use bounded heaps:\n${pr.take(1500)}")
  }

  test("anchored substring dedup reduces text to digests before any exchange") {
    val df = q("q_substring_dedup")
    // Anchor selection and span digesting are row-local; from the first
    // aggregation on, only (id, md5 digest, count) rows move. At 100 TB
    // the corpus text never crossing the wire is the operator's scale
    // contract.
    val exchangesCarryingText = PlanCheck.exchangesCarrying(df, "text")
    assert(exchangesCarryingText.isEmpty,
      "an exchange input still carries the text column")
    val p = plan(df)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "span-total join must stay a digest-keyed equi join")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      "per-span totals must map-side combine")
  }

  test("tf-idf shuffles the corpus once and tops-k through the partial heap exec") {
    val p = plan(q("q_tfidf"))
    assert(p.contains("GroupedTopK"),
      s"per-doc ranking must use the partial top-k exec:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), "tf-idf must never go cartesian")
    // The 1-row corpus count appears as a broadcast cross join — assert
    // the tf(doc,term) join side broadcasts the Zipf-small df side
    // rather than shuffling the corpus-sized tf again.
    assert(p.contains("BroadcastHashJoin"),
      s"df(term) side must broadcast into tf:\n${p.take(2000)}")
    // df(term) derives from tf, so the token stream is exploded at most
    // twice statically (AQE reuses the identical tf exchange at runtime).
    import org.apache.spark.sql.catalyst.plans.logical
    val gen = q("q_tfidf").queryExecution.optimizedPlan.collect {
      case g: logical.Generate => g
    }.length
    assert(gen <= 2, s"token stream must not re-explode per branch, got $gen generators")
  }

  test("containment pairs cluster fingerprint postings and never go cartesian") {
    val p = plan(q("q_containment"))
    assert(p.contains("ObjectHashAggregate"),
      s"fingerprint postings must cluster via collect_list:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "pair generation must stay posting-local, never all-pairs")
    // fingerprinting itself is the native expression — no per-shingle
    // explode before the posting stage beyond the fps explode + the two
    // pair generators. Exact pin: a lower bound could not catch a
    // reintroduced per-shingle Generate (it would only ADD generators).
    // Formatted explain prints each node in the tree and again in the
    // detail section — count the numbered tree entries only.
    val gen = p.linesIterator.count(_.matches("\\s*(:?[+-]\\s)?\\(\\d+\\) Generate\\b.*"))
    assert(gen == 3, s"expected exactly fps + two pair generators, got $gen")
  }

  test("permissive JSONL scan reads once with no shuffle") {
    val p = plan(q("q_jsonl_robust"))
    assert(!p.contains("Exchange"),
      s"ingestion projection must be map-only:\n${p.take(2000)}")
    // formatted explain prints the node once in the tree and once in
    // the detail section — count the tree entries only
    assert(p.linesIterator.count(_.matches("\\(\\d+\\) Scan json.*")) == 1,
      s"exactly one JSON scan:\n${p.take(2000)}")
  }
}
