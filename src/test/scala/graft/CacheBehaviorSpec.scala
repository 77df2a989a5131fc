package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.DataType
import org.scalatest.funsuite.AnyFunSuite

import graft.extensions._

/** Spark-backed port of the reference's behavioral test layer
  * (`tests/test_dbfs_spark_cache.py:132-413`,
  * `tests/notebooks/integration_test_notebook.py:270-545`): the cache loop
  * — write, hit, invalidate — exercised against a real local session and
  * a temp cache dir, no mocks.
  */
class CacheBehaviorSpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  /** A private parquet copy we can overwrite to trigger invalidation. */
  private lazy val srcDir: String = {
    val d = Files.createTempDirectory("graft-src").toString
    spark.read
      .parquet(s"${TestSpark.sf0001}/orders.parquet")
      .write.mode("overwrite").parquet(s"$d/orders")
    d
  }

  private def ordersAgg(): DataFrame =
    spark.read
      .parquet(s"$srcDir/orders")
      .groupBy("o_orderstatus")
      .agg(sum("o_totalprice").as("total"), count("*").as("n"))

  // Thresholds disabled (None) so tiny test data always caches.
  private def cacheIt(df: DataFrame): DataFrame =
    df.cacheToDbfs(
      overridePreferSparkCache = true,
      dbfsCacheComplexityThreshold = None,
      dbfsCacheMultiplierThreshold = None)

  test("write then hit: identical re-query reads the cache table") {
    val first = cacheIt(ordersAgg())
    // The returned lineage must be a plain cache-table scan.
    val h1 = CacheIO.tableHash(ordersAgg())
    assert(spark.catalog.tableExists(CacheConfig.current.tableNameFromHash(h1)))

    // Fresh, structurally identical DataFrame => lookup must hit.
    val hit = CacheIO.readCacheIfExist(ordersAgg())
    assert(hit.isDefined, "identical plan over same data must hit the cache")
    assert(hit.get.count() == first.count())
  }

  test("hit skips write: cached table is not rewritten on re-cache") {
    cacheIt(ordersAgg())
    val h = CacheIO.tableHash(ordersAgg())
    val metaPath = s"${CacheConfig.current.cacheDirSlash}$h/cache_metadata.txt"
    val mtime0 = Files.getLastModifiedTime(Paths.get(metaPath)).toMillis
    Thread.sleep(20)
    cacheIt(ordersAgg()) // second call: must hit, not rewrite
    val mtime1 = Files.getLastModifiedTime(Paths.get(metaPath)).toMillis
    assert(mtime1 == mtime0, "re-cache of an unchanged plan must not rewrite")
  }

  test("data change invalidates: overwritten source yields a new hash") {
    val h0 = CacheIO.tableHash(ordersAgg())
    spark.read
      .parquet(s"${TestSpark.sf0001}/orders.parquet")
      .write.mode("overwrite").parquet(s"$srcDir/orders")
    val h1 = CacheIO.tableHash(ordersAgg())
    assert(h0 != h1, "source overwrite must change the fingerprint")
    assert(CacheIO.readCacheIfExist(ordersAgg()).isEmpty)
  }

  /** range(0, 1000) as 4 parquet parts (ids 0-249 in part 0), every
    * file's mtime pinned to one whole second a minute ago. */
  private def fourParts(): (String, Long) = {
    val d = Files.createTempDirectory("graft-exact").toString + "/t"
    spark.range(0, 1000, 1, 4).write.parquet(d)
    val second = (System.currentTimeMillis() / 1000 - 60) * 1000
    new java.io.File(d).listFiles().foreach(_.setLastModified(second))
    (d, second)
  }

  /** The first data part and its checksum sidecar. */
  private def firstPart(d: String): (java.io.File, java.io.File) = {
    val part = new java.io.File(d).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .minBy(_.getName)
    (part, new java.io.File(d, s".${part.getName}.crc"))
  }

  private def countSum(d: String): DataFrame =
    spark.read.parquet(d).agg(count("*").as("n"), sum("id").as("s"))

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))

  test("deleting a part that is not the newest invalidates") {
    val (d, _) = fourParts()
    assert(rows(cacheIt(countSum(d))) == Seq((1000L, 499500L)))
    val (part, crc) = firstPart(d)
    assert(part.delete() && crc.delete())
    assert(rows(cacheIt(countSum(d))) == Seq((750L, 468375L)),
      "a deleted part must not be served from the old entry")
  }

  test("rewriting a file in place within the same second invalidates") {
    val (d, second) = fourParts()
    assert(rows(cacheIt(countSum(d))) == Seq((1000L, 499500L)))
    // ids 0-9 replace ids 0-249: a shorter file under the same name,
    // stamped within the same second as every other file.
    val small = Files.createTempDirectory("graft-small").toString + "/t"
    spark.range(0, 10, 1, 1).write.parquet(small)
    val (part, crc) = firstPart(d)
    val (srcPart, srcCrc) = firstPart(small)
    assert(srcPart.length != part.length)
    Files.copy(srcPart.toPath, part.toPath, StandardCopyOption.REPLACE_EXISTING)
    Files.copy(srcCrc.toPath, crc.toPath, StandardCopyOption.REPLACE_EXISTING)
    Seq(part, crc).foreach(_.setLastModified(second + 500))
    assert(rows(cacheIt(countSum(d))) == Seq((760L, 468420L)),
      "a same-second rewrite must not be served from the old entry")
  }

  test("a direct-data dimension joined to a changed file source invalidates") {
    val (d, _) = fourParts()
    val dim = spark.createCachedDataFrame(
      Seq(org.apache.spark.sql.Row(0L, "even"), org.apache.spark.sql.Row(1L, "odd")),
      "k BIGINT, label STRING")
    def q(): DataFrame = spark.read.parquet(d)
      .join(dim, col("id") % 2 === col("k"))
      .groupBy("label").agg(count("*").as("n"), sum("id").as("s"))
      .orderBy("label").select("n", "s")
    assert(rows(cacheIt(q())) == Seq((500L, 249500L), (500L, 250000L)))
    spark.range(0, 10, 1, 1).write.mode("overwrite").parquet(d)
    assert(rows(cacheIt(q())) == Seq((5L, 20L), (5L, 25L)),
      "a file change under a direct-data join must not be served from the old entry")
  }

  test("an unrenderable plan fails closed: uncacheable, never hashed") {
    // The render is a thunk: a throwing render yields no fingerprint.
    assert(PlanFingerprint.renderSafe(throw new IllegalStateException("boom")).isEmpty)
    assert(PlanFingerprint.renderSafe("Project [a#12]").contains("Project [a]"))
    // End to end: a plan whose text cannot be rendered passes through.
    val df = ordersAgg().select(
      Bridge.column(CacheBehaviorSpec.Unrenderable(Bridge.expression(col("n")))).as("v"))
    assert(PlanFingerprint.queryPlan(df).isEmpty)
    spark.sql(s"CREATE DATABASE IF NOT EXISTS ${CacheConfig.current.cacheDatabase}")
    val nTables = spark.catalog
      .listTables(CacheConfig.current.cacheDatabase).collect().length
    assert(cacheIt(df) eq df, "cacheToDbfs must return the DataFrame untouched")
    assert(CacheIO.readCacheIfExist(df).isEmpty)
    intercept[IllegalArgumentException](CacheIO.tableHash(df))
    intercept[IllegalArgumentException](CacheIO.writeCache(df))
    assert(spark.catalog.listTables(CacheConfig.current.cacheDatabase)
      .collect().length == nTables, "nothing may be written for it")
  }

  test("plan change invalidates: added column yields a new hash") {
    val base = ordersAgg()
    val changed = ordersAgg().withColumn("flag", lit(1))
    assert(CacheIO.tableHash(base) != CacheIO.tableHash(changed))
  }

  test("RDD/local-relation sources are refused uncacheable") {
    val s = spark
    import s.implicits._
    val local = Seq((1, "a"), (2, "b")).toDF("id", "v")
    val out = cacheIt(local)
    // Returned as-is: no cache table was created for it.
    assert(out.queryExecution.logical eq local.queryExecution.logical)

    // Every entry point refuses in-memory and RDD leaves, in a subquery
    // too, and writes nothing for them.
    spark.sql(s"CREATE DATABASE IF NOT EXISTS ${CacheConfig.current.cacheDatabase}")
    def nTables = spark.catalog.listTables(CacheConfig.current.cacheDatabase)
      .filter(!_.isTemporary).count()
    val n0 = nTables
    local.createOrReplaceTempView("graft_local_v")
    ordersAgg().createOrReplaceTempView("graft_orders_v")
    val refused = Seq(
      local,
      spark.sparkContext.parallelize(Seq((3, "c"))).toDF("id", "v"),
      spark.createDataFrame(local.rdd, local.schema),
      ordersAgg().join(local, col("n") === col("id")),
      spark.sql("SELECT * FROM graft_orders_v WHERE n IN (SELECT id FROM graft_local_v)"))
    refused.foreach { df =>
      assert(cacheIt(df) eq df, "cacheToDbfs must return the DataFrame untouched")
      assert(CacheIO.readCacheIfExist(df).isEmpty)
      intercept[IllegalArgumentException](CacheIO.tableHash(df))
      intercept[IllegalArgumentException](CacheIO.writeCache(df))
      assert(backupSparkCachedToDbfs(Seq(df)).isEmpty)
    }
    // Two in-memory frames with one schema render one plan text: keyed on
    // it, one frame's backup would be served for the other's rows.
    val dfA = Seq((1, "x"), (2, "y")).toDF("a", "b")
    val dfB = Seq((3, "z")).toDF("a", "b")
    backupSparkCachedToDbfs(Seq(dfA.cache()))
    assert(CacheIO.readCacheIfExist(dfB).isEmpty, "dfB must not be served dfA's rows")
    dfA.unpersist()
    // The resumable release over two in-memory corpora with one schema
    // stores nothing and returns each corpus's own manifest.
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
      .select("doc_id", "text").orderBy("doc_id").limit(40).collect().toSeq
    val corpora = docs.grouped(20).toSeq
      .map(rows => spark.createDataFrame(new java.util.ArrayList(
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), docs.head.schema))
    corpora.foreach { corpus =>
      val ids = corpus.collect().map(_.get(0)).toSet
      val got = operators.Pipeline.releaseResumable(corpus, "doc_id", "text",
        windowLen = 256L, bpeRounds = 2).collect().map(_.getAs[Any]("doc_id")).toSet
      assert(got.nonEmpty && got.subsetOf(ids), s"a manifest of another corpus: $got")
    }
    spark.catalog.dropTempView("graft_local_v")
    spark.catalog.dropTempView("graft_orders_v")
    assert(nTables == n0, "nothing may be written for refused frames")
    // The refusal reads the plan's leaves, not its text: a file-only
    // query whose literal reads 'LocalRelation' caches.
    val literal = ordersAgg().filter(col("o_orderstatus") =!= "LocalRelation")
    assert(!(cacheIt(literal) eq literal), "a file-only query must cache")
    assert(CacheIO.readCacheIfExist(literal).isDefined)
  }

  test("threshold veto: huge threshold skips caching, 0/None caches") {
    val df = ordersAgg().withColumn("x", lit(2))
    val vetoed = df.cacheToDbfs(
      overridePreferSparkCache = true,
      dbfsCacheComplexityThreshold = Some(1e9),
      dbfsCacheMultiplierThreshold = None)
    val h = CacheIO.tableHash(df)
    assert(!spark.catalog.tableExists(CacheConfig.current.tableNameFromHash(h)),
      "above-threshold complexity requirement must veto the write")
    assert(vetoed.queryExecution.logical eq df.queryExecution.logical)

    val cached = cacheIt(df)
    assert(spark.catalog.tableExists(CacheConfig.current.tableNameFromHash(h)))
    assert(cached.count() == df.count())
  }

  test("clearDbfsCache drops table and metadata dir") {
    val df = ordersAgg().withColumn("y", lit(3))
    cacheIt(df)
    val h = CacheIO.tableHash(df)
    assert(spark.catalog.tableExists(CacheConfig.current.tableNameFromHash(h)))
    df.clearDbfsCache()
    assert(!spark.catalog.tableExists(CacheConfig.current.tableNameFromHash(h)))
    assert(!Files.exists(Paths.get(s"${CacheConfig.current.cacheDirSlash}$h")))
  }

  test("re-caching a cache-backed DF is identity, not a second copy") {
    val df = ordersAgg().withColumn("w", lit(5))
    val cached = cacheIt(df)
    val nTables = spark.catalog
      .listTables(CacheConfig.current.cacheDatabase).collect().length
    val again = cacheIt(cached)
    val nTables2 = spark.catalog
      .listTables(CacheConfig.current.cacheDatabase).collect().length
    assert(nTables2 == nTables, "no duplicate cache table may appear")
    assert(again.queryExecution.logical eq cached.queryExecution.logical,
      "already-cache-backed plan must be returned as-is")
  }

  test("backupSparkCachedToDbfs persists spark-cached DFs and can unpersist") {
    val df = ordersAgg().withColumn("bk", lit(6))
    df.cache()
    assert(CacheIO.isSparkCached(df))
    val done = backupSparkCachedToDbfs(Seq(df), unpersistAfterBackup = true)
    assert(done.size == 1)
    val h = CacheIO.tableHash(df)
    assert(spark.catalog.tableExists(CacheConfig.current.tableNameFromHash(h)))
    assert(!CacheIO.isSparkCached(df), "unpersistAfterBackup must unpersist")
  }

  test("wcd kwarg semantics: skipDbfsCache+eagerSparkCache spark-caches only") {
    val df = ordersAgg().withColumn("wk", lit(7))
    val out = df.wcd(eagerSparkCache = true, skipDisplay = true, skipDbfsCache = true)
    assert(CacheIO.isSparkCached(out), "eager spark cache requested")
    val h = CacheIO.tableHash(df)
    assert(!spark.catalog.tableExists(CacheConfig.current.tableNameFromHash(h)),
      "skipDbfsCache must not write a cache table")
    out.unpersist()
  }

  test("seeded sample fingerprints deterministically (reference caveat: no invalidation)") {
    // README.md:199: sample() does not invalidate — the seed is part of
    // the plan, so identical seeded samples hash equal by construction.
    def samp() = spark.read
      .parquet(s"${TestSpark.sf0001}/orders.parquet")
      .sample(withReplacement = false, 0.5, 42)
    assert(CacheIO.tableHash(samp()) == CacheIO.tableHash(samp()))
    def samp2() = spark.read
      .parquet(s"${TestSpark.sf0001}/orders.parquet")
      .sample(withReplacement = false, 0.5, 43)
    assert(CacheIO.tableHash(samp()) != CacheIO.tableHash(samp2()),
      "different seed => different plan => different hash")
  }

  test("UDF body changes do NOT invalidate (documented reference limitation)") {
    // README.md:196 / core_caching.py:318-319: closure bytecode isn't
    // hashed; only the plan shape is. Pin the limitation so a future
    // change is a conscious decision.
    import org.apache.spark.sql.functions.udf
    val doubleIt = udf((x: Double) => x * 2)
    val tripleIt = udf((x: Double) => x * 3)
    def q(u: org.apache.spark.sql.expressions.UserDefinedFunction) =
      spark.read.parquet(s"${TestSpark.sf0001}/orders.parquet")
        .select(u(col("o_totalprice")).as("v"))
    assert(CacheIO.tableHash(q(doubleIt)) == CacheIO.tableHash(q(tripleIt)))
  }

  test("estimate end-to-end: real input sizes and keyword multiplier agree") {
    val df = spark.read
      .parquet(s"${TestSpark.sf0001}/lineitem.parquet")
      .join(spark.read.parquet(s"${TestSpark.sf0001}/orders.parquet"),
        col("l_orderkey") === col("o_orderkey"))
    val (complexity, multiplier, sizeGb) = Complexity.estimate(df)
    assert(sizeGb > 0, "real parquet inputs must size > 0")
    assert(multiplier > 1.0, "a join plan must score above baseline")
    assert(math.abs(complexity - sizeGb * multiplier) < 1e-9)
    val expected = Complexity.calculateFromPlan(
      PlanFingerprint.extendedPlanText(df).toLowerCase, sizeGb)._2
    assert(multiplier == expected)
  }

  test("cache hit with a different requested layout is detected") {
    val df = ordersAgg().withColumn("lay", lit(8))
    cacheIt(df) // stored unpartitioned, unbucketed
    val tbl = CacheConfig.current.tableNameFromHash(CacheIO.tableHash(df))
    assert(!CacheIO.warnOnLayoutMismatch(spark, tbl, Nil, None),
      "matching (empty) layout must not flag")
    assert(CacheIO.warnOnLayoutMismatch(spark, tbl,
      Seq("o_orderstatus"), None),
      "requested partitioning absent from the stored table must flag")
    assert(CacheIO.warnOnLayoutMismatch(spark, tbl, Nil,
      Some((4, Seq("o_orderstatus")))),
      "requested bucketing absent from the stored table must flag")
    // The hit path itself must still return the stored table.
    val hit = df.cacheToDbfs(
      overridePreferSparkCache = true,
      dbfsCacheComplexityThreshold = None,
      dbfsCacheMultiplierThreshold = None,
      bucketBy = Some((4, Seq("o_orderstatus"))))
    assert(hit.count() == df.count())
  }

  test("cacheFormat=orc: the format-matrix path materializes and hits") {
    // The reference materializes via Delta; this build has no Delta jar,
    // so the pluggable-format contract is proven with ORC instead:
    // write under a non-default format, verify the stored table IS that
    // format, and verify the second call hits it (fingerprint/metadata
    // logic must be format-agnostic).
    val prev = CacheConfig.current
    val d = Files.createTempDirectory("graft-orc-cache").toString
    CacheConfig.current = prev.copy(
      sparkCacheDir = d + "/", cacheFormat = "orc")
    try {
      // Distinct plan shape => distinct hash; no collision with the
      // parquet entries other tests created in the shared cache_db.
      val df = ordersAgg().withColumn("fmt", lit("orc"))
      val expected = df.collect().toSet
      cacheIt(df).count()
      val h = CacheIO.tableHash(df)
      val tbl = CacheConfig.current.tableNameFromHash(h)
      assert(spark.catalog.tableExists(tbl))
      val provider = spark.sql(s"DESCRIBE TABLE EXTENDED $tbl")
        .filter(col("col_name") === "Provider")
        .collect().headOption.map(_.getString(1)).getOrElse("")
      assert(provider.equalsIgnoreCase("orc"),
        s"cache table must be stored as ORC, got '$provider'")
      val hit = CacheIO.readCacheIfExist(df)
      assert(hit.isDefined, "second call must hit the ORC entry")
      assert(hit.get.collect().toSet == expected,
        "ORC round trip preserves the result")
    } finally CacheConfig.current = prev
  }

  test("resumable release: a new session hits the cache and runs no pipeline jobs") {
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val first = operators.Pipeline.releaseResumable(
      docs, "doc_id", "text", windowLen = 2048L, bpeRounds = 3)
    val rows1 = first.orderBy("doc_id").collect().toSeq
    assert(rows1.nonEmpty)

    // "New session": fresh session state over the shared catalog — the
    // transient localCheckpoint blocks of the first run are irrelevant
    // to it; only the persistent cache tables + metadata can serve it.
    val s2 = spark.newSession()
    val docs2 = s2.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    // Count Spark jobs during the resumed CALL: a cache hit is pure
    // driver-side metadata (no dedup rounds, no BPE learning, no
    // prefix-sum passes — each of which launches jobs eagerly during
    // construction on the miss path).
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val resumed = operators.Pipeline.releaseResumable(
        docs2, "doc_id", "text", windowLen = 2048L, bpeRounds = 3)
      // The hit's plan is a bare scan of the manifest cache table.
      val opt = resumed.queryExecution.optimizedPlan.toString
      assert(opt.contains(CacheConfig.current.cacheDatabase),
        s"resumed release must be served from a cache table:\n$opt")
      assert(!opt.contains("Join") && !opt.contains("Aggregate"),
        s"resumed release must not re-plan the pipeline:\n$opt")
      // Listener events are asynchronous; give the bus a moment before
      // reading the counter (only construction-time jobs are counted —
      // the assertion runs BEFORE any action on `resumed`).
      Thread.sleep(500)
      assert(jobs.get() == 0,
        s"cache-hit resume must launch no jobs, saw ${jobs.get()}")
      val rows2 = resumed.orderBy("doc_id").collect().toSeq
      assert(rows2 == rows1, "resumed manifest must be bit-identical")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("release data card consumes the persisted release, not a re-run") {
    // A data card is a report over the RELEASED ARTIFACT: once any
    // release with the same corpus+parameters has persisted its
    // manifest, constructing q_release_card must launch ZERO jobs
    // (the miss path's eager checkpoints + BPE learning launch many)
    // and its plan must aggregate over the cache table.
    val sf = TestSpark.sf0001
    // First call: computes once and persists (or hits what an earlier
    // test in this suite already released — either way, priming).
    val primed = SparkEntry.queries("q_release_card")(spark, sf)
    val cardRow = primed.collect().toSeq
    assert(cardRow.size == 1)
    // Pre-read the corpus OUTSIDE the listener window (spark.read
    // .parquet's schema inference launches one footer-read job that is
    // not the pipeline's doing — same discipline as the resumed spec).
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val manifest = operators.Pipeline.releaseResumable(
        docs, "doc_id", "text", windowLen = 2048L, bpeRounds = 5)
      Thread.sleep(500)
      assert(jobs.get() == 0,
        s"consuming a persisted release must launch no jobs, saw ${jobs.get()}")
      val card = SparkEntry.queries("q_release_card")(spark, sf)
      val opt = card.queryExecution.optimizedPlan.toString
      assert(opt.contains(CacheConfig.current.cacheDatabase),
        s"card must read the persisted manifest cache table:\n$opt")
      // "Doesn't re-plan the pipeline" means: no Generate (the
      // dedup/pack explodes) and no Window carrying the pack
      // pipeline's running-total alias (__cum — the window
      // Packing.tokenShardOffsets plans; tok_offset itself is derived
      // in a later Project, so it never names the Window line). A bare
      // no-Window proxy over-matches: the card's own scorer-PSI totals
      // legitimately fold in a window over its ≤ bins post-aggregate
      // rows (round 16).
      assert(!opt.contains("Generate"),
        s"card must not re-plan the dedup/pack pipeline:\n$opt")
      assert(!opt.contains("__cum"),
        s"card must read packing columns, not recompute them:\n$opt")
      assert(manifest.count() > 0)
      assert(card.collect().toSeq == cardRow,
        "card over the persisted manifest must match the computed card")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("resumable release: a bumped pipeline version invalidates prior entries") {
    // The stage key is (raw-corpus fingerprint + descriptor), not the
    // computed plan — so ONLY the version token protects a new session
    // from a manifest built by an older implementation. Contract: same
    // corpus + same parameters but a bumped ReleasePipelineVersion must
    // MISS (recompute jobs run), while re-calling under the bumped
    // version then HITS its own entry.
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val base = operators.Pipeline.releaseResumable(
      docs, "doc_id", "text", windowLen = 1024L, bpeRounds = 2)
    val baseRows = base.orderBy("doc_id").collect().toSeq
    assert(baseRows.nonEmpty)
    val bumped = operators.Pipeline.ReleasePipelineVersion + 1
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val miss = operators.Pipeline.releaseResumable(
        docs, "doc_id", "text", windowLen = 1024L, bpeRounds = 2,
        version = bumped)
      Thread.sleep(500)
      assert(jobs.get() > 0,
        "a bumped version must miss the old entry and recompute")
      assert(miss.orderBy("doc_id").collect().toSeq == baseRows,
        "recomputed manifest must match (same implementation here)")
      jobs.set(0)
      val hit = operators.Pipeline.releaseResumable(
        docs, "doc_id", "text", windowLen = 1024L, bpeRounds = 2,
        version = bumped)
      Thread.sleep(500)
      assert(jobs.get() == 0,
        s"same bumped version must hit its own entry, saw ${jobs.get()} jobs")
      assert(hit.orderBy("doc_id").collect().toSeq == baseRows)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("wcd caches when triggered and returns chainable DF") {
    val df = ordersAgg().withColumn("z", lit(4))
    val out = df.wcd(skipDisplay = true)
    val h = CacheIO.tableHash(df)
    // default thresholds (130 GB-equivalents) veto on tiny data => no table;
    // explicit zero thresholds cache.
    assert(!spark.catalog.tableExists(CacheConfig.current.tableNameFromHash(h)))
    assert(out.count() == df.count())
  }
}

object CacheBehaviorSpec {

  /** Evaluates to its child, but its text cannot be rendered. */
  final case class Unrenderable(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = child.dataType
    override protected def nullSafeEval(input: Any): Any = input
    override def toString: String = throw new IllegalStateException("unrenderable")
    override protected def withNewChildInternal(c: Expression): Unrenderable = copy(child = c)
  }
}
