package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession for the whole test run (suites run serially). */
object TestSpark {
  lazy val warehouse: String = java.nio.file.Files.createTempDirectory("graft-wh").toString
  lazy val cacheDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-cache").toString
    CacheConfig.current = CacheConfig(sparkCacheDir = d + "/")
    d + "/"
  }
  lazy val spark: SparkSession = {
    val _ = cacheDir // force config init before any caching call
    Sessions.local(4, warehouse)
  }

  /** Delete a catalog table's storage directory but keep its catalog
    * entry: the metastore outlives a wiped warehouse. Returns the
    * deleted directory. */
  def wipeTableStorage(table: String): java.nio.file.Path = {
    import scala.jdk.CollectionConverters._
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val dir = java.nio.file.Paths.get(
      spark.sessionState.catalog.getTableMetadata(ident).location)
    java.nio.file.Files.walk(dir).iterator.asScala.toSeq.reverse
      .foreach(java.nio.file.Files.delete)
    dir
  }

  /** `body`'s result and the number of Spark jobs it started. Counts job
    * STARTS with a listener — statusTracker's retained-job list is
    * bounded, so length deltas go negative once the suite has run
    * enough jobs. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    val sc = spark.sparkContext
    // The bus posts asynchronously; drain it DETERMINISTICALLY
    // (waitUntilEmpty via the main-scope bridge) so a late-posted
    // job-start event can never land outside the window — a fixed
    // sleep flaked under CI load.
    org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc)
      (out, started.get())
    } finally sc.removeSparkListener(listener)
  }

  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}

/** Typed plan pins that survive AQE.
  *
  * `AdaptiveSparkPlanExec` is a LEAF to `TreeNode.collect`, and after
  * execution every exchange is additionally wrapped in a
  * `QueryStageExec` leaf — so a naive
  * `executedPlan.collect { case e: Exchange => … }` sees NOTHING once
  * AQE wraps the plan (it always does when exchanges exist; AQE is on
  * by default in Spark 4). Such a pin passes no matter what the plan
  * does. Every typed plan assertion in the test suites must go through
  * [[PlanCheck.nodes]], which descends both wrappers, so the pin works
  * identically before and after the frame executes.
  */
object PlanCheck {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeLike}

  /** Every physical node, descending AQE wrappers and subquery plans. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val here = p match {
      case a: AdaptiveSparkPlanExec => p +: nodes(a.executedPlan)
      case q: QueryStageExec        => p +: nodes(q.plan)
      case _                        => p +: p.children.flatMap(nodes)
    }
    here ++ p.subqueries.flatMap(nodes)
  }

  def nodes(df: DataFrame): Seq[SparkPlan] =
    nodes(df.queryExecution.executedPlan)

  /** Exchanges whose INPUT row type carries `colName` — the
    * "column X never crosses the wire" scale pin. */
  def exchangesCarrying(df: DataFrame, colName: String): Seq[Exchange] =
    nodes(df).collect {
      case e: Exchange if e.child.output.exists(_.name == colName) => e
    }

  /** All shuffle exchanges (hash/range/rebalance), through AQE. */
  def shuffles(df: DataFrame): Seq[SparkPlan] =
    nodes(df).collect { case e: ShuffleExchangeLike => e }
}
