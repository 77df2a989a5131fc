package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.extensions._

/** Per-round benchmark: every declared query executed fully (noop sink —
  * forces the whole plan, unlike `count()` which lets Catalyst prune the
  * work away), plus the reference's three-phase cache pattern
  * (uncached / cache write / cached re-read, `BASELINE.md`) on the
  * flagship aggregation. Failures are reported per query, never
  * swallowed into a fake timing. Emits ONE JSON line. */
object Bench {

  private def timeSec[T](f: => T): (Double, Option[String]) = {
    val t0 = System.nanoTime()
    try { f; ((System.nanoTime() - t0) / 1e9, None) }
    catch {
      case e: Throwable =>
        ((System.nanoTime() - t0) / 1e9,
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"))
    }
  }

  private def runFully(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    def newSession(): SparkSession = Sessions.local(cpus.toInt,
      java.nio.file.Files.createTempDirectory("graft-bench-wh").toString)
    // Warm up JVM/codegen and the spark.ml LSH/KMeans class graph so no
    // measured query is charged for first-use JIT compilation. Re-run
    // after every session recycle: the class-level JIT survives (same
    // JVM) but the parquet footer caches and fixture reads are
    // per-session.
    def warm(spark: SparkSession): Unit = try {
      runFully(SparkEntry.queries("q_scan")(spark, sfDir))
      runFully(SparkEntry.queries("q_agg_grouped")(spark, sfDir))
      val tiny = spark.read
        .parquet(s"$sfDir/embeddings.parquet")
        .limit(512)
        .select(org.apache.spark.sql.functions.col("vec_id"),
          org.apache.spark.sql.functions.col("embedding"))
      val q = tiny.limit(4)
        .withColumnRenamed("vec_id", "qid")
        .withColumnRenamed("embedding", "qvec")
      runFully(operators.Similarity.annCosineTopK(
        tiny, q, "vec_id", "embedding", "qid", "qvec", k = 2))
      runFully(operators.Similarity.ivfCosineTopK(
        tiny, q, "vec_id", "embedding", "qid", "qvec", k = 2, nLists = 4, nProbe = 2))
      // Materialize the ORC/JSON/CSV source fixtures now so every timed
      // run of q_orc_source / q_json_source / q_csv_source is read-only.
      Fixtures.warm(spark, sfDir)
    } catch { case NonFatal(_) => () }

    // ---- Per-query executor CPU attribution ------------------------
    // Wall-clock moves with co-tenant load; task CPU time (the
    // executor threads' actual compute, GC excluded — jvmGcTime is a
    // separate metric) barely does. Recording BOTH per query gives
    // bench_diff a mechanical ambient discriminator: a wall-time
    // violation whose CPU ratio is flat is load, not regression. The
    // counter accumulates across the whole context; timed windows
    // bracket it with a deterministic listener-bus drain so late
    // task-end events can't leak into the next query's delta.
    val cpuNs = new java.util.concurrent.atomic.AtomicLong(0L)
    // Per-execution JOB COUNT rides the same listener: multi-job
    // queries pay per-job fixed launch latency that drifts
    // independently of the compute controls (the r14/r16 pagerank-
    // family disputes), so BENCH_DETAIL records each query's job
    // count (`n_jobs`) and bench_diff prices launch drift MECHANICALLY
    // as n_jobs x the ctl_multijob per-job delta instead of by
    // narrative.
    val jobsStarted = new java.util.concurrent.atomic.AtomicLong(0L)
    def attachCpuListener(s: SparkSession): Unit =
      s.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
            val m = te.taskMetrics
            if (m != null) cpuNs.addAndGet(m.executorCpuTime)
          }
          override def onJobStart(
              js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            jobsStarted.incrementAndGet(); ()
          }
        })

    var spark = newSession()
    attachCpuListener(spark)
    CacheConfig.current = CacheConfig(sparkCacheDir =
      java.nio.file.Files.createTempDirectory("graft-bench-cache").toString + "/")
    warm(spark)

    def cpuNow(): Long = {
      try org.apache.spark.sql.graftbridge.Bridge
        .drainListenerBus(spark.sparkContext)
      catch { case NonFatal(_) => () }
      cpuNs.get()
    }

    // ---- Ambient control queries ----------------------------------
    // FROZEN plans, pure Spark built-ins over the fixture parquet —
    // deliberately NOT SparkEntry entries, so no operator change can
    // ever touch them: across rounds they measure the MACHINE, not the
    // code. Interleaved at fixed points through the sweep, their
    // samples land in BENCH_DETAIL (`controls`), and bench_diff
    // computes the cross-round ambient ratio from control medians —
    // the sweep carries its own ambient evidence instead of needing a
    // separate isolated session to settle hot-machine disputes. Four
    // shapes so no single subsystem's drift masquerades as ambient:
    // scan+agg, shuffle join, window, and string/hash codegen.
    val controlPlans: Seq[(String, () => DataFrame)] = {
      import org.apache.spark.sql.functions._
      Seq(
        "ctl_scan_agg" -> (() => spark.read
          .parquet(s"$sfDir/lineitem.parquet")
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(sum(col("l_quantity")), avg(col("l_extendedprice")),
            count(lit(1)))),
        "ctl_join" -> (() => spark.read
          .parquet(s"$sfDir/orders.parquet")
          .join(spark.read.parquet(s"$sfDir/lineitem.parquet"),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)), sum(col("l_extendedprice")))),
        "ctl_window" -> (() => {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("l_orderkey"))
            .orderBy(col("l_extendedprice").desc, col("l_linenumber"))
          spark.read.parquet(s"$sfDir/lineitem.parquet")
            .withColumn("__rn", row_number().over(w))
            .filter(col("__rn") <= 2)
            .groupBy(col("l_returnflag")).agg(count(lit(1)))
        }),
        "ctl_string" -> (() => spark.read
          .parquet(s"$sfDir/documents.parquet")
          .select(sha2(col("text").cast("binary"), 256).as("h"),
            length(col("text")).as("len"),
            size(split(col("text"), " ")).as("nw"))
          .agg(count(lit(1)), sum(col("len")), sum(col("nw")),
            max(col("h")))),
        // ctl_multijob (round 15): ten back-to-back tiny ACTIONS, not
        // one plan — the only control whose cost is dominated by
        // per-job FIXED latency (job submit, stage scheduling, result
        // fetch). That is the one ambient axis the four single-action
        // controls above cannot see: round 14 measured a machine whose
        // job-launch cost had drifted reading multi-job queries
        // (PageRank loops, mirror closure, release composition) at
        // 1.5-2x while the single-action controls said 1.007, costing
        // seven isolated re-measures and a worktree A/B to settle.
        // Synthetic range input (no parquet) so nothing but the
        // scheduler and a 4-partition micro-shuffle is priced. The
        // nine internal collects run eagerly inside mk(); the tenth
        // job is the returned frame, executed by runFully like every
        // other control, so warmup and timed reps both pay exactly
        // ten ACTIONS. The Spark JOB count per action varies with the
        // engine (AQE materializes each shuffle stage as its own job,
        // so one action here fires ~3 job-starts); the per-exec
        // job-start count is therefore MEASURED and recorded
        // (`controls_jobs`) — bench_diff divides the control's wall
        // drift by that recorded count, never by the action count.
        "ctl_multijob" -> (() => {
          def tiny(): DataFrame = spark.range(0, 20000, 1, 4)
            .select((col("id") % 97).as("k"))
            .groupBy(col("k")).agg(count(lit(1)).as("n"))
            .agg(sum(col("n")).as("total"))
          var i = 0
          while (i < 9) { tiny().collect(); i += 1 }
          tiny()
        }))
    }
    val controlSamples =
      scala.collection.mutable.LinkedHashMap.empty[
        String, scala.collection.mutable.ArrayBuffer[Double]]
    val controlReps = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val controlCpuSamples =
      scala.collection.mutable.LinkedHashMap.empty[
        String, scala.collection.mutable.ArrayBuffer[Double]]
    // Per-exec JOB-START counts per control point (`controls_jobs`):
    // the denominator of bench_diff's per-job launch-drift price.
    val controlJobsSamples =
      scala.collection.mutable.LinkedHashMap.empty[
        String, scala.collection.mutable.ArrayBuffer[Double]]
    // One control point: each plan runs ONE untimed warmup exec (so a
    // point right after a session recycle pays its parquet-footer /
    // codegen re-warm outside the timed window, same as every query
    // group's untimed warmup), then a reps-sized back-to-back timed
    // batch (~0.5 s window — the sub-second batching argument below);
    // per-exec seconds append to the sample list. reps is sized from
    // the first point's warmup exec and FROZEN, so every point
    // measures the same quantity.
    def controlPoint(): Unit = controlPlans.foreach {
      case (name, mk) =>
        try {
          val t0w = System.nanoTime()
          runFully(mk())
          val warmSec = (System.nanoTime() - t0w) / 1e9
          val reps = controlReps.getOrElseUpdate(name,
            math.min(16,
              math.max(1, math.ceil(0.5 / math.max(warmSec, 0.03)).toInt)))
          val c0 = cpuNow() // drains the bus — job counter reads clean
          val j0 = jobsStarted.get()
          val t0 = System.nanoTime()
          var k = 0
          while (k < reps) { runFully(mk()); k += 1 }
          controlSamples.getOrElseUpdate(name,
            scala.collection.mutable.ArrayBuffer.empty[Double]) +=
            ((System.nanoTime() - t0) / 1e9) / reps
          controlCpuSamples.getOrElseUpdate(name,
            scala.collection.mutable.ArrayBuffer.empty[Double]) +=
            ((cpuNow() - c0) / 1e9) / reps
          controlJobsSamples.getOrElseUpdate(name,
            scala.collection.mutable.ArrayBuffer.empty[Double]) +=
            (jobsStarted.get() - j0).toDouble / reps
        } catch { case NonFatal(_) => () }
    }

    // Settle the JVM between query groups. Operators that persist
    // intermediate state (localCheckpoint in components/packing, the IVF
    // centroid cache) leave blocks in the block manager after their
    // DataFrames go out of scope; across a 100+-query sweep those
    // accumulate and late-alphabet queries run inside a near-full heap —
    // observed 6.5 s isolated vs 47 s in-sweep for q_srp_recall before
    // this cleanup. Unpersist everything, then let GC + ContextCleaner
    // reclaim, so each group starts from a clean block manager.
    def settle(): Unit = {
      try {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
      } catch { case NonFatal(_) => () }
      // Two GC cycles with a short pause: ContextCleaner cleans shuffle
      // files and broadcasts from a weak-reference queue on its OWN
      // thread, so the first gc only enqueues the work — an immediate
      // next query races the cleanup inside its measured window. The
      // pause lets the cleaner drain; the second gc collects what the
      // cleanup itself released.
      System.gc()
      try Thread.sleep(300) catch { case _: InterruptedException => () }
      System.gc()
    }

    val timings = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Per-query relative spread (max−min)/median across the 3 runs —
    // recorded in BENCH_DETAIL so a cross-round delta can be read
    // against the query's own run-to-run noise instead of guessed at.
    val spreads = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // Raw per-run seconds (warmup excluded) — the spread's provenance.
    val allRuns = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    // Batch size per query (see the batched-measurement note below):
    // entries with reps>1 report per-execution seconds averaged over a
    // reps-sized back-to-back batch per timed measurement.
    val repsUsed = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    // Median executor-CPU seconds per execution (see the CPU
    // attribution note above): the load-insensitive companion to the
    // wall-clock median.
    val cpuSecs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // Median per-execution Spark JOB count — the launch-cost pricing
    // input (a query's job count is code-determined and stable, so one
    // side's artifact carrying it is enough for the diff).
    val nJobs = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    // Shared median/spread bookkeeping for queries AND cache phases.
    // Median of all runs; spread over the steady-state runs: when the
    // sample is >= 4 runs, the first timed run — which still pays OS
    // page-cache warm-in for freshly written blocks even after the
    // untimed warmup — is excluded from the spread (NOT from the
    // median, which is robust to it), and the dispersion is the
    // TRIMMED range (drop the single largest — one co-tenant CPU burst
    // landing in one of five runs is the dominant noise mode on this
    // machine, and it cannot be distinguished from load by re-running:
    // isolated re-benchmarks of the same build land on the 3-run
    // median). The untrimmed per-run seconds all go to `runs` in
    // BENCH_DETAIL for auditing, and the MEDIAN is never trimmed.
    def record(name: String, runs: Seq[Double]): Unit = {
      val med = runs.sorted.apply((runs.size - 1) / 2)
      timings(name) = med
      // Steady-state detection (the JMH warm-up-iteration discipline):
      // some checkpoint-heavy queries take SEVERAL runs to shed their
      // first-use transient (q_bucket_pack measured 12.1 → 5.8 → 2.5 →
      // 1.4 before settling at 0.8-0.9), so a fixed drop-one-run cut
      // still reports the tail of the descent as "spread". Drop the
      // longest strictly-DECREASING prefix of runs that sit above
      // 1.5× the full-sample median, capped at half the sample — a
      // monotone descent from 13× median to steady state is a warm-in
      // curve, not dispersion; genuine co-tenant bursts are neither
      // leading, monotone, nor median-anchored, and still count.
      val maxDrop = runs.size / 2
      var cut = 0
      while (cut < maxDrop && runs(cut) > 1.5 * med &&
          (cut == 0 || runs(cut) < runs(cut - 1))) cut += 1
      // A ONE-element "warm-in prefix" in a 3-run sample is vacuously
      // monotone — it cannot be distinguished from a genuine co-tenant
      // burst that happened to land first, and trimming it undercounts
      // exactly the noise mode that dominates this machine. Demand
      // either a real descent (>= 2 decreasing over-median runs) or a
      // sample big enough (>= 4) that the fallback would drop the
      // first run anyway.
      if (cut == 1 && runs.size < 4) cut = 0
      val steady =
        if (cut > 0) runs.drop(cut)
        else if (runs.size >= 4) runs.drop(1)
        else runs
      // Dispersion by sample size — the MEDIAN is never trimmed and
      // the raw runs are all in BENCH_DETAIL:
      //  - < 4 steady: full range (nothing to trim from);
      //  - 4-5: drop the single largest (one co-tenant burst);
      //  - 6-7: drop the two largest (the extension ran because bursts
      //    were landing; two bursts across six-plus runs is the
      //    observed mode);
      //  - 8+: the QUARTILE SPAN s[3n/4] − s[n/4] — the textbook
      //    robust dispersion once the sample is big enough for
      //    quartiles to mean something; symmetric, so a slow-drifting
      //    machine doesn't read as a one-sided trim.
      val dispersion = {
        val s = steady.sorted
        val n = s.size
        if (n >= 8) s((3 * (n - 1)) / 4) - s((n - 1) / 4)
        else if (n >= 6) s(n - 3) - s.head
        else if (n >= 4) s(n - 2) - s.head
        else s(n - 1) - s.head
      }
      if (med > 0) spreads(name) = dispersion / med
      allRuns(name) = runs
    }

    // Median-of-3 per query: this host shows up to ±25% run-to-run
    // noise on the join-heavy queries; the median is robust to a single
    // outlier in either direction (a min would hide real regressions, a
    // single run reports noise as signal). A failing query stops early
    // and reports the error.
    // Known residual spread mode (BENCH_PROBE_r14_bm25.json): a query
    // with MANY codegen stages (q_bm25_batch: 5 broadcasts + 15
    // aggregates) keeps warming past the single untimed warmup — 24/24
    // probed runs carry the IDENTICAL adaptive plan while wall and CPU
    // decay proportionally 4.7 -> 1.4 s as C2 promotes the generated
    // classes, so its in-sweep spread (~0.39) is warm-in tail, not
    // plan or ambient noise. Deliberately NOT special-cased: both diff
    // sides run the same protocol, so the median-vs-median gate is
    // unbiased, and longer sessions sit at the steady-state floor.
    // Dev loop: SPARK_GRAFT_ONLY=q_a,q_b times just those queries (and
    // skips the cache phases) — full runs leave it unset.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Session recycling: even with per-group settle() and per-run
    // drains, a 200-query single-JVM sweep accumulates context debt the
    // cleanup hooks can't reach — shuffle files tracked by one
    // ever-growing context, the listener bus, broadcast manager state —
    // and the in-sweep medians of late entries run 1.5-2× their
    // isolated re-measure (q_bm25_batch 2.71 in-sweep vs 1.38 isolated,
    // q_embed_srp 2.17 vs 1.77, same build). A real deployment never
    // runs 200 unrelated queries through one driver lifetime either.
    // Stop and rebuild the session every 40 query groups: class
    // JIT and the codegen cache survive (same JVM), so the per-query
    // untimed warmup still absorbs what a fresh session re-pays.
    val recycleEvery = 40
    var groupsSinceRecycle = 0
    def maybeRecycle(): Unit = {
      groupsSinceRecycle += 1
      if (groupsSinceRecycle >= recycleEvery) {
        groupsSinceRecycle = 0
        try {
          spark.stop()
          SparkSession.clearActiveSession()
          SparkSession.clearDefaultSession()
        } catch { case NonFatal(_) => () }
        spark = newSession()
        attachCpuListener(spark)
        warm(spark)
      }
    }

    // Control points bracket the sweep and recur every CtlEvery query
    // groups — fixed POSITIONS (group index), not fixed times, so two
    // rounds' sweeps sample ambient at structurally comparable moments.
    val CtlEvery = 50
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .zipWithIndex
      .foreach { case ((name, fn), groupIdx) =>
      // Clean block manager + heap before each group: without this, a
      // heavy predecessor's persisted blocks and GC debt land inside
      // the NEXT query's measured window (2-7x inflation observed).
      // Within a group the three runs share state deliberately — run
      // boundaries don't clear, so plan-identical persisted data (IVF
      // centroids) behaves as it would in a live session.
      maybeRecycle()
      if (groupIdx % CtlEvery == 0) { settle(); controlPoint() }
      settle()
      val runs = scala.collection.mutable.ArrayBuffer.empty[Double]
      var err: Option[String] = None
      // One untimed warmup execution first: the initial run of a query
      // carries its whole-stage codegen compilation, expression-tree
      // JIT, and (for ANN/IVF) the model fit — measured spreads of
      // 60-100% (max−min)/median collapse once that first-use cost is
      // kept out of the timed window. The timed runs then measure the
      // steady state a live session would see.
      val (_, warmErr) = timeSec(runFully(fn(spark, sfDir)))
      err = warmErr
      // Plan-trait classification, captured ONCE right after the
      // untimed warmup and before any block cleanup: a query that
      // leaves blocks in the block manager (eager localCheckpoint in
      // the packing/components/splits/BPE family, or a persisted
      // model cache) churns the ContextCleaner every run — its noise
      // mode is ACCUMULATING executor debt, which only settle()'s
      // GC-and-drain clears. The prior heuristic keyed settle on
      // median >= 1 s and missed the sub-1 s checkpoint-churners:
      // q_pack_continue (two eager prefix-sum checkpoints per run,
      // 0.9 s median) ESCALATED 0.6 → 6.7 s across its extension
      // runs because each unsettled run inherited the last one's
      // cleaner backlog. The trait, not the weight, is the signal.
      val leavesBlocks =
        try spark.sparkContext.getPersistentRDDs.nonEmpty
        catch { case NonFatal(_) => false }
      // Drop the blocks the previous run left behind (localCheckpoint
      // materializations in components/packing/splits live in executor
      // storage until GC'd) so run N+1 is not measured against run N's
      // storage pressure — in-sweep spreads of 100%+ on the checkpoint-
      // heavy queries trace to exactly this. Cross-run state that IS
      // meant to persist (fitted models, codegen) lives on the heap,
      // not in RDD blocks, so this clears only garbage.
      // Synchronous unpersist ONLY — no System.gc() here: a full GC
      // between runs measurably destroys JVM warm state (A/B'd +15-20%
      // on the embed family), while the storage blocks are what caused
      // the 100%+ outlier runs and unpersist(blocking) frees them
      // directly. Group-level settle() keeps its GC for cross-query
      // isolation.
      def dropRunBlocks(): Unit = {
        try spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        catch { case NonFatal(_) => () }
      }
      // Per-run cleaner-debt drain for the SHORT-run checkpoint
      // churners only. The escalation pathology (q_pack_continue
      // 0.6 → 6.7 s across extension runs) is specific to block-
      // leaving queries whose runs are short: each run enqueues
      // checkpoint/shuffle/broadcast cleanups faster than the async
      // ContextCleaner drains them, so debt compounds run over run. A
      // MULTI-second block-leaver self-drains — the cleaner catches up
      // inside the run's own window (A/B'd: q_release runs sit stable
      // at 3.3-4.3 s with NO drain, spread 0.07) — while the drain's
      // GC actively hurts it by destroying warm state the next run
      // rebuilds inside the measured window (A/B'd: q_dup_hist 1.43 →
      // 2.04 s, q_pack_bpe 1.91 → 2.35 s under per-run drain).
      // So: block-leavers with a sub-1.5 s first run get the light
      // drain (one GC + short pause — cheaper than the full settle's
      // 15-25%) before EVERY kept run, uniformly; heavier ones keep
      // the round-10 protocol (plain runs, settle only on noisy
      // extensions). The drain-or-not decision is made from the first
      // timed run, which is then DISCARDED for drained queries so the
      // kept sample is protocol-uniform (settling only some runs made
      // the sample bimodal: ~1.05 s unsettled vs ~1.4 s settled on
      // q_pack_continue).
      var drainPerRun = false
      def drainDebt(): Unit = if (drainPerRun) {
        try spark.catalog.clearCache() catch { case NonFatal(_) => () }
        System.gc()
        try Thread.sleep(150) catch { case _: InterruptedException => () }
      }
      // Batched measurement for the sub-second queries: a 0.1 s query
      // carries ±40-60 ms of job-launch/scheduler jitter, which reads
      // as a 30-50% RELATIVE spread no matter how many single-run
      // samples the extension takes (more samples estimate the same
      // wide distribution). Timing a BATCH of back-to-back executions
      // sized to a ~0.8 s window and reporting per-execution seconds
      // averages the jitter inside the measured window (IQR shrinks
      // ~1/sqrt(reps)) without changing the quantity measured — the
      // steady-state per-execution wall time a live session sees.
      // reps is sized from the FIRST timed measurement (a single
      // execution — one sample of the same expectation) and recorded
      // in BENCH_DETAIL (`reps`) for audit. Block-leaving queries stay
      // at reps=1: their protocol needs the per-run drain between
      // executions, and their runs are near- or multi-second anyway.
      var reps = 1
      // Returns (wall sec, executor-CPU sec, job-starts, error) per
      // execution — all averaged over the reps-sized batch, CPU and
      // the job counter bracketed by the deterministic bus drain.
      def measureOnce(): (Double, Double, Double, Option[String]) = {
        val c0 = cpuNow() // drains the bus — job counter reads clean
        val j0 = jobsStarted.get()
        val t0 = System.nanoTime()
        var k = 0
        var e: Option[String] = None
        while (k < reps && e.isEmpty) {
          try runFully(fn(spark, sfDir))
          catch {
            case ex: Throwable =>
              e = Some(s"${ex.getClass.getSimpleName}: " +
                s"${String.valueOf(ex.getMessage).take(200)}")
          }
          k += 1
        }
        val wall = ((System.nanoTime() - t0) / 1e9) / reps
        val cpu = ((cpuNow() - c0) / 1e9) / reps
        ((wall, cpu, (jobsStarted.get() - j0).toDouble / reps, e))
      }
      // First timed run: classifies (reps for light non-block queries;
      // drain-per-run for short block-leavers) and joins the sample
      // only when the classification keeps its protocol uniform.
      val cpuRuns = scala.collection.mutable.ArrayBuffer.empty[Double]
      val jobRuns = scala.collection.mutable.ArrayBuffer.empty[Double]
      if (err.isEmpty) {
        dropRunBlocks()
        val (sec, cpu, jobs, e) = measureOnce()
        err = e
        if (e.isEmpty) {
          if (leavesBlocks) drainPerRun = sec < 1.5
          else reps = {
            // Window targets: ~0.8 s for mid-weight entries, ~1.2 s
            // with a floor of 8 execs for the sub-0.3 s tail. The r12
            // sweep caught q_cross_join's 4-exec batches ALIASING a
            // periodic full-GC pause — batches cleanly bimodal at
            // 0.145 vs 0.265 s per-exec, i.e. one ~0.5 s pause landing
            // in some batches and not others. A larger batch amortizes
            // the pause into EVERY window instead of aliasing it
            // across some, which is what collapses the reported
            // relative spread (the measured quantity is unchanged:
            // steady-state per-exec wall time including its fair share
            // of GC).
            val w = if (sec < 0.6) 1.2 else 0.8
            val n = math.ceil(w / math.max(sec, 0.04)).toInt
            math.min(32, math.max(1, if (sec < 0.3) math.max(n, 8) else n))
          }
          if (!drainPerRun) { runs += sec; cpuRuns += cpu; jobRuns += jobs }
        }
      }
      while (runs.size < 3 && err.isEmpty) {
        drainDebt()
        dropRunBlocks()
        val (sec, cpu, jobs, e) = measureOnce()
        runs += sec
        cpuRuns += cpu
        jobRuns += jobs
        err = e
      }
      // Adaptive re-runs: a co-tenant CPU burst landing inside one timed
      // run shifts a 3-run median by 2-3× (observed cross-sweep on
      // identical code: q_dedup_ngram 1.1 ↔ 3.1 s, q_shard one run of
      // 5.4 s against two of ~1 s). When the spread exceeds a quarter of
      // the median on a non-trivial query, take up to 2 more runs — a
      // 5-run median tolerates TWO outlier runs where 3-run tolerates
      // one, and the extra samples shrink the reported spread's own
      // noise on the queries where it matters.
      // Sub-0.3s queries jitter by tens of ms (job-launch noise), which
      // reads as a large RELATIVE spread; extra runs there cost almost
      // nothing, so they get the same extension instead of an exemption.
      def noisy: Boolean = {
        val med = runs.sorted.apply((runs.size - 1) / 2)
        med > 0 && (runs.max - runs.min) / med > 0.25
      }
      // A noisy query extends its sample, up to 9 runs total, with the
      // isolation level chosen by PLAN TRAIT first, weight second:
      //  - short-run block-leavers (`drainPerRun` — the checkpoint
      //    churners) keep their uniform light drain before EVERY
      //    extension run: their noise is accumulating ContextCleaner
      //    backlog + heap debt, which ESCALATES across undrained
      //    extensions (q_pack_continue 0.6 → 6.7 s under the old
      //    median>=1s gate, which its 0.9 s median never crossed);
      //  - heavy queries (median >= 1 s, including multi-second
      //    block-leavers, which self-drain within their runs) settle
      //    before extensions only — the round-10 protocol — because a
      //    deep sweep's cleaner backlog lands in any multi-second
      //    window (q_srp_recall 2.0 ↔ 5.7 s within one group);
      //  - light NON-checkpoint queries extend WITHOUT the settle:
      //    for them the full GC is the noise — a measured sweep showed
      //    settle-prefixed extension runs of q_curriculum ESCALATING
      //    0.33 → 0.73 s while its plain runs sat at 0.35-0.45 s (the
      //    A/B'd 15-20% warm-state destruction, compounding). Their
      //    dominant noise is ambient co-tenant jitter, which more
      //    SAMPLES absorb and more GC only adds to. (q_curriculum
      //    leaves no blocks, so the trait classifier spares it.)
      while (err.isEmpty && runs.size < 9 && noisy) {
        val med = runs.sorted.apply((runs.size - 1) / 2)
        if (drainPerRun) drainDebt()
        else if (med >= 1.0) settle()
        dropRunBlocks()
        val (sec, cpu, jobs, e) = measureOnce()
        runs += sec
        cpuRuns += cpu
        jobRuns += jobs
        err = e
      }
      // A failed query reports ONLY its error — a median over runs that
      // include the aborted attempt would record a misleading timing.
      if (err.isEmpty) {
        record(name, runs.toSeq)
        repsUsed(name) = reps
        if (cpuRuns.nonEmpty)
          cpuSecs(name) = cpuRuns.sorted.apply((cpuRuns.size - 1) / 2)
        if (jobRuns.nonEmpty)
          nJobs(name) = jobRuns.sorted.apply((jobRuns.size - 1) / 2)
      }
      err.foreach(errors(name) = _)
    }
    // Closing control point: end-of-sweep ambient, after every query
    // group has run (the late-alphabet heat the r11/r12 disputes were
    // about lands exactly here).
    settle()
    controlPoint()

    // Reference three-phase cache pattern (BASELINE.md): uncached run,
    // cache write (first cacheToDbfs), cached re-read (second call
    // hits). The SAME median protocol as every query — one untimed
    // warmup sequence, then 5 timed sequences, median + spread per
    // phase — because these three numbers are the repo's headline
    // baseline metric and a single run was its least-measured number
    // (one sweep caught cache_write at 3.4 s where three others
    // measured 0.9 s). Each sequence gets a FRESH cache hash by
    // tagging the flagship plan with a per-sequence literal (the plan
    // fingerprint changes, so every write phase really writes and
    // every re-read phase hits only its own sequence's entry).
    // Dev loop: SPARK_GRAFT_ONLY=cache times just these phases.
    // `only` is the comma-SPLIT set, so this is an exact-element
    // sentinel match ("cache" ∈ set), NOT a substring test — a future
    // filter like q_cache_probe does not trigger the 18-run phases.
    val cachePhaseSentinel = "cache"
    if (only.isEmpty || only.exists(_.contains(cachePhaseSentinel))) {
      import org.apache.spark.sql.functions.lit
      def flagship(seq: Int): DataFrame =
        SparkEntry.queries("q_join_multi")(spark, sfDir)
          .withColumn("__bench_seq", lit(seq))
      def cached(seq: Int): DataFrame = flagship(seq).cacheToDbfs(
        overridePreferSparkCache = true,
        dbfsCacheComplexityThreshold = None,
        dbfsCacheMultiplierThreshold = None)
      val phaseRuns =
        Seq("cache_uncached", "cache_write", "cache_reread")
          .map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
      settle()
      var seqNo = -1
      var cacheErr: Option[String] = None
      while (seqNo < 5 && cacheErr.isEmpty) {
        val (u, e1) = timeSec(runFully(flagship(seqNo)))
        val (w, e2) = timeSec(runFully(cached(seqNo)))
        val (r, e3) = timeSec(runFully(cached(seqNo)))
        cacheErr = e1.orElse(e2).orElse(e3)
        if (seqNo >= 0 && cacheErr.isEmpty) {
          phaseRuns("cache_uncached") += u
          phaseRuns("cache_write") += w
          phaseRuns("cache_reread") += r
        }
        seqNo += 1
      }
      if (cacheErr.isEmpty)
        phaseRuns.toSeq.sortBy(_._1).foreach { case (k, rs) =>
          record(k, rs.toSeq) }
      cacheErr.foreach { e =>
        Seq("cache_uncached", "cache_write", "cache_reread")
          .foreach(errors(_) = e)
      }
    }

    val qs = timings.map { case (k, v) => s"${jsonStr(k)}:${f"$v%.3f"}" }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }
      .mkString("{", ",", "}")
    val total = timings.values.sum

    // Full per-query detail — every timing at 3 decimals plus every
    // error — goes to a file; the stdout line can't carry it (below).
    // A SPARK_GRAFT_ONLY dev run writes a PARTIAL file so it never
    // clobbers the last full sweep's detail.
    val detailPath =
      if (only.isDefined) "BENCH_DETAIL_PARTIAL.json" else "BENCH_DETAIL.json"
    val spreadJson = spreads.map { case (k, v) => s"${jsonStr(k)}:${f"$v%.3f"}" }
      .mkString("{", ",", "}")
    val runsJson = allRuns.map { case (k, rs) =>
      s"${jsonStr(k)}:${rs.map(r => f"$r%.3f").mkString("[", ",", "]")}" }
      .mkString("{", ",", "}")
    val repsJson = repsUsed.map { case (k, v) => s"${jsonStr(k)}:$v" }
      .mkString("{", ",", "}")
    // `recycle_every` records the session-recycle cadence the sweep ran
    // under: recycling changes the measurement context for late-sweep
    // entries, so a cross-round diff must be able to see whether both
    // sides used the same cadence (0 = recycling disabled).
    // `controls` carries the interleaved ambient-control samples (one
    // per control point, per-exec seconds) and `control_reps` their
    // frozen batch sizes: bench_diff reads the MEDIAN per control from
    // both rounds' artifacts and takes the median of the ratios as the
    // cross-round ambient — in-artifact evidence, no extra session.
    val controlsJson = controlSamples.map { case (k, ss) =>
      s"${jsonStr(k)}:${ss.map(v => f"$v%.4f").mkString("[", ",", "]")}" }
      .mkString("{", ",", "}")
    val controlRepsJson = controlReps.map { case (k, v) => s"${jsonStr(k)}:$v" }
      .mkString("{", ",", "}")
    // `cpu_sec` / `controls_cpu`: executor-CPU medians beside the wall
    // medians — bench_diff's load-insensitive second opinion.
    val cpuJson = cpuSecs.map { case (k, v) => s"${jsonStr(k)}:${f"$v%.3f"}" }
      .mkString("{", ",", "}")
    // `n_jobs`: median per-execution Spark job count — bench_diff's
    // mechanical launch-cost input (launch_adjusted = wall − n_jobs ×
    // the ctl_multijob per-job drift).
    val nJobsJson = nJobs.map { case (k, v) => s"${jsonStr(k)}:${f"$v%.1f"}" }
      .mkString("{", ",", "}")
    val controlsCpuJson = controlCpuSamples.map { case (k, ss) =>
      s"${jsonStr(k)}:${ss.map(v => f"$v%.4f").mkString("[", ",", "]")}" }
      .mkString("{", ",", "}")
    val controlsJobsJson = controlJobsSamples.map { case (k, ss) =>
      s"${jsonStr(k)}:${ss.map(v => f"$v%.1f").mkString("[", ",", "]")}" }
      .mkString("{", ",", "}")
    val detail =
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","queries":$qs,"run_spread":$spreadJson,"runs":$runsJson,"reps":$repsJson,"cpu_sec":$cpuJson,"n_jobs":$nJobsJson,"errors":$errJson,"n_queries":${timings.size},"n_errors":${errors.size},"recycle_every":$recycleEvery,"controls":$controlsJson,"control_reps":$controlRepsJson,"controls_cpu":$controlsCpuJson,"controls_jobs":$controlsJobsJson,"sf":${jsonStr(sfDir)}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
      (detail + "\n").getBytes("UTF-8"))

    // The harness stores only the LAST 2000 chars of stdout and parses
    // the JSON line out of that window — a full 100+-query map is ~2.6k
    // chars and gets its head truncated (observed: BENCH_r04/r05
    // "parsed": null). Budget the line well under the window: always
    // carry the headline numbers and the cache phases, then add queries
    // slowest-first (the ones worth regression-reading) until the
    // budget is spent; everything is still in BENCH_DETAIL.json.
    // r18: budget 1600 → 1900 and per-query seconds at 2 decimals in
    // THE LINE ONLY (BENCH_DETAIL keeps 3) — the r17 driver diff read
    // nine IMPROVED queries as "dropped_from_bench" because they fell
    // below the 1600-char slowest-first cut; a deeper, denser line
    // keeps the inlined set stable across rounds. 1900 leaves 100
    // chars of slack in the 2000-char window (the line is the last
    // stdout line, so nothing follows it within the window).
    val budget = 1900
    val cachePhases = timings.filter(_._1.startsWith("cache_")).toSeq
    val slowestFirst = timings.toSeq
      .filterNot(_._1.startsWith("cache_"))
      .sortBy { case (k, v) => (-v, k) }
    val compactErr = errors.take(3)
      .map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v.take(60))}" }
      .mkString("{", ",", "}")
    def render(qEntries: Seq[(String, Double)]): String = {
      // Cache phases keep 3 decimals (the headline BASELINE ratios are
      // read off these sub-second numbers); inlined queries carry 2 —
      // the diff gate is ±10%+, so centiseconds lose nothing.
      val m = (cachePhases.map { case (k, v) =>
          s"${jsonStr(k)}:${f"$v%.3f"}" } ++
        qEntries.map { case (k, v) => s"${jsonStr(k)}:${f"$v%.2f"}" })
        .mkString("{", ",", "}")
      val omitted = slowestFirst.size - qEntries.size
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","queries":$m,"queries_omitted":$omitted,"detail":${jsonStr(detailPath)},"errors":$compactErr,"n_queries":${timings.size},"n_errors":${errors.size},"sf":${jsonStr(sfDir)}}"""
    }
    var keep = slowestFirst.size
    while (keep > 0 && render(slowestFirst.take(keep)).length > budget) keep -= 1
    val line = render(slowestFirst.take(keep))

    // Stop Spark BEFORE printing so the JSON line is the process's last
    // stdout line (shutdown logs go to stderr).
    spark.stop()
    println(line)
    if (errors.nonEmpty) sys.exit(1)
  }
}
