package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{CacheConfig, CacheIO, Complexity, Freshness, Management, PlanFingerprint, SparkEntry}
import graft.extensions._

/** One timed operation. `ok` is false when it threw or its result check
  * failed; `outcome` is how `cacheToDbfs` served it, classified from outside
  * (`hit`, `written`, `below_threshold`, `passthrough`), or the operation
  * kind for operations that do not call it. */
final case class OpRecord(id: Int, kind: String, name: String, outcome: String,
    ms: Double, ok: Boolean, error: String)

/** A workload after set-up: it runs one operation at a time. `pauseNs`
  * accumulates time spent on result checks and the churn writer inside the
  * run, which is not charged to the operations per second. */
abstract class Running(val tracer: Tracer) {
  def op(id: Int): OpRecord
  /** What run.py needs for checks it makes itself. */
  def checks: Map[String, Any] = Map.empty
  def info: Map[String, Any]
  /** Whether the window may end here: the fixed-order workloads end on a
    * whole pass, so every run measures the same mix. */
  def atPassBoundary: Boolean = true
  var pauseNs = 0L
  var pauseCpuNs = 0L
  protected def paused[T](body: => T): T = {
    val t0 = System.nanoTime(); val c0 = Main.processCpuNs()
    try body finally {
      pauseNs += System.nanoTime() - t0; pauseCpuNs += Main.processCpuNs() - c0
    }
  }
}

/** notebook_rehit and source_churn: build a cell shape, `cacheToDbfs`, then
  * `collect()` the result, and compare it with the same cell computed with
  * the cache bypassed. */
final class CacheCells(spark: SparkSession, tracer: Tracer, layout: Fixtures.Layout,
    shapes: IndexedSeq[Shape], multiplierThreshold: Option[Double], mutator: Option[Mutator],
    rnd: java.util.Random, manageEvery: Int) extends Running(tracer) {
  private val expected = mutable.HashMap.empty[String, Array[Row]]
  private val written = mutable.LinkedHashSet.empty[String]
  private var nextShape = 0

  private def build(s: Shape, cachedDim: Boolean): DataFrame = {
    val li = tracer.span("spark.read") { spark.read.parquet(layout.lineitem) }
    val orders = if (!s.orders) null else tracer.span("spark.read") {
      spark.read.parquet(layout.orders)
    }
    val dim = if (!s.dim) null
      else if (cachedDim) tracer.span("DirectData.createCachedDataFrame") {
        spark.createCachedDataFrame(Shapes.DimRows, Shapes.DimDdl)
      }
      else plainDim
    s.build(li, orders, dim)
  }

  private def plainDim: DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(Shapes.DimRows: _*),
    org.apache.spark.sql.types.StructType.fromDDL(Shapes.DimDdl))

  /** The cell computed with the cache bypassed, on the current files. */
  def truth(s: Shape): Array[Row] = build(s, cachedDim = false).collect()

  /** Run every shape `passes` times: the first pass writes the entries, the
    * others let the JIT settle on the hit path. */
  def warm(passes: Int): Unit = for (_ <- 1 to passes; s <- shapes) {
    build(s, cachedDim = true).cacheToDbfs(true, None, multiplierThreshold).collect()
  }

  override def atPassBoundary: Boolean = mutator.nonEmpty || nextShape % shapes.size == 0

  /** For a source that does not change: every cell computed with the cache
    * bypassed on the original tables, of which the many-file copy is an
    * exact re-layout. */
  def rememberTruth(data: String, seed: Long): Unit = {
    val li = Fixtures.bucketed(spark.read.parquet(s"$data/lineitem.parquet"), seed)
    val orders = spark.read.parquet(s"$data/orders.parquet")
    shapes.foreach(s => expected(s.name) = s.build(li, orders, plainDim).collect())
  }

  /** The phase functions `cacheToDbfs` calls, each run as its own probe span
    * on a separately built frame of the same cell, so the operation that
    * follows does not find their lazy plan state already computed. */
  private def probe(s: Shape): Unit = {
    val df = tracer.span("probe.build", "probe") { build(s, cachedDim = true) }
    val plan = tracer.span("PlanFingerprint.getQueryPlan", "probe") {
      PlanFingerprint.getQueryPlan(df)
    }
    tracer.attr("plan_chars", plan.length)
    val sources = tracer.span("Freshness.inputDirModTimes", "probe") {
      Freshness.inputDirModTimes(df)
    }
    tracer.attr("dirs", sources.size)
    val hit = tracer.span("CacheIO.readCacheIfExist", "probe") {
      CacheIO.readCacheIfExist(df, Some(plan), Some(sources))
    }
    if (hit.isEmpty) tracer.span("Complexity.estimate", "probe") { Complexity.estimate(df) }
  }

  private def classify(df: DataFrame, out: DataFrame, startMs: Long): String =
    if (out eq df) {
      val below = multiplierThreshold.exists(t => Complexity.estimate(df)._2 < t)
      if (below) "below_threshold" else "passthrough"
    } else {
      val cfg = CacheConfig.current
      PlanFingerprint.findCatalogTablePattern(
          out.queryExecution.analyzed.toString, cfg.cacheDatabase) match {
        case Some(h) =>
          if (new File(cfg.metadataPath(h)).lastModified >= startMs) { written += h; "written" }
          else "hit"
        case None => "passthrough"
      }
    }

  private def manage(id: Int): OpRecord = {
    val t0 = System.nanoTime()
    val (entries, orphans) = tracer.span("manage", "op") {
      val e = tracer.span("Management.getCachedDataframeMetadata") {
        Management.getCachedDataframeMetadata(spark)
      }
      tracer.attr("entries", e.size)
      (e, tracer.span("Management.clearInconsistentCache") { Management.clearInconsistentCache(spark) })
    }
    val ms = (System.nanoTime() - t0) / 1e6
    val missing = written.diff(entries.map(_.hashName).toSet)
    val ok = orphans.isEmpty && missing.isEmpty
    OpRecord(id, "manage", "manage", "manage", ms, ok,
      if (ok) "" else s"orphans=${orphans.size} missing=${missing.size}")
  }

  def op(id: Int): OpRecord = {
    tracer.op = id
    mutator.foreach(m => paused { m.mutate() })
    if (manageEvery > 0 && id % manageEvery == manageEvery - 1) return manage(id)
    val s = mutator match {
      case Some(_) => shapes(rnd.nextInt(shapes.size))
      case None => val s = shapes(nextShape % shapes.size); nextShape += 1; s
    }
    if (tracer.enabled) probe(s)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var df: DataFrame = null
    var out: DataFrame = null
    val rows: Either[String, Array[Row]] = try Right(tracer.span(s"cell.${s.name}", "op") {
      df = build(s, cachedDim = true)
      out = tracer.span("cacheToDbfs") { df.cacheToDbfs(true, None, multiplierThreshold) }
      tracer.span("reread") { out.collect() }
    }) catch { case scala.util.control.NonFatal(e) => Left(e.toString) }
    val ms = (System.nanoTime() - t0) / 1e6
    paused {
      rows match {
        case Left(err) => OpRecord(id, "cell", s.name, "error", ms, false, err)
        case Right(got) =>
          val outcome = classify(df, out, startMs)
          val want = if (mutator.isEmpty) expected(s.name) else truth(s)
          val same = Rows.same(got, want)
          OpRecord(id, "cell", s.name, outcome, ms, same,
            if (same) "" else s"$outcome result differs from the bypass recompute (${got.length} vs ${want.length} rows)")
      }
    }
  }

  def info: Map[String, Any] = Map(
    "lineitem_files" -> layout.files, "lineitem_dirs" -> layout.dirs,
    "data_files_end" -> mutator.fold(layout.files)(_.dataFiles),
    "mutations" -> mutator.fold(Map.empty[String, Any])(_.counts.toMap))
}

/** pipeline_ops: one multi-operator query through the noop sink per
  * operation. run.py checks the results of the set-up pass against each
  * query's DuckDB oracle. */
final class Pipeline(spark: SparkSession, tracer: Tracer, data: String, names: IndexedSeq[String],
    rnd: java.util.Random, results: Path) extends Running(tracer) {
  private var order = IndexedSeq.empty[String]

  /** One pass that writes every result as parquet for the oracle check. The
    * timed passes run the same queries on the same tables through the noop
    * sink, which keeps no output to check. */
  def warm(): Unit = names.foreach { n =>
    SparkEntry.queries(n)(spark, data).write.parquet(results.resolve(n).toString)
  }

  def op(id: Int): OpRecord = {
    tracer.op = id
    if (order.isEmpty) order = shuffle(names)
    val name = order.head
    order = order.tail
    val t0 = System.nanoTime()
    val err = try {
      tracer.span(s"query.$name", "op") {
        val df = tracer.span("build") { SparkEntry.queries(name)(spark, data) }
        tracer.span("noop.write") { df.write.format("noop").mode("overwrite").save() }
      }
      ""
    } catch { case scala.util.control.NonFatal(e) => e.toString }
    OpRecord(id, "query", name, "query", (System.nanoTime() - t0) / 1e6, err.isEmpty, err)
  }

  override def atPassBoundary: Boolean = order.isEmpty

  private def shuffle(xs: IndexedSeq[String]): IndexedSeq[String] = {
    val a = xs.toArray
    for (i <- a.indices.reverse) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toIndexedSeq
  }

  override def checks: Map[String, Any] = Map("results_dir" -> results.toString,
    "oracles" -> names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)

  def info: Map[String, Any] = Map("queries" -> names)
}

/** Row comparison for the result checks: exact on every column except
  * floating ones, which match within a relative 1e-9. Row order is
  * ignored. */
object Rows {
  private def floating(v: Any) = v.isInstanceOf[Double] || v.isInstanceOf[Float]
  private def key(r: Row): (String, Seq[Double]) = {
    val vs = r.toSeq
    (vs.filterNot(floating).map(String.valueOf).mkString("\u0001"),
      vs.filter(floating).map(_.toString.toDouble))
  }
  private def close(a: Any, b: Any): Boolean = (a, b) match {
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y) == 0
    case _ if floating(a) && floating(b) =>
      val x = a.toString.toDouble; val y = b.toString.toDouble
      x == y || (x.isNaN && y.isNaN) || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
    case _ => a == b
  }
  def same(a: Array[Row], b: Array[Row]): Boolean = {
    import scala.math.Ordering.Implicits._
    a.length == b.length && a.sortBy(key).zip(b.sortBy(key)).forall { case (x, y) =>
      x.length == y.length && (0 until x.length).forall(i => close(x.get(i), y.get(i)))
    }
  }
}

object Main {
  val Workloads = Seq("notebook_rehit", "source_churn", "pipeline_ops")

  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def session(dir: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .config("spark.local.dir", dir.resolve("local").toString)
      .config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
      // Spark lists the partition directories in the driver, as the cache
      // path's own listings are, not in a Spark job of one task per
      // directory: a hit's work stays on one thread, which keeps runs steady
      // on a few shared cores.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      .withExtensions(new graft.functions.GraftSparkExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"), s.sparkContext.hadoopConfiguration)
    require(fs.isInstanceOf[CountingFileSystem], s"file scheme is served by ${fs.getClass}")
    CacheConfig.current = CacheConfig(sparkCacheDir = dir.resolve("sidecars").toString + "/",
      cacheDatabase = "cache_db")
    s
  }

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  /** Exits explicitly, so a failure cannot leave the JVM waiting on
    * Spark's threads. */
  def main(args: Array[String]): Unit = {
    val code = try { run(args); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val data = arg(args, "data")
    val cores = arg(args, "cores").toInt
    val out = Paths.get(arg(args, "out"))
    val queries = arg(args, "queries").split(",").toIndexedSeq
    // One set-up per run: each takes 15-35 s (a first write of every cell
    // from a many-file source, or a first pass over every query).
    val t0Setup = System.nanoTime()
    val spark = session(out, cores)
    val sessionS = (System.nanoTime() - t0Setup) / 1e9
    val running = start(workload, spark, out, data, seed, queries, traced)
    val setupS = (System.nanoTime() - t0Setup) / 1e9
    System.err.println(f"perfbench: session $sessionS%.2f s, set-up $setupS%.2f s")
    running match {
      case c: CacheCells if workload == "notebook_rehit" => c.rememberTruth(data, seed)
      case _ => ()
    }

    val ops = mutable.ArrayBuffer.empty[OpRecord]
    val passOf = mutable.ArrayBuffer.empty[Int] // the pass each operation belongs to
    val cpuMs = mutable.ArrayBuffer.empty[Double] // process CPU during each operation
    var pass = -1
    val cpu0 = processCpuNs()
    val t0 = System.nanoTime()
    def measuredNs = System.nanoTime() - t0 - running.pauseNs
    // The window ends on the pass boundary nearest to --seconds, so every run
    // measures whole passes of the same mix, and after at least two passes,
    // so every kind of operation has a median of more than one sample.
    def another: Boolean = !running.atPassBoundary || pass < 1 ||
      measuredNs * (1 + 0.5 / (pass + 1)) < seconds * 1e9
    while (another) {
      if (running.atPassBoundary) pass += 1
      passOf += pass
      val c = processCpuNs(); val paused = running.pauseCpuNs
      ops += running.op(ops.size)
      cpuMs += (processCpuNs() - c - (running.pauseCpuNs - paused)) / 1e6
    }
    val windowNs = measuredNs
    val cpuNs = processCpuNs() - cpu0 - running.pauseCpuNs

    val mem = ManagementFactory.getMemoryMXBean
    // The second collection also frees what Spark's cleaner released after
    // the first.
    mem.gc(); Thread.sleep(300); mem.gc()
    val heapMb = mem.getHeapMemoryUsage.getUsed / 1048576.0
    val sc = spark.sparkContext
    val storageMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
    val storedMb = (Fixtures.bytesUnder(out.resolve("warehouse").toFile) +
      Fixtures.bytesUnder(out.resolve("sidecars").toFile)) / 1048576.0
    val trace = running.tracer.dump()

    val result = Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "setup_s" -> setupS, "window_s" -> windowNs / 1e9, "proc_cpu_ms" -> cpuNs / 1e6,
      "live_heap_mb" -> heapMb, "storage_mb_end" -> storageMb, "cache_stored_mb" -> storedMb,
      "ops" -> ops.toSeq.map(o => Map("id" -> o.id, "pass" -> passOf(o.id), "kind" -> o.kind,
        "name" -> o.name, "outcome" -> o.outcome, "ms" -> o.ms, "cpu_ms" -> cpuMs(o.id), "ok" -> o.ok,
        "error" -> o.error)),
      "info" -> running.info,
      "checks" -> running.checks,
      "context" -> Map("cores" -> cores, "nproc" -> Runtime.getRuntime.availableProcessors,
        "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576),
      "trace" -> trace)
    Files.writeString(out.resolve("result.json"), Json(result))
    spark.stop()
  }

  /** Set-up after the session starts: the warm-up. */
  private def start(workload: String, spark: SparkSession, out: Path, data: String,
      seed: Long, queries: IndexedSeq[String], traced: Boolean): Running = {
    val input = out.resolve("input")
    val tracer = new Tracer(traced, spark.sparkContext)
    val rnd = new java.util.Random(seed)
    workload match {
      case "notebook_rehit" =>
        val c = new CacheCells(spark, tracer, Fixtures.layout(input), Shapes.all.take(6), None, None, rnd,
          manageEvery = 0)
        c.warm(passes = 3); c
      case "source_churn" =>
        val layout = Fixtures.layout(input)
        val c = new CacheCells(spark, tracer, layout, Shapes.all, Some(1.01),
          Some(new Mutator(layout.lineitem, Fixtures.pool(input), rnd)), rnd, manageEvery = 5)
        c.warm(passes = 2); c
      case "pipeline_ops" =>
        val p = new Pipeline(spark, tracer, data, queries, rnd, out.resolve("results"))
        p.warm(); p
    }
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => quote(other.toString)
  }
  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
