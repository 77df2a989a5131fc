package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The materialization primitive behind the iterative/two-pass operators
  * ([[Dedup.nearDupComponents]], [[Packing]], [[Splits]], the
  * [[LinkGraph]] loops): pins a DataFrame's (or an RDD's) contents so
  * (a) loop plans and lineages don't grow with iterations and (b) both
  * passes of a prefix-sum read the SAME sampled range partitioning.
  *
  * `spark.graft.checkpoint` selects the storage:
  *
  *  - `local` (default): `localCheckpoint(eager = true)` — blocks live
  *    in executor storage only. Fastest, and right for single-node /
  *    short jobs, but NOT fault-tolerant: lineage is truncated, so on a
  *    large cluster one lost executor mid-loop aborts the job
  *    unrecoverably (Spark's own WARN: "lineage has been truncated and
  *    cannot be recomputed").
  *  - `reliable`: `checkpoint(eager = true)` against the cluster's
  *    checkpoint directory (`sparkContext.setCheckpointDir`, an
  *    HDFS/object-store path in production). Survives executor loss —
  *    the setting to run with at 100 TB, where some executor loss per
  *    hour is the expected case, not the exception.
  */
object Materialize {

  val ConfKey = "spark.graft.checkpoint"

  /** Storage level of `local` checkpoints: DISK_ONLY. Checkpointed
    * intermediates are read back exactly once per pass, so keeping them
    * on local disk costs little, while holding them deserialized on the
    * heap (MEMORY_AND_DISK) leaves the NEXT job to collect them —
    * measured as multi-second GC landing inside later benchmark runs of
    * the prefix-sum family (run-to-run spreads of 80-190%). */
  val storageLevel: StorageLevel = StorageLevel.DISK_ONLY

  def checkpoint(df: DataFrame): DataFrame = checkpoint(df, eager = true)

  /** `eager = false` defers materialization to the first action while
    * still pinning the result for every later consumer — the shape for
    * operators that reference a small intermediate several times inside
    * ONE query (e.g. [[QualityModel.populationStabilityBy]]'s binned
    * aggregates): construction stays plan-only (no jobs launch from
    * merely building the frame), and the first action computes the
    * pinned rows once instead of once per consumer. Loops and
    * multi-pass operators keep the eager default — they need the
    * barrier. */
  def checkpoint(df: DataFrame, eager: Boolean): DataFrame =
    if (reliable(df.sparkSession)) df.checkpoint(eager)
    else df.localCheckpoint(eager, storageLevel)

  /** The RDD form, under the same [[ConfKey]] mode, for loops that keep
    * their state as RDDs (the block loop every [[LinkGraph]] PageRank
    * entry point runs). Lazy, as RDD
    * checkpoints are: `rdd` is persisted at [[storageLevel]] (unless it
    * already is) and pinned by the first action that computes it;
    * `reliable` then also writes it to the checkpoint directory. */
  def checkpoint[T](rdd: RDD[T], spark: SparkSession): RDD[T] = {
    if (rdd.getStorageLevel == StorageLevel.NONE) rdd.persist(storageLevel)
    if (reliable(spark)) rdd.checkpoint() else rdd.localCheckpoint()
    rdd
  }

  private def reliable(spark: SparkSession): Boolean =
    spark.conf.get(ConfKey, "local") match {
      case "local" => false
      case "reliable" =>
        require(
          spark.sparkContext.getCheckpointDir.isDefined,
          s"$ConfKey=reliable requires sparkContext.setCheckpointDir(...) " +
            "to point at fault-tolerant storage (HDFS/object store)")
        true
      case other =>
        throw new IllegalArgumentException(
          s"$ConfKey must be 'local' or 'reliable', got '$other'")
    }

  /** True when `df` is only row-local narrowing (Project/Filter over a
    * single leaf) — a lineage whose re-execution costs one cheap scan,
    * so pinning it trades a block write + read for nothing. Callers
    * that pin defensively against DOUBLE execution (the prefix-sum
    * range-sampling pass, [[Packing.runningTotalBy]]) skip the pin
    * when this holds: the r17 unconditional input pin bought the
    * expensive callers 1.3-2.9× but taxed trivial-input callers
    * ~15% (q_bucket_pack 1.21 → 1.39 s, q_curriculum +0.13 s — the
    * r17 verdict's named refinement). A leaf that is itself a pin
    * (`Scan ExistingRDD` from a checkpoint) is trivial by the same
    * rule: re-reading blocks twice beats copying them. Anything with
    * a join, aggregate, window, generator or union stays pinned —
    * those are the lineages whose hidden second execution is a full
    * corpus-scale pass. */
  def trivialLineage(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    // Row-local is necessary but not sufficient: a Project can carry
    // an arbitrarily expensive expression (the release's tokenize-
    // with-merges chain is one Project over a checkpoint leaf, and
    // skipping ITS pin re-runs the whole merge-replace chain for the
    // range sampler — measured q_release 3.2 → 3.9 s when this
    // heuristic was plan-shape-only). Bound the total expression-tree
    // node count: the trivial callers (column picks, size/split
    // one-liners) sit under ~15 nodes, the heavy chains in the
    // hundreds. 32 splits the band with margin.
    val MaxExprNodes = 32
    def exprNodes(p: LogicalPlan): Int =
      p.expressions.map { e =>
        var n = 0; e.foreach(_ => n += 1); n
      }.sum
    def ok(p: LogicalPlan, budget: Int): Boolean =
      if (budget < 0) false
      else p match {
        case Project(_, c) => ok(c, budget - exprNodes(p))
        case Filter(_, c) => ok(c, budget - exprNodes(p))
        case SubqueryAlias(_, c) => ok(c, budget)
        case _: LeafNode => true
        case _ => false
      }
    ok(df.queryExecution.analyzed, MaxExprNodes)
  }
}
