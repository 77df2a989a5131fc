package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.catalog.HiveTableRelation
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.{ExternalRDD, LogicalRDD}

/** A DataFrame's cache identity (reference `core_caching.py:384-406`:
  * `MD5(input-source freshness + cleaned plan)`): the untruncated
  * analyzed-plan render ([[PlanFingerprint.render]]) and one source
  * snapshot ([[Freshness.snapshot]]), whose lines are hashed with the plan
  * and whose size feeds the cost model. */
final case class Fingerprint private (plan: String, snapshot: SourceSnapshot) {

  /** The frame's standard entry. */
  lazy val key: CacheKey = CacheKey(snapshot.freshness, plan)

  /** An entry derived from the frame: `salt` is appended to the plan text
    * as one more line (the stage entries of `Pipeline.releaseResumable`). */
  def salted(salt: String): CacheKey = CacheKey(snapshot.freshness, s"$plan\n$salt")
}

/** The one place a frame, or an analyzed subtree, gets its cache
  * identity: every path that keys, reads or writes a standard entry takes
  * it here, once.
  *
  * It refuses (Left, with the reason) what the key would not identify:
  * a plan that cannot be rendered; a leaf of the plan or of a subquery
  * that is in-memory or RDD data (`LocalRelation`, `LogicalRDD`,
  * `ExternalRDD`), whose plan text names the schema but not the rows
  * (reference `dataframe_extensions.py:47-49`); a Hive-serde table, whose
  * files the snapshot does not read; a snapshot that fails. Nothing is
  * ever written under a refused frame's identity. */
object Fingerprint {

  def of(df: DataFrame): Either[String, Fingerprint] = of(df.queryExecution.analyzed)

  def of(plan: LogicalPlan): Either[String, Fingerprint] =
    of(plan, PlanFingerprint.render(plan), None)

  /** [[of]] with the render already taken (by a caller that filters on
    * it), and the snapshot's source lines when the caller has them (the
    * snapshot's size is then 0). */
  private[graft] def of(
      plan: LogicalPlan,
      rendered: Option[String],
      freshness: Option[ListMap[String, String]]): Either[String, Fingerprint] = {
    val fp = for {
      text <- rendered.toRight("the plan cannot be rendered")
      _ <- plan.collectWithSubqueries {
        case l @ (_: LocalRelation | _: LogicalRDD | _: ExternalRDD[_] | _: HiveTableRelation) =>
          s"the rows of its ${l.nodeName} leaf are not in the plan"
      }.headOption.toLeft(())
      sources <- freshness.map(SourceSnapshot(_, 0L)).orElse(Freshness.snapshot(plan))
        .toRight("its sources cannot be listed")
    } yield Fingerprint(text, sources)
    fp.left.foreach(r => PlanFingerprint.log(s"Not cacheable: $r."))
    fp
  }

  /** [[of]] for callers that cannot go on without an identity: throws
    * IllegalArgumentException naming the refusal. */
  def required(df: DataFrame): Fingerprint =
    of(df).fold(r => throw new IllegalArgumentException(
      s"the DataFrame has no cache fingerprint: $r"), identity)
}
