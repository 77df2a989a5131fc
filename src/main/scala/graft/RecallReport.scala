package graft

import org.apache.spark.sql.functions._

import graft.operators.{Quality, Quantize, Similarity}
import graft.sources.Sources.table

/** Diagnostic: print the RAW recall/tolerance numbers behind the
  * `q_*_recall` / `q_*_tolerance` companion queries at one or more
  * scale factors, so their thresholds are set from measurement, not
  * hope. Not part of the driver contract — a dev tool:
  * `sbt "runMain graft.RecallReport /root/testdata/sf0.01 ..."` */
object RecallReport {

  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val spark =
      Sessions.local(32, java.nio.file.Files.createTempDirectory("graft-recall-wh").toString)

    for (d <- dirs) {
      val e = table(spark, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val q = table(spark, d, "embeddings")
        .filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val exact = Similarity.bruteForceTopKAgg(
        e, q, "vec_id", "embedding", "qid", "qvec", k = 5)

      def counts(name: String, approx: org.apache.spark.sql.DataFrame): Unit = {
        val r = Quality.topKRecallCounts(exact, approx, "qid", "vec_id")
          .collect().head
        val (nq, nx, nh) = (r.getLong(0), r.getLong(1), r.getLong(2))
        println(f"$d%-28s $name%-12s n_q=$nq%3d n_exact=$nx%4d n_hit=$nh%4d recall=${nh.toDouble / nx}%.3f")
      }
      counts("ann", Similarity.annCosineTopK(
        e, q, "vec_id", "embedding", "qid", "qvec", k = 5))
      counts("ivf", Similarity.ivfCosineTopK(
        e, q, "vec_id", "embedding", "qid", "qvec", k = 5, nLists = 16, nProbe = 4))
      counts("int8", Quantize.int8CosineTopK(
        e, q, "vec_id", "embedding", "qid", "qvec", k = 5))

      val exactPairs = operators.Dedup.embeddingNearDupPairs(
        e, "vec_id", "embedding", threshold = 0.45, exact = true)
      val srp = Similarity.srpCosinePairs(
        e, "vec_id", "embedding", threshold = 0.45)
      val pr = Quality.pairRecallCounts(exactPairs, srp).collect().head
      println(f"$d%-28s srp          n_exact=${pr.getLong(0)}%4d n_hit=${pr.getLong(1)}%4d recall=${pr.getLong(1).toDouble / math.max(1, pr.getLong(0))}%.3f")

      val sem = operators.Dedup.semanticDedup(
        e, "vec_id", "embedding", threshold = 0.45, nClusters = 8)
      val compP = sem.select(col("rep"), col("vec_id"))
      val coPairs = compP.as("x")
        .join(compP.as("y"),
          col("x.rep") === col("y.rep") && col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
      val sp = Quality.pairRecallCounts(exactPairs, coPairs).collect().head
      println(f"$d%-28s semdedup     n_exact=${sp.getLong(0)}%4d n_hit=${sp.getLong(1)}%4d recall=${sp.getLong(1).toDouble / math.max(1, sp.getLong(0))}%.3f")

      val orders = table(spark, d, "orders")
      val hll = orders.groupBy("o_orderstatus")
        .agg(count_distinct(col("o_custkey")).as("exact_nd"),
          graft.functions.DistinctSketch.hllSketch(col("o_custkey")).as("hll"),
          approx_count_distinct(col("o_custkey"), rsd = 0.02).as("acd"))
        .collect()
      hll.foreach { r =>
        val (ex2, h, a) = (r.getLong(1), r.getLong(2), r.getLong(3))
        println(f"$d%-28s distinct ${r.getString(0)}%-4s exact=$ex2%6d hll_err=${math.abs(h - ex2).toDouble / ex2}%.4f acd_err=${math.abs(a - ex2).toDouble / ex2}%.4f")
      }

      val li = table(spark, d, "lineitem")
      li.groupBy("l_returnflag")
        .agg(expr("percentile_approx(l_extendedprice, 0.5D, 10000)").as("ap"),
          expr("percentile(l_extendedprice, 0.5D)").as("ex"))
        .collect()
        .foreach { r =>
          val (ap, ex2) = (r.getDouble(1), r.getDouble(2))
          println(f"$d%-28s pctl ${r.getString(0)}%-4s approx=$ap%12.2f exact=$ex2%12.2f rel_err=${math.abs(ap - ex2) / ex2}%.5f")
        }
    }
    spark.stop()
  }
}
