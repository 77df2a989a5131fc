package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Quality

/** The recall accounting behind the q_*_recall companions must itself be
  * exact — these pins use tiny hand-computable sets. */
class QualitySpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  test("topKRecallCounts counts hits per (qid, id) exactly") {
    val s = spark
    import s.implicits._
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L))
      .toDF("qid", "vec_id")
    val approx = Seq((1L, 10L), (1L, 99L), (2L, 20L), (2L, 21L), (3L, 30L))
      .toDF("qid", "vec_id")
    val r = Quality.topKRecallCounts(exact, approx, "qid", "vec_id")
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((2L, 4L, 3L)),
      "2 queries, 4 exact rows, 3 recovered (99 and the extra qid never count)")
  }

  test("minhash recall and simhash completeness gates hold at sf0.001") {
    val sf = "/root/testdata/sf0.001"
    val mh = SparkEntry.queries("q_minhash_recall")(spark, sf).collect().head
    assert(mh.getBoolean(1), s"minhash recall gate (n_exact=${mh.getLong(0)})")
    val sh = SparkEntry.queries("q_simhash_complete")(spark, sf).collect().head
    assert(sh.getBoolean(0),
      "4x16 banding must find every hamming<=3 pair (pigeonhole)")
  }

  test("pairRecallCounts counts oriented pair hits exactly") {
    val s = spark
    import s.implicits._
    val exact = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("id_a", "id_b")
    val approx = Seq((1L, 2L), (5L, 6L), (7L, 8L)).toDF("id_a", "id_b")
    val r = Quality.pairRecallCounts(exact, approx).collect().head
    assert((r.getLong(0), r.getLong(1)) == ((3L, 2L)))
  }

  test("recallOk thresholds in integer arithmetic, empty exact passes") {
    val s = spark
    import s.implicits._
    def ok(nExact: Long, nHit: Long, bps: Int): Boolean =
      Seq((nExact, nHit)).toDF("n_exact", "n_hit")
        .select(Quality.recallOk(bps).as("ok")).collect().head.getBoolean(0)
    assert(ok(10, 8, 8000), "exactly at the threshold passes")
    assert(!ok(10, 7, 8000), "one hit below fails")
    assert(ok(0, 0, 8000), "empty exact set is vacuously satisfied")
  }
}
