package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Materialize, Packing}

/** The checkpoint-mode switch behind the iterative operators:
  * `spark.graft.checkpoint=local` (default, executor-storage
  * localCheckpoint) vs `reliable` (setCheckpointDir + checkpoint —
  * survives executor loss, the 100 TB setting; see SCALE.md). */
class MaterializeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def withMode[T](mode: String)(body: => T): T = {
    val prev = spark.conf.getOption(Materialize.ConfKey)
    spark.conf.set(Materialize.ConfKey, mode)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(Materialize.ConfKey, v)
      case None => spark.conf.unset(Materialize.ConfKey)
    }
  }

  test("reliable mode requires a checkpoint dir, then runs the " +
    "components loop end-to-end") {
    val ids = (1L to 8L).toDF("doc_id")
    // (1,2,3) a triangle, (4,5) a pair, 6-8 singletons.
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L))
      .toDF("id_a", "id_b")
    withMode("reliable") {
      val prevDir = spark.sparkContext.getCheckpointDir
      spark.sparkContext.setCheckpointDir(null.asInstanceOf[String])
      intercept[IllegalArgumentException] {
        Materialize.checkpoint(ids)
      }
      val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
      spark.sparkContext.setCheckpointDir(dir)
      try {
        val reps = Dedup.nearDupComponents(ids, pairs)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(reps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
          5L -> 4L, 6L -> 6L, 7L -> 7L, 8L -> 8L))
        // Reliable checkpoints actually landed in the directory.
        val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
          .filter(java.nio.file.Files.isRegularFile(_)).count()
        assert(files > 0, "expected checkpoint files on disk")
      } finally prevDir.foreach(spark.sparkContext.setCheckpointDir)
    }
  }

  test("reliable mode gives the same weightedMix as local") {
    val docs = spark.read.parquet(TestSpark.sf0001 + "/documents.parquet")
    def mix() = Packing.weightedMix(Seq(("a", docs, 0.6), ("b", docs, 0.4)),
      "doc_id")
      .orderBy("source", "rid")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val local = withMode("local")(mix())
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt2").toString
    val prevDir = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val reliable = withMode("reliable")(mix())
      assert(local.sameElements(reliable))
    } finally prevDir.foreach(spark.sparkContext.setCheckpointDir)
  }

  test("unknown mode is rejected loudly") {
    withMode("turbo") {
      intercept[IllegalArgumentException] {
        Materialize.checkpoint(Seq(1).toDF("x"))
      }
    }
  }

  test("trivialLineage: cheap narrowing over one leaf, and nothing else") {
    val docs = spark.read.parquet(TestSpark.sf0001 + "/documents.parquet")
    // Pure column picks / cheap projections / filters over one scan.
    assert(Materialize.trivialLineage(docs))
    assert(Materialize.trivialLineage(docs.select("doc_id", "n_chars")))
    assert(Materialize.trivialLineage(
      docs.filter(col("n_chars") > 10)
        .select(col("doc_id"), size(split(col("text"), " ")).as("n"))))
    // An already-pinned frame re-reads blocks — trivial by the rule.
    val pinned = Materialize.checkpoint(docs.select("doc_id"))
    assert(Materialize.trivialLineage(pinned.filter(col("doc_id") > 3)))
    // Joins / aggregates / generators are full corpus-scale lineages.
    assert(!Materialize.trivialLineage(docs.groupBy("lang").count()))
    assert(!Materialize.trivialLineage(
      docs.join(docs.select(col("doc_id").as("d2")),
        col("doc_id") === col("d2"))))
    assert(!Materialize.trivialLineage(
      docs.select(explode(split(col("text"), " ")))))
    // A heavy expression chain over a leaf is NOT trivial even though
    // the plan shape is one Project (the release's tokenize-with-merges
    // regression this bound exists for).
    val merges = Seq("a" -> "b", "c" -> "d", "e" -> "f", "g" -> "h")
    assert(!Materialize.trivialLineage(
      operators.Vocab.tokenizeWithMerges(docs, "doc_id", "text", merges)))
  }

  test("runningTotalBy over a trivial input (pin skipped) stays exact") {
    val docs = spark.read.parquet(TestSpark.sf0001 + "/documents.parquet")
      .select(col("doc_id"), col("n_chars"))
    assert(Materialize.trivialLineage(docs))
    val cum = Packing
      .runningTotalBy(docs, Seq(col("doc_id")), col("n_chars"))
      .orderBy("doc_id")
      .collect().map(r => r.getAs[Long]("__cum"))
    val expected = docs.orderBy("doc_id").collect()
      .map(_.getAs[Long]("n_chars")).scanLeft(0L)(_ + _).drop(1)
    assert(cum.sameElements(expected))
  }

  test("local checkpoints store DISK_ONLY") {
    // The checkpointed RDD is internal to the Dataset (df.rdd derives a
    // fresh unpersisted RDD), so read its level off the context's
    // persistent-RDD registry instead.
    def levelOf(body: => org.apache.spark.sql.DataFrame): String = {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      body.count()
      val levels = spark.sparkContext.getPersistentRDDs.values
        .map(_.getStorageLevel.description).toSeq.distinct
      assert(levels.size == 1, s"expected one persisted RDD, got $levels")
      levels.head
    }
    val src = Seq(1, 2, 3).toDF("x")
    // Blocks on local disk — checkpointed intermediates are read back
    // once per pass; holding them deserialized on the heap leaves later
    // jobs to GC them (the bench-spread root cause).
    val level = levelOf(Materialize.checkpoint(src))
    assert(level.contains("Disk") && !level.contains("Memory"), level)
  }
}
