// Round-13 probe: hits (every half-step pinned before its renorm
// total) and the pageRankConverged loop to its exact fixed point.
// Same dense-id graph synthesis as the r12 probe (ids 0..N-1, modulus
// at the actual id count) at 5k and 200k vertices.
// Run via spark-shell with compiled classes (see .claude/skills/verify);
// results land as rows in SCALE.md.
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import graft.operators._

spark.conf.set("spark.sql.shuffle.partitions", "32")

def ids(n: Long): DataFrame = spark.range(n).select(col("id").as("doc_id"))

def edges(n: Long): DataFrame = {
  val m = col("doc_id") % 4
  ids(n).select(col("doc_id").as("src"),
      explode(when(m > 0, sequence(lit(1L), m))
        .otherwise(array().cast("array<long>"))).as("j"))
    .select(col("src"), ((col("src") + col("j") * 131) % n).as("dst"))
}

def run(df: DataFrame): Unit =
  df.write.format("noop").mode("overwrite").save()
def time(f: => Unit): Double = {
  val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
}
def minOf2(f: => Unit): Double = { val a = time(f); val b = time(f); math.min(a, b) }

// Warm the class graph / codegen once so no config is charged for it.
run(LinkGraph.hits(edges(5000L), "src", "dst", 2))

println("== hits, 4 iterations ==")
for (n <- Seq(5000L, 200000L)) {
  val e = edges(n)
  val t = minOf2(run(LinkGraph.hits(e, "src", "dst", 4)))
  println(f"HITS n=$n%d t=$t%.2f s")
}

println("== pageRankConverged (tolFp=0, segment=4) ==")
run(LinkGraph.pageRankConverged(edges(5000L), "src", "dst", 0L,
  maxIterations = 40, segment = 4)._1)
for (n <- Seq(5000L, 200000L)) {
  val e = edges(n)
  var iters = -1
  val t = minOf2 {
    val (r, k) = LinkGraph.pageRankConverged(e, "src", "dst", 0L,
      maxIterations = 40, segment = 4)
    run(r); iters = k
  }
  println(f"CONV n=$n%d t=$t%.2f s iters=$iters%d")
}

println("R13-PROBE-DONE")
sys.exit(0)
