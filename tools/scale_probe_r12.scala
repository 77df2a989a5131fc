// Round-12 probe: 1x/10x wall-clock ratios for the round-12 operators
// (gated frontier, mirror-aware URL dedup, anchor BM25, PageRank) on
// DENSE id spaces at BOTH scales -- fixing the r11b probe
// flaw where 10x ids sat in sparse bands (offsets of i*10M) while dst
// wrapped mod 6M, so ~90% of sources could never be destinations and
// the two scales had qualitatively different graphs. Here ids are
// 0..N-1 and 0..10N-1 and the modulus is the actual id count, so both
// scales share the same topology family.
// Run via spark-shell with compiled classes (see .claude/skills/verify);
// results land as rows in SCALE.md.
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import graft._
import graft.operators._
spark.experimental.extraStrategies = Seq(new graft.plans.GroupedTopKStrategy)
spark.conf.set("spark.sql.shuffle.partitions", "32")

val N1 = 200000L

def ids(n: Long): DataFrame = spark.range(n).select(col("id").as("doc_id"))

// The q_pagerank synthesis on a dense id space: u -> (u + j*131) % n.
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

// ---- 1x/10x operator ratios on dense ids ----
val e1 = edges(N1).cache(); e1.count()
val e10 = edges(N1 * 10).cache(); e10.count()
val i1 = ids(N1).cache(); i1.count()
val i10 = ids(N1 * 10).cache(); i10.count()

def candUrls(d: DataFrame): DataFrame = d.select(
  concat(lit("http://site"), (col("doc_id") % 23).cast("string"),
    lit(".example.com"),
    when(col("doc_id") % 4 === 0, concat(lit("/private/p"), col("doc_id").cast("string")))
      .when(col("doc_id") % 4 === 1, concat(lit("/d/"), col("doc_id").cast("string")))
      .when(col("doc_id") % 4 === 2, concat(lit("/public/p"), col("doc_id").cast("string")))
      .otherwise(concat(lit("/p"), col("doc_id").cast("string")))).as("url"),
  (col("doc_id") % 9973).cast("double").as("priority"))
def trapUrls(d: DataFrame): DataFrame = d.select(
  when(col("doc_id") % 2 === 0, concat(
      lit("http://site"), (col("doc_id") % 23).cast("string"),
      lit(".example.com/d/"), col("doc_id").cast("string")))
    .otherwise(concat(
      lit("http://site"), (col("doc_id") % 23).cast("string"),
      lit(".example.com/p/"), (col("doc_id") % 97).cast("string")))
    .as("url"))
val rules = (0 to 22).flatMap(i => Seq(
    (s"site$i.example.com", "/private/", false),
    (s"site$i.example.com", "/private/public/", true)))
  .toDF("host", "prefix", "allow")
val policy = (0 to 3).map(i => (s"site$i.example.com", (i + 1).toDouble))
  .toDF("host", "delay_s")

def mirrorFetches(d: DataFrame): DataFrame = {
  val k = (col("doc_id") % 50).cast("string")
  val t = concat(lit("content body "), col("doc_id").cast("string"))
  d.select(col("doc_id"), concat(lit("h"), k).as("host"), t.as("text"))
    .unionByName(d.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), concat(lit("m"), k).as("host"), t.as("text")))
}

def corpus(d: DataFrame): DataFrame = d.select(col("doc_id"),
  concat(lit("alpha beta word"), (col("doc_id") % 997).cast("string"),
    when(col("doc_id") % 13 === 0, lit(" spark joins"))
      .otherwise(lit(" filler body")),
    when(col("doc_id") % 7 === 0, lit(" window"))
      .otherwise(lit(" text")),
    lit(" tail vector segment")).as("text"))
def anchorEdges(e: DataFrame): DataFrame = e.select(
  col("dst"),
  concat(lit("word"), (col("src") % 997).cast("string"),
    when(col("src") % 11 === 0, lit(" spark")).otherwise(lit(" link")),
    lit(" page")).as("anchor"))

def ops(e: DataFrame, d: DataFrame, n: Long): Seq[(String, () => Unit)] = Seq(
  "frontier_gated" -> (() => run(
    Crawl.frontierPlanGated(candUrls(d), "url", "priority", rules,
      trapUrls(d), "url", policy, defaultDelayS = 5.0, maxPerHost = 40,
      maxUrlsPerTemplate = 1000))),
  "mirror_dedup" -> (() => {
    val f = mirrorFetches(d)
    val hm = Crawl.mirrorClusters(f, "host", "text", maxDf = 5, minShared = 3)
    run(Crawl.mirrorAwareUrlDedup(
      f.select(col("doc_id"), concat(lit("http://"), col("host"), lit("/p/"),
        col("doc_id").cast("string")).as("url")),
      "url", hm, Seq(col("url").asc)))
  }),
  "anchor_bm25" -> (() => run(
    Retrieval.bm25WithAnchors(corpus(d), "doc_id", "text",
      anchorEdges(e), "dst", "anchor", Seq("spark", "window", "vector"),
      anchorWeight = 1.5))),
  "pagerank_8it" -> (() => run(
    LinkGraph.pageRank(e, "src", "dst", iterations = 8))))

def all1 = ops(e1, i1, N1)
def all10 = ops(e10, i10, N1 * 10)
all1.foreach { case (_, f) => f() } // warm codegen/JIT
val t1 = all1.map { case (n, f) => n -> time(f()) }.toMap
val t1b = all1.map { case (n, f) => n -> time(f()) }.toMap
val t10 = all10.map { case (n, f) => n -> time(f()) }.toMap
val t10b = all10.map { case (n, f) => n -> time(f()) }.toMap
all1.map(_._1).foreach { n =>
  val a = math.min(t1(n), t1b(n)); val b = math.min(t10(n), t10b(n))
  println(f"PROBE $n%-22s 1x=${a}%6.2fs 10x=${b}%6.2fs ratio=${b / a}%5.1f")
}
sys.exit(0)
