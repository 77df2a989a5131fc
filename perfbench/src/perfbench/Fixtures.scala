package perfbench

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The inputs perfbench/fixtures.py wrote, and file helpers. */
object Fixtures {
  val Partitions = 40
  val BucketMultiplier = 2654435761L

  final case class Layout(lineitem: String, orders: String, files: Int, dirs: Int)

  def layout(input: Path): Layout = {
    val li = input.resolve("lineitem").toString
    val dirs = partitionDirs(li)
    Layout(li, input.resolve("orders").toString, dirs.map(dataFilesIn(_).size).sum, dirs.size)
  }

  def pool(input: Path): IndexedSeq[File] = dataFilesIn(input.resolve("pool").toFile)

  /** The original lineitem with the partition column of its copy, computed
    * as fixtures.py does. */
  def bucketed(li: DataFrame, seed: Long): DataFrame =
    li.withColumn("l_bucket",
      pmod(col("l_orderkey") * lit(BucketMultiplier) + lit(seed), lit(Partitions)).cast("int"))

  def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)

  def partitionDirs(lineitem: String): IndexedSeq[File] =
    Option(new File(lineitem).listFiles).toIndexedSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("l_bucket=")).sortBy(_.getName)

  def dataFilesIn(dir: File): IndexedSeq[File] =
    Option(dir.listFiles).toIndexedSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .sortBy(_.getName)

  def bytesUnder(f: File): Long = walk(f).map(_.length).sum
}

/** A notebook cell: a small result from lineitem and, when `orders` or
  * `dim` is set, the orders table or a direct-data dimension table. */
final case class Shape(name: String, orders: Boolean, dim: Boolean,
    build: (DataFrame, DataFrame, DataFrame) => DataFrame)

object Shapes {
  val DimDdl = "l_returnflag STRING, flag_label STRING, flag_weight INT"
  val DimRows: Seq[Row] =
    Seq(Row("A", "accepted", 1), Row("N", "none", 2), Row("R", "returned", 3))

  /** notebook_rehit uses the first six. The two `scan_` cells have no
    * join, aggregate, sort or window, so the cost model puts them below the
    * default multiplier threshold. */
  val all: IndexedSeq[Shape] = IndexedSeq(
    Shape("agg_flags", false, false, (li, _, _) =>
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("qty"), sum("l_extendedprice").as("price"),
          count(lit(1)).as("n"))),
    Shape("join_priority", true, false, (li, o, _) =>
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum("l_extendedprice").as("price"))),
    Shape("window_topn", false, false, (li, _, _) => {
      val w = Window.partitionBy("l_linenumber")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"))
      li.withColumn("rn", row_number().over(w)).where(col("rn") <= 3)
        .select("l_linenumber", "rn", "l_orderkey", "l_extendedprice")
    }),
    Shape("distinct_status", false, false, (li, _, _) =>
      li.select("l_returnflag", "l_linestatus", "l_linenumber").distinct()),
    Shape("dim_join", false, true, (li, _, d) =>
      li.join(d, "l_returnflag").groupBy("flag_label")
        .agg(sum(col("l_quantity") * col("flag_weight")).as("weighted_qty"),
          count(lit(1)).as("n"))),
    Shape("bucket_agg", false, false, (li, _, _) =>
      li.where(col("l_bucket") < 8).groupBy("l_bucket")
        .agg(count(lit(1)).as("n"), max("l_shipdate").as("last_ship"),
          sum("l_discount").as("disc"))),
    Shape("join_year", true, false, (li, o, _) =>
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(year(col("o_orderdate")).as("yr"))
        .agg(avg("l_discount").as("avg_disc"), count(lit(1)).as("n"))),
    Shape("top_price", false, false, (li, _, _) =>
      li.orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(20).select("l_orderkey", "l_linenumber", "l_extendedprice")),
    Shape("scan_big_qty", false, false, (li, _, _) =>
      li.where(col("l_quantity") >= 50 && col("l_discount") >= 0.09)
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_bucket")),
    Shape("scan_buckets", false, false, (li, _, _) =>
      li.where(col("l_bucket") < 4 && col("l_tax") > 0.07)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_bucket")))
}

/** The churn writer: between operations it appends a file, rewrites one in
  * place (sometimes leaving its modification time in the same second as the
  * directory's newest file, as a writer finishing within that second does),
  * deletes a file that is not the newest, or overwrites a partition. It
  * works on files directly, beside the library, as another process would. */
final class Mutator(lineitem: String, pool: IndexedSeq[File], rnd: java.util.Random) {
  private val dirs = Fixtures.partitionDirs(lineitem)
  private var appended = 0
  val counts = scala.collection.mutable.LinkedHashMap(
    "append" -> 0, "rewrite" -> 0, "rewrite_same_second" -> 0, "delete" -> 0,
    "overwrite_partition" -> 0)

  private def copy(src: File, dst: File): Unit =
    Files.copy(src.toPath, dst.toPath, StandardCopyOption.REPLACE_EXISTING)

  private def poolFile(): File = pool(rnd.nextInt(pool.size))

  def mutate(): Unit = {
    val dir = dirs(rnd.nextInt(dirs.size))
    val files = Fixtures.dataFilesIn(dir)
    val r = rnd.nextDouble()
    val kind =
      if (files.isEmpty || r < 0.25) "append"
      else if (r < 0.45) "rewrite"
      else if (r < 0.6) "rewrite_same_second"
      else if (r < 0.85 && files.size >= 2) "delete"
      else if (r < 0.85) "append"
      else "overwrite_partition"
    kind match {
      case "append" =>
        appended += 1
        copy(poolFile(), new File(dir, f"part-append-$appended%05d.parquet"))
      case "rewrite" =>
        copy(poolFile(), files(rnd.nextInt(files.size)))
      case "rewrite_same_second" =>
        val newest = Option(dir.listFiles).toSeq.flatten.map(_.lastModified).max
        val f = files(rnd.nextInt(files.size))
        copy(poolFile(), f)
        f.setLastModified(newest)
      case "delete" =>
        val newest = files.maxBy(_.lastModified)
        val older = files.filterNot(_ == newest)
        older(rnd.nextInt(older.size)).delete()
      case "overwrite_partition" =>
        files.foreach(_.delete())
        (0 until 2).foreach(i => copy(poolFile(), new File(dir, s"part-overwrite-$i.parquet")))
    }
    counts(kind) += 1
  }

  def dataFiles: Int = dirs.map(Fixtures.dataFilesIn(_).size).sum
}
