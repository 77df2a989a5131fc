package graft

import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.Row

/** Diagnostic: measure the driver-side row-hashing overhead of
  * [[DirectData.createCachedDataFrame]] against data size — the analogue
  * of the reference's profiling notebook
  * (`/root/reference/tests/notebooks/profiling.py:93-127`), which exists
  * because direct-data caching hashes EVERY cell on the driver and users
  * need to know where that stops being cheap.
  *
  * Prints rows/sec for hashRows alone and the end-to-end
  * createCachedDataFrame (hash + write + table-backed read) at a few
  * sizes. Run: `sbt "runMain graft.ProfileReport"` */
object ProfileReport {

  private def timeSec[T](f: => T): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val spark =
      Sessions.local(8, java.nio.file.Files.createTempDirectory("graft-prof-wh").toString)
    CacheConfig.current = CacheConfig(sparkCacheDir =
      java.nio.file.Files.createTempDirectory("graft-prof").toString + "/")

    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("payload", StringType)))

    for (n <- args.headOption.map(_.split(",").map(_.toInt).toSeq)
                 .getOrElse(Seq(1000, 10000, 100000))) {
      val rows: Seq[Row] =
        (0 until n).map(i => Row(i.toLong, s"payload-$i-${"x" * 40}"))
      // Warm once so JIT doesn't bill the first size.
      if (n == 1000) DirectData.hashRows(rows, schema)
      val hashSec = timeSec(DirectData.hashRows(rows, schema))
      val e2eSec = timeSec {
        DirectData.createCachedDataFrame(spark, rows, schema).count()
      }
      println(f"PROFILE n=$n%7d hashRows=${hashSec}%8.4fs (${n / hashSec}%11.0f rows/s) createCachedDataFrame=${e2eSec}%8.4fs")
    }
    println("NOTE: hashing is driver-side BY DESIGN (direct data starts on " +
      "the driver; the hash must be computed before any cluster write) — " +
      "use parquet inputs + cacheToDbfs for data that is already distributed.")
    spark.stop()
  }
}
