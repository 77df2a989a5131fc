package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession shape the bench, the correctness dump, the
  * report tools and the tests run on: `local[cpus]` with as many shuffle
  * partitions, UTC session time, no UI, the given warehouse directory and
  * the graft extensions installed. */
object Sessions {

  def local(cpus: Int, warehouse: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse)
      .withExtensions(new graft.functions.GraftSparkExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
