package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Input-source readers for the engine's table surface.
  *
  * The cache layer is format-agnostic (freshness probes sit on
  * `df.inputFiles`, which every file source provides); these helpers pin
  * the formats the reference exercises — Parquet and JSON
  * (`README.md:131-134`) — plus CSV, with schemas supplied explicitly so
  * reads are deterministic (no sampling-based inference drift between
  * runs, which would change the analyzed plan and thus the cache
  * fingerprint). Parquet schemas are read from the file footer on the
  * driver ([[parquet]]), so building a frame runs no Spark job.
  */
object Sources {

  /** Parquet table by name under a testdata-style directory. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** A parquet file whose schema is read from its footer on the driver,
    * by the conversion `spark.read.parquet` runs inside a one-task job,
    * under the same session conf: same schema, plan and fingerprint, no
    * job. A directory is left to Spark's inference. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val status = p.getFileSystem(conf).getFileStatus(p)
    if (status.isDirectory) spark.read.parquet(path)
    else {
      val options = HadoopReadOptions.builder(conf).withMetadataFilter(SKIP_ROW_GROUPS).build()
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(status, conf), options)
      val footer = try new Footer(status.getPath, reader.getFooter) finally reader.close()
      val schema = ParquetFileFormat.readSchemaFromFooter(
        footer, new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      spark.read.schema(schema).parquet(path)
    }
  }

  /** The events table. Generator versions differ on the `ts` physical
    * type: some write TIMESTAMP(NANOS) parquet (readable only via the
    * legacy nanos-as-long conf, then long-divided down to µs — integer
    * division, since a double roundtrip would lose precision above
    * 2^53 ns), newer ones write a native µs/ms timestamp Spark reads
    * directly. Adapt on the decoded schema so both layouts come back
    * as the same µs-timestamp `ts`. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    // The legacy conf has no per-read DataFrameReader equivalent and is
    // consulted lazily at execution time, so a set/restore around the
    // read would race the (lazy) scan. Scope it to a cloned session
    // instead: `newSession()` shares the SparkContext and warehouse but
    // has its own SQLConf, so unrelated nanos-typed parquet reads in
    // the caller's session keep their configured behavior.
    val isolated = spark.newSession()
    isolated.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = parquet(isolated, s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ =>
        // Already a timestamp type (µs-precision parquet, or NTZ);
        // normalize NTZ → session-local timestamp so downstream
        // window/event-time queries see one type either way.
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** JSON lines with an explicit schema (no inference). */
  def json(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def json(spark: SparkSession, path: String, ddl: String): DataFrame =
    json(spark, path, StructType.fromDDL(ddl))

  /** CSV with an explicit schema (no inference). */
  def csv(
      spark: SparkSession,
      path: String,
      schema: StructType,
      header: Boolean = true): DataFrame =
    spark.read.schema(schema).option("header", header.toString).csv(path)

  def csv(spark: SparkSession, path: String, ddl: String): DataFrame =
    csv(spark, path, StructType.fromDDL(ddl))

  /** JSON lines read PERMISSIVELY with malformed records CAPTURED
    * instead of dropped: schema fields come back null for a corrupt
    * line and the raw text lands in `_corrupt` — the crawl-ingestion
    * contract at 100 TB, where some fraction of every batch is
    * malformed and silent drops (DROPMALFORMED) or job aborts
    * (FAILFAST) are both wrong. Explicit schema as everywhere else, so
    * the analyzed plan (and cache fingerprint) is inference-free. */
  def jsonPermissive(
      spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema.add("_corrupt", org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(path)

  def jsonPermissive(
      spark: SparkSession, path: String, ddl: String): DataFrame =
    jsonPermissive(spark, path, StructType.fromDDL(ddl))

  /** ORC with an explicit schema — the other columnar format Spark
    * ships a vectorized reader for; like parquet it carries its own
    * schema, but pinning one keeps the analyzed plan (and thus the
    * cache fingerprint) independent of file-footer details. */
  def orc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  def orc(spark: SparkSession, path: String, ddl: String): DataFrame =
    orc(spark, path, StructType.fromDDL(ddl))
}
