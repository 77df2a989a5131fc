package graft

import java.time.{LocalDateTime, ZoneOffset}

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Encoder, Row, SparkSession}

/** Direct-data caching: gives in-memory data a stable, file-backed
  * identity so downstream plans hash deterministically (reference
  * `dbfs_spark_cache/core_caching.py:119-206`, README invalidation matrix).
  *
  * The content hash is `"data_" + MD5(row digest)`. The reference digests
  * via `pd.util.hash_pandas_object` (`hashing.py:37-72`) — pandas-specific
  * bits we don't reproduce; the contract (pinned by the reference's
  * `tests/test_hashing.py:36-73`) is only: deterministic, and sensitive to
  * schema (incl. float32 vs float64), column order, row order and any
  * value perturbation. We MD5 a type-tagged canonical byte encoding of
  * (schema catalogString, every cell in row-major order).
  *
  * Datasets cannot carry instance attributes like the reference's
  * `_is_direct_data_cache` tag (`core_caching.py:176-178`), so identity
  * lives in a weak map keyed by the analyzed logical plan (SURVEY §1.6).
  */
object DirectData {

  private val registry =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[LogicalPlan, String]())

  private[graft] def tag(df: DataFrame, hashName: String): DataFrame = {
    registry.put(df.queryExecution.logical, hashName)
    df
  }

  /** The `_direct_data_cache_hash` equivalent, if this exact DataFrame
    * object came from [[createCachedDataFrame]]. */
  def taggedHash(df: DataFrame): Option[String] =
    Option(registry.get(df.queryExecution.logical))

  // --- deterministic content hashing -------------------------------------

  private def cellBytes(v: Any, dt: DataType, sb: StringBuilder): Unit = {
    sb.append('|')
    if (v == null) { sb.append("null"); return }
    dt match {
      case DoubleType => sb.append("d:").append(java.lang.Double.doubleToLongBits(v.asInstanceOf[Double]))
      case FloatType => sb.append("f:").append(java.lang.Float.floatToIntBits(v.asInstanceOf[Float]))
      case ArrayType(et, _) =>
        sb.append("a[")
        v.asInstanceOf[scala.collection.Seq[Any]].foreach(e => cellBytes(e, et, sb))
        sb.append(']')
      case st: StructType =>
        sb.append("s{")
        val r = v.asInstanceOf[Row]
        st.fields.zipWithIndex.foreach { case (f, i) => cellBytes(r.get(i), f.dataType, sb) }
        sb.append('}')
      case _ => sb.append(dt.simpleString).append(':').append(v.toString)
    }
  }

  /** MD5 over (schema incl. dtypes, row order, cell values) — the Scala
    * analogue of `_hash_input_data` (`hashing.py:37-72`). */
  def hashRows(rows: Seq[Row], schema: StructType): String = {
    val sb = new StringBuilder(schema.catalogString)
    rows.foreach { r =>
      sb.append('\n')
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        cellBytes(if (r.isNullAt(i)) null else r.get(i), f.dataType, sb)
      }
    }
    PlanFingerprint.md5Hex(sb.toString)
  }

  /** Content-hash local rows; reuse the `data_<md5>` entry when
    * [[CacheIO.isLive]], else write it; return a table-backed, tagged
    * DataFrame (reference `core_caching.py:119-206`). */
  def createCachedDataFrame(
      spark: SparkSession,
      rows: Seq[Row],
      schema: StructType): DataFrame = {
    val dataHash = hashRows(rows, schema)
    val hash = s"data_$dataHash"
    if (CacheIO.isLive(spark, hash)) {
      PlanFingerprint.log(s"Using existing direct data cache: $hash")
      tag(spark.read.table(CacheConfig.current.tableNameFromHash(hash)), hash)
    } else {
      val dfSource = spark.createDataFrame(
        new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        schema)
      val metadataTxt = CacheMetadata.renderDirectData(
        dataHash,
        LocalDateTime.now(ZoneOffset.UTC).format(Freshness.TsFormat))
      tag(CacheIO.write(dfSource, CacheKey(hash, metadataTxt)), hash)
    }
  }

  /** DDL-string schema variant (`"a INT, b STRING"` — reference
    * `tests/test_create_cached_dataframe.py:72`). */
  def createCachedDataFrame(
      spark: SparkSession,
      rows: Seq[Row],
      ddl: String): DataFrame =
    createCachedDataFrame(spark, rows, StructType.fromDDL(ddl))

  /** Typed variant for `Seq[Product]` with an Encoder. */
  def createCachedDataFrameTyped[T: Encoder](
      spark: SparkSession,
      data: Seq[T]): DataFrame = {
    val ds = spark.createDataset(data)(implicitly[Encoder[T]])
    val df = ds.toDF()
    createCachedDataFrame(spark, df.collect().toIndexedSeq, df.schema)
  }
}
