package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Direct-data hash contract (reference `tests/test_hashing.py:12-73`):
  * deterministic 32-hex; sensitive to column order, value perturbation
  * (6.1 vs 6.1000001), dtype (double vs float), and row order. */
class HashingSpec extends AnyFunSuite {

  private val schemaAB = StructType(Seq(
    StructField("a", IntegerType),
    StructField("b", DoubleType)))
  private val rows = Seq(Row(1, 6.1), Row(2, 7.2))

  test("same data => same 32-char hash") {
    val h1 = DirectData.hashRows(rows, schemaAB)
    val h2 = DirectData.hashRows(Seq(Row(1, 6.1), Row(2, 7.2)), schemaAB)
    assert(h1 == h2)
    assert(h1.matches("[a-f0-9]{32}"))
  }

  test("column order changes the hash") {
    val schemaBA = StructType(Seq(
      StructField("b", DoubleType),
      StructField("a", IntegerType)))
    val swapped = Seq(Row(6.1, 1), Row(7.2, 2))
    assert(DirectData.hashRows(rows, schemaAB) != DirectData.hashRows(swapped, schemaBA))
  }

  test("float perturbation changes the hash (6.1 vs 6.1000001)") {
    val perturbed = Seq(Row(1, 6.1000001), Row(2, 7.2))
    assert(DirectData.hashRows(rows, schemaAB) != DirectData.hashRows(perturbed, schemaAB))
  }

  test("dtype changes the hash (double vs float)") {
    val schemaFloat = StructType(Seq(
      StructField("a", IntegerType),
      StructField("b", FloatType)))
    val asFloat = Seq(Row(1, 6.1f), Row(2, 7.2f))
    assert(DirectData.hashRows(rows, schemaAB) != DirectData.hashRows(asFloat, schemaFloat))
  }

  test("row order changes the hash") {
    val reversed = Seq(Row(2, 7.2), Row(1, 6.1))
    assert(DirectData.hashRows(rows, schemaAB) != DirectData.hashRows(reversed, schemaAB))
  }

  test("null vs value changes the hash") {
    val withNull = Seq(Row(1, null), Row(2, 7.2))
    assert(DirectData.hashRows(rows, schemaAB) != DirectData.hashRows(withNull, schemaAB))
  }

  test("metadata text round-trips through the parser") {
    val sources = scala.collection.immutable.ListMap(
      "/data/a" -> "2023-01-01 00:00:00",
      "/data/b" -> "2024-02-02 12:34:56")
    val txt = CacheMetadata.render(sources, "Some Plan Text")
    assert(txt.startsWith("INPUT SOURCES MODIFICATION DATETIMES:\n"))
    assert(txt.contains("\n\nDATAFRAME QUERY PLAN:\nSome Plan Text"))
    assert(CacheMetadata.extractInputSources(txt) == sources)
  }

  test("CacheKey pins the hash, table name and sidecar path of an entry") {
    // Literals computed from md5Hex(CacheMetadata.render(...)),
    // tableNameFromHash and metadataPath before CacheKey existed: a
    // change here re-keys (and so silently drops) every existing entry.
    val sources = scala.collection.immutable.ListMap(
      "file:/data/lineitem/l_shipmode=AIR" -> "2024-01-02 03:04:05",
      "<input_files_md5>" -> "0123456789abcdef0123456789abcdef")
    val plan = "Aggregate [l_returnflag#1], [l_returnflag#1, count(1) AS n#2L]\n" +
      "+- Relation [l_returnflag#1] parquet"
    val cfg = CacheConfig(sparkCacheDir = "/warehouse/sidecars", cacheDatabase = "cache_db")
    CacheConfig.withConfig(cfg) {
      val key = CacheKey(sources, plan)
      assert(key.hash == "a777799f46d516c01a4cd57dea972788")
      assert(key.table == "cache_db.a777799f46d516c01a4cd57dea972788")
      assert(key.metadataPath ==
        "/warehouse/sidecars/a777799f46d516c01a4cd57dea972788/cache_metadata.txt")
      assert(key.metadataTxt == CacheMetadata.render(sources, plan))
    }
  }

  test("direct-data metadata variant parses") {
    val txt = CacheMetadata.renderDirectData("abc123", "2024-01-01 00:00:00")
    val parsed = CacheMetadata.extractInputSources(txt)
    assert(parsed("<direct_data_cache_hash>") == "abc123")
    assert(parsed("<direct_data_cache_creation>") == "2024-01-01 00:00:00")
  }

  test("catalog table pattern matching (hashing.py:14-35)") {
    val h = "a" * 32
    assert(PlanFingerprint
      .findCatalogTablePattern(s"... hive_metastore.cache_db.data_$h ...", "cache_db", "data_")
      .contains(s"data_$h"))
    assert(PlanFingerprint
      .findCatalogTablePattern(s"... spark_catalog.cache_db.$h ...", "cache_db")
      .contains(h))
    assert(PlanFingerprint
      .findCatalogTablePattern("no table here", "cache_db")
      .isEmpty)
  }
}
