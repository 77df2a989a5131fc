package graft

import scala.collection.immutable.ListMap

/** One cache entry's identity: `hash` names both the table
  * `<cacheDatabase>.<hash>` and the sidecar [[CacheConfig.metadataPath]],
  * and `metadataTxt` is the sidecar's content (reference
  * `core_caching.py:391-406`). A standard entry's hash is the MD5 of its
  * text; a direct-data entry's is `data_<row digest>`.
  */
final case class CacheKey(hash: String, metadataTxt: String) {
  def table: String = CacheConfig.current.tableNameFromHash(hash)
  def metadataPath: String = CacheConfig.current.metadataPath(hash)
}

object CacheKey {
  /** The standard entry for a plan over its sources:
    * `MD5(CacheMetadata.render(sources, plan))`. Only [[Fingerprint]],
    * which refuses what it cannot identify, builds one. */
  private[graft] def apply(sources: ListMap[String, String], plan: String): CacheKey = {
    val txt = CacheMetadata.render(sources, plan)
    CacheKey(PlanFingerprint.md5Hex(txt), txt)
  }
}

/** Cache-entry metadata text: render and parse.
  *
  * The metadata file is the invalidation record — its MD5 *is* the cache
  * hash ([[CacheKey]]). The text format is byte-identical to the reference
  * (`dbfs_spark_cache/core_caching.py:371-406`, direct-data variant
  * `:190-194`, parser `:328-368`).
  */
object CacheMetadata {

  /** Render standard metadata (reference `core_caching.py:384-388`). */
  def render(inputDirModDatetime: ListMap[String, String], queryPlan: String): String = {
    val sourceLines = inputDirModDatetime
      .map { case (path, t) => s"  $path: $t" }
      .mkString("\n")
    s"""INPUT SOURCES MODIFICATION DATETIMES:
$sourceLines

DATAFRAME QUERY PLAN:
$queryPlan"""
  }

  /** Render the direct-data variant (reference `core_caching.py:190-194`). */
  def renderDirectData(dataHash: String, creationTime: String): String =
    s"CACHE TYPE: Direct Data Input\nDATA HASH: $dataHash\nCREATION TIME: $creationTime"

  /** Extract the plan-text section of standard metadata (everything
    * after the `DATAFRAME QUERY PLAN:` marker line); None for the
    * direct-data variant. Used by the auto-substitution index. */
  def extractQueryPlan(metadataTxt: String): Option[String] = {
    val marker = "DATAFRAME QUERY PLAN:\n"
    val i = metadataTxt.indexOf(marker)
    if (i < 0) None else Some(metadataTxt.substring(i + marker.length))
  }

  /** Parse metadata text back into `{path -> timestamp}` including the
    * direct-data variant (reference `core_caching.py:328-368`); used by
    * consistency tooling. */
  def extractInputSources(metadataTxt: String): ListMap[String, String] = {
    val lines = metadataTxt.linesIterator.toVector
    if (lines.headOption.contains("CACHE TYPE: Direct Data Input")) {
      val entries = lines.tail.flatMap {
        case l if l.startsWith("DATA HASH:") =>
          Some("<direct_data_cache_hash>" -> l.split(":", 2)(1).trim)
        case l if l.startsWith("CREATION TIME:") =>
          Some("<direct_data_cache_creation>" -> l.split(":", 2)(1).trim)
        case _ => None
      }
      return ListMap(entries: _*)
    }
    var inSection = false
    val out = scala.collection.mutable.LinkedHashMap[String, String]()
    var done = false
    for (line <- lines if !done) {
      val stripped = line.trim
      if (stripped == "INPUT SOURCES MODIFICATION DATETIMES:") inSection = true
      else if (inSection) {
        if (stripped.isEmpty) () // skip blanks inside the section
        else if (line.startsWith("  ")) {
          val parts = stripped.split(":", 2)
          if (parts.length == 2) out(parts(0).trim) = parts(1).trim
        } else if (stripped == "DATAFRAME QUERY PLAN:") done = true
        else if (!stripped.contains(":")) done = true
        else {
          val parts = stripped.split(":", 2)
          out(parts(0).trim) = parts(1).trim
        }
      }
    }
    ListMap(out.toSeq: _*)
  }
}
