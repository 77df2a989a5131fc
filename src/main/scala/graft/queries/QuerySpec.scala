package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** How a query's result is checked against DuckDB on the same parquet
  * tables. Column names are aligned between the Spark result and the
  * oracle SQL because the compare sorts columns by name before hashing. */
sealed trait Oracle

/** Exact: `text` is ANSI SQL whose result DuckDB must match row for row. */
final case class Sql(text: String) extends Oracle

/** Rows only: the output is engine-specific (seeded hashes, sketches,
  * approximate indexes), so only its rows are recorded. `companion` names
  * the `Sql` query that gates the same operator's quality exactly: it joins
  * approximate against exact, emits exact-side counts DuckDB can reproduce
  * and a thresholded boolean that is deterministic for the fixed seeds. */
final case class RowsOnly(companion: String) extends Oracle

/** One declared query: `build` runs it on the tables under a data
  * directory, `oracle` says how its result is checked. */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Oracle)

object QuerySpec {

  /** Every declared query, domain by domain. */
  lazy val all: Seq[QuerySpec] = Seq(
    RelationalQueries.specs, DedupQueries.specs, SimilarityQueries.specs,
    TextQueries.specs, CurationQueries.specs, GraphQueries.specs,
    CrawlQueries.specs, ReleaseQueries.specs).flatten
}
