package graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.time.format.DateTimeFormatter
import java.time.{Instant, LocalDateTime, ZoneOffset}

import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, FileTable}

/** What one cache decision knows about its inputs, taken once.
  *
  * @param freshness  the source lines hashed into the fingerprint
  *                   ([[Freshness.inputDirModTimes]])
  * @param totalBytes summed length of every file the plan scans, cache
  *                   tables included — the cost model's input size
  */
final case class SourceSnapshot(freshness: ListMap[String, String], totalBytes: Long)

/** Input-source freshness.
  *
  * The reference bakes the newest modification time of every input
  * directory into the cache fingerprint, listing each directory on every
  * call (`dbfs_spark_cache/core_caching.py:212-297`). That misses a
  * deleted file that was not the newest and a rewrite within the same
  * second, and it costs one listing per directory, O(files) in total.
  *
  * Here the inputs come from what Spark already holds: each file relation's
  * `FileIndex` carries every file's path, length and mtime. For an
  * `InMemoryFileIndex` (any path-based read or unpartitioned table) a
  * snapshot lists nothing; a partitioned catalog table's index lists its
  * partitions once, as its scan would. The snapshot is the file list the
  * DataFrame will scan (before partition pruning), as Spark listed it when
  * the relation was created — the same contract as Spark's own scans and
  * `REFRESH TABLE`. A DataFrame re-read with `spark.read` after a source
  * change lists again and so gets a new fingerprint; a DataFrame built
  * before the change keeps its old files and its old fingerprint.
  */
object Freshness {

  val SchemaChangedPlaceholder = "<schema_changed_placeholder>"

  /** Reserved source key whose value is the MD5 of the sorted
    * `(path, length, mtime-millis)` triples of every scanned file: the
    * part of the fingerprint that makes invalidation exact. */
  val InputFilesDigestKey = "<input_files_md5>"

  /** Timestamp format used in metadata text (reference
    * `core_caching.py:378`: `%Y-%m-%d %H:%M:%S`). */
  val TsFormat: DateTimeFormatter =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  def formatMillis(millis: Long): String =
    LocalDateTime
      .ofInstant(Instant.ofEpochMilli(millis), ZoneOffset.UTC)
      .format(TsFormat)

  /** Source lines of `df`'s fingerprint:
    *  - per input directory, the newest mtime of its scanned files, in
    *    sorted directory order (reference parity, `core_caching.py:212-297`);
    *  - then [[InputFilesDigestKey]] with the digest of every scanned file.
    *
    * Special results:
    *  - empty map: no file relation outside the cache database (in-memory
    *    data, or a read of cache or `data_` tables only — cache-on-cache
    *    reads must not invalidate themselves);
    *  - `Map(SchemaChangedPlaceholder -> now)`: analysis-time schema change.
    *
    * Throws IllegalArgumentException when the sources cannot be listed:
    * such a DataFrame has no fingerprint ([[snapshot]]). */
  def inputDirModTimes(df: DataFrame): ListMap[String, String] =
    snapshot(df).getOrElse(throw new IllegalArgumentException(
      "input sources cannot be listed, so the DataFrame has no cache fingerprint")).freshness

  def snapshot(df: DataFrame): Option[SourceSnapshot] = snapshot(df.queryExecution.analyzed)

  /** The plan's [[SourceSnapshot]], or None when its file lists cannot be
    * read: an entry keyed without them would never be invalidated by a
    * file change, so [[Fingerprint]] refuses the plan. */
  def snapshot(plan: LogicalPlan): Option[SourceSnapshot] =
    inputFilesSafe(scannedFiles(plan)).map {
      case Left(special) => SourceSnapshot(special, 0L)
      case Right(relations) =>
        val sources = relations.collect { case (false, files) => files }.flatten
        val total = relations.iterator.flatMap(_._2).map(_.getLen).sum
        SourceSnapshot(if (sources.isEmpty) ListMap.empty else render(sources), total)
    }

  /** Per file relation of `plan` (subqueries included): whether it is a
    * table of the cache database, and its files. */
  private def scannedFiles(plan: LogicalPlan): Seq[(Boolean, Seq[FileStatus])] = {
    val cacheDb = CacheConfig.current.cacheDatabase
    def files(index: FileIndex): Seq[FileStatus] =
      index.listFiles(Nil, Nil).flatMap(_.files.map(_.fileStatus))
    plan.collectWithSubqueries {
      case LogicalRelation(h: HadoopFsRelation, _, table, _, _) =>
        (table.exists(_.identifier.database.exists(_.equalsIgnoreCase(cacheDb))),
          files(h.location))
      case DataSourceV2Relation(t: FileTable, _, _, _, _, _) => (false, files(t.fileIndex))
    }
  }

  private def render(files: Seq[FileStatus]): ListMap[String, String] = {
    val byPath = files.map(f => (f.getPath.toString, f)).sortBy(_._1)
    val md5 = MessageDigest.getInstance("MD5")
    byPath.foreach { case (p, f) =>
      md5.update(s"$p\t${f.getLen}\t${f.getModificationTime}\n".getBytes(StandardCharsets.UTF_8))
    }
    val dirs = byPath.groupMapReduce { case (p, _) => p.substring(0, p.lastIndexOf('/').max(0)) }(
      _._2.getModificationTime)(math.max)
    ListMap(dirs.toSeq.sortBy(_._1).map { case (d, t) => d -> formatMillis(t) }: _*) +
      (InputFilesDigestKey -> PlanFingerprint.hex(md5.digest()))
  }

  /** Source fetch with the reference's error contract
    * (`core_caching.py:258-269`): a Delta-style "schema changed since
    * analysis" error maps to `Left(Map(SchemaChangedPlaceholder → now))`
    * — a freshness value no cache entry can ever match, forcing
    * invalidation — and any other failure to None (logged): no snapshot,
    * where the reference treats the source as unknown and keys the entry
    * on the plan alone. Extracted so the Delta branch is testable in a
    * build with no Delta jar (`FreshnessSpec` pins all three outcomes);
    * the error-code match is on the message substring, exactly what
    * `DELTA_SCHEMA_CHANGE_SINCE_ANALYSIS` carries on a real cluster. */
  private[graft] def inputFilesSafe[T](fetch: => T): Option[Either[ListMap[String, String], T]] =
    try Some(Right(fetch))
    catch {
      case NonFatal(e) if Option(e.getMessage).exists(_.contains("SCHEMA_CHANGE")) =>
        Some(Left(ListMap(
          SchemaChangedPlaceholder -> LocalDateTime
            .now(ZoneOffset.UTC)
            .format(TsFormat))))
      case NonFatal(e) =>
        PlanFingerprint.log(s"Input sources cannot be listed: ${e.getMessage}")
        None
    }
}
