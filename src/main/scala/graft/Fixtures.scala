package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.sources.Sources.table

/** Non-parquet source FIXTURES (ORC / JSON / CSV copies of small
  * testdata tables) shared by the corpus queries.
  *
  * Properties the bench/correctness harness relies on:
  *   - one materialized copy per (JVM, sf dir), under a private temp dir
  *     created by THIS process — concurrent harness runs never share a
  *     path, and re-runs inside one JVM are read-only;
  *   - the temp tree is removed by a JVM shutdown hook, so repeated
  *     bench/verify invocations don't accumulate copies under /tmp;
  *   - [[warm]] lets Bench materialize every fixture eagerly, keeping
  *     the write out of all timed runs (including run 1 of median-of-3).
  */
object Fixtures {

  private val dirs = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Path of the `key` fixture, running `write(path)` the first time
    * this JVM asks for it. */
  private def once(key: String)(write: String => Unit): String =
    dirs.computeIfAbsent(key, { _ =>
      val root = java.nio.file.Files.createTempDirectory("graft-fixture")
      removeOnExit(root)
      val out = root.toString + "/data"
      write(out)
      out
    })

  private def removeOnExit(root: java.nio.file.Path): Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import java.nio.file.Files
      try {
        val walk = Files.walk(root)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => { try Files.delete(p) catch { case NonFatal(_) => () } })
        finally walk.close()
      } catch { case NonFatal(_) => () }
    }))

  /** ORC copy of `supplier` (columnar-format matrix: q_orc_source). */
  def orcSupplier(s: SparkSession, d: String): String =
    once(s"orc:$d") { out =>
      table(s, d, "supplier").write.mode("overwrite").orc(out)
    }

  /** JSON copy of `nation` (q_json_source). */
  def jsonNation(s: SparkSession, d: String): String =
    once(s"json:$d") { out =>
      table(s, d, "nation").write.mode("overwrite").json(out)
    }

  /** CSV copy of `region`, with header (q_csv_source). */
  def csvRegion(s: SparkSession, d: String): String =
    once(s"csv:$d") { out =>
      table(s, d, "region").write.mode("overwrite")
        .option("header", "true").csv(out)
    }

  /** JSONL copy of `nation` with every (rank % 5 == 4)-th line (by
    * n_nationkey order) deliberately MALFORMED — the fixture behind the
    * permissive-ingestion query. Line content is a pure function of the
    * key, so the DuckDB oracle reproduces the expected parse result
    * from the nation table alone (no file access): good lines carry
    * (n_nationkey, n_name); bad lines are `{"n_nationkey": <k>, INVALID`.
    * Written with plain file IO (one file, key order) — content
    * determinism is the point, not write parallelism. */
  def jsonlMixedNation(s: SparkSession, d: String): String =
    once(s"jsonl_mixed:$d") { out =>
      val rows = table(s, d, "nation")
        .select("n_nationkey", "n_name")
        .collect()
        .map(r => (r.getInt(0), r.getString(1)))
        .sortBy(_._1)
      val lines = rows.zipWithIndex.map { case ((k, name), i) =>
        if (i % 5 == 4) s"""{"n_nationkey": $k, INVALID"""
        else s"""{"n_nationkey":$k,"n_name":"$name"}"""
      }
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(out, "part-00000.json"),
        lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      ()
    }

  /** Materialize every fixture now — Bench calls this from its warmup
    * block so all timed runs of the source queries are read-only. */
  def warm(s: SparkSession, d: String): Unit = {
    orcSupplier(s, d); jsonNation(s, d); csvRegion(s, d)
    jsonlMixedNation(s, d); ()
  }
}
