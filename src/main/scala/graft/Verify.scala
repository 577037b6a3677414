package graft
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Writes each query's result to `$outDir/<name>` as one parquet file
    * and returns the names that failed. Each target is deleted first:
    * a query that throws while its DataFrame is built (an eager count or
    * collect) never starts its overwrite, and a reused outDir would
    * otherwise keep an earlier run's output for the compare to certify.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           queries: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[String] =
    queries.flatMap { case (name, fn) =>
      val out = new java.io.File(outDir, name)
      org.apache.commons.io.FileUtils.deleteDirectory(out)
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(out.getPath)
        None
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSpark.session(LocalSpark.cores(4))
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY dumps (and emits oracle SQL for) a subset — the
    // rehearsal-gate analogue of Bench's knob, for gating new queries at
    // a big derived SF without re-running the whole suite there. The
    // full correctness gate always runs unfiltered.
    val failed = dump(spark, sfDir, outDir,
      SparkEntry.queries.toSeq.filter { case (name, _) => LocalSpark.selected(name) })
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // static oracles + the data-dependent ones (q06b's independent
    // HLL++ replay — computed HERE, per sfDir, and emitted as literal
    // SQL; if the replay itself fails the static set still ships, and
    // q06b stays a loud rows-only row rather than sinking the run)
    val dynamic =
      // the replay scans lineitem — skip it entirely when a subset run
      // excludes its query (the SPARK_GRAFT_ONLY knob exists to avoid
      // whole-suite cost at rehearsal SFs)
      if (!LocalSpark.selected("q06b_approx_distinct"))
        Map.empty[String, String]
      else try SparkEntry.dynamicOracleSql(spark, sfDir)
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] dynamic oracle failed: ${e.getMessage}")
        Map.empty[String, String]
      }
    val json = (SparkEntry.oracleSql ++ dynamic)
      .filter { case (k, _) => LocalSpark.selected(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    // A subset run writes oracle_sql.subset.json: overwriting the full
    // oracle_sql.json in a reused outDir (with earlier full-run parquet
    // dumps still present) would make a compare driver silently skip
    // every other query's oracle. The full, unfiltered run keeps the
    // canonical filename the driver reads.
    val jsonName = if (LocalSpark.only.isDefined) "oracle_sql.subset.json" else "oracle_sql.json"
    Files.writeString(Paths.get(s"$outDir/$jsonName"), json)
    // the exit status stays 0: the compare reports each missing output
    // as "no spark output"
    if (failed.nonEmpty) System.err.println(s"[verify] failed: ${failed.sorted.mkString(",")}")
    spark.stop()
  }
}
