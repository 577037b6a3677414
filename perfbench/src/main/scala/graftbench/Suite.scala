package graftbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.{SparkEntry, Tables}

/** The `suite_sf01` workload: a fixed subset of `SparkEntry.queries`
  * over the sf0.1 tables shipped in `perfbench/data/sf0.1`, executed
  * in-process through `queryExecution.toRdd.count()` as `graft.Bench`
  * does.
  */
object Suite {
  /** Query → family (the `graft.queries.*.all` list it belongs to). The
    * subset spans every family, reads every table shipped with the
    * benchmark, and includes q95 for its stage attribution. It is small
    * enough (a pass takes about 4.5 s at local[4]) that a run times five
    * passes and takes each query's best.
    */
  val Queries: Seq[(String, String)] = Seq(
    "q08_topn" -> "relational",
    "q09_join_inner" -> "relational",
    "q20_window_rank" -> "relational",
    "q72_seq_packing" -> "pipeline",
    "q95_exactsubstr" -> "curation",
    "q40_stream_tumbling" -> "streaming")

  val Families: Seq[String] = Seq("relational", "pipeline", "curation", "streaming")

  /** Order-insensitive content hash and row count of a query's output:
    * the sum of each row's xxhash64, with floating columns rounded to six
    * decimals so summation order inside Spark cannot flip a bit.
    */
  def contentHash(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(s"`${f.name}`"), 6)
        case _ => col(s"`${f.name}`")
      }
    }
    val r = df.select(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum("h")).collect().head
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  def build(spark: SparkSession, dir: String, q: String): DataFrame = SparkEntry.queries(q)(spark, dir)

  /** A suite set-up: a new session that opens every shipped table. */
  def setup(spark: SparkSession, dir: String): SparkSession = {
    val s = spark.newSession()
    tables(dir).foreach(t => Tables.t(s, dir, t).count())
    s
  }

  def tables(dir: String): Seq[String] =
    Tables.names.filter(t => Files.exists(Path.of(dir, s"$t.parquet")))

  /** Pinned (rows, hash) per query, one `name rows hash` line each. */
  def readPins(p: Path): Map[String, (Long, String)] =
    if (!Files.exists(p)) Map.empty
    else scala.io.Source.fromFile(p.toFile).getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val a = l.split("\\s+"); a(0) -> (a(1).toLong, a(2)) }.toMap
}
