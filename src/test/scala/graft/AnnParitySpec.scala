package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}
import org.scalatest.funsuite.AnyFunSuite

/** Output pins for the 18 queries that call the ANN, PQ and clustering
  * operators: each query's (row count, content hash) at sf0.001. The
  * hash is the sum of each row's xxhash64 with floating columns rounded
  * to six places (order-insensitive), the rule perfbench's suite uses.
  * A refactor of those operators must leave every pin unchanged.
  */
class AnnParitySpec extends AnyFunSuite {
  import SparkFixture._

  // measured on the operators before they became one index path
  private val pins: Seq[(String, Long, String)] = Seq(
    ("q34_dedup_embedding", 12L, "20869815590325021633"),
    ("q35_ann_bruteforce", 100L, "-18560231413502619973"),
    ("q36_ann_lsh", 413L, "-102535515877455088268"),
    ("q43_ann_ivf", 100L, "-54477617889954193064"),
    ("q57_kmeans", 500L, "16002746682589308856"),
    ("q58_semdedup", 484L, "25512573246576161085"),
    ("q67_ann_ivf_kmeans", 100L, "53173818261902495622"),
    ("q68_ann_recall", 2L, "13506046513908218632"),
    ("q69_ann_recall_kmeans", 1L, "1614156229772354903"),
    ("q70_dedup_embedding_2level", 8L, "25132175780931575853"),
    ("q71_ann_recall_2level", 1L, "4346513255072174675"),
    ("q80_ann_pq", 100L, "62123520113118837974"),
    ("q81_ann_recall_pq", 1L, "3488583862502276391"),
    ("q86_ann_ivfpq", 100L, "11597868557593700967"),
    ("q87_ann_recall_ivfpq", 1L, "5321627203631635773"),
    ("q90_ann_ivfpq_2level", 100L, "23532527535882425372"),
    ("q91_ann_recall_ivfpq2", 1L, "-1121780883813358846"),
    ("q94_ivfpq_encode_incremental", 18L, "-11836791952300618229"))

  private def contentHash(df: DataFrame): (Long, String) = {
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

  for ((name, rows, hash) <- pins) {
    test(s"$name output matches its pinned row count and content hash") {
      val got = contentHash(SparkEntry.queries(name)(spark, sfDir))
      assert(got == ((rows, hash)), s"$name: got $got, pinned ${(rows, hash)}")
    }
  }
}
