package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.operators.{Ann, Pq}

/** D7f product quantization (SURVEY.md §2) — q80/q81 gate engine-vs-
  * DuckDB equality; these pin the operator semantics: the approximation
  * error is exactly the codebook budget, and the encoding really is the
  * per-subspace argmin.
  */
class PqSpec extends AnyFunSuite {
  import SparkFixture._

  private def embs = Tables.t(spark, sfDir, "embeddings")
    .select(col("vec_id").as("id"), quantize(col("embedding")).as("qv"))

  test("D7f stride=1 (every vector its own centroid) degrades to exact brute force") {
    // with ks = n each subvector's nearest centroid is (a twin of)
    // itself at d²=0, so ADC distance IS the exact distance and the PQ
    // path must equal brute-force L2 row-for-row
    val queries = embs.filter(col("id") < 5)
    val pq = Ann.topK(Ann.Index(embs, Nil, Some(Ann.Codes(stride = 1L, rerank = 20))),
      queries, k = 5).collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val bf = Pq.bruteForceL2TopK(embs, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(pq.sortBy(r => (r._1, r._2)).toSeq == bf.sortBy(r => (r._1, r._2)).toSeq)
  }

  test("D7f encode picks the true per-subspace argmin centroid") {
    val cb = Pq.codebook(embs, stride = 100L, m = 8, subDim = 8)
    val codes = Pq.encode(embs.filter(col("id") < 20), cb, m = 8, subDim = 8)
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getLong(2))).toMap
    // reference: slice in Scala, exact integer squared L2, tie-break c_id
    val vecs = embs.filter(col("id") < 20).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val cents = cb.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2).toArray))
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    for ((id, v) <- vecs; s <- 0 until 8) {
      val sv = v.slice(s * 8, s * 8 + 8)
      val best = cents.filter(_._1 == s)
        .map { case (_, cId, cSv) => (d2(sv, cSv), cId) }.min
      assert(codes((id, s)) == best._2,
        s"vec $id sub $s: got ${codes((id, s))}, want ${best._2}")
    }
  }

  test("D7f codebook size is the fixed compression budget m x ks") {
    val n = embs.count()
    val stride = math.max(1L, n / 16)
    val cb = Pq.codebook(embs, stride, m = 8, subDim = 8)
    val perSub = cb.groupBy("sub").count().collect().map(_.getLong(1)).distinct
    // hash-mod sampling (round 12): E[ks] = ksTarget with binomial
    // spread — the budget property is that ks tracks the TARGET and
    // never grows with n, not an exact count
    assert(perSub.length == 1 && perSub(0) >= 8 && perSub(0) <= 28,
      s"ks must stay ~16 regardless of n: $perSub")
  }
}
