package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.operators.{Ann, IvfPq, Pq}

/** D7g IVF-PQ composite / IVFADC (SURVEY.md §2) — q86/q87 gate
  * engine-vs-DuckDB equality; these pin the operator semantics: the
  * approximation error is exactly the probe + codebook budget, and the
  * coarse/residual plumbing is the real Jégou §IV shape.
  */
class IvfPqSpec extends AnyFunSuite {
  import SparkFixture._

  private def embs = Tables.t(spark, sfDir, "embeddings")
    .select(col("vec_id").as("id"), quantize(col("embedding")).as("qv"))

  /** The IVFADC index at `levels` coarse levels, sized for n. */
  private def ivfpq(n: Long, levels: Int, rerank: Int = 50) =
    Ann.index(embs, n, levels, codes = Some(Ann.codesFor(n).copy(rerank = rerank)))

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
      r.getLong(3))).toSeq.sorted

  test("D7g probe-all + rerank-all degrades to exact brute force") {
    // probing every coarse cell makes every vector an ADC candidate,
    // and rerank >= n re-ranks them all EXACTLY — so the whole
    // composite must equal brute-force L2 row-for-row, whatever the
    // coarse assignment or residual codes did in between (the
    // two-level cosine exhaustive-probe pin, ported to IVFADC)
    val n = embs.count()
    val queries = embs.filter(col("id") < 5)
    val kc = Ann.centroidCountFor(n).toInt + 2
    val got = Ann.topK(ivfpq(n, 1, rerank = n.toInt), queries, nprobe = kc, k = 5)
    assert(rows(got) == rows(Pq.bruteForceL2TopK(embs, queries, k = 5)))
  }

  test("D7g default budget returns k rows per query with valid exact distances") {
    val n = embs.count()
    val queries = embs.filter(col("id") < 5)
    val got = Ann.topK(ivfpq(n, 1), queries, k = 10).collect()
    val byQ = got.groupBy(_.getLong(0))
    assert(byQ.size == 5 && byQ.values.forall(_.length == 10))
    // dist2 column is the EXACT re-ranked distance: non-negative,
    // non-decreasing in rn within each query
    byQ.values.foreach { qRows =>
      val ordered = qRows.sortBy(_.getInt(1)).map(_.getLong(3))
      assert(ordered.head >= 0L && ordered.sameElements(ordered.sorted))
    }
  }

  test("D7h two-level probe-all + rerank-all degrades to exact brute force") {
    // probing every coarse cell AND every fine cell makes every vector
    // an ADC candidate; rerank >= n re-ranks them all exactly — the
    // D7g pin applied to the two-stage coarse quantizer
    val n = embs.count()
    val queries = embs.filter(col("id") < 5)
    val got = Ann.topK(ivfpq(n, 2, rerank = n.toInt), queries,
      nprobe = n.toInt, k = 5)
    assert(rows(got) == rows(Pq.bruteForceL2TopK(embs, queries, k = 5)))
  }

  test("D7h a fine seed lands in its own (cell1, cell2) with residual exactly zero") {
    // take an ACTUAL fine seed (the hash-mod sample — round 12 — no
    // longer guarantees id 0 is sampled): its fine cell must be itself
    // (d² = 0 wins both argmins) and its residual — taken against the
    // FINE centroid — must be exactly zero; pins the two-stage
    // assignment and the residual-source selection in one shot
    val n = embs.count()
    val ix = IvfPq.build(ivfpq(n, 2))
    val seedId = ix.fine.get.select(explode(col("fb")).as("e"))
      .select(col("e.c_id").as("c_id")).orderBy(col("c_id"))
      .limit(1).collect()(0).getLong(0)
    val row0 = IvfPq.residuals(embs.filter(col("id") === seedId), ix)
      .collect()(0)
    assert(row0.getAs[Long]("cell2") == seedId,
      "fine seed must land in its own fine cell")
    assert(row0.getAs[Seq[Long]]("res").forall(_ == 0L),
      "fine seed's residual must be exactly zero")
    // default budget: k rows per query, exact non-decreasing distances
    val queries = embs.filter(col("id") < 5)
    val got = Ann.topK(ivfpq(n, 2), queries, k = 10).collect()
    val byQ = got.groupBy(_.getLong(0))
    assert(byQ.size == 5 && byQ.values.forall(_.length == 10))
    byQ.values.foreach { qRows =>
      val ordered = qRows.sortBy(_.getInt(1)).map(_.getLong(3))
      assert(ordered.head >= 0L && ordered.sameElements(ordered.sorted))
    }
  }

  test("D7g a coarse centroid's residual is all zeros and its cell is itself") {
    // centroids are corpus vectors (hash-mod sample, round 12); the
    // vector AT a centroid must land in its own cell with residual
    // exactly 0 — pins both the argmin (d²=0 beats everything) and the
    // residual arithmetic in one shot.
    val n = embs.count()
    val ix = IvfPq.build(ivfpq(n, 1))
    val c0 = ix.coarse.orderBy(col("c_id")).limit(1).collect()
    assert(c0.length == 1, "the coarse codebook must be non-empty")
    val seedId = c0(0).getLong(1)
    val row0 = IvfPq.residuals(embs.filter(col("id") === seedId), ix)
      .collect()(0)
    assert(row0.getAs[Long]("cell") == c0(0).getLong(0),
      "centroid vector must land in its own cell")
    assert(row0.getAs[Seq[Long]]("res").forall(_ == 0L),
      "centroid vector's residual must be exactly zero")
    // recall for the composite stays within [0, 1] and the audit shape
    // matches q81's (one row, exact-integer hit counts)
    val queries = embs.filter(col("id") < 5)
    val truth = Pq.bruteForceL2TopK(embs, queries, k = 10)
      .select(col("q_id"), col("neighbor"))
    val ipq = Ann.topK(ivfpq(n, 1), queries, k = 10)
    val audit = Ann.recallAudit(truth, ipq, "ivfpq").collect()(0)
    assert(audit.getLong(1) == 50L)
    assert(audit.getLong(2) >= 0L && audit.getLong(2) <= audit.getLong(1))
  }

  test("the auto face routes by corpus size: single-level below the threshold, two-level above") {
    val n = embs.count()
    val queries = embs.filter(col("id") < 5)
    val codes = Some(Ann.codesFor(n))
    // sf0.001's corpus is far below the threshold: the size-routed face
    // is the explicit one-level index, bit for bit
    assert(n < Ann.twoLevelThreshold)
    assert(rows(Ann.topK(Ann.sized(embs, n, codes = codes), queries, k = 5)) ==
      rows(Ann.topK(ivfpq(n, 1), queries, k = 5)))
    // at and above the threshold the routed description IS the
    // explicit two-level one, and that face runs bit-identical to a
    // two-level index spelled out seed by seed
    val big = Ann.twoLevelThreshold
    val corpus = embs
    assert(Ann.sized(corpus, big, codes = Some(Ann.codesFor(big))) ==
      Ann.index(corpus, big, levels = 2, codes = Some(Ann.codesFor(big))))
    def sample(stride: Long) = Ann.Given(embs.filter(idSample(col("id"), stride))
      .select(col("id").as("c_id"), col("qv").as("c_qv")))
    val c1 = Ann.coarseCountFor(n)
    val spelled = Ann.Index(embs, Seq(
      sample(math.max(1L, n / c1)), sample(math.max(1L, n / (c1 * c1)))), codes)
    assert(rows(Ann.topK(spelled, queries, k = 5)) ==
      rows(Ann.topK(ivfpq(n, 2), queries, k = 5)))
  }
}
