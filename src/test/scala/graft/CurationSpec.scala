package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions._
import graft.operators.{Ann, ChunkDedup, Cluster}

/** Semantics + plan-shape tests for the curation operators (SURVEY.md
  * §2.D20–D24). Value-level oracle coverage is the driver's DuckDB
  * compare (q57–q61); these pin the operator contracts that SQL can't
  * see: cross-operator consistency, survivor invariants, exchange shape.
  */
class CurationSpec extends AnyFunSuite {
  import SparkFixture._
  import spark.implicits._

  private lazy val emb = Tables.t(spark, sfDir, "embeddings")
    .select(col("vec_id").as("id"), quantize(col("embedding")).as("qv"))

  test("kmeans round 1 IS the IVF assignment (same kernel, same codebook)") {
    val km = Cluster.kmeansAssignSeeded(emb, col("id") < 8, iters = 1)
      .select(col("id"), col("cluster"))
    val ivf = Ann.assign(Ann.Index(emb, Seq(Ann.Given(emb.filter(col("id") < 8)
        .select(col("id").as("c_id"), col("qv").as("c_qv"))))))
      .select(col("vec_id").as("id"), col("cell").as("cluster"))
    assert(km.except(ivf).isEmpty && ivf.except(km).isEmpty)
  }

  test("kmeans-refined codebook lifts quantization purity over a bad seed") {
    // The rehearsal defect in miniature: 4 equal direction families in
    // 8 dims, but ALL seeds land in family 0 (a prefix — exactly the
    // sampling mistake §5 documents). The raw codebook leaves 3 of 4
    // families quantized against near-orthogonal codewords; Lloyd
    // refinement must pull centroids toward the families and lift the
    // mean cosine-to-own-centroid (Lloyd's actual guarantee — NOT
    // max-cell balance, which optimally tracks true family sizes).
    val base = Seq(
      Array(1000L, 0L, 0L, 0L, 0L, 0L, 0L, 0L),
      Array(0L, 1000L, 0L, 0L, 0L, 0L, 0L, 0L),
      Array(0L, 0L, 1000L, 0L, 0L, 0L, 0L, 0L),
      Array(0L, 0L, 0L, 1000L, 0L, 0L, 0L, 0L))
    val rows = (0 until 100).map { i =>
      // blocked by id: ids 0..24 family 0, 25..49 family 1, … so the
      // id<4 seed is a true prefix (all in family 0)
      (i.toLong, base(i / 25).zipWithIndex.map { case (v, d) =>
        v + ((i * 7 + d * 3) % 11) - 5
      }.toSeq)
    }
    val corpus = rows.toDF("id", "qv")
    val seed = col("id") < 4 // prefix: all four seeds in family 0

    def purity(assigned: org.apache.spark.sql.DataFrame,
               cents: org.apache.spark.sql.DataFrame): Double =
      assigned.join(
          cents.select(col("c_id"), col("c_qv"),
            quantDot(col("c_qv"), col("c_qv")).cast("double").as("c_dot")),
          col("cell") === col("c_id"))
        .agg(avg(quantDot(col("qv"), col("c_qv")).cast("double") /
          sqrt(col("selfdot") * col("c_dot"))))
        .head.getDouble(0)

    val rawCents = corpus.filter(seed)
      .select(col("id").as("c_id"), col("qv").as("c_qv"))
    def assignWith(cb: org.apache.spark.sql.DataFrame) =
      Ann.assign(Ann.Index(corpus, Seq(Ann.Given(cb))))
    val rawAssigned = assignWith(rawCents)
    val cb = Cluster.kmeansCodebook(corpus, seed, rounds = 3)
    val refAssigned = assignWith(cb)
    // totality: every vector assigned exactly once, before and after
    assert(rawAssigned.count() == 100 && refAssigned.count() == 100)
    val rawP = purity(rawAssigned, rawCents)
    val refP = purity(refAssigned, cb)
    assert(refP > rawP + 0.2, s"purity raw=$rawP refined=$refP")
    // determinism: refinement replays bit-identically
    val again = assignWith(Cluster.kmeansCodebook(corpus, seed, rounds = 3))
    assert(refAssigned.select("vec_id", "cell")
      .except(again.select("vec_id", "cell")).isEmpty)
  }

  test("Given(raw codebook) == Sampled(filter) — explicit codebook path is exact") {
    val cb = emb.filter(idSample(col("id"), 8))
      .select(col("id").as("c_id"), col("qv").as("c_qv"))
    val queries = emb.filter(col("id") < 5)
    val viaFilter = Ann.topK(Ann.Index(emb, Seq(Ann.Sampled(stride = 8))),
      queries, nprobe = 3, k = 5)
    val viaCodebook = Ann.topK(Ann.Index(emb, Seq(Ann.Given(cb))),
      queries, nprobe = 3, k = 5)
    assert(viaFilter.except(viaCodebook).isEmpty &&
      viaCodebook.except(viaFilter).isEmpty)
    // and the refined-codebook variant keeps the zero-exchange shape:
    // no Window, no cartesian, no sort-merge join anywhere in the plan
    val plan = Ann.topK(
        Ann.Index(emb, Seq(Ann.Kmeans(stride = 8, rounds = 1))),
        queries, nprobe = 3, k = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("CartesianProduct") &&
      !plan.contains("SortMergeJoin"), s"kmeans-codebook IVF plan regressed:\n$plan")
  }

  test("kmeans assignment is total and unique; clusters come from the seed set") {
    val n = emb.count()
    val a = Cluster.kmeansAssignSeeded(emb, col("id") < 8, iters = 3)
    assert(a.count() == n)
    assert(a.select("id").distinct().count() == n)
    assert(a.select("cluster").distinct()
      .filter(col("cluster") >= 8 || col("cluster") < 0).isEmpty)
  }

  test("kmeans assignment plan is map-side: no Window, no corpus exchange") {
    val plan = Cluster.kmeansAssignSeeded(emb, col("id") < 8, iters = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"assignment must be the native argmax:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"never corpus x corpus:\n$plan")
    // the only exchange feeding the final assignment is the k-row
    // codebook build (the labeled frame itself is scan -> project)
    assert(!plan.contains("SortMergeJoin"), s"codebook must broadcast:\n$plan")
  }

  test("semDedup: kept+dropped partition the corpus; no near-dup pair survives") {
    val t = 0.4
    val kept = Cluster.semDedupSeeded(emb, col("id") < 8, iters = 2,
      threshold = t, stage = true)
    val labeled = Cluster.kmeansAssignSeeded(emb, col("id") < 8, iters = 2)
      .localCheckpoint()
    assert(kept.count() < emb.count())
    // survivor invariant: among kept vectors, no same-cluster pair is
    // >= threshold (if one were, its higher id would have been dropped)
    val keptFull = labeled.join(kept.select("id"), Seq("id"))
    val survivors = keptFull.as("a")
      .join(keptFull.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.id") < col("b.id"))
      .filter(quantDot(col("a.qv"), col("b.qv")).cast("double") /
        sqrt(col("a.selfdot") * col("b.selfdot")) >= t)
    assert(survivors.isEmpty)
  }

  test("chunk dedup removes exactly the repeated spans and reassembles in order") {
    val u1 = "u1a u1b u1c u1d" // unique chunks (4-token unit below)
    val u2 = "u2a u2b u2c u2d"
    val dup = "d1 d2 d3 d4" // appears in docs 1 AND 2 at aligned offsets
    val docs = Seq(
      (1L, s"$dup $u1"), // dup chunk first, survivor u1
      (2L, s"$u2 $dup"), // survivor u2, dup chunk second
      (3L, "x1 x2 x3 x4 x5 x6 x7"), // one full chunk + 3-token tail
      (4L, "y1 y2 y3") // sub-chunk: contributes nothing
    ).toDF("id", "text")
    val out = ChunkDedup.stats(docs, "id", "text", chunkTokens = 4)
      .orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L)) // doc 4 absent
    val byId = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(byId(1L) == ((2L, 1L, md5hex(u1))))
    assert(byId(2L) == ((2L, 1L, md5hex(u2))))
    assert(byId(3L) == ((1L, 0L, md5hex("x1 x2 x3 x4"))))
  }

  test("chunk dedup: a doc that is ALL boilerplate hashes the empty string") {
    val docs = Seq((1L, "a b c d"), (2L, "a b c d")).toDF("id", "text")
    val out = ChunkDedup.stats(docs, "id", "text", chunkTokens = 4)
      .orderBy("id").collect()
    assert(out.length == 2)
    assert(out.forall(r => r.getLong(2) == 1L && r.getString(3) == md5hex("")))
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}
