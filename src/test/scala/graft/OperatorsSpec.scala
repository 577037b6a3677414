package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Multimodal, Skew}
import graft.sources.Bucketing

/** Scale-infrastructure operators (SURVEY.md §2.D12/E2/E3/E5). */
class OperatorsSpec extends AnyFunSuite {
  import SparkFixture._
  import spark.implicits._

  test("E2 saltedJoin equals the plain join and joins on the salt key") {
    val lineitem = Tables.t(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_quantity")
    val orders = Tables.t(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    val plain = lineitem.join(orders, Seq("l_orderkey"))
    val salted = Skew.saltedJoin(lineitem, orders, "l_orderkey", salts = 8)
    assert(salted.count() == plain.count())
    assert(salted.columns.toSeq == plain.columns.toSeq, "salt column must not leak")
    val cond = salted.queryExecution.optimizedPlan.toString
    assert(cond.contains("_graft_salt"), s"join must include the salt key:\n$cond")
  }

  test("E3 same-key bucketed tables join with no shuffle exchange") {
    val li = Tables.t(spark, sfDir, "lineitem").select("l_orderkey", "l_quantity")
    val ord = Tables.t(spark, sfDir, "orders").select("o_orderkey", "o_totalprice")
    Bucketing.writeBucketed(li, "b_lineitem", 4, Seq("l_orderkey"))
    Bucketing.writeBucketed(ord, "b_orders", 4, Seq("o_orderkey"))
    val joined = withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val j = Bucketing.table(spark, "b_lineitem")
        .join(Bucketing.table(spark, "b_orders"),
          $"l_orderkey" === $"o_orderkey")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must be exchange-free:\n$plan")
      j.count()
    }
    assert(joined > 0)
  }

  test("D12 media pack: schema and metadata are typed") {
    val docs = Tables.t(spark, sfDir, "documents")
    val media = Multimodal.packDocuments(docs)
    assert(media.schema.map(f => (f.name, f.dataType.simpleString)) == Seq(
      "doc_id" -> "bigint", "media_type" -> "string", "content" -> "binary",
      "byte_len" -> "long" , "width" -> "int", "height" -> "int")
      .map { case (n, t) => (n, if (t == "long") "bigint" else t) })
    val r = media.limit(1).collect()(0)
    assert(r.getAs[Array[Byte]]("content").nonEmpty)
  }

  test("D12 feature extraction is distributed, batched, fixed-dim, deterministic") {
    val media = Multimodal.packDocuments(Tables.t(spark, sfDir, "documents"))
      .repartition(3)
    val feats = Multimodal.extractFeatures(media, dim = 8, batchSize = 16)
    val rows = feats.collect()
    assert(rows.length == media.count())
    assert(rows.forall(_.feature.length == 8))
    // deterministic: second run bit-identical
    val again = Multimodal.extractFeatures(media, dim = 8, batchSize = 16).collect()
    assert(rows.map(r => (r.doc_id, r.feature.toSeq)).sortBy(_._1).toSeq ==
      again.map(r => (r.doc_id, r.feature.toSeq)).sortBy(_._1).toSeq)
    // no driver-side loop: the plan is a mapPartitions over the scan
    assert(feats.queryExecution.executedPlan.toString.contains("MapPartitions"))
  }

  test("D12 resize and frame sampling keep the media contract") {
    val media = Multimodal.packDocuments(
      Tables.t(spark, sfDir, "documents").limit(30))
    val resized = Multimodal.resize(media, 64, 48)
    val r = resized.limit(1).collect()(0)
    assert(r.getAs[Int]("width") == 64 && r.getAs[Int]("height") == 48)
    val frames = Multimodal.sampleFrames(media, frames = 4)
    val perDoc = frames.groupBy("doc_id").count().collect()
    assert(perDoc.nonEmpty && perDoc.forall(_.getLong(1) == 4))
  }

  test("D12 probeMedia extracts real container metadata distributed") {
    // filter, not limit: LIMIT plans its own single-partition Exchange,
    // which would mask the property under test (the probe adds no shuffle)
    val media = Multimodal.packDocuments(
      Tables.t(spark, sfDir, "documents").filter($"doc_id" < 60))
    val probes = Multimodal.probeMedia(media)
    // scan-local: no shuffle anywhere in the probe plan
    assert(!probes.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"))
    val rows = probes.collect()
    assert(rows.length == 60)
    // every video row (mp4 AND mkv) yields true duration + resolution
    val vids = rows.filter(_.media_type.startsWith("video/"))
    assert(vids.nonEmpty && vids.forall(v =>
      (v.container == "mp4" || v.container == "mkv") &&
        v.duration_ms >= 1000L && v.video_width >= 320 && v.n_tracks == 2))
    // both container families are actually present
    assert(vids.map(_.container).toSet == Set("mp4", "mkv"))
    // audio rows: true 50 ms duration (400 samples at 8 kHz)
    val auds = rows.filter(_.media_type == "audio/wav")
    assert(auds.nonEmpty && auds.forall(a =>
      a.container == "wav" && a.duration_ms == 50L))
    // image rows: real pixel dimensions from the header
    val imgs = rows.filter(_.media_type.startsWith("image/"))
    assert(imgs.nonEmpty && imgs.forall(i => i.video_width >= 16))
  }

  test("D12->D6 integration: media features feed the ANN cosine operators") {
    import graft.functions.GraftFunctions._
    val media = Multimodal.packDocuments(
      Tables.t(spark, sfDir, "documents").limit(100))
    val feats = Multimodal.extractFeatures(media, dim = 16).toDF()
      .select($"doc_id", quantize($"feature").as("qv"))
    val pairs = feats.as("a").join(feats.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id",
        quantCosine($"a.qv", $"b.qv").as("cos"))
    val n = pairs.filter($"cos".between(-1.0000001, 1.0000001)).count()
    assert(n == 100L * 99 / 2, "every pair must produce a valid cosine")
  }

  test("incremental minhash dedup == full recompute (old pairs + delta pairs)") {
    import graft.operators.Dedup
    val docs = Tables.t(spark, sfDir, "documents")
    val old = docs.filter($"doc_id" < 300)
    val fresh = docs.filter($"doc_id" >= 300)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9))).toSet
    val full = pairSet(Dedup.minhashPairs(docs, "doc_id", "text"))
    val oldPairs = pairSet(Dedup.minhashPairs(old, "doc_id", "text"))
    val (oldSh, oldBands) = Dedup.minhashIndex(old, "doc_id", "text")
    val delta = pairSet(Dedup.incrementalMinhashPairs(
      fresh, "doc_id", "text", oldSh, oldBands))
    assert(oldPairs ++ delta == full,
      s"missing=${full -- (oldPairs ++ delta)} extra=${(oldPairs ++ delta) -- full}")
    assert(delta.nonEmpty, "testdata should have near-dups spanning the split")
  }

  test("Dedup.keepers collapses transitive chains to the minimum id") {
    import graft.operators.Dedup
    // chain 1-2-3-4, separate pair 10-11, star 20-{21,22}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (20L, 22L)).toDF("doc_a", "doc_b")
    val got = Dedup.keepers(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
    // real corpus: every keeper is <= its member and itself a group root
    val corpus = Dedup.minhashPairs(
      Tables.t(spark, sfDir, "documents"), "doc_id", "text")
    val k = Dedup.keepers(corpus.select("doc_a", "doc_b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(k.nonEmpty && k.forall { case (d, kp) => kp <= d && k(kp) == kp })
  }

  test("cost-based banding: S-curve math, workload-driven shape, auto == fixed on the corpus") {
    import graft.operators.{Banding, Dedup}
    // recall floor always honored
    val lowMass = Map(0.05 -> 10000L, 0.11 -> 5000L, 0.21 -> 1000L)
    val c50 = Banding.chooseFromHistogram(lowMass, threshold = 0.5)
    assert(Banding.collisionProb(0.5, c50.bands, c50.rows) >= 0.95)
    assert(c50.perms == c50.bands * c50.rows && c50.perms <= 64)
    // heavy sub-threshold mass buys more rows (steeper S-curve) than a
    // near-empty histogram, where signature cost dominates
    val tinyMass = Map(0.05 -> 3L)
    val cTiny = Banding.chooseFromHistogram(tinyMass, threshold = 0.5)
    assert(c50.rows >= cTiny.rows,
      s"heavy fp mass chose r=${c50.rows}, tiny mass r=${cTiny.rows}")
    // a higher threshold admits steeper curves: rows never decrease
    val c80 = Banding.chooseFromHistogram(lowMass, threshold = 0.8)
    assert(c80.rows >= c50.rows, s"r(0.8)=${c80.rows} < r(0.5)=${c50.rows}")
    // predicted fp mass is the histogram-weighted S-curve
    val byHand = lowMass.map { case (j, n) =>
      n * Banding.collisionProb(j, c50.bands, c50.rows) }.sum
    assert(math.abs(c50.expectedFalseCandidates - byHand) < 1e-9)

    // end to end: corpus-chosen banding finds the same verified pair set
    // as the fixed 32×2 default (both operate above the recall floor, and
    // the exact in-bucket verify makes the result banding-insensitive)
    val docs = Tables.t(spark, sfDir, "documents")
    val fixed = Dedup.minhashPairs(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val auto = Banding.minhashPairsAuto(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == fixed,
      s"missing=${fixed -- auto} extra=${auto -- fixed}")
  }

  test("keepersStar == keepers on chains, stars, forests, and a random graph") {
    import graft.operators.Dedup
    def run(pairs: Seq[(Long, Long)], maxIter: Int = 25): Map[Long, Long] = {
      val df = Dedup.keepersStar(pairs.toDF("doc_a", "doc_b"), maxIter)
      val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      df.unpersist()
      m
    }
    def naive(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
      // union-find reference
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(x => x -> find(x)).toMap
    }
    // diameter stress: a 60-node chain needs 60 label-prop rounds but
    // only O(log) star rounds — run with maxIter far below the diameter
    val chain = (1L until 60L).map(i => (i, i + 1))
    assert(run(chain, maxIter = 10) == naive(chain))
    val shapes = Seq(
      Seq((5L, 1L), (5L, 9L), (5L, 3L)),                    // star, root mid
      Seq((1L, 2L), (3L, 4L), (5L, 6L), (2L, 3L)),          // merged chains
      Seq((7L, 7L), (8L, 9L), (9L, 8L)))                    // self-loop, dup
    shapes.foreach(p => assert(run(p) == naive(p), s"shape $p"))
    val rnd = new scala.util.Random(42)
    val random = Seq.fill(300)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }
    assert(run(random) == naive(random))
    // and against the production pair graph, star == label-prop exactly
    val corpus = Dedup.minhashPairs(
      Tables.t(spark, sfDir, "documents"), "doc_id", "text")
      .select("doc_a", "doc_b").persist()
    val viaProp = Dedup.keepers(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaStar = Dedup.keepersStar(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaAuto = Dedup.keepersAuto(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    corpus.unpersist()
    assert(viaStar == viaProp)
    assert(viaAuto == viaProp)
  }

  test("keepersAuto: fused union-find == iterative paths on every shape") {
    import graft.operators.Dedup
    def fused(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
      // force the fused path regardless of size (limit far above input)
      val df = Dedup.keepersAuto(pairs.toDF("doc_a", "doc_b"))
      val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      df.unpersist(); m
    }
    def viaStar(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
      val df = Dedup.keepersStar(pairs.toDF("doc_a", "doc_b"))
      val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      df.unpersist(); m
    }
    val shapes = Seq(
      (1L until 60L).map(i => (i, i + 1)),                  // deep chain
      Seq((5L, 1L), (5L, 9L), (5L, 3L)),                    // star, root mid
      Seq((1L, 2L), (3L, 4L), (5L, 6L), (2L, 3L)),          // merged chains
      Seq((7L, 7L), (8L, 9L), (9L, 8L)))                    // self-loop, dup
    shapes.foreach(p => assert(fused(p) == viaStar(p), s"shape $p"))
    val rnd = new scala.util.Random(7)
    val random = Seq.fill(500)((rnd.nextInt(90).toLong, rnd.nextInt(90).toLong))
    assert(fused(random) == viaStar(random))
    // past the edge limit the dispatch goes iterative — same answer
    val big = (1L to 50L).map(i => (i, i + 1))
    val viaLimit = Dedup.keepersAuto(big.toDF("doc_a", "doc_b"),
      smallEdgeLimit = 4)
    val m = viaLimit.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    viaLimit.unpersist()
    assert(m == viaStar(big))
    // the fused path preserves the caller's id type (ints stay ints)
    val ints = Seq((1, 2), (2, 3)).toDF("doc_a", "doc_b")
    val intOut = Dedup.keepersAuto(ints)
    assert(intOut.schema("doc_id").dataType ==
      org.apache.spark.sql.types.IntegerType)
    intOut.unpersist()
  }

  test("asofJoin picks the latest right row at-or-before each left ts, per key") {
    import java.sql.Timestamp
    def t(min: Int) = Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
    val trades = Seq((1L, t(5), "T1"), (1L, t(10), "T2"), (2L, t(3), "T3"))
      .toDF("k", "ts", "trade")
    val quotes = Seq((1L, t(4), 100.0), (1L, t(10), 101.0), (2L, t(7), 50.0))
      .toDF("k", "ts", "px")
    val out = graft.operators.AsOf.asofJoin(trades, quotes, Seq("k"), "ts", "ts")
      .select("trade", "px").collect().map(r => (r.getString(0), r.get(1))).toMap
    assert(out == Map(
      "T1" -> 100.0,  // latest quote <= 00:05 is 00:04
      "T2" -> 101.0,  // equal timestamps match (inclusive)
      "T3" -> null))  // no quote at or before 00:03
  }

  test("D7e two-level IVF: exact ∛ ladder; coarse == single-level; blocked pairs verified") {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions._
    import graft.operators.Ann
    // the integer cube-root ladder is exact at the boundaries Math.cbrt
    // could miss (8 is the floor; 999 < 10³ ≤ 1000; 10¹² is the frontier)
    assert(Ann.coarseCountFor(7) == 8L)
    assert(Ann.coarseCountFor(999) == 9L)
    assert(Ann.coarseCountFor(1000) == 10L)
    assert(Ann.coarseCountFor(1000000000000L) == 10000L)

    val embs = Tables.t(spark, sfDir, "embeddings")
      .select(col("vec_id").as("id"), quantize(col("embedding")).as("qv"))
    val n = embs.count()
    val c1 = Ann.coarseCountFor(n)
    val s1 = math.max(1L, n / c1)
    val s2 = math.max(1L, n / (c1 * c1))
    def where(pred: org.apache.spark.sql.Column) = Ann.Given(
      embs.filter(pred).select(col("id").as("c_id"), col("qv").as("c_qv")))
    val coarseF = where(col("id") % s1 === 0)
    val two = Ann.Index(embs, Seq(coarseF, where(col("id") % s2 === 0)))
    val a2 = Ann.assign(two).cache()
    try {
      // partition property: every vector labeled exactly once
      assert(a2.count() == n)
      // the coarse stage is the single-level assignment, bit-for-bit
      val a1 = Ann.assign(Ann.Index(embs, Seq(coarseF)))
        .select(col("vec_id"), col("cell").as("cell1"))
      assert(a2.select("vec_id", "cell1").except(a1).count() == 0)
      // cell2 = -1 exactly on the coarse cells that hold no fine seed
      val fineV = col("vec_id") % s2 === 0
      val seeded = a2.filter(fineV).select("cell1").distinct()
        .collect().map(_.getLong(0)).toSet
      val bad = a2.filter(
        (col("cell2") === -1L) =!= !col("cell1").isin(seeded.toSeq: _*))
      assert(bad.count() == 0)
      // fine labels are real centroids of the row's own coarse cell
      val fineCents = a2.filter(fineV)
        .select(col("cell1"), col("vec_id").as("cell2"))
      assert(a2.filter(col("cell2") =!= -1L).select("cell1", "cell2")
        .except(fineCents).count() == 0)
      // the pair operator == an independently-joined recomputation, and
      // every emitted pair passes the exact-cosine threshold
      val pairs = Ann.blockedPairs(two, 0.4)
      val manual = a2.as("a").join(a2.as("b"),
          col("a.cell1") === col("b.cell1") &&
            col("a.cell2") === col("b.cell2") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          quantCosine(col("a.qv"), col("b.qv")).as("cos_sim"))
        .filter(col("cos_sim") >= 0.4)
      assert(pairs.select("vec_a", "vec_b")
        .except(manual.select("vec_a", "vec_b")).count() == 0)
      assert(manual.select("vec_a", "vec_b")
        .except(pairs.select("vec_a", "vec_b")).count() == 0)
      assert(pairs.filter(col("cos_sim") < 0.4).count() == 0)
    } finally a2.unpersist()
  }

  test("D7e two-level topK: full probe == brute force; scores exact; k-bounded") {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions._
    import graft.operators.Ann
    val embs = Tables.t(spark, sfDir, "embeddings")
      .select(col("vec_id").as("id"), quantize(col("embedding")).as("qv"))
    val n = embs.count()
    val c1 = Ann.coarseCountFor(n)
    val s1 = math.max(1L, n / c1)
    val s2 = math.max(1L, n / (c1 * c1))
    def where(pred: org.apache.spark.sql.Column) = Ann.Given(
      embs.filter(pred).select(col("id").as("c_id"), col("qv").as("c_qv")))
    val two = Ann.Index(embs,
      Seq(where(col("id") % s1 === 0), where(col("id") % s2 === 0)))
    val queries = embs.filter(col("id") < 5)
    // probing EVERY coarse cell and every fine cell makes the candidate
    // set the whole corpus, so the approximate search must equal the
    // exact baseline row-for-row (same tie-break, same arithmetic)
    val full = Ann.topK(two, queries, nprobe = n.toInt, k = 10)
    val brute = Ann.bruteForceTopK(embs, queries, k = 10)
    assert(full.except(brute).count() == 0 && brute.except(full).count() == 0)
    // default probes: per-query ≤ k rows, no self-hits, descending
    // scores, and every reported score is the exact quantized cosine
    val out = Ann.topK(two, queries).cache()
    try {
      assert(out.filter(col("q_id") === col("neighbor")).count() == 0)
      assert(out.groupBy("q_id").count().filter(col("count") > 10).count() == 0)
      val mono = out.withColumn("prev", lag(col("cos_sim"), 1)
          .over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("q_id")).orderBy(col("rn"))))
        .filter(col("prev") < col("cos_sim"))
      assert(mono.count() == 0)
      val qv = embs.select(col("id").as("q_id"), col("qv").as("a"))
      val nv = embs.select(col("id").as("neighbor"), col("qv").as("b"))
      val wrong = out.join(qv, "q_id").join(nv, "neighbor")
        .filter(quantCosine(col("a"), col("b")) =!= col("cos_sim"))
      assert(wrong.count() == 0)
    } finally out.unpersist()
  }

  test("D7b auto faces route by corpus size: sub-threshold == single-level, above == two-level") {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions._
    import graft.operators.Ann
    val embs = Tables.t(spark, sfDir, "embeddings")
      .select(col("vec_id").as("id"), quantize(col("embedding")).as("qv"))
    val n = embs.count()
    val queries = embs.filter(col("id") < 5)
    val big = Ann.twoLevelThreshold
    // the routing rule: levels are a function of n alone
    assert(Ann.levelsFor(big - 1) == 1 && Ann.levelsFor(big) == 2)
    for (rounds <- Seq(0, 1); codes <- Seq(None, Some(Ann.codesFor(big)))) {
      assert(Ann.sized(embs, big - 1, rounds, codes) ==
        Ann.index(embs, big - 1, levels = 1, rounds, codes))
      assert(Ann.sized(embs, big, rounds, codes) ==
        Ann.index(embs, big, levels = 2, rounds, codes))
    }
    // branch 1: sf0.001's corpus is below the threshold — the routed
    // face IS the oracled single-level index over its uniform sample,
    // row for row, for both the sampled and the kmeans-refined codebook
    assert(n < big)
    val stride = math.max(1L, n / Ann.centroidCountFor(n))
    def sample(stride: Long) = Ann.Given(embs.filter(idSample(col("id"), stride))
      .select(col("id").as("c_id"), col("qv").as("c_qv")))
    val single = Ann.topK(Ann.Index(embs, Seq(sample(stride))),
      queries, nprobe = 4, k = 10)
    val routed = Ann.topK(Ann.sized(embs, n), queries, nprobe = 4, k = 10)
    assert(routed.except(single).count() == 0 &&
      single.except(routed).count() == 0)
    val cb = graft.operators.Cluster.kmeansCodebook(embs,
      idSample(col("id"), stride), rounds = 1)
    val singleK = Ann.topK(Ann.Index(embs, Seq(Ann.Given(cb))), queries,
      nprobe = 4, k = 10)
    val routedK = Ann.topK(Ann.sized(embs, n, rounds = 1), queries,
      nprobe = 4, k = 10)
    assert(routedK.except(singleK).count() == 0 &&
      singleK.except(routedK).count() == 0)
    // branch 2: the two-level face the router picks at scale, built
    // explicitly for this corpus: the sampled index equals the
    // independently-seeded two-level index row for row
    val c1 = Ann.coarseCountFor(n)
    val two = Ann.topK(Ann.Index(embs, Seq(
        sample(math.max(1L, n / c1)), sample(math.max(1L, n / (c1 * c1))))),
      queries, nprobe = 4, k = 10)
    val explicit2 = Ann.topK(Ann.index(embs, n, levels = 2), queries,
      nprobe = 4, k = 10)
    assert(explicit2.except(two).count() == 0 &&
      two.except(explicit2).count() == 0)
    // the kmeans two-level face: k-bounded, self-free, and scores are
    // the exact quantized cosine (its coarse codebook is Lloyd-refined,
    // so there is no independent replay to equal)
    val twoK = Ann.topK(Ann.index(embs, n, levels = 2, rounds = 1), queries,
      nprobe = 4, k = 10).cache()
    try {
      assert(twoK.filter(col("q_id") === col("neighbor")).count() == 0)
      assert(twoK.groupBy("q_id").count()
        .filter(col("count") > 10).count() == 0)
      assert(twoK.count() > 0)
      val qv = embs.select(col("id").as("q_id"), col("qv").as("a"))
      val nv = embs.select(col("id").as("neighbor"), col("qv").as("b"))
      assert(twoK.join(qv, "q_id").join(nv, "neighbor")
        .filter(quantCosine(col("a"), col("b")) =!= col("cos_sim"))
        .count() == 0)
    } finally twoK.unpersist()
  }

  test("E5 GraftExtensions exposes native functions to spark.sql") {
    Tables.registerAll(spark, sfDir)
    val out = spark.sql(
      """SELECT e1.vec_id, cosine_sim(e1.embedding, e1.embedding) AS self_sim,
        |  simhash64(split('a b c', ' ')) AS sh,
        |  doc_fingerprint('abc') AS fp
        |FROM embeddings e1 LIMIT 5""".stripMargin).collect()
    assert(out.length == 5)
    assert(out.forall(r => math.abs(r.getDouble(1) - 1.0) < 1e-9))
    // the full native-function surface resolves in SQL
    val sigRow = spark.sql(
      """SELECT minhash_sig(text_shingles_5(text)) AS sig,
        |  size(minhash_bands(text_shingles_5(text))) AS nbands,
        |  dot_l(array(1L, 2L), array(3L, 4L)) AS d
        |FROM documents WHERE size(text_shingles_5(text)) > 0 LIMIT 1""".stripMargin)
      .collect()(0)
    assert(sigRow.getSeq[Long](0).length == 64)
    assert(sigRow.getAs[Int]("nbands") == 32)
    assert(sigRow.getAs[Long]("d") == 11L)
    // round-3 additions: IVF assignment + partial top-k resolve in SQL
    val ivfRow = spark.sql(
      """WITH q AS (SELECT vec_id,
        |    transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS LONG)) AS qv
        |  FROM embeddings),
        |sd AS (SELECT vec_id, qv, CAST(dot_l(qv, qv) AS DOUBLE) AS selfdot FROM q),
        |cb AS (SELECT sort_array(collect_list(struct(vec_id AS c_id, qv AS c_qv, selfdot AS c_dot))) AS cb
        |  FROM sd WHERE vec_id < 4)
        |SELECT nearest_centroid(sd.qv, sd.selfdot, cb.cb) AS cell,
        |  size(nearest_cells(sd.qv, sd.selfdot, cb.cb, 2)) AS ncells
        |FROM sd CROSS JOIN cb LIMIT 1""".stripMargin).collect()(0)
    assert(ivfRow.getLong(0) >= 0L && ivfRow.getInt(1) == 2)
    val topkRow = spark.sql(
      """SELECT topk_pairs(CAST(vec_id AS DOUBLE), vec_id, 3) AS top
        |FROM embeddings""".stripMargin).collect()(0)
    assert(topkRow.getSeq[org.apache.spark.sql.Row](0).length == 3)
    // round-7 addition: the 48-bit md5-prefix hash resolves in SQL and
    // matches its documented hex identity
    val h = spark.sql(
      """SELECT md5_prefix48('abc') AS h,
        |  CAST(conv(substring(md5(CAST('abc' AS BINARY)), 1, 12), 16, 10) AS LONG) AS ref
        |""".stripMargin).collect()(0)
    assert(h.getLong(0) == h.getLong(1))
    // whole-stage codegen covers the native expressions (no UDF break):
    // the `*(1)` star prefix marks the codegen stage containing the Project
    val plan = spark.sql(
      "SELECT cosine_sim(embedding, embedding) FROM embeddings")
      .queryExecution.executedPlan.toString
    assert(plan.trim.startsWith("*(1) Project [cosine_sim"),
      s"native expression must sit inside a codegen stage:\n$plan")
  }

  test("E8 runtime bloom filter prunes the fact side of a selective shuffle join") {
    // the 100 TB shape: a selectively-filtered dimension too big to
    // broadcast still prunes the fact scan at runtime — Spark injects a
    // bloom_filter_agg subquery on the creation side and a might_contain
    // filter on the fact side BEFORE the shuffle, so non-matching fact
    // rows never enter the exchange. Local thresholds are lowered to
    // exercise the rewrite at spec scale; on a cluster the defaults
    // (10 MB creation / 10 GB application) gate it to where it pays.
    import org.apache.spark.sql.functions.col
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0") {
      val li = Tables.t(spark, sfDir, "lineitem")
      val ord = Tables.t(spark, sfDir, "orders")
        .filter(col("o_totalprice") > 400000.0)
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      val opt = j.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain") && opt.contains("bloom_filter_agg"),
        s"runtime bloom filter must be injected on the fact side:\n$opt")
      // and it must not change results vs the plain join
      val plain = withConf(
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false") {
        li.join(ord, col("l_orderkey") === col("o_orderkey")).count()
      }
      assert(j.count() == plain)
    }
  }

  private def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
