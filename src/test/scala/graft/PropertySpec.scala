package graft

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStreams

/** Property tests: the scale-shaped operators (as-of join, range join,
  * sessionization, native shingles) agree with naive reference
  * implementations on randomized inputs — the composition tricks (union
  * + carry-forward window; bucket-grid explode; shared fold) must never
  * change semantics, only the plan shape.
  */
class PropertySpec extends AnyFunSuite {
  import SparkFixture._
  import spark.implicits._

  /** Run a scalacheck property (20 random cases) and fail the test with
    * the shrunk counterexample on violation.
    */
  private def check(p: Prop): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(20), p)
    assert(res.passed, res.status.toString)
  }

  test("TopKBuf (partial top-k buffer) == naive sort/dedup/take under random splits") {
    import org.apache.spark.sql.graft.TopKBuf
    val pairGen = Gen.listOf(Gen.zip(
      // rint forces score ties; +0.0 normalizes -0.0 (the buffer compares
      // primitively like SQL DOUBLE, the naive reference's boxed
      // distinct/sortBy would treat -0.0 and 0.0 as distinct values)
      Gen.chooseNum(-5.0, 5.0).map(d => math.rint(d * 4) / 4 + 0.0),
      Gen.chooseNum(0L, 30L)))
    check(Prop.forAll(pairGen, Gen.chooseNum(1, 8), Gen.oneOf(true, false),
      Gen.chooseNum(0, 100)) {
      (pairs: List[(Double, Long)], k: Int, dedup: Boolean, splitSeed: Int) =>
        // naive reference: global sort (score desc, id asc), optional
        // distinct, first k
        val base = if (dedup) pairs.distinct else pairs
        val want = base.sortBy { case (s, i) => (-s, i) }.take(k)
        // buffer path: split the stream into 3 partial buffers at random
        // points, then merge — models map-side partials + final merge
        val cut1 = if (pairs.isEmpty) 0 else math.abs(splitSeed) % (pairs.size + 1)
        val cut2 = if (pairs.isEmpty) 0
          else cut1 + math.abs(splitSeed * 31) % (pairs.size - cut1 + 1)
        val parts = Seq(pairs.take(cut1), pairs.slice(cut1, cut2), pairs.drop(cut2))
        val bufs = parts.map { p =>
          val b = new TopKBuf(k, dedup)
          p.foreach { case (s, i) => b.add(s, i) }
          b
        }
        val merged = bufs.reduce { (a, b) => a.mergeIn(b); a }
        val got = (0 until merged.n).map(i => (merged.scores(i), merged.ids(i)))
        got == want
    })
  }

  private val smallTs = Gen.choose(0L, 5000L)
  private val key = Gen.choose(1L, 4L)

  test("asofJoin == naive per-row max-prior lookup on random data") {
    val rows = Gen.listOfN(60, Gen.zip(key, smallTs))
    check(Prop.forAll(rows, rows) { (lefts, rights) =>
      val left = lefts.zipWithIndex
        .map { case ((k, t), i) => (i.toLong, k, new Timestamp(t)) }
        .toDF("id", "k", "ts")
      // unique (k, ts) on the right: as-of is ambiguous under ties
      val right = rights.distinctBy(r => (r._1, r._2))
        .map { case (k, t) => (k, new Timestamp(t), t * 10.0) }
        .toDF("k", "ts", "px")
      val got = graft.operators.AsOf.asofJoin(left, right, Seq("k"), "ts", "ts")
        .select("id", "px").collect()
        .map(r => r.getLong(0) -> Option(r.get(1))).toMap
      val rightArr = rights.distinctBy(r => (r._1, r._2))
      val want = lefts.zipWithIndex.map { case ((k, t), i) =>
        val prior = rightArr.filter(r => r._1 == k && r._2 <= t)
        i.toLong -> (if (prior.isEmpty) None
                     else Some(prior.maxBy(_._2)._2 * 10.0))
      }.toMap
      got == want
    })
  }

  test("kmeans round-1 assignment == naive argmax over the seed centroids") {
    // random quantized vectors; cluster of each must be the exact argmax
    // (ties to the lower centroid id) the naive Scala loop computes
    val vecGen = Gen.listOfN(24,
      Gen.listOfN(6, Gen.chooseNum(-999L, 999L)).suchThat(_.exists(_ != 0L)))
    check(Prop.forAll(vecGen, Gen.chooseNum(2, 5)) { (vecs, k) =>
      val df = vecs.zipWithIndex
        .map { case (v, i) => (i.toLong, v.toArray) }.toDF("id", "qv")
      val got = graft.operators.Cluster
        .kmeansAssignSeeded(df, col("id") < k, iters = 1)
        .select("id", "cluster").as[(Long, Long)].collect().toMap
      def cos(a: Seq[Long], b: Seq[Long]): Double = {
        val dot = a.zip(b).map { case (x, y) => x * y }.sum.toDouble
        dot / math.sqrt(a.map(x => x * x).sum.toDouble * b.map(x => x * x).sum.toDouble)
      }
      val cents = vecs.zipWithIndex.take(k)
      vecs.zipWithIndex.forall { case (v, i) =>
        val best = cents.map { case (c, ci) => (cos(v, c), ci) }
          .maxBy { case (s, ci) => (s, -ci.toDouble) }._2
        got(i.toLong) == best.toLong
      }
    })
  }

  test("ChunkDedup.stats == naive chunk-frequency dedup on random word docs") {
    val docGen = Gen.listOfN(10,
      Gen.listOfN(11, Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" ")))
    check(Prop.forAll(docGen) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      val got = graft.operators.ChunkDedup.stats(docs, "id", "text", 4)
        .select("id", "n_chunks", "n_dup", "clean_md5")
        .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
      // naive reference: 4-token non-overlapping chunks, freq >= 2 cut
      val chunksOf = texts.map(_.split(" ").grouped(4).filter(_.length == 4)
        .map(_.mkString(" ")).toSeq)
      val freq = chunksOf.flatten.groupBy(identity).view.mapValues(_.size).toMap
      def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      chunksOf.zipWithIndex.forall { case (chunks, i) =>
        if (chunks.isEmpty) !got.contains(i.toLong)
        else {
          val (_, n, dup, h) = got(i.toLong)
          n == chunks.length &&
            dup == chunks.count(freq(_) >= 2) &&
            h == md5hex(chunks.filter(freq(_) < 2).mkString(" "))
        }
      }
    })
  }

  test("RangeJoin.pointInInterval == naive theta join on random intervals") {
    val points = Gen.listOfN(50, Gen.zip(key, smallTs))
    val ivals = Gen.listOfN(20, Gen.zip(key, smallTs, Gen.choose(0L, 800L)))
    check(Prop.forAll(points, ivals) { (ps, ivs) =>
      val pdf = ps.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
        .toDF("pid", "k", "t")
      val idf = ivs.zipWithIndex
        .map { case ((k, s, len), i) => (i.toLong, k, s, s + len) }
        .toDF("iid", "k", "lo", "hi")
      val got = graft.operators.RangeJoin
        .pointInInterval(pdf, idf, Seq("k"), "t", "lo", "hi", bucketWidth = 300L)
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = (for {
        ((pk, pt), pi) <- ps.zipWithIndex
        ((ik, lo, len), ii) <- ivs.zipWithIndex
        if pk == ik && pt >= lo && pt <= lo + len
      } yield (pi.toLong, ii.toLong)).toSet
      got == want
    })
  }

  test("sessionizeBatch: sessions partition each user's events with gaps > threshold") {
    val evs = Gen.listOfN(80, Gen.zip(key, Gen.choose(0L, 400L)))
    check(Prop.forAll(evs) { es =>
      val events = es.zipWithIndex.map { case ((u, min), i) =>
        (i.toLong, Timestamp.from(Instant.ofEpochSecond(min * 60)), u, "e", 1.0)
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
      val sessions = EventStreams.sessionizeBatch(events).collect()
      val byUser = es.groupBy(_._1).view.mapValues(_.map(_._2 * 60).sorted)
      sessions.groupBy(_.user_id).forall { case (u, ss) =>
        val sorted = ss.sortBy(_.session_start)
        val gapsOk = sorted.sliding(2).forall {
          case Array(a, b) =>
            b.session_start.getEpochSecond - a.session_end.getEpochSecond >
              30 * 60
          case _ => true
        }
        val countOk = ss.map(_.n_events).sum == byUser(u).size
        val coverOk = sorted.forall(s =>
          s.session_end.getEpochSecond - s.session_start.getEpochSecond <=
            (s.n_events - 1) * 30 * 60)
        gapsOk && countOk && coverOk
      }
    })
  }

  test("Ann.bruteForceTopK == naive exact top-k with the same tie-break") {
    val vec = Gen.listOfN(8, Gen.choose(-100, 100))
    val corpus = Gen.listOfN(30, vec)
    check(Prop.forAll(corpus) { vs =>
      val rows = vs.zipWithIndex.map { case (v, i) =>
        (i.toLong, v.map(x => x.toLong * 10000L).toArray)
      }
      val df = rows.toDF("id", "qv")
      val got = graft.operators.Ann
        .bruteForceTopK(df, df.filter($"id" < 3), k = 5)
        .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
      def cos(a: Array[Long], b: Array[Long]): Double = {
        val dot = a.zip(b).map { case (x, y) => x * y }.sum
        val na = a.map(x => x * x).sum.toDouble
        val nb = b.map(x => x * x).sum.toDouble
        dot.toDouble / math.sqrt(na * nb)
      }
      val want = (for {
        (qid, qv) <- rows.take(3)
        ranked = rows.filter(_._1 != qid)
          .map { case (id, v) => (id, cos(qv, v)) }
          .sortBy { case (id, c) => (-c, id) }
          .take(5).zipWithIndex
        ((id, _), rank) <- ranked
      } yield (qid, rank + 1, id)).toSet
      got == want
    })
  }

  test("withinJoin (batch) == naive time-bounded pair filter") {
    val evs = Gen.listOfN(40, Gen.zip(key, Gen.choose(0L, 180L)))
    check(Prop.forAll(evs, evs) { (ls, rs) =>
      def df(xs: List[(Long, Long)], base: Long) = xs.zipWithIndex.map {
        case ((u, min), i) =>
          (base + i, Timestamp.from(Instant.ofEpochSecond(min * 60)), u, "e", 1.0)
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
      val got = EventStreams.withinJoin(df(ls, 1000), df(rs, 2000),
          "user_id", within = "30 minutes")
        .select("l_event_id", "r_event_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = (for {
        ((lu, lt), li) <- ls.zipWithIndex
        ((ru, rt), ri) <- rs.zipWithIndex
        if lu == ru && rt <= lt && rt >= lt - 30
      } yield (1000L + li, 2000L + ri)).toSet
      got == want
    })
  }

  test("MP4/MKV container walks round-trip random track layouts") {
    import graft.operators.MediaCodec
    val videoTrack = for {
      w <- Gen.chooseNum(16, 4096); h <- Gen.chooseNum(16, 4096)
      d <- Gen.chooseNum(1L, 10_000_000L)
    } yield MediaCodec.TrackMeta("vide", w, h, d)
    val audioTrack = Gen.chooseNum(1L, 10_000_000L)
      .map(d => MediaCodec.TrackMeta("soun", 0, 0, d))
    val tracksGen = for {
      n <- Gen.chooseNum(1, 4)
      ts <- Gen.listOfN(n, Gen.oneOf(videoTrack, audioTrack))
    } yield ts
    val payloadGen = Gen.chooseNum(0, 64)
      .flatMap(n => Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte)))
    check(Prop.forAll(tracksGen, payloadGen, Gen.chooseNum(1L, 10_000_000L)) {
      (tracks, payload, mkvDur) =>
        val mp4 = MediaCodec.encodeMinimalMp4(tracks, payload.toArray)
        val m = MediaCodec.parseMp4(mp4)
        val mkv = MediaCodec.encodeMinimalMkv(tracks, mkvDur)
        val k = MediaCodec.parseMkv(mkv)
        MediaCodec.isMp4(mp4) && !MediaCodec.isMkv(mp4) &&
          MediaCodec.isMkv(mkv) && !MediaCodec.isMp4(mkv) &&
          m.container == "mp4" &&
          m.tracks.map(_.kind) == tracks.map(_.kind) &&
          // tkhd width/height round-trip exactly (video only; audio is 0x0)
          m.tracks.map(t => (t.width, t.height)) ==
            tracks.map(t => (t.width, t.height)) &&
          m.tracks.map(_.durationMs) == tracks.map(_.durationMs) &&
          // mvhd carries the max track duration
          m.durationMs == tracks.map(_.durationMs).max &&
          k.container == "mkv" && k.durationMs == mkvDur &&
          k.tracks.map(_.kind) == tracks.map(_.kind) &&
          k.tracks.map(t => (t.width, t.height)) ==
            tracks.map(t => (t.width, t.height))
    })
  }

  test("textShingles == HOF shingles on random space-laden strings") {
    val word = Gen.oneOf("a", "bb", "ccc", "", "dd")
    val text = Gen.listOf(word).map(_.mkString(" "))
    check(Prop.forAll(Gen.listOfN(40, text)) { texts =>
      val df = texts.toDF("text")
      df.select(
          graft.functions.GraftFunctions.textShingles(col("text"), 3).as("a"),
          graft.functions.GraftFunctions.shingles(
            graft.functions.GraftFunctions.tokens(col("text")), 3).as("b"))
        .filter(col("a") =!= col("b")).count() == 0
    })
  }
}
