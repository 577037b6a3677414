package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/** Approximate-nearest-neighbor search over quantized embeddings
  * (SURVEY.md §2.D6/D7/D7b/D7e/D7f/D7g/D7h) through ONE index type — the
  * IVFADC decomposition (Jégou, Douze, Schmid, "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011): a coarse quantizer of 0, 1 or
  * 2 levels, optional PQ residual codes, and an exact re-rank. An
  * `Index` describes one; `topK` probes it, `assign` labels its corpus,
  * `blockedPairs` verifies in-cell pairs, and `recallAudit` grades any
  * approximate top-k against the exact truth of its metric
  * (`bruteForceTopK` for cosine, `Pq.bruteForceL2TopK` for squared L2).
  * The corpus is a DataFrame (`id`, `qv`) with qv =
  * GraftFunctions.quantize(embedding).
  *
  * Each face keeps its arithmetic. Without codes the index is the
  * cosine IVF: cells by the native nearestCentroid argmax over a
  * one-row broadcast codebook, scores `cos_sim`, output (q_id,
  * neighbor, cos_sim, rn). With codes it is IVFADC (operators/IvfPq.scala,
  * or Pq's raw-vector ADC when there is no coarse level): exact BIGINT
  * squared L2 via pqCodes, output (q_id, rn, neighbor, dist2).
  *
  * Scale contract: the corpus is never self-joined without a key —
  * brute force broadcasts the (small) query batch over one corpus scan
  * and reduces with a partial top-k aggregate (no corpus-sized shuffle);
  * LSH and IVF generate candidates through band/cell equi-joins; IVF
  * cell assignment is a map-side argmax over a broadcast codebook (zero
  * exchange).
  */
object Ann {

  /** Where one coarse level's centroids come from. */
  sealed trait Seeds
  /** The corpus rows with `idSample(col("id"), stride)`: a UNIFORM
    * hash-mod sample, never a prefix (the rehearsal measured prefix
    * sampling collapsing 18k of 20k vectors into one cell), and
    * density-independent (raw id % stride collapsed on sparse id spaces,
    * the round-12 q94 sf10 find). Seeds are plain values, so an index
    * description is a memo key.
    */
  final case class Sampled(stride: Long) extends Seeds
  /** `Sampled(stride)` refined by `rounds` Lloyd rounds
    * (`Cluster.kmeansCodebook`): cells re-center on the data's
    * direction families, so in-cell work tracks true cluster sizes
    * rather than the sample's luck (the sf1 rehearsal measured max cell
    * 447 vs median 7 under a raw sample).
    */
  final case class Kmeans(stride: Long, rounds: Int) extends Seeds
  /** An explicit (c_id, c_qv) codebook. */
  final case class Given(codebook: DataFrame) extends Seeds

  /** PQ residual codes: `m` subspaces of a `dim`-wide vector, each with
    * the codebook sampled at every `stride`-th id (idSample — ks ≈
    * n/stride is the fixed compression budget, constant at any n); the
    * top `rerank` ADC candidates per query re-rank exactly.
    */
  final case class Codes(stride: Long, m: Int = 8, dim: Int = 64,
                         rerank: Int = 50)

  /** One ANN index over `corpus`: `levels` is the coarse quantizer —
    * empty (exhaustive), one level, or two (`levels(1)` seeds the fine
    * centroids, each labeled by the coarse pass into its own coarse
    * cell) — and `codes` the optional PQ residual code.
    */
  final case class Index(corpus: DataFrame, levels: Seq[Seeds],
                         codes: Option[Codes] = None)

  /** Corpus size at and above which `sized` builds two levels. The
    * single-level coarse assign is structurally O(n·√n) (every vector
    * argmins a ⌊√n⌋-row codebook) vs the two-level O(n^{4/3}); in the
    * round-15 IVFADC measurement the two-level face was strictly faster
    * at every decade with real work — 20k vectors 1.25 vs 1.62 s, 200k
    * 2.84 vs 3.72, 1M 8.3 vs 22.1, 2M 15.4 vs 46.9 (sf50 and sf100 run
    * back to back) —
    * and the sf50→sf100 single-level wall ratio (2.1–2.3× per 2× data)
    * matches the √2·2 ≈ 2.83 structural bound while the two-level rows
    * sit at the 2^{4/3} ≈ 2.52 class. Below ~10⁴ vectors both faces are
    * job-floor-dominated and the branch is noise; 16384 keeps tiny
    * corpora (every oracle and bench scale) on the simpler,
    * oracle-replayed plan.
    */
  val twoLevelThreshold: Long = 16384L

  def levelsFor(n: Long): Int = if (n >= twoLevelThreshold) 2 else 1

  /** The index for a corpus of `n` vectors with `levels` coarse levels,
    * sized by the integer ladders: one level samples ⌊√n⌋ centroids
    * (centroidCountFor); two levels sample ∛n coarse and ∛n² fine seeds
    * (coarseCountFor). `rounds` > 0 kmeans-refines the COARSE level —
    * at two levels one Lloyd round over ∛n centroids is O(n·∛n), the
    * same class as the index it feeds, and fine seeds stay a sample.
    */
  def index(corpus: DataFrame, n: Long, levels: Int, rounds: Int = 0,
            codes: Option[Codes] = None): Index = {
    def coarse(stride: Long) = if (rounds > 0) Kmeans(stride, rounds)
      else Sampled(stride)
    val c1 = coarseCountFor(n)
    Index(corpus, levels match {
      case 0 => Nil
      case 1 => Seq(coarse(math.max(1L, n / centroidCountFor(n))))
      case 2 => Seq(coarse(math.max(1L, n / c1)),
        Sampled(math.max(1L, n / (c1 * c1))))
    }, codes)
  }

  /** The PRODUCTION face: the index shape is a corpus-size decision,
    * not a user decision — `levelsFor(n)` coarse levels. Output shape is
    * identical either way; recall stays audited per face.
    */
  def sized(corpus: DataFrame, n: Long, rounds: Int = 0,
            codes: Option[Codes] = None): Index =
    index(corpus, n, levelsFor(n), rounds, codes)

  /** PQ codes sized for `n` vectors: ≈`ksTarget` centroids per subspace. */
  def codesFor(n: Long, ksTarget: Int = 16, m: Int = 8,
               dim: Int = 64): Codes =
    Codes(math.max(1L, n / ksTarget), m, dim)

  /** Per-query top-`k` neighbors of `queries` (id, qv) through `ix`,
    * probing the `nprobe` nearest cells at each coarse level; the
    * exhaustive index (no levels) is exact for cosine and raw-vector
    * ADC for PQ.
    */
  def topK(ix: Index, queries: DataFrame, nprobe: Int = 4,
           k: Int = 10): DataFrame =
    (ix.codes, ix.levels) match {
      case (Some(c), Nil) => Pq.adcTopK(ix.corpus, queries, c, k)
      case (Some(_), _) => IvfPq.topK(ix, queries, nprobe, k)
      case (None, Nil) => bruteForceTopK(ix.corpus, queries, k)
      case (None, _) => cosineProbe(ix, queries, nprobe, k)
    }

  /** Every corpus vector labeled with its cell: (vec_id, qv, selfdot,
    * cell) at one level, (vec_id, qv, selfdot, cell1, cell2) at two. A
    * map-side native argmax over the broadcast codebook per level — the
    * one-level plan is scan → project, zero exchange.
    */
  def assign(ix: Index): DataFrame =
    cosineIndex(ix)._3.withColumnRenamed("id", "vec_id")

  /** Cell-blocked exact near-duplicate pairs: vectors pair only within
    * their cell (the `assign` labels), verified with exact cosine ≥
    * `threshold`. The corpus-level embedding-dedup shape: one assignment
    * pass + one cell-key equi-join — never corpus × corpus (SURVEY.md
    * §2.D5). At two levels the in-cell candidate work shrinks from n/√n
    * to n/(c₁·c₂) rows per block while the broadcast stays ∛n.
    */
  def blockedPairs(ix: Index, threshold: Double): DataFrame = {
    val (_, _, a, keys) = cosineIndex(ix)
    a.as("a")
      .join(a.as("b"), keys.map(c => col(s"a.$c") === col(s"b.$c"))
        .reduce(_ && _) && col("a.id") < col("b.id"))
      .select(col("a.id").as("vec_a"), col("b.id").as("vec_b"),
        cos(col("a.qv"), col("b.qv"), col("a.selfdot"), col("b.selfdot"))
          .as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Recall of `approx` against `truth`: `truth`'s columns are the hit
    * key (q_id, neighbor — or a pair key), `approx` carries the same
    * columns, and a truth row present in `approx` is a hit. One row
    * (method, n_truth, n_hits, recall); with `perQuery` also the
    * per-q_id recall DISTRIBUTION (min_recall, p50_recall) — a mean can
    * hide queries the index fully misses.
    *
    * Every compared value is exact-integer-derived, so DuckDB replays
    * it bit-for-bit: hit counts are ints, the median is the sum of the
    * two middle order statistics (no engine interpolation — Spark's
    * percentile() computes a*w1+b*w2 while DuckDB's quantile_cont
    * computes a+(b-a)*f, and the two differ in rounding), and each
    * recall is ONE correctly-rounded division of identical integers.
    * Denominators are DERIVED from the data — MAX(n_truth_q) (= k when
    * the corpus has ≥ k+1 vectors, the per-query truth size otherwise)
    * and 2·MAX for the median-of-two-middles — never a hard-coded k.
    */
  def recallAudit(truth: DataFrame, approx: DataFrame, method: String,
                  perQuery: Boolean = false): DataFrame = {
    val keys = truth.columns.toSeq
    val hits = truth.join(
      approx.select(keys.map(col) :+ lit(1).as("hit"): _*), keys, "left")
    def ratio(n: Column, of: Column) = n.cast("double") / of
    if (!perQuery)
      hits.agg(count(lit(1)).as("n_truth"),
          sum(coalesce(col("hit"), lit(0))).as("n_hits"))
        .select(lit(method).as("method"), col("n_truth"), col("n_hits"),
          ratio(col("n_hits"), col("n_truth")).as("recall"))
    else
      hits.groupBy(col("q_id"))
        .agg(count(lit(1)).as("n_truth_q"),
          sum(coalesce(col("hit"), lit(0))).as("n_hits_q"))
        .agg(sum(col("n_truth_q")).as("n_truth"),
          sum(col("n_hits_q")).as("n_hits"),
          min(col("n_hits_q")).as("min_hits"),
          max(col("n_truth_q")).as("max_truth"),
          sort_array(collect_list(col("n_hits_q"))).as("hs"),
          count(lit(1)).as("nq"))
        .select(lit(method).as("method"), col("n_truth"), col("n_hits"),
          ratio(col("n_hits"), col("n_truth")).as("recall"),
          ratio(col("min_hits"), col("max_truth")).as("min_recall"),
          ratio(
            element_at(col("hs"), ((col("nq") + lit(1)) / lit(2)).cast("int"))
              + element_at(col("hs"), ((col("nq") + lit(2)) / lit(2)).cast("int")),
            lit(2) * col("max_truth")).as("p50_recall"))
  }

  private def cos(qa: Column, qb: Column, da: Column, db: Column): Column =
    quantDot(qa, qb).cast("double") / sqrt(da * db)

  private[operators] def withSelfDot(df: DataFrame): DataFrame =
    df.withColumn("selfdot", quantDot(col("qv"), col("qv")).cast("double"))

  /** Scored candidates reduced to per-query top-k via the TopKPairs
    * partial aggregate: map-side partials carry ≤ k rows per query per
    * partition into the exchange, so the shuffle is O(partitions ×
    * |queries| × k) regardless of corpus size. Tie-break (score desc,
    * id asc) matches the window formulation the oracles replay.
    */
  private def topKOf(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy(col("q_id"))
      .agg(topKPairs(col("c"), col("id"), k).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), col("col.id").as("neighbor"),
        col("col.score").as("cos_sim"), (col("pos") + 1).cast("int").as("rn"))

  /** Exact top-k per query by cosine: broadcast query batch × one corpus
    * scan, partial top-k per partition, tiny final merge per query. The
    * cosine ground truth every approximate path is measured against.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     k: Int = 10): DataFrame = {
    val c = withSelfDot(corpus)
    val q = withSelfDot(queries)
      .select(col("id").as("q_id"), col("qv").as("q_qv"),
        col("selfdot").as("q_dot"))
    topKOf(
      c.join(broadcast(q), col("id") =!= col("q_id"))
        .select(col("q_id"), col("id"),
          cos(col("q_qv"), col("qv"), col("q_dot"), col("selfdot")).as("c")),
      k)
  }

  /** Candidate near-neighbor pairs via hyperplane LSH: `planes`-bit
    * Rademacher signature, banded into `bands` keys; pairs sharing a
    * band verify with exact cosine ≥ `threshold`.
    *
    * `bitsPerBand` is the SCALE knob: band b reads `bitsPerBand` bits at
    * stride planes/bands, so bucket count per band is 2^bitsPerBand and
    * expected bucket occupancy is n / 2^bitsPerBand. A fixed band width
    * makes candidate volume quadratic in corpus size (the sf1 rehearsal
    * measured q36 at 162M candidate pairs, 2 GB shuffled, from 20k
    * vectors at 4 bits); callers must grow bitsPerBand ~ log2(n) to hold
    * occupancy — and with it candidate count per vector — constant.
    * 0 (default) = use the full stride, the pre-rehearsal behavior.
    */
  def lshPairs(corpus: DataFrame, planes: Int = 16, bands: Int = 4,
               threshold: Double = 0.3, bitsPerBand: Int = 0): DataFrame = {
    val stride = planes / bands
    val bits = if (bitsPerBand > 0) bitsPerBand else stride
    require(bits <= stride, s"bitsPerBand $bits exceeds stride $stride")
    val mask = (1L << bits) - 1
    // self-dots precomputed per row: the in-bucket verify then costs ONE
    // native 64-long dot per candidate pair (same doubles as quantCosine)
    val embs = withSelfDot(corpus.select(col("id").as("vec_id"), col("qv")))
      .withColumn("sig", hyperplaneSig(col("qv"), planes))
    val banded = embs.select(col("vec_id"), col("qv"), col("selfdot"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"), shiftrightunsigned(col("sig"), stride * b)
          .bitwiseAND(lit(mask)).as("bval"))
      }: _*)).as("bk"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.bk") === col("b.bk") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        cos(col("a.qv"), col("b.qv"), col("a.selfdot"), col("b.selfdot"))
          .as("cos_sim"))
      .distinct()
      .filter(col("cos_sim") >= threshold)
  }

  /** LSH band width for corpus size `n`: smallest width in 4..16 whose
    * expected bucket occupancy n/2^bits is ≤ `target`. Integer-exact
    * ladder (NOT float log2) so the DuckDB oracle's CASE replays it
    * bit-identically — libm rounding at an exact power-of-two boundary
    * could differ between engines.
    *
    * The ceiling tracks the signature stride: callers pass planes=64 /
    * bands=4 (stride 16), so the ladder can keep occupancy ≤ target up
    * to n = target·2^16 ≈ 4.9M vectors. The previous 32-plane/8-bit cap
    * made candidate volume quadratic past n = target·256 — the sf10
    * rehearsal measured q36 at 312M candidate pairs from 200k vectors,
    * with the NEXT decade due to double the per-vector candidate count
    * again; each +1 bit halves it instead.
    */
  def lshBitsFor(n: Long, target: Long = 75L): Int = {
    var bits = 4
    while (bits < 16 && n > (target << bits)) bits += 1
    bits
  }

  /** IVF centroid count for corpus size `n`: k = ⌊√n⌋ (min 16), the
    * classic IVF balance point. The total work of a blocked pairwise /
    * probe pipeline is n·k (every vector scores every centroid in the
    * assign pass) + n·(n/k) (in-cell candidate work); k ~ n/target keeps
    * the second term linear but makes the ASSIGN pass n²/target — the
    * sf20 rehearsal measured it at 1.6B centroid dots, 80× the pairwise
    * work, with the old 4096 clamp only capping (and hiding) it. √n
    * minimizes the sum at O(n^1.5) with no clamp for a quadratic to
    * hide behind; the broadcast codebook stays tiny far past any
    * single-machine corpus (√10⁹ ≈ 31.6k centroids ≈ 16 MB — the
    * two-level IVF frontier is ~n=10¹², documented, not silently
    * clamped). History: fixed k=16 was quadratic in the verify (sf1,
    * 162M pairs from 20k vectors); n/75 fixed that and moved the
    * quadratic into the assign (sf20) — the lesson is the SUM is the
    * objective, not either term.
    *
    * Floor-of-double-sqrt is engine-exact for the replaying oracle:
    * IEEE sqrt is correctly rounded, n ≪ 2^52, and a correctly-rounded
    * sqrt of a non-square never lands on the next integer, so
    * FLOOR(SQRT(n)) in DuckDB == math.sqrt(n).toLong here, bit-for-bit.
    */
  def centroidCountFor(n: Long): Long =
    math.max(16L, math.sqrt(n.toDouble).toLong)

  /** Coarse centroid count for the two-level index: c₁ = ⌊∛n⌋ (min 8),
    * computed with an exact integer ladder — NOT Math.cbrt, which is not
    * required to be correctly rounded by IEEE 754, so FLOOR(CBRT(n))
    * could disagree between engines at a perfect cube. The oracle
    * replays the same ladder as MAX(c) over a bounded range WHERE
    * c*c*c <= n (integer compares only; bit-exact in any engine).
    *
    * Why ∛n: the single-level index at k = √n broadcasts the whole
    * codebook, which stops fitting an executor at n ≈ 10¹²
    * (√10¹² × 64 dims × 8 B ≈ 512 MB). Two levels split the work
    * n·c₁ (coarse assign) + n·c₂ (fine assign inside the coarse cell)
    * + n·(n/(c₁·c₂)) (in-cell candidates); c₁ = c₂ = ∛n balances all
    * three at O(n^{4/3}) TOTAL work with a broadcast codebook of only
    * ∛n rows (10⁴ at n = 10¹² — trivially broadcastable) — strictly
    * better asymptotics than the single-level O(n^{3/2}) AND a smaller
    * broadcast. The price is one keyed corpus shuffle (the fine-codebook
    * equi-join), which is linear and AQE-skew-safe.
    */
  def coarseCountFor(n: Long): Long = {
    var c = 1L
    while (c < 2097151L && (c + 1) * (c + 1) * (c + 1) <= n) c += 1
    math.max(8L, c)
  }

  /** One level's centroids as (c_id, c_qv). */
  private[operators] def centroids(corpus: DataFrame, s: Seeds): DataFrame =
    s match {
      case Sampled(stride) => corpus.filter(idSample(col("id"), stride))
        .select(col("id").as("c_id"), col("qv").as("c_qv"))
      case Kmeans(stride, rounds) =>
        Cluster.kmeansCodebook(corpus, idSample(col("id"), stride), rounds)
      case Given(cb) => cb.select(col("c_id"), col("c_qv"))
    }

  /** One-row codebook frame: the (c_id, c_qv) centroid set with its
    * self-dots collapsed into a single sorted array<struct<c_id,c_qv,
    * c_dot>> column, hinted broadcast. A cross join against it is a
    * BroadcastNestedLoopJoin with a ONE-ROW build side — effectively a
    * free per-row constant, never a corpus move. Codebooks are small by
    * construction (IVF uses √n..n/1e3 centroids; they fit an executor
    * by the same argument that makes IVF work at all).
    */
  private[operators] def codebookOf(cents: DataFrame): DataFrame =
    broadcast(cents
      .select(col("c_id"), col("c_qv"),
        quantDot(col("c_qv"), col("c_qv")).cast("double").as("c_dot"))
      .agg(nonEmptySample(sort_array(collect_list(
        struct(col("c_id"), col("c_qv"), col("c_dot")))),
        "Ann.codebookOf").as("cb")))

  /** rows (id, qv) → (id, qv, selfdot, `cell`): the nearest codebook
    * centroid by a map-side native argmax over the one-row broadcast —
    * scan → project, zero exchange. Ties break (cosine desc, id asc).
    */
  private[operators] def label(rows: DataFrame, cb: DataFrame,
                               cell: String): DataFrame =
    withSelfDot(rows).crossJoin(cb)
      .select(col("id"), col("qv"), col("selfdot"),
        nearestCentroid(col("qv"), col("selfdot"), col("cb")).as(cell))

  /** The cosine index: (coarse codebook, per-coarse-cell fine codebooks
    * at two levels, the labeled corpus, its cell-key columns).
    *
    * Two levels (the scale path past the single-level broadcast
    * frontier, see coarseCountFor): cell1 by map-side argmax over the
    * broadcast coarse codebook, cell2 by argmax over the FINE centroids
    * of the vector's own coarse cell — fine seeds are labeled by the
    * same coarse pass and collapsed to one sorted codebook array row per
    * coarse cell, equi-joined on cell1 (c₁ rows; a broadcast at test
    * scale, a keyed shuffle join at 10¹²). A coarse cell with no fine
    * seed keeps cell2 = -1 (its rows block together unsplit). Both
    * argmaxes tie-break (cosine desc, id asc), so DuckDB replays the
    * full assignment.
    */
  private def cosineIndex(ix: Index)
      : (DataFrame, Option[DataFrame], DataFrame, Seq[String]) = {
    require(ix.codes.isEmpty && ix.levels.nonEmpty && ix.levels.size <= 2,
      "the cosine face needs one or two coarse levels and no PQ codes")
    val keys = if (ix.levels.size == 1) Seq("cell") else Seq("cell1", "cell2")
    val cb = codebookOf(centroids(ix.corpus, ix.levels.head))
    val coarse = label(ix.corpus, cb, keys.head)
    val fine = ix.levels.lift(1).map { s =>
      label(centroids(ix.corpus, s)
          .select(col("c_id").as("id"), col("c_qv").as("qv")), cb, "cell1")
        .groupBy(col("cell1"))
        .agg(sort_array(collect_list(struct(col("id").as("c_id"),
          col("qv").as("c_qv"), col("selfdot").as("c_dot")))).as("fb"))
    }
    val labeled = fine.fold(coarse)(f => coarse.join(f, Seq("cell1"), "left")
      .select(col("id"), col("qv"), col("selfdot"), col("cell1"),
        coalesce(nearestCentroid(col("qv"), col("selfdot"), col("fb")),
          lit(-1L)).as("cell2")))
    (cb, fine, labeled, keys)
  }

  /** The cosine probe: a query probes its `nprobe` nearest coarse cells
    * (broadcast codebook) and, at two levels, within EACH its `nprobe`
    * nearest fine cells (per-cell fine codebook equi-joined on cell1; a
    * coarse cell with no fine seed contributes its whole cell, cell2 =
    * -1 as on the assignment side). Candidates are the corpus rows
    * sharing a probed cell key, re-ranked exactly through the TopKPairs
    * partial aggregate. Each vector lives in exactly one cell and a
    * query's probed cells are distinct, so candidates are already
    * unique — no distinct pass.
    */
  private def cosineProbe(ix: Index, queries: DataFrame, nprobe: Int,
                          k: Int): DataFrame = {
    val (cb, fine, labeled, keys) = cosineIndex(ix)
    val coarse = withSelfDot(queries).crossJoin(cb)
      .select(col("id").as("q_id"), col("qv").as("q_qv"),
        col("selfdot").as("q_dot"),
        explode(nearestCells(col("qv"), col("selfdot"), col("cb"), nprobe))
          .as(keys.head))
    val probes = fine.fold(coarse)(f => coarse.join(f, Seq("cell1"), "left")
      .select(col("q_id"), col("q_qv"), col("q_dot"), col("cell1"),
        explode(coalesce(
          nearestCells(col("q_qv"), col("q_dot"), col("fb"), nprobe),
          array(lit(-1L)))).as("cell2")))
    topKOf(
      labeled.join(broadcast(probes), keys)
        .filter(col("id") =!= col("q_id"))
        .select(col("q_id"), col("id"),
          cos(col("q_qv"), col("qv"), col("q_dot"), col("selfdot")).as("c")),
      k)
  }

  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(String, Any), AnyRef]()

  /** The one staged-index memo. An index build is a reusable deployment
    * artifact (the q85 trainModel discipline): q80/q81, q86/q87 and a
    * bench's steady-state repeats build the IDENTICAL staged codebooks
    * for the same corpus — a corpus scan + rank window + count action
    * each time, the whole fixed PQ floor at small SF (~0.5 s/query at
    * sf0.1). Entries are keyed by (canonicalized corpus plan, session,
    * `key`): two reads of the same parquet with the same projection
    * hit, a different sfDir (different scan path) misses. Entries are
    * checkpointed codebook frames — bounded. Values are unchanged (the
    * memo returns the rows a per-call build would), so oracles are
    * unaffected.
    */
  private[operators] def staged[T <: AnyRef](corpus: DataFrame, key: Any)(
      build: => T): T = {
    val planKey = corpus.queryExecution.analyzed.canonicalized.toString +
      "@" + System.identityHashCode(corpus.sparkSession)
    memo.computeIfAbsent((planKey, key), _ => build).asInstanceOf[T]
  }
}
