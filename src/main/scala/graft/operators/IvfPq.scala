package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/** IVF-PQ composite ANN — IVFADC (SURVEY.md §2.D7g; Jégou, Douze,
  * Schmid, "Product Quantization for Nearest Neighbor Search", TPAMI
  * 2011, §IV): the production 10¹²-scale composition of the suite's two
  * separately-proven faces — coarse IVF cells bound WHICH vectors a
  * query scores (the partition face, q43/q70), and PQ codes on the
  * RESIDUAL v − centroid(cell(v)) bound what scoring one vector costs
  * (the compression face, q80). A query probes its nprobe nearest
  * coarse cells and runs ADC only inside them, so query work is
  * nprobe·(n/kc)·m table lookups instead of n·m — with the memory story
  * unchanged (4 B/vec codes + one coarse id). Encoding the residual
  * rather than the raw vector is §IV's key point: residuals concentrate
  * near 0, so a shared ks-entry product codebook quantizes them with
  * far less error than the raw, spread-out vectors.
  *
  * Scale shape — everything before the final bounded re-rank is either
  * scan-local or an equi-join:
  *   - coarse assign: the PqCodesE kernel with m=1, subDim=dim over the
  *     ONE-ROW broadcast flattened coarse codebook (kc = ⌊√n⌋ rows, the
  *     q43 integer ladder) — a pure projection, zero exchange;
  *   - residual + encode: in the SAME projection, residual = qv −
  *     centroid[cell] (zip_with against the broadcast centroid array)
  *     feeds PqCodesE(m=8) over the broadcast residual codebook — no
  *     join rows, no aggregation state (the q80 round-8 discipline);
  *   - probe scoring: the per-(query, probed-cell) LUT table is q·nprobe
  *     rows (bounded — queries are a batch, nprobe a constant) and
  *     equi-joins the encoded corpus ON THE CELL KEY — a broadcast HASH
  *     join, not even a nested loop; ADC is m O(1) element_at lookups;
  *   - the only exchange is TopKPairs' partial top-R, then ≤ q·R
  *     candidates join back for the exact re-rank.
  *
  * Determinism: the whole family stays in the PQ discipline — exact
  * BIGINT squared-L2 everywhere (d² = ⟨a,a⟩+⟨b,b⟩−2⟨a,b⟩ on DotLong;
  * residuals are differences of quantized longs, still exact), argmin
  * tie-breaks by centroid rank (= c_id order), ADC sums of exact ints.
  * Zero floating point anywhere, so the q86/q87 oracles replay with no
  * ulp risk.
  */
object IvfPq {
  import Pq.d2

  /** A staged IVFADC index: the coarse centroid table (cr, c_id, c_vec,
    * c_self) + its flattened one-row broadcast form, at two levels the
    * per-coarse-cell fine codebooks (cell1, fb), and the residual PQ
    * codebook (ranked rows + one-row broadcast form). `kc` counts
    * coarse centroids, `ks` PQ centroids per subspace.
    */
  private[graft] case class Index(coarse: DataFrame, coarseArr: DataFrame,
                                  kc: Int, fine: Option[DataFrame],
                                  pqCbR: DataFrame, pqArr: DataFrame,
                                  ks: Int, dim: Int, m: Int, subDim: Int) {
    /** The cell key columns: cell rank, or (cell1 rank, cell2 fine id). */
    def keys: Seq[String] = if (fine.isEmpty) Seq("cell") else Seq("cell1", "cell2")
  }

  /** Per-centroid rows (cr, c_id, c_vec, c_self) — rank = position in
    * the sorted array.
    */
  private def coarseRowsOf(ceArr: DataFrame): DataFrame =
    ceArr.select(posexplode(col("ce")))
      .select(col("pos").cast("long").as("cr"), col("col.c_id").as("c_id"),
        col("col.c_vec").as("c_vec"), col("col.c_self").as("c_self"))

  /** The coarse table flattened to the one-row broadcast the kernels
    * read: `ccbf` = rank-ordered [c_vec, c_self] blocks (the PqCodesE
    * m=1 layout), `cvecs` = rank-ordered centroid vectors (for the
    * residual subtraction), `cids` = rank → centroid vector id.
    */
  private def coarseArrOf(ceArr: DataFrame): DataFrame =
    ceArr
      .select(
        flatten(transform(col("ce"),
          e => concat(e("c_vec"), array(e("c_self"))))).as("ccbf"),
        transform(col("ce"), e => e("c_vec")).as("cvecs"),
        transform(col("ce"), e => e("c_id")).as("cids"))

  /** (c_id, c_vec, c_self) centroid rows of one coarse level. */
  private def centroidRows(corpus: DataFrame, s: Ann.Seeds): DataFrame =
    Ann.centroids(corpus, s).select(col("c_id"), col("c_qv").as("c_vec"),
      quantDot(col("c_qv"), col("c_qv")).as("c_self"))

  /** Build (memoized — one staged index per corpus and description) the
    * IVFADC index `spec` describes. The coarse centroids collapse to ONE
    * sorted-array row in c_id order: the dense rank `cr` is the ARRAY
    * POSITION — no rank window anywhere, so the corpus-scale "No
    * Partition Defined" lint stays clean without a fake partition key.
    *
    * Two levels (round 10 — the 10¹² composition): the √n one-row
    * coarse broadcast re-meets the 512 MB frontier at n ≈ 10¹² that the
    * two-level IVF (q70) exists to cross, so cell1 comes from the ∛n
    * one-row broadcast and cell2 from the FINE codebook of the vector's
    * own coarse cell: fine seeds are labeled by the SAME coarse pass and
    * collapsed to one sorted codebook array per coarse cell (≤ c₁ rows,
    * keyed by cell1 and EQUI-JOINED, never broadcast as a whole).
    */
  private[graft] def build(spec: Ann.Index): Index = {
    val c = spec.codes.get
    require(spec.levels.size == 1 || spec.levels.size == 2,
      "IVFADC needs one or two coarse levels")
    Ann.staged(spec.corpus, (spec.levels, c.stride, c.m, c.dim)) {
      val ceArr = centroidRows(spec.corpus, spec.levels.head)
        .agg(graft.functions.GraftFunctions.nonEmptySample(
          sort_array(collect_list(struct(
            col("c_id"), col("c_vec"), col("c_self")))),
          "IvfPq.coarseArrayRow").as("ce"))
        .localCheckpoint()
      val coarse = coarseRowsOf(ceArr)
      val kc = coarse.count().toInt
      val coarseArr = coarseArrOf(ceArr).localCheckpoint()
      val fine = spec.levels.lift(1).map { s =>
        centroidRows(spec.corpus, s)
          .crossJoin(broadcast(coarseArr))
          .select(col("c_id"), col("c_vec"), col("c_self"),
            element_at(pqCodes(col("c_vec"), col("ccbf"), 1, c.dim, kc), 1)
              .as("cell1"))
          .groupBy(col("cell1"))
          .agg(sort_array(collect_list(struct(
            col("c_id"), col("c_vec"), col("c_self")))).as("fb"))
          .localCheckpoint()
      }
      val ix = Index(coarse, coarseArr, kc, fine, null, null, 0,
        c.dim, c.m, c.dim / c.m)
      val (pqCbR, pqArr, ks) = Pq.staged(Pq.ranked(Pq.codebook(
        residuals(spec.corpus, ix), c.stride, c.m, ix.subDim, "res")),
        "IvfPq index")
      ix.copy(pqCbR = pqCbR, pqArr = pqArr, ks = ks)
    }
  }

  /** The sample-seeded one-level index for a corpus of `n` vectors —
    * the frozen quantizer of the live index (C19) and q94.
    */
  private[graft] def index(corpus: DataFrame, n: Long, dim: Int = 64,
                           m: Int = 8, ksTarget: Int = 16): Index =
    build(Ann.index(corpus, n, 1,
      codes = Some(Ann.codesFor(n, ksTarget, m, dim))))

  /** Exact-L2 scored struct array over a fine codebook array `fb`
    * (elements struct(c_id, c_vec, c_self), sorted by c_id): each entry
    * (d2, cid, cv) — array_min gives the assignment (tie-break d2 then
    * c_id, unique), array_sort + slice gives the probe set. Scan-local.
    */
  private def fineScored(v: Column, selfv: Column, fb: Column): Column =
    transform(fb, e => struct(
      d2(selfv, e("c_self"), quantDot(v, e("c_vec"))).as("d2"),
      e("c_id").as("cid"), e("c_vec").as("cv")))

  /** Every input column + the cell key(s) + `res`, the residual v −
    * centroid(cell(v)). The coarse argmin is the PqCodesE kernel with
    * m=1, subDim=dim over the one-row broadcast coarse codebook — a pure
    * projection, zero exchange. At two levels ONE keyed equi-join on
    * cell1 brings the cell's fine codebook, the fine argmin is an
    * array_min over d² structs (scan-local, exact BIGINT, tie-broken by
    * fine centroid id so DuckDB replays it), and the residual is taken
    * against the (cell1, cell2) centroid — the coarse centroid when the
    * cell has no fine seed (cell2 = -1) — so residuals concentrate
    * tighter than one level's: §IV's point applied twice.
    */
  private[graft] def residuals(rows: DataFrame, ix: Index,
                               qvCol: String = "qv"): DataFrame = {
    val v = col(qvCol)
    val coarse = rows.crossJoin(broadcast(ix.coarseArr))
      .withColumn(ix.keys.head,
        element_at(pqCodes(v, col("ccbf"), 1, ix.dim, ix.kc), 1))
      .withColumn("cvec",
        element_at(col("cvecs"), (col(ix.keys.head) + 1).cast("int")))
    val located = ix.fine.fold(coarse)(fine => coarse
      .join(fine, Seq("cell1"), "left")
      .withColumn("best", when(col("fb").isNull, lit(null))
        .otherwise(array_min(fineScored(v, quantDot(v, v), col("fb")))))
      .withColumn("cell2", coalesce(col("best.cid"), lit(-1L)))
      .withColumn("cvec", coalesce(col("best.cv"), col("cvec"))))
    located.withColumn("res", zip_with(v, col("cvec"), (a, b) => a - b))
      .drop("ccbf", "cvecs", "cids", "cvec", "fb", "best")
  }

  /** Encode arbitrary rows against a FROZEN index: adds (cell key(s),
    * codes) as scan-local projections (coarse argmin → residual → PQ
    * codes, all against the index's one-row broadcast frames),
    * preserving every input column. Works identically on batch and
    * STREAMING frames (the codebooks are static broadcast sides of a
    * stream-static join) — the round-11 live-embedding-index face
    * (SURVEY.md §2.C19/D37) and the batch q86 path share this exact
    * code, so live == rebuild is structural.
    */
  private[graft] def encodeRows(rows: DataFrame, ix: Index,
                                qvCol: String): DataFrame =
    residuals(rows, ix, qvCol)
      .crossJoin(broadcast(ix.pqArr))
      .withColumn("codes",
        pqCodes(col("res"), col("cbf"), ix.m, ix.subDim, ix.ks))
      .drop("res", "cbf", "cid")

  /** The encoded corpus (id, cell key(s), codes), reusable as a
    * maintained index table (C19 stores exactly this shape per vec).
    */
  private[graft] def encodeWith(corpus: DataFrame, ix: Index): DataFrame =
    encodeRows(corpus, ix, "qv")
      .select((col("id") +: ix.keys.map(col) :+ col("codes")): _*)

  /** Rebuild a one-level Index from its two STORED codebook tables —
    * the live deployment path (C19): `coarseRows` in the ix.coarse shape
    * (cr, c_id, c_vec, c_self), `pqRows` in the ix.pqCbR shape
    * (c_id, sub, c_sv, c_self, r). A restart reconstructs the exact
    * frozen quantizer from the catalog, so encodes stay bit-identical
    * across process lifetimes (LiveIndexSpec pins stored == memoized).
    */
  private[graft] def indexFromStored(coarseRows: DataFrame, pqRows: DataFrame,
                                     dim: Int = 64, m: Int = 8): Index = {
    val ceArr = coarseRows
      .agg(sort_array(collect_list(struct(
        col("c_id"), col("c_vec"), col("c_self")))).as("ce"))
      .localCheckpoint()
    val kc = coarseRows.count().toInt
    require(kc > 0, "IvfPq.indexFromStored: empty stored coarse " +
      "codebook table — a rebuilt quantizer would silently degenerate")
    val (pqCbR, pqArr, ks) = Pq.staged(pqRows.select(col("c_id"),
      col("sub"), col("c_sv"), col("c_self"), col("r")).localCheckpoint(),
      "IvfPq.indexFromStored")
    Index(coarseRowsOf(ceArr), coarseArrOf(ceArr).localCheckpoint(), kc,
      None, pqCbR, pqArr, ks, dim, m, dim / m)
  }

  /** IVFADC top-k through the index `spec` describes: the corpus is
    * encoded by ONE scan-local projection per vector (cell key(s) + m
    * codes) and probed. Output (q_id, rn, neighbor, dist2) — the q80
    * shape, exact BIGINTs throughout. `nprobe` is the caller's recall
    * knob (q68's standing rule: the q87/q91 audits are its meter).
    */
  private[operators] def topK(spec: Ann.Index, queries: DataFrame,
                              nprobe: Int, k: Int): DataFrame = {
    val ix = build(spec)
    probeEncoded(encodeWith(spec.corpus, ix), spec.corpus, queries, ix,
      nprobe, k, spec.codes.get.rerank)
  }

  /** The probe half over an ALREADY-ENCODED corpus `enc` (id, cell
    * key(s), codes) — C19 probes its maintained index table through
    * this without re-encoding anything; `corpus` supplies the raw
    * vectors for the exact re-rank tail only.
    *
    * A query probes its `nprobe` nearest coarse cells (a q × kc scored
    * window frame — bounded) and, at two levels, within each its
    * `nprobe` nearest fine cells (scan-local sorted slice of the joined
    * fine codebook; a cell with no fine seed probes (cell1, -1) against
    * the coarse centroid). The per-(query, probed cell) residual LUT is
    * q·nprobe·m·ks rows (bounded) and equi-joins the encoded corpus ON
    * THE CELL KEY — a broadcast HASH join, not a nested loop; ADC is m
    * O(1) element_at lookups; the only exchange is TopKPairs' partial
    * top-R, then ≤ q·R candidates join back for the exact re-rank.
    */
  private[graft] def probeEncoded(enc: DataFrame, corpus: DataFrame,
                                  queries: DataFrame, ix: Index,
                                  nprobe: Int, k: Int,
                                  rerank: Int): DataFrame = {
    import ix.{keys, ks, subDim, m}
    val qs = Pq.withSelf(queries, "q_")
    val pw = Window.partitionBy(col("q_id")).orderBy(col("cd2"), col("cr"))
    val coarse = qs.crossJoin(broadcast(ix.coarse))
      .select(col("q_id"), col("q_qv"), col("q_self"), col("cr"),
        col("c_vec"),
        d2(col("q_self"), col("c_self"),
          quantDot(col("q_qv"), col("c_vec"))).as("cd2"))
      .withColumn("pr", row_number().over(pw))
      .filter(col("pr") <= nprobe)
    val probes = ix.fine match {
      case None => coarse.select(col("q_id"), col("cr").as("cell"),
        zip_with(col("q_qv"), col("c_vec"), (a, b) => a - b).as("rq"))
      case Some(fine) => coarse
        .select(col("q_id"), col("q_qv"), col("q_self"),
          col("cr").as("cell1"), col("c_vec").as("c_cv"))
        .join(fine, Seq("cell1"), "left")
        .select(col("q_id"), col("cell1"), col("q_qv"),
          explode(when(col("fb").isNull,
            array(struct(lit(-1L).as("cid"), col("c_cv").as("cv"))))
            .otherwise(transform(
              slice(array_sort(
                fineScored(col("q_qv"), col("q_self"), col("fb"))),
                1, nprobe),
              e => struct(e("cid").as("cid"), e("cv").as("cv"))))).as("f"))
        .select(col("q_id"), col("cell1"), col("f.cid").as("cell2"),
          zip_with(col("q_qv"), col("f.cv"), (a, b) => a - b).as("rq"))
    }
    // per-(query, probed cell) LUT: d²(query-residual subvector, pq
    // centroid) for every (sub, rank)
    val rsv = slice(col("rq"), col("sub") * subDim + 1, lit(subDim))
    val cellCols = keys.map(col)
    val lut = probes
      .crossJoin(broadcast(ix.pqCbR))
      .select((col("q_id") +: cellCols) ++ Seq(col("sub"), col("r"),
        d2(quantDot(rsv, rsv), col("c_self"), quantDot(rsv, col("c_sv")))
          .as("d2q")): _*)
      .groupBy((col("q_id") +: cellCols): _*)
      .agg(transform(
        sort_array(collect_list(struct(col("sub"), col("r"), col("d2q")))),
        e => e("d2q")).as("lut"))
    // ADC inside probed cells only: broadcast HASH join on the cell key
    val adcSum = (0 until m).map { s =>
      element_at(col("lut"),
        (lit(s * ks) + element_at(col("codes"), s + 1) + 1).cast("int"))
    }.reduce(_ + _)
    val cands = enc.join(broadcast(lut), keys)
      .filter(col("id") =!= col("q_id"))
      .select(col("q_id"), col("id"), adcSum.as("adc"))
    Pq.rerank(Pq.candidates(cands, rerank), corpus, qs, k)
  }
}
