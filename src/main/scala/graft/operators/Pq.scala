package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/** Product-quantization ANN (SURVEY.md §2.D7f; Jégou, Douze, Schmid,
  * "Product Quantization for Nearest Neighbor Search", TPAMI 2011) —
  * the memory-compression face of approximate search, complementing the
  * partition faces (IVF q43, LSH q36, two-level IVF q70): each vector is
  * stored as m small per-subspace codes (m·log2(ks) bits instead of
  * dim·64), and query distance is approximated from per-subspace
  * lookup tables (ADC — asymmetric distance computation), then a
  * bounded candidate set re-ranks exactly.
  *
  * At 10¹² vectors the uncompressed corpus (dim 64 × 8 B = 512 B/vec)
  * is ~0.5 PB; PQ codes at m=8, ks=16 are 4 B/vec — the difference
  * between "the scan reads the lake" and "the scan reads 4 TB". The
  * codebook is m·ks rows at ANY corpus size (fixed compression budget,
  * NOT a partition count — unlike IVF's k, ks must not grow with n:
  * encode cost n·m·ks and ADC cost n·m·q stay linear in n with ks
  * constant, so the adaptive-k lessons of q34/q43 do not apply here
  * and there is no clamp for a quadratic to hide behind).
  *
  * Scale shape (round-8 rewrite): both hot stages are SCAN-LOCAL array
  * expressions over one-row broadcasts — encode evaluates the m·ks
  * argmin per vector inside a projection against the broadcast ranked
  * codebook array (128 structs), and ADC sums m O(1) element_at
  * lookups per (vector, query) against the broadcast LUT array
  * (q·m·ks longs, index = (qIdx·m + sub)·ks + rank). Nothing is
  * exploded n·m·ks wide and nothing aggregates by (q, id): the only
  * exchange before the re-rank is TopKPairs' partial top-R (≤ R rows
  * per query per partition). The previous form (explode(m) → broadcast
  * join → keyed argmin; codes ⋈ LUT → (q, id)-keyed sum) was
  * algebraically identical but materialized n·m·ks join rows through
  * two aggregations — linear, but with a sort-spill cliff once the
  * per-task hash state outgrew memory (measured at sf50: ~39 GB of
  * UnsafeExternalSorter spill, 14× the sf10 wall for 5× the data; the
  * scan-local form has no aggregation state at all).
  *
  * Determinism: EVERYTHING is exact BIGINT arithmetic — squared L2 over
  * quantized vectors via d² = ⟨a,a⟩ + ⟨b,b⟩ − 2⟨a,b⟩ on the native
  * DotLong kernel, argmin tie-break (d², centroid rank) with ranks
  * assigned by c_id order (so the winner equals the old min(struct(d²,
  * c_id)) exactly), ADC sums of exact ints. Unlike the cosine family
  * there is NO floating-point op anywhere, so the q80/q81 oracles
  * replay with zero ulp risk.
  */
object Pq {

  private def sub(v: Column, s: Int, subDim: Int): Column =
    slice(v, s * subDim + 1, subDim)

  private[operators] def d2(dotAA: Column, dotBB: Column, dotAB: Column): Column =
    dotAA + dotBB - lit(2L) * dotAB

  /** Per-subspace codebook from the uniform hash-mod sample (the q34
    * rule: never a prefix; round 12: idSample — density-independent)
    * of the `vec` column — raw vectors here, residuals for IVFADC.
    * Output (sub, c_id, c_sv, c_self); m·(n/stride) rows —
    * broadcast-sized by construction.
    */
  private[graft] def codebook(rows: DataFrame, stride: Long, m: Int,
                              subDim: Int, vec: String = "qv"): DataFrame =
    rows.filter(graft.functions.GraftFunctions.idSample(col("id"), stride))
      .select(col("id").as("c_id"),
        explode(array((0 until m).map { s =>
          struct(lit(s).as("sub"), sub(col(vec), s, subDim).as("c_sv"))
        }: _*)).as("e"))
      .select(col("e.sub").as("sub"), col("c_id"), col("e.c_sv").as("c_sv"),
        quantDot(col("e.c_sv"), col("e.c_sv")).as("c_self"))

  /** The codebook with its dense per-subspace rank (0..ks-1, assigned
    * by c_id order — the argmin tie-break order), MATERIALIZED once
    * (localCheckpoint — m·ks rows, the q57/Banding staging pattern):
    * deriving the codebook scans the corpus, and without staging that
    * scan re-runs for the ks count, the LUT build, and the in-plan
    * encode broadcast — three extra corpus scans of pure overhead.
    * Values are unchanged by staging, so the oracle replay is
    * unaffected.
    */
  private[operators] def ranked(cb: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("sub")).orderBy(col("c_id"))
    cb.withColumn("r", row_number().over(w) - 1).localCheckpoint()
  }

  /** A ranked codebook `cbR` staged for the native encode kernel:
    * (cbR, its ONE-ROW broadcast form, ks). `cbf` is the (s·ks +
    * r)·(subDim+1)-offset layout of [c_sv, c_self] blocks
    * (ExprKernels.pqCodes contract), `cid` maps (s·ks + r) back to the
    * centroid's vector id (the public code value). ks comes from a
    * bounded driver action over the m·ks rows (stride = n/16 can yield
    * 16 or 17 centroids; the index arithmetic needs the exact count),
    * and an empty codebook fails loudly instead of degenerating every
    * downstream argmin.
    */
  private[operators] def staged(cbR: DataFrame,
                                what: String): (DataFrame, DataFrame, Int) = {
    val ks = cbR.filter(col("sub") === 0).count().toInt
    require(ks > 0, s"$what: PQ codebook sampled 0 rows (idSample " +
      "stride exceeds the corpus) — refusing to build a degenerate codebook")
    val arr = cbR
      .agg(sort_array(collect_list(struct(
        col("sub"), col("r"), col("c_id"), col("c_sv"), col("c_self"))))
        .as("cbe"))
      .select(
        flatten(transform(col("cbe"),
          e => concat(e("c_sv"), array(e("c_self"))))).as("cbf"),
        transform(col("cbe"), e => e("c_id")).as("cid"))
    (cbR, arr.localCheckpoint(), ks)
  }

  /** PQ codes: nearest per-subspace centroid for every corpus vector.
    * Output (id, sub, code) — the m·log2(ks)-bit compressed corpus.
    * One scan, one native projection (pqCodes kernel), one bounded
    * explode to the long layout; no join rows, no aggregation.
    */
  private[graft] def encode(corpus: DataFrame, cb: DataFrame, m: Int,
                            subDim: Int): DataFrame = {
    val (_, cbArr, ks) = staged(ranked(cb), "Pq.encode")
    corpus
      .crossJoin(broadcast(cbArr))
      .select(col("id"), col("cid"),
        posexplode(pqCodes(col("qv"), col("cbf"), m, subDim, ks)))
      .select(col("id"), col("pos").cast("int").as("sub"),
        element_at(col("cid"),
          (col("pos") * ks + col("col") + 1).cast("int")).as("code"))
  }

  /** (`p`id, `p`qv, `p`self): vectors with their exact BIGINT self-dots. */
  private[operators] def withSelf(df: DataFrame, p: String = ""): DataFrame =
    df.select(col("id").as(p + "id"), col("qv").as(p + "qv"),
      quantDot(col("qv"), col("qv")).as(p + "self"))

  /** Per-query top-`rerank` candidate ids of ADC-scored (q_id, id, adc)
    * rows through TopKPairs' partial top-R (≤ R rows per query per
    * partition into the exchange).
    */
  private[operators] def candidates(scored: DataFrame, rerank: Int): DataFrame =
    scored
      .groupBy(col("q_id"))
      .agg(topKPairs((-col("adc")).cast("double"), col("id"), rerank).as("top"))
      .select(col("q_id"), explode(col("top.id")).as("id"))

  /** The exact re-rank tail every PQ face shares: ≤ q·R (q_id, id)
    * candidates join back to their raw vectors (the only join back to
    * vectors) and re-rank by exact d² against the query batch `qs`
    * (q_id, q_qv, q_self).
    */
  private[operators] def rerank(cands: DataFrame, corpus: DataFrame,
                                qs: DataFrame, k: Int): DataFrame =
    l2TopK(cands
      .join(withSelf(corpus), Seq("id"))
      .join(broadcast(qs), Seq("q_id"))
      .select(col("q_id"), col("id"),
        d2(col("q_self"), col("self"), quantDot(col("q_qv"), col("qv")))
          .as("dist2")), k)

  /** (q_id, id, dist2) → per-query top-k by (dist2 asc, id asc):
    * (q_id, rn, neighbor, dist2), exact BIGINTs throughout.
    */
  private def l2TopK(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy(col("q_id"))
      .agg(topKPairs((-col("dist2")).cast("double"), col("id"), k).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).cast("int").as("rn"),
        col("col.id").as("neighbor"),
        (-col("col.score")).cast("long").as("dist2"))

  /** Raw-vector ADC top-k (the index with PQ codes and no coarse level):
    * per-query per-subspace LUT against the codebook, candidate
    * distances summed from codes, top-`rerank` by ADC, exact re-rank of
    * those candidates to top-k. Output (q_id, rn, neighbor, dist2). Kept
    * apart from IVFADC's probe because its LUT is ONE broadcast row for
    * the whole query batch — routing it through the per-cell LUT would
    * change q80/q81's plan; it shares the candidate and re-rank tail.
    */
  private[operators] def adcTopK(corpus: DataFrame, queries: DataFrame,
                                 c: Ann.Codes, k: Int): DataFrame = {
    import c.m
    val subDim = c.dim / m
    val (cbR, cbArr, ks) = Ann.staged(corpus, ("adc", c.stride, m, c.dim)) {
      staged(ranked(codebook(corpus, c.stride, m, subDim)), "Pq.adcTopK")
    }
    // LUT: d²(query subvector, centroid) for every (query, sub, rank),
    // flattened to ONE broadcast array ordered by (q_id, sub, r) so
    // lut[(qIdx·m + sub)·ks + r] is an O(1) element_at; qids carries
    // the same q_id order for the per-vector posexplode. q·m·ks longs
    // — bounded at any corpus size (the query batch is bounded).
    val lutRow = queries
      .select(col("id").as("q_id"),
        explode(array((0 until m).map { s =>
          struct(lit(s).as("sub"), sub(col("qv"), s, subDim).as("qsv"))
        }: _*)).as("e"))
      .select(col("q_id"), col("e.sub").as("sub"), col("e.qsv").as("qsv"),
        quantDot(col("e.qsv"), col("e.qsv")).as("qself"))
      .join(broadcast(cbR), Seq("sub"))
      .select(col("q_id"), col("sub"), col("r"),
        d2(col("qself"), col("c_self"), quantDot(col("qsv"), col("c_sv")))
          .as("d2q"))
      .agg(
        transform(
          sort_array(collect_list(struct(col("q_id"), col("sub"), col("r"),
            col("d2q")))),
          e => e("d2q")).as("lut"),
        sort_array(collect_set(col("q_id"))).as("qids"))
    // scan-local scoring: the native pqCodes projection once per vector,
    // then q rows per vector via posexplode(qids), adc = Σ_s lut[idx] —
    // m O(1) element_at lookups, all whole-stage-codegen; the only
    // exchange is TopKPairs' partial top-R (≤ R rows/query/partition)
    val adcSum = (0 until m).map { s =>
      element_at(col("lut"),
        ((col("pos") * m + s) * ks +
          element_at(col("codes"), s + 1) + 1).cast("int"))
    }.reduce(_ + _)
    val cands = corpus
      .crossJoin(broadcast(cbArr.crossJoin(lutRow)))
      .select(col("id"),
        pqCodes(col("qv"), col("cbf"), m, subDim, ks).as("codes"),
        col("lut"), posexplode(col("qids")))
      .select(col("id"), col("pos"), col("col").as("q_id"), adcSum.as("adc"))
      .filter(col("id") =!= col("q_id"))
    rerank(candidates(cands, c.rerank), corpus, withSelf(queries, "q_"), k)
  }

  /** Exact squared-L2 brute-force top-k — the ground truth the PQ faces
    * are recall-audited against (q81/q87/q91): broadcast query batch ×
    * one corpus scan, TopKPairs partial aggregate, all-BIGINT.
    */
  def bruteForceL2TopK(corpus: DataFrame, queries: DataFrame,
                       k: Int = 10): DataFrame =
    l2TopK(withSelf(corpus)
      .join(broadcast(withSelf(queries, "q_")), col("id") =!= col("q_id"))
      .select(col("q_id"), col("id"),
        d2(col("q_self"), col("self"), quantDot(col("q_qv"), col("qv")))
          .as("dist2")), k)
}
