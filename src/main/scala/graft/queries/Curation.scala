package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.functions.GraftFunctions._
import graft.operators.Ann

/** Corpus-curation suite, part 2 (SURVEY.md §2.D20–D24): embedding
  * clustering, semantic dedup, chunk-level (CCNet-style) dedup,
  * temperature-sampled source mixing, and vocabulary/coverage stats —
  * the data-mixing half of a training-data pipeline, over the driver's
  * `documents`/`embeddings` tables.
  *
  * Everything here follows the suite's two standing contracts:
  *   - scale: corpus-sized data is never self-joined without a key and
  *     never moved for per-row work (assignment/score/filter steps are
  *     scan-local projections; the only shuffles are keyed partial
  *     aggregations and the k-row / vocab-row broadcast joins);
  *   - oracle exactness: all arithmetic that decides output values is
  *     integer-exact or single-division IEEE (quantized dots, BIGINT
  *     sums, md5 buckets), so DuckDB replays bit-for-bit.
  */
object Curation {

  private def qEmb(s: org.apache.spark.sql.SparkSession, dir: String) =
    t(s, dir, "embeddings")
      .select(col("vec_id").as("id"), quantize(col("embedding")).as("qv"))

  /** Centroid seed for q57/q58: a uniform hash-mod sample (idSample —
    * density-independent; raw id % stride collapsed on sparse id
    * spaces, the round-12 q94 sf10 find) sized by
    * `Ann.centroidCountFor` (k = ⌊√n⌋, min 16). Fixed k made q58's
    * in-cluster pairwise work n²/k (the §5 sf1 rehearsal defect);
    * k ~ n/75 fixed that but made the ASSIGN pass n²/75 — the sf20
    * decade measured 1.6B centroid dots, 80× the pairwise work. √n
    * balances the two at O(n^1.5) with no clamp (see centroidCountFor's
    * scaladoc). Prefix seeds collapse replicated id spaces. The
    * count() is footer-cheap.
    */
  private def seedOf(s: org.apache.spark.sql.SparkSession,
                     dir: String): org.apache.spark.sql.Column = {
    val n = t(s, dir, "embeddings").count()
    val stride = math.max(1L, n / Ann.centroidCountFor(n))
    graft.functions.GraftFunctions.idSample(col("id"), stride)
  }

  /** Shared oracle prefix: quantized embeddings + two Lloyd rounds from
    * the deterministic seed (the same COUNT-driven hash-mod sample as
    * seedOf — md5-prefix idiom + GREATEST/LEAST integer arithmetic,
    * replayed exactly),
    * matching Cluster.kmeansAssignSeeded's arithmetic (argmax ties to
    * the lower centroid id; centroid update = ROUND over an exact
    * BIGINT sum).
    *
    * Replay-cost note: the argmax windows deliberately do NOT carry the
    * 64-element qv list — the n x k scored intermediate holds only
    * (vec_id, c_id, c_cos) and qv re-joins by vec_id afterward. With qv
    * inline the sf5 replay materialized >70 GB (DuckDB windows
    * materialize their input); slimmed, the same intermediate is ~24
    * bytes/row, which is what makes the oracle gate runnable at the
    * rehearsal scales at all.
    */
  private val kmeansCtes = """WITH q AS (
      SELECT vec_id,
        list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS qv
      FROM embeddings),
    c0 AS (SELECT vec_id AS c_id, qv AS c_qv FROM q
           WHERE ('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 12))::BIGINT % (SELECT GREATEST(1, COUNT(*) //
             GREATEST(16, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT))) FROM q) = 0),
    a0 AS (
      SELECT s.vec_id, q.qv, s.cluster FROM (
        SELECT vec_id, cell AS cluster FROM (
          SELECT q.vec_id, c.c_id AS cell,
            ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
              list_dot_product(q.qv, c.c_qv) / sqrt(list_dot_product(q.qv, q.qv) * list_dot_product(c.c_qv, c.c_qv)) DESC,
              c.c_id) AS crn
          FROM q CROSS JOIN c0 c) WHERE crn = 1) s JOIN q USING (vec_id)),
    ex AS (SELECT cluster, unnest(qv) AS val, unnest(range(len(qv))) AS pos FROM a0),
    c1 AS (
      SELECT cluster AS c_id, list(v ORDER BY pos) AS c_qv FROM (
        SELECT cluster, pos, CAST(ROUND(CAST(SUM(val) AS DOUBLE) / COUNT(*), 0) AS BIGINT) AS v
        FROM ex GROUP BY cluster, pos) GROUP BY cluster),
    a1 AS (
      SELECT s.vec_id, q.qv, s.cluster FROM (
        SELECT vec_id, cell AS cluster FROM (
          SELECT q.vec_id, c.c_id AS cell,
            ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
              list_dot_product(q.qv, c.c_qv) / sqrt(list_dot_product(q.qv, q.qv) * list_dot_product(c.c_qv, c.c_qv)) DESC,
              c.c_id) AS crn
          FROM q CROSS JOIN c1 c) WHERE crn = 1) s JOIN q USING (vec_id))"""

  // ---- D20: k-means embedding clustering (Lloyd, 2 rounds) --------------
  // Assignment is the map-side native argmax over a broadcast codebook
  // (zero exchange on the corpus side); the centroid update partial-
  // aggregates to <= k x dim rows per partition. The oracle replays both
  // rounds in SQL because every step is engine-exact arithmetic.
  private val q57 = Qdef(
    "q57_kmeans",
    (s, dir) =>
      graft.operators.Cluster
        .kmeansAssignSeeded(qEmb(s, dir), seedOf(s, dir), iters = 2)
        .select(col("id").as("vec_id"), col("cluster"))
        .orderBy(col("vec_id")),
    Some(kmeansCtes + """
    SELECT vec_id, cluster FROM a1 ORDER BY vec_id"""))

  // ---- D21: SemDeDup (semantic dedup inside k-means clusters) -----------
  // Abbas et al. 2023: pairwise cosine work confined to cluster blocks
  // (never corpus^2); a vector is dropped iff a lower-id vector in its
  // cluster has cosine >= 0.4 with it, so survivors are deterministic.
  private val q58 = Qdef(
    "q58_semdedup",
    (s, dir) =>
      graft.operators.Cluster
        .semDedupSeeded(qEmb(s, dir), seedOf(s, dir), iters = 2,
          threshold = 0.4, stage = true)
        .select(col("id").as("vec_id"), col("cluster"))
        .orderBy(col("vec_id")),
    Some(kmeansCtes + """,
    dropped AS (
      SELECT DISTINCT b.vec_id FROM a1 a JOIN a1 b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE list_dot_product(a.qv, b.qv) /
        sqrt(list_dot_product(a.qv, a.qv) * list_dot_product(b.qv, b.qv)) >= 0.4)
    SELECT vec_id, cluster FROM a1
    WHERE vec_id NOT IN (SELECT vec_id FROM dropped) ORDER BY vec_id"""))

  // ---- D22: chunk-level dedup (CCNet-style paragraph dedup) -------------
  // The corpus has no newlines, so the "paragraph" unit is the
  // non-overlapping 8-token chunk (the unit function is the only thing
  // that changes vs CCNet's line-hash dedup). One keyed partial
  // aggregation computes corpus-wide chunk frequencies; a chunk occurring
  // >= 2 times anywhere is boilerplate and is cut from every document.
  // Per doc: chunk counts and the md5 of the cleaned text (kept chunks
  // rejoined in order) — a value-level check that the reassembly is
  // exact. The frequency join is keyed on the chunk (AQE broadcasts the
  // dup side when small); nothing is ever pairwise.
  private val q59 = Qdef(
    "q59_chunk_dedup",
    (s, dir) =>
      graft.operators.ChunkDedup
        .stats(t(s, dir, "documents"), "doc_id", "text", chunkTokens = 8)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id")),
    Some("""WITH ch AS (
      SELECT doc_id,
        unnest([array_to_string(toks[i*8+1 : i*8+8], ' ') for i in range(len(toks)//8)]) AS chunk,
        unnest(range(len(toks)//8)) AS pos
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
    freq AS (SELECT chunk, COUNT(*) AS freq FROM ch GROUP BY chunk)
    SELECT ch.doc_id, COUNT(*) AS n_chunks,
      CAST(SUM(CASE WHEN freq >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
      md5(COALESCE(string_agg(chunk, ' ' ORDER BY pos) FILTER (freq < 2), '')) AS clean_md5
    FROM ch JOIN freq USING (chunk)
    GROUP BY ch.doc_id ORDER BY ch.doc_id"""))

  // ---- D23: temperature-sampled source mixing ----------------------------
  // Data-mixing for training corpora: per-source keep probability
  // p = sqrt(mass_s / max mass) (temperature 0.5 toward the biggest
  // source), selection by md5 bucket of the content — reproducible on
  // any engine, no RNG. The per-source stats frame is O(#sources) rows
  // and joins back broadcast; the corpus pass is scan-local. p is
  // quantized to 6 decimals on both sides; the bucket test compares an
  // exact INT against p*10000 in doubles (no double->int cast, which
  // truncates in Spark but rounds in DuckDB).
  private val q60 = Qdef(
    "q60_mixing",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val stats = docs.groupBy(col("source")).agg(sum(col("n_chars")).as("mass"))
      val p = stats.crossJoin(broadcast(stats.agg(max(col("mass")).as("mx"))))
        .select(col("source"),
          round(sqrt(col("mass").cast("double") / col("mx")), 6).as("p_keep"))
      val bucket = conv(substring(md5(col("text").cast("binary")), 1, 4), 16, 10)
        .cast("int") % 10000
      docs.join(broadcast(p), Seq("source"))
        .select(col("source"), col("n_chars"), col("p_keep"),
          (bucket < col("p_keep") * 10000.0).as("keep"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("keep"), col("n_chars")).otherwise(0L)).as("kept_chars"),
          min(col("p_keep")).as("p_keep"))
        .orderBy(col("source"))
    },
    Some("""WITH s AS (SELECT source, SUM(n_chars) AS mass FROM documents GROUP BY source),
    m AS (SELECT MAX(mass) AS mx FROM s),
    p AS (SELECT source, ROUND(sqrt(CAST(mass AS DOUBLE) / mx), 6) AS p_keep FROM s, m),
    k AS (
      SELECT d.source, d.n_chars, p.p_keep,
        (CAST(('0x' || substring(md5(d.text), 1, 4))::INT64 AS INT) % 10000) < p.p_keep * 10000.0 AS keep
      FROM documents d JOIN p ON d.source = p.source)
    SELECT source, COUNT(*) AS n_total,
      CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      CAST(SUM(CASE WHEN keep THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
      MIN(p_keep) AS p_keep
    FROM k GROUP BY source ORDER BY source"""))

  // ---- D24: vocabulary coverage / OOV-rate stats --------------------------
  // Corpus vocabulary = top-20 tokens by global frequency (count desc,
  // token asc — a deterministic cut); per-language coverage = fraction of
  // token occurrences inside that vocabulary. The frequency aggregation
  // partial-combines map-side; the vocabulary collapses to a one-row
  // broadcast array, so the per-doc membership count is scan-local array
  // work; the rate is a single division of exact BIGINTs.
  private val q61 = Qdef(
    "q61_vocab",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = docs.select(col("lang"), explode(split(col("text"), " ")).as("tk"))
      val vocab = broadcast(
        toks.groupBy(col("tk")).agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("tk")).limit(20)
          .agg(collect_set(col("tk")).as("vocab")))
      docs.crossJoin(vocab)
        .select(col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tok"),
          size(filter(split(col("text"), " "),
            x => array_contains(col("vocab"), x))).cast("long").as("n_inv"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("toks"),
          sum(col("n_inv")).as("in_vocab"))
        .select(col("lang"), col("n_docs"), col("toks"), col("in_vocab"),
          (col("in_vocab").cast("double") / col("toks")).as("coverage"))
        .orderBy(col("lang"))
    },
    Some("""WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tk FROM documents),
    vocab AS (
      SELECT list(tk) AS v FROM
        (SELECT tk, COUNT(*) AS c FROM tok GROUP BY tk ORDER BY c DESC, tk LIMIT 20))
    SELECT lang, COUNT(*) AS n_docs,
      CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS toks,
      CAST(SUM(len(list_filter(string_split(text, ' '), x -> list_contains(v, x)))) AS BIGINT) AS in_vocab,
      CAST(SUM(len(list_filter(string_split(text, ' '), x -> list_contains(v, x)))) AS DOUBLE) /
        CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS coverage
    FROM documents, vocab GROUP BY lang ORDER BY lang"""))

  // ---- D7b+D20: IVF ANN over the kmeans-REFINED codebook ------------------
  // The production ANN path: one Lloyd round re-centers the uniform-sample
  // codebook on the data's intrinsic direction families (bounding cell
  // occupancy by true cluster sizes, not the sample's luck), then the
  // standard IVF probe/re-rank runs against it. Plan shape is unchanged
  // from q43 — zero-exchange assignment, broadcast probe batch, cell-key
  // equi-join, partial top-k — and the oracle replays the Lloyd round
  // (kmeansCtes c1) plus the probe in SQL because every step is
  // engine-exact arithmetic.
  private val q67 = Qdef(
    "q67_ann_ivf_kmeans",
    (s, dir) => {
      val corpus = qEmb(s, dir)
      val n = t(s, dir, "embeddings").count()
      // round 16 size-routed face: below Ann.twoLevelThreshold this is
      // the single-level √n-seed kmeans codebook the CTE replays; above
      // it (sf10+ ladder) the coarse level is a kmeans-refined ∛n
      // codebook feeding the two-level probe — O(n^{4/3}) end to end
      Ann.topK(Ann.sized(corpus, n, rounds = 1), corpus.filter(col("id") < 10),
          nprobe = 4, k = 10)
        .orderBy(col("q_id"), col("rn"))
    },
    Some(kmeansCtes + """,
    probes AS (
      SELECT vec_id AS q_id, qv AS q_qv, c_id AS cell FROM (
        SELECT q.vec_id, q.qv, c.c_id,
          ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
            list_dot_product(q.qv, c.c_qv) / sqrt(list_dot_product(q.qv, q.qv) * list_dot_product(c.c_qv, c.c_qv)) DESC,
            c.c_id) AS prn
        FROM q CROSS JOIN c1 c WHERE q.vec_id < 10) WHERE prn <= 4),
    cand AS (
      SELECT p.q_id, a.vec_id AS neighbor,
        list_dot_product(p.q_qv, a.qv) /
          sqrt(list_dot_product(p.q_qv, p.q_qv) * list_dot_product(a.qv, a.qv)) AS cos_sim
      FROM probes p JOIN a1 a ON p.cell = a.cluster AND a.vec_id <> p.q_id)
    SELECT q_id, neighbor, cos_sim, rn FROM (
      SELECT q_id, neighbor, cos_sim,
        CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, neighbor) AS INT) AS rn
      FROM cand)
    WHERE rn <= 10 ORDER BY q_id, rn"""))

  // ---- D7c+D20: recall audit of the kmeans-refined IVF path --------------
  // q68 grades the modulo-sample codebook paths; this grades the
  // PRODUCTION codebook (q67's kmeans-refined one) against the same
  // brute-force top-10 ground truth, and adds the per-query recall
  // DISTRIBUTION (min / p50) — a mean recall can hide queries the index
  // fully misses. Everything that decides output values is exact BIGINT
  // arithmetic: per-query hit counts are ints, the median is the sum of
  // the two middle order statistics (no engine interpolation — Spark's
  // percentile() computes a*w1+b*w2 while DuckDB's quantile_cont
  // computes a+(b-a)*f, and the two differ in rounding; the dsum 1-ulp
  // lesson from the sf5 rehearsal applies verbatim), and each final
  // recall is ONE correctly-rounded division of identical integers.
  // Denominators are DERIVED from the data — MAX(n_truth_q) (= k when
  // the corpus has ≥ k+1 vectors, the per-query truth size otherwise)
  // and 2·MAX for the median-of-two-middles — never hard-coded to k,
  // so changing k or auditing a tiny corpus cannot silently misreport.
  private val q69 = Qdef(
    "q69_ann_recall_kmeans",
    (s, dir) => {
      val corpus = qEmb(s, dir)
      val n = t(s, dir, "embeddings").count()
      val queries = corpus.filter(col("id") < 10)
      val truth = Ann.bruteForceTopK(corpus, queries, k = 10)
      val ivfK = Ann.topK(Ann.index(corpus, n, levels = 1, rounds = 1),
        queries, nprobe = 4, k = 10)
      Ann.recallAudit(truth.select(col("q_id"), col("neighbor")), ivfK,
        "ivf_kmeans", perQuery = true)
    },
    Some(kmeansCtes + """,
    probes AS (
      SELECT vec_id AS q_id, qv AS q_qv, c_id AS cell FROM (
        SELECT q.vec_id, q.qv, c.c_id,
          ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
            list_dot_product(q.qv, c.c_qv) / sqrt(list_dot_product(q.qv, q.qv) * list_dot_product(c.c_qv, c.c_qv)) DESC,
            c.c_id) AS prn
        FROM q CROSS JOIN c1 c WHERE q.vec_id < 10) WHERE prn <= 4),
    cand AS (
      SELECT p.q_id, a.vec_id AS neighbor,
        list_dot_product(p.q_qv, a.qv) /
          sqrt(list_dot_product(p.q_qv, p.q_qv) * list_dot_product(a.qv, a.qv)) AS cos_sim
      FROM probes p JOIN a1 a ON p.cell = a.cluster AND a.vec_id <> p.q_id),
    ivfk AS (
      SELECT q_id, neighbor FROM (
        SELECT q_id, neighbor,
          ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, neighbor) AS rn
        FROM cand) WHERE rn <= 10),
    truth AS (
      SELECT q_id, neighbor FROM (
        SELECT qs.vec_id AS q_id, c.vec_id AS neighbor,
          ROW_NUMBER() OVER (PARTITION BY qs.vec_id ORDER BY
            list_dot_product(qs.qv, c.qv) /
            sqrt(list_dot_product(qs.qv, qs.qv) * list_dot_product(c.qv, c.qv)) DESC,
            c.vec_id) AS rn
        FROM q qs JOIN q c ON qs.vec_id < 10 AND c.vec_id <> qs.vec_id)
      WHERE rn <= 10),
    perq AS (
      SELECT t.q_id, COUNT(*) AS n_truth_q,
        CAST(SUM(CASE WHEN i.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits_q
      FROM truth t LEFT JOIN ivfk i
        ON i.q_id = t.q_id AND i.neighbor = t.neighbor
      GROUP BY t.q_id),
    agg AS (
      SELECT CAST(SUM(n_truth_q) AS BIGINT) AS n_truth,
        CAST(SUM(n_hits_q) AS BIGINT) AS n_hits,
        MIN(n_hits_q) AS min_hits,
        MAX(n_truth_q) AS max_truth,
        list_sort(list(n_hits_q)) AS hs,
        COUNT(*) AS nq
      FROM perq)
    SELECT 'ivf_kmeans' AS method, n_truth, n_hits,
      CAST(n_hits AS DOUBLE) / n_truth AS recall,
      CAST(min_hits AS DOUBLE) / max_truth AS min_recall,
      CAST(hs[CAST((nq + 1) // 2 AS INT)] + hs[CAST((nq + 2) // 2 AS INT)] AS DOUBLE) / (2 * max_truth) AS p50_recall
    FROM agg"""))

  // ---- D38: ExactSubstr substring dedup (Lee et al. 2022) ----------------
  // The public-standard dedup pass: remove every maximal token span of
  // length >= L that occurs verbatim >= 2 times corpus-wide. The
  // reference implementation's suffix array does not distribute; the
  // engine re-expresses it as OVERLAPPING L-token window fingerprints
  // (one corpus-linear explode, ONE keyed frequency aggregation, one
  // fingerprint join back on the df>=2 side, per-doc LAG span merge) —
  // the overlapping counterpart of q59's disjoint chunks, recovering
  // exact span extents instead of chunk-quantized ones. L=15 is the
  // scaled analogue of the paper's 50 tokens for this corpus's ~55-token
  // documents (same ~L/avg_len ratio). Everything is integer-exact, so
  // DuckDB replays the full pipeline including the span merge.
  /** Shared DuckDB replay of the ExactSubstr pipeline up to the merged
    * spans (q95 stats over it; q96 cuts the text with it).
    */
  private val exactSubstrCtes = """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    ch AS (SELECT doc_id, CAST(len(toks) - 15 + 1 AS BIGINT) AS n_windows,
      unnest(range(len(toks) - 15 + 1)) AS pos,
      unnest([md5(array_to_string(toks[i+1 : i+15], ' ')) for i in range(len(toks) - 15 + 1)]) AS w
      FROM tk WHERE len(toks) >= 15),
    dup AS (SELECT w FROM ch GROUP BY w HAVING COUNT(*) >= 2),
    dd AS (SELECT ch.doc_id, ch.n_windows, ch.pos FROM ch JOIN dup USING (w)),
    g AS (SELECT doc_id, n_windows, pos,
       CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
         OR pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 15 THEN 1 ELSE 0 END AS newspan
     FROM dd),
    s AS (SELECT doc_id, n_windows, pos,
       SUM(newspan) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id FROM g),
    sp AS (SELECT doc_id, MIN(n_windows) AS n_windows, span_id, COUNT(*) AS ndw,
       MIN(pos) AS st, MAX(pos) + 15 AS en FROM s GROUP BY doc_id, span_id)"""

  private val q95 = Qdef(
    "q95_exactsubstr",
    (s, dir) =>
      graft.operators.ExactSubstr
        .stats(t(s, dir, "documents"), "doc_id", "text", minTokens = 15)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id")),
    Some(exactSubstrCtes + """
    SELECT doc_id, MIN(n_windows) AS n_windows, CAST(SUM(ndw) AS BIGINT) AS n_dup,
      CAST(COUNT(*) AS BIGINT) AS n_spans, CAST(SUM(en - st) AS BIGINT) AS dup_tokens,
      CAST(MAX(en - st) AS BIGINT) AS max_span
    FROM sp GROUP BY doc_id ORDER BY doc_id"""))

  // ---- D38: the ExactSubstr CUT face --------------------------------------
  // q95 grades the span arithmetic; this grades the dedup pass a
  // pipeline actually applies — every document's text with its duplicate
  // spans removed, value-checked by md5 of the reassembled text (the
  // q59 clean_md5 discipline applied to overlapping spans). Every doc
  // appears: span-free and sub-L docs pass through verbatim.
  private val q96 = Qdef(
    "q96_exactsubstr_clean",
    (s, dir) =>
      graft.operators.ExactSubstr
        .clean(t(s, dir, "documents"), "doc_id", "text", minTokens = 15)
        .select(col("doc_id"), col("kept_tokens"),
          md5(col("clean_text").cast("binary")).as("clean_md5"))
        .orderBy(col("doc_id")),
    Some(exactSubstrCtes + """,
    tok AS (SELECT doc_id, unnest(toks) AS tkn,
       unnest(range(len(toks))) AS j FROM tk),
    cov AS (SELECT DISTINCT doc_id, unnest(range(st, en)) AS j FROM sp),
    kept AS (SELECT t.doc_id, t.tkn, t.j FROM tok t
       LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.j = t.j
       WHERE c.doc_id IS NULL)
    SELECT d.doc_id, CAST(COUNT(k.j) AS BIGINT) AS kept_tokens,
      md5(COALESCE(string_agg(k.tkn, ' ' ORDER BY k.j), '')) AS clean_md5
    FROM documents d LEFT JOIN kept k ON k.doc_id = d.doc_id
    GROUP BY d.doc_id ORDER BY d.doc_id"""))

  val all: Seq[Qdef] = Seq(q57, q58, q59, q60, q61, q67, q69, q95, q96)
}
