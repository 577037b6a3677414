package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.functions.GraftFunctions._
import graft.operators.{Ann, Pq}
import Q.{dsum, sqlDsum}

/** LLM-training-data pipeline suite (SURVEY.md §2.D): dedup (exact /
  * MinHash-LSH / SimHash / n-gram / embedding), ANN search, language ID,
  * quality scoring, token counting, fingerprinting — over the driver's
  * `documents` / `embeddings` tables.
  *
  * Scale design (§5): every near-dup operator is candidates-by-key-join
  * (linear in corpus size), never O(n²) over the corpus; pairwise exact
  * verification happens only inside LSH buckets. The two intentionally
  * exact-pairwise queries (q33, q34) are the verification primitives and
  * say so in their scaladoc.
  *
  * Oracle determinism: jaccard/cosine are computed over exact integers
  * (shingle-set sizes; 1e6-quantized embeddings), so the final double
  * division is bit-identical in Spark and DuckDB (tools/check.py compares
  * floats with ==).
  */
object Pipeline {

  // ---- D1: exact dedup by content hash ----------------------------------
  private val q30 = Qdef(
    "q30_dedup_exact",
    (s, dir) =>
      graft.operators.Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("content_md5")),
    Some("""SELECT md5(text) AS content_md5, MIN(doc_id) AS keeper,
      COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text) ORDER BY content_md5"""))

  // ---- D2: MinHash + LSH near-dedup -------------------------------------
  // Spark path: shingle -> 64-perm minhash signature -> 32 bands x 2 rows
  // -> band-key self-join -> exact jaccard verify inside buckets only.
  // Recall: a pair at jaccard j collides with prob 1-(1-j^2)^32; the
  // corpus' qualifying pairs sit at j >= 0.7 where the miss probability is
  // (1-0.49)^32 = 4e-10 — effectively exact, which is what lets the O(n²)
  // DuckDB oracle below agree. At 100 TB only the band-key shuffle and the
  // in-bucket verify scale with data; nothing is quadratic in the corpus.
  private val q31 = Qdef(
    "q31_dedup_minhash",
    (s, dir) =>
      graft.operators.Dedup
        .minhashPairs(t(s, dir, "documents"), "doc_id", "text",
          shingleK = 5, threshold = 0.5, stage = true)
        .orderBy(col("doc_a"), col("doc_b")),
    Some("""WITH sh AS (
      SELECT doc_id,
        list_distinct([array_to_string(toks[i:i+4], ' ') for i in range(1, len(toks)-3)]) AS s
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      WHERE len(toks) >= 5)
    SELECT doc_a, doc_b, jaccard FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        len(list_intersect(a.s, b.s)) * 1.0 /
          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
    WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b"""))

  // ---- D3: SimHash near-dedup (64-bit, hamming <= 3) ---------------------
  // 4 bands x 16 bits: any pair within hamming 3 shares >= 1 exact band
  // (pigeonhole), so the band join is EXACT, not probabilistic. That
  // exactness is what makes the oracle possible WITHOUT replaying the
  // banding: the result set equals "all pairs with hamming <= 3", so the
  // oracle replays only the signature — FNV-1a-64 per token (a
  // list_reduce fold in HUGEINT to dodge 64-bit overflow, same modular
  // arithmetic as the JVM's wrapping multiply) + per-bit majority — and
  // pairs exhaustively. Text is ASCII (same sanctioned trick as q42's
  // ascii(substring) byte walk).
  private val q32 = Qdef(
    "q32_dedup_simhash",
    (s, dir) =>
      graft.operators.Dedup
        .simhashPairs(t(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
        .orderBy(col("doc_a"), col("doc_b")),
    Some("""WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    th AS (
      SELECT doc_id,
        list_reduce(
          list_prepend(CAST(14695981039346656037 AS UBIGINT),
            list_transform(range(1, length(tok) + 1),
              i -> CAST(ascii(substring(tok, i, 1)) AS UBIGINT))),
          (h, b) -> CAST((CAST(xor(h, b) AS HUGEINT) * 1099511628211)
                         % 18446744073709551616 AS UBIGINT)) AS h
      FROM toks),
    bits AS (
      SELECT doc_id, j,
        SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
      FROM th, UNNEST(range(0, 64)) AS u(j)
      GROUP BY doc_id, j),
    sigs AS (
      SELECT doc_id,
        CAST(SUM(CASE WHEN cnt > 0 THEN CAST(CAST(1 AS UBIGINT) << j AS HUGEINT)
                      ELSE 0 END) AS UBIGINT) AS sig
      FROM bits GROUP BY doc_id)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= 3
    ORDER BY doc_a, doc_b"""))

  // ---- D4: n-gram Jaccard pair similarity (exact, oracled) ---------------
  // The exact-verification primitive: 3-gram jaccard over an explicit
  // candidate subset. At scale candidates come from q31's LSH buckets,
  // never from a corpus cross-join. The subset here is the fixed id
  // window (keeps the near-dup pairs the small-SF corpora carry) UNION
  // the 2 lowest-id members of each of the 64 lexicographically-smallest
  // exact-duplicate md5 groups. Both arms are BOUNDED (≤ 150 + 128 docs
  // at ANY corpus size) yet non-vacuous at every scale: the id window
  // alone went empty past sf0.01, and taking EVERY dup-group member —
  // the first fix — grew candidates linearly with the corpus and made
  // the all-pairs verify quadratic (the sf10 rehearsal measured 0.35 s
  // -> 40 s for 2x data; a verification primitive must have a
  // scale-constant candidate budget, exactly like a real pipeline
  // sampling pairs for QA).
  private val q33 = Qdef(
    "q33_ngram_jaccard",
    (s, dir) => {
      val all = t(s, dir, "documents").withColumn("m", md5(col("text")))
      val dupM = all.groupBy(col("m")).count()
        .filter(col("count") > 1).select(col("m"))
        .orderBy(col("m")).limit(64)
      val mem = all.join(broadcast(dupM), Seq("m"), "left_semi")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("m")).orderBy(col("doc_id"))))
        .filter(col("rn") <= 2).drop("rn")
      val cand = all.filter(col("doc_id") < 150)
        .unionByName(mem)
        .dropDuplicates("doc_id")
      val docs = cand
        .select(col("doc_id"), textShingles(col("text"), 3).as("sh"))
        .filter(size(col("sh")) > 0)
      val a = docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
      val b = docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
      val inter = size(array_intersect(col("sh_a"), col("sh_b")))
      val jac = inter / (size(col("sh_a")) + size(col("sh_b")) - inter)
      a.join(b, col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"), jac.as("jaccard"))
        .filter(col("jaccard") >= 0.05)
        .orderBy(col("doc_a"), col("doc_b"))
    },
    Some("""WITH dupg AS (
      SELECT m FROM (
        SELECT md5(text) AS m FROM documents GROUP BY 1 HAVING COUNT(*) > 1
        ORDER BY m LIMIT 64)),
    mem AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
          ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM documents WHERE md5(text) IN (SELECT m FROM dupg))
      WHERE rn <= 2),
    cand AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 150
      UNION
      SELECT doc_id, text FROM mem),
    sh AS (
      SELECT doc_id,
        list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) AS s
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM cand)
      WHERE len(toks) >= 3)
    SELECT doc_a, doc_b, jaccard FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        len(list_intersect(a.s, b.s)) * 1.0 /
          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
    WHERE jaccard >= 0.05 ORDER BY doc_a, doc_b"""))

  // ---- D5: embedding-cosine near-dup (cell-blocked, oracled) -------------
  // Corpus-level near-dup pairs, blocked by the deterministic IVF cell
  // assignment (same codebook + argmax tie-break as q43): one
  // zero-exchange assignment pass over the corpus, then a cell-key
  // equi-join — NEVER corpus × corpus. Integer dot products over
  // 1e6-quantized vectors are bit-identical across engines (SURVEY.md
  // §4), and the oracle replays the cell assignment exactly in SQL, so
  // blocking keeps the oracle exact. The unblocked pairwise verify
  // primitive remains available as quantCosine over any candidate frame
  // (q33's bounded shape).
  private val q34 = Qdef(
    "q34_dedup_embedding",
    (s, dir) => {
      val embs = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), quantize(col("embedding")).as("qv"))
      // cell count scales with the corpus (Ann.centroidCountFor) and
      // centroids are a UNIFORM modulo sample of the ids — the rehearsal
      // measured prefix sampling (vec_id < k) collapsing 18k of 20k
      // vectors into ONE cell (162M pairs): a prefix only covers the
      // id-space head, not the data's direction families. The count()
      // is a footer-cheap metadata job.
      val n = t(s, dir, "embeddings").count()
      Ann.blockedPairs(Ann.index(embs, n, levels = 1), threshold = 0.4)
        .orderBy(col("vec_a"), col("vec_b"))
    },
    Some("""WITH q AS (
      SELECT vec_id,
        list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS qv
      FROM embeddings),
    cents AS (SELECT vec_id AS c_id, qv AS c_qv FROM q
              WHERE ('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 12))::BIGINT % (SELECT GREATEST(1, COUNT(*) //
                GREATEST(16, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT))) FROM q) = 0),
    scored AS (
      SELECT q.vec_id, c.c_id,
        list_dot_product(q.qv, c.c_qv) /
          sqrt(list_dot_product(q.qv, q.qv) * list_dot_product(c.c_qv, c.c_qv)) AS c_cos
      FROM q CROSS JOIN cents c),
    assign AS (
      SELECT s.vec_id, q.qv, s.cell FROM (
        SELECT vec_id, c_id AS cell FROM (
          SELECT vec_id, c_id,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, c_id) AS crn
          FROM scored) WHERE crn = 1) s JOIN q USING (vec_id))
    SELECT vec_a, vec_b, cos_sim FROM (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        list_dot_product(a.qv, b.qv) /
          sqrt(list_dot_product(a.qv, a.qv) * list_dot_product(b.qv, b.qv)) AS cos_sim
      FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id)
    WHERE cos_sim >= 0.4 ORDER BY vec_a, vec_b"""))

  // ---- D6: brute-force cosine top-k ANN baseline -------------------------
  // Query batch (vec_id < 10) broadcast against the corpus scan — at scale
  // this is one embarrassingly-parallel pass, no shuffle of the corpus;
  // the per-query top-k is a window over |queries| x k rows.
  private val q35 = Qdef(
    "q35_ann_bruteforce",
    (s, dir) => {
      val embs = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), quantize(col("embedding")).as("qv"))
      Ann.bruteForceTopK(embs, embs.filter(col("id") < 10), k = 10)
        .orderBy(col("q_id"), col("rn"))
    },
    Some("""WITH q AS (
      SELECT vec_id,
        list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS qv
      FROM embeddings)
    SELECT q_id, neighbor, cos_sim, rn FROM (
      SELECT qs.vec_id AS q_id, c.vec_id AS neighbor,
        list_dot_product(qs.qv, c.qv) /
          sqrt(list_dot_product(qs.qv, qs.qv) * list_dot_product(c.qv, c.qv)) AS cos_sim,
        CAST(ROW_NUMBER() OVER (PARTITION BY qs.vec_id ORDER BY
          list_dot_product(qs.qv, c.qv) /
          sqrt(list_dot_product(qs.qv, qs.qv) * list_dot_product(c.qv, c.qv)) DESC,
          c.vec_id) AS INT) AS rn
      FROM q qs JOIN q c ON qs.vec_id < 10 AND c.vec_id <> qs.vec_id)
    WHERE rn <= 10 ORDER BY q_id, rn"""))

  // ---- D7: LSH-bucketed ANN (random hyperplane signs) --------------------
  // 64 deterministic Rademacher hyperplanes -> 64-bit signature -> 4
  // bands at stride 16, reading an ADAPTIVE 4..16 bits each
  // (Ann.lshBitsFor: occupancy-targeted, the rehearsal's scale fix) ->
  // band join -> exact cosine verify. Candidate volume scales with
  // bucket occupancy, not corpus² — the 16-bit ceiling holds occupancy
  // ≤ 75 to ~4.9M vectors, where the previous 32-plane/8-bit signature
  // went quadratic past 19k (312M candidate pairs at sf10, measured).
  // The sign matrix is md5-nibble parity (ExprKernels.hyperplaneSigns),
  // a data-independent constant both engines can compute, so the oracle
  // replays the ENTIRE pipeline — signatures, adaptive banding, verify —
  // in SQL (dim = 64).
  private val q36 = Qdef(
    "q36_ann_lsh",
    (s, dir) => {
      val embs = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), quantize(col("embedding")).as("qv"))
      val bits = Ann.lshBitsFor(t(s, dir, "embeddings").count())
      Ann.lshPairs(embs, planes = 64, bands = 4, threshold = 0.3,
          bitsPerBand = bits)
        .orderBy(col("vec_a"), col("vec_b"))
    },
    Some("""WITH q AS (
      SELECT vec_id,
        list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS qv
      FROM embeddings),
    params AS (
      SELECT CASE WHEN COUNT(*) <= 75 * 16 THEN 4
                  WHEN COUNT(*) <= 75 * 32 THEN 5
                  WHEN COUNT(*) <= 75 * 64 THEN 6
                  WHEN COUNT(*) <= 75 * 128 THEN 7
                  WHEN COUNT(*) <= 75 * 256 THEN 8
                  WHEN COUNT(*) <= 75 * 512 THEN 9
                  WHEN COUNT(*) <= 75 * 1024 THEN 10
                  WHEN COUNT(*) <= 75 * 2048 THEN 11
                  WHEN COUNT(*) <= 75 * 4096 THEN 12
                  WHEN COUNT(*) <= 75 * 8192 THEN 13
                  WHEN COUNT(*) <= 75 * 16384 THEN 14
                  WHEN COUNT(*) <= 75 * 32768 THEN 15
                  ELSE 16 END AS bits
      FROM q),
    signs AS (
      SELECT tp.p, td.d,
        (('0x' || substring(md5(tp.p || ':' || td.d), 1, 1))::INT % 2) * 2 - 1 AS s
      FROM UNNEST(range(0, 64)) AS tp(p), UNNEST(range(0, 64)) AS td(d)),
    projs AS (
      SELECT v.vec_id, s.p, SUM(v.qv[s.d + 1] * s.s) AS proj
      FROM q v, signs s GROUP BY v.vec_id, s.p),
    sigs AS (
      SELECT vec_id,
        CAST(SUM(CASE WHEN proj >= 0 THEN CAST(CAST(1 AS UBIGINT) << p AS HUGEINT)
                      ELSE 0 END) AS UBIGINT) AS sig
      FROM projs GROUP BY vec_id),
    banded AS (
      SELECT s.vec_id, q.qv, tb.b AS band,
        (s.sig >> (16 * tb.b)) & ((CAST(1 AS UBIGINT) << (SELECT bits FROM params)) - 1) AS bval
      FROM sigs s JOIN q USING (vec_id), UNNEST(range(0, 4)) AS tb(b)),
    pairs AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
        list_dot_product(a.qv, b.qv) /
          sqrt(list_dot_product(a.qv, a.qv) * list_dot_product(b.qv, b.qv)) AS cos_sim
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bval = b.bval AND a.vec_id < b.vec_id)
    SELECT vec_a, vec_b, cos_sim FROM pairs
    WHERE cos_sim >= 0.3 ORDER BY vec_a, vec_b"""))

  // ---- D8: language ID (stopword-hit heuristic) --------------------------
  // Token-exact stopword counts per language, argmax with a fixed
  // tie-break order — arithmetic mirrored verbatim in the oracle.
  private val langStops: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "und", "ist"),
    "es" -> Seq("el", "la", "que", "por"),
    "fr" -> Seq("le", "les", "et", "dans"))

  private val q37 = Qdef(
    "q37_langid",
    (s, dir) => {
      val toks = split(col("text"), " ")
      val hits = langStops.map { case (lang, stops) =>
        lang -> size(filter(toks, t => stops.map(t === _).reduce(_ || _)))
      }
      val Seq(en, de, es, fr) = hits.map(_._2)
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          en.as("en_hits"), de.as("de_hits"), es.as("es_hits"), fr.as("fr_hits"),
          when(en >= de && en >= es && en >= fr && en > 0, "en")
            .when(de >= es && de >= fr && de > 0, "de")
            .when(es >= fr && es > 0, "es")
            .when(fr > 0, "fr")
            .otherwise("und").as("predicted"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, lang, en_hits, de_hits, es_hits, fr_hits,
      CASE WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits AND en_hits > 0 THEN 'en'
           WHEN de_hits >= es_hits AND de_hits >= fr_hits AND de_hits > 0 THEN 'de'
           WHEN es_hits >= fr_hits AND es_hits > 0 THEN 'es'
           WHEN fr_hits > 0 THEN 'fr'
           ELSE 'und' END AS predicted
    FROM (
      SELECT doc_id, lang,
        len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and','to'))) AS en_hits,
        len(list_filter(string_split(text, ' '), t -> t IN ('der','die','und','ist'))) AS de_hits,
        len(list_filter(string_split(text, ' '), t -> t IN ('el','la','que','por'))) AS es_hits,
        len(list_filter(string_split(text, ' '), t -> t IN ('le','les','et','dans'))) AS fr_hits
      FROM documents)
    ORDER BY doc_id"""))

  // ---- D9: quality scoring -----------------------------------------------
  // Integer counts + double division only — every ratio is bit-identical
  // across engines without rounding tricks.
  private val q38 = Qdef(
    "q38_quality",
    (s, dir) => {
      val toks = split(col("text"), " ")
      val nWords = size(toks)
      val nUniq = size(array_distinct(toks))
      val nChars = length(col("text"))
      val stops = size(filter(toks, t => t === "the" || t === "a"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          nChars.cast("long").as("n_chars_m"),
          nWords.cast("long").as("n_words"),
          (nUniq / nWords).as("uniq_ratio"),
          (stops / nWords).as("stop_ratio"),
          ((nChars - (nWords - lit(1))) / nWords).as("avg_word_len"),
          when(nWords >= 50 && (nUniq / nWords) >= 0.3, "keep")
            .otherwise("drop").as("verdict"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
      CAST(length(text) AS BIGINT) AS n_chars_m,
      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      len(list_distinct(string_split(text, ' '))) * 1.0 / len(string_split(text, ' ')) AS uniq_ratio,
      len(list_filter(string_split(text, ' '), t -> t = 'the' OR t = 'a')) * 1.0 / len(string_split(text, ' ')) AS stop_ratio,
      (length(text) - (len(string_split(text, ' ')) - 1)) * 1.0 / len(string_split(text, ' ')) AS avg_word_len,
      CASE WHEN len(string_split(text, ' ')) >= 50
             AND len(list_distinct(string_split(text, ' '))) * 1.0 / len(string_split(text, ' ')) >= 0.3
           THEN 'keep' ELSE 'drop' END AS verdict
    FROM documents ORDER BY doc_id"""))

  // ---- D10: token counting (whitespace + BPE-ish regex) ------------------
  private val q39 = Qdef(
    "q39_tokens",
    (s, dir) => {
      val ws = size(split(col("text"), " "))
      // native linear-scan match counter — the regex engine materializes
      // every match string just to count them (~14 µs/doc; 7.1 s at
      // sf10 under the honest bench action, 1.05 s with the kernel)
      val re = regexTokenCount(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          ws.cast("long").as("ws_tokens"),
          re.cast("long").as("re_tokens"),
          (length(col("text")) / re).as("chars_per_token"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
      CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
      CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS re_tokens,
      length(text) * 1.0 / len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS chars_per_token
    FROM documents ORDER BY doc_id"""))

  // ---- D11: document fingerprint (rolling position-weighted hash) --------
  // Native codegen expression on the Spark side; the oracle replays the
  // identical integer arithmetic per character (text is ASCII).
  private val q42 = Qdef(
    "q42_fingerprint",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id")),
    Some("""SELECT d.doc_id,
      CAST(SUM(CAST(ascii(substring(d.text, t.i, 1)) AS BIGINT) * (((t.i * 131) % 997) + 1)) AS BIGINT) AS fp
    FROM documents d, UNNEST(range(1, length(d.text) + 1)) AS t(i)
    GROUP BY d.doc_id ORDER BY d.doc_id"""))

  // ---- D7b: IVF ANN (coarse quantizer -> probe -> exact re-rank) ---------
  // The production-scale ANN path beyond hyperplane LSH (q36): a fixed
  // centroid codebook partitions the corpus into cells; a query probes
  // its `nprobe` nearest cells and re-ranks exactly inside them. At 100 TB
  // the corpus is scanned ONCE for assignment (broadcast codebook), the
  // probe is a cell-key equi-join, and nothing is ever corpus × corpus.
  // Deterministic codebook (vectors vec_id < 16) + exact quantized
  // arithmetic make the whole pipeline SQL-expressible for the oracle.
  private val q43 = Qdef(
    "q43_ann_ivf",
    (s, dir) => {
      val embs = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), quantize(col("embedding")).as("qv"))
      // same √n-sized, uniformly-sampled codebook as q34 (the FAISS-
      // style balance: assign n·k vs probe/verify n²/k meet at √n);
      // fixed k (or a prefix sample) would make every probe scan grow
      // linearly with n, while k ~ n/const makes the assign pass
      // quadratic — the sf20 decade measured both regimes
      val n = t(s, dir, "embeddings").count()
      // round 16: the size-routed face — single-level √n replay below
      // Ann.twoLevelThreshold (every oracle/bench SF; the CTE below
      // replays exactly that branch), two-level ∛n routing above it
      // (the sf10–sf100 ladder) so the shipped face never pays the
      // O(n·√n) coarse assign at scale
      Ann.topK(Ann.sized(embs, n), embs.filter(col("id") < 10),
          nprobe = 4, k = 10)
        .orderBy(col("q_id"), col("rn"))
    },
    Some("""WITH q AS (
      SELECT vec_id,
        list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS qv
      FROM embeddings),
    cents AS (SELECT vec_id AS c_id, qv AS c_qv FROM q
              WHERE ('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 12))::BIGINT % (SELECT GREATEST(1, COUNT(*) //
                GREATEST(16, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT))) FROM q) = 0),
    scored AS (
      SELECT q.vec_id, c.c_id,
        list_dot_product(q.qv, c.c_qv) /
          sqrt(list_dot_product(q.qv, q.qv) * list_dot_product(c.c_qv, c.c_qv)) AS c_cos
      FROM q CROSS JOIN cents c),
    assign AS (
      SELECT s.vec_id, q.qv, s.cell FROM (
        SELECT vec_id, c_id AS cell FROM (
          SELECT vec_id, c_id,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, c_id) AS crn
          FROM scored) WHERE crn = 1) s JOIN q USING (vec_id)),
    probes AS (
      SELECT s.vec_id AS q_id, q.qv AS q_qv, s.cell FROM (
        SELECT vec_id, c_id AS cell FROM (
          SELECT vec_id, c_id,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, c_id) AS prn
          FROM scored WHERE vec_id < 10) WHERE prn <= 4) s JOIN q USING (vec_id)),
    cand AS (
      SELECT DISTINCT p.q_id, a.vec_id AS neighbor,
        list_dot_product(p.q_qv, a.qv) /
          sqrt(list_dot_product(p.q_qv, p.q_qv) * list_dot_product(a.qv, a.qv)) AS cos_sim
      FROM probes p JOIN assign a ON p.cell = a.cell AND a.vec_id <> p.q_id)
    SELECT q_id, neighbor, cos_sim, rn FROM (
      SELECT q_id, neighbor, cos_sim,
        CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, neighbor) AS INT) AS rn
      FROM cand)
    WHERE rn <= 10 ORDER BY q_id, rn"""))

  // ---- D6+D7+D7b: ANN recall audit ---------------------------------------
  // An approximate index without a measured recall is not a production
  // operator: this query grades BOTH approximate ANN paths — hyperplane
  // LSH (q36's exact operator + adaptive band width) and IVF probe
  // (q43's) — against the exact brute-force top-10 ground truth (q35's),
  // reporting hits/truth per method. LSH is graded on the truth pairs at
  // or above its own verify threshold (pairs it is designed to discard
  // are not misses); IVF on the full top-10. The audit calls the same
  // operator entry points the oracled queries use, so it exercises the
  // production plans, and every count is an exact BIGINT — the recall
  // division is one correctly-rounded op on identical integers in both
  // engines. At 100 TB this runs as a sampled side-channel (a bounded
  // query batch against the same index build), which is exactly the
  // shape here: nothing in it is corpus × corpus beyond what the graded
  // operators themselves do.
  private val q68 = Qdef(
    "q68_ann_recall",
    (s, dir) => {
      val embs = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), quantize(col("embedding")).as("qv"))
      val n = t(s, dir, "embeddings").count()
      val queries = embs.filter(col("id") < 10)
      val truth = Ann.bruteForceTopK(embs, queries, k = 10)
      val lsh = Ann.lshPairs(embs, planes = 64, bands = 4, threshold = 0.3,
        bitsPerBand = Ann.lshBitsFor(n))
      val ivf = Ann.topK(Ann.index(embs, n, levels = 1), queries,
        nprobe = 4, k = 10)
      Ann.recallAudit(truth.select(col("q_id"), col("neighbor")), ivf, "ivf")
        .union(Ann.recallAudit(
          truth.filter(col("cos_sim") >= 0.3)
            .select(least(col("q_id"), col("neighbor")).as("ka"),
              greatest(col("q_id"), col("neighbor")).as("kb")),
          lsh.select(col("vec_a").as("ka"), col("vec_b").as("kb")), "lsh"))
        .orderBy(col("method"))
    },
    Some("""WITH q AS (
      SELECT vec_id,
        list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS qv
      FROM embeddings),
    truth AS (
      SELECT q_id, neighbor, cos_sim FROM (
        SELECT qs.vec_id AS q_id, c.vec_id AS neighbor,
          list_dot_product(qs.qv, c.qv) /
            sqrt(list_dot_product(qs.qv, qs.qv) * list_dot_product(c.qv, c.qv)) AS cos_sim,
          ROW_NUMBER() OVER (PARTITION BY qs.vec_id ORDER BY
            list_dot_product(qs.qv, c.qv) /
            sqrt(list_dot_product(qs.qv, qs.qv) * list_dot_product(c.qv, c.qv)) DESC,
            c.vec_id) AS rn
        FROM q qs JOIN q c ON qs.vec_id < 10 AND c.vec_id <> qs.vec_id)
      WHERE rn <= 10),
    params AS (
      SELECT CASE WHEN COUNT(*) <= 75 * 16 THEN 4
                  WHEN COUNT(*) <= 75 * 32 THEN 5
                  WHEN COUNT(*) <= 75 * 64 THEN 6
                  WHEN COUNT(*) <= 75 * 128 THEN 7
                  WHEN COUNT(*) <= 75 * 256 THEN 8
                  WHEN COUNT(*) <= 75 * 512 THEN 9
                  WHEN COUNT(*) <= 75 * 1024 THEN 10
                  WHEN COUNT(*) <= 75 * 2048 THEN 11
                  WHEN COUNT(*) <= 75 * 4096 THEN 12
                  WHEN COUNT(*) <= 75 * 8192 THEN 13
                  WHEN COUNT(*) <= 75 * 16384 THEN 14
                  WHEN COUNT(*) <= 75 * 32768 THEN 15
                  ELSE 16 END AS bits
      FROM q),
    signs AS (
      SELECT tp.p, td.d,
        (('0x' || substring(md5(tp.p || ':' || td.d), 1, 1))::INT % 2) * 2 - 1 AS s
      FROM UNNEST(range(0, 64)) AS tp(p), UNNEST(range(0, 64)) AS td(d)),
    projs AS (
      SELECT v.vec_id, s.p, SUM(v.qv[s.d + 1] * s.s) AS proj
      FROM q v, signs s GROUP BY v.vec_id, s.p),
    sigs AS (
      SELECT vec_id,
        CAST(SUM(CASE WHEN proj >= 0 THEN CAST(CAST(1 AS UBIGINT) << p AS HUGEINT)
                      ELSE 0 END) AS UBIGINT) AS sig
      FROM projs GROUP BY vec_id),
    banded AS (
      SELECT s.vec_id, q.qv, tb.b AS band,
        (s.sig >> (16 * tb.b)) & ((CAST(1 AS UBIGINT) << (SELECT bits FROM params)) - 1) AS bval
      FROM sigs s JOIN q USING (vec_id), UNNEST(range(0, 4)) AS tb(b)),
    lshp AS (
      SELECT vec_a, vec_b FROM (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
          list_dot_product(a.qv, b.qv) /
            sqrt(list_dot_product(a.qv, a.qv) * list_dot_product(b.qv, b.qv)) AS cos_sim
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bval = b.bval AND a.vec_id < b.vec_id)
      WHERE cos_sim >= 0.3),
    cents AS (SELECT vec_id AS c_id, qv AS c_qv FROM q
              WHERE ('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 12))::BIGINT % (SELECT GREATEST(1, COUNT(*) //
                GREATEST(16, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT))) FROM q) = 0),
    scored AS (
      SELECT q.vec_id, c.c_id,
        list_dot_product(q.qv, c.c_qv) /
          sqrt(list_dot_product(q.qv, q.qv) * list_dot_product(c.c_qv, c.c_qv)) AS c_cos
      FROM q CROSS JOIN cents c),
    assign AS (
      SELECT s.vec_id, q.qv, s.cell FROM (
        SELECT vec_id, c_id AS cell FROM (
          SELECT vec_id, c_id,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, c_id) AS crn
          FROM scored) WHERE crn = 1) s JOIN q USING (vec_id)),
    probes AS (
      SELECT s.vec_id AS q_id, q.qv AS q_qv, s.cell FROM (
        SELECT vec_id, c_id AS cell FROM (
          SELECT vec_id, c_id,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, c_id) AS prn
          FROM scored WHERE vec_id < 10) WHERE prn <= 4) s JOIN q USING (vec_id)),
    cand AS (
      SELECT DISTINCT p.q_id, a.vec_id AS neighbor,
        list_dot_product(p.q_qv, a.qv) /
          sqrt(list_dot_product(p.q_qv, p.q_qv) * list_dot_product(a.qv, a.qv)) AS cos_sim
      FROM probes p JOIN assign a ON p.cell = a.cell AND a.vec_id <> p.q_id),
    ivfk AS (
      SELECT q_id, neighbor FROM (
        SELECT q_id, neighbor,
          ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, neighbor) AS rn
        FROM cand) WHERE rn <= 10),
    ivf_stats AS (
      SELECT COUNT(*) AS n_truth,
        CAST(SUM(CASE WHEN i.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
      FROM truth t LEFT JOIN ivfk i
        ON i.q_id = t.q_id AND i.neighbor = t.neighbor),
    lsh_stats AS (
      SELECT COUNT(*) AS n_truth,
        CAST(SUM(CASE WHEN l.vec_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
      FROM (SELECT LEAST(q_id, neighbor) AS ka, GREATEST(q_id, neighbor) AS kb
            FROM truth WHERE cos_sim >= 0.3) t
        LEFT JOIN lshp l ON l.vec_a = t.ka AND l.vec_b = t.kb)
    SELECT method, n_truth, n_hits, recall FROM (
      SELECT 'ivf' AS method, n_truth, n_hits,
        CAST(n_hits AS DOUBLE) / n_truth AS recall FROM ivf_stats
      UNION ALL
      SELECT 'lsh', n_truth, n_hits,
        CAST(n_hits AS DOUBLE) / n_truth FROM lsh_stats)
    ORDER BY method"""))

  // ---- semi-structured: JSON props extraction ----------------------------
  // events.props is a JSON string; extraction stays codegen'd
  // (get_json_object) and the aggregate is grouped on the extracted key —
  // the standard shape for log analytics over semi-structured columns.
  private val q44 = Qdef(
    "q44_json_props",
    (s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("k"),
          col("value"))
        .groupBy(col("event_type"), pmod(col("k"), lit(10)).as("k_mod"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy(col("event_type"), col("k_mod")),
    Some(s"""SELECT event_type,
      CAST(json_extract_string(props, '$$.k') AS INT) % 10 AS k_mod,
      COUNT(*) AS n, ${sqlDsum("value")} AS sum_value
    FROM events
    GROUP BY event_type, CAST(json_extract_string(props, '$$.k') AS INT) % 10
    ORDER BY event_type, k_mod"""))

  // ---- D14: reproducible train/val/test split ----------------------------
  // Hash-based splitting, not random sampling: split membership is a pure
  // function of doc content (md5 prefix -> bucket 0..99), so it is stable
  // across runs, engines, and cluster sizes — the property a training
  // pipeline needs so re-runs never leak val docs into train. Buckets:
  // 0-79 train, 80-89 val, 90-99 test.
  private val q47 = Qdef(
    "q47_hash_split",
    (s, dir) => {
      val bucket = conv(substring(md5(col("text").cast("binary")), 1, 4), 16, 10)
        .cast("int") % 100
      val split = when(bucket < 80, "train")
        .when(bucket < 90, "val").otherwise("test")
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), split.as("split"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("first_doc"))
        .orderBy(col("lang"), col("split"))
    },
    Some("""SELECT lang, split, COUNT(*) AS n, MIN(doc_id) AS first_doc
    FROM (
      SELECT doc_id, lang,
        CASE WHEN bucket < 80 THEN 'train'
             WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
      FROM (
        SELECT doc_id, lang,
          CAST(('0x' || substring(md5(text), 1, 4))::INT64 AS INT) % 100 AS bucket
        FROM documents))
    GROUP BY lang, split ORDER BY lang, split"""))

  // ---- as-of join (event enrichment) -------------------------------------
  // Each purchase picks up the latest prior-or-simultaneous view of the
  // same user (graft.operators.AsOf — union + carry-forward window, one
  // key shuffle). Oracle: DuckDB's native ASOF LEFT JOIN.
  private val q48 = Qdef(
    "q48_asof_join",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("view_value"))
      graft.operators.AsOf.asofJoin(purchases, views,
          Seq("user_id"), "ts", "ts")
        .orderBy(col("event_id"))
    },
    Some("""SELECT p.event_id, p.user_id, p.ts, p.value, v.view_value
    FROM (SELECT event_id, user_id, ts, value FROM events
          WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT user_id, ts, MAX(value) AS view_value FROM events
          WHERE event_type = 'view' GROUP BY user_id, ts) v
    ON p.user_id = v.user_id AND p.ts >= v.ts
    ORDER BY p.event_id"""))

  // ---- range join (point-in-interval) ------------------------------------
  // Error events matched into the user session that contains them
  // (sessions built from non-error activity). The bucketed range join
  // (graft.operators.RangeJoin) keeps this linear; the naive form is a
  // theta join. Oracle: DuckDB inequality join over the same window-gap
  // session SQL as q41.
  private val q49 = Qdef(
    "q49_range_join",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val sessions = graft.streaming.EventStreams
        .sessionizeBatch(ev.filter(col("event_type") =!= "error"))
        .toDF()
        .select(col("user_id"),
          unix_micros(col("session_start")).as("start_us"),
          unix_micros(col("session_end")).as("end_us"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"),
          unix_micros(col("ts")).as("ts_us"))
      val contained = graft.operators.RangeJoin.pointInInterval(
        errors, sessions, Seq("user_id"), "ts_us", "start_us", "end_us",
        bucketWidth = 3600L * 1000000L)
      // epoch sentinel instead of NULL for uncontained errors: null
      // timestamps hash engine-dependently in the driver compare
      errors
        .join(contained.select(col("event_id"),
          timestamp_micros(col("start_us")).as("session_start"),
          timestamp_micros(col("end_us")).as("session_end")),
          Seq("event_id"), "left")
        .select(col("event_id"), col("user_id"), col("ts"),
          coalesce(col("session_start"), timestamp_micros(lit(0L)))
            .as("session_start"),
          coalesce(col("session_end"), timestamp_micros(lit(0L)))
            .as("session_end"))
        .orderBy(col("event_id"))
    },
    Some("""WITH activity AS (
      SELECT user_id, ts FROM events WHERE event_type <> 'error'),
    brk AS (
      SELECT user_id, ts,
        CASE WHEN ts - lag(ts) OVER w > INTERVAL '30 minutes'
             THEN 1 ELSE 0 END AS new_session
      FROM activity WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    sess AS (
      SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end
      FROM (
        SELECT user_id, ts,
          SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
            ROWS UNBOUNDED PRECEDING) AS session_id
        FROM brk)
      GROUP BY user_id, session_id)
    SELECT e.event_id, e.user_id, e.ts,
      COALESCE(s.session_start, TIMESTAMP '1970-01-01') AS session_start,
      COALESCE(s.session_end, TIMESTAMP '1970-01-01') AS session_end
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'error') e
    LEFT JOIN sess s
      ON e.user_id = s.user_id
     AND e.ts >= s.session_start AND e.ts <= s.session_end
    ORDER BY e.event_id"""))

  // ---- end-to-end corpus curation ----------------------------------------
  // The composed training-data flow — length gate → exact dedup
  // (keep-first) → reproducible split → per-language corpus stats — as
  // ONE declarative plan: Catalyst fuses the gates into the scan, the
  // dedup is a single hash shuffle, and the split adds no shuffle at all.
  private val q50 = Qdef(
    "q50_corpus_curation",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ntokens = size(split(col("text"), " "))
      val bucket = conv(substring(md5(col("text").cast("binary")), 1, 4), 16, 10)
        .cast("int") % 100
      val split_ = when(bucket < 80, "train")
        .when(bucket < 90, "val").otherwise("test")
      val w = Window.partitionBy(md5(col("text").cast("binary")))
        .orderBy(col("doc_id"))
      t(s, dir, "documents")
        .filter(ntokens >= 30)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("lang"), split_.as("split"), ntokens.as("ntok"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("sum_tokens"))
        .orderBy(col("lang"), col("split"))
    },
    Some("""SELECT lang, split, COUNT(*) AS n_docs,
      CAST(SUM(ntok) AS BIGINT) AS sum_tokens
    FROM (
      SELECT lang,
        CASE WHEN bucket < 80 THEN 'train'
             WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
        ntok
      FROM (
        SELECT lang, text, len(string_split(text, ' ')) AS ntok,
          CAST(('0x' || substring(md5(text), 1, 4))::INT64 AS INT) % 100 AS bucket,
          ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM documents
        WHERE len(string_split(text, ' ')) >= 30)
      WHERE rn = 1)
    GROUP BY lang, split ORDER BY lang, split"""))

  // ---- dedup groups: pairs -> connected components -----------------------
  // The terminal step of the near-dedup pipeline: q31's pair graph
  // collapsed to (doc, keeper) groups via Dedup.keepers (iterative
  // min-label propagation). Oracle: recursive-CTE transitive closure in
  // DuckDB over the same O(n²)-derived pair set.
  private val q54 = Qdef(
    "q54_dedup_groups",
    (s, dir) => {
      val pairs = graft.operators.Dedup
        .minhashPairs(t(s, dir, "documents"), "doc_id", "text",
          shingleK = 5, threshold = 0.5)
        .select(col("doc_a"), col("doc_b"))
      // adaptive CC dispatch: the VERIFIED pair graph is tiny relative
      // to the corpus (256 pairs from 6k docs at bench scale), so the
      // common case runs union-find in one fused task — zero per-round
      // scheduling, the cost that made this query ~15% of the bench.
      // Past the edge limit it switches to the diameter-independent
      // star rounds. All three CC paths are spec-pinned equal; the
      // oracle's transitive closure never sees which one ran.
      graft.operators.Dedup.keepersAuto(pairs)
        .orderBy(col("doc_id"))
    },
    Some("""WITH RECURSIVE sh AS (
      SELECT doc_id,
        list_distinct([array_to_string(toks[i:i+4], ' ') for i in range(1, len(toks)-3)]) AS s
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      WHERE len(toks) >= 5),
    pairs AS (
      SELECT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          len(list_intersect(a.s, b.s)) * 1.0 /
            (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      WHERE jaccard >= 0.5),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs),
    closure(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT c.a, e.b FROM closure c JOIN edges e ON c.b = e.a
      WHERE c.a <> e.b)
    SELECT a AS doc_id, LEAST(MIN(b), a) AS keeper
    FROM closure GROUP BY a ORDER BY doc_id"""))

  // ---- repetition metrics (corpus-quality gate) ---------------------------
  // Gopher/RefinedWeb-style per-document repetition signals: duplicate
  // 2-/3-gram fractions and the top-2-gram share. Everything is computed
  // INSIDE the row with array HOFs — grams, distinct counts, and a
  // sorted-run-length fold for the max multiplicity — so the whole query
  // is scan-local (one projection, zero shuffles before the final sort):
  // the shape that holds at 100 TB, where exploding corpus×grams into a
  // groupBy would shuffle ~30× the input. Integer counts divide in
  // doubles, so the oracle agrees bitwise.
  private val q55 = Qdef(
    "q55_repetition",
    (s, dir) => {
      val toks = split(col("text"), " ")
      // one-pass native gram stats per k: the composed form — grams via
      // transform(slice/concat_ws), distinct via array_distinct (O(k²)
      // UTF8String equality), top multiplicity via an interpreted
      // aggregate() fold over array_sort — costs ~1.8 ms/doc; the
      // kernel tokenizes once and counts in a hash map (~8 µs/doc;
      // NativeExprSpec pins field-for-field equality with the composed
      // expressions). The two struct columns project in a separate
      // select so each kernel runs once per row (CollapseProject leaves
      // multi-use non-cheap aliases in place).
      t(s, dir, "documents")
        .filter(size(toks) >= 3)
        .select(col("doc_id"),
          textGramStats(col("text"), 2).as("s2"),
          textGramStats(col("text"), 3).as("s3"))
        .select(
          col("doc_id"),
          col("s2.n_grams").cast("long").as("n_2grams"),
          ((col("s2.n_grams") - col("s2.n_distinct")) * lit(1.0)
            / col("s2.n_grams")).as("dup_2gram_frac"),
          ((col("s3.n_grams") - col("s3.n_distinct")) * lit(1.0)
            / col("s3.n_grams")).as("dup_3gram_frac"),
          (col("s2.max_freq") * lit(1.0) / col("s2.n_grams"))
            .as("top_2gram_frac"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH tk AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    g AS (
      SELECT doc_id,
        [array_to_string(tk[i:i+1], ' ') for i in range(1, len(tk))] AS g2,
        [array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk)-1)] AS g3,
        len(tk) - 1 AS n2, len(tk) - 2 AS n3
      FROM tk WHERE len(tk) >= 3),
    top AS (
      SELECT doc_id, MAX(c) AS top2 FROM (
        SELECT doc_id, gram, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(g2) AS gram FROM g)
        GROUP BY doc_id, gram)
      GROUP BY doc_id)
    SELECT g.doc_id, n2 AS n_2grams,
      (n2 - len(list_distinct(g2))) * 1.0 / n2 AS dup_2gram_frac,
      (n3 - len(list_distinct(g3))) * 1.0 / n3 AS dup_3gram_frac,
      top.top2 * 1.0 / n2 AS top_2gram_frac
    FROM g JOIN top ON g.doc_id = top.doc_id
    ORDER BY g.doc_id"""))

  // ---- benchmark-contamination check --------------------------------------
  // The eval-decontamination pass every training pipeline runs: flag
  // corpus documents sharing any 8-gram with a benchmark set (here a
  // deterministic doc_id%7 slice standing in for the eval suites).
  // Scale shape: the benchmark's distinct 8-grams are a SMALL broadcast
  // index (eval suites are fixed-size regardless of corpus scale); the
  // corpus is scanned once, its exploded grams hash-probe the broadcast
  // (no shuffle), and only the matching (doc, gram) hits reach the final
  // per-doc count — partial map-side aggregation shrinks those first.
  private val q56 = Qdef(
    "q56_contamination",
    (s, dir) => {
      // native shingle kernel (value-identical to shingles(tokens, 8));
      // the HOF formulation was 2.3s of the sf0.1 bench on its own
      def grams8(c: Column): Column =
        graft.functions.GraftFunctions.textShingles(c, 8)
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 7 === 0)
        .select(explode(grams8(col("text"))).as("gram")).distinct()
      docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), explode(grams8(col("text"))).as("gram"))
        .join(broadcast(bench), Seq("gram"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hits"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH tk AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    sh AS (
      SELECT doc_id,
        list_distinct([array_to_string(tk[i:i+7], ' ')
                       for i in range(1, len(tk)-6)]) AS g
      FROM tk WHERE len(tk) >= 8),
    bench AS (
      SELECT DISTINCT unnest(g) AS gram FROM sh WHERE doc_id % 7 = 0),
    corpus AS (
      SELECT doc_id, unnest(g) AS gram FROM sh WHERE doc_id % 7 <> 0)
    SELECT c.doc_id, COUNT(*) AS n_hits
    FROM corpus c JOIN bench b ON c.gram = b.gram
    GROUP BY c.doc_id ORDER BY doc_id"""))

  // ---- D7e: two-level IVF blocked pairs (the 10¹² scale path, oracled) ---
  // q34's single-level index broadcasts a √n-row codebook, which stops
  // fitting an executor at n ≈ 10¹² (≈512 MB); a two-level Ann.Index splits
  // the index into ∛n coarse cells (broadcast argmax, zero exchange) and
  // ∛n fine centroids per coarse cell (equi-joined by cell key — linear),
  // for O(n^{4/3}) total work and a ∛n-row broadcast. This query drives
  // the whole two-stage assignment + (cell1, cell2)-blocked verify
  // through the driver gate: DuckDB replays BOTH argmaxes (integer-exact
  // ∛ ladder, ROW_NUMBER tie-breaks) so every cell label — and therefore
  // every emitted pair — is bit-identical.
  private val q70 = Qdef(
    "q70_dedup_embedding_2level",
    (s, dir) => {
      val embs = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), quantize(col("embedding")).as("qv"))
      val n = t(s, dir, "embeddings").count()
      Ann.blockedPairs(Ann.index(embs, n, levels = 2), threshold = 0.4)
        .orderBy(col("vec_a"), col("vec_b"))
    },
    Some("""WITH q AS (
      SELECT vec_id,
        list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS qv
      FROM embeddings),
    c1 AS (
      SELECT GREATEST(8, MAX(c)) AS c FROM range(1, 1000001) t(c)
      WHERE c*c*c <= (SELECT COUNT(*) FROM q)),
    cents AS (SELECT vec_id AS c_id, qv AS c_qv FROM q
              WHERE ('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 12))::BIGINT % (SELECT GREATEST(1, (SELECT COUNT(*) FROM q) //
                (SELECT c FROM c1))) = 0),
    scored AS (
      SELECT q.vec_id, c.c_id,
        list_dot_product(q.qv, c.c_qv) /
          sqrt(list_dot_product(q.qv, q.qv) * list_dot_product(c.c_qv, c.c_qv)) AS c_cos
      FROM q CROSS JOIN cents c),
    assign1 AS (
      SELECT s.vec_id, q.qv, s.cell1 FROM (
        SELECT vec_id, c_id AS cell1 FROM (
          SELECT vec_id, c_id,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, c_id) AS crn
          FROM scored) WHERE crn = 1) s JOIN q USING (vec_id)),
    fine AS (
      SELECT vec_id AS f_id, qv AS f_qv, cell1 FROM assign1
      WHERE ('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 12))::BIGINT % (SELECT GREATEST(1, (SELECT COUNT(*) FROM q) //
        ((SELECT c FROM c1) * (SELECT c FROM c1)))) = 0),
    scored2 AS (
      SELECT a.vec_id, f.f_id,
        list_dot_product(a.qv, f.f_qv) /
          sqrt(list_dot_product(a.qv, a.qv) * list_dot_product(f.f_qv, f.f_qv)) AS f_cos
      FROM assign1 a JOIN fine f ON a.cell1 = f.cell1),
    assign2 AS (
      SELECT a.vec_id, a.qv, a.cell1, COALESCE(s.cell2, -1) AS cell2
      FROM assign1 a LEFT JOIN (
        SELECT vec_id, f_id AS cell2 FROM (
          SELECT vec_id, f_id,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY f_cos DESC, f_id) AS frn
          FROM scored2) WHERE frn = 1) s USING (vec_id))
    SELECT vec_a, vec_b, cos_sim FROM (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        list_dot_product(a.qv, b.qv) /
          sqrt(list_dot_product(a.qv, a.qv) * list_dot_product(b.qv, b.qv)) AS cos_sim
      FROM assign2 a JOIN assign2 b
        ON a.cell1 = b.cell1 AND a.cell2 = b.cell2 AND a.vec_id < b.vec_id)
    WHERE cos_sim >= 0.4 ORDER BY vec_a, vec_b"""))

  // ---- D7e: recall audit of the two-level ANN query path -----------------
  // q68/q69 grade the single-level paths; this grades the two-level index —
  // the designated 10¹²-corpus path — against the same brute-force
  // top-10 ground truth, with the q69 per-query distribution (min/p50):
  // an index meant to replace the single-level one at scale must carry a
  // measured recall at its default probe budget, not just the
  // exhaustive-probe == brute-force spec pin (AnnSpec). The audit calls
  // the production operator entry point, so the graded plan is the
  // production plan: broadcast ∛n coarse probe + per-cell fine probe +
  // (cell1, cell2) candidate equi-join + TopKPairs partial agg. All
  // compared values are exact-integer-derived (hit counts, two-middle
  // median, one correctly-rounded division) — the q69 determinism
  // contract verbatim.
  private val q71 = Qdef(
    "q71_ann_recall_2level",
    (s, dir) => {
      val embs = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), quantize(col("embedding")).as("qv"))
      val n = t(s, dir, "embeddings").count()
      val queries = embs.filter(col("id") < 10)
      val truth = Ann.bruteForceTopK(embs, queries, k = 10)
      val tl = Ann.topK(Ann.index(embs, n, levels = 2), queries,
        nprobe = 4, k = 10)
      Ann.recallAudit(truth.select(col("q_id"), col("neighbor")), tl, "ivf2",
        perQuery = true)
    },
    Some("""WITH q AS (
      SELECT vec_id,
        list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS qv
      FROM embeddings),
    c1 AS (
      SELECT GREATEST(8, MAX(c)) AS c FROM range(1, 1000001) t(c)
      WHERE c*c*c <= (SELECT COUNT(*) FROM q)),
    cents AS (SELECT vec_id AS c_id, qv AS c_qv FROM q
              WHERE ('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 12))::BIGINT % (SELECT GREATEST(1, (SELECT COUNT(*) FROM q) //
                (SELECT c FROM c1))) = 0),
    scored AS (
      SELECT q.vec_id, c.c_id,
        list_dot_product(q.qv, c.c_qv) /
          sqrt(list_dot_product(q.qv, q.qv) * list_dot_product(c.c_qv, c.c_qv)) AS c_cos
      FROM q CROSS JOIN cents c),
    assign1 AS (
      SELECT s.vec_id, q.qv, s.cell1 FROM (
        SELECT vec_id, c_id AS cell1 FROM (
          SELECT vec_id, c_id,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, c_id) AS crn
          FROM scored) WHERE crn = 1) s JOIN q USING (vec_id)),
    fine AS (
      SELECT vec_id AS f_id, qv AS f_qv, cell1 FROM assign1
      WHERE ('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 12))::BIGINT % (SELECT GREATEST(1, (SELECT COUNT(*) FROM q) //
        ((SELECT c FROM c1) * (SELECT c FROM c1)))) = 0),
    scored2 AS (
      SELECT a.vec_id, f.f_id,
        list_dot_product(a.qv, f.f_qv) /
          sqrt(list_dot_product(a.qv, a.qv) * list_dot_product(f.f_qv, f.f_qv)) AS f_cos
      FROM assign1 a JOIN fine f ON a.cell1 = f.cell1),
    assign2 AS (
      SELECT a.vec_id, a.qv, a.cell1, COALESCE(s.cell2, -1) AS cell2
      FROM assign1 a LEFT JOIN (
        SELECT vec_id, f_id AS cell2 FROM (
          SELECT vec_id, f_id,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY f_cos DESC, f_id) AS frn
          FROM scored2) WHERE frn = 1) s USING (vec_id)),
    probes1 AS (
      SELECT s.vec_id AS q_id, q.qv AS q_qv, s.cell1 FROM (
        SELECT vec_id, c_id AS cell1 FROM (
          SELECT vec_id, c_id,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, c_id) AS prn
          FROM scored WHERE vec_id < 10) WHERE prn <= 4) s JOIN q USING (vec_id)),
    probes2 AS (
      SELECT q_id, q_qv, cell1, cell2 FROM (
        SELECT p.q_id, p.q_qv, p.cell1, COALESCE(f.f_id, -1) AS cell2,
          ROW_NUMBER() OVER (PARTITION BY p.q_id, p.cell1 ORDER BY
            (list_dot_product(p.q_qv, f.f_qv) /
              sqrt(list_dot_product(p.q_qv, p.q_qv) * list_dot_product(f.f_qv, f.f_qv)))
              DESC NULLS LAST, f.f_id) AS frn
        FROM probes1 p LEFT JOIN fine f ON f.cell1 = p.cell1)
      WHERE frn <= 4),
    cand AS (
      SELECT pr.q_id, a.vec_id AS neighbor,
        list_dot_product(pr.q_qv, a.qv) /
          sqrt(list_dot_product(pr.q_qv, pr.q_qv) * list_dot_product(a.qv, a.qv)) AS cos_sim
      FROM probes2 pr JOIN assign2 a
        ON a.cell1 = pr.cell1 AND a.cell2 = pr.cell2 AND a.vec_id <> pr.q_id),
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
    SELECT 'ivf2' AS method, n_truth, n_hits,
      CAST(n_hits AS DOUBLE) / n_truth AS recall,
      CAST(min_hits AS DOUBLE) / max_truth AS min_recall,
      CAST(hs[CAST((nq + 1) // 2 AS INT)] + hs[CAST((nq + 2) // 2 AS INT)] AS DOUBLE) / (2 * max_truth) AS p50_recall
    FROM agg"""))

  // ---- D25: sequence packing (concat-and-chunk planning) -----------------
  // The batching op between a curated corpus and a training run: documents
  // are concatenated in deterministic order and cut into fixed
  // token-budget context windows ("bins"); each doc gets (bin,
  // bin_offset) so the loader can materialize any bin independently.
  // Scale shape: packing is inherently a running sum, which is a
  // single-partition window if done globally — so it is done PER SHARD,
  // exactly as production loaders shard their output files. The shard
  // count is COUNT-driven (~4096 docs per shard at any corpus size), so
  // per-shard window state is scale-constant while shards grow linearly
  // — a keyed window, never an unpartitioned one (the q19 lesson). All
  // emitted values are exact integer arithmetic (integer DIV/MOD on a
  // BIGINT running sum), replayed identically by DuckDB.
  // Round 13: the shard key is md5Prefix48(doc_id) % nshards, NOT raw
  // doc_id % nshards — the idSample rule: raw modulo assumes a DENSE id
  // space, and on sparse/shifted production ids (snowflake, sharded,
  // the key-shifted derived testdata) the residues cluster and shards
  // skew, serializing the per-shard windows onto a few tasks. The hash
  // residue is uniform for ANY id distribution; DuckDB replays it via
  // the standing md5-prefix idiom.
  private val q72 = Qdef(
    "q72_seq_packing",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val n = t(s, dir, "documents").count()
      val nshards = math.max(16L, n / 4096L)
      val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      t(s, dir, "documents")
        .select(col("doc_id"),
          pmod(graft.functions.GraftFunctions.md5Prefix48(col("doc_id")),
            lit(nshards)).as("shard"),
          size(split(col("text"), " ")).cast("long").as("tokens"))
        .withColumn("cum_before",
          coalesce(sum(col("tokens")).over(w), lit(0L)))
        .select(col("doc_id"), col("shard"), col("tokens"),
          expr("cum_before DIV 512").as("bin"),
          pmod(col("cum_before"), lit(512L)).as("bin_offset"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH n AS (SELECT COUNT(*) AS n FROM documents),
    tok AS (
      SELECT doc_id,
        ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
          % (SELECT GREATEST(16, n // 4096) FROM n) AS shard,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
      FROM documents),
    packed AS (
      SELECT doc_id, shard, tokens,
        COALESCE(SUM(tokens) OVER (PARTITION BY shard ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM tok)
    SELECT doc_id, shard, tokens,
      CAST(cum_before // 512 AS BIGINT) AS bin,
      CAST(cum_before % 512 AS BIGINT) AS bin_offset
    FROM packed ORDER BY doc_id"""))

  // ---- D26: cross-document common-gram flagging --------------------------
  // The C4/RefinedWeb-style INTER-document repetition pass (distinct
  // from q55's within-doc metrics and q56's benchmark contamination):
  // grams shared by many documents are boilerplate; documents dominated
  // by them are templates. Document frequency per distinct trigram, a
  // common set at df >= 4, and each doc's fraction of common grams.
  // Scale shape: explode is scan-linear; df is attached in place by an
  // unordered count window over Window.partitionBy(gram) — ONE gram-key
  // shuffle total (the groupBy+join-back formulation re-derives the
  // exploded grams per side and shuffles three times); groups are
  // per-distinct-trigram — tiny and skew-free — and the boilerplate
  // vocabulary is never broadcast (unlike q56's fixed benchmark index,
  // it grows with the corpus); the per-doc rollup is a doc_id-key
  // aggregation. Everything linear and keyed.
  // The fraction is one division of exact ints — engine-identical.
  private val q73 = Qdef(
    "q73_common_grams",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // native zero-copy shingle kernel — the array_distinct(transform(
      // slice/concat_ws)) composition costs ~260 µs/doc (O(k²) string
      // equality inside array_distinct dominates); TextShinglesE is the
      // same value with LinkedHashSet dedup over zero-copy byte slices
      // (measured 1.63 → 0.32 s at sf0.1). Docs with < 3 tokens yield
      // an empty array, which explode drops — the oracle's len >= 3.
      val eg = t(s, dir, "documents")
        .select(col("doc_id"), explode(textShingles(col("text"), 3)).as("gram"))
      // df attached in place via an unordered gram-partition window: one
      // gram-key shuffle total, no join-back, no second explode pass
      // (the groupBy+join formulation re-derives `eg` for each side and
      // shuffles three times).
      // Groups are per-distinct-trigram: high cardinality, tiny, skew-free.
      eg.withColumn("df",
          count(lit(1)).over(Window.partitionBy(col("gram"))))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("df") >= 4, lit(1L)).otherwise(lit(0L)))
            .as("n_common"))
        .select(col("doc_id"), col("n_grams"), col("n_common"),
          (col("n_common") * lit(1.0) / col("n_grams")).as("common_frac"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH tk AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    g AS (
      SELECT doc_id,
        list_distinct([array_to_string(tk[i:i+2], ' ')
                       for i in range(1, len(tk)-1)]) AS gs
      FROM tk WHERE len(tk) >= 3),
    eg AS (SELECT doc_id, unnest(gs) AS gram FROM g),
    dfreq AS (SELECT gram, COUNT(*) AS df FROM eg GROUP BY gram),
    common AS (SELECT gram FROM dfreq WHERE df >= 4)
    SELECT e.doc_id,
      COUNT(*) AS n_grams,
      CAST(SUM(CASE WHEN c.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_common,
      CAST(SUM(CASE WHEN c.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        * 1.0 / COUNT(*) AS common_frac
    FROM eg e LEFT JOIN common c ON e.gram = c.gram
    GROUP BY e.doc_id ORDER BY e.doc_id"""))

  // ---- D27: BM25 full-text retrieval -------------------------------------
  // Okapi BM25 (k1=1.2, b=0.75) over the inverted-index relational shape
  // — operators/Retrieval.scala carries the full scale + determinism
  // contract (postings prune to the broadcast query-term set map-side;
  // per-term contributions are floor(idf·w·10⁶) BIGINTs so the score
  // sum is order-independent; idf's ln is the only cross-engine
  // final-ulp risk, the q53 transcendental class, masked by the 10⁶
  // floor). Top-k reduces via the TopKPairs partial aggregate.
  private val q76 = Qdef(
    "q76_bm25",
    (s, dir) => {
      import s.implicits._
      val qt = Seq((0, "spark"), (0, "join"),
        (1, "hash"), (1, "merge"), (1, "window"),
        (2, "stream"), (2, "batch")).toDF("q_id", "term")
      graft.operators.Retrieval
        .bm25TopK(t(s, dir, "documents"), "doc_id", "text", qt, k = 10,
          stage = true)
        .orderBy(col("q_id"), col("rn"))
    },
    Some("""WITH qt(q_id, term) AS (VALUES
      (0, 'spark'), (0, 'join'), (1, 'hash'), (1, 'merge'), (1, 'window'),
      (2, 'stream'), (2, 'batch')),
    tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
    stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_len
              FROM dl),
    dfq AS (SELECT t.term, COUNT(*) AS df FROM tf t
            JOIN (SELECT DISTINCT term FROM qt) q USING (term)
            GROUP BY t.term),
    scored AS (
      SELECT q.q_id, t.doc_id,
        CAST(SUM(CAST(FLOOR(
          ln(CAST(2*s.n_docs + 2 AS DOUBLE) / CAST(2*d.df + 1 AS DOUBLE))
          * (CAST(44*s.total_len*t.tf AS DOUBLE)
             / CAST(20*s.total_len*t.tf + 6*s.total_len + 18*l.dl*s.n_docs AS DOUBLE))
          * 1000000.0) AS BIGINT)) AS BIGINT) AS score_scaled
      FROM tf t JOIN qt q USING (term) JOIN dfq d ON d.term = t.term
        JOIN dl l ON l.doc_id = t.doc_id CROSS JOIN stats s
      GROUP BY q.q_id, t.doc_id)
    SELECT q_id, rn, doc_id, score_scaled,
      CAST(score_scaled AS DOUBLE) / 1000000.0 AS score
    FROM (SELECT q_id, doc_id, score_scaled,
        CAST(ROW_NUMBER() OVER (PARTITION BY q_id
          ORDER BY score_scaled DESC, doc_id) AS INT) AS rn
      FROM scored)
    WHERE rn <= 10 ORDER BY q_id, rn"""))

  // ---- D28: blocked edit-distance near-dup pairs --------------------------
  // The record-linkage fuzzy-dedup primitive — operators/FuzzyDedup.scala
  // carries the contract (two complementary blocking keys as keyed
  // self-equi-joins, Levenshtein verify only inside blocks; both
  // engines' levenshtein is the unit-cost DP → identical BIGINTs).
  private val q77 = Qdef(
    "q77_fuzzy_dedup",
    (s, dir) =>
      graft.operators.FuzzyDedup
        .editPairs(t(s, dir, "documents"), "doc_id", "text", maxRel = 0.1)
        .orderBy(col("doc_a"), col("doc_b")),
    Some("""WITH d AS (
      SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents),
    b AS (
      SELECT doc_id, text,
        array_to_string(tk[1:2], ' ') AS pre2,
        array_to_string(tk[-2:], ' ') AS suf2,
        CAST(FLOOR(len(tk) / 8.0) AS BIGINT) AS lb
      FROM d),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
        a.text AS ta, b2.text AS tb
      FROM b a JOIN b b2 ON a.lb = b2.lb AND a.doc_id < b2.doc_id
        AND (a.pre2 = b2.pre2 OR a.suf2 = b2.suf2))
    SELECT doc_a, doc_b,
      CAST(levenshtein(ta, tb) AS BIGINT) AS edit_dist,
      CAST(levenshtein(ta, tb) AS DOUBLE) / GREATEST(len(ta), len(tb))
        AS rel_dist
    FROM cand
    WHERE CAST(levenshtein(ta, tb) AS DOUBLE) / GREATEST(len(ta), len(tb))
      <= 0.1
    ORDER BY doc_a, doc_b"""))

  // Shared DuckDB replay of the PQ pipeline (q80/q81): quantize →
  // per-subspace modulo codebook → encode (argmin by exact integer d²)
  // → query LUT → ADC sums → top-50 by ADC → exact re-rank distances.
  // Every distance is BIGINT: list_dot_product's doubles are exact
  // below 2^53 (max term 64·10¹² ≈ 6.4e13) and cast back immediately.
  private val pqCtes = """WITH q AS (
      SELECT vec_id,
        list_transform(embedding,
          x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS qv
      FROM embeddings),
    st AS (SELECT GREATEST(1, COUNT(*) // 16) AS stride FROM q),
    cb AS (
      SELECT s.sub, c.vec_id AS c_id,
        c.qv[s.sub*8+1 : s.sub*8+8] AS c_sv
      FROM q c CROSS JOIN range(0, 8) s(sub)
      WHERE ('0x' || substring(md5(CAST(c.vec_id AS VARCHAR)), 1, 12))::BIGINT % (SELECT stride FROM st) = 0),
    enc0 AS (
      SELECT v.vec_id AS id, c.sub, c.c_id,
        CAST(list_dot_product(v.qv[c.sub*8+1 : c.sub*8+8],
                              v.qv[c.sub*8+1 : c.sub*8+8]) AS BIGINT)
          + CAST(list_dot_product(c.c_sv, c.c_sv) AS BIGINT)
          - 2*CAST(list_dot_product(v.qv[c.sub*8+1 : c.sub*8+8], c.c_sv)
              AS BIGINT) AS d2
      FROM q v CROSS JOIN cb c),
    codes AS (
      SELECT id, sub, c_id AS code FROM (
        SELECT id, sub, c_id,
          ROW_NUMBER() OVER (PARTITION BY id, sub ORDER BY d2, c_id) AS rn
        FROM enc0) WHERE rn = 1),
    lut AS (
      SELECT qr.vec_id AS q_id, c.sub, c.c_id,
        CAST(list_dot_product(qr.qv[c.sub*8+1 : c.sub*8+8],
                              qr.qv[c.sub*8+1 : c.sub*8+8]) AS BIGINT)
          + CAST(list_dot_product(c.c_sv, c.c_sv) AS BIGINT)
          - 2*CAST(list_dot_product(qr.qv[c.sub*8+1 : c.sub*8+8], c.c_sv)
              AS BIGINT) AS d2q
      FROM q qr CROSS JOIN cb c WHERE qr.vec_id < 10),
    adc AS (
      SELECT l.q_id, co.id, CAST(SUM(l.d2q) AS BIGINT) AS adc
      FROM codes co JOIN lut l ON l.sub = co.sub AND l.c_id = co.code
      WHERE co.id <> l.q_id
      GROUP BY l.q_id, co.id),
    cand AS (
      SELECT q_id, id FROM (
        SELECT q_id, id,
          ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc, id) AS rn
        FROM adc) WHERE rn <= 50),
    pq_exact AS (
      SELECT ca.q_id, ca.id,
        CAST(list_dot_product(qq.qv, qq.qv) AS BIGINT)
          + CAST(list_dot_product(v.qv, v.qv) AS BIGINT)
          - 2*CAST(list_dot_product(qq.qv, v.qv) AS BIGINT) AS dist2
      FROM cand ca JOIN q v ON v.vec_id = ca.id
        JOIN q qq ON qq.vec_id = ca.q_id)"""

  // ---- D7f: product-quantization ANN -------------------------------------
  // The memory-compression face of approximate search (operators/Pq.scala
  // carries the full contract): m=8 subspaces × ks=16 modulo-sampled
  // centroids, ADC lookup-table distances, exact re-rank of the top-50.
  // EVERYTHING is exact BIGINT squared-L2 arithmetic (d² = ⟨a,a⟩+⟨b,b⟩
  // −2⟨a,b⟩ on the native DotLong kernel) — the one ANN oracle with zero
  // floating-point anywhere.
  private val q80 = Qdef(
    "q80_ann_pq",
    (s, dir) => {
      val embs = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), quantize(col("embedding")).as("qv"))
      val n = t(s, dir, "embeddings").count()
      Ann.topK(Ann.index(embs, n, levels = 0, codes = Some(Ann.codesFor(n))),
          embs.filter(col("id") < 10), k = 10)
        .orderBy(col("q_id"), col("rn"))
    },
    Some(pqCtes + """
    SELECT q_id, rn, neighbor, dist2 FROM (
      SELECT q_id, id AS neighbor, dist2,
        CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist2, id) AS INT)
          AS rn
      FROM pq_exact) WHERE rn <= 10
    ORDER BY q_id, rn"""))

  // ---- D7f: PQ recall audit ----------------------------------------------
  // q68's rule — an approximate index without a measured recall is not a
  // production operator — applied to the PQ path: graded against the
  // exact squared-L2 brute-force top-10 (Pq.bruteForceL2TopK, itself
  // all-BIGINT, so unlike q68/q69/q71 even the GROUND TRUTH replays with
  // no floating point). recall = one division of exact BIGINTs.
  private val q81 = Qdef(
    "q81_ann_recall_pq",
    (s, dir) => {
      val embs = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), quantize(col("embedding")).as("qv"))
      val n = t(s, dir, "embeddings").count()
      val queries = embs.filter(col("id") < 10)
      val truth = Pq.bruteForceL2TopK(embs, queries, k = 10)
      val pq = Ann.topK(
        Ann.index(embs, n, levels = 0, codes = Some(Ann.codesFor(n))),
        queries, k = 10)
      Ann.recallAudit(truth.select(col("q_id"), col("neighbor")), pq, "pq")
    },
    Some(pqCtes + """,
    pqk AS (
      SELECT q_id, id AS neighbor FROM (
        SELECT q_id, id,
          ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist2, id) AS rn
        FROM pq_exact) WHERE rn <= 10),
    truth AS (
      SELECT q_id, neighbor FROM (
        SELECT qq.vec_id AS q_id, v.vec_id AS neighbor,
          ROW_NUMBER() OVER (PARTITION BY qq.vec_id ORDER BY
            CAST(list_dot_product(qq.qv, qq.qv) AS BIGINT)
              + CAST(list_dot_product(v.qv, v.qv) AS BIGINT)
              - 2*CAST(list_dot_product(qq.qv, v.qv) AS BIGINT),
            v.vec_id) AS rn
        FROM q qq JOIN q v ON qq.vec_id < 10 AND v.vec_id <> qq.vec_id)
      WHERE rn <= 10)
    SELECT 'pq' AS method, COUNT(*) AS n_truth,
      CAST(SUM(CASE WHEN p.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_hits,
      CAST(SUM(CASE WHEN p.q_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        / COUNT(*) AS recall
    FROM truth t LEFT JOIN pqk p
      ON p.q_id = t.q_id AND p.neighbor = t.neighbor"""))

  // Shared DuckDB replay of the IVFADC pipeline (q86/q87): quantize →
  // coarse modulo codebook (⌊√n⌋ cells, the q43 ladder) → coarse argmin
  // assign → RESIDUAL per vector → shared residual product codebook
  // (m=8 × ks≈16, the q80 budget) → per-vector codes → per-(query,
  // probed-cell) LUT → ADC inside the nprobe probed cells only → top-50
  // by ADC → exact re-rank. Every distance is BIGINT (residuals are
  // differences of quantized longs — still exact below 2^53), so the
  // replay carries zero ulp risk, like the q80/q81 family it composes.
  // Window inputs are kept NARROW (id, cr, d2 — never the 64-elem qv;
  // the §5 slimmed-replay rule) so the sf10 gate stays feasible.
  private val ivfpqCtes = """WITH q AS (
      SELECT vec_id,
        list_transform(embedding,
          x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS qv
      FROM embeddings),
    par AS (
      SELECT GREATEST(1, COUNT(*) //
          GREATEST(16, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT))) AS cstride,
        GREATEST(1, COUNT(*) // 16) AS pstride
      FROM q),
    cc AS (
      SELECT vec_id AS c_id, qv AS cqv,
        ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cr
      FROM q WHERE ('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 12))::BIGINT % (SELECT cstride FROM par) = 0),
    csc AS (
      SELECT v.vec_id AS id, c.cr,
        CAST(list_dot_product(v.qv, v.qv) AS BIGINT)
          + CAST(list_dot_product(c.cqv, c.cqv) AS BIGINT)
          - 2*CAST(list_dot_product(v.qv, c.cqv) AS BIGINT) AS d2
      FROM q v CROSS JOIN cc c),
    asg AS (SELECT id, cr FROM (
        SELECT id, cr,
          ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, cr) AS rn
        FROM csc) WHERE rn = 1),
    res AS (SELECT a.id, a.cr,
        [v.qv[i] - c.cqv[i] for i in range(1, len(v.qv)+1)] AS res
      FROM asg a JOIN q v ON v.vec_id = a.id JOIN cc c ON c.cr = a.cr),
    pcbr AS (SELECT c_id, sub, c_sv,
        ROW_NUMBER() OVER (PARTITION BY sub ORDER BY c_id) - 1 AS r
      FROM (
        SELECT r.id AS c_id, s.sub, r.res[s.sub*8+1 : s.sub*8+8] AS c_sv
        FROM res r CROSS JOIN range(0, 8) s(sub)
        WHERE ('0x' || substring(md5(CAST(r.id AS VARCHAR)), 1, 12))::BIGINT % (SELECT pstride FROM par) = 0)),
    esc AS (
      SELECT e.id, b.sub, b.r,
        CAST(list_dot_product(e.res[b.sub*8+1 : b.sub*8+8],
                              e.res[b.sub*8+1 : b.sub*8+8]) AS BIGINT)
          + CAST(list_dot_product(b.c_sv, b.c_sv) AS BIGINT)
          - 2*CAST(list_dot_product(e.res[b.sub*8+1 : b.sub*8+8], b.c_sv)
              AS BIGINT) AS d2
      FROM res e CROSS JOIN pcbr b),
    codes AS (SELECT id, sub, r AS code FROM (
        SELECT id, sub, r,
          ROW_NUMBER() OVER (PARTITION BY id, sub ORDER BY d2, r) AS rn
        FROM esc) WHERE rn = 1),
    qsc AS (
      SELECT qq.vec_id AS q_id, c.cr,
        CAST(list_dot_product(qq.qv, qq.qv) AS BIGINT)
          + CAST(list_dot_product(c.cqv, c.cqv) AS BIGINT)
          - 2*CAST(list_dot_product(qq.qv, c.cqv) AS BIGINT) AS d2
      FROM q qq CROSS JOIN cc c WHERE qq.vec_id < 10),
    probes AS (SELECT q_id, cr FROM (
        SELECT q_id, cr,
          ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2, cr) AS rn
        FROM qsc) WHERE rn <= 4),
    qres AS (SELECT p.q_id, p.cr,
        [qq.qv[i] - c.cqv[i] for i in range(1, len(qq.qv)+1)] AS rq
      FROM probes p JOIN q qq ON qq.vec_id = p.q_id
        JOIN cc c ON c.cr = p.cr),
    lut AS (SELECT r.q_id, r.cr, b.sub, b.r,
        CAST(list_dot_product(r.rq[b.sub*8+1 : b.sub*8+8],
                              r.rq[b.sub*8+1 : b.sub*8+8]) AS BIGINT)
          + CAST(list_dot_product(b.c_sv, b.c_sv) AS BIGINT)
          - 2*CAST(list_dot_product(r.rq[b.sub*8+1 : b.sub*8+8], b.c_sv)
              AS BIGINT) AS d2q
      FROM qres r CROSS JOIN pcbr b),
    adc AS (SELECT l.q_id, co.id, CAST(SUM(l.d2q) AS BIGINT) AS adc
      FROM codes co
      JOIN asg a ON a.id = co.id
      JOIN lut l ON l.cr = a.cr AND l.sub = co.sub AND l.r = co.code
      WHERE co.id <> l.q_id
      GROUP BY l.q_id, co.id),
    icand AS (SELECT q_id, id FROM (
        SELECT q_id, id,
          ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc, id) AS rn
        FROM adc) WHERE rn <= 50),
    ipq_exact AS (SELECT ca.q_id, ca.id,
        CAST(list_dot_product(qq.qv, qq.qv) AS BIGINT)
          + CAST(list_dot_product(v.qv, v.qv) AS BIGINT)
          - 2*CAST(list_dot_product(qq.qv, v.qv) AS BIGINT) AS dist2
      FROM icand ca JOIN q v ON v.vec_id = ca.id
        JOIN q qq ON qq.vec_id = ca.q_id)"""

  // ---- D7g: IVF-PQ composite ANN (IVFADC) ---------------------------------
  // The production composition of the partition face (q43/q70 cells) and
  // the compression face (q80 codes) — operators/IvfPq.scala carries the
  // full contract: coarse ⌊√n⌋ cells, shared residual product codebook,
  // ADC only inside the nprobe probed cells, exact re-rank; everything
  // exact BIGINT squared-L2.
  private val q86 = Qdef(
    "q86_ann_ivfpq",
    (s, dir) => {
      val embs = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), quantize(col("embedding")).as("qv"))
      val n = t(s, dir, "embeddings").count()
      // the size-routed face: single-level below Ann.twoLevelThreshold
      // (the oracle's sf0.01 replay runs that face), two-level at scale
      // — the r15 threshold-switched production default
      Ann.topK(Ann.sized(embs, n, codes = Some(Ann.codesFor(n))),
          embs.filter(col("id") < 10), nprobe = 4, k = 10)
        .orderBy(col("q_id"), col("rn"))
    },
    Some(ivfpqCtes + """
    SELECT q_id, rn, neighbor, dist2 FROM (
      SELECT q_id, id AS neighbor, dist2,
        CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist2, id) AS INT)
          AS rn
      FROM ipq_exact) WHERE rn <= 10
    ORDER BY q_id, rn"""))

  // ---- D7g: IVFADC recall audit -------------------------------------------
  // q68's standing rule applied to the composite: graded against the
  // exact squared-L2 brute-force top-10 (all-BIGINT ground truth, like
  // q81). nprobe is the caller's recall knob; this audit is its meter.
  private val q87 = Qdef(
    "q87_ann_recall_ivfpq",
    (s, dir) => {
      val embs = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), quantize(col("embedding")).as("qv"))
      val n = t(s, dir, "embeddings").count()
      val queries = embs.filter(col("id") < 10)
      val truth = Pq.bruteForceL2TopK(embs, queries, k = 10)
      val ipq = Ann.topK(Ann.sized(embs, n, codes = Some(Ann.codesFor(n))),
        queries, nprobe = 4, k = 10)
      Ann.recallAudit(truth.select(col("q_id"), col("neighbor")), ipq, "ivfpq")
    },
    Some(ivfpqCtes + """,
    ipqk AS (
      SELECT q_id, id AS neighbor FROM (
        SELECT q_id, id,
          ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist2, id) AS rn
        FROM ipq_exact) WHERE rn <= 10),
    truth AS (
      SELECT q_id, neighbor FROM (
        SELECT qq.vec_id AS q_id, v.vec_id AS neighbor,
          ROW_NUMBER() OVER (PARTITION BY qq.vec_id ORDER BY
            CAST(list_dot_product(qq.qv, qq.qv) AS BIGINT)
              + CAST(list_dot_product(v.qv, v.qv) AS BIGINT)
              - 2*CAST(list_dot_product(qq.qv, v.qv) AS BIGINT),
            v.vec_id) AS rn
        FROM q qq JOIN q v ON qq.vec_id < 10 AND v.vec_id <> qq.vec_id)
      WHERE rn <= 10)
    SELECT 'ivfpq' AS method, COUNT(*) AS n_truth,
      CAST(SUM(CASE WHEN p.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_hits,
      CAST(SUM(CASE WHEN p.q_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        / COUNT(*) AS recall
    FROM truth t LEFT JOIN ipqk p
      ON p.q_id = t.q_id AND p.neighbor = t.neighbor"""))

  // Shared DuckDB replay of the TWO-LEVEL IVFADC pipeline (q90/q91):
  // the ivfpqCtes replay with the coarse quantizer replaced by the
  // two-stage assign (q70's cell1/cell2 CTEs, recast into the exact
  // BIGINT squared-L2 discipline): ∛n coarse cells -> per-cell fine
  // seeds -> cell2 argmin inside the own coarse cell (tie-break d2 then
  // f_id, matching the Spark array_min struct order) -> residual
  // against the (cell1, cell2) centroid -> shared residual product
  // codebook -> ADC inside the nprobe1 x nprobe2 probed cells -> exact
  // re-rank. A coarse cell with no fine seed keeps cell2 = -1 and its
  // coarse centroid as the residual source, on both the corpus and the
  // probe side.
  private val ivfpq2Ctes = """WITH q AS (
      SELECT vec_id,
        list_transform(embedding,
          x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS qv
      FROM embeddings),
    c1p AS (
      SELECT GREATEST(8, MAX(c)) AS c1 FROM range(1, 1000001) t(c)
      WHERE c*c*c <= (SELECT COUNT(*) FROM q)),
    par AS (
      SELECT GREATEST(1, COUNT(*) // (SELECT c1 FROM c1p)) AS stride1,
        GREATEST(1, COUNT(*) //
          ((SELECT c1 FROM c1p) * (SELECT c1 FROM c1p))) AS stride2,
        GREATEST(1, COUNT(*) // 16) AS pstride
      FROM q),
    cc AS (
      SELECT vec_id AS c_id, qv AS cqv,
        ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cr
      FROM q WHERE ('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 12))::BIGINT % (SELECT stride1 FROM par) = 0),
    csc AS (
      SELECT v.vec_id AS id, c.cr,
        CAST(list_dot_product(v.qv, v.qv) AS BIGINT)
          + CAST(list_dot_product(c.cqv, c.cqv) AS BIGINT)
          - 2*CAST(list_dot_product(v.qv, c.cqv) AS BIGINT) AS d2
      FROM q v CROSS JOIN cc c),
    asg1 AS (SELECT id, cr AS cell1 FROM (
        SELECT id, cr,
          ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, cr) AS rn
        FROM csc) WHERE rn = 1),
    fine AS (
      SELECT a.id AS f_id, v.qv AS f_qv, a.cell1
      FROM asg1 a JOIN q v ON v.vec_id = a.id
      WHERE ('0x' || substring(md5(CAST(a.id AS VARCHAR)), 1, 12))::BIGINT % (SELECT stride2 FROM par) = 0),
    fsc AS (
      SELECT a.id, f.f_id,
        CAST(list_dot_product(v.qv, v.qv) AS BIGINT)
          + CAST(list_dot_product(f.f_qv, f.f_qv) AS BIGINT)
          - 2*CAST(list_dot_product(v.qv, f.f_qv) AS BIGINT) AS d2
      FROM asg1 a JOIN q v ON v.vec_id = a.id
      JOIN fine f ON f.cell1 = a.cell1),
    asg2 AS (
      SELECT a.id, a.cell1, COALESCE(s.cell2, -1) AS cell2
      FROM asg1 a LEFT JOIN (
        SELECT id, f_id AS cell2 FROM (
          SELECT id, f_id,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, f_id) AS rn
          FROM fsc) WHERE rn = 1) s ON s.id = a.id),
    cent AS (
      SELECT a.id, a.cell1, a.cell2,
        CASE WHEN a.cell2 = -1 THEN c.cqv ELSE f.f_qv END AS cv
      FROM asg2 a JOIN cc c ON c.cr = a.cell1
      LEFT JOIN fine f ON f.f_id = a.cell2),
    res AS (
      SELECT ct.id, ct.cell1, ct.cell2,
        [v.qv[i] - ct.cv[i] for i in range(1, len(v.qv)+1)] AS res
      FROM cent ct JOIN q v ON v.vec_id = ct.id),
    pcbr AS (SELECT c_id, sub, c_sv,
        ROW_NUMBER() OVER (PARTITION BY sub ORDER BY c_id) - 1 AS r
      FROM (
        SELECT r.id AS c_id, s.sub, r.res[s.sub*8+1 : s.sub*8+8] AS c_sv
        FROM res r CROSS JOIN range(0, 8) s(sub)
        WHERE ('0x' || substring(md5(CAST(r.id AS VARCHAR)), 1, 12))::BIGINT % (SELECT pstride FROM par) = 0)),
    esc AS (
      SELECT e.id, b.sub, b.r,
        CAST(list_dot_product(e.res[b.sub*8+1 : b.sub*8+8],
                              e.res[b.sub*8+1 : b.sub*8+8]) AS BIGINT)
          + CAST(list_dot_product(b.c_sv, b.c_sv) AS BIGINT)
          - 2*CAST(list_dot_product(e.res[b.sub*8+1 : b.sub*8+8], b.c_sv)
              AS BIGINT) AS d2
      FROM res e CROSS JOIN pcbr b),
    codes AS (SELECT id, sub, r AS code FROM (
        SELECT id, sub, r,
          ROW_NUMBER() OVER (PARTITION BY id, sub ORDER BY d2, r) AS rn
        FROM esc) WHERE rn = 1),
    qsc AS (
      SELECT qq.vec_id AS q_id, c.cr,
        CAST(list_dot_product(qq.qv, qq.qv) AS BIGINT)
          + CAST(list_dot_product(c.cqv, c.cqv) AS BIGINT)
          - 2*CAST(list_dot_product(qq.qv, c.cqv) AS BIGINT) AS d2
      FROM q qq CROSS JOIN cc c WHERE qq.vec_id < 10),
    probes1 AS (SELECT q_id, cr AS cell1 FROM (
        SELECT q_id, cr,
          ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2, cr) AS rn
        FROM qsc) WHERE rn <= 4),
    fprobe AS (
      SELECT p.q_id, p.cell1, f.f_id,
        CAST(list_dot_product(qq.qv, qq.qv) AS BIGINT)
          + CAST(list_dot_product(f.f_qv, f.f_qv) AS BIGINT)
          - 2*CAST(list_dot_product(qq.qv, f.f_qv) AS BIGINT) AS d2
      FROM probes1 p JOIN q qq ON qq.vec_id = p.q_id
      JOIN fine f ON f.cell1 = p.cell1),
    probes AS (
      SELECT q_id, cell1, f_id AS cell2 FROM (
        SELECT q_id, cell1, f_id,
          ROW_NUMBER() OVER (PARTITION BY q_id, cell1 ORDER BY d2, f_id)
            AS rn
        FROM fprobe) WHERE rn <= 4
      UNION ALL
      SELECT p.q_id, p.cell1, -1 AS cell2 FROM probes1 p
      WHERE NOT EXISTS (SELECT 1 FROM fine f WHERE f.cell1 = p.cell1)),
    qcent AS (
      SELECT p.q_id, p.cell1, p.cell2,
        CASE WHEN p.cell2 = -1 THEN c.cqv ELSE f.f_qv END AS cv
      FROM probes p JOIN cc c ON c.cr = p.cell1
      LEFT JOIN fine f ON f.f_id = p.cell2),
    qres AS (
      SELECT qc.q_id, qc.cell1, qc.cell2,
        [qq.qv[i] - qc.cv[i] for i in range(1, len(qq.qv)+1)] AS rq
      FROM qcent qc JOIN q qq ON qq.vec_id = qc.q_id),
    lut AS (SELECT r.q_id, r.cell1, r.cell2, b.sub, b.r,
        CAST(list_dot_product(r.rq[b.sub*8+1 : b.sub*8+8],
                              r.rq[b.sub*8+1 : b.sub*8+8]) AS BIGINT)
          + CAST(list_dot_product(b.c_sv, b.c_sv) AS BIGINT)
          - 2*CAST(list_dot_product(r.rq[b.sub*8+1 : b.sub*8+8], b.c_sv)
              AS BIGINT) AS d2q
      FROM qres r CROSS JOIN pcbr b),
    adc AS (SELECT l.q_id, co.id, CAST(SUM(l.d2q) AS BIGINT) AS adc
      FROM codes co
      JOIN asg2 a ON a.id = co.id
      JOIN lut l ON l.cell1 = a.cell1 AND l.cell2 = a.cell2
        AND l.sub = co.sub AND l.r = co.code
      WHERE co.id <> l.q_id
      GROUP BY l.q_id, co.id),
    icand AS (SELECT q_id, id FROM (
        SELECT q_id, id,
          ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc, id) AS rn
        FROM adc) WHERE rn <= 50),
    ipq2_exact AS (SELECT ca.q_id, ca.id,
        CAST(list_dot_product(qq.qv, qq.qv) AS BIGINT)
          + CAST(list_dot_product(v.qv, v.qv) AS BIGINT)
          - 2*CAST(list_dot_product(qq.qv, v.qv) AS BIGINT) AS dist2
      FROM icand ca JOIN q v ON v.vec_id = ca.id
        JOIN q qq ON qq.vec_id = ca.q_id)"""

  // ---- D7h: two-level IVFADC (the full 10¹² composition) ------------------
  // operators/IvfPq.scala (two levels) carries the contract: ∛n coarse
  // broadcast + equi-joined per-cell fine codebooks (q70's quantizer)
  // feeding the PQ-residual encode and the probed-cells-only ADC (q86's
  // scorer) — no single broadcast grows past ∛n rows at any corpus size.
  private val q90 = Qdef(
    "q90_ann_ivfpq_2level",
    (s, dir) => {
      val embs = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), quantize(col("embedding")).as("qv"))
      val n = t(s, dir, "embeddings").count()
      Ann.topK(Ann.index(embs, n, levels = 2, codes = Some(Ann.codesFor(n))),
          embs.filter(col("id") < 10), nprobe = 4, k = 10)
        .orderBy(col("q_id"), col("rn"))
    },
    Some(ivfpq2Ctes + """
    SELECT q_id, rn, neighbor, dist2 FROM (
      SELECT q_id, id AS neighbor, dist2,
        CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist2, id) AS INT)
          AS rn
      FROM ipq2_exact) WHERE rn <= 10
    ORDER BY q_id, rn"""))

  // ---- D7h: two-level IVFADC recall audit ----------------------------------
  // q68's standing rule: the two-stage quantizer changes which cells a
  // query sees, so the composite carries its own measured recall at the
  // default probe budget against the exact BIGINT brute-force truth.
  private val q91 = Qdef(
    "q91_ann_recall_ivfpq2",
    (s, dir) => {
      val embs = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), quantize(col("embedding")).as("qv"))
      val n = t(s, dir, "embeddings").count()
      val queries = embs.filter(col("id") < 10)
      val truth = Pq.bruteForceL2TopK(embs, queries, k = 10)
      val ipq2 = Ann.topK(
        Ann.index(embs, n, levels = 2, codes = Some(Ann.codesFor(n))),
        queries, nprobe = 4, k = 10)
      // the approximate side is k×|queries| ≈ 100 rows at ANY corpus
      // size: pin it broadcast so AQE can't flip the truth-join strategy
      // between runs (r15 telemetry: an 8.46× shuffle-byte swing on
      // byte-identical inputs from exactly this replan)
      Ann.recallAudit(truth.select(col("q_id"), col("neighbor")),
        broadcast(ipq2), "ivfpq2")
    },
    Some(ivfpq2Ctes + """,
    ipqk AS (
      SELECT q_id, id AS neighbor FROM (
        SELECT q_id, id,
          ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist2, id) AS rn
        FROM ipq2_exact) WHERE rn <= 10),
    truth AS (
      SELECT q_id, neighbor FROM (
        SELECT qq.vec_id AS q_id, v.vec_id AS neighbor,
          ROW_NUMBER() OVER (PARTITION BY qq.vec_id ORDER BY
            CAST(list_dot_product(qq.qv, qq.qv) AS BIGINT)
              + CAST(list_dot_product(v.qv, v.qv) AS BIGINT)
              - 2*CAST(list_dot_product(qq.qv, v.qv) AS BIGINT),
            v.vec_id) AS rn
        FROM q qq JOIN q v ON qq.vec_id < 10 AND v.vec_id <> qq.vec_id)
      WHERE rn <= 10)
    SELECT 'ivfpq2' AS method, COUNT(*) AS n_truth,
      CAST(SUM(CASE WHEN p.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_hits,
      CAST(SUM(CASE WHEN p.q_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        / COUNT(*) AS recall
    FROM truth t LEFT JOIN ipqk p
      ON p.q_id = t.q_id AND p.neighbor = t.neighbor"""))

  // ---- D33: learned-BPE tokenizer -----------------------------------------
  // One unrolled training+application round of the q88 oracle: count
  // adjacent symbol pairs over the top-W table (weighted by word
  // frequency, overlaps counted — the standard BPE definition), pick
  // the (count DESC, pair ASC) winner, then apply it greedy
  // left-to-right to BOTH the training table and the all-distinct-words
  // application table via the list_reduce fold (the q32 fold-replay
  // idiom; wrapped singletons because list_reduce's accumulator must
  // match the element type). An exhausted round (no pairs left) yields
  // an empty b$i whose NULL scalars make every CASE take the no-op
  // branch — matching the Scala trainer's early stop.
  private def bpeRound(i: Int): String = s""",
    p$i AS MATERIALIZED (SELECT u.p[1] AS x, u.p[2] AS y, SUM(t.wc) AS c
      FROM (SELECT wc,
              [[syms[j], syms[j+1]] for j in range(1, len(syms))] AS pl
            FROM s$i) t, unnest(t.pl) AS u(p)
      GROUP BY x, y),
    b$i AS MATERIALIZED (SELECT x, y FROM p$i ORDER BY c DESC, x, y LIMIT 1),
    s${i + 1} AS MATERIALIZED (SELECT word, wc,
      CASE WHEN b.x IS NULL THEN syms ELSE
        list_reduce(list_transform(syms, z -> [z]),
          (acc, e) -> CASE WHEN acc[-1] = b.x AND e[1] = b.y
            THEN list_concat(acc[1:len(acc)-1], [b.x || b.y])
            ELSE list_concat(acc, e) END)
      END AS syms FROM s$i LEFT JOIN b$i b ON TRUE),
    a${i + 1} AS MATERIALIZED (SELECT word,
      CASE WHEN b.x IS NULL THEN syms ELSE
        list_reduce(list_transform(syms, z -> [z]),
          (acc, e) -> CASE WHEN acc[-1] = b.x AND e[1] = b.y
            THEN list_concat(acc[1:len(acc)-1], [b.x || b.y])
            ELSE list_concat(acc, e) END)
      END AS syms FROM a$i LEFT JOIN b$i b ON TRUE)"""

  // The tokenizer the training-data stack actually meters budgets with
  // (operators/BpeTokens.scala carries the contract: top-256 word table
  // → 24 greedy merge rounds in plain Scala on the bounded driver
  // artifact; application = keyed folds per DISTINCT word + word-key
  // join + doc-keyed rollup — the q73/q84 keyed-model-table shape).
  // The oracle REPLAYS TRAINING ITSELF: 24 unrolled rounds, each an
  // aggregation + argmax + list_reduce application — the whole learned
  // artifact is derived inside one SQL statement on both engines.
  private val q88 = Qdef(
    "q88_bpe_tokens",
    (s, dir) =>
      graft.operators.BpeTokens
        .bpeTokenCounts(t(s, dir, "documents"), "doc_id", "text",
          topW = 256, rounds = 24)
        .orderBy(col("doc_id")),
    Some("""WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    wx AS MATERIALIZED (SELECT doc_id, u.w AS word
      FROM tok, unnest(tk) AS u(w) WHERE u.w <> ''),
    wcnt AS MATERIALIZED (SELECT word, COUNT(*) AS wc FROM wx GROUP BY word),
    s0 AS MATERIALIZED (SELECT word, wc,
        [word[j] for j in range(1, len(word)+1)] AS syms
      FROM (SELECT word, wc FROM wcnt ORDER BY wc DESC, word LIMIT 256)),
    a0 AS MATERIALIZED (SELECT word,
        [word[j] for j in range(1, len(word)+1)] AS syms
      FROM wcnt)""" +
      (0 until 24).map(bpeRound).mkString + """
    SELECT w.doc_id, COUNT(*) AS n_words,
      CAST(SUM(len(a.syms)) AS BIGINT) AS n_bpe_tokens
    FROM wx w JOIN a24 a ON a.word = w.word
    GROUP BY w.doc_id ORDER BY w.doc_id"""))

  // ---- D29: deterministic stratified sampling -----------------------------
  // Fixed-count-per-stratum sampling by content-hash order (operators/
  // Sampling.scala carries the contract: no RNG, TopKPairs partial
  // aggregate so the shuffle is O(strata·n) at any corpus size). The
  // oracle replays the md5₄₈ order as a per-stratum ROW_NUMBER.
  private val q82 = Qdef(
    "q82_stratified_sample",
    (s, dir) =>
      graft.operators.Sampling
        .stratifiedSample(t(s, dir, "documents"), "lang", "doc_id", "text",
          n = 20)
        .orderBy(col("lang"), col("rn")),
    Some("""SELECT lang, rn, doc_id, h FROM (
      SELECT lang, doc_id,
        ('0x' || substring(md5(text), 1, 12))::BIGINT AS h,
        CAST(ROW_NUMBER() OVER (PARTITION BY lang
          ORDER BY ('0x' || substring(md5(text), 1, 12))::BIGINT, doc_id)
          AS INT) AS rn
      FROM documents)
    WHERE rn <= 20 ORDER BY lang, rn"""))

  // ---- D30: shingle-containment near-dup pairs ---------------------------
  // The ASYMMETRIC dedup pass (operators/Containment.scala carries the
  // contract: bottom-k containment sketch → df-capped posting join →
  // exact by-key intersection; everything integer over md5₄₈ shingle
  // hashes). NOTE the synthetic corpus has no strongly asymmetric
  // containment (measured min |S(A)|/|S(B)| among ≥0.8-containment
  // pairs is 0.875), so this oracle gates the full sketch machinery on
  // the symmetric families; the asymmetric semantics — a doc QUOTED
  // inside a longer one, invisible to jaccard — is pinned by
  // ContainmentSpec on planted data.
  private val q83 = Qdef(
    "q83_containment",
    (s, dir) =>
      graft.operators.Containment
        .containmentPairs(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_a"), col("doc_b")),
    Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk
      FROM documents),
    g AS (SELECT doc_id,
        list_distinct([array_to_string(tk[i:i+4], ' ')
                       for i in range(1, len(tk)-3)]) AS gs
      FROM tk WHERE len(tk) >= 5),
    shd AS (SELECT DISTINCT doc_id,
        ('0x' || substring(md5(u.gram), 1, 12))::BIGINT AS h
      FROM g, unnest(g.gs) AS u(gram)),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
    bk AS (SELECT doc_id AS doc_a, h FROM (
        SELECT doc_id, h,
          ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY h) AS rn
        FROM shd) WHERE rn <= 16),
    dfreq AS (SELECT h, COUNT(*) AS c FROM shd GROUP BY h),
    post AS (SELECT s.h, s.doc_id AS doc_b FROM shd s
      JOIN dfreq d ON d.h = s.h WHERE d.c <= 32),
    cand AS (SELECT a.doc_a, p.doc_b FROM bk a JOIN post p ON a.h = p.h
      WHERE a.doc_a <> p.doc_b
      GROUP BY a.doc_a, p.doc_b HAVING COUNT(*) >= 8),
    inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
      FROM cand c
      JOIN shd x ON x.doc_id = c.doc_a
      JOIN shd y ON y.doc_id = c.doc_b AND y.h = x.h
      GROUP BY c.doc_a, c.doc_b)
    SELECT doc_a, doc_b, n_a, inter, containment FROM (
      SELECT i.doc_a, i.doc_b, sa.n AS n_a, sb.n AS n_b, i.inter,
        CAST(i.inter AS DOUBLE) / sa.n AS containment
      FROM inter i JOIN sz sa ON sa.doc_id = i.doc_a
        JOIN sz sb ON sb.doc_id = i.doc_b)
    WHERE containment >= 0.8
      AND (n_a < n_b OR (n_a = n_b AND doc_a < doc_b))
    ORDER BY doc_a, doc_b"""))

  // ---- D31: n-gram LM perplexity quality scoring --------------------------
  // The CCNet-class perplexity gate (operators/LmScore.scala carries the
  // contract: corpus-trained add-one bigram LM as a keyed probability
  // table, scan-local bigram extraction with multiplicity, quantized
  // floor(−10⁶·ln p) contributions so per-doc sums are exact BIGINTs).
  private val q84 = Qdef(
    "q84_lm_perplexity",
    (s, dir) =>
      graft.operators.LmScore
        .bigramNll(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
    Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk
      FROM documents),
    bgl AS (SELECT doc_id,
        [[tk[i], tk[i+1]] for i in range(1, len(tk))] AS bl FROM tok),
    bg AS (SELECT doc_id, u.p[1] AS w1, u.p[2] AS w2
      FROM bgl, unnest(bl) AS u(p)),
    cbg AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
    cw1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1),
    voc AS (SELECT COUNT(DISTINCT w2) AS v FROM bg),
    model AS (
      SELECT c.w1, c.w2,
        CAST(FLOOR(-1000000.0 *
          ln(CAST(c.c12 + 1 AS DOUBLE) / CAST(h.c1 + voc.v AS DOUBLE)))
          AS BIGINT) AS q
      FROM cbg c JOIN cw1 h ON h.w1 = c.w1 CROSS JOIN voc)
    SELECT b.doc_id, COUNT(*) AS n_bigrams,
      CAST(SUM(m.q) AS BIGINT) AS nll_scaled,
      CAST(SUM(m.q) AS DOUBLE) / (COUNT(*) * 1000000) AS avg_nll
    FROM bg b JOIN model m ON m.w1 = b.w1 AND m.w2 = b.w2
    GROUP BY b.doc_id ORDER BY b.doc_id"""))

  // ---- D32: fastText-style NB quality classifier --------------------------
  // The model-based filter after the heuristic gates (operators/
  // NbQuality.scala carries the contract: q38's integer-exact keep-gate
  // as the reference label, add-one multinomial NB over token unigrams
  // as a token-keyed weight table, quantized per-class ln pieces so the
  // log-odds is an exact-BIGINT combination and the kept set replays
  // bit-for-bit).
  private val q85 = Qdef(
    "q85_quality_classifier",
    (s, dir) =>
      graft.operators.NbQuality
        // stage=false STANDS (re-measured r18 at sf10: staging the tf
        // table cost MORE on every axis — 7.34 s / 519.7 MB / 40.3M
        // records vs 6.38 / 463.4 / 32.6M — because the checkpoint
        // records UnknownPartitioning, so every consumer re-exchanges
        // what the lazy form's exchange reuse already shared)
        .nbLogOdds(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
    Some("""WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS tk,
        (len(string_split(text, ' ')) >= 50 AND
         len(list_distinct(string_split(text, ' '))) * 10
           >= len(string_split(text, ' ')) * 3) AS pos
      FROM documents),
    tf AS (SELECT doc_id, pos, u.tok AS tok, COUNT(*) AS m
      FROM base, unnest(base.tk) AS u(tok) GROUP BY doc_id, pos, u.tok),
    model AS (SELECT tok,
        SUM(CASE WHEN pos THEN m ELSE 0 END) AS cp,
        SUM(CASE WHEN pos THEN 0 ELSE m END) AS cn
      FROM tf GROUP BY tok),
    mq AS (SELECT tok,
        CAST(FLOOR(1000000.0 * ln(CAST(cp + 1 AS DOUBLE))) AS BIGINT) AS q1p,
        CAST(FLOOR(1000000.0 * ln(CAST(cn + 1 AS DOUBLE))) AS BIGINT) AS q1n
      FROM model),
    tot AS (SELECT SUM(cp) AS totp, SUM(cn) AS totn, COUNT(*) AS v
      FROM model),
    prior AS (SELECT SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS ndp,
        SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS ndn FROM base),
    consts AS (SELECT
        CAST(FLOOR(1000000.0 * ln(CAST(totp + v AS DOUBLE))) AS BIGINT) AS q2p,
        CAST(FLOOR(1000000.0 * ln(CAST(totn + v AS DOUBLE))) AS BIGINT) AS q2n,
        CAST(FLOOR(1000000.0 * ln(CAST(ndp + 1 AS DOUBLE))) AS BIGINT) AS q3p,
        CAST(FLOOR(1000000.0 * ln(CAST(ndn + 1 AS DOUBLE))) AS BIGINT) AS q3n
      FROM tot CROSS JOIN prior)
    SELECT t.doc_id,
      CAST(SUM(t.m) AS BIGINT) AS n_toks,
      t.pos AS label_pos,
      CAST(SUM(t.m * (q.q1p - q.q1n))
           - SUM(t.m) * (c.q2p - c.q2n) + (c.q3p - c.q3n) AS BIGINT)
        AS logodds_scaled,
      (SUM(t.m * (q.q1p - q.q1n))
           - SUM(t.m) * (c.q2p - c.q2n) + (c.q3p - c.q3n)) > 0
        AS predicted_keep
    FROM tf t JOIN mq q ON q.tok = t.tok CROSS JOIN consts c
    GROUP BY t.doc_id, t.pos, c.q2p, c.q2n, c.q3p, c.q3n
    ORDER BY t.doc_id"""))

  // ---- D34: PII detection + redaction audit (v2, round 10) ---------------
  // The pre-dedup curation pass (operators/PiiScrub.scala carries the
  // contract: per-class detection on raw text with a Luhn-gated card
  // class, fixed-order email -> intl phone -> card -> NANP phone ->
  // IPv4 -> IPv6 global-replace chain, everything scan-local). The
  // documents corpus is VERIFIED PII-free by construction (word-salad
  // synthetic text — zero matches for any class at every SF), so the
  // query scans it for the zero-count audit rows AND derives one
  // deterministic contact note per customer row: keyed email / dashed
  // phone / range-valid IPv4 (pure integer arithmetic on c_custkey
  // that both engines compute identically) plus the round-10 literal
  // plants — an international phone, a Luhn-VALID card, a Luhn-INVALID
  // card-shaped trap (redacted but NOT counted), a full-form IPv6, the
  // version-string residual ("ver 1.2.3.4.5" -> "[IP].5", the
  // documented no-lookaround limit), the octet-range trap
  // ("999.300.1.2" — must match NOTHING under the range-checked
  // pattern), and the round-11 grouping trap ("55555 44444 333", a
  // 5-5-3 spaced digit run: the rejected digits-with-any-separators
  // card shape would fuse it into one card, the contractual
  // 4-4-4-(2-4)|bare-13-19 shape matches nothing — catches oracle
  // pattern drift of that class). The oracle replays note derivation,
  // all five detection classes including the Luhn fold, and the
  // six-step redaction chain bit-for-bit (24-bit md5-prefix checksum
  // of every redacted row).
  private val q89 = Qdef(
    "q89_pii_redact",
    (s, dir) => {
      val k = col("c_custkey")
      val notes = t(s, dir, "customer").select(
        concat(lit("contact:"), col("c_mktsegment")).as("grp"),
        concat(
          col("c_name"), lit(" <c"), k.cast("string"),
          lit("@mail.example.com> ph "),
          (lit(200) + k % 700).cast("string"), lit("-"),
          (lit(100) + (k * 7919) % 900).cast("string"), lit("-"),
          (lit(1000) + (k * 104729) % 9000).cast("string"),
          lit(" ip 10."),
          (k % 256).cast("string"), lit("."),
          ((k * 31) % 256).cast("string"), lit("."),
          (lit(1) + (k * 17) % 254).cast("string"),
          lit(" intl +44 20 7946 0958 card 4539-1488-0343-6467" +
            " bad 4111 1111 1111 1112" +
            " ip6 2001:db8:85a3:0:0:8a2e:370:7334" +
            " ver 1.2.3.4.5 big 999.300.1.2" +
            " grp 55555 44444 333 end")).as("txt"))
      val docs = t(s, dir, "documents").select(
        concat(lit("doc:"), col("source")).as("grp"), col("text").as("txt"))
      graft.operators.PiiScrub.piiAudit(notes.unionAll(docs), "grp", "txt")
    },
    Some("""WITH notes AS (
      SELECT 'contact:' || c_mktsegment AS grp,
        c_name || ' <c' || c_custkey || '@mail.example.com> ph ' ||
        (200 + c_custkey % 700) || '-' || (100 + (c_custkey * 7919) % 900) ||
        '-' || (1000 + (c_custkey * 104729) % 9000) || ' ip 10.' ||
        (c_custkey % 256) || '.' || ((c_custkey * 31) % 256) || '.' ||
        (1 + (c_custkey * 17) % 254) ||
        ' intl +44 20 7946 0958 card 4539-1488-0343-6467' ||
        ' bad 4111 1111 1111 1112' ||
        ' ip6 2001:db8:85a3:0:0:8a2e:370:7334' ||
        ' ver 1.2.3.4.5 big 999.300.1.2' ||
        ' grp 55555 44444 333 end' AS txt
      FROM customer),
    u AS (SELECT grp, txt FROM notes
      UNION ALL SELECT 'doc:' || source AS grp, text AS txt FROM documents),
    r AS (SELECT grp, txt,
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        regexp_replace(regexp_replace(txt,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        '\+[0-9]{1,3}[-. ]?[0-9]{2,4}(?:[-. ]?[0-9]{2,4}){1,3}\b',
          '[PHONE]', 'g'),
        '\b(?:[0-9]{13,19}|[0-9]{4}[ -][0-9]{4}[ -][0-9]{4}[ -][0-9]{2,4})\b', '[CARD]', 'g'),
        '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b', '[PHONE]', 'g'),
        '\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])\.){3}(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])\b',
          '[IP]', 'g'),
        '\b(?:[0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}\b|\b(?:[0-9A-Fa-f]{1,4}:){1,6}:(?:[0-9A-Fa-f]{1,4}:){0,5}[0-9A-Fa-f]{1,4}\b',
          '[IPV6]', 'g') AS red
      FROM u)
    SELECT grp, COUNT(*) AS n_rows,
      CAST(SUM(len(regexp_extract_all(txt,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))) AS BIGINT)
        AS emails,
      CAST(SUM(len(regexp_extract_all(txt,
          '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b'))
        + len(regexp_extract_all(txt,
          '\+[0-9]{1,3}[-. ]?[0-9]{2,4}(?:[-. ]?[0-9]{2,4}){1,3}\b')))
        AS BIGINT) AS phones,
      CAST(SUM(len(regexp_extract_all(txt,
          '\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])\.){3}(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])\b'))
        + len(regexp_extract_all(txt,
          '\b(?:[0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}\b|\b(?:[0-9A-Fa-f]{1,4}:){1,6}:(?:[0-9A-Fa-f]{1,4}:){0,5}[0-9A-Fa-f]{1,4}\b')))
        AS BIGINT) AS ips,
      CAST(SUM(len(list_filter(
        list_transform(regexp_extract_all(txt,
          '\b(?:[0-9]{13,19}|[0-9]{4}[ -][0-9]{4}[ -][0-9]{4}[ -][0-9]{2,4})\b'),
          m -> reverse(regexp_replace(m, '[ -]', '', 'g'))),
        d -> list_sum([CASE WHEN i % 2 = 1
                 THEN ascii(substring(d, i, 1)) - 48
                 ELSE 2*(ascii(substring(d, i, 1)) - 48)
                      - CASE WHEN ascii(substring(d, i, 1)) - 48 > 4
                             THEN 9 ELSE 0 END END
                 for i in range(1, length(d)+1)]) % 10 = 0)))
        AS BIGINT) AS cards,
      CAST(SUM(length(red)) AS BIGINT) AS redacted_chars,
      CAST(SUM(('0x' || substring(md5(red), 1, 6))::BIGINT) AS BIGINT)
        AS redact_sum
    FROM r GROUP BY grp ORDER BY grp"""))

  // ---- D35: incremental posting-index maintenance (batch face) -----------
  // The index-update step behind C18's live containment index
  // (Containment.postingDelta carries the delta contract): the corpus is
  // split into an EXISTING part (doc_id % 4 != 0, whose df counts and
  // df-capped postings are staged as "the index on disk") and a DELTA
  // batch (doc_id % 4 == 0) applied incrementally — old state touched
  // only through keyed joins on the batch's hashes, the df-cap enforced
  // by retiring crossed buckets. The output fingerprints the UPDATED
  // posting index per doc (row count + exact 48-bit hash sum); the
  // oracle computes the df-capped posting index of the FULL corpus
  // directly, so a hash-match IS the incremental == rebuild identity —
  // any stranded row of a retired bucket, missed insert, or double
  // count moves h_sum with overwhelming probability.
  private val q92 = Qdef(
    "q92_posting_incremental",
    (s, dir) => {
      import graft.operators.Containment
      val docs = t(s, dir, "documents")
      val old = docs.filter(col("doc_id") % 4 =!= 0)
      val delta = docs.filter(col("doc_id") % 4 === 0)
      // the staged "index on disk" is shingle-scale (~90 rows/doc) —
      // DISK_ONLY residency, the q83 round-9 lesson: memory-first
      // checkpoint blocks pin the very heap the delta's aggregation
      // maps need (measured: 16 GiB heap OOM at sf50). Round 18: ONE
      // staged table instead of three — the count-over-window form
      // (Containment.shinglesWithDf) computes the df count in the same
      // h-keyed pass that builds the shingle table, so the df face is a
      // dedup-by-h projection and the posting face a filter of the one
      // checkpoint; the r14-r17 shape materialized shd, then paid a
      // groupBy(h) exchange + checkpoint for the df face and an h-keyed
      // join + checkpoint for the posting face (sf10 receipt in
      // OPTIMIZATION_r18.md).
      val shdC = Containment.shinglesWithDf(old, "doc_id", "text")
        .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val oldDf = shdC.select(col("h"), col("c")).dropDuplicates("h")
      val oldPost = shdC.filter(col("c") <= 32)
        .select(col("h"), col("doc_id").as("doc_b"))
      val (_, postIns, postDel) =
        Containment.postingDelta(oldDf, oldPost, delta, "doc_id", "text")
      // apply the deltas at the FINGERPRINT level (guide §2.3 —
      // aggregate before you shuffle): COUNT and SUM(h) are exact
      // BIGINT aggregates, postDeletes is a sub-multiset of oldPost and
      // postInserts is disjoint new-doc rows, so per-doc
      // (old − deletes + inserts) equals aggregating the materialized
      // updated index row-by-row — but shuffles three pre-aggregated
      // doc-keyed tables instead of anti-joining and re-shuffling the
      // whole 30M-row posting face (sf10: the LeftAnti's (h, doc_b)
      // exchange of oldPost disappears). A doc whose postings all
      // retire drops out via the n_post > 0 filter, exactly as the
      // row-level form loses its group.
      def fp(df: org.apache.spark.sql.DataFrame, n: String, s: String) =
        df.groupBy(col("doc_b"))
          .agg(count(lit(1)).as(n), sum(col("h")).as(s))
      fp(oldPost, "n0", "s0")
        .join(fp(postDel, "nd", "sd"), Seq("doc_b"), "full_outer")
        .join(fp(postIns, "ni", "si"), Seq("doc_b"), "full_outer")
        .select(col("doc_b"),
          (coalesce(col("n0"), lit(0L)) - coalesce(col("nd"), lit(0L)) +
            coalesce(col("ni"), lit(0L))).as("n_post"),
          (coalesce(col("s0"), lit(0L)) - coalesce(col("sd"), lit(0L)) +
            coalesce(col("si"), lit(0L))).as("h_sum"))
        .filter(col("n_post") > 0)
        .orderBy(col("doc_b"))
    },
    Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk
      FROM documents),
    g AS (SELECT doc_id,
        list_distinct([array_to_string(tk[i:i+4], ' ')
                       for i in range(1, len(tk)-3)]) AS gs
      FROM tk WHERE len(tk) >= 5),
    shd AS (SELECT DISTINCT doc_id,
        ('0x' || substring(md5(u.gram), 1, 12))::BIGINT AS h
      FROM g, unnest(g.gs) AS u(gram)),
    dfreq AS (SELECT h, COUNT(*) AS c FROM shd GROUP BY h),
    post AS (SELECT s.h, s.doc_id AS doc_b FROM shd s
      JOIN dfreq d ON d.h = s.h WHERE d.c <= 32)
    SELECT doc_b, COUNT(*) AS n_post, CAST(SUM(h) AS BIGINT) AS h_sum
    FROM post GROUP BY doc_b ORDER BY doc_b"""))

  // ---- D36: curation-report composite (round 10) --------------------------
  // The one-query funnel a data team reviews before a training run:
  // per-gate (n_docs, n_flagged, flag_rate) for every curation family,
  // composing ONLY existing green operators — PII detection (D34 v2),
  // language-ID mismatch (q37's argmax), quality keep-gate (q38's
  // rule), exact-dup copies (q30's groups), SimHash near-dup membership
  // (q32's pairs at hamming <= 3), benchmark contamination (q56's
  // 8-gram broadcast probe, over the 6/7 held-out split it scans).
  // Plan shape: ONE corpus scan serves the four scan-local gates (pii /
  // langid / quality / exact — conditional sums + one distinct-hash
  // count, exploded into gate rows), SimHash adds its sig-key pair
  // machinery, contamination its broadcast gram probe; nothing beyond
  // the operators' own keyed joins. flag_rate is one BIGINT/BIGINT
  // division — bit-identical across engines.
  private val q93 = Qdef(
    "q93_curation_report",
    (s, dir) => {
      import graft.operators.{CurationGates, Dedup}
      val docs = t(s, dir, "documents")
      // the scan-local gates are the SHARED CurationGates definitions
      // (round 11) — C20's streaming funnel reads the same columns
      val piiFlag = CurationGates.piiFlag(col("text"))
      val langFlag = CurationGates.langFlag(col("text"), col("lang"))
      val qualFlag = CurationGates.qualFlag(col("text"))
      val scanGates = docs.agg(
        count(lit(1)).as("n"),
        sum(when(piiFlag, 1L).otherwise(0L)).as("fp"),
        sum(when(langFlag, 1L).otherwise(0L)).as("fl"),
        sum(when(qualFlag, 1L).otherwise(0L)).as("fq"),
        (count(lit(1)) - countDistinct(md5(col("text")))).as("fe"))
        .select(explode(array(
          struct(lit("dedup_exact").as("gate"), col("n").as("n_docs"),
            col("fe").as("n_flagged")),
          struct(lit("langid").as("gate"), col("n").as("n_docs"),
            col("fl").as("n_flagged")),
          struct(lit("pii").as("gate"), col("n").as("n_docs"),
            col("fp").as("n_flagged")),
          struct(lit("quality").as("gate"), col("n").as("n_docs"),
            col("fq").as("n_flagged")))).as("g"))
        .select(col("g.gate").as("gate"), col("g.n_docs").as("n_docs"),
          col("g.n_flagged").as("n_flagged"))
      val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      val inPair = pairs.select(col("doc_a").as("doc_id"))
        .unionByName(pairs.select(col("doc_b").as("doc_id")))
        .distinct().withColumn("f", lit(1))
      val sim = docs.select(col("doc_id")).join(inPair, Seq("doc_id"), "left")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("f").isNotNull, 1L).otherwise(0L)).as("n_flagged"))
        .select(lit("dedup_simhash").as("gate"), col("n_docs"),
          col("n_flagged"))
      def grams8(c: Column): Column =
        graft.functions.GraftFunctions.textShingles(c, 8)
      val bench = docs.filter(col("doc_id") % 7 === 0)
        .select(explode(grams8(col("text"))).as("gram")).distinct()
      val contHits = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), explode(grams8(col("text"))).as("gram"))
        .join(broadcast(bench), Seq("gram"))
        .select(col("doc_id")).distinct().withColumn("f", lit(1))
      val cont = docs.filter(col("doc_id") % 7 =!= 0).select(col("doc_id"))
        .join(contHits, Seq("doc_id"), "left")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("f").isNotNull, 1L).otherwise(0L)).as("n_flagged"))
        .select(lit("contamination").as("gate"), col("n_docs"),
          col("n_flagged"))
      scanGates.unionByName(sim).unionByName(cont)
        .withColumn("flag_rate",
          col("n_flagged").cast("double") / col("n_docs"))
        .orderBy(col("gate"))
    },
    Some("""WITH base AS (
      SELECT doc_id, text, lang, md5(text) AS m,
        string_split(text, ' ') AS tk
      FROM documents),
    flags AS (
      SELECT doc_id, m,
        (len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
         + len(regexp_extract_all(text, '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b'))
         + len(regexp_extract_all(text, '\+[0-9]{1,3}[-. ]?[0-9]{2,4}(?:[-. ]?[0-9]{2,4}){1,3}\b'))
         + len(regexp_extract_all(text, '\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])\.){3}(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])\b'))
         + len(regexp_extract_all(text, '\b(?:[0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}\b|\b(?:[0-9A-Fa-f]{1,4}:){1,6}:(?:[0-9A-Fa-f]{1,4}:){0,5}[0-9A-Fa-f]{1,4}\b'))
         + len(list_filter(
             list_transform(regexp_extract_all(text,
               '\b(?:[0-9]{13,19}|[0-9]{4}[ -][0-9]{4}[ -][0-9]{4}[ -][0-9]{2,4})\b'),
               x -> reverse(regexp_replace(x, '[ -]', '', 'g'))),
             d -> list_sum([CASE WHEN i % 2 = 1
                    THEN ascii(substring(d, i, 1)) - 48
                    ELSE 2*(ascii(substring(d, i, 1)) - 48)
                         - CASE WHEN ascii(substring(d, i, 1)) - 48 > 4
                                THEN 9 ELSE 0 END END
                    for i in range(1, length(d)+1)]) % 10 = 0))) > 0
          AS fpii,
        (CASE WHEN en >= de AND en >= es AND en >= fr AND en > 0 THEN 'en'
              WHEN de >= es AND de >= fr AND de > 0 THEN 'de'
              WHEN es >= fr AND es > 0 THEN 'es'
              WHEN fr > 0 THEN 'fr'
              ELSE 'und' END) <> lang AS flang,
        NOT (len(tk) >= 50
             AND len(list_distinct(tk)) * 1.0 / len(tk) >= 0.3) AS fqual
      FROM (SELECT *,
          len(list_filter(tk, t -> t IN ('the','a','of','and','to'))) AS en,
          len(list_filter(tk, t -> t IN ('der','die','und','ist'))) AS de,
          len(list_filter(tk, t -> t IN ('el','la','que','por'))) AS es,
          len(list_filter(tk, t -> t IN ('le','les','et','dans'))) AS fr
        FROM base)),
    scan AS (
      SELECT COUNT(*) AS n,
        SUM(CASE WHEN fpii THEN 1 ELSE 0 END) AS fp,
        SUM(CASE WHEN flang THEN 1 ELSE 0 END) AS fl,
        SUM(CASE WHEN fqual THEN 1 ELSE 0 END) AS fq,
        COUNT(*) - COUNT(DISTINCT m) AS fe
      FROM flags),
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    th AS (
      SELECT doc_id,
        list_reduce(
          list_prepend(CAST(14695981039346656037 AS UBIGINT),
            list_transform(range(1, length(tok) + 1),
              i -> CAST(ascii(substring(tok, i, 1)) AS UBIGINT))),
          (h, b) -> CAST((CAST(xor(h, b) AS HUGEINT) * 1099511628211)
                         % 18446744073709551616 AS UBIGINT)) AS h
      FROM toks),
    bits AS (
      SELECT doc_id, j,
        SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
      FROM th, UNNEST(range(0, 64)) AS u(j)
      GROUP BY doc_id, j),
    sigs AS (
      SELECT doc_id,
        CAST(SUM(CASE WHEN cnt > 0 THEN CAST(CAST(1 AS UBIGINT) << j AS HUGEINT)
                      ELSE 0 END) AS UBIGINT) AS sig
      FROM bits GROUP BY doc_id),
    sdocs AS (
      SELECT COUNT(*) AS nf FROM (
        SELECT DISTINCT doc_id FROM (
          SELECT a.doc_id FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
            AND bit_count(xor(a.sig, b.sig)) <= 3
          UNION ALL
          SELECT b.doc_id FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
            AND bit_count(xor(a.sig, b.sig)) <= 3))),
    g8 AS (
      SELECT doc_id,
        list_distinct([array_to_string(tk[i:i+7], ' ')
                       for i in range(1, len(tk)-6)]) AS g
      FROM base WHERE len(tk) >= 8),
    cbench AS (
      SELECT DISTINCT unnest(g) AS gram FROM g8 WHERE doc_id % 7 = 0),
    chits AS (
      SELECT COUNT(DISTINCT c.doc_id) AS nf
      FROM (SELECT doc_id, unnest(g) AS gram FROM g8 WHERE doc_id % 7 <> 0) c
      JOIN cbench b ON c.gram = b.gram),
    cn AS (SELECT COUNT(*) AS n FROM documents WHERE doc_id % 7 <> 0),
    rows AS (
      SELECT 'dedup_exact' AS gate, n AS n_docs, fe AS n_flagged FROM scan
      UNION ALL SELECT 'langid', n, fl FROM scan
      UNION ALL SELECT 'pii', n, fp FROM scan
      UNION ALL SELECT 'quality', n, fq FROM scan
      UNION ALL SELECT 'dedup_simhash', (SELECT n FROM scan), nf FROM sdocs
      UNION ALL SELECT 'contamination', (SELECT n FROM cn), nf FROM chits)
    SELECT gate, CAST(n_docs AS BIGINT) AS n_docs,
      CAST(n_flagged AS BIGINT) AS n_flagged,
      CAST(n_flagged AS DOUBLE) / n_docs AS flag_rate
    FROM rows ORDER BY gate"""))

  // ---- D37: incremental IVFADC index maintenance (batch face) -------------
  // The encode-update step behind C19's live embedding index (the q92
  // pattern applied to ANN): the corpus splits into an EXISTING part
  // (vec_id % 4 != 0) whose frozen quantizer — coarse ⌊√n⌋ centroids +
  // residual product codebook, both trained on the existing part ONLY —
  // and staged encoded rows are "the index on disk", and a DELTA batch
  // (vec_id % 4 == 0) encoded incrementally against the SAME frozen
  // quantizer: one scan-local projection per new vector, old rows never
  // re-read (IvfPq.encodeRows carries the contract; C19 streams this
  // exact code). The output fingerprints the UPDATED index per cell
  // (row count, vec_id sum, 24-bit md5 sum over "id:c0,..,c7"); the
  // oracle replays the whole pipeline — frozen-codebook build from the
  // existing part, then the FULL corpus encoded under it — so a
  // hash-match IS the incremental == rebuild identity: any drifted
  // assignment, stale code, or re-trained codebook moves h_sum with
  // overwhelming probability. Residual-PQ honesty note: codes are only
  // comparable under ONE quantizer, so the delta step NEVER retrains —
  // retraining is the OPTIMIZE-style refresh C19 documents.
  private val q94 = Qdef(
    "q94_ivfpq_encode_incremental",
    (s, dir) => {
      import graft.operators.IvfPq
      val embs = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), quantize(col("embedding")).as("qv"))
      val existing = embs.filter(col("id") % 4 =!= 0)
      val delta = embs.filter(col("id") % 4 === 0)
      val n = existing.count()
      val ix = IvfPq.index(existing, n, dim = 64, m = 8, ksTarget = 16)
      // the staged "index on disk" — narrow rows (id, cell, m codes),
      // DISK_ONLY by the q83/q92 staging discipline
      val oldEnc = IvfPq.encodeWith(existing, ix)
        .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val newEnc = IvfPq.encodeWith(delta, ix)
      oldEnc.unionAll(newEnc)
        .select(col("cell"), col("id"),
          shiftright(graft.functions.GraftFunctions.md5Prefix48(
            concat(col("id").cast("string"), lit(":"),
              array_join(transform(col("codes"), c => c.cast("string")), ","))),
            24).as("h"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("id")).as("sum_vec"),
          sum(col("h")).as("h_sum"))
        .orderBy(col("cell"))
    },
    Some("""WITH q AS (
      SELECT vec_id,
        list_transform(embedding,
          x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS qv
      FROM embeddings),
    ex AS (SELECT * FROM q WHERE vec_id % 4 <> 0),
    par AS (
      SELECT GREATEST(1, COUNT(*) //
          GREATEST(16, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT))) AS cstride,
        GREATEST(1, COUNT(*) // 16) AS pstride
      FROM ex),
    cc AS (
      SELECT vec_id AS c_id, qv AS cqv,
        ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cr
      FROM ex WHERE ('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 12))::BIGINT % (SELECT cstride FROM par) = 0),
    csc AS (
      SELECT v.vec_id AS id, c.cr,
        CAST(list_dot_product(v.qv, v.qv) AS BIGINT)
          + CAST(list_dot_product(c.cqv, c.cqv) AS BIGINT)
          - 2*CAST(list_dot_product(v.qv, c.cqv) AS BIGINT) AS d2
      FROM q v CROSS JOIN cc c),
    asg AS (SELECT id, cr FROM (
        SELECT id, cr,
          ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, cr) AS rn
        FROM csc) WHERE rn = 1),
    res AS (SELECT a.id, a.cr,
        [v.qv[i] - c.cqv[i] for i in range(1, len(v.qv)+1)] AS res
      FROM asg a JOIN q v ON v.vec_id = a.id JOIN cc c ON c.cr = a.cr),
    pcbr AS (SELECT c_id, sub, c_sv,
        ROW_NUMBER() OVER (PARTITION BY sub ORDER BY c_id) - 1 AS r
      FROM (
        SELECT r.id AS c_id, s.sub, r.res[s.sub*8+1 : s.sub*8+8] AS c_sv
        FROM res r CROSS JOIN range(0, 8) s(sub)
        WHERE r.id % 4 <> 0 AND ('0x' || substring(md5(CAST(r.id AS VARCHAR)), 1, 12))::BIGINT % (SELECT pstride FROM par) = 0)),
    esc AS (
      SELECT e.id, b.sub, b.r,
        CAST(list_dot_product(e.res[b.sub*8+1 : b.sub*8+8],
                              e.res[b.sub*8+1 : b.sub*8+8]) AS BIGINT)
          + CAST(list_dot_product(b.c_sv, b.c_sv) AS BIGINT)
          - 2*CAST(list_dot_product(e.res[b.sub*8+1 : b.sub*8+8], b.c_sv)
              AS BIGINT) AS d2
      FROM res e CROSS JOIN pcbr b),
    codes AS (SELECT id, sub, r AS code FROM (
        SELECT id, sub, r,
          ROW_NUMBER() OVER (PARTITION BY id, sub ORDER BY d2, r) AS rn
        FROM esc) WHERE rn = 1),
    sig AS (
      SELECT id, string_agg(CAST(code AS VARCHAR), ',' ORDER BY sub) AS cs
      FROM codes GROUP BY id),
    f AS (
      SELECT a.cr AS cell, s.id,
        ('0x' || substring(md5(s.id || ':' || s.cs), 1, 6))::BIGINT AS h
      FROM sig s JOIN asg a ON a.id = s.id)
    SELECT cell, COUNT(*) AS n_vecs, CAST(SUM(id) AS BIGINT) AS sum_vec,
      CAST(SUM(h) AS BIGINT) AS h_sum
    FROM f GROUP BY cell ORDER BY cell"""))

  val all: Seq[Qdef] = Seq(q30, q31, q32, q33, q34, q35, q36, q37, q38, q39,
    q42, q43, q44, q47, q48, q49, q50, q54, q55, q56, q68, q70, q71, q72,
    q73, q76, q77, q80, q81, q82, q83, q84, q85, q86, q87, q88, q89, q90,
    q91, q92, q93, q94)
}
