package graft

import java.nio.file.{Files, Paths}

/** Generates PLANS.md: the formatted physical plan of each headline
  * query with the scale property it is audited for — the written form of
  * the explain-and-iterate loop (SURVEY.md §5). Run:
  * `sbt "runMain graft.PlanAudit [sfDir]"`.
  */
object PlanAudit {
  private val headliners: Seq[(String, String)] = Seq(
    "q01_pricing_summary" -> "column-pruned scan, partial aggregation (map-side combine)",
    "q03_filter"          -> "predicates pushed into the parquet scan (PushedFilters)",
    "q06_percentiles"     -> "exact percentile from a value histogram: map-side-combinable (flag, value) counts into the shuffle; rank anchors over DISTINCT values — never a group's raw rows through one reducer's sort (the sf10 rehearsal killed that form at 100.3 s)",
    "q08_topn"            -> "top-N as TakeOrderedAndProject — no full sort",
    "q09_join_inner"      -> "dimension joins broadcast; no shuffle of the fact side for dims",
    "q19_cte"             -> "single fact-table pass (1-row max broadcast back via ReuseExchange; no unpartitioned window, no scalar-subquery rescan)",
    "q28_market_share"    -> "multi-join composite (round-12 shape): revenue rolls up to l_orderkey BEFORE the orders join (lineitem's exchange carries |orders| narrow limb rows, map-side combine near-perfect on the clustered key, and the agg output's hash(l_orderkey) partitioning is reused by the join — only orders shuffles), then to (o_custkey, o_year) before the customer join (no broadcast-demotion step at any scale); exact BIGINT dsum limbs through all three levels; dims broadcast. sf100: 51.1 s / 9.1 GB vs the round-11 shape's 123.7 s / 15.6 GB (the 600M-row (custkey,year) hash-agg spilled) and the round-10 shape's 81.7 s / 20.2 GB",
    "q31_dedup_minhash"   -> "LSH band equi-join; no cartesian product anywhere",
    "q33_ngram_jaccard"   -> "exact-verify primitive: candidate set BOUNDED at any corpus size (id window + capped dup-group sample); pairwise only within that budget",
    "q34_dedup_embedding" -> "cell-blocked near-dup: map-side IVF assignment, cell equi-join, no cartesian",
    "q35_ann_bruteforce"  -> "query batch broadcast over ONE corpus scan; partial top-k aggregate, no window",
    "q43_ann_ivf"         -> "map-side codebook argmax (zero-exchange assignment); probe as cell-key equi-join; partial top-k",
    "q48_asof_join"       -> "as-of via union + carry-forward window: one shuffle on the key",
    "q49_range_join"      -> "range containment via bucket-grid equi-join, not a theta join",
    "q50_corpus_curation" -> "gates fused into the scan; dedup = one hash shuffle; split adds none",
    "q55_repetition"      -> "repetition metrics scan-local: all gram math inside one projection (array HOFs), no shuffle before the output sort",
    "q56_contamination"   -> "benchmark grams broadcast; corpus probes without a pre-join shuffle; hits partial-aggregate map-side",
    "q57_kmeans"          -> "Lloyd assignment is scan -> project (broadcast codebook argmax); centroid update partial-aggregates to <= k x dim rows per partition",
    "q58_semdedup"        -> "pairwise cosine confined to cluster blocks (cluster equi-join over the staged assignment), never corpus^2",
    "q59_chunk_dedup"     -> "chunk dedup: corpus chunk frequency as a count-over-window — ONE chunk-keyed shuffle (r18; the agg+join form paid a second exchange for the frequency table past the broadcast threshold, and its SMJ sorted the chunk table by chunk anyway); nothing pairwise",
    "q60_mixing"          -> "per-source stats broadcast back over one corpus scan; md5-bucket selection is scan-local",
    "q61_vocab"           -> "vocab collapses to a one-row broadcast array; per-doc membership is scan-local array work",
    "q64_join_right"      -> "right outer keeps the fact side in place: dimension side broadcast, no fact shuffle for the join",
    "q65_exists_fact"     -> "correlated EXISTS against the fact table planned as a semi join, no cartesian, no per-row rescan; the fact side is Bloom-pre-reduced before its exchange (r18, guide §3.2: might_contain(bloom_filter_agg scalar subquery) — the InjectRuntimeFilter construct, explicit because the bench decades sit under its 10 GB scan threshold; sf10: 61M -> 6.1M rows shuffled)",
    "q66_semi_anti_stack" -> "Q21 shape: EXISTS + NOT EXISTS against lineitem as semi + anti joins; no cartesian anywhere",
    "q67_ann_ivf_kmeans"  -> "kmeans-refined codebook IVF: zero-exchange assignment (broadcast codebook argmax), probe as cell equi-join, partial top-k",
    "q68_ann_recall"      -> "recall audit composes the production ANN plans (broadcast query batch, zero-exchange IVF assignment, band equi-join) + keyed audit joins; nothing corpus x corpus beyond the graded operators",
    "q70_dedup_embedding_2level" -> "two-level IVF: coarse assignment zero-exchange (cbrt(n)-row broadcast argmax); fine codebooks + pair generation are (cell1[, cell2]) equi-joins — the 10^12-corpus shape where the sqrt(n) single-level broadcast stops fitting",
    "q71_ann_recall_2level" -> "two-level ANN recall audit: composes q35's broadcast query batch with q70's coarse broadcast; fine probe and candidate generation are (cell1, cell2) equi-joins; per-query hit stats partial-aggregate map-side",
    "q72_seq_packing" -> "sequence packing: running sum as a PER-SHARD keyed window (COUNT-driven shard count, scale-constant window state; shard key = md5Prefix48(doc_id) % nshards — uniform on sparse/shifted id spaces, the idSample rule) — never an unpartitioned window; integer DIV/MOD projection after",
    "q73_common_grams" -> "cross-doc common grams: df attached in place by an unordered gram-partition window (ONE gram-key shuffle; per-distinct-trigram groups are tiny and skew-free) + doc-key rollup; nothing pairwise, nothing corpus x corpus",
    "q76_bm25" -> "inverted-index retrieval: ONE corpus tokenization (staged tf table; dl/stats/df all derive from it), postings pruned to the broadcast query-term set map-side, one-row stats cross join, per-query top-k via the TopKPairs partial aggregate — never a window over all scored rows",
    "q77_fuzzy_dedup" -> "blocked edit-distance dedup: candidates from two keyed self-equi-joins (prefix/suffix x length-bucket), pair-dedup BEFORE the Levenshtein verify so the O(len^2) DP runs once per unique candidate; no cartesian",
    "q78_pivot" -> "pivot on EXPLICIT literals: Catalyst rewrites to ONE conditional aggregate over one scan (map-side partials) — no value-discovery pass, no extra shuffle vs the plain groupBy",
    "q79_unpivot" -> "unpivot after aggregation: Expand over k x groups rows, scan-local, no added shuffle",
    "q80_ann_pq" -> "product quantization (scan-local round-8 form): ONE-ROW broadcast flattened codebook + LUT; encode = PqCodesE native projection per vector (no join rows), ADC = m O(1) element_at lookups in the same scan — NO aggregation state before TopKPairs' partial top-R (the old explode(m)->join->keyed-argmin form spilled 39 GB at sf50); only <= q·R re-rank rows join back to full vectors",
    "q81_ann_recall_pq" -> "PQ recall audit: q35's broadcast-query-batch ground-truth shape + the q80 plan; hit join is (q_id, neighbor)-keyed",
    "q82_stratified_sample" -> "stratified sampling: ONE stratum-keyed TopKPairs partial aggregate (<= n rows per stratum per partition into the exchange) — never a per-stratum window sort over all rows",
    "q83_containment" -> "containment dedup: bottom-k sketch equi-joins a df-capped posting list (candidates <= sketchK x dfCap per doc, scale-constant); exact intersection by (doc, h) KEY joins; ONE staged shingle table with the df count attached in-pass (r18 count-over-window riding the staging exchange — the posting face is a filter, no df aggregate exchange + no df-cap join) feeds all consumers",
    "q84_lm_perplexity" -> "bigram-LM scoring: scan-local bigram extraction (zip_with), model counts as TWO keyed aggregations with map-side partials, probability table joined back by (w1, w2) KEY (not broadcast — bigram vocabulary grows with the corpus), one-row vocab broadcast, doc-keyed rollup",
    "q85_quality_classifier" -> "NB quality classifier: ONE explode -> (doc,token)-keyed tf aggregation; model re-aggregates tf by token (no second corpus scan); scoring join by token KEY (not broadcast — vocabulary grows with the corpus); totals/priors one-row broadcast; doc-keyed rollup",
    "q86_ann_ivfpq" -> "IVFADC composite: coarse assign + residual + m-code encode in ONE scan-local projection (PqCodesE over one-row broadcasts, zero exchange, no aggregation state); ADC only inside probed cells via a broadcast HASH join on the cell key (an equi-join, not a nested loop); TopKPairs partial top-R; <= q·R exact re-rank rows join back",
    "q87_ann_recall_ivfpq" -> "IVFADC recall audit: q35's broadcast-query-batch ground-truth shape + the q86 plan; hit join is (q_id, neighbor)-keyed",
    "q88_bpe_tokens" -> "learned-BPE tokenizer: word-frequency table = one keyed corpus aggregation (map-side partials, staged vocab-sized); training on the bounded top-W driver artifact; application = R chained scan-local folds per DISTINCT word + word-KEY join back (model table keyed, not broadcast); doc-keyed rollup",
    "q89_pii_redact" -> "PII audit (v2 classes): detection for all five classes (incl. the per-match Luhn fold) and the email->intl->card->NANP->IPv4->IPv6 redaction chain are all SCAN-LOCAL regex projections (zero joins, zero pre-rollup aggregation state); the only exchange is the final tiny per-group partial aggregate — one pass over the text bytes per pattern, the scrubber floor at any corpus size",
    "q90_ann_ivfpq_2level" -> "two-level IVFADC: coarse assign over the cbrt(n) ONE-ROW broadcast (scan-local), fine cell + residual via the cell1-keyed fine-codebook equi-join (<= c1 rows — broadcastable here, a keyed shuffle join at 10^12, either way linear) with the argmin as a scan-local array_min; ADC only inside probed (cell1, cell2) cells via a broadcast HASH join on the composite key; TopKPairs partial top-R; <= q·R exact re-rank rows join back — no broadcast past cbrt(n) rows",
    "q91_ann_recall_ivfpq2" -> "two-level IVFADC recall audit: q35's broadcast-query-batch ground-truth shape + the q90 plan; hit join is (q_id, neighbor)-keyed",
    "q92_posting_incremental" -> "incremental posting-index update: ONE staged (doc_id, h, c) table carries both old-index faces (r18: count-over-window rides the hash(h) staging exchange; df face = dedup-by-h projection, posting face = filter — three checkpoints became one); the batch side keeps its hash(h) partitioning live so the delta joins are exchange-free; deltas applied at the FINGERPRINT level (old - deletes + inserts as exact BIGINT aggregate merges — no 30M-row anti-join re-shuffle)",
    "q93_curation_report" -> "curation funnel: ONE corpus scan serves the four scan-local gates (pii kernel + langid argmax + quality ratios + md5 distinct, fused into one aggregate, exploded to gate rows); simhash gate adds only its sig-key pair machinery, contamination its broadcast 8-gram probe; union of three tiny aggregates — no gate rescans another gate's work",
    "q94_ivfpq_encode_incremental" -> "incremental IVFADC encode: existing-part quantizer build staged once (bounded codebooks); BOTH the staged existing encode and the delta encode are ONE scan-local projection each (coarse argmin -> residual -> PQ codes over one-row broadcasts, zero exchange, zero aggregation state before the per-cell fingerprint rollup) — the delta step's cost is O(|batch|), independent of index size",
    "q95_exactsubstr" -> "ExactSubstr substring dedup: ONE corpus scan through the native window_md5s kernel (Generate — no per-window slice/concat/hex allocation), ONE keyed shuffle of the window table by 16-byte fingerprint for the count-over-window frequency, then the per-doc LAG span merge (keyed by doc) and two keyed folds — corpus-linear, nothing pairwise; the fingerprint shuffle is the only corpus-sized exchange")

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    // 4 cores on any machine, so PLANS.md does not depend on the host
    val spark = LocalSpark.session(4)
    val sb = new StringBuilder
    sb ++= "# PLANS — physical-plan audit of the headline queries\n\n"
    sb ++= s"Generated by `graft.PlanAudit` against `$dir`. Each query is\n"
    sb ++= "EXECUTED first, so every plan below is the final post-AQE plan\n"
    sb ++= "(`AdaptiveSparkPlan isFinalPlan=true`) — runtime re-plans like\n"
    sb ++= "ReusedExchange and broadcast conversions are visible, which the\n"
    sb ++= "static pre-AQE plan cannot show. Each plan is audited for the\n"
    sb ++= "scale property named above it; the same properties are asserted\n"
    sb ++= "by the test suite (RelationalSpec / PipelineSpec /\n"
    sb ++= "OperatorsSpec), so they cannot silently regress.\n"
    for ((name, property) <- headliners) {
      val df = SparkEntry.queries(name)(spark, dir)
      // materialize THE QUERY ITSELF (count() would execute a different
      // wrapped plan and leave this one's AQE unrun) so the adaptive
      // plan settles; toRdd keeps rows at the executors (the Bench /
      // Explain honest-action discipline)
      df.queryExecution.toRdd.count()
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      sb ++= s"\n## $name\n\n**Audit:** $property\n\n```\n$plan```\n"
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${headliners.size} plans)")
    spark.stop()
  }
}
