package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan lint over EVERY SparkEntry query: no cartesian products
  * anywhere, and nested-loop joins only where the shape is intentional
  * and bounded — the regression class the scale audit cares about (an
  * accidental all-pairs join passes correctness at test SF and melts at
  * 100 TB). Plans are inspected, not executed.
  */
class PlanLintSpec extends AnyFunSuite {
  import SparkFixture._

  /** Queries whose physical plan legitimately contains a
    * BroadcastNestedLoopJoin, with the reason on record:
    *  - q14: the CROSS JOIN coverage query itself (small dims)
    *  - q33: in-bucket pairwise verifier, candidate-bounded by predicate
    *  - q34: the broadcast IVF codebook is a ONE-ROW side (cell
    *         assignment); the pair join itself is a cell equi-join
    *  - q35: broadcast(query batch) × one corpus scan — the brute-force
    *         baseline's intended shape
    *  - q43: one-row broadcast codebook, as in q34
    *  - q57: one-row broadcast k-means codebook, as in q34 (q58 reads
    *         the same assignment through its staged checkpoint, so its
    *         plan shows no join at all)
    *  - q60: one-row broadcast max-source-mass aggregate
    *  - q61: one-row broadcast top-V vocabulary array
    *  - q67: one-row broadcast kmeans-refined codebook (Ann.Kmeans) —
    *         same shape as q43, the codebook just comes from Lloyd
    *         rounds instead of the modulo sample
    *  - q68: the recall audit composes q35's broadcast query batch and
    *         q43's one-row codebook — both shapes already justified
    *         above; the audit adds only keyed joins on top
    *  - q69: same composition as q68 with the kmeans-refined codebook
    *         (q67's one-row broadcast) in place of the modulo sample
    *  - q70: one-row broadcast COARSE codebook (the two-level index's first
    *         stage, as in q34); the fine stage and the pair join are
    *         both cell-key equi-joins
    *  - q71: the recall audit composes q35's broadcast query batch and
    *         q70's one-row coarse codebook; fine probe and candidate
    *         joins are (cell1, cell2) equi-joins
    *  - q76: one-row corpus-stats broadcast cross-joined onto the
    *         pruned postings (the q60/q61 stats-broadcast shape); all
    *         corpus-sized joins are term/doc-key equi-joins
    *  - q80: the scan-local PQ path (round 8) cross-joins the one-row
    *         flattened codebook + LUT broadcast onto the corpus scan —
    *         the q60/q61 stats-broadcast shape (m·ks + q·m·ks longs at
    *         any corpus size); candidate scoring never joins row-wise
    *  - q81: the PQ recall audit composes q35's broadcast query-batch
    *         ground truth (Pq.bruteForceL2TopK) with q80's one-row
    *         codebook/LUT broadcast
    *  - q84: one-row broadcast smoothing-vocabulary scalar (|distinct
    *         w2|) cross-joined onto the bigram model table (the
    *         q60/q61/q76 stats-broadcast shape); the corpus-sized model
    *         join is a (w1, w2) equi-join
    *  - q85: one-row broadcast totals/prior scalars cross-joined onto
    *         the per-doc rollup (same stats-broadcast shape); the
    *         corpus-sized scoring join is a token equi-join
    *  - q86: IVFADC (round 9) — one-row broadcast coarse codebook +
    *         residual PQ codebook cross-joined onto the corpus scan
    *         (the q80 shape); the probe/LUT crosses are bounded×bounded
    *         (query batch × ≈√n checkpointed coarse rows / m·ks
    *         codebook rows); the corpus-sized ADC join is a CELL-KEY
    *         equi-join (BroadcastHashJoin, not BNLJ)
    *  - q87: the IVFADC recall audit composes q35's broadcast
    *         query-batch ground truth with q86's bounded broadcasts
    *  - q90: two-level IVFADC (round 10) — the ∛n one-row coarse
    *         broadcast (q70's shape) + residual PQ codebook crosses;
    *         the fine codebooks and the ADC join are (cell1[, cell2])
    *         equi-joins, and probe/LUT crosses are bounded×bounded
    *  - q91: the two-level recall audit composes q35's broadcast
    *         query-batch ground truth with q90's bounded broadcasts
    * (q19's one-row global-max cross join needs no exemption: Catalyst
    * pushes the equality filter into it, planning a BroadcastHashJoin.)
    */
  private val bnljAllowed = Set("q14_join_cross", "q33_ngram_jaccard",
    "q34_dedup_embedding", "q35_ann_bruteforce", "q43_ann_ivf",
    "q57_kmeans", "q60_mixing", "q61_vocab", "q67_ann_ivf_kmeans",
    "q68_ann_recall", "q69_ann_recall_kmeans", "q70_dedup_embedding_2level",
    "q71_ann_recall_2level", "q76_bm25", "q80_ann_pq",
    "q81_ann_recall_pq", "q84_lm_perplexity", "q85_quality_classifier",
    "q86_ann_ivfpq", "q87_ann_recall_ivfpq", "q90_ann_ivfpq_2level",
    "q91_ann_recall_ivfpq2",
    // q94: D37's frozen-quantizer encode — the q86 exemption class
    // (one-row broadcast coarse/PQ codebook frames under encodeRows;
    // both build sides are global aggregates/checkpointed bounded frames)
    "q94_ivfpq_encode_incremental")

  test("no cartesian products; nested-loop joins only on the justified whitelist") {
    val offenders = Seq.newBuilder[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
      if (plan.contains("CartesianProduct"))
        offenders += s"$name: CartesianProduct"
      if (plan.contains("BroadcastNestedLoopJoin") && !bnljAllowed(name))
        offenders += s"$name: unexpected BroadcastNestedLoopJoin"
    }
    assert(offenders.result().isEmpty,
      s"plan lint failures: ${offenders.result().mkString("; ")}")
  }

  test("the whitelist is tight: its members still plan the nested-loop shape") {
    // if a whitelisted query stops needing the exemption, shrink the list
    val stillBnlj = bnljAllowed.filter { name =>
      SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin")
    }
    assert(stillBnlj == bnljAllowed,
      s"stale whitelist entries: ${bnljAllowed -- stillBnlj}")
  }

  /** r8 advisor: the whitelist was query-granular, so a regression
    * reintroducing a CORPUS-SIZED nested-loop join inside a whitelisted
    * query (e.g. reverting PQ to a non-broadcast join) passed silently.
    * This test walks every BNLJ node in each whitelisted query's
    * physical plan and requires its BUILD (broadcast) side to be
    * structurally bounded — one of:
    *   - a global (no-grouping) aggregate: collapses to one row
    *     (codebook/stats/vocab broadcasts);
    *   - a checkpointed/local scan: the staging discipline's bounded
    *     frames (m·ks codebooks, LUTs);
    *   - a `col < N`/`col <= N` integral-literal filter: the `id < 10`
    *     query-batch shape (specifically, NOT any literal anywhere —
    *     `=!= ""` does not count);
    *   - a scan of a true dim table (region/nation) — q14's CROSS JOIN
    *     coverage query.
    * The witness must sit on the build side's ROOT LINEAGE (r9 advisor):
    * a node is bounded iff it is itself a witness or ALL its children
    * are bounded — so a corpus-sized scan cross-joined with a one-row
    * aggregate fails (the corpus child has no witness), as does a raw
    * corpus scan carrying only a trivial literal filter.
    */
  test("whitelisted nested-loop joins broadcast only bounded build sides") {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.aggregate._
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.catalyst.expressions.{
      Attribute, LessThan, LessThanOrEqual, Literal}
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft

    // the q35-family query-batch predicate: attribute </<= integral literal
    val integral: Set[org.apache.spark.sql.types.DataType] =
      Set(org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)
    def queryBatchShape(cond: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
      cond.collectFirst {
        case LessThan(_: Attribute, Literal(v, t)) if v != null && integral(t) => ()
        case LessThanOrEqual(_: Attribute, Literal(v, t)) if v != null && integral(t) => ()
      }.isDefined

    def bounded(p: SparkPlan): Boolean = p match {
      case a: HashAggregateExec if a.groupingExpressions.isEmpty       => true
      case a: ObjectHashAggregateExec if a.groupingExpressions.isEmpty => true
      case a: SortAggregateExec if a.groupingExpressions.isEmpty       => true
      case _: RDDScanExec                                              => true
      case _: LocalTableScanExec                                       => true
      case f: FilterExec if queryBatchShape(f.condition)               => true
      case s: FileSourceScanExec =>
        Seq("region", "nation").exists(d =>
          s.relation.location.rootPaths.exists(_.toString.contains(d)))
      case other =>
        other.children.nonEmpty && other.children.forall(bounded)
    }

    val offenders = Seq.newBuilder[String]
    bnljAllowed.toSeq.sorted.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.sparkPlan
      plan.collect { case j: BroadcastNestedLoopJoinExec => j }.foreach { j =>
        val build = if (j.buildSide == BuildLeft) j.left else j.right
        if (!bounded(build))
          offenders += s"$name: unbounded BNLJ build side:\n$build"
      }
    }
    assert(offenders.result().isEmpty,
      s"unbounded build sides: ${offenders.result().mkString("; ")}")
  }
}
