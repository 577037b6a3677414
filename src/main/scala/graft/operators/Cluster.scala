package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/** Embedding clustering and semantic dedup (SURVEY.md §2.D20/D21) over
  * quantized vectors (`id`, `qv` = GraftFunctions.quantize(embedding)).
  *
  * K-means is Lloyd's algorithm re-expressed as a fixed number of
  * declarative Spark rounds:
  *
  *   - assignment is a map-side native argmax over the broadcast
  *     codebook (NearestCentroidE) — a pure projection of the corpus
  *     scan, zero exchange, identical to the IVF assignment path;
  *   - the centroid update is an elementwise mean: posexplode the
  *     assigned vectors and partially-aggregate SUM/COUNT per
  *     (cluster, dim). Map-side combine reduces each partition to
  *     ≤ k×dim rows before the exchange, so the shuffle is
  *     O(partitions × k × dim) regardless of corpus size — the same
  *     bound a hand-written combiner would give.
  *
  * Every arithmetic step is engine-exact so DuckDB can replay it
  * bit-for-bit (q57/q58 oracles): sums are over quantized BIGINTs
  * (exact, order-independent), the mean re-quantizes through
  * ROUND(sum/n, 0) (both engines round doubles half-away-from-zero),
  * and cosine ties break on the lower centroid id inside the native
  * kernel and via ROW_NUMBER in SQL.
  *
  * At 100 TB the driver loop costs `iters` tiny barrier jobs (the
  * centroid frames are k rows); the corpus is scanned once per round
  * with no shuffle on the data side. Reference analogue: none — this is
  * part of the training-data-pipeline surface the brief adds on top of
  * the reference's DataFusion SQL (/root/reference/src/execute_impl/
  * select.rs:1 covers only relational queries).
  */
object Cluster {

  /** One Lloyd round: label every vector with its nearest centroid. The
    * codebook is a one-row broadcast array, so this is scan → project.
    */
  private def assign(corpus: DataFrame, cents: DataFrame): DataFrame =
    Ann.label(corpus, Ann.codebookOf(cents), "cluster")

  /** Elementwise integer-exact centroid update: cluster means of the
    * assigned quantized vectors, re-quantized via ROUND. Clusters that
    * lose all members simply drop out (k may shrink), matching the SQL
    * replay.
    */
  private def recenter(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cluster"), posexplode(col("qv")))
      .groupBy(col("cluster"), col("pos"))
      .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
      .select(col("cluster"),
        struct(col("pos"),
          round(col("s").cast("double") / col("n"), 0).cast("long").as("v"))
          .as("pv"))
      .groupBy(col("cluster"))
      .agg(sort_array(collect_list(col("pv"))).as("pvs"))
      .select(col("cluster").as("c_id"),
        transform(col("pvs"), p => p.getField("v")).as("c_qv"))

  /** kmeans-refined IVF codebook: seed centroids from `seedFilter`
    * (a UNIFORM sample — the §5 rehearsal showed prefix sampling
    * collapsing 90% of a replicated corpus into one cell; kmeans
    * refinement then re-balances cells to the data's intrinsic
    * direction families rather than the seed's luck), run `rounds`
    * Lloyd updates, return (c_id, c_qv) — an `Ann.Kmeans` index level.
    * Same cost shape as kmeansAssignSeeded: `rounds`
    * zero-exchange corpus scans, k×dim-row centroid frames
    * localCheckpoint'd between rounds.
    */
  def kmeansCodebook(corpus: DataFrame, seedFilter: Column,
                     rounds: Int): DataFrame = {
    require(rounds >= 1, "codebook refinement needs at least one round")
    var cents = corpus.filter(seedFilter)
      .select(col("id").as("c_id"), col("qv").as("c_qv"))
    var i = 0
    while (i < rounds) {
      cents = recenter(assign(corpus, cents)).localCheckpoint()
      i += 1
    }
    cents
  }

  /** Label arbitrary rows under an EXPLICIT FROZEN codebook
    * (c_id, c_qv) — the live-maintenance face (SURVEY.md §2.C21). One
    * scan-local projection against the one-row broadcast codebook,
    * every input column preserved; works identically on batch and
    * STREAMING frames (the codebook is the static broadcast side of a
    * stream-static join — the C19 encodeRows discipline), so live ==
    * rebuild is structural. `qvCol` must be a quantized vector column.
    */
  def assignRows(rows: DataFrame, codebook: DataFrame,
                 qvCol: String = "qv"): DataFrame =
    rows
      .withColumn("_selfdot", quantDot(col(qvCol), col(qvCol)).cast("double"))
      .crossJoin(Ann.codebookOf(codebook))
      .withColumn("cluster",
        nearestCentroid(col(qvCol), col("_selfdot"), col("cb")))
      .drop("cb", "_selfdot")

  /** `iters` Lloyd rounds from the centroids `seedFilter` selects
    * (cluster id = seed id). Returns the final assignment: (id, qv,
    * selfdot, cluster). Production callers should pass a UNIFORM sample
    * whose size scales with the corpus (`Ann.centroidCountFor`): a fixed
    * k makes the downstream in-cluster pairwise work (SemDeDup)
    * quadratic, and a prefix seed collapses sharded/replicated id spaces
    * (§5 rehearsal, both measured).
    *
    * Each recentered codebook is localCheckpoint'd (k×dim rows — tiny):
    * round i's centroids embed round i-1's full assignment plan, so
    * without the cut the corpus would be rescanned O(iters²) times and
    * the logical plan would nest per round (the §5 iterative-lineage
    * rule). With it, the whole fit is exactly `iters` corpus scans and
    * the returned frame's plan is a flat scan → project.
    */
  def kmeansAssignSeeded(corpus: DataFrame, seedFilter: Column,
                         iters: Int): DataFrame = {
    require(iters >= 1, "kmeans needs at least one assignment round")
    var cents = corpus.filter(seedFilter)
      .select(col("id").as("c_id"), col("qv").as("c_qv"))
    var labeled = assign(corpus, cents)
    var i = 1
    while (i < iters) {
      cents = recenter(labeled).localCheckpoint()
      labeled = assign(corpus, cents)
      i += 1
    }
    labeled
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the corpus,
    * then drop every vector that has a more-senior near-duplicate (cosine
    * ≥ `threshold`) inside its own cluster — pairwise work is confined to
    * cluster blocks, never corpus². "Senior" = lower id, so the survivor
    * set is deterministic and SQL-replayable. Returns the kept rows
    * (id, cluster).
    */
  def semDedupSeeded(corpus: DataFrame, seedFilter: Column, iters: Int,
                     threshold: Double, stage: Boolean = false): DataFrame = {
    // stage=true materializes the assignment ONCE (localCheckpoint —
    // blocks freed when the frame is GC'd): three plan branches read it
    // (both pair sides + the survivor anti-join), and at scale a
    // production run would stage the labeled corpus anyway. The default
    // keeps the operator lazy (Dedup.minhashPairs' cache-ownership
    // contract).
    val labeled0 = kmeansAssignSeeded(corpus, seedFilter, iters)
    val labeled = if (stage) labeled0.localCheckpoint() else labeled0
    survivors(labeled, threshold)
  }

  /** SemDeDup survivors from a MAINTAINED assignment table: `labels`
    * is (id, cluster) — e.g. the C21 live cluster table — and `corpus`
    * carries the vectors (id, qv). The qv re-attach is a keyed
    * equi-join on id (never broadcast — both sides grow with the
    * corpus); pairwise work stays confined to cluster blocks exactly
    * as semDedupSeeded. Returns kept (id, cluster).
    */
  def semDedupLabels(labels: DataFrame, corpus: DataFrame,
                     threshold: Double, stage: Boolean = false): DataFrame = {
    val labeled0 = Ann.withSelfDot(corpus.select(col("id"), col("qv")))
      .join(labels.select(col("id"), col("cluster")), Seq("id"))
    survivors(if (stage) labeled0.localCheckpoint() else labeled0, threshold)
  }

  /** The in-cluster senior-near-duplicate drop shared by the seeded and
    * labels faces: `labeled` is (id, qv, selfdot, cluster).
    */
  private def survivors(labeled: DataFrame, threshold: Double): DataFrame = {
    val dropped = labeled.as("a")
      .join(labeled.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.id") < col("b.id"))
      .filter(quantDot(col("a.qv"), col("b.qv")).cast("double") /
        sqrt(col("a.selfdot") * col("b.selfdot")) >= threshold)
      .select(col("b.id").as("id")).distinct()
    labeled.join(dropped, Seq("id"), "left_anti")
      .select(col("id"), col("cluster"))
  }
}
