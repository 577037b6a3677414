package graft
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

object Bench {

  /** Accumulates shuffle-write bytes/records across all tasks; the bench
    * resets it before each query's steady-state run, so regressions in
    * exchange volume are attributable per query in BENCH_r{N}.json.
    */
  private final class ShuffleMeter extends SparkListener {
    val bytes = new AtomicLong
    val records = new AtomicLong
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        records.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      }
    }
    def reset(): Unit = { bytes.set(0); records.set(0) }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    // Shuffle width stays = cpus; the sf20 rehearsal measured BOTH
    // alternatives losing: initialPartitionNum=4x slots fixed the three
    // spill-bound queries (q65/q66/q43, -2 s each) but cost MORE in
    // per-round scheduling overhead on the iterative/multi-job family
    // (q67 +6.3 s, q69 +5.3 s, q31 +4.9 s; total 224 -> 259 s), and an
    // oversized heap (64 GiB) un-spills the shuffles but evicts the OS
    // page cache and re-reads parquet from disk (sf10 scans 10x
    // slower). On a real cluster the same knobs are per-executor: size
    // the heap to the per-task working set and leave the rest to the
    // page cache; don't widen shuffles past the slot count for memory
    // you can buy with heap.
    // SPARK_GRAFT_SHUFFLE overrides the shuffle width WITHOUT changing
    // the slot count — the one-off partition-count sweeps (the q65
    // sf100 spill-cliff guidance) need partitions ≠ cpus while the
    // default stays the measured-best cpus
    val shufflePartitions = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      // Scan-split floor (round 10): the derived single-file tables are
      // row-group-splittable (make_scale writes ~64 groups) but the
      // 128 MB default split means a 40 MB table is ONE task however
      // many cores exist — a compute-dense scan (q89's 13 regex passes
      // over the PII-dense notes) then runs single-threaded through
      // sf10 and on ≤4 cores even at sf100. 16 MB engages the slots at
      // the bench decades while adding only ~8x task count on the big
      // scans (milliseconds of scheduling against seconds of work). On
      // a real cluster this is the same per-table sizing call §5
      // documents; many-file production tables get the splits for free.
      .config("spark.sql.files.maxPartitionBytes", (16 * 1024 * 1024).toString)
      // Compress serialized RDD blocks (round 13): only the DISK_ONLY
      // staged tables use serialized storage (q83's shingle table,
      // q92's posting index — the suite's two scratch-disk-bound rows);
      // shuffle files are already compressed by default. Measured at
      // sf50: q83 peak scratch 17.6 → 13.9 GB (-21%) and wall 151.8 →
      // 114.0 s (-25%); q92 wall 126.4 → 105.4 s (-17%); hash-gated
      // unchanged. The win is disk bandwidth, so it grows with the
      // decade (the sf100 disk-bound class).
      .config("spark.rdd.compress", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val meter = new ShuffleMeter
    spark.sparkContext.addSparkListener(meter)
    // warm the JVM/codegen paths and parquet file indexes once so the
    // first timed query measures steady-state throughput, not startup
    graft.Tables.names.foreach { n =>
      try graft.Tables.t(spark, sfDir, n).count()
      catch { case _: Throwable => }
    }
    // best of 2 runs per query (3 for the slow tail): the first pass
    // pays codegen compilation and JIT warm-up; the min is the
    // steady-state throughput a long-running cluster observes. Slow
    // multi-job queries (iterative dedup, big self-joins) carry most of
    // the run-to-run scheduling/GC variance, so they get one extra
    // steady-state run — a few seconds of bench wall time buys a stable
    // cross-round comparison. Shuffle telemetry is read from run 2
    // (volumes are deterministic per run; the listener drains first).
    // SPARK_GRAFT_ONLY=q01_x,q28_y runs a subset — the rehearsal
    // attribution loop (A/B a suspect query across heap/partition
    // configs without paying the full ladder each time). The contract
    // artifact is always a full run; subset runs are for diagnosis.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // A query that throws is a FAILURE, not a timing: it is reported on
    // stderr with its exception, gets no entry in "queries", is listed
    // in the contract line's "failed" array, and the bench exits
    // non-zero — a failed run's wall time must never pass for a result.
    val failed = Seq.newBuilder[String]
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
      def run(): (Double, Long) = {
        // Drop the PREVIOUS run's shuffle files before timing: a single
        // big-SF query's spill can be tens of GB (q80's sf50 ADC:
        // ~39 GB), and ContextCleaner deletes the files only after a
        // JVM GC notices the dereferenced shuffle deps — without this
        // nudge, back-to-back steady-state runs hold 2x the peak disk
        // and the fifth decade runs out of device. GC + a short drain
        // window sit OUTSIDE the timed region.
        System.gc()
        Thread.sleep(200)
        val t0 = System.nanoTime()
        // Execute the DECLARED physical plan: df.count() would build a
        // new Aggregate over the logical plan and let the optimizer
        // delete final sorts, windows, and projections whose output the
        // count doesn't need (q72's entire packing window vanished —
        // 1.8 KB shuffled for 500k rows — and every ORDER BY was
        // skipped). toRdd materializes the query's own executedPlan,
        // so the timed work is the work the query claims to do, which
        // is also what the DuckDB baseline's fetchall pays.
        val rows = fn(spark, sfDir).queryExecution.toRdd.count()
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      // progress to stderr (stdout carries only the contract line):
      // at rehearsal scales a pathological query must be attributable
      // without waiting for the final JSON
      System.err.println(s"[bench] $name ...")
      try {
        val (t1, _) = run()
        System.err.println(f"[bench] $name run1 $t1%.2f s")
        org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
        meter.reset()
        val (t2, rows) = run()
        org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
        // snapshot telemetry from run 2 before any extra timing run
        val (sb, sr) = (meter.bytes.get(), meter.records.get())
        val best =
          if (math.min(t1, t2) > 0.5) math.min(math.min(t1, t2), run()._1)
          else math.min(t1, t2)
        Some((name, best, rows, sb, sr))
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] $name FAILED: $e")
        failed += name
        None
      }
    }
    val failedNames = failed.result()
    val failedField =
      if (failedNames.isEmpty) ""
      else failedNames.map(n => "\"" + n + "\"").mkString(""","failed":[""", ",", "]")
    def jmap(f: ((String, Double, Long, Long, Long)) => String): String =
      results.map(r => "\"" + r._1 + "\":" + f(r)).mkString("{", ",", "}")
    // Keep the stdout contract line SHORT: the driver captures only the tail
    // of the sbt output, and round 3's inline telemetry grew the line past
    // that buffer — the driver saw a truncated line and recorded parsed:null.
    // Times are quantized to 1e-4 s (bench noise is >1e-2 s anyway) and the
    // full telemetry (rows, shuffle bytes/records) goes to a side file.
    val qs = jmap(r => f"${r._2}%.4f")
    val total = f"${results.map(_._2).sum}%.4f"
    val telemetry =
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","queries":${jmap(_._2.toString)},"output_rows":${jmap(_._3.toString)},"shuffle_bytes":${jmap(_._4.toString)},"shuffle_records":${jmap(_._5.toString)}$failedField}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_telemetry.json"),
      telemetry.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val contractLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"$failedField}"""
    // Insurance against truncated stdout captures (the r16 round lost
    // its whole round-over-round comparison to one): the contract line
    // ALSO lands in a side file. Additive — stdout is unchanged.
    java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_result.json"),
      contractLine.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(contractLine)
    spark.stop()
    if (failedNames.nonEmpty) sys.exit(1)
  }
}
