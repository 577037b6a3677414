package graft
import scala.util.control.NonFatal

/** The query bench: one contract line on stdout (each query's best wall
  * time) and, from each query's second run, its job census in
  * `bench_telemetry.json`. On the same code and data `jobs`, `stages`,
  * `tasks`, `shuffle_records`, `files_pruned` and `output_rows` repeat
  * exactly; `shuffle_bytes` does not — q23, q51 and q75 move by up to
  * 0.1% between runs (sf0.001, 4 cores). A telemetry diff between two
  * commits therefore compares `shuffle_records`, `jobs`, `stages` and
  * `tasks`, and reads `shuffle_bytes` as a magnitude only. `compiles`
  * (run 2's generated classes the compile cache missed) is 0 wherever
  * run 1 already compiled the query's shapes.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSpark.session(LocalSpark.cores(LocalSpark.nproc))
    // SPARK_GRAFT_SHUFFLE overrides the shuffle width WITHOUT changing
    // the slot count — the one-off partition-count sweeps (the q65
    // sf100 spill-cliff guidance) need partitions ≠ cpus while the
    // default stays the measured-best cpus (see LocalSpark.session).
    // On a real cluster the same knobs are per-executor: size the heap
    // to the per-task working set and leave the rest to the page cache
    // (an oversized 64 GiB heap un-spilled the sf20 shuffles but evicted
    // the page cache, and sf10 scans ran 10x slower); don't widen
    // shuffles past the slot count for memory you can buy with heap.
    sys.env.get("SPARK_GRAFT_SHUFFLE")
      .foreach(spark.conf.set("spark.sql.shuffle.partitions", _))
    val meter = new LocalSpark.Meter(spark)
    // warm the JVM/codegen paths and parquet file indexes once so the
    // first timed query measures steady-state throughput, not startup
    // (a table the directory lacks fails its queries, not the warm-up)
    graft.Tables.names.foreach { n =>
      try graft.Tables.t(spark, sfDir, n).count()
      catch { case NonFatal(_) => }
    }
    // best of 2 runs per query (3 for the slow tail): the first pass
    // pays codegen compilation and JIT warm-up; the min is the
    // steady-state throughput a long-running cluster observes. Slow
    // multi-job queries (iterative dedup, big self-joins) carry most of
    // the run-to-run scheduling/GC variance, so they get one extra
    // steady-state run — a few seconds of bench wall time buys a stable
    // cross-round comparison. The job census (jobs, stages, tasks,
    // shuffle volumes, files pruned) is read from run 2; unlike its wall
    // time, its counts repeat from run to run (shuffle bytes only to
    // within 0.1% — see the object doc).
    // SPARK_GRAFT_ONLY runs a subset — the rehearsal attribution loop
    // (A/B a suspect query across heap/partition configs without paying
    // the full ladder each time). The contract artifact is always a
    // full run; subset runs are for diagnosis.
    // A query that throws is a FAILURE, not a timing: it is reported on
    // stderr with its exception, gets no entry in "queries", is listed
    // in the contract line's "failed" array, and the bench exits
    // non-zero — a failed run's wall time must never pass for a result.
    val failed = Seq.newBuilder[String]
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => LocalSpark.selected(name) }
      .flatMap { case (name, fn) =>
      def run(): (Long, Double, LocalSpark.Census) = {
        // Drop the PREVIOUS run's shuffle files before timing: a single
        // big-SF query's spill can be tens of GB (q80's sf50 ADC:
        // ~39 GB), and ContextCleaner deletes the files only after a
        // JVM GC notices the dereferenced shuffle deps — without this
        // nudge, back-to-back steady-state runs hold 2x the peak disk
        // and the fifth decade runs out of device. GC + a short drain
        // window sit OUTSIDE the timed region.
        System.gc()
        Thread.sleep(200)
        // Execute the DECLARED physical plan: df.count() would build a
        // new Aggregate over the logical plan and let the optimizer
        // delete final sorts, windows, and projections whose output the
        // count doesn't need (q72's entire packing window vanished —
        // 1.8 KB shuffled for 500k rows — and every ORDER BY was
        // skipped). toRdd materializes the query's own executedPlan,
        // so the timed work is the work the query claims to do, which
        // is also what the DuckDB baseline's fetchall pays.
        meter.measure(fn(spark, sfDir).queryExecution.toRdd.count())
      }
      // progress to stderr (stdout carries only the contract line):
      // at rehearsal scales a pathological query must be attributable
      // without waiting for the final JSON
      System.err.println(s"[bench] $name ...")
      try {
        val (_, t1, _) = run()
        System.err.println(f"[bench] $name run1 $t1%.2f s")
        val (rows, t2, census) = run()
        val best =
          if (math.min(t1, t2) > 0.5) math.min(math.min(t1, t2), run()._2)
          else math.min(t1, t2)
        Some((name, best, rows, census))
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
    def jmap(f: ((String, Double, Long, LocalSpark.Census)) => Any): String =
      results.map(r => "\"" + r._1 + "\":" + f(r)).mkString("{", ",", "}")
    // Keep the stdout contract line SHORT: the driver captures only the tail
    // of the sbt output, and round 3's inline telemetry grew the line past
    // that buffer — the driver saw a truncated line and recorded parsed:null.
    // Times are quantized to 1e-4 s (bench noise is >1e-2 s anyway) and the
    // full telemetry (rows and the run-2 job census) goes to a side file.
    val qs = jmap(r => f"${r._2}%.4f")
    val total = f"${results.map(_._2).sum}%.4f"
    val telemetry =
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","queries":${jmap(_._2)},""" +
      s""""output_rows":${jmap(_._3)},"shuffle_bytes":${jmap(_._4.shuffleBytes)},""" +
      s""""shuffle_records":${jmap(_._4.shuffleRecords)},"jobs":${jmap(_._4.jobs)},""" +
      s""""stages":${jmap(_._4.stages)},"tasks":${jmap(_._4.tasks)},""" +
      s""""files_pruned":${jmap(_._4.filesPruned)},"compiles":${jmap(_._4.compiles)}$failedField}"""
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
