package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The one local SparkSession every graft main and the test fixture
  * run on, and the one job meter that attributes Spark work to a block
  * of code. Timing, verifying and serving all use the same settings, so
  * the session that is measured is the one that is checked and shipped.
  */
object LocalSpark {

  /** `local[cores]` with shuffle width = cores and graft's settings:
    *  - UTC session zone, the zone the DuckDB oracles read timestamps in;
    *  - graft's native functions registered for `spark.sql` text;
    *  - a 16 MB scan-split floor (round 10): the derived single-file
    *    tables are row-group-splittable, but the 128 MB default makes a
    *    40 MB table ONE task however many cores exist, so a
    *    compute-dense scan (q89's regex passes) runs single-threaded
    *    through sf10. 16 MB engages the slots at the bench decades for
    *    ~8x the task count on big scans (milliseconds of scheduling
    *    against seconds of work);
    *  - compressed serialized RDD blocks (round 13): only the DISK_ONLY
    *    staged tables use serialized storage (q83's shingle table, q92's
    *    posting index); at sf50 q83's peak scratch fell 17.6 → 13.9 GB
    *    and its wall 151.8 → 114.0 s, q92's wall 126.4 → 105.4 s.
    * Shuffle width stays = cores: the sf20 rehearsal measured 4x slots
    * fixing three spill-bound queries but costing more in per-round
    * scheduling on the iterative family (total 224 → 259 s).
    */
  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.files.maxPartitionBytes", (16 * 1024 * 1024).toString)
      .config("spark.rdd.compress", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** `SPARK_GRAFT_CPUS`, or `default` when it is unset. */
  def cores(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.trim.toInt)

  def nproc: Int = Runtime.getRuntime.availableProcessors

  /** `SPARK_GRAFT_ONLY=q01_x,q28_y` restricts Bench and Verify to a
    * subset (rehearsal and diagnosis runs); unset selects every query.
    */
  val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  def selected(name: String): Boolean = only.forall(_.contains(name))

  /** What one measured block cost the scheduler and the exchanges.
    * Jobs and stages are near-deterministic per query (AQE may add a
    * stage), so unlike the wall clock they compare across runs and
    * rounds. Shuffle-write records repeat exactly; shuffle-write bytes
    * can move by a few bytes from run to run. `compiles` counts Janino
    * compilations, i.e. generated classes the JVM-wide compile cache
    * did not hold: 0 for a statement shape this JVM has compiled before.
    */
  final case class Census(jobs: Long, stages: Long, tasks: Long,
                          shuffleBytes: Long, shuffleRecords: Long,
                          filesPruned: Long, compiles: Long = 0L)

  /** Counts every job, stage and task of `spark`'s context (it registers
    * itself there), plus the files data skipping pruned and the
    * generated classes compiled, for the block passed to `measure`.
    */
  final class Meter(spark: SparkSession) extends SparkListener {
    private val jobs, stages, tasks, bytes, records = new AtomicLong
    spark.sparkContext.addSparkListener(this)

    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        records.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      }
    }

    /** Runs `f` and returns its value, its wall seconds and its census.
      * The listener bus is asynchronous: it is drained before the
      * counters reset (so an earlier block's late events are not
      * counted) and after `f` (so none of `f`'s are missed); both
      * drains sit outside the timed region. An exception from `f`
      * propagates; the next `measure` starts from zero all the same.
      */
    def measure[A](f: => A): (A, Double, Census) = {
      val sc = spark.sparkContext
      org.apache.spark.graft.ListenerBridge.drain(sc)
      Seq(jobs, stages, tasks, bytes, records).foreach(_.set(0))
      val pruned0 = org.apache.spark.sql.graft.Skipping.filesPruned.get()
      val compiles0 = compileCount
      val t0 = System.nanoTime()
      val value = f
      val seconds = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graft.ListenerBridge.drain(sc)
      (value, seconds, Census(jobs.get, stages.get, tasks.get, bytes.get,
        records.get, org.apache.spark.sql.graft.Skipping.filesPruned.get() - pruned0,
        compileCount - compiles0))
    }

    /** Janino compilations so far in this JVM (Spark's own codegen
      * metric; it counts every compile-cache miss, on any thread).
      */
    private def compileCount: Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  }
}
