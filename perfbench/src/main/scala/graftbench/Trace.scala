package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: name, layer, start and end in epoch ms, its parent span and the
  * statement (or query) every span of one statement shares. `attrs` holds
  * the counts measured at the same boundary.
  */
final case class Span(id: Long, parent: Long, stmt: Long, name: String, layer: String,
                      start: Double, end: Double, attrs: Map[String, Double] = Map.empty) {
  def dur: Double = end - start
}

/** In-memory span store. The benchmark records statement, `engine.sql` and
  * `drain` spans around its own calls; `JobListener` and `PlanListener`
  * add Spark's job, stage, task and planning-phase spans, which
  * `attribute` then assigns to statements by time window (the traced run
  * uses one connection, so windows never overlap). The listeners record
  * every event they get, whenever Spark's listener bus delivers it;
  * events outside every recorded statement's window are simply not
  * attributed.
  */
object Tracer {
  private val ids = new AtomicLong
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  val spans = new ConcurrentLinkedQueue[Span]
  // Spark-side records, keyed by Spark ids until attribution
  val jobs = new ConcurrentLinkedQueue[(Int, Double, Double, Seq[Int])]
  val stages = new ConcurrentLinkedQueue[(Int, String, Double, Double, Map[String, Double])]
  val tasks = new ConcurrentLinkedQueue[(Int, Double, Double, Map[String, Double])]
  val phases = new ConcurrentLinkedQueue[(String, Double, Double)]

  /** Epoch ms with sub-ms resolution, on the same clock as Spark's events. */
  def now: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
  def nextId(): Long = ids.incrementAndGet()

  def span[T](parent: Long, stmt: Long, name: String, layer: String)(body: => T): T = {
    val id = nextId()
    val t0 = now
    try body
    finally spans.add(Span(id, parent, stmt, name, layer, t0, now))
  }

  def clear(): Unit = { spans.clear(); jobs.clear(); stages.clear(); tasks.clear(); phases.clear() }
}

/** Job, stage and task spans with their metrics. */
final class JobListener extends SparkListener {
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Double, Seq[Int])]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStart.put(e.jobId, (e.time.toDouble, e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (t0, st) =>
      Tracer.jobs.add((e.jobId, t0, e.time.toDouble, st)) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val attrs = if (m == null) Map.empty[String, Double] else Map(
      "shuffle_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
      "shuffle_records" -> m.shuffleWriteMetrics.recordsWritten.toDouble,
      "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
      "input_bytes" -> m.inputMetrics.bytesRead.toDouble,
      "input_rows" -> m.inputMetrics.recordsRead.toDouble,
      "tasks" -> i.numTasks.toDouble)
    // the operators the stage runs, from its RDDs' operation scopes
    val ops = i.rddInfos.flatMap(_.scope.map(_.name)).distinct.reverse.mkString(" > ")
    Tracer.stages.add((i.stageId, if (ops.nonEmpty) ops else i.name, i.submissionTime.getOrElse(0L).toDouble,
      i.completionTime.getOrElse(0L).toDouble, attrs))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) {
    val i = e.taskInfo
    val m = e.taskMetrics
    val dur = (i.finishTime - i.launchTime).toDouble
    // the delay Spark's UI shows: task time not spent running or moving
    // the task and its result
    val delay = math.max(0.0, dur - m.executorRunTime - m.executorDeserializeTime -
      m.resultSerializationTime - i.gettingResultTime)
    Tracer.tasks.add((e.stageId, i.launchTime.toDouble, i.finishTime.toDouble, Map(
      "run_ms" -> m.executorRunTime.toDouble,
      "cpu_ms" -> m.executorCpuTime / 1e6,
      "gc_ms" -> m.jvmGCTime.toDouble,
      "delay_ms" -> delay,
      "shuffle_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
      "shuffle_records" -> m.shuffleWriteMetrics.recordsWritten.toDouble,
      "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
      "input_bytes" -> m.inputMetrics.bytesRead.toDouble,
      "input_rows" -> m.inputMetrics.recordsRead.toDouble)))
  }
}

/** Planning phases (analysis, optimization, planning) from each query
  * execution's `QueryPlanningTracker`. Registered on every session through
  * `spark.sql.queryExecutionListeners` in the traced run only.
  */
final class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = PlanListener.record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    PlanListener.record(qe)
}

object PlanListener {
  private val seen = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[QueryExecution, java.lang.Boolean]())

  /** Records a query execution's planning phases once. */
  def record(qe: QueryExecution): Unit = if (seen.synchronized(seen.add(qe)))
    qe.tracker.phases.foreach { case (phase, s) =>
      Tracer.phases.add((phase, s.startTimeMs.toDouble, s.endTimeMs.toDouble)) }
}

/** Per-statement breakdown built from the spans of one traced replay. */
final case class Breakdown(wall: Double, self: Map[String, Double], counts: Map[String, Double])

object Attribution {
  /** Layer precedence when spans overlap in time: the deepest active span
    * owns the instant, so the self times of one statement add up to its
    * wall exactly.
    */
  val Layers: Seq[String] =
    Seq("spark.exec", "spark.sched.stage", "spark.sched.job", "spark.plan", "engine.drain",
      "engine.sql", "uncovered")

  /** Time each layer owns inside [lo, hi]: at every instant the
    * highest-precedence active interval wins; time with none is "uncovered".
    */
  def sweep(lo: Double, hi: Double, ivs: Seq[(String, Double, Double)]): Map[String, Double] = {
    val rank = Layers.zipWithIndex.toMap
    val clipped = ivs.flatMap { case (l, s, e) =>
      val (a, b) = (math.max(s, lo), math.min(e, hi)); if (b > a) Some((l, a, b)) else None }
    val cuts = (clipped.flatMap { case (_, a, b) => Seq(a, b) } ++ Seq(lo, hi)).distinct.sorted
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    cuts.sliding(2).foreach {
      case Seq(a, b) =>
        val mid = (a + b) / 2
        val active = clipped.filter { case (_, s, e) => s <= mid && mid < e }
        val owner = if (active.isEmpty) "uncovered" else active.minBy(x => rank(x._1))._1
        out(owner) += b - a
      case _ => ()
    }
    Layers.map(l => l -> out(l)).toMap
  }

  /** Assigns Spark's jobs, stages, tasks and planning phases to the given
    * root spans by time window, and returns each root's breakdown and
    * counts, plus the attributed spans for the trace file.
    */
  def attribute(roots: Seq[Span]): (Seq[Breakdown], Seq[Span]) = {
    val slack = 1.0 // Spark stamps events in whole ms
    val jobs = Tracer.jobs.asScala.toSeq
    val stageById = Tracer.stages.asScala.map(s => s._1 -> s).toMap
    val tasksByStage = Tracer.tasks.asScala.toSeq.groupBy(_._1)
    val phases = Tracer.phases.asScala.toSeq
    val children = Tracer.spans.asScala.toSeq.groupBy(_.stmt)
    val out = mutable.ArrayBuffer.empty[Span]
    val bds = roots.map { root =>
      def in(t: Double) = t >= root.start - slack && t <= root.end + slack
      val myJobs = jobs.filter(j => in(j._2))
      val myStages = myJobs.flatMap(_._4).flatMap(stageById.get).distinct
      val myTasks = myStages.flatMap(s => tasksByStage.getOrElse(s._1, Nil))
      val myPhases = phases.filter(p => in(p._2))
      val mine = children.getOrElse(root.stmt, Nil).filter(_.id != root.id)
      val ivs = mine.map(s => (s.layer, s.start, s.end)) ++
        myPhases.map(p => ("spark.plan", p._2, p._3)) ++
        myJobs.map(j => ("spark.sched.job", j._2, j._3)) ++
        myStages.map(s => ("spark.sched.stage", s._3, s._4)) ++
        myTasks.map(t => ("spark.exec", t._2, t._3))
      val self = sweep(root.start, root.end, ivs)
      def sumT(k: String) = myTasks.map(_._4.getOrElse(k, 0.0)).sum
      def sumS(k: String) = myStages.map(_._5.getOrElse(k, 0.0)).sum
      def phase(n: String) = myPhases.filter(_._1 == n).map(p => p._3 - p._2).sum
      val jobCover = sweep(root.start, root.end, myJobs.map(j => ("spark.sched.job", j._2, j._3)))
      def spanMs(layer: String) = mine.filter(_.layer == layer).map(_.dur).sum
      val counts = Map(
        "engine.sql_ms" -> spanMs("engine.sql"),
        "engine.drain_ms" -> spanMs("engine.drain"),
        "spark.plan.analysis_ms" -> phase("analysis"),
        "spark.plan.optimization_ms" -> phase("optimization"),
        "spark.plan.planning_ms" -> phase("planning"),
        "spark.sched.jobs" -> myJobs.size.toDouble,
        "spark.sched.stages" -> myStages.size.toDouble,
        "spark.sched.tasks" -> myTasks.size.toDouble,
        "spark.sched.delay_ms" -> sumT("delay_ms"),
        "spark.sched.driver_ms" -> jobCover("uncovered"),
        "spark.exec.run_ms" -> sumT("run_ms"),
        "spark.exec.cpu_ms" -> sumT("cpu_ms"),
        "spark.exec.gc_ms" -> sumT("gc_ms"),
        "exchange.shuffle_bytes" -> sumS("shuffle_bytes"),
        "exchange.shuffle_records" -> sumS("shuffle_records"),
        "exchange.spill_bytes" -> sumS("spill_bytes"),
        "scan.bytes_read" -> sumS("input_bytes"),
        "scan.rows_read" -> sumS("input_rows"))
      out += root
      out ++= mine
      myPhases.foreach(p => out += Span(Tracer.nextId(), root.id, root.stmt, s"plan.${p._1}", "spark.plan", p._2, p._3))
      myJobs.foreach { j =>
        val jid = Tracer.nextId()
        out += Span(jid, root.id, root.stmt, s"job ${j._1}", "spark.sched.job", j._2, j._3)
        j._4.flatMap(stageById.get).foreach { s =>
          val sid = Tracer.nextId()
          out += Span(sid, jid, root.stmt, s"stage ${s._1}: ${s._2}", "spark.sched.stage", s._3, s._4, s._5)
          tasksByStage.getOrElse(s._1, Nil).foreach(t =>
            out += Span(Tracer.nextId(), sid, root.stmt, s"task of stage ${s._1}", "spark.exec", t._2, t._3, t._4))
        }
      }
      Breakdown(root.dur, self, counts)
    }
    (bds, out.toSeq)
  }
}
