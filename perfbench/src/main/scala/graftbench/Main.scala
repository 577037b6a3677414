package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.GraftSession
import graft.server.Messages
import graftbench.WireClient.{Ok, Response, Rows}

/** The benchmark program. One invocation runs one workload:
  *
  * {{{
  * Main --workload wire_read|suite_sf01 --seed N --seconds S
  *      --trace 0|1 --work DIR --data DIR [--pin FILE]
  * }}}
  *
  * With `--trace 0` it measures the end-to-end metrics with no listener
  * attached; with `--trace 1` it runs the separate traced replay that
  * fills in the per-layer metrics. The last stdout line is the result
  * object; the lines before it name every metric with its unit and
  * sample count.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, data: Path, pin: Option[Path])

  final case class Metric(name: String, value: Double, unit: String, samples: Long)

  final case class Result(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[Metric],
                          detail: Map[String, Any])

  val Workloads = Seq("wire_read", "suite_sf01")
  /** Set-ups per run: a table load is costly, a suite session is not. */
  val WireSetups = 3
  val SuiteSetups = 7
  /** Untimed suite passes after the checked warm pass: the JIT keeps
    * speeding the queries up for several passes.
    */
  val SuiteWarmPasses = 2

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val spark = Engine.spark(a.work, a.trace)
    val code =
      try {
        val r = a.workload match {
          case "suite_sf01" => if (a.trace) suiteTraced(a, spark) else suiteTimed(a, spark)
          case _ => if (a.trace) wireTraced(a, spark) else wireTimed(a, spark)
        }
        report(a, r)
        0
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] ${a.workload} failed:")
          e.printStackTrace()
          1
      }
    System.out.flush()
    // client and server threads are daemons; exit without waiting on Spark
    Runtime.getRuntime.halt(code)
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w; one of ${Workloads.mkString(", ")}")
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, Paths.get(need("data")).toAbsolutePath,
      m.get("pin").map(Paths.get(_)))
  }

  // ---- shared ---------------------------------------------------------------

  private def conns: Int = math.min(4, Engine.nproc)

  private def timeSetups(n: Int)(body: Int => Unit): Seq[Double] = (0 until n).map { i =>
    System.gc()
    val t0 = System.nanoTime()
    body(i)
    (System.nanoTime() - t0) / 1e9
  }

  private def p50(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else Stats.median(xs)

  /** `main` and `side` are the two classes' typical latencies in ms: the
    * median statement on the wire, the geometric mean of the per-query
    * best walls on the suite (its classes hold five queries of different
    * sizes, whose median would jump between queries).
    */
  private def endToEnd(setups: Seq[Double], done: Long, wall: Double,
                       main: (Double, Int), side: (Double, Int)): Seq[Metric] = Seq(
    Metric("setup_s", Stats.median(setups), "s", setups.size),
    Metric("ops_per_s", done / wall, "1/s", done),
    Metric("main_ms", main._1, "ms", main._2),
    Metric("side_ms", side._1, "ms", side._2),
    Metric("peak_rss_mb", Engine.peakRssMb, "MB", 1))

  /** Per-class latency summary for the detail record. */
  private def classStats(rec: Recorder, classes: Seq[String]): Map[String, Any] =
    classes.map { c =>
      val xs = rec.of(c)
      c -> Map("attempted" -> rec.attempted(c), "failed" -> rec.failed(c), "samples" -> xs.size,
        "p50_ms" -> (if (xs.isEmpty) None else Some(Stats.median(xs))),
        "tail" -> Stats.highestTail(xs).map { case (n, v) => Map(n + "_ms" -> v) })
    }.toMap

  private def report(a: Args, r: Result): Unit = {
    val env = Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "nproc" -> Engine.nproc, "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "connections" -> (if (a.workload == "suite_sf01") 1 else conns),
      "spark_conf" -> Engine.conf(a.work, a.trace).toMap,
      "commit_probe_table" -> "PRIMARY KEY engine=parquet (merge-on-read)",
      "commit_probe_compaction" -> Wire.CompactionSettings.toMap,
      "flush" -> "every statement commits before it is acknowledged",
      "source_id" -> sys.env.getOrElse("PERFBENCH_SOURCE_ID", "unknown"))
    val metrics = r.metrics.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit, "samples" -> m.samples))
    val full = Map("env" -> env, "correct" -> r.correct, "attempted" -> r.attempted, "failed" -> r.failed,
      "error_rate" -> r.failed.toDouble / math.max(1L, r.attempted),
      "metrics" -> metrics.toMap, "detail" -> r.detail)
    val out = a.work.resolve("results")
    Files.createDirectories(out)
    Files.writeString(out.resolve(s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json"),
      Json.render(full) + "\n")
    r.metrics.foreach(m => println(f"# ${m.name} = ${m.value}%.4f ${m.unit} (n=${m.samples})"))
    println(f"# error_rate = ${r.failed.toDouble / math.max(1L, r.attempted)}%.6f (${r.failed} of ${r.attempted})")
    println(Json.render(Map(
      "correct" -> r.correct, "attempted" -> r.attempted, "failed" -> r.failed,
      "metrics" -> r.metrics.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap)))
  }

  // ---- wire workload ------------------------------------------------------------

  private def wireTimed(a: Args, spark: SparkSession): Result = {
    val whs = (0 until WireSetups).map(i => a.work.resolve(s"wh-$i"))
    whs.foreach(Engine.deleteTree)
    val setups = timeSetups(WireSetups)(i => Engine.loadOrders(spark, whs(i), a.seed))
    val server = Engine.startServer(spark, whs.last)
    val (rec, wall) =
      try Wire.closedLoop(server.boundPort, a.seed, conns, a.seconds)
      finally server.stop()
    val (main, side) = (rec.of("read"), rec.of("agg"))
    // attempted and failed include the warm-up statements
    Result(
      correct = rec.failed == 0, rec.attempted, rec.failed,
      metrics = endToEnd(setups, main.size + side.size, wall, (p50(main), main.size), (p50(side), side.size)),
      detail = Map("classes" -> classStats(rec, Seq("read", "agg")), "wall_s" -> wall, "setups_s" -> setups,
        "failures" -> rec.failures.toSeq))
  }

  /** Renders a DataFrame the way the wire server does: an OK count for
    * DML, text rows otherwise.
    */
  private def drain(df: DataFrame): Response = {
    val f = df.schema.fields
    if (f.length == 1 && f(0).metadata.contains(GraftSession.DmlCountTag)) {
      val it = df.toLocalIterator()
      Ok(if (it.hasNext) it.next().getLong(0) else 0L)
    } else {
      val rows = Vector.newBuilder[Vector[String]]
      df.toLocalIterator().forEachRemaining { r =>
        rows += (0 until r.length).map(i =>
          Messages.cellText(r.get(i)).map(new String(_, "UTF-8")).getOrElse(null)).toVector
      }
      Rows(rows.result())
    }
  }

  private def rowsOut(r: Response): Double = r match {
    case Rows(rs) => rs.size.toDouble
    case Ok(n) => n.toDouble
    case _ => 0.0
  }

  /** One statement of a replay: its index in the stream, class, root span,
    * rows out, bytes and packets received, and files pruned by skipping.
    */
  private final case class Replayed(i: Int, cls: String, root: Span, rows: Double,
                                    bytes: Double, packets: Double, pruned: Double)

  private def pruned: Long = org.apache.spark.sql.graft.Skipping.filesPruned.get()

  /** Replays connection 0's seeded stream of `n` statements on a fresh
    * warehouse through the socket and, when `paired`, also through
    * `GraftSession.sql` in-process: each statement runs both ways back to
    * back, alternating within each statement class which goes first, so
    * its two walls are taken under the same conditions. The stream only reads, so both see the same
    * table. The first `Wire.Warmup` statements are not recorded. Returns
    * the socket and the in-process statements.
    */
  private def replay(a: Args, spark: SparkSession, rec: Recorder, seed: Long, name: String, n: Int,
                     paired: Boolean): (Seq[Replayed], Seq[Replayed]) = {
    val wh = a.work.resolve(s"wh-$name")
    Engine.deleteTree(wh)
    Engine.loadOrders(spark, wh, seed)
    val stream = new Stream(seed, 0, conns, writes = false)
    val sock = mutable.ArrayBuffer.empty[Replayed]
    val inp = mutable.ArrayBuffer.empty[Replayed]
    val server = Engine.startServer(spark, wh)
    var client = new WireClient(server.boundPort)
    Wire.prepare(client)
    val session = new GraftSession(spark.newSession(), wh.toString)
    session.sql("use bench")
    def once(i: Int, s: Stmt, viaSocket: Boolean): Unit = {
      val recorded = i >= Wire.Warmup
      val stmtId = Tracer.nextId()
      val rootId = Tracer.nextId()
      var resp: Response = null
      val (bytes0, packets0, pruned0) = (client.bytesIn, client.packetsIn, pruned)
      val t0 = Tracer.now
      val ok = Wire.step(rec, stream, s, if (recorded) s.cls else "warmup") { sql =>
        resp =
          if (viaSocket) client.query(sql)
          else {
            val df = Tracer.span(rootId, stmtId, "engine.sql", "engine.sql")(session.sql(sql))
            Tracer.span(rootId, stmtId, "drain", "engine.drain")(drain(df))
          }
        resp
      }
      val root = Span(rootId, 0, stmtId, s"statement ${s.cls}", "statement", t0, Tracer.now)
      if (!ok && viaSocket) {
        client.close(); client = new WireClient(server.boundPort); Wire.prepare(client)
      }
      if (recorded && ok) (if (viaSocket) sock else inp) += Replayed(i, s.cls, root, rowsOut(resp),
        (client.bytesIn - bytes0).toDouble, (client.packetsIn - packets0).toDouble, (pruned - pruned0).toDouble)
    }
    val seen = mutable.Map.empty[String, Int].withDefaultValue(0)
    try (0 until n).foreach { i =>
      val s = stream.next()
      seen(s.cls) += 1
      val order = if (!paired) Seq(true) else if (seen(s.cls) % 2 == 0) Seq(true, false) else Seq(false, true)
      order.foreach(once(i, s, _))
    } finally {
      client.close()
      server.stop()
    }
    (sock.toSeq, inp.toSeq)
  }

  /** Live tombstone rows of `bench.orders`, as the catalog counts them
    * from parquet footers for its compaction policy.
    */
  private def tombstones(c: graft.engine.Catalog): Double = {
    val m = c.getClass.getDeclaredMethods.find(_.getName.endsWith("activeTombstoneRows"))
      .getOrElse(throw new IllegalStateException("Catalog.activeTombstoneRows not found"))
    m.setAccessible(true)
    m.invoke(c, "bench", "orders").asInstanceOf[Long].toDouble
  }

  /** The commit-protocol probe: replays connection 0's seeded write
    * stream in-process on a PRIMARY KEY `engine=parquet` table, which is
    * merge-on-read: UPDATE and DELETE write tombstones, point lookups
    * anti-join them, and auto-compaction folds them
    * (`Wire.CompactionSettings`). After each write it measures what the
    * write left in the warehouse (files, bytes, live tombstones,
    * compactions) and what a second session's `Catalog.freshenStale` pays
    * to pick the commit up. Then a server restarted over the warehouse must
    * serve every acknowledged write and no deleted key. It runs apart from
    * the traced replays because the second session's refresh perturbs them.
    */
  private def commitProbe(a: Args, spark: SparkSession, rec: Recorder, n: Int): mutable.Map[String, Double] = {
    val st = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val wh = a.work.resolve("wh-commit")
    Engine.deleteTree(wh)
    Engine.loadOrders(spark, wh, a.seed, engine = "parquet")
    val g = new GraftSession(spark.newSession(), wh.toString)
    g.sql("use bench")
    Wire.CompactionSettings.foreach { case (k, v) => g.sql(s"set $k = $v") }
    val observer = new GraftSession(spark.newSession(), wh.toString)
    observer.sql("use bench")
    val db = wh.resolve("bench")
    val stream = new Stream(a.seed, 0, conns, writes = true)
    var dels = tombstones(g.catalog)
    (0 until n).foreach { _ =>
      val s = stream.next()
      if (!s.isWrite) {
        st("reads") += 1
        st("read_tombstones") += dels
        Wire.step(rec, stream, s, "probe_read")(sql => drain(g.sql(sql)))
      } else {
        val before = Engine.files(db)
        if (Wire.step(rec, stream, s, "probe_write")(sql => drain(g.sql(sql)))) {
          val added = Engine.files(db) -- before
          st("writes") += 1
          st("files_written") += added.size
          st("bytes_written") += added.toSeq.map(_._2).sum
          st("user_bytes") += Orders.row(a.seed, s.key).userBytes
          val now = tombstones(g.catalog)
          if (now < dels) st("compactions") += 1
          dels = now
          val f0 = System.nanoTime()
          observer.catalog.freshenStale()
          st("freshen_ms") += (System.nanoTime() - f0) / 1e6
        }
      }
    }
    val server = Engine.startServer(spark, wh)
    try {
      val c = new WireClient(server.boundPort)
      try { Wire.prepare(c); st("restart_keys_checked") = Wire.checkAfterRestart(c, rec, stream) }
      finally c.close()
    } finally server.stop()
    st
  }

  private def wireTraced(a: Args, spark: SparkSession): Result = {
    val n = 80
    val sc = spark.sparkContext
    val listener = new JobListener
    val rec = new Recorder
    // JIT warm-up on another seed's data, so the replays compared below
    // all run warm
    replay(a, spark, rec, a.seed + 1, "warm", n / 2, paired = false)
    // the job listener is attached to the traced replay only; it records
    // every event, and `attribute` keeps those inside a recorded
    // statement's window
    Tracer.clear()
    sc.addSparkListener(listener)
    val (sock, inp) = replay(a, spark, rec, a.seed, "traced", n, paired = true)
    org.apache.spark.graft.ListenerBridge.drain(sc)
    sc.removeSparkListener(listener)
    val (_, sockSpans) = Attribution.attribute(sock.map(_.root))
    val (inBd, inSpans) = Attribution.attribute(inp.map(_.root))
    // the same replay untraced, after the traced one, so any warm-up left
    // over inflates rather than hides the tracing overhead
    val (plain, _) = replay(a, spark, rec, a.seed, "untraced", n, paired = true)
    val engineStats = commitProbe(a, spark, rec, 40)

    val layer = mutable.LinkedHashMap.empty[String, Double]
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val bySock = sock.map(r => r.i -> r).toMap
    Seq("main" -> "read", "side" -> "agg").foreach { case (g, cls) =>
      val ss = sock.filter(_.cls == cls)
      val ii = inp.indices.filter(inp(_).cls == cls)
      layer(s"$g.wall_ms") = p50(ss.map(_.root.dur))
      layer(s"$g.server.self_ms") =
        p50(ii.flatMap(i => bySock.get(inp(i).i).map(_.root.dur - inp(i).root.dur)))
      layer(s"$g.server.bytes_out") = mean(ss.map(_.bytes))
      layer(s"$g.server.packets") = mean(ss.map(_.packets))
      breakdown(layer, g, ii.map(inBd), ii.map(i => inp(i).rows), ii.map(i => inp(i).root.dur),
        ii.map(i => inp(i).pruned))
    }
    engineLayer(layer, engineStats, rec)
    val plainWall = p50(plain.map(_.root.dur))
    layer("trace.overhead_pct") = (p50(sock.map(_.root.dur)) / plainWall - 1) * 100
    Suite.Families.foreach(f => layer(s"queries.${f}_s") = 0.0)
    val residual = inBd.map(b => math.abs(b.self.values.sum - b.wall)).maxOption.getOrElse(0.0)
    writeTrace(a, sockSpans ++ inSpans, Map("max_self_residual_ms" -> residual))
    Result(rec.failed == 0, rec.attempted, rec.failed,
      layer.toSeq.map { case (k, v) => Metric(k, v, unitOf(k), inp.size) },
      Map("failures" -> rec.failures.toSeq, "statements" -> n, "untraced_p50_ms" -> plainWall,
        "max_self_residual_ms" -> residual, "commit_probe" -> engineStats.toMap))
  }

  /** Layer self times (mean per statement, so they add up to the mean
    * wall), engine timings and Spark counts for one statement group.
    */
  private def breakdown(layer: mutable.LinkedHashMap[String, Double], g: String, bds: Seq[Breakdown],
                        rowsOut: Seq[Double], walls: Seq[Double], pruned: Seq[Double]): Unit = {
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    layer(s"$g.inproc_wall_ms") = mean(walls)
    layer(s"$g.self.engine.sql_ms") = mean(bds.map(_.self("engine.sql")))
    layer(s"$g.self.engine.drain_ms") = mean(bds.map(_.self("engine.drain")))
    layer(s"$g.self.spark.plan_ms") = mean(bds.map(_.self("spark.plan")))
    layer(s"$g.self.spark.sched_ms") = mean(bds.map(b => b.self("spark.sched.job") + b.self("spark.sched.stage")))
    layer(s"$g.self.spark.exec_ms") = mean(bds.map(_.self("spark.exec")))
    layer(s"$g.self.uncovered_ms") = mean(bds.map(_.self("uncovered")))
    val keys = bds.headOption.map(_.counts.keys.toSeq.sorted).getOrElse(Nil)
    keys.foreach(k => layer(s"$g.$k") = mean(bds.map(_.counts(k))))
    layer(s"$g.scan.rows_per_row_out") = bds.map(_.counts("scan.rows_read")).sum / math.max(1.0, rowsOut.sum)
    layer(s"$g.scan.files_pruned") = mean(pruned)
  }

  /** The commit probe's figures: medians of the in-process write and
    * lookup walls, means per write, live tombstone rows under the mean
    * lookup, and the number of auto-compactions.
    */
  private def engineLayer(layer: mutable.LinkedHashMap[String, Double], st: mutable.Map[String, Double],
                          rec: Recorder): Unit = {
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val w = math.max(1.0, st("writes"))
    layer("engine.probe_write_ms") = med(rec.of("probe_write"))
    layer("engine.probe_read_ms") = med(rec.of("probe_read"))
    layer("engine.freshen_ms") = st("freshen_ms") / w
    layer("engine.files_written") = st("files_written") / w
    layer("engine.write_amp") = if (st("user_bytes") > 0) st("bytes_written") / st("user_bytes") else 0.0
    layer("engine.tombstone_rows") = st("read_tombstones") / math.max(1.0, st("reads"))
    layer("engine.compactions") = st("compactions")
  }

  private def unitOf(k: String): String =
    if (k.endsWith("_ms")) "ms" else if (k.endsWith("_s")) "s" else if (k.endsWith("_pct")) "%"
    else if (k.endsWith("bytes") || k.endsWith("bytes_out") || k.endsWith("bytes_read")) "bytes"
    else if (k.endsWith("write_amp") || k.endsWith("rows_per_row_out")) "ratio"
    else "count"

  private def writeTrace(a: Args, spans: Seq[Span], extra: Map[String, Any]): Unit = {
    val out = a.work.resolve("results")
    Files.createDirectories(out)
    val rows = spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "stmt" -> s.stmt, "name" -> s.name,
      "layer" -> s.layer, "start_ms" -> s.start, "end_ms" -> s.end, "attrs" -> s.attrs))
    Files.writeString(out.resolve(s"${a.workload}-seed${a.seed}-spans.json"),
      Json.render(extra ++ Map("spans" -> rows)) + "\n")
  }

  // ---- suite ------------------------------------------------------------------

  private def suiteSetup(a: Args, spark: SparkSession): (SparkSession, Seq[Double]) = {
    var s: SparkSession = null
    val setups = timeSetups(SuiteSetups)(_ => s = Suite.setup(spark, a.data.toString))
    (s, setups)
  }

  /** The warm pass: runs every query once, checking its row count and
    * content hash against the pinned values (or writing them with --pin).
    */
  private def warmAndCheck(a: Args, s: SparkSession, rec: Recorder, pins: Map[String, (Long, String)]): Unit = {
    val got = Suite.Queries.map { case (q, _) =>
      var h = (0L, "")
      rec.time("warm") {
        h = Suite.contentHash(Suite.build(s, a.data.toString, q))
        pins.get(q) match {
          case Some(p) if p == h => None
          case _ if a.pin.isDefined => None
          case other => Some(s"$q: rows/hash $h, pinned $other")
        }
      }
      q -> h
    }
    a.pin.foreach { p =>
      Files.writeString(p, got.map { case (q, (n, h)) => s"$q $n $h" }
        .mkString("# query rows hash (sum of row xxhash64)\n", "\n", "\n"))
    }
  }

  /** One query of a pass: its name, family, root span, rows out and
    * files pruned by skipping.
    */
  private final case class Ran(q: String, fam: String, root: Span, rows: Double, pruned: Double)

  /** One pass over the suite. The data and the query order are fixed, so
    * every pass of every run does the same work.
    */
  private def pass(a: Args, s: SparkSession, rec: Recorder, pins: Map[String, (Long, String)],
                   traced: Boolean): Seq[Ran] =
    Suite.Queries.flatMap { case (q, fam) =>
      val stmtId = Tracer.nextId()
      val rootId = Tracer.nextId()
      val pruned0 = pruned
      var n = 0L
      val t0 = Tracer.now
      val ok = rec.time(fam) {
        val df = Tracer.span(rootId, stmtId, "query.build", "engine.sql")(Suite.build(s, a.data.toString, q))
        n = Tracer.span(rootId, stmtId, "query.execute", "engine.drain")(df.queryExecution.toRdd.count())
        if (traced) PlanListener.record(df.queryExecution)
        pins.get(q) match {
          case Some((want, _)) if want != n => Some(s"$q: $n rows, pinned $want")
          case None if a.pin.isEmpty => Some(s"$q: no pinned output")
          case _ => None
        }
      }
      val root = Span(rootId, 0, stmtId, q, "statement", t0, Tracer.now)
      if (ok) Some(Ran(q, fam, root, n.toDouble, (pruned - pruned0).toDouble)) else None
    }

  private def suiteTimed(a: Args, spark: SparkSession): Result = {
    val pins = Suite.readPins(a.data.resolve("expected.txt"))
    val (s, setups) = suiteSetup(a, spark)
    val rec = new Recorder
    val w0 = System.nanoTime()
    warmAndCheck(a, s, rec, pins)
    (0 until SuiteWarmPasses).foreach(_ => pass(a, s, rec, pins, traced = false))
    val warm = (System.nanoTime() - w0) / 1e9
    var wall = 0.0
    var passes = 0
    val runs = mutable.ArrayBuffer.empty[Ran]
    while (passes == 0 || wall < a.seconds) {
      System.gc()
      val t0 = System.nanoTime()
      runs ++= pass(a, s, rec, pins, traced = false)
      wall += (System.nanoTime() - t0) / 1e9
      passes += 1
    }
    // each query's best pass, as graft.Bench reports it: a pass slowed by
    // the host (CPU steal, a neighbour's burst) does not set the figure
    val best = runs.groupBy(_.q).map { case (q, xs) => q -> xs.map(_.root.dur).min }
    val main = Suite.Queries.collect { case (q, "relational") if best.contains(q) => best(q) }
    val side = Suite.Queries.collect { case (q, f) if f != "relational" && best.contains(q) => best(q) }
    val suiteWall = best.values.sum / 1000
    Result(rec.failed == 0, rec.attempted, rec.failed,
      endToEnd(setups, best.size, suiteWall, (Stats.geomean(main), main.size), (Stats.geomean(side), side.size)),
      Map("passes" -> passes, "warm_s" -> warm, "setups_s" -> setups, "wall_s" -> wall,
        "suite_wall_s" -> suiteWall, "query_p50_ms" -> Stats.median(best.values.toSeq),
        "best_query_ms" -> best, "pass_ms" -> runs.groupBy(_.q).map { case (q, xs) => q -> xs.map(_.root.dur) },
        "failures" -> rec.failures.toSeq))
  }

  private def suiteTraced(a: Args, spark: SparkSession): Result = {
    val pins = Suite.readPins(a.data.resolve("expected.txt"))
    val (s, _) = suiteSetup(a, spark)
    val rec = new Recorder
    warmAndCheck(a, s, rec, pins)
    (0 until SuiteWarmPasses).foreach(_ => pass(a, s, rec, pins, traced = false))
    val listener = new JobListener
    // traced pass first, so warm-up left over inflates rather than hides
    // the tracing overhead
    Tracer.clear()
    spark.sparkContext.addSparkListener(listener)
    val traced = pass(a, s, rec, pins, traced = true)
    org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    val plain = pass(a, s, rec, pins, traced = false)
    val (bds, spans) = Attribution.attribute(traced.map(_.root))
    val layer = mutable.LinkedHashMap.empty[String, Double]
    val byFam = traced.zip(bds)
    Seq("main" -> ((f: String) => f == "relational"), "side" -> ((f: String) => f != "relational")).foreach {
      case (g, in) =>
        val xs = byFam.filter(x => in(x._1.fam))
        layer(s"$g.wall_ms") = p50(xs.map(_._1.root.dur))
        // no server on this path
        Seq("server.self_ms", "server.bytes_out", "server.packets").foreach(k => layer(s"$g.$k") = 0.0)
        breakdown(layer, g, xs.map(_._2), xs.map(_._1.rows), xs.map(_._1.root.dur), xs.map(_._1.pruned))
    }
    engineLayer(layer, mutable.Map.empty[String, Double].withDefaultValue(0.0), new Recorder)
    layer("trace.overhead_pct") = (traced.map(_.root.dur).sum / plain.map(_.root.dur).sum - 1) * 100
    Suite.Families.foreach(f => layer(s"queries.${f}_s") = traced.filter(_.fam == f).map(_.root.dur).sum / 1000)
    // q95: where its time goes, stage by stage
    val q95 = traced.find(_.q == "q95_exactsubstr").map(_.root.stmt)
    val q95Stages = spans.filter(x => q95.contains(x.stmt) && x.layer == "spark.sched.stage")
      .sortBy(-_.dur).map(x => Map("stage" -> x.name, "ms" -> x.dur, "shuffle_bytes" -> x.attrs.getOrElse("shuffle_bytes", 0.0),
        "tasks" -> x.attrs.getOrElse("tasks", 0.0)))
    q95Stages.take(8).foreach(m => println(s"# q95 stage: ${Json.render(m)}"))
    val residual = bds.map(b => math.abs(b.self.values.sum - b.wall)).maxOption.getOrElse(0.0)
    writeTrace(a, spans, Map("max_self_residual_ms" -> residual, "q95_stages" -> q95Stages))
    Result(rec.failed == 0, rec.attempted, rec.failed,
      layer.toSeq.map { case (k, v) => Metric(k, v, unitOf(k), traced.size) },
      Map("q95_stages" -> q95Stages, "max_self_residual_ms" -> residual, "failures" -> rec.failures.toSeq))
  }
}
