package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

import graftbench.WireClient.{Ok, Response, Rows}

/** One statement of a wire workload: its class, its SQL, a check of the
  * server's response against the shadow state, and the shadow update to
  * apply once the check passed.
  */
final case class Stmt(cls: String, sql: String, key: Long, check: Response => Option[String],
                      commit: () => Unit = () => ()) {
  def isWrite: Boolean = Wire.WriteClasses(cls)
}

/** The seeded statement stream of one connection, with its shadow copy.
  *
  * Read stream (`wire_read`): 90% point lookups on uniform keys over the
  * whole table, 10% one-month aggregates. Write stream (the commit
  * probe): 50% point lookups and 50% single-row writes (INSERT : UPDATE :
  * DELETE = 2 : 2 : 1), all inside the connection's own key range (keys ≡
  * conn mod conns, fresh INSERT keys above the loaded range), so the
  * shadow is exact.
  */
final class Stream(seed: Long, conn: Int, conns: Int, writes: Boolean) {
  private val rng = new SplittableRandom(Orders.mix(seed * 7919 + conn))
  private lazy val months = Orders.monthTotals(seed)
  // shadow of this connection's range: keys written so far and their rows
  private val live = mutable.ArrayBuffer.empty[Long]
  private val livePos = mutable.HashMap.empty[Long, Int]
  val written = mutable.HashMap.empty[Long, Orders.Row]
  val deleted = mutable.LinkedHashSet.empty[Long]
  val uncertain = mutable.HashSet.empty[Long]
  private var freshNo = 0L
  private var version = 0L

  if (writes) {
    var k = conn.toLong
    while (k < Orders.Rows) { addLive(k); k += conns }
  }

  private def addLive(k: Long): Unit = { livePos(k) = live.size; live += k }
  private def removeLive(k: Long): Unit = {
    val i = livePos.remove(k).get
    val last = live.remove(live.size - 1)
    if (last != k) { live(i) = last; livePos(last) = i }
  }

  private def expected(k: Long): Option[Orders.Row] =
    if (deleted(k)) None else Some(written.getOrElse(k, Orders.row(seed, k)))

  private def lookup(k: Long): Stmt = {
    val want = expected(k)
    Stmt("read", s"select * from orders where o_orderkey = $k", k, {
      case Rows(rs) if rs == want.map(_.text).toVector => None
      case other => Some(s"lookup $k: got ${show(other)}, want ${want.map(_.text)}")
    })
  }

  private def ok1(what: String): Response => Option[String] = {
    case Ok(1) => None
    case other => Some(s"$what: got ${show(other)}, want OK 1")
  }

  private def liveKey(): Long = {
    var k = live(rng.nextInt(live.size))
    while (uncertain(k)) k = live(rng.nextInt(live.size))
    k
  }

  private var sent = 0L

  def next(): Stmt = {
    sent += 1
    if (!writes) {
      // exactly one aggregate in ten, staggered across connections, so the
      // mix is the same for every seed
      if ((sent + 3 * conn) % 10 != 0) lookup(rng.nextLong(Orders.Rows.toLong))
      else {
        val i = rng.nextInt(Orders.Months.size)
        val (n, cents) = months(i)
        val want = Vector(Vector(n.toString, BigDecimal(cents, 2).bigDecimal.toPlainString))
        Stmt("agg", Orders.monthAggSql(Orders.Months(i)), -1, {
          case Rows(rs) if rs == want => None
          case other => Some(s"month ${Orders.Months(i)}: got ${show(other)}, want $want")
        })
      }
    } else if (rng.nextBoolean()) {
      val k =
        if (deleted.nonEmpty && rng.nextInt(5) == 0) deleted.iterator.drop(rng.nextInt(deleted.size)).next()
        else liveKey()
      lookup(k)
    } else {
      version += 1
      rng.nextInt(5) match {
        case 0 | 1 =>
          val k = Orders.Rows + freshNo * conns + conn
          freshNo += 1
          val r = Orders.row(seed, k, version)
          Stmt("insert", s"insert into orders values ${r.values}", k, ok1(s"insert $k"),
            () => { written(k) = r; addLive(k) })
        case 2 | 3 =>
          val k = liveKey()
          val r = Orders.row(seed, k, version)
          Stmt("update", s"update orders set o_totalprice = ${r.price}, o_comment = '${r.comment}' " +
            s"where o_orderkey = $k", k, ok1(s"update $k"),
            () => written(k) = expected(k).get.copy(cents = r.cents, comment = r.comment))
        case _ =>
          val k = liveKey()
          Stmt("delete", s"delete from orders where o_orderkey = $k", k, ok1(s"delete $k"),
            () => { removeLive(k); written.remove(k); deleted += k })
      }
    }
  }

  /** Marks a failed write's key as unknown, so no later check relies on it. */
  def forget(s: Stmt): Unit = uncertain += s.key

  /** Keys this connection touched, with the row each should now hold. */
  def touched: Seq[(Long, Option[Orders.Row])] =
    (written.keys ++ deleted).toSeq.filterNot(uncertain).map(k => k -> expected(k))

  private def show(r: Response): String = r match {
    case Rows(rs) => s"rows(${rs.take(3)}${if (rs.size > 3) "..." else ""})"
    case other => other.toString
  }
}

object Wire {
  val WriteClasses = Set("insert", "update", "delete")

  /** Runs one statement through `exec`, timing and checking it under
    * `cls`; the shadow is updated only after a passing check.
    */
  def step(rec: Recorder, stream: Stream, s: Stmt, cls: String = "")(exec: String => Response): Boolean = {
    val ok = rec.time(if (cls.isEmpty) s.cls else cls)(s.check(exec(s.sql)))
    if (ok) s.commit() else if (s.isWrite) stream.forget(s)
    ok
  }

  /** Statements each connection sends before timing starts: at least
    * `Warmup`, and for at least `WarmupSeconds` in the closed loop.
    */
  val Warmup = 6
  val WarmupSeconds = 6.0

  /** Session variables the commit probe's writing session sets: fold the
    * merge-on-read table's tombstones after every few UPDATEs and DELETEs,
    * so auto-compaction runs several times per probe.
    */
  val CompactionSettings: Seq[(String, String)] = Seq(
    "graft_auto_compact_min_tombstones" -> "4",
    "graft_auto_compact_ratio" -> "0")

  def prepare(c: WireClient): Unit = c.query("use bench") match {
    case Ok(_) => ()
    case other => throw new IllegalStateException(s"use bench: $other")
  }

  /** The closed loop: `conns` connections, each sending its next statement
    * when the previous one returned, until `seconds` have passed. Returns
    * the merged recorder and the measured wall in seconds.
    */
  def closedLoop(port: Int, seed: Long, conns: Int, seconds: Double): (Recorder, Double) = {
    val streams = (0 until conns).map(c => new Stream(seed, c, conns, writes = false))
    val recs = streams.map(_ => new Recorder)
    val ready = new java.util.concurrent.CyclicBarrier(conns + 1)
    @volatile var deadline = Long.MaxValue
    val crashed = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val threads = streams.indices.map { i =>
      val t = new Thread(() => try {
        var client: WireClient = null
        def connect(): Unit = {
          if (client != null) client.close()
          client = new WireClient(port); prepare(client)
        }
        // warm the connection's path (codegen, JIT) before the timed
        // window; warm-up failures still count as failures
        try {
          connect()
          val warmEnd = System.nanoTime() + (WarmupSeconds * 1e9).toLong
          var k = 0
          while (k < Warmup || System.nanoTime() < warmEnd) {
            if (!step(recs(i), streams(i), streams(i).next(), "warmup")(client.query)) connect()
            k += 1
          }
        } finally ready.await()
        while (System.nanoTime() < deadline) {
          // a failed exchange may leave the socket mid-response: reconnect
          if (!step(recs(i), streams(i), streams(i).next())(client.query)) connect()
        }
        client.close()
      } catch {
        // a fault of the benchmark itself, not a statement failure: the
        // run is invalid
        case e: Throwable => crashed.compareAndSet(null, e); ready.reset()
      }, s"perfbench-conn-$i")
      t.setDaemon(true)
      t.start(); t
    }
    ready.await()
    val start = System.nanoTime()
    deadline = start + (seconds * 1e9).toLong
    threads.foreach(_.join())
    Option(crashed.get).foreach(e => throw new IllegalStateException("client thread failed", e))
    val wall = (System.nanoTime() - start) / 1e9
    val all = new Recorder
    recs.foreach(all.merge)
    (all, wall)
  }

  /** On a server restarted over a written warehouse, every acknowledged
    * write must be readable and no deleted key may be. Each batch of keys
    * is one checked step of class "restart". Returns the keys checked.
    */
  def checkAfterRestart(c: WireClient, rec: Recorder, stream: Stream): Int = {
    val want = stream.touched.toMap
    want.keys.toSeq.sorted.grouped(400).foreach { ks =>
      rec.time("restart") {
        c.query(s"select * from orders where o_orderkey in (${ks.mkString(",")})") match {
          case Rows(rs) =>
            val got = rs.map(r => r.head.toLong -> r).toMap
            ks.collectFirst { case k if got.get(k) != want(k).map(_.text) =>
              s"key $k after restart: got ${got.get(k)}, want ${want(k).map(_.text)}" }
          case other => Some(s"restart read: $other")
        }
      }
    }
    want.size
  }
}
