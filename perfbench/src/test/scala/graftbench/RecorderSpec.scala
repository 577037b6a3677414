package graftbench

import org.scalatest.funsuite.AnyFunSuite

import graftbench.WireClient.{Err, Ok, Rows}

/** Failures are counted against the attempts and never timed. */
class RecorderSpec extends AnyFunSuite {

  test("a throw is counted as a failure and leaves no latency sample") {
    val r = new Recorder
    assert(r.time("read")(None))
    assert(!r.time("read")(throw new java.net.SocketTimeoutException("injected")))
    assert(r.attempted("read") == 2 && r.failed("read") == 1)
    assert(r.of("read").size == 1)
    assert(r.failures.head.contains("SocketTimeoutException"))
  }

  test("a wrong result is counted as a failure and leaves no latency sample") {
    val r = new Recorder
    assert(!r.time("agg") { Thread.sleep(5); Some("hash mismatch") })
    assert(r.failed == 1 && r.attempted == 1 && r.completed == 0 && r.of("agg").isEmpty)
  }

  test("an ERR packet for a write fails the step, skips the shadow update and forgets the key") {
    val seed = 7L
    val stream = new Stream(seed, conn = 0, conns = 4, writes = true)
    val rec = new Recorder
    val writes = Iterator.continually(stream.next()).filter(_.isWrite).take(3).toSeq
    writes.foreach(s => assert(!Wire.step(rec, stream, s)(_ => Err(1205, "injected lock wait timeout"))))
    assert(rec.failed == 3 && rec.completed == 0)
    assert(Wire.WriteClasses.forall(c => rec.of(c).isEmpty))
    assert(stream.touched.isEmpty, "a failed write must not enter the shadow")
    assert(writes.forall(w => stream.uncertain(w.key)))
  }

  test("a lookup checks the row against the seeded generator") {
    val stream = new Stream(3L, conn = 1, conns = 4, writes = false)
    val s = Iterator.continually(stream.next()).find(_.cls == "read").get
    val right = Rows(Vector(Orders.row(3L, s.key).text))
    assert(s.check(right).isEmpty)
    assert(s.check(Rows(Vector.empty)).isDefined)
    assert(s.check(Ok(0)).isDefined)
  }

  test("quantiles, tails and the geometric mean") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.median(xs) == 50.5)
    assert(Stats.tail(xs, 0.99).isEmpty, "p99 needs ten samples beyond it")
    assert(Stats.tail(xs, 0.90).isDefined)
    assert(Stats.highestTail(xs).map(_._1).contains("p90"))
    assert(math.abs(Stats.geomean(Seq(100.0, 400.0)) - 200.0) < 1e-9)
  }

  test("self times of overlapping spans add up to the root's wall") {
    val self = Attribution.sweep(0, 100, Seq(
      ("engine.sql", 0.0, 60.0), ("spark.sched.job", 10.0, 50.0),
      ("spark.exec", 20.0, 30.0), ("spark.exec", 25.0, 40.0), ("engine.drain", 60.0, 90.0)))
    assert(math.abs(self.values.sum - 100) < 1e-9)
    assert(self("spark.exec") == 20 && self("spark.sched.job") == 20)
    assert(self("engine.sql") == 20 && self("engine.drain") == 30 && self("uncovered") == 10)
  }
}
