package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.graft.SkippingFileIndex
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.GraftSession

/** The measurement harness: `LocalSpark`'s job meter, the source guard
  * that keeps one session factory and one listener, and Verify's
  * refusal to leave a stale output behind a failed query.
  */
class HarnessSpec extends AnyFunSuite {
  import SparkFixture._

  private lazy val meter = new LocalSpark.Meter(spark)
  private val zero = LocalSpark.Census(0, 0, 0, 0, 0, 0)

  private def shuffle1000(): Long =
    spark.range(0, 1000, 1, 4).repartition(3).queryExecution.toRdd.count()

  test("meter counts every shuffle-write record of the measured block") {
    val (rows, seconds, c) = meter.measure(shuffle1000())
    assert(rows == 1000L && seconds > 0)
    assert(c.shuffleRecords == 1000L && c.shuffleBytes > 0)
    assert(c.jobs >= 1 && c.stages >= 2 && c.tasks >= 4 + 3, c)
  }

  test("consecutive measures of one block report identical counters") {
    meter.measure(shuffle1000()) // warm plans and codegen first
    assert(meter.measure(shuffle1000())._3 == meter.measure(shuffle1000())._3)
  }

  test("a failing block propagates its exception; the next measure starts from zero") {
    val e = intercept[IllegalStateException](meter.measure {
      shuffle1000()
      throw new IllegalStateException("boom")
    })
    assert(e.getMessage == "boom")
    assert(meter.measure(42)._3 == zero)
  }

  test("files pruned equals the skipping index's own count for the scan") {
    val g = new GraftSession(spark, Files.createTempDirectory("graft-meter-wh").toString)
    g.sql("create schema meterdb"); g.sql("use meterdb")
    g.sql("create table t_sorted (id bigint, v char)")
    // residue order: every inserted file spans the whole id range until
    // OPTIMIZE SORT BY range-clusters it (as in DataSkippingSpec)
    g.sql("insert into t_sorted values " +
      (0 until 1000).sortBy(_ % 8).map(i => s"($i, 'x$i')").mkString(", "))
    g.catalog.sortTargetFileBytes = 4096L
    g.sql("optimize table t_sorted sort by (id)")
    val (df, _, c) = meter.measure {
      val df = g.sql("select * from t_sorted where id between 100 and 110")
      assert(df.queryExecution.toRdd.count() == 11L)
      df
    }
    val indexes = df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f.relation.location
    }.collect { case s: SkippingFileIndex => s }
    assert(indexes.nonEmpty)
    assert(c.filesPruned > 0 && c.filesPruned == indexes.map(_.lastPruned).sum, c)
  }

  test("a lookup or month range that differs only in its constant compiles nothing") {
    val g = new GraftSession(spark.newSession(),
      Files.createTempDirectory("graft-compiles-wh").toString)
    g.sql("create schema compdb"); g.sql("use compdb")
    g.sql("create table keyed (k bigint, d date, ts timestamp, p decimal(15,2), " +
      "primary key (k)) engine=sled")
    g.sql("insert into keyed values " + (0 until 400).map { i =>
      s"($i, date'1995-01-01' + $i, timestamp'1995-01-01 00:00:00' + interval $i day, $i.25)"
    }.mkString(", "))
    def lookup(k: Long) = g.sql(s"select * from keyed where k = $k")
    def month(m: Int) = g.sql("select count(*), sum(p) from keyed where " +
      f"d >= date'1995-$m%02d-01' and d < date'1995-${m + 1}%02d-01' " +
      f"and ts >= timestamp'1995-$m%02d-01 00:00:00'")
    def run(df: org.apache.spark.sql.DataFrame) = meter.measure(df.collect().toSeq)
    assert(run(lookup(7))._1.map(_.getLong(0)) == Seq(7L))
    val (rows, _, c) = run(lookup(311))
    assert(rows.map(_.getLong(0)) == Seq(311L))
    assert(c.compiles == 0L, c)
    assert(run(month(2))._1.head.getLong(0) == 28L)
    val (agg, _, cm) = run(month(3))
    assert(agg.head.getLong(0) == 31L)
    assert(cm.compiles == 0L, cm)
  }

  test("one session factory and one SparkListener across main and test sources") {
    def sources(root: String): Seq[Path] =
      scala.util.Using.resource(Files.walk(Paths.get(root)))(
        _.iterator.asScala.filter(_.toString.endsWith(".scala")).toList)
    def matching(root: String, re: String): Seq[String] =
      sources(root).filter(p => re.r.findFirstIn(Files.readString(p)).isDefined)
        .map(_.getFileName.toString)
    val builders = "SparkSession\\s*\\.\\s*builder"
    assert((matching("src/main/scala", builders) ++ matching("src/test/scala", builders))
      == Seq("LocalSpark.scala"))
    assert(matching("src/main/scala",
      "(?:extends|new)\\s+(?:org\\.apache\\.spark\\.scheduler\\.)?SparkListener\\b")
      == Seq("LocalSpark.scala"))
  }

  test("Verify leaves no output for a query that throws while it is built") {
    val out = Files.createTempDirectory("graft-verify-out")
    val stale = out.resolve("q_broken")
    spark.range(3).write.parquet(stale.toString) // an earlier run's output
    val failed = Verify.dump(spark, sfDir, out.toString, Seq(
      "q_broken" -> ((_, _) => throw new IllegalStateException("eager count failed")),
      "q_ok" -> ((s, _) => s.range(2).toDF())))
    assert(failed == Seq("q_broken"))
    assert(!Files.exists(stale))
    assert(spark.read.parquet(out.resolve("q_ok").toString).count() == 2L)
  }
}
