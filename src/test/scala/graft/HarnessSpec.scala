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
