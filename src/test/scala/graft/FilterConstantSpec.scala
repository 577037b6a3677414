package graft

import java.nio.file.Files
import java.time.{Instant, LocalDate, LocalDateTime}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.ReferencedLiteral
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

/** Filter constants read from the generated code's references
  * (`ReferenceFilterLiterals`): filters return what Spark's interpreted
  * path returns, and two filters that differ only in a constant generate
  * the same source, which does not hold the constant.
  */
class FilterConstantSpec extends AnyFunSuite {
  import SparkFixture._

  /** A column of one covered type and the values its rows and the
    * filters' constants draw from: the type's extremes, both zeros,
    * NaN and infinities, and the dates and instants around the epoch.
    */
  private case class Typed(name: String, dt: DataType, values: Seq[Any])

  private val typed = Seq(
    Typed("b", BooleanType, Seq(true, false)),
    Typed("y", ByteType, Seq(Byte.MinValue, -1, 0, 7, Byte.MaxValue).map(_.toByte)),
    Typed("s", ShortType, Seq(Short.MinValue, -1, 0, 300, Short.MaxValue).map(_.toShort)),
    Typed("i", IntegerType, Seq(Int.MinValue, -1, 0, 42, Int.MaxValue)),
    Typed("l", LongType, Seq(Long.MinValue, -1L, 0L, 39415L, Long.MaxValue)),
    Typed("f", FloatType, Seq(Float.NaN, Float.NegativeInfinity, -0.0f, 0.0f, 1.5f,
      Float.MinPositiveValue, Float.MaxValue)),
    Typed("d", DoubleType, Seq(Double.NaN, Double.NegativeInfinity, -0.0, 0.0, 2.25,
      Double.MinPositiveValue, Double.PositiveInfinity)),
    Typed("dt", DateType, Seq(LocalDate.of(1, 1, 1), LocalDate.of(1969, 12, 31),
      LocalDate.EPOCH, LocalDate.of(1970, 1, 2), LocalDate.of(9999, 12, 31))),
    Typed("ts", TimestampType, Seq(Instant.parse("0001-01-01T00:00:00Z"),
      Instant.EPOCH.minusNanos(1000), Instant.EPOCH, Instant.EPOCH.plusNanos(1000),
      Instant.parse("9999-12-31T23:59:59.999999Z"))),
    Typed("tn", TimestampNTZType, Seq(LocalDateTime.of(1, 1, 1, 0, 0),
      LocalDateTime.of(1969, 12, 31, 23, 59, 59, 999999000), LocalDateTime.of(1970, 1, 1, 0, 0),
      LocalDateTime.of(1970, 1, 1, 0, 0, 0, 1000), LocalDateTime.of(9999, 12, 31, 23, 59, 59))))

  /** 120 rows; each cell is NULL one time in eight, else a value of its pool. */
  private lazy val table: String = {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 120).map { id =>
      Row(id +: typed.map(t =>
        if (rnd.nextInt(8) == 0) null else t.values(rnd.nextInt(t.values.size))): _*)
    }
    val schema =
      StructType(StructField("id", IntegerType) +: typed.map(t => StructField(t.name, t.dt)))
    val dir = Files.createTempDirectory("graft-filter-constants").resolve("t").toString
    spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(dir)
    dir
  }

  /** Spark's own interpreted path: no whole-stage code, no generated
    * predicates or projections.
    */
  private lazy val interpreted: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    s
  }

  private def ids(s: SparkSession, cond: Column): Seq[Int] =
    s.read.parquet(table).filter(cond).select("id").collect().map(_.getInt(0)).sorted.toSeq

  private def constant(t: Typed): Gen[Column] =
    Gen.frequency(9 -> Gen.oneOf(t.values).map(lit), 1 -> Gen.const(lit(null).cast(t.dt)))

  private val ops: Seq[(Column, Column) => Column] =
    Seq(_ === _, _ <=> _, _ < _, _ <= _, _ > _, _ >= _)

  private val atom: Gen[Column] = for {
    t <- Gen.oneOf(typed)
    c = col(t.name)
    k <- constant(t)
    k2 <- constant(t)
    litFirst <- Gen.oneOf(true, false)
    op <- Gen.oneOf(ops)
    between <- Gen.frequency(5 -> false, 1 -> true)
  } yield if (between) c.between(k, k2) else if (litFirst) op(k, c) else op(c, k)

  private def filter(depth: Int): Gen[Column] =
    if (depth == 0) atom
    else Gen.frequency(
      3 -> atom,
      1 -> filter(depth - 1).map(!_),
      2 -> Gen.zip(filter(depth - 1), filter(depth - 1)).map { case (a, b) => a && b },
      2 -> Gen.zip(filter(depth - 1), filter(depth - 1)).map { case (a, b) => a || b })

  private def referenced(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.collect { case f: FilterExec => f.condition }
      .exists(_.exists(_.isInstanceOf[ReferencedLiteral]))

  test("filters over every covered type return Spark's interpreted rows") {
    var cases, withRefs, selective = 0
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(120)
        .withInitialSeed(org.scalacheck.rng.Seed(20261019L)),
      Prop.forAllNoShrink(filter(2)) { cond =>
        val want = ids(interpreted, cond)
        val got = ids(spark, cond)
        cases += 1
        if (referenced(spark.read.parquet(table).filter(cond))) withRefs += 1
        if (want.nonEmpty && want.size < 120) selective += 1
        assert(got == want, cond.toString)
        true
      })
    assert(res.passed, res.status.toString)
    info(s"$cases filters: $withRefs with a referenced constant, $selective selective")
    // the property is not vacuous: most filters keep a referenced
    // constant in the executed plan, and many keep some rows but not all
    assert(withRefs > cases / 2 && selective > cases / 4, (cases, withRefs, selective))
  }

  test("two filters that differ only in a constant generate the same source") {
    def code(cond: Column): (Seq[String], String) = {
      val df = spark.read.parquet(table).filter(cond)
      assert(referenced(df), cond.toString)
      val seq = org.apache.spark.sql.execution.debug
        .codegenStringSeq(df.queryExecution.executedPlan)
      assert(seq.nonEmpty)
      (seq.map(_._2), df.queryExecution.executedPlan.toString)
    }
    // per type: two constants, and the texts each would inline or print
    val pairs: Seq[(String, Any, Any, Seq[String])] = Seq(
      ("b", true, false, Nil),
      // (a bare "113" is also a line number of the formatted code)
      ("y", 113.toByte, 114.toByte, Seq("(byte)113", "(byte)114")),
      ("s", 12345.toShort, 12346.toShort, Seq("12345", "12346")),
      ("i", 5550123, 5550124, Seq("5550123", "5550124")),
      ("l", 73402117L, 73402118L, Seq("73402117", "73402118")),
      ("f", 1234.5f, 2345.5f, Seq("1234.5", "2345.5")),
      ("d", 98765.25, 98765.5, Seq("98765.25", "98765.5")),
      ("dt", LocalDate.of(1995, 3, 1), LocalDate.of(1995, 4, 1),
        Seq("1995-03-01", "1995-04-01", "9190", "9221")),
      ("ts", Instant.parse("1995-03-01T00:00:00Z"), Instant.parse("1995-04-01T00:00:00Z"),
        Seq("1995-03-01", "1995-04-01", "794016000000000", "796694400000000")),
      ("tn", LocalDateTime.of(1995, 3, 1, 0, 0), LocalDateTime.of(1995, 4, 1, 0, 0),
        Seq("1995-03-01", "1995-04-01", "794016000000000", "796694400000000")))
    for ((c, k1, k2, texts) <- pairs) {
      // `<=`, not `=`: the optimizer rewrites `b = true` to `b`
      val cond: Any => Column = k => col(c) <= lit(k) || col("i") > lit(5550125)
      val (code1, plan1) = code(cond(k1))
      val (code2, _) = code(cond(k2))
      assert(code1 == code2, c)
      // the constant is in the plan text, as before, and not in the code
      assert(texts.take(1).forall(t => plan1.contains(t.stripPrefix("(byte)"))), plan1)
      for (s <- code1; x <- texts :+ "5550125") assert(!s.contains(x), s"$c: $x")
    }
  }
}
