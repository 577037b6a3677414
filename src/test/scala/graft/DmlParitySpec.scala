package graft

import java.nio.file.Files

import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{GraftSession, SqlError}

/** Row-level writes land through one commit, which picks tombstones
  * (merge-on-read) or a rewrite (copy-on-write) by the table's layout.
  * The choice must never show: the same random DML script run on a
  * merge-on-read table (`engine=parquet`, PRIMARY KEY) and on its
  * copy-on-write twin (`engine=sled`, same columns and keys) gives the
  * same affected counts, the same error codes and the same contents
  * after every statement.
  */
class DmlParitySpec extends AnyFunSuite {
  import SparkFixture._

  private val small: Gen[String] =
    Gen.frequency(1 -> Gen.const("NULL"), 4 -> Gen.choose(0, 3).map(_.toString))
  private val row: Gen[String] =
    for (id <- Gen.choose(1, 6); u <- small; v <- small) yield s"($id, $u, $v)"
  private val rows: Gen[String] =
    Gen.choose(1, 3).flatMap(Gen.listOfN(_, row)).map(_.mkString(", "))
  private val pred: Gen[String] = Gen.oneOf(
    small.map(k => s"v = $k"),
    small.map(k => s"u = $k"),
    small.map(k => s"not (v = $k)"),
    small.map(k => s"v > $k or u < $k"),
    Gen.choose(1, 6).map(k => s"id <= $k"),
    Gen.const("v is null"))
  /** One statement, with `%t` standing for the table name. */
  private val statement: Gen[String] = Gen.frequency(
    3 -> rows.map(r => s"insert into %t values $r"),
    2 -> rows.map(r => s"insert ignore into %t values $r"),
    3 -> rows.map(r => s"replace into %t values $r"),
    3 -> (for (k <- small; p <- pred) yield s"update %t set v = $k where $p"),
    1 -> (for (k <- small; p <- pred) yield s"update %t set u = $k where $p"),
    1 -> pred.map(p => s"update %t set id = id + 3 where $p"),
    1 -> small.map(k => s"update %t set v = coalesce(v, 0) + 1, u = $k"),
    4 -> pred.map(p => s"delete from %t where $p"),
    1 -> Gen.const("truncate table %t"))
  private val script: Gen[List[String]] =
    Gen.choose(4, 9).flatMap(Gen.listOfN(_, statement))

  test("property: merge-on-read and copy-on-write tables agree statement by statement") {
    val g = new GraftSession(spark.newSession(),
      Files.createTempDirectory("graft-wh-parity").toString)
    g.sql("create schema parity")
    g.sql("use parity")
    val tables = Seq("mor" -> "parquet", "cow" -> "sled")
    def outcome(stmt: String): Either[Int, Long] =
      try Right(g.sql(stmt).collect().head.getLong(0))
      catch { case e: SqlError => Left(e.code) }
    def contents(t: String): Seq[String] =
      g.sql(s"select id, u, v from $t order by id").collect().toSeq.map(_.mkString(","))
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(6)
        .withInitialSeed(org.scalacheck.rng.Seed(20261018L)),
      Prop.forAllNoShrink(script) { stmts =>
        for ((t, engine) <- tables) {
          g.sql(s"drop table if exists $t")
          g.sql(s"create table $t (id int primary key, u int, v int, " +
            s"unique key uq_u (u)) engine=$engine")
          g.sql(s"insert into $t values (1, 1, NULL), (2, NULL, 1), (3, 2, 2)")
        }
        assert(g.catalog.meta("parity", "mor").mergeOnRead)
        assert(!g.catalog.meta("parity", "cow").mergeOnRead)
        for ((stmt, i) <- stmts.zipWithIndex) {
          val Seq((mor, morRows), (cow, cowRows)) = tables.map { case (t, _) =>
            (outcome(stmt.replace("%t", t)), contents(t))
          }
          val at = s"statement ${i + 1} of ${stmts.mkString("; ")}"
          assert(mor == cow, s"outcome differs at $at")
          assert(morRows == cowRows, s"contents differ at $at")
        }
        true
      })
    assert(res.passed, res.status.toString)
  }
}
