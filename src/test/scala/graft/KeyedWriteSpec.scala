package graft

import java.nio.file.Files

import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{GraftSession, SqlError}

/** INSERT, INSERT IGNORE and REPLACE against a reference model: MySQL's
  * row-at-a-time loop written in plain Scala, one row of the batch at a
  * time against the table as the earlier rows left it. graft resolves a
  * batch per key set instead, which agrees with that loop on every batch
  * in which no row's fate on one key set frees or takes another key
  * set's slot for a later row; the generator keeps to those batches
  * (`nonCascading`). Also the Spark job counts of the keyed writes.
  */
class KeyedWriteSpec extends AnyFunSuite {
  import SparkFixture._

  import KeyedWriteSpec._

  private val layouts = Seq(
    Layout("pk", "primary key (a)", Seq("PRIMARY" -> Seq(0))),
    Layout("pk_uq", "primary key (a), unique key ub (b)", Seq("PRIMARY" -> Seq(0), "ub" -> Seq(1))),
    Layout("uq", "unique key uab (a, b)", Seq("uab" -> Seq(0, 1))))

  /** Two rows collide on a key set when they agree on its columns; a
    * UNIQUE set exempts a row with a NULL in one of them.
    */
  private def collide(set: (String, Seq[Int]), x: Row3, y: Row3): Boolean =
    set._2.forall(i => x(i) == y(i)) &&
      (set._1 == "PRIMARY" || set._2.forall(i => x(i).nonEmpty))

  /** The generator's filter: a row is kept only if every earlier kept
    * row that it collides with on some key set holds the same values in
    * every key column. Rows that collide then collide on the same sets,
    * so no per-set decision can cascade into another set.
    */
  private def nonCascading(l: Layout, batch: List[Row3]): List[Row3] = {
    val keyCols = l.sets.flatMap(_._2).distinct
    batch.foldLeft(List.empty[Row3]) { (kept, r) =>
      if (kept.forall(k => !l.sets.exists(collide(_, k, r)) || keyCols.forall(i => k(i) == r(i))))
        kept :+ r
      else kept
    }
  }

  /** The row-at-a-time model: the statement's outcome (affected rows or
    * the error code) and the table after it.
    */
  private def model(l: Layout, table: Vector[Row3], verb: String,
                    batch: List[Row3]): (Either[Int, Long], Vector[Row3]) = {
    def conflicts(t: Vector[Row3], r: Row3): Vector[Row3] =
      t.filter(x => l.sets.exists(collide(_, x, r)))
    var t = table
    var affected = 0L
    for (r <- batch) verb match {
      case "insert" =>
        if (conflicts(t, r).nonEmpty) return (Left(1062), table)
        t :+= r; affected += 1
      case "insert ignore" =>
        if (conflicts(t, r).isEmpty) { t :+= r; affected += 1 }
      case "replace" =>
        val gone = conflicts(t, r)
        t = t.filterNot(gone.contains) :+ r
        affected += gone.size + 1
    }
    (Right(affected), t)
  }

  private def sqlRow(r: Row3): String =
    r.map(_.fold("NULL")(_.toString)).mkString("(", ", ", ")")

  private val key: Gen[Option[Int]] = Gen.choose(0, 3).map(Some(_))
  private val nullableKey: Gen[Option[Int]] =
    Gen.frequency(1 -> Gen.const(None), 4 -> key)
  private def row(l: Layout): Gen[Row3] =
    for (a <- if (l.pk) key else nullableKey; b <- nullableKey; v <- Gen.choose(0, 99))
      yield Vector(a, b, Some(v))
  private def statement(l: Layout): Gen[(String, List[Row3])] =
    for {
      verb <- Gen.frequency(2 -> "insert", 2 -> "insert ignore", 3 -> "replace")
      n <- Gen.choose(1, 4)
      rows <- Gen.listOfN(n, row(l))
    } yield verb -> nonCascading(l, rows)

  test("property: keyed INSERT, INSERT IGNORE and REPLACE match the row-at-a-time model") {
    val g = new GraftSession(spark.newSession(),
      Files.createTempDirectory("graft-wh-keyed").toString)
    g.sql("create schema keyed")
    g.sql("use keyed")
    // statements whose model run met a taken key: the property is not vacuous
    var collided = 0
    for (l <- layouts; engine <- Seq("sled", "parquet")) {
      val res = org.scalacheck.Test.check(
        org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(2)
          .withInitialSeed(org.scalacheck.rng.Seed(20261019L)),
        Prop.forAllNoShrink(Gen.listOfN(6, statement(l))) { script =>
          g.sql("drop table if exists k")
          g.sql(s"create table k (a int, b int, v int, ${l.keys}) engine=$engine")
          var table = Vector.empty[Row3]
          for (((verb, batch), i) <- script.zipWithIndex) {
            val stmt = s"$verb into k values ${batch.map(sqlRow).mkString(", ")}"
            val got = try Right(g.sql(stmt).collect().head.getLong(0))
                      catch { case e: SqlError => Left(e.code) }
            val (want, after) = model(l, table, verb, batch)
            if (want != Right(batch.size.toLong)) collided += 1
            table = after
            val at = s"${l.name} engine=$engine, statement ${i + 1}: $stmt"
            assert(got == want, s"outcome at $at")
            val contents = g.sql("select a, b, v from k").collect().toSeq
              .map(r => Vector(0, 1, 2).map(i => Option(r.get(i)).map(_.asInstanceOf[Int])))
            assert(contents.sortBy(_.toString) == table.sortBy(_.toString), s"contents at $at")
          }
          true
        })
      assert(res.passed, s"${l.name} engine=$engine: ${res.status}")
    }
    assert(collided >= 24, s"only $collided statements met a taken key")
  }

  test("keyed writes stay within their Spark job counts") {
    val g = new GraftSession(spark.newSession(),
      Files.createTempDirectory("graft-wh-jobs").toString)
    g.sql("create schema jobs")
    g.sql("use jobs")
    val meter = new LocalSpark.Meter(g.spark)
    /** Jobs of `stmt` on a fresh PK+UNIQUE table of `engine` holding
      * three rows; the second of two identical runs (the first warms
      * plans and generated code).
      */
    def jobs(engine: String, stmt: String): Long =
      (1 to 2).map { _ =>
        g.sql("drop table if exists t")
        g.sql(s"create table t (id int primary key, u int, v int, unique key uq_u (u)) engine=$engine")
        g.sql("insert into t values (1, 1, 1), (2, 2, 2), (3, 3, 3)")
        meter.measure(g.sql(stmt).collect())._3.jobs
      }.last
    val measured = for (engine <- Seq("sled", "parquet");
                        (what, stmt) <- Seq(
                          "insert" -> "insert into t values (10, 10, 10)",
                          "ignore" -> "insert ignore into t values (11, 11, 11)",
                          "replace" -> "replace into t values (1, 20, 20)"))
      yield s"$engine $what" -> jobs(engine, stmt)
    val big = (1 to 2).map { _ =>
      g.sql("drop table if exists big")
      g.sql("create table big (id bigint primary key, v bigint) engine=sled")
      meter.measure(g.sql("insert into big select id, id * 2 from range(150000)").collect())._3.jobs
    }.last
    assert(g.sql("select count(*) from big").collect().head.getLong(0) == 150000L)
    // ceilings: the counts of one separate write path per mode (strict
    // INSERT, INSERT IGNORE, REPLACE by pk or by several keys)
    val ceiling = Map("sled insert" -> 10, "sled ignore" -> 19, "sled replace" -> 17,
      "parquet insert" -> 12, "parquet ignore" -> 20, "parquet replace" -> 21,
      "sled insert select 150k" -> 9)
    for ((what, n) <- measured :+ ("sled insert select 150k" -> big))
      assert(n <= ceiling(what), s"$what ran $n jobs, more than ${ceiling(what)}")
  }
}

object KeyedWriteSpec {
  private type Row3 = Vector[Option[Int]] // (a, b, v)

  /** One table layout: its key clauses and its key sets as column
    * positions, PRIMARY first.
    */
  private final case class Layout(name: String, keys: String, sets: Seq[(String, Seq[Int])]) {
    def pk: Boolean = sets.exists(_._1 == "PRIMARY")
  }
}
