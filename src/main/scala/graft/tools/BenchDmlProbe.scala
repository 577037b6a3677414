package graft.tools

import org.apache.spark.sql.functions._

/** Decade rehearsal of the UNIQUE/PK write-path probes (round 17,
  * verdict task 2): strict INSERT and REPLACE batches against an
  * sf10-sized keyed table, exercising all three probe branches —
  * the ≤256-key literal point-probe, the wire-sized broadcast
  * semi-join, and the gated (>10⁶ keys) fallback — with wall seconds
  * and shuffle bytes recorded per step. The evidence sought: the two
  * wire-sized branches never shuffle the table (shuffle bytes stay
  * ~KB against a multi-GB keyed table), and the gated branch completes
  * without a driver-side broadcast build.
  *
  * Usage: `sbt "runMain graft.tools.BenchDmlProbe [sfDir]"` (default
  * /tmp/scale/sf10; seeds the table from <sfDir>/orders.parquet).
  * Prints one JSON line; paste into BENCH_r17_adjudication.json.
  */
object BenchDmlProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/tmp/scale/sf10"
    val spark = graft.LocalSpark.session(graft.LocalSpark.cores(32))
    val meter = new graft.LocalSpark.Meter(spark)

    val wh = java.nio.file.Files.createTempDirectory("graft-dmlprobe-wh").toString
    val g = new graft.engine.GraftSession(spark, wh)
    g.sql("create schema probe"); g.sql("use probe")
    // the sf10-sized keyed table: orders pk'd by o_orderkey (unique by
    // construction). Plain pk parquet table ⇒ merge-on-read, the scale
    // shape. Seeded through catalog.append (the fixture load, not the
    // measured path).
    g.sql("create table kfact (k bigint primary key, v double, s varchar(2))")
    val src = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey").cast("bigint").as("k"),
        col("o_totalprice").cast("double").as("v"),
        substring(col("o_orderstatus"), 1, 2).as("s"))
    g.catalog.append("probe", "kfact", src)
    val n = g.catalog.read("probe", "kfact").count()
    val maxK = g.catalog.read("probe", "kfact").agg(max(col("k"))).head().getLong(0)
    System.err.println(s"[dmlprobe] seeded kfact rows=$n maxK=$maxK")

    val steps = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Long, Long)]
    def step(name: String, rows: Long)(f: => Unit): Unit = {
      val (_, wall, census) = meter.measure(f)
      steps += ((name, wall, census.shuffleBytes, rows))
      System.err.println(f"[dmlprobe] $name%-34s $wall%8.2f s  shuffle=${census.shuffleBytes}%12d B")
    }

    // 1. literal branch: ≤256 fresh single-column keys → isin point probe
    val lit3 = (1 to 3).map(i => s"(${maxK + i}, 1.0, 'x')").mkString(",")
    step("strict_insert_3_literal", 3) { g.sql(s"insert into kfact values $lit3") }
    // 2. wire-sized broadcast-semi branch: 500 keys (>256 ⇒ join probe,
    //    ≤ the gate ⇒ hinted broadcast; the table must NOT shuffle)
    val lit500 = (100 to 599).map(i => s"(${maxK + i * 1000}, 2.0, 'y')").mkString(",")
    step("strict_insert_500_bcast_semi", 500) { g.sql(s"insert into kfact values $lit500") }
    // 3. duplicate probe actually fires on the broadcast branch: one
    //    existing key inside a 300-row batch answers 1062, nothing lands
    val dupBatch = ((1 to 299).map(i => s"(${maxK + 700000 + i}, 3.0, 'z')") :+ s"(${maxK + 1}, 3.0, 'z')").mkString(",")
    step("strict_insert_dup_1062", 300) {
      try { g.sql(s"insert into kfact values $dupBatch"); sys.error("expected 1062") }
      catch { case e: graft.engine.SqlError if e.code == 1062 => () }
    }
    // 4. REPLACE wire-sized: tombstone + append on the MoR table; probe
    //    is a broadcast semi count — table never shuffles
    val rep300 = (1 to 300).map(i => s"(${maxK + i}, 9.0, 'r')").mkString(",")
    step("replace_300_bcast_semi", 300) { g.sql(s"replace into kfact values $rep300") }
    // 5. gated fallback: INSERT … SELECT a >10⁶-key fresh batch — the
    //    hint is dropped (no driver broadcast build); the probe runs as
    //    a shuffle semi join, the accepted trade at fact-sized batches
    g.sql("create table staging2m (k bigint primary key, v double, s varchar(2))")
    val fresh2m = spark.range(2000000)
      .select((col("id") + lit(maxK + 10000000L)).as("k"),
        lit(5.0).as("v"), lit("g").as("s"))
    g.catalog.append("probe", "staging2m", fresh2m)
    step("strict_insert_select_2m_gated", 2000000) {
      g.sql("insert into kfact select k, v, s from staging2m")
    }
    val fin = g.catalog.read("probe", "kfact").count()
    val json = steps.map { case (nm, w, b, r) =>
      f"""{"step":"$nm","rows":$r,"wall_s":$w%.3f,"shuffle_bytes":$b}"""
    }.mkString(
      s"""{"artifact":"dml_probe_decade","sf_dir":"$dir","table_rows_seeded":$n,"table_rows_final":$fin,"steps":[""",
      ",", "]}")
    println(json)
    spark.stop()
  }
}
