package graft

import java.nio.file.{Files, Paths}

/** E9 data-skipping scale evidence (dev tool, like Explain/PlanAudit):
  * loads `SPARK_GRAFT_SF_DIR`'s lineitem into a managed table,
  * OPTIMIZE ... SORT BY (l_shipdate), then times a narrow ship-date
  * range aggregation twice — sidecar present (files pruned at planning)
  * vs sidecar removed (every file scheduled; parquet still row-group
  * prunes inside tasks, so the delta isolates exactly what FILE-level
  * skipping buys). Prints one JSON line with numFiles and walls.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/tmp/scale/sf10 sbt "runMain graft.SkipBench"
  */
object SkipBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSpark.session(LocalSpark.cores(LocalSpark.nproc))
    val meter = new LocalSpark.Meter(spark)
    val wh = Files.createTempDirectory("graft-skipbench").toString
    val g = new engine.GraftSession(spark, wh)
    g.sql("create schema sb"); g.sql("use sb")
    g.sql("create table li (l_orderkey bigint, l_shipdate date, l_quantity double)")
    Tables.t(spark, sfDir, "lineitem")
      .selectExpr("l_orderkey", "l_shipdate", "l_quantity")
      .createOrReplaceTempView("src_li")
    g.sql("insert into li select * from src_li")
    // 16 MB targets cut sf10's 60M-row table into enough range files
    // for the pruning ratio to be visible at this scale
    g.catalog.sortTargetFileBytes = 16L * 1024 * 1024
    g.sql("optimize table li sort by (l_shipdate)")
    val dir = Paths.get(g.catalog.dataPath("sb", "li"))
    val total = sources.FileSkipStats.readAll(dir).size

    // one month out of the ~7-year shipdate domain (1995-01..2001-11)
    val q = "select sum(l_quantity) as s, count(*) as c from li " +
      "where l_shipdate between date '1998-06-01' and date '1998-06-30'"
    var matched = 0L
    def time(): Double = {
      val (rows, seconds, _) = meter.measure(g.sql(q).collect())
      matched = rows(0).getLong(1)
      seconds
    }
    def best(): Double = { time(); math.min(time(), time()) }
    def prunedBy(sql: String): Long =
      meter.measure(g.sql(sql).collect())._3.filesPruned
    val withSkip = best()
    val pruned = prunedBy(q)
    val side = dir.resolve(sources.FileSkipStats.SidecarName)
    val saved = Files.readAllBytes(side)
    Files.delete(side) // no sidecar -> every file scheduled
    val noSkip = best()
    Files.write(side, saved)

    // layout contrast: an orderkey probe under the date-sorted layout
    // (trailing dimension - cannot prune) vs ZORDER BY (date, okey)
    // (both dimensions prune). Window = a ~2% okey band mid-domain.
    val mm = g.sql(
      "select min(l_orderkey) as lo, max(l_orderkey) as hi from li")
      .collect()(0)
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val a = lo + (hi - lo) * 40 / 100
    val b = a + (hi - lo) * 2 / 100
    val okeyQ = s"select count(*) as c from li where l_orderkey between $a and $b"
    val sortOkey = prunedBy(okeyQ)

    // bloom contrast (round 15): an EXACT point probe on the unclustered
    // okey. Min/max keeps every file (each file's okey range spans the
    // probe — the r14 artifact's okey:0 row), the `_graft_bloom` sidecar
    // prunes. TPC-H orderkeys are sparse, so an in-range ABSENT value
    // exists near any point; verify absence honestly, then probe one
    // absent and one present value.
    // widen the search window until a genuinely absent key exists — a
    // fallback that probes a PRESENT value would quietly corrupt the
    // artifact's `absent` row. TPC-H keys are ~75% sparse, so the first
    // window virtually always has one; the loop is the honesty guard.
    val absentK = Iterator.iterate(200L)(_ * 4).map { w =>
      val taken = g.sql("select distinct l_orderkey as k from li " +
          s"where l_orderkey between ${a + 1} and ${a + w}")
        .collect().map(_.getLong(0)).toSet
      ((a + 1) to (a + w)).find(v => !taken.contains(v))
    }.take(6).collectFirst { case Some(v) => v }
      .getOrElse(sys.error(
        "skipbench: no absent orderkey within 204800 of the probe base; " +
          "refusing to mislabel a present-key probe as `absent`"))
    val presentK = g.sql(
      s"select min(l_orderkey) as k from li where l_orderkey >= $a")
      .collect()(0).getLong(0)
    val bloomAbsent = prunedBy(
      s"select count(*) as c from li where l_orderkey = $absentK")
    val bloomPresent = prunedBy(
      s"select count(*) as c from li where l_orderkey = $presentK")

    g.sql("optimize table li zorder by (l_shipdate, l_orderkey)")
    val zTotal = sources.FileSkipStats.readAll(dir).size
    val zDate = prunedBy(q)
    val zOkey = prunedBy(okeyQ)

    println(s"""{"metric":"skipbench","sf":"$sfDir","files":$total,""" +
      s""""files_pruned_per_run":$pruned,"rows_matched":$matched,""" +
      s""""wall_with_skip_s":${f"$withSkip%.3f"},""" +
      s""""wall_no_skip_s":${f"$noSkip%.3f"},""" +
      s""""sortby_pruned":{"date":$pruned,"okey":$sortOkey},""" +
      s""""bloom_point_pruned":{"absent":$bloomAbsent,"present":$bloomPresent},""" +
      s""""zorder_files":$zTotal,""" +
      s""""zorder_pruned":{"date":$zDate,"okey":$zOkey}}""")
    spark.stop()
  }
}
