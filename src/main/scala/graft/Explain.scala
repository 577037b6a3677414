package graft

/** Plan-inspection helper: `runMain graft.Explain <q1[,q2,...]> [sfDir]
  * [--run]` prints each named query's formatted physical plan — the
  * per-operator audit loop (pushdown? broadcast? codegen?) described in
  * SURVEY.md §5. A list prints one `== <name> ==` header per query and
  * plans them all in one JVM.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = LocalSpark.session(4)
    for (name <- names) {
      if (names.length > 1) println(s"== $name ==")
      val df = SparkEntry.queries(name)(spark, dir)
      df.explain("formatted")
      if (args.contains("--run")) {
        // AQE finalizes exchange reuse only at runtime: the initial plan
        // above can show N identical subtrees that execute once. Run the
        // query, then print the FINAL adaptive plan — the one to audit.
        // toRdd.count(): execute distributed, rows stay at the executors —
        // same honest-action discipline as Bench.scala (no driver collect)
        val n = df.queryExecution.toRdd.count()
        println(s"rows=$n")
        println("== Final (post-AQE) Plan ==")
        println(df.queryExecution.executedPlan.toString)
      }
    }
    spark.stop()
  }
}
