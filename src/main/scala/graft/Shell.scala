package graft

import scala.io.StdIn

import graft.engine.GraftSession

/** Interactive SQL shell — the library equivalent of connecting a mysql
  * client to the reference server (/root/reference/src/mysql/mod.rs:1):
  * `;`-terminated statements against a GraftSession, results printed as
  * ASCII tables, testdata tables pre-registered as views.
  *
  * Usage: sbt "runMain graft.Shell [warehouseDir] [sfDir]"
  */
object Shell {
  def main(args: Array[String]): Unit = {
    val warehouse = if (args.length > 0) args(0) else "/tmp/graft-warehouse"
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = LocalSpark.session(LocalSpark.nproc)
    Tables.registerAll(spark, sfDir)
    val g = new GraftSession(spark, warehouse)
    println(s"graft shell — warehouse: $warehouse, testdata: $sfDir")
    println("Type SQL terminated by ';' — exit/quit to leave.")

    val buf = new StringBuilder
    var done = false
    while (!done) {
      print(if (buf.isEmpty) "graft> " else "    -> ")
      Console.flush()
      val line = StdIn.readLine()
      if (line == null) done = true
      else {
        buf.append(line).append('\n')
        val text = buf.toString.trim
        if (text.equalsIgnoreCase("exit") || text.equalsIgnoreCase("quit")) {
          done = true
        } else if (graft.engine.SqlText.endsStatement(text)) {
          buf.clear()
          // quote-aware split: ';' inside string literals is content
          graft.engine.SqlText.splitTopLevel(text, ';')
            .map(_.trim).filter(_.nonEmpty).foreach { stmt =>
            try {
              val t0 = System.nanoTime()
              val df = g.sql(stmt)
              df.show(200, truncate = false)
              println(f"(${(System.nanoTime() - t0) / 1e9}%.2f sec)")
            } catch {
              case e: Exception =>
                println(s"ERROR: ${Option(e.getMessage).getOrElse(e.toString).linesIterator.next()}")
            }
          }
        }
      }
    }
    spark.stop()
  }
}
