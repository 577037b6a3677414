package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for all specs (one JVM-wide session; specs run in
  * a forked JVM per `Test / fork := true`).
  */
object SparkFixture {
  lazy val spark: SparkSession = {
    // SparkConf reads `spark.*` JVM properties: the specs' Spark-managed
    // tables land in a fresh directory, never in the checkout
    sys.props("spark.sql.warehouse.dir") =
      java.nio.file.Files.createTempDirectory("graft-spark-wh").toString
    LocalSpark.session(4)
  }
  val sfDir = "/root/testdata/sf0.001"
}
