package graftbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.engine.GraftSession
import graft.server.MysqlServer

/** One engine configuration for every workload: `local[nproc]` with the
  * Spark settings `graft.Bench` uses for the query suite, plus graft's
  * session extensions, which the wire server needs.
  */
object Engine {
  val nproc: Int = Runtime.getRuntime.availableProcessors

  def conf(work: Path, traced: Boolean): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$nproc]",
    "spark.app.name" -> "graft-perfbench",
    "spark.sql.shuffle.partitions" -> nproc.toString,
    "spark.sql.files.maxPartitionBytes" -> (16 * 1024 * 1024).toString,
    "spark.rdd.compress" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.local.dir" -> work.resolve("spark-local").toString,
    "spark.sql.warehouse.dir" -> work.resolve("spark-warehouse").toString
  ) ++ (if (traced) Seq("spark.sql.queryExecutionListeners" -> classOf[PlanListener].getName)
        else Nil)

  def spark(work: Path, traced: Boolean): SparkSession = {
    val b = SparkSession.builder()
    conf(work, traced).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val ordersSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DecimalType(15, 2)),
    StructField("o_orderdate", DateType), StructField("o_orderpriority", StringType),
    StructField("o_clerk", StringType), StructField("o_shippriority", IntegerType),
    StructField("o_comment", StringType)))

  /** Creates a fresh warehouse holding the seeded `bench.orders` table. */
  def loadOrders(spark: SparkSession, warehouse: Path, seed: Long, engine: String = "sled"): Unit = {
    Files.createDirectories(warehouse)
    val g = new GraftSession(spark.newSession(), warehouse.toString)
    g.sql("create database bench")
    g.sql("use bench")
    g.sql(Orders.ddl(engine))
    val rows = spark.sparkContext.parallelize(0L until Orders.Rows.toLong, nproc).map { k =>
      val r = Orders.row(seed, k)
      Row(r.key, r.custkey, r.status, java.math.BigDecimal.valueOf(r.cents, 2),
        java.time.LocalDate.ofEpochDay(r.day), r.priority, r.clerk, r.shippriority, r.comment)
    }
    g.spark.createDataFrame(rows, ordersSchema).createOrReplaceTempView("orders_src")
    g.sql("insert into orders select * from orders_src")
  }

  def startServer(spark: SparkSession, warehouse: Path): MysqlServer =
    new MysqlServer(spark, warehouse.toString, port = 0, bindHost = Some("127.0.0.1")).start()

  /** Peak resident set of this JVM, in MB (VmHWM). */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  /** Every regular file under a directory, with its size. */
  def files(p: Path): Set[(String, Long)] =
    if (!Files.exists(p)) Set.empty
    else {
      val s = Files.walk(p)
      try {
        val out = Set.newBuilder[(String, Long)]
        s.filter(Files.isRegularFile(_)).forEach(f => out += (f.toString -> Files.size(f)))
        out.result()
      } finally s.close()
    }
}
