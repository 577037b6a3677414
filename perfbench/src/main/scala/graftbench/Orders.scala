package graftbench

import java.time.LocalDate

/** The wire workloads' table: an sf0.1-sized `orders` (150,000 rows,
  * dense keys 0-149,999) whose every column is a pure function of the
  * workload seed and the key. The benchmark therefore knows each row
  * without storing it, and its shadow copy of a connection's key range
  * is just the rows that connection has written.
  */
object Orders {
  val Rows = 150000
  val FirstDay: Long = LocalDate.of(1992, 1, 1).toEpochDay
  val Days = 2405 // 1992-01-01 .. 1998-08-02, TPC-H's order-date range
  private val Statuses = Array("F", "O", "P")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Words = Array("furiously", "carefully", "quickly", "blithely", "slyly",
    "final", "regular", "express", "pending", "ironic", "deposits", "requests",
    "accounts", "packages", "theodolites", "foxes", "pinto", "beans")

  /** The table's DDL on a storage engine: `sled` for the wire workloads,
    * `parquet` (merge-on-read for a PRIMARY KEY table) for the commit probe.
    */
  def ddl(engine: String): String =
    "create table orders (o_orderkey bigint, o_custkey bigint, o_orderstatus varchar(1), " +
      "o_totalprice decimal(15,2), o_orderdate date, o_orderpriority varchar(15), " +
      "o_clerk varchar(15), o_shippriority int, o_comment varchar(79), " +
      s"PRIMARY KEY(o_orderkey)) engine=$engine"

  /** One row; `cents` is o_totalprice × 100 and `day` is o_orderdate as an
    * epoch day. `text` is the row as the wire server renders it.
    */
  final case class Row(key: Long, custkey: Long, status: String, cents: Long, day: Long,
                       priority: String, clerk: String, shippriority: Int, comment: String) {
    def price: String = BigDecimal(cents, 2).bigDecimal.toPlainString
    def date: String = LocalDate.ofEpochDay(day).toString
    def text: Vector[String] = Vector(key.toString, custkey.toString, status, price, date,
      priority, clerk, shippriority.toString, comment)
    def values: String =
      s"($key, $custkey, '$status', $price, '$date', '$priority', '$clerk', $shippriority, '$comment')"
    /** Bytes of the row's values as text: the base of write amplification. */
    def userBytes: Long = text.map(_.length.toLong).sum
  }

  /** splitmix64: a stateless, well-mixed hash for deterministic columns. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def pick(h: Long, n: Int): Int = java.lang.Long.remainderUnsigned(h, n.toLong).toInt

  /** The row for `key` at `version` (0 = as loaded; writes use later versions). */
  def row(seed: Long, key: Long, version: Long = 0): Row = {
    val h = mix(mix(seed * 31 + version) ^ key)
    val h2 = mix(h)
    val comment = (0 until 3).map(i => Words(pick(mix(h2 + i), Words.length))).mkString(" ")
    Row(key,
      custkey = 1 + pick(h, 15000),
      status = Statuses(pick(h >>> 7, 3)),
      cents = 100000 + pick(h2, 50000000),
      day = FirstDay + pick(h >>> 17, Days),
      priority = Priorities(pick(h >>> 29, 5)),
      clerk = f"Clerk#${1 + pick(h >>> 37, 1000)}%09d",
      shippriority = 0,
      comment = if (version == 0) comment else s"v$version $comment")
  }

  /** First day of each month in the table's date range. */
  val Months: IndexedSeq[LocalDate] = {
    val first = LocalDate.ofEpochDay(FirstDay)
    val last = LocalDate.ofEpochDay(FirstDay + Days - 1)
    Iterator.iterate(first)(_.plusMonths(1)).takeWhile(!_.isAfter(last)).toIndexedSeq
  }

  def monthAggSql(m: LocalDate): String =
    s"select count(*), sum(o_totalprice) from orders where o_orderdate >= date'$m' " +
      s"and o_orderdate < date'${m.plusMonths(1)}'"

  /** (count, sum of cents) per month index over the rows as loaded. */
  def monthTotals(seed: Long): Array[(Long, Long)] = {
    val acc = Array.fill(Months.size)((0L, 0L))
    var k = 0L
    while (k < Rows) {
      val r = row(seed, k)
      val d = LocalDate.ofEpochDay(r.day)
      val i = (d.getYear - 1992) * 12 + d.getMonthValue - 1
      acc(i) = (acc(i)._1 + 1, acc(i)._2 + r.cents)
      k += 1
    }
    acc
  }
}
