package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables.t
import Q._

/** One query definition: the Spark-side plan builder plus (optionally)
  * the DuckDB oracle SQL the driver replays on the same parquet.
  */
final case class Qdef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Relational operator suite (SURVEY.md §2.A) — the DataFusion-equivalent
  * core of the reference (select/filter/aggregate/join/sort/window/…,
  * /root/reference/src/execute_impl/select.rs:1), re-expressed with the
  * Spark DataFrame API so Catalyst plans it (pushdown, broadcast, AQE).
  *
  * Determinism contract (driver hash-compares vs DuckDB): every query is
  * fully ORDER BY'd with tie-breaks, every computed column is aliased
  * identically on both sides, double aggregates go through Q.dsum/davg.
  */
object Relational {

  // ---- A4/A5/A6: TPC-H Q1-style pricing summary (flagship) -------------
  private val q01 = Qdef(
    "q01_pricing_summary",
    (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some(s"""SELECT l_returnflag, l_linestatus,
      ${sqlDsum("l_quantity")} AS sum_qty,
      ${sqlDsum("l_extendedprice")} AS sum_base_price,
      ${sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
      ${sqlDavg("l_quantity")} AS avg_qty,
      ${sqlDavg("l_discount")} AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus"""))

  // ---- A2: projection / expression evaluation --------------------------
  private val q02 = Qdef(
    "q02_projection",
    (s, dir) =>
      t(s, dir, "part")
        .select(
          col("p_partkey"),
          upper(col("p_brand")).as("brand_uc"),
          (col("p_retailprice") * lit(1.1)).cast(D).cast("double").as("marked_up"),
          (col("p_size") + lit(10)).as("size_plus"),
          col("p_type").contains("BRASS").as("is_brass"))
        .orderBy(col("p_partkey")),
    Some("""SELECT p_partkey, UPPER(p_brand) AS brand_uc,
      CAST(CAST(p_retailprice * 1.1 AS DECIMAL(18,6)) AS DOUBLE) AS marked_up,
      p_size + 10 AS size_plus,
      contains(p_type, 'BRASS') AS is_brass
    FROM part ORDER BY p_partkey"""))

  // ---- A3: filter forms (comparison, BETWEEN, IN, LIKE, bool ops) ------
  private val q03 = Qdef(
    "q03_filter",
    (s, dir) =>
      t(s, dir, "lineitem")
        .filter(
          col("l_quantity").between(10, 20) &&
          col("l_returnflag").isin("A", "R") &&
          col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          (col("l_linestatus").like("F%") || col("l_discount") < 0.02) &&
          !col("l_tax").isNull)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_discount"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
    Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_discount
    FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 20
      AND l_returnflag IN ('A','R')
      AND l_shipdate >= TIMESTAMP '1995-01-01'
      AND (l_linestatus LIKE 'F%' OR l_discount < 0.02)
      AND l_tax IS NOT NULL
    ORDER BY l_orderkey, l_linenumber"""))

  // ---- A4: count(distinct) --------------------------------------------
  private val q04 = Qdef(
    "q04_agg_distinct",
    (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          countDistinct(col("o_custkey")).as("n_customers"),
          count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderstatus")),
    Some(s"""SELECT o_orderstatus,
      COUNT(DISTINCT o_custkey) AS n_customers,
      COUNT(*) AS n_orders,
      ${sqlDsum("o_totalprice")} AS sum_price
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  // ---- A4b: statistical aggregates (rounded: accumulation noise) -------
  private val q05 = Qdef(
    "q05_stats_agg",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          round(var_samp(col("l_quantity")), 4).as("var_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
          // `+ 0.0` normalizes IEEE signed zero: Spark rounds to -0.0 where
          // DuckDB lands on +0.0 — equal by ==, different bit patterns, so the
          // driver's hash compare fails without it. -0.0 + 0.0 == +0.0.
          (round(covar_pop(col("l_discount"), col("l_tax")), 6) + lit(0.0)).as("covar_disc_tax"))
        .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag,
      ROUND(STDDEV_SAMP(l_quantity), 4) AS sd_qty,
      ROUND(VAR_SAMP(l_quantity), 4) AS var_qty,
      ROUND(CORR(l_quantity, l_extendedprice), 4) AS corr_qty_price,
      ROUND(COVAR_POP(l_discount, l_tax), 6) + 0.0 AS covar_disc_tax
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  // ---- A4c: exact percentiles (continuous interpolation) ---------------
  private val q06 = Qdef(
    "q06_percentiles",
    (s, dir) => {
      // exact percentile from a VALUE HISTOGRAM, not from raw rows:
      // groupBy (flag, price) count is map-side combinable (one shuffle
      // of ≤ distinct-values rows), the rank math then runs on a
      // cumulative-count window over DISTINCT values per flag. Two
      // rejected forms, both measured: Spark's percentile() aggregate
      // carries an OpenHashMap over distinct values as partial state
      // (no map-side reduction into the shuffle, boxed merges — 1.6 s
      // at sf0.1); a row_number window over RAW rows puts every row of
      // a group through one reducer's sort — fine at sf0.1 (0.6 s),
      // 100.3 s at sf10 (60M rows, 3 flags — the same-day scale
      // rehearsal caught it before it shipped). The histogram form is
      // the classic scalable exact percentile: per-reducer work is
      // O(distinct values), not O(rows). Interpolation is DuckDB's own
      // a+(b-a)·f; the exact per-group percentile remains inherently
      // group-parallel — the corpus-scale answer is the approx face
      // (q06b/q06c sketches).
      import org.apache.spark.sql.expressions.Window
      val wS = Window.partitionBy(col("l_returnflag")).orderBy(col("l_extendedprice"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // same partition AND order spec as wS with the full-partition
      // frame: Spark groups window expressions by (partition, order)
      // into one WindowExec, so cum and n compute in a single pass over
      // one sort — the unordered form planned a second WindowExec (an
      // extra buffered pass over every histogram row). Identical value:
      // sum(cnt) over the whole partition is order-independent.
      val wAll = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("l_extendedprice"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      // Anchor rank DELIBERATELY in double — floor((n-1)*p) with p the
      // same double literal DuckDB's QUANTILE_CONT uses — NOT in exact
      // integer math (floor((n-1)*9/10) via BIGINTs). Both engines
      // perform the identical IEEE multiply of identical operands, so
      // the rounding (including any cross of an integer boundary, e.g.
      // double(0.9) > 9/10 can push (n-1)*p just above an integer the
      // exact product sits below) agrees bit-for-bit; exact integer
      // anchors would DISAGREE with DuckDB at exactly those boundaries.
      // Preconditions, both held at any realistic scale: n-1 exactly
      // representable (n < 2^53), and DuckDB computing its index as
      // (n-1)*q in double (quantile.cpp's RN = (n-1)*q).
      def anchor(p: Double) = floor((col("n") - 1) * p) + 1
      def frac(p: Double) = (col("n") - 1) * p - floor((col("n") - 1) * p)
      // rank k lives in this histogram row iff cum-cnt < k <= cum
      def has(k: org.apache.spark.sql.Column) =
        (col("cum") - col("cnt") < k) && (k <= col("cum"))
      def interp(p: Double) = {
        val lo = max(when(has(anchor(p)), col("l_extendedprice")))
        val hi = max(when(has(anchor(p) + 1), col("l_extendedprice")))
        lo + (coalesce(hi, lo) - lo) * first(frac(p))
      }
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_extendedprice"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(wS))
        .withColumn("n", sum(col("cnt")).over(wAll))
        .filter(has(anchor(0.5)) || has(anchor(0.5) + 1) ||
          has(anchor(0.9)) || has(anchor(0.9) + 1))
        .groupBy(col("l_returnflag"))
        .agg(round(interp(0.5), 4).as("p50_price"),
          round(interp(0.9), 4).as("p90_price"))
        .orderBy(col("l_returnflag"))
    },
    Some("""SELECT l_returnflag,
      ROUND(QUANTILE_CONT(l_extendedprice, 0.5), 4) AS p50_price,
      ROUND(QUANTILE_CONT(l_extendedprice, 0.9), 4) AS p90_price
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  // ---- A4c: approximate distinct (HLL) — replay-oracled (round 14) ------
  // Spark's native HLL++ sketch hashes with xxhash64 and folds register
  // banks no SQL dialect exposes — impossible to replay IN SQL. The
  // oracle is therefore data-dependent: Verify runs the same column
  // through an independent plain-Scala HLL++ (functions/HllReplay.scala
  // — the published algorithm, never Spark's classes) and emits the
  // estimates as literal SQL (SparkEntry.dynamicOracleSql), so the
  // DuckDB hash compare certifies approx_count_distinct against the
  // paper. The static oracle stays None; q06c remains the
  // SQL-replayable approximate-distinct twin.
  private val q06b = Qdef(
    "q06b_approx_distinct",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_orderkey")).as("approx_orders"))
        .orderBy(col("l_returnflag")),
    None)

  // ---- A4c: approximate distinct via KMV — fully oracled ----------------
  // The oracle-able approximate-distinct: a k-minimum-values sketch over
  // 48-bit md5-prefix hashes (GraftFunctions.kmvDistinct). Bounded k-entry
  // buffers with map-side partials (never a per-group value set), and the
  // whole estimator — hash, k-th minimum, (k-1)*2^48/h_k — replays
  // bit-for-bit in DuckDB. Companion exact count pins the estimate's
  // meaning.
  private val q06c = Qdef(
    "q06c_kmv_distinct",
    // sketch-only output: the exact count(distinct) companion this once
    // carried duplicated q04's coverage and doubled the query's cost
    // (a second expand+two-phase distinct aggregation); the estimate's
    // accuracy against the exact count is pinned by RelationalSpec
    // instead of recomputed on every bench run
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          graft.functions.GraftFunctions.kmvDistinct(col("l_orderkey"), 64)
            .as("approx_orders"))
        .orderBy(col("l_returnflag")),
    Some("""WITH hs AS (
      SELECT DISTINCT l_returnflag,
        ('0x' || substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 12))::BIGINT AS h
      FROM lineitem),
    ranked AS (
      SELECT l_returnflag, h,
        ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
      FROM hs)
    SELECT r.l_returnflag,
      CAST(CASE WHEN COUNT(*) < 64 THEN COUNT(*)
        ELSE ROUND(CAST(63 AS DOUBLE) * CAST(281474976710656 AS DOUBLE)
                   / CAST(MAX(CASE WHEN rn = 64 THEN h END) AS DOUBLE), 0)
        END AS BIGINT) AS approx_orders
    FROM ranked r GROUP BY r.l_returnflag ORDER BY r.l_returnflag"""))

  // ---- A5: GROUP BY multi-key + HAVING ----------------------------------
  private val q07 = Qdef(
    "q07_groupby_having",
    (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .filter(col("n") > 10)
        .orderBy(col("o_orderpriority"), col("o_orderstatus")),
    Some(s"""SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
      ${sqlDsum("o_totalprice")} AS total
    FROM orders GROUP BY o_orderpriority, o_orderstatus
    HAVING COUNT(*) > 10
    ORDER BY o_orderpriority, o_orderstatus"""))

  // ---- A6/A7: top-N (sort + limit → TakeOrderedAndProject) --------------
  private val q08 = Qdef(
    "q08_topn",
    (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10),
    Some("""SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"""))

  // ---- A8: inner join chain over broadcast-able dims --------------------
  private val q09 = Qdef(
    "q09_join_inner",
    (s, dir) =>
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("sum_bal"))
        .orderBy(col("r_name")),
    Some(s"""SELECT r_name, COUNT(*) AS n_customers, ${sqlDsum("c_acctbal")} AS sum_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name ORDER BY r_name"""))

  // ---- A8: left outer join ----------------------------------------------
  private val q10 = Qdef(
    "q10_join_left",
    (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy(col("c_custkey")),
    Some("""SELECT c_custkey, COUNT(o_orderkey) AS n_orders
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey ORDER BY c_custkey"""))

  // ---- A8: full outer join ----------------------------------------------
  private val q11 = Qdef(
    "q11_join_full",
    (s, dir) => {
      val cust = t(s, dir, "customer").groupBy(col("c_nationkey").as("nk1"))
        .agg(count(lit(1)).as("n_cust"))
      val supp = t(s, dir, "supplier").groupBy(col("s_nationkey").as("nk2"))
        .agg(count(lit(1)).as("n_supp"))
      cust.join(supp, col("nk1") === col("nk2"), "full")
        .select(
          coalesce(col("nk1"), col("nk2")).as("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy(col("nationkey"))
    },
    Some("""SELECT COALESCE(c.nk, s.nk) AS nationkey,
      COALESCE(c.n_cust, 0) AS n_cust, COALESCE(s.n_supp, 0) AS n_supp
    FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY 1) c
    FULL OUTER JOIN (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY 1) s
    ON c.nk = s.nk
    ORDER BY nationkey"""))

  // ---- A8/A11: left semi join (IN-subquery) ------------------------------
  private val q12 = Qdef(
    "q12_join_semi",
    (s, dir) => {
      val fOrders = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"))
      t(s, dir, "lineitem")
        .join(fOrders, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .agg(count(lit(1)).as("n_lines"), dsum(col("l_extendedprice")).as("sum_price"))
    },
    Some(s"""SELECT COUNT(*) AS n_lines, ${sqlDsum("l_extendedprice")} AS sum_price
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')"""))

  // ---- A8/A11: left anti join (NOT EXISTS) -------------------------------
  private val q13 = Qdef(
    "q13_join_anti",
    (s, dir) => {
      val pOrders = t(s, dir, "orders").filter(col("o_orderstatus") === "P")
      t(s, dir, "customer")
        .join(pOrders, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey, c_mktsegment
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
    ORDER BY c_custkey"""))

  // ---- A8: cross join -----------------------------------------------------
  private val q14 = Qdef(
    "q14_join_cross",
    (s, dir) => {
      val statuses = t(s, dir, "orders").select(col("o_orderstatus")).distinct()
      t(s, dir, "region").crossJoin(statuses)
        .select(col("r_name"), col("o_orderstatus"))
        .orderBy(col("r_name"), col("o_orderstatus"))
    },
    Some("""SELECT r_name, o_orderstatus
    FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    ORDER BY r_name, o_orderstatus"""))

  // ---- A9: distinct --------------------------------------------------------
  private val q15 = Qdef(
    "q15_distinct",
    (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus")),
    Some("""SELECT DISTINCT l_returnflag, l_linestatus
    FROM lineitem ORDER BY l_returnflag, l_linestatus"""))

  // ---- A10: union / union all ---------------------------------------------
  private val q16 = Qdef(
    "q16_union",
    (s, dir) => {
      val c = t(s, dir, "customer").select(col("c_nationkey").as("nkey"))
      val su = t(s, dir, "supplier").select(col("s_nationkey").as("nkey"))
      c.union(su).distinct().orderBy(col("nkey"))
    },
    Some("""SELECT c_nationkey AS nkey FROM customer
    UNION SELECT s_nationkey FROM supplier ORDER BY nkey"""))

  // ---- A11: scalar subquery (decorrelated threshold) -----------------------
  private val q17 = Qdef(
    "q17_scalar_subq",
    (s, dir) => {
      graft.Tables.registerAll(s, dir)
      s.sql(s"""SELECT COUNT(*) AS n_above, ${sqlDsum("o_totalprice")} AS sum_above
        FROM orders
        WHERE o_totalprice > (SELECT ${sqlDsum("o_totalprice")} / COUNT(*) FROM orders)""")
    },
    Some(s"""SELECT COUNT(*) AS n_above, ${sqlDsum("o_totalprice")} AS sum_above
    FROM orders
    WHERE o_totalprice > (SELECT ${sqlDsum("o_totalprice")} / COUNT(*) FROM orders)"""))

  // ---- A11: correlated subquery (Catalyst decorrelates to a join) ----------
  private val q18 = Qdef(
    "q18_corr_subq",
    (s, dir) => {
      graft.Tables.registerAll(s, dir)
      s.sql("""SELECT c_custkey,
          (SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders
        FROM customer
        WHERE c_acctbal > 5000
        ORDER BY c_custkey""")
    },
    Some("""SELECT c_custkey,
      (SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders
    FROM customer
    WHERE c_acctbal > 5000
    ORDER BY c_custkey"""))

  // ---- A12: CTE (TPC-H Q15-style revenue view) ------------------------------
  private val q19 = Qdef(
    "q19_cte",
    (s, dir) => {
      // TPC-H Q15 shape. The textbook scalar-subquery form scans + aggs
      // lineitem TWICE (Spark inlines WITH blocks); a MAX() OVER ()
      // global window computes revenue once but drags every post-agg row
      // onto ONE partition — O(#suppliers) rows, a scale-killer at large
      // SF. Instead: build revenue once, reduce it to a 1-row max via a
      // partial-aggregating global agg, and broadcast-cross-join that
      // row back. The revenue shuffle is identical in both consumers, so
      // ReuseExchange keeps it (and the lineitem scan) to a single pass.
      // The explicit not-null filter is load-bearing for that reuse: the
      // join consumer pushes isnotnull(l_suppkey) into its branch, and
      // without the same filter in the max branch the two exchange
      // subtrees differ — Spark then scans lineitem twice.
      val revenue = t(s, dir, "lineitem")
        .filter(col("l_suppkey").isNotNull)
        .groupBy(col("l_suppkey").as("supplier_no"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("total_revenue"))
      val maxRev = revenue.agg(max(col("total_revenue")).as("max_revenue"))
      t(s, dir, "supplier")
        .join(revenue, col("s_suppkey") === col("supplier_no"))
        .crossJoin(broadcast(maxRev))
        .where(col("total_revenue") === col("max_revenue"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy(col("s_suppkey"))
    },
    Some(s"""WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             ${sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS total_revenue
      FROM lineitem GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey"""))

  // ---- A13: ranking window functions ---------------------------------------
  private val q20 = Qdef(
    "q20_window_rank",
    (s, dir) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      t(s, dir, "customer")
        .select(
          col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
          row_number().over(w).as("rn"),
          rank().over(w).as("rk"),
          dense_rank().over(w).as("drk"))
        .filter(col("rn") <= 3)
        .orderBy(col("c_mktsegment"), col("rn"))
    },
    Some("""SELECT c_mktsegment, c_custkey, c_acctbal, rn, rk, drk FROM (
      SELECT c_mktsegment, c_custkey, c_acctbal,
        ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rn,
        RANK()       OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rk,
        DENSE_RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS drk
      FROM customer) x
    WHERE rn <= 3 ORDER BY c_mktsegment, rn"""))

  // ---- A13: lag/lead ---------------------------------------------------------
  private val q21 = Qdef(
    "q21_window_lag",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .filter(col("user_id") < 50)
        .select(
          col("user_id"), col("event_id"), col("value"),
          lag(col("value"), 1).over(w).as("prev_value"),
          lead(col("event_type"), 1).over(w).as("next_type"))
        .select(
          col("user_id"), col("event_id"),
          coalesce(col("prev_value"), lit(0.0)).as("prev_value"),
          (col("value") - coalesce(col("prev_value"), lit(0.0))).as("delta"),
          coalesce(col("next_type"), lit("none")).as("next_type"))
        .orderBy(col("user_id"), col("event_id"))
    },
    Some("""SELECT user_id, event_id,
      COALESCE(prev_value, 0.0) AS prev_value,
      value - COALESCE(prev_value, 0.0) AS delta,
      COALESCE(next_type, 'none') AS next_type
    FROM (
      SELECT user_id, event_id, value,
        LAG(value, 1)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
        LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      FROM events WHERE user_id < 50) x
    ORDER BY user_id, event_id"""))

  // ---- A13: sliding frame aggregate (exact decimal inside the frame) --------
  private val q22 = Qdef(
    "q22_window_frame",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(-2, 0)
      t(s, dir, "orders")
        .filter(col("o_custkey") < 100)
        .select(
          col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast(D)).over(w).cast("double").as("trailing3_sum"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    Some("""SELECT o_custkey, o_orderkey,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing3_sum
    FROM orders WHERE o_custkey < 100
    ORDER BY o_custkey, o_orderkey"""))

  // ---- A14: CASE WHEN / CAST / COALESCE / NULLIF -----------------------------
  private val q23 = Qdef(
    "q23_case_cast",
    (s, dir) =>
      t(s, dir, "orders")
        .select(
          col("o_orderkey"),
          when(col("o_totalprice") > 300000, "big")
            .when(col("o_totalprice") > 100000, "medium")
            .otherwise("small").as("bucket"),
          floor(col("o_totalprice")).cast("long").as("price_floor"),
          coalesce(nullif(col("o_orderstatus"), lit("O")), lit("done")).as("status_or_done"))
        .orderBy(col("o_orderkey")),
    Some("""SELECT o_orderkey,
      CASE WHEN o_totalprice > 300000 THEN 'big'
           WHEN o_totalprice > 100000 THEN 'medium'
           ELSE 'small' END AS bucket,
      CAST(FLOOR(o_totalprice) AS BIGINT) AS price_floor,
      COALESCE(NULLIF(o_orderstatus, 'O'), 'done') AS status_or_done
    FROM orders ORDER BY o_orderkey"""))

  // ---- A15: string functions --------------------------------------------------
  private val q24 = Qdef(
    "q24_string_funcs",
    (s, dir) =>
      t(s, dir, "part")
        .select(
          col("p_partkey"),
          upper(col("p_name")).as("name_uc"),
          lower(col("p_brand")).as("brand_lc"),
          substring(col("p_name"), 1, 5).as("name_pfx"),
          concat(col("p_brand"), lit("#"), col("p_type")).as("brand_type"),
          regexp_replace(col("p_name"), " ", "_").as("name_snake"),
          length(col("p_name")).cast("long").as("name_len"),
          trim(col("p_name")).as("name_trim"))
        .orderBy(col("p_partkey")),
    Some("""SELECT p_partkey,
      UPPER(p_name) AS name_uc, LOWER(p_brand) AS brand_lc,
      SUBSTRING(p_name, 1, 5) AS name_pfx,
      p_brand || '#' || p_type AS brand_type,
      REPLACE(p_name, ' ', '_') AS name_snake,
      CAST(LENGTH(p_name) AS BIGINT) AS name_len,
      TRIM(p_name) AS name_trim
    FROM part ORDER BY p_partkey"""))

  // ---- A15: math functions (engine-exact subset: sqrt is IEEE-correct) --------
  private val q25 = Qdef(
    "q25_math_funcs",
    (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") < 100)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          abs(col("l_extendedprice") - lit(50000.0)).as("abs_dev"),
          round(col("l_extendedprice") / lit(1000.0), 2).as("price_k"),
          floor(col("l_quantity") / lit(10.0)).cast("long").as("qty_bucket"),
          ceil(col("l_tax") * lit(100.0)).cast("long").as("tax_pct_ceil"),
          round(sqrt(col("l_extendedprice")), 6).as("sqrt_price"),
          pmod(col("l_orderkey"), lit(7)).as("key_mod7"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
    Some("""SELECT l_orderkey, l_linenumber,
      ABS(l_extendedprice - 50000.0) AS abs_dev,
      ROUND(l_extendedprice / 1000.0, 2) AS price_k,
      CAST(FLOOR(l_quantity / 10.0) AS BIGINT) AS qty_bucket,
      CAST(CEIL(l_tax * 100.0) AS BIGINT) AS tax_pct_ceil,
      ROUND(SQRT(l_extendedprice), 6) AS sqrt_price,
      l_orderkey % 7 AS key_mod7
    FROM lineitem WHERE l_orderkey < 100
    ORDER BY l_orderkey, l_linenumber"""))

  // ---- A15: date/time functions ----------------------------------------------
  private val q26 = Qdef(
    "q26_date_funcs",
    (s, dir) =>
      t(s, dir, "orders")
        .groupBy(
          year(col("o_orderdate")).cast("long").as("o_year"),
          month(col("o_orderdate")).cast("long").as("o_month"))
        .agg(
          count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("month_total"))
        .orderBy(col("o_year"), col("o_month")),
    Some(s"""SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
      CAST(MONTH(o_orderdate) AS BIGINT) AS o_month,
      COUNT(*) AS n_orders, ${sqlDsum("o_totalprice")} AS month_total
    FROM orders GROUP BY 1, 2 ORDER BY o_year, o_month"""))

  // ---- A16: ROLLUP -------------------------------------------------------------
  private val q27 = Qdef(
    "q27_rollup",
    (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("n"))
        .orderBy(col("rf"), col("ls")),
    Some(s"""SELECT COALESCE(l_returnflag, 'ALL') AS rf,
      COALESCE(l_linestatus, 'ALL') AS ls,
      ${sqlDsum("l_quantity")} AS sum_qty, COUNT(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY rf, ls"""))

  // ---- A18: multi-join composite (market share by region/year) -----------------
  // Round-12 shape: revenue partial-aggregates to l_orderkey BEFORE the
  // orders join, then to (o_custkey, o_year) before the customer join.
  // The orderkey rollup is the big lever: lineitem enters its exchange
  // at |orders| rows (~4x fewer, and only (key, hi, lo) wide) instead
  // of shipping every line, the agg's map side reduces near-perfectly
  // because lineitem is clustered by orderkey, and the aggregated side
  // keeps hash(l_orderkey) partitioning so the orders join reuses it —
  // only orders shuffles for that join. The round-11 shape aggregated
  // (o_custkey, o_year) directly FROM the joined lines: at sf100 that
  // is a 600M-row hash-agg over ~10M groups — it spilled (512 MB page
  // allocation failures) and cost 123.7 s vs the r9 82 s; the orderkey
  // rollup feeds the same agg 4x fewer rows. The (custkey, year)
  // rollup stays: it keeps the customer join's fact side at |distinct
  // customer-years| (the r10 sf50 broadcast-demotion lesson). Limb
  // partials are exact BIGINTs whose addition is associative, so the
  // THREE-level rollup is bit-identical (Q.dsumHi scaladoc).
  private val q28 = Qdef(
    "q28_market_share",
    (s, dir) => {
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      val perOrder = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(dsumHi(rev).as("hi"), dsumLo(rev).as("lo"))
      val perCustYear = perOrder
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(sum(col("hi")).as("hi"), sum(col("lo")).as("lo"))
      perCustYear
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("o_year"))
        .agg(dsumMerge(sum(col("hi")), sum(col("lo"))).as("revenue"))
        .orderBy(col("r_name"), col("o_year"))
    },
    Some(s"""SELECT r_name, CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
      ${sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, CAST(YEAR(o_orderdate) AS BIGINT)
    ORDER BY r_name, o_year"""))

  // ---- events table rollup by day/type ------------------------------------------
  private val q29 = Qdef(
    "q29_events_agg",
    (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(
          count(lit(1)).as("n"),
          dsum(col("value")).as("sum_value"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))
        .orderBy(col("event_type"), col("day")),
    Some(s"""SELECT event_type, DATE_TRUNC('day', ts) AS day,
      COUNT(*) AS n, ${sqlDsum("value")} AS sum_value,
      MIN(value) AS min_value, MAX(value) AS max_value
    FROM events GROUP BY event_type, DATE_TRUNC('day', ts)
    ORDER BY event_type, day"""))

  // ---- A10b: INTERSECT / EXCEPT / OFFSET ---------------------------------
  // Set-operator completion of the union family (DataFusion supports
  // INTERSECT/EXCEPT — components/arrow-datafusion SQL surface). Both
  // operators plan as aggregations + joins in Spark (no row-by-row
  // comparison), and OFFSET pushes into the limit operator.
  private val q45 = Qdef(
    "q45_setops",
    (s, dir) => {
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
      val buyers = ord.select(col("o_custkey").as("c_custkey"))
      val segA = cust.filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val withOrders = segA.intersect(buyers.select(col("c_custkey")))
      val withoutOrders = segA.except(buyers.select(col("c_custkey")))
      withOrders.withColumn("grp", lit("with_orders"))
        .unionAll(withoutOrders.withColumn("grp", lit("no_orders")))
        .orderBy(col("grp"), col("c_custkey"))
        .offset(5)
    },
    Some("""SELECT * FROM (
      SELECT c_custkey, 'with_orders' AS grp FROM (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        INTERSECT
        SELECT o_custkey FROM orders)
      UNION ALL
      SELECT c_custkey, 'no_orders' AS grp FROM (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        EXCEPT
        SELECT o_custkey FROM orders))
    ORDER BY grp, c_custkey OFFSET 5"""))

  // ---- A15b: regexp functions --------------------------------------------
  // Patterns restricted to the syntax subset where Java regex (Spark) and
  // RE2 (DuckDB) agree; regexp_replace carries the 'g' flag on the DuckDB
  // side because Spark replaces globally by default.
  private val q46 = Qdef(
    "q46_regexp",
    (s, dir) =>
      t(s, dir, "documents")
        .filter(col("text").rlike("^[A-Za-z]"))
        .select(col("doc_id"),
          regexp_extract(col("text"), "^([A-Za-z]+)", 1).as("first_word"),
          length(regexp_replace(col("text"), "[^aeiou]", "")).as("vowels"),
          length(regexp_replace(col("text"), "[0-9]+", "#")).as("masked_len"))
        .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
      regexp_extract(text, '^([A-Za-z]+)', 1) AS first_word,
      length(regexp_replace(text, '[^aeiou]', '', 'g')) AS vowels,
      length(regexp_replace(text, '[0-9]+', '#', 'g')) AS masked_len
    FROM documents WHERE regexp_matches(text, '^[A-Za-z]')
    ORDER BY doc_id"""))

  // ---- A15c: extended string functions (DataFusion scalar parity) --------
  private val q52 = Qdef(
    "q52_string_ext",
    (s, dir) =>
      t(s, dir, "nation")
        .select(col("n_nationkey"),
          concat(upper(substring(lower(col("n_name")), 1, 1)),
            substring(lower(col("n_name")), 2, 1000)).as("cap"),
          lpad(col("n_name"), 12, ".").as("lp"),
          rpad(col("n_name"), 12, ".").as("rp"),
          reverse(col("n_name")).as("rev"),
          translate(col("n_name"), "AEIOU", "aeiou").as("tr"),
          repeat(substring(col("n_name"), 1, 2), 3).as("rep"),
          instr(col("n_name"), "AN").as("pos"),
          split(col("n_name"), "A").getItem(0).as("part0"))
        .orderBy(col("n_nationkey")),
    Some("""SELECT n_nationkey,
      upper(substring(lower(n_name), 1, 1)) || substring(lower(n_name), 2) AS cap,
      lpad(n_name, 12, '.') AS lp,
      rpad(n_name, 12, '.') AS rp,
      reverse(n_name) AS rev,
      translate(n_name, 'AEIOU', 'aeiou') AS tr,
      repeat(substring(n_name, 1, 2), 3) AS rep,
      strpos(n_name, 'AN') AS pos,
      split_part(n_name, 'A', 1) AS part0
    FROM nation ORDER BY n_nationkey"""))

  // ---- A15d: transcendental math (libm) — quantized oracle ---------------
  // sin/cos/exp/ln come from each engine's libm and can differ in the
  // last ulp; rounding to 9 decimals on BOTH sides masks that while
  // still pinning 9 significant digits of agreement.
  private val q53 = Qdef(
    "q53_math_ext",
    (s, dir) =>
      t(s, dir, "nation")
        .select(col("n_nationkey"),
          round(sin(col("n_nationkey")), 9).as("s"),
          round(cos(col("n_nationkey")), 9).as("c"),
          round(exp(col("n_nationkey") % 5), 9).as("e"),
          round(log(col("n_nationkey") + 1), 9).as("l"),
          round(atan2(col("n_nationkey"), lit(7)), 9).as("a"),
          signum(col("n_nationkey") - 10).as("sg"))
        .orderBy(col("n_nationkey")),
    Some("""SELECT n_nationkey,
      round(sin(n_nationkey), 9) AS s,
      round(cos(n_nationkey), 9) AS c,
      round(exp(n_nationkey % 5), 9) AS e,
      round(ln(n_nationkey + 1), 9) AS l,
      round(atan2(n_nationkey, 7), 9) AS a,
      CAST(sign(n_nationkey - 10) AS DOUBLE) AS sg
    FROM nation ORDER BY n_nationkey"""))

  // ---- A13+: ranking/distribution/value window functions -----------------
  // ntile / percent_rank / cume_dist / first_value / last_value /
  // nth_value — the distribution half of the window family (q20-q22
  // cover ranks, offsets, frames). percent_rank and cume_dist are
  // rank-derived rationals, so the double division is engine-exact.
  private val q62 = Qdef(
    "q62_window_dist",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "orders")
        .filter(col("o_custkey") < 20)
        .select(
          col("o_custkey"), col("o_orderkey"),
          ntile(4).over(w).as("tile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          first(col("o_orderkey")).over(w).as("first_ok"),
          last(col("o_orderkey")).over(wFull).as("last_ok"),
          nth_value(col("o_orderkey"), 2).over(wFull).as("second_ok"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    Some("""SELECT o_custkey, o_orderkey,
      ntile(4) OVER w AS tile,
      percent_rank() OVER w AS pr,
      cume_dist() OVER w AS cd,
      first_value(o_orderkey) OVER w AS first_ok,
      last_value(o_orderkey) OVER wf AS last_ok,
      nth_value(o_orderkey, 2) OVER wf AS second_ok
    FROM orders WHERE o_custkey < 20
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
      wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ORDER BY o_custkey, o_orderkey"""))

  // ---- A15+: calendar arithmetic -----------------------------------------
  // add_months clamps to month end identically in both engines
  // (1996-01-31 + 1 month = 1996-02-29); day-of-week goes through the
  // ISO numbering (Spark weekday is 0=Monday, DuckDB isodow 1=Monday).
  private val q63 = Qdef(
    "q63_date_arith",
    (s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderkey") < 500)
        .select(
          col("o_orderkey"),
          // dates travel as ISO strings: DuckDB's pandas bridge widens
          // DATE to datetime64 while Spark parquet keeps date32, so a
          // raw DATE column can never hash-match across the gate
          date_format(add_months(col("o_orderdate"), 3), "yyyy-MM-dd").as("plus3m"),
          date_format(date_sub(col("o_orderdate"), 7), "yyyy-MM-dd").as("minus7d"),
          date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("eom"),
          quarter(col("o_orderdate")).as("qtr"),
          (weekday(col("o_orderdate")) + 1).as("dow_iso"))
        .orderBy(col("o_orderkey")),
    Some("""SELECT o_orderkey,
      strftime(CAST(o_orderdate + INTERVAL 3 MONTH AS DATE), '%Y-%m-%d') AS plus3m,
      strftime(CAST(o_orderdate - INTERVAL 7 DAY AS DATE), '%Y-%m-%d') AS minus7d,
      strftime(CAST(last_day(o_orderdate) AS DATE), '%Y-%m-%d') AS eom,
      CAST(quarter(o_orderdate) AS INT) AS qtr,
      CAST(isodow(o_orderdate) AS INT) AS dow_iso
    FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey"""))

  // ---- A8: right outer join (dedicated oracled coverage) -------------------
  // Mirror of q10's left join with the preserved side on the right and a
  // filtered left side, so right-outer null-extension is actually
  // exercised (customers whose orders are all filtered away keep a row).
  private val q64 = Qdef(
    "q64_join_right",
    (s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"), "right")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_f_orders"),
          dsum(coalesce(col("o_totalprice"), lit(0.0))).as("sum_f_price"))
        .orderBy(col("c_custkey")),
    Some(s"""SELECT c_custkey, COUNT(o_orderkey) AS n_f_orders,
      ${sqlDsum("COALESCE(o_totalprice, 0.0)")} AS sum_f_price
    FROM (SELECT * FROM orders WHERE o_orderstatus = 'F') o
    RIGHT JOIN customer ON o_custkey = c_custkey
    GROUP BY c_custkey ORDER BY c_custkey"""))

  // ---- A11/A18: TPC-H Q4 shape — correlated EXISTS over the fact table -----
  // The EXISTS carries a correlated NON-equi predicate (l_shipdate >
  // o_orderdate) alongside the key equality, so Catalyst must decorrelate
  // it into a left semi join with a mixed condition — the optimizer
  // surface TPC-H Q4 exists to exercise. (Our lineitem has no
  // commitdate/receiptdate; shipped-after-order is the same shape.)
  private val q65 = Qdef(
    "q65_exists_fact",
    (s, dir) => {
      graft.Tables.registerAll(s, dir)
      // Bloom-filter pre-reduction of the fact side (guide §3.2): the
      // date filter keeps ~1/14 of orders, so ~93% of lineitem rows
      // cannot match any surviving o_orderkey — drop them BEFORE the
      // semi join's exchange instead of shuffling all of lineitem
      // (sf10: 61M -> ~4.4M rows through the exchange; the sf100 spill
      // band disappears with the bytes). A Bloom filter has no false
      // negatives, so the EXISTS result is unchanged; false positives
      // only pass a few extra rows into the semi join that already
      // discards them. Spark's own InjectRuntimeFilter builds exactly
      // this plan when the application-side scan passes its 10 GB
      // threshold — explicit here so the plan does not depend on size
      // estimates. The count() sizes the filter (>= true key count
      // keeps the advertised fpp at every scale). The date window is
      // written once: the Bloom key set and the outer query must select
      // the same orders, or the filter silently drops matching rows.
      val window = """o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1996-07-01'"""
      val fo = s.sql(s"SELECT o_orderkey FROM orders WHERE $window")
      graft.functions.BloomPrefilter
        .bloomPrefilter(graft.Tables.t(s, dir, "lineitem"),
          col("l_orderkey"), fo, col("o_orderkey"), fo.count())
        .createOrReplaceTempView("lineitem_q65_bloomed")
      s.sql(s"""SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE $window
          AND EXISTS (SELECT 1 FROM lineitem_q65_bloomed
                      WHERE l_orderkey = o_orderkey
                        AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")
    },
    Some("""SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority"""))

  // ---- A11/A18: TPC-H Q21 shape — EXISTS + NOT EXISTS stack on one fact ----
  // "Suppliers who kept waiting": the only returned ('R') line on a
  // multi-supplier finished order. One semi and one anti self-reference on
  // lineitem over a fact-fact join — the heaviest decorrelation stack in
  // the suite (reference capability: DataFusion's subquery decorrelation,
  // /root/reference/components/arrow-datafusion optimizer).
  private val q66 = Qdef(
    "q66_semi_anti_stack",
    (s, dir) => {
      graft.Tables.registerAll(s, dir)
      s.sql("""SELECT s_name, COUNT(*) AS numwait
        FROM supplier
        JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN orders ON o_orderkey = l1.l_orderkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_returnflag = 'R')
        GROUP BY s_name
        ORDER BY numwait DESC, s_name""")
    },
    Some("""SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_name
    ORDER BY numwait DESC, s_name"""))

  // ---- A18: event funnel (staged conditional aggregation composite) -----
  // The classic event-analytics shape the suite lacked: per user, first
  // view, first click within 72 h AFTER that view, first purchase within
  // 72 h after THAT click — each stage conditions on the previous
  // stage's timestamp, so this cannot be one grouped aggregation.
  // Scale shape: three user-keyed aggregations + user-keyed equi-joins
  // (stage tables are ≤ one row per user, so the per-stage join's build
  // side shrinks monotonically down the funnel); all linear, no window
  // over raw events, no self-join on the event table by time.
  // Timestamps compare exactly (µs integers in both engines; the
  // interval add is exact integer arithmetic).
  private val q74 = Qdef(
    "q74_funnel",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("ts") > col("t1") &&
          col("ts") <= col("t1") + expr("INTERVAL 72 HOURS"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .filter(col("ts") > col("t2") &&
          col("ts") <= col("t2") + expr("INTERVAL 72 HOURS"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
        .select(col("user_id"), col("t1"), col("t2"), col("t3"))
        .orderBy(col("user_id"))
    },
    Some("""WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > v.t1
        AND e.ts <= v.t1 + INTERVAL 72 HOUR
      GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
        AND e.ts <= c.t2 + INTERVAL 72 HOUR
      GROUP BY e.user_id)
    SELECT user_id, t1, t2, t3
    FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
    ORDER BY user_id"""))

  // ---- A18: weekly cohort retention --------------------------------------
  // The companion event-analytics composite to q74's funnel: users
  // cohorted by first-seen week, retention = distinct users of cohort c
  // active in week w, for every (c, w) with w >= c. Scale shape: one
  // user-keyed MIN aggregation (cohort), one (user, week) distinct
  // projection of the event scan, a user-keyed equi-join of the two,
  // and one (cohort, week) count — all linear, no window, and the
  // retained count is map-side-partial-aggregated. All output values
  // are exact integers; DATE_TRUNC('week', ts) is identical in both
  // engines (ISO Monday weeks).
  private val q75 = Qdef(
    "q75_cohort_retention",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val cohort = ev.groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
      val active = ev
        .select(col("user_id"), date_trunc("week", col("ts")).as("week"))
        .distinct()
      active.join(cohort, Seq("user_id"))
        .groupBy(col("cohort_week"), col("week"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .orderBy(col("cohort_week"), col("week"))
    },
    Some("""WITH cohort AS (
      SELECT user_id, DATE_TRUNC('week', MIN(ts)) AS cohort_week
      FROM events GROUP BY user_id),
    active AS (
      SELECT DISTINCT user_id, DATE_TRUNC('week', ts) AS week FROM events)
    SELECT c.cohort_week, a.week, COUNT(DISTINCT a.user_id) AS n_active
    FROM active a JOIN cohort c USING (user_id)
    GROUP BY c.cohort_week, a.week
    ORDER BY c.cohort_week, a.week"""))

  // ---- A19: PIVOT ------------------------------------------------------
  // The relational cross-tab: Spark's RelationalGroupedDataset.pivot with
  // EXPLICIT pivot values (never the two-pass value-discovery form — at
  // 100 TB the discovery pass is a full distinct scan; production always
  // knows its pivot domain). Catalyst rewrites pivot-on-literals into a
  // single aggregate over conditional expressions — ONE scan, map-side
  // partials, no extra shuffle vs the plain groupBy — which is exactly
  // the CASE-filtered aggregation the oracle spells out. Money sums ride
  // dsum (pivot subsets preserve the exact-decimal contract per cell).
  private val q78 = Qdef(
    "q78_pivot",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(dsum(col("l_quantity")).as("qty"), count(lit(1)).as("cnt"))
        // Empty-cell semantics: Spark's PivotFirst leaves an absent
        // (flag, status) cell NULL for EVERY aggregate including counts,
        // while a CASE-filtered COUNT is 0 — coalesce the count cells so
        // an empty combo (canonical TPC-H has no (A,O)/(R,O) rows) reads
        // 0 in both engines. Sum cells stay NULL-on-empty by design
        // (SUM over no rows IS NULL in SQL).
        .select(col("l_returnflag"),
          col("F_qty").as("qty_f"),
          coalesce(col("F_cnt"), lit(0L)).as("cnt_f"),
          col("O_qty").as("qty_o"),
          coalesce(col("O_cnt"), lit(0L)).as("cnt_o"))
        .orderBy(col("l_returnflag")),
    Some(s"""SELECT l_returnflag,
      ${sqlDsum("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS qty_f,
      COUNT(CASE WHEN l_linestatus = 'F' THEN 1 END) AS cnt_f,
      ${sqlDsum("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS qty_o,
      COUNT(CASE WHEN l_linestatus = 'O' THEN 1 END) AS cnt_o
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  // ---- A19: UNPIVOT ----------------------------------------------------
  // The inverse cross-tab (Dataset.unpivot / melt): wide aggregate row →
  // long (metric, value) rows. Runs AFTER the aggregation, so the
  // unpivot itself touches k×groups rows — scan-local expression work,
  // no shuffle (Catalyst plans it as Expand). Oracle replays as the
  // UNION ALL it desugars to.
  private val q79 = Qdef(
    "q79_unpivot",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_discount")).as("sum_disc"),
          dsum(col("l_tax")).as("sum_tax"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_disc"), col("sum_tax")),
          "metric", "value")
        .orderBy(col("l_returnflag"), col("metric")),
    Some(s"""WITH a AS (
      SELECT l_returnflag,
        ${sqlDsum("l_quantity")} AS sum_qty,
        ${sqlDsum("l_discount")} AS sum_disc,
        ${sqlDsum("l_tax")} AS sum_tax
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, metric, value FROM (
      SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM a
      UNION ALL
      SELECT l_returnflag, 'sum_disc' AS metric, sum_disc AS value FROM a
      UNION ALL
      SELECT l_returnflag, 'sum_tax' AS metric, sum_tax AS value FROM a)
    ORDER BY l_returnflag, metric"""))

  val all: Seq[Qdef] = Seq(
    q01, q02, q03, q04, q05, q06, q06b, q06c, q07, q08, q09, q10, q11, q12,
    q13, q14, q15, q16, q17, q18, q19, q20, q21, q22, q23, q24, q25, q26,
    q27, q28, q29, q45, q46, q52, q53, q62, q63, q64, q65, q66, q74, q75,
    q78, q79)
}
