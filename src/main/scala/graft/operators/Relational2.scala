package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Exact._

/** Second tranche of the relational core — the remaining TPC-H query
  * SHAPES expressible on this schema (no partsupp/shipmode/commitdate
  * columns exist, so the shapes are adapted): cross-nation volume
  * (Q7), returned-item revenue (Q10), conditional aggregation (Q12),
  * promo share (Q14), large-order having-join (Q18), scalar-subquery
  * + anti-join (Q22), and semi-join priority counts (Q4).
  *
  * Same scale rules as [[Relational]]: broadcast the dims, one shuffle
  * per agg, exact decimal money math.
  */
object Relational2 {

  /** Q7 shape: shipping volume between nation pairs by year. */
  def q7Volume(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val ord = Tables(spark, dir, "orders").select("o_orderkey", "o_custkey")
    val cust = Tables(spark, dir, "customer").select("c_custkey", "c_nationkey")
    val supp = Tables(spark, dir, "supplier").select("s_suppkey", "s_nationkey")
    val nc = Tables(spark, dir, "nation").select(
      col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
    val ns = Tables(spark, dir, "nation").select(
      col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nc), col("c_nationkey") === col("cn_key"))
      .join(broadcast(ns), col("s_nationkey") === col("sn_key"))
      .filter(col("cust_nation") =!= col("supp_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(sum2(disc(col("l_extendedprice"), col("l_discount"))).as("revenue"),
           count(lit(1)).as("n_items"))
  }

  val q7Sql: String =
    """SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
      | CAST(year(l_shipdate) AS INT) AS l_year,
      | CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))*(1-CAST(l_discount AS DECIMAL(6,4)))),2) AS DOUBLE) AS revenue,
      | count(*) AS n_items
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation nc ON c_nationkey = nc.n_nationkey
      |JOIN nation ns ON s_nationkey = ns.n_nationkey
      |WHERE nc.n_name <> ns.n_name
      |GROUP BY 1, 2, 3""".stripMargin

  /** Q10 shape: revenue lost to returned items per customer. */
  def q10Returns(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem").filter(col("l_returnflag") === "R")
    val ord = Tables(spark, dir, "orders").select("o_orderkey", "o_custkey")
    val cust = Tables(spark, dir, "customer")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .agg(sum2(disc(col("l_extendedprice"), col("l_discount"))).as("revenue"),
           count(lit(1)).as("n_returned"))
  }

  val q10Sql: String =
    """SELECT c_custkey, c_name, c_mktsegment,
      | CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))*(1-CAST(l_discount AS DECIMAL(6,4)))),2) AS DOUBLE) AS revenue,
      | count(*) AS n_returned
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, c_mktsegment""".stripMargin

  /** Q12 shape: high- vs low-priority order counts per linestatus
    * (conditional aggregation over a joined fact). */
  def q12Priority(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem").select("l_orderkey", "l_linestatus")
    val ord = Tables(spark, dir, "orders").select("o_orderkey", "o_orderpriority")
    val isHigh = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_linestatus"))
      .agg(sum(when(isHigh, 1L).otherwise(0L)).as("high_line_count"),
           sum(when(isHigh, 0L).otherwise(1L)).as("low_line_count"))
    // NB oracle casts the CASE sums to BIGINT: DuckDB sums ints into
    // HUGEINT, which pandas widens to float64 and the compare fails
  }

  val q12Sql: String =
    """SELECT l_linestatus,
      | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY l_linestatus""".stripMargin

  /** Q14 shape: promo revenue share — conditional sum ratio (exact
    * decimal sums, one double division). */
  def q14Promo(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val part = Tables(spark, dir, "part").select("p_partkey", "p_type")
    val rev = disc(col("l_extendedprice"), col("l_discount"))
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .agg(
        (sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0).cast("decimal(20,8)")))
          .cast("double") * 100.0 /
         sum(rev).cast("double")).as("promo_share"),
        count(lit(1)).as("n_items"))
  }

  val q14Sql: String =
    """SELECT
      | CAST(sum(CASE WHEN p_type = 'PROMO'
      |   THEN CAST(l_extendedprice AS DECIMAL(12,4))*(1-CAST(l_discount AS DECIMAL(6,4)))
      |   ELSE CAST(0 AS DECIMAL(20,8)) END) AS DOUBLE) * 100.0 /
      | CAST(sum(CAST(l_extendedprice AS DECIMAL(12,4))*(1-CAST(l_discount AS DECIMAL(6,4)))) AS DOUBLE) AS promo_share,
      | count(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin

  /** Q18 shape: large-volume orders (groupBy-having join back). */
  val q18MinQty = 300

  def q18Large(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val big = li.groupBy(col("l_orderkey"))
      .agg(sum2(d4(col("l_quantity"))).as("total_qty"))
      .filter(col("total_qty") > q18MinQty)
    val ord = Tables(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val cust = Tables(spark, dir, "customer").select("c_custkey", "c_name")
    big.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
  }

  val q18Sql: String =
    s"""SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
       |FROM (
       | SELECT l_orderkey,
       |  CAST(round(sum(CAST(l_quantity AS DECIMAL(14,4))),2) AS DOUBLE) AS total_qty
       | FROM lineitem GROUP BY l_orderkey
       | HAVING CAST(round(sum(CAST(l_quantity AS DECIMAL(14,4))),2) AS DOUBLE) > $q18MinQty)
       |JOIN orders   ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey""".stripMargin

  /** Q22 shape: customers above the positive-average balance with no
    * in-progress ('P') order (scalar subquery + anti join). */
  def q22Idle(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables(spark, dir, "customer")
    val ord = Tables(spark, dir, "orders")
      .filter(col("o_orderstatus") === "P").select("o_custkey")
    val avgBal = cust.filter(col("c_acctbal") > 0)
      .agg((sum(d4(col("c_acctbal"), 12)).cast("double") / count(lit(1))).as("a"))
    cust.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("a"))
      .join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_acctbal")
  }

  val q22Sql: String =
    """SELECT c_custkey, c_name, c_acctbal FROM customer
      |WHERE c_acctbal > (
      |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,4))) AS DOUBLE)/count(*)
      |  FROM customer WHERE c_acctbal > 0)
      |AND c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')""".stripMargin

  /** Sketch aggregation: HyperLogLog++ approximate distinct counts
    * next to groupBy keys — the sketch path for 100 TB cardinality
    * questions (exactness checked by spec within rsd bounds; no
    * DuckDB oracle since HLL implementations differ). */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
        count(lit(1)).as("n"))

  /** Q4 shape: order-priority counts for orders with any heavy line
    * (EXISTS as left-semi join). */
  def q4Exists(spark: SparkSession, dir: String): DataFrame = {
    val heavy = Tables(spark, dir, "lineitem")
      .filter(col("l_quantity") >= 45).select("l_orderkey")
    Tables(spark, dir, "orders")
      .join(heavy, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  val q4Sql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 45)
      |GROUP BY o_orderpriority""".stripMargin
}
