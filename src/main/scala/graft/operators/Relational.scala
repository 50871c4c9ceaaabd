package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Exact._

/** Relational / analytic core over the TPC-H-ish tables.
  *
  * Design notes (100 TB):
  *  - All plans are fully declarative DataFrame trees — Catalyst pushes
  *    filters + projections into the parquet scan and picks join
  *    strategies; we only add `broadcast()` hints for the genuinely
  *    small dimension tables (region/nation/supplier/filtered customer)
  *    so a 1000-executor run never shuffles the fact table for them.
  *  - Money aggregates use exact DECIMAL accumulation (see [[Exact]]):
  *    order-independent, reproducible under AQE re-plans, and bit-equal
  *    to the DuckDB oracle.
  */
object Relational {

  /** TPC-H Q1-style pricing summary: one shuffle, partial aggregation
    * map-side (HashAggregate partial→final), 8 aggregates in one pass. */
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= ts("1998-09-02 00:00:00"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum2(d4(col("l_quantity"))).as("sum_qty"),
        sum2(d4(col("l_extendedprice"), 12)).as("sum_base_price"),
        sum2(disc(col("l_extendedprice"), col("l_discount"))).as("sum_disc_price"),
        sum2(disc(col("l_extendedprice"), col("l_discount")) * (lit(1) + d4(col("l_tax"), 6))).as("sum_charge"),
        avgExact(d4(col("l_quantity"))).as("avg_qty"),
        avgExact(d4(col("l_extendedprice"), 12)).as("avg_price"),
        avgExact(d4(col("l_discount"), 6)).as("avg_disc"),
        count(lit(1)).as("count_order"))

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      | CAST(round(sum(CAST(l_quantity AS DECIMAL(14,4))),2) AS DOUBLE) AS sum_qty,
      | CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))),2) AS DOUBLE) AS sum_base_price,
      | CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))*(1-CAST(l_discount AS DECIMAL(6,4)))),2) AS DOUBLE) AS sum_disc_price,
      | CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))*(1-CAST(l_discount AS DECIMAL(6,4)))*(1+CAST(l_tax AS DECIMAL(6,4)))),2) AS DOUBLE) AS sum_charge,
      | CAST(sum(CAST(l_quantity AS DECIMAL(14,4))) AS DOUBLE)/count(*) AS avg_qty,
      | CAST(sum(CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE)/count(*) AS avg_price,
      | CAST(sum(CAST(l_discount AS DECIMAL(6,4))) AS DOUBLE)/count(*) AS avg_disc,
      | count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q3-style shipping-priority revenue: two joins onto the fact
    * table. Filtered customer is small → broadcast; orders ⋈ lineitem
    * shuffles once on orderkey. */
  def q3Join(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") < ts("1998-06-01 00:00:00"))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val li = Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") > ts("1998-06-01 00:00:00"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum2(disc(col("l_extendedprice"), col("l_discount"))).as("revenue"))
  }

  val q3Sql: String =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
      | CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))*(1-CAST(l_discount AS DECIMAL(6,4)))),2) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders   ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      |  AND l_shipdate  > TIMESTAMP '1998-06-01 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority""".stripMargin

  /** TPC-H Q5-style local-supplier revenue: 6-table join. region,
    * nation, supplier, customer are broadcast; the only shuffle is
    * lineitem ⋈ orders on orderkey. */
  def q5MultiJoin(spark: SparkSession, dir: String): DataFrame = {
    val region = Tables(spark, dir, "region").filter(col("r_name") === "ASIA")
    val nation = Tables(spark, dir, "nation")
    val cust = Tables(spark, dir, "customer")
    val supp = Tables(spark, dir, "supplier")
    val ord = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
              col("o_orderdate") < ts("1998-01-01 00:00:00"))
    val li = Tables(spark, dir, "lineitem")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp),
        col("l_suppkey") === col("s_suppkey") && col("s_nationkey") === col("c_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum2(disc(col("l_extendedprice"), col("l_discount"))).as("revenue"))
  }

  val q5Sql: String =
    """SELECT n_name,
      | CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))*(1-CAST(l_discount AS DECIMAL(6,4)))),2) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
      |JOIN nation   ON s_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY n_name""".stripMargin

  /** TPC-H Q6-style forecast revenue change: a pure scan-filter-sum.
    * All three predicates push down to the parquet reader
    * (verified via explain: PushedFilters on l_shipdate/l_discount/
    * l_quantity, ReadSchema of just 4 columns). */
  def q6Filter(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= ts("1997-01-01 00:00:00") &&
              col("l_shipdate") < ts("1998-01-01 00:00:00") &&
              col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
              col("l_quantity") < 24)
      .agg(sum2(d4(col("l_extendedprice"), 12) * d4(col("l_discount"), 6)).as("revenue"),
           count(lit(1)).as("n_items"))

  val q6Sql: String =
    """SELECT
      | CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))*CAST(l_discount AS DECIMAL(6,4))),2) AS DOUBLE) AS revenue,
      | count(*) AS n_items
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  /** Top-3 orders per customer by totalprice — window function with a
    * deterministic orderkey tie-break. Single shuffle on o_custkey. */
  def topNWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
  }

  val topNSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
      | SELECT o_custkey, o_orderkey, o_totalprice,
      |  row_number() OVER (PARTITION BY o_custkey
      |                     ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
      | FROM orders) WHERE rk <= 3""".stripMargin

  /** [[topNWindow]]'s exact result through the AGGREGATE plan shape —
    * the form that survives 100 TB. The window plan shuffles every
    * order row and sorts whole per-customer partitions to keep 3 rows
    * each; this one folds a k-bounded heap
    * ([[graft.functions.TopKStructs]]) with MAP-SIDE partial
    * aggregation, so the shuffle carries at most k rows per (mapper,
    * customer) and nothing is ever sorted beyond the k retained rows.
    * Direction is encoded in the struct (price raw = DESC-by-largest,
    * orderkey negated = ASC tiebreak); the tiebreak makes the order
    * total, so output is deterministic and shares [[topNSql]]'s
    * oracle verbatim. */
  def topKAgg(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TopKColumns.topKStructs
    Tables(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .groupBy(col("o_custkey"))
      .agg(topKStructs(struct(
        col("o_totalprice"),
        (-col("o_orderkey")).as("neg_key")), 3).as("top"))
      .select(col("o_custkey"), posexplode(col("top")))
      .select(col("o_custkey"),
        (-col("col.neg_key")).as("o_orderkey"),
        col("col.o_totalprice").as("o_totalprice"),
        (col("pos") + 1).cast("int").as("rk"))
  }

  /** Semi + anti join composition: customers that have orders but none
    * with status 'F'. Semi/anti joins only ship join keys at scale. */
  def semiAnti(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables(spark, dir, "customer")
    val ord = Tables(spark, dir, "orders")
    val fOrders = ord.filter(col("o_orderstatus") === "F").select("o_custkey")
    cust
      .join(ord.select("o_custkey"), col("c_custkey") === col("o_custkey"), "left_semi")
      .join(fOrders, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
  }

  val semiAntiSql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE c_custkey IN (SELECT o_custkey FROM orders)
      |  AND c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')""".stripMargin

  /** Rollup aggregation over returnflag × linestatus. NULL grouping
    * indicators are coalesced to 'ALL' on both sides so the hash
    * compare is unambiguous. */
  def rollupAgg(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), sum2(d4(col("l_quantity"))).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
        col("n"), col("sum_qty"))

  val rollupSql: String =
    """SELECT coalesce(l_returnflag,'ALL') AS rflag,
      |       coalesce(l_linestatus,'ALL') AS lstatus,
      |       count(*) AS n,
      |       CAST(round(sum(CAST(l_quantity AS DECIMAL(14,4))),2) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin
}
