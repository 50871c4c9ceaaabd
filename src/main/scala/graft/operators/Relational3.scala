package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Exact._

/** Third tranche of the relational core — the remaining TPC-H query
  * SHAPES this schema can express (no partsupp table and no
  * commitdate/receiptdate/comment/container columns exist, so filters
  * are adapted to available columns; the SHAPE — join graph, subquery
  * structure, aggregation pattern — is what each query exercises):
  * national market share (Q8), order-count distribution over a left
  * join (Q13), top supplier by max-revenue subquery (Q15), correlated
  * avg-quantity filter (Q17), disjunctive predicate join (Q19), and
  * the double-correlated waiting-supplier exists/not-exists (Q21).
  *
  * Same scale rules as [[Relational]]: broadcast the dims, one shuffle
  * per agg, exact decimal money math, ratios as a single double
  * division of exact sums.
  */
object Relational3 {

  private val discSql =
    "CAST(l_extendedprice AS DECIMAL(12,4))*(1-CAST(l_discount AS DECIMAL(6,4)))"

  /** Q8 shape: market share of one supplier nation inside one customer
    * region, per order year. The share is a conditional-sum ratio: both
    * sums exact decimal, ONE double division. */
  val q8Region = "ASIA"
  val q8Nation = "NATION_5"
  val q8Type = "ECONOMY"

  def q8MktShare(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val part = Tables(spark, dir, "part")
      .filter(col("p_type") === q8Type).select("p_partkey")
    val ord = Tables(spark, dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    val cust = Tables(spark, dir, "customer").select("c_custkey", "c_nationkey")
    val supp = Tables(spark, dir, "supplier").select("s_suppkey", "s_nationkey")
    val nCust = Tables(spark, dir, "nation")
      .select(col("n_nationkey").as("cn_key"), col("n_regionkey"))
    val reg = Tables(spark, dir, "region")
      .filter(col("r_name") === q8Region).select("r_regionkey")
    val nSupp = Tables(spark, dir, "nation")
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val vol = disc(col("l_extendedprice"), col("l_discount"))
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nCust), col("c_nationkey") === col("cn_key"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nSupp), col("s_nationkey") === col("sn_key"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        (sum(when(col("supp_nation") === q8Nation, vol)
              .otherwise(lit(0).cast("decimal(20,8)"))).cast("double") /
         sum(vol).cast("double")).as("mkt_share"),
        count(lit(1)).as("n_items"))
  }

  val q8Sql: String =
    s"""SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       | CAST(sum(CASE WHEN ns.n_name = '$q8Nation'
       |   THEN $discSql ELSE CAST(0 AS DECIMAL(20,8)) END) AS DOUBLE) /
       | CAST(sum($discSql) AS DOUBLE) AS mkt_share,
       | count(*) AS n_items
       |FROM lineitem
       |JOIN part     ON l_partkey = p_partkey AND p_type = '$q8Type'
       |JOIN orders   ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation nc ON c_nationkey = nc.n_nationkey
       |JOIN region   ON nc.n_regionkey = r_regionkey AND r_name = '$q8Region'
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ns ON s_nationkey = ns.n_nationkey
       |GROUP BY 1""".stripMargin

  /** Q13 shape: distribution of per-customer order counts over a left
    * outer join (customers with zero qualifying orders count in the
    * c_count = 0 bucket). The comment filter has no comment column —
    * excluding urgent orders stands in. */
  def q13CustDist(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables(spark, dir, "customer").select("c_custkey")
    val ord = Tables(spark, dir, "orders")
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select("o_orderkey", "o_custkey")
    cust.join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }

  val q13Sql: String =
    """SELECT c_count, count(*) AS custdist FROM (
      | SELECT c_custkey, count(o_orderkey) AS c_count
      | FROM customer LEFT OUTER JOIN orders
      |   ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      | GROUP BY c_custkey)
      |GROUP BY c_count""".stripMargin

  /** Q15 shape: supplier(s) with the maximum revenue over a quarter —
    * aggregate, then a broadcast max-scalar join (ties kept, as in the
    * spec's view formulation). Revenue equality across engines is safe:
    * both doubles derive from the identical exact decimal sum. */
  val q15Start = "1997-01-01"
  val q15End = "1997-04-01"

  def q15TopSupp(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= ts(q15Start) && col("l_shipdate") < ts(q15End))
      .groupBy(col("l_suppkey"))
      .agg(sum2(disc(col("l_extendedprice"), col("l_discount"))).as("total_revenue"))
    val maxRev = rev.agg(max(col("total_revenue")).as("mr"))
    val supp = Tables(spark, dir, "supplier").select("s_suppkey", "s_name")
    rev.crossJoin(broadcast(maxRev))
      .filter(col("total_revenue") === col("mr"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .select("s_suppkey", "s_name", "total_revenue")
  }

  val q15Sql: String =
    s"""WITH revenue AS (
       | SELECT l_suppkey,
       |  CAST(round(sum($discSql),2) AS DOUBLE) AS total_revenue
       | FROM lineitem
       | WHERE l_shipdate >= TIMESTAMP '$q15Start' AND l_shipdate < TIMESTAMP '$q15End'
       | GROUP BY l_suppkey)
       |SELECT s_suppkey, s_name, total_revenue
       |FROM revenue JOIN supplier ON l_suppkey = s_suppkey
       |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)""".stripMargin

  /** Q17 shape: revenue from small-quantity lines of one brand's small
    * parts, where "small quantity" is correlated: below 20% of that
    * part's average quantity. The per-part average is an exact-sum
    * double division; 0.2·avg is the same IEEE product both engines. */
  val q17Brand = "Brand#3"
  val q17MaxSize = 10

  def q17SmallQty(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val part = Tables(spark, dir, "part")
      .filter(col("p_brand") === q17Brand && col("p_size") <= q17MaxSize)
      .select("p_partkey")
    // Semi-join the (broadcast) filtered part keys into the aggregate
    // input: the per-part average only ever matters for parts that
    // survive the brand/size filter, so aggregating all of lineitem
    // would shuffle the whole fact table to compute averages that are
    // then discarded. The average itself is unchanged (it is per
    // partkey over that part's rows), so the oracle hash stays green.
    val avgQty = li
      .join(broadcast(part), col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_partkey").as("ap_key"))
      .agg(avgExact(d4(col("l_quantity"))).as("avg_qty"))
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(avgQty, col("l_partkey") === col("ap_key"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg((sum(d4(col("l_extendedprice"), 12)).cast("double") / 7.0).as("avg_yearly"),
           count(lit(1)).as("n_lines"))
  }

  val q17Sql: String =
    s"""SELECT
       | CAST(sum(CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE)/7.0 AS avg_yearly,
       | count(*) AS n_lines
       |FROM lineitem
       |JOIN part ON p_partkey = l_partkey
       |  AND p_brand = '$q17Brand' AND p_size <= $q17MaxSize
       |WHERE l_quantity < 0.2 * (
       | SELECT CAST(sum(CAST(l_quantity AS DECIMAL(14,4))) AS DOUBLE)/count(*)
       | FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey)""".stripMargin

  /** Q19 shape: disjunctive multi-attribute predicates across the
    * fact⋈dim join — the OR-of-ANDs pattern that exercises predicate
    * pushdown and join-condition placement. */
  def q19Disjunct(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val part = Tables(spark, dir, "part").select("p_partkey", "p_brand", "p_size")
    val cond =
      (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 20)) ||
      (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
        col("l_quantity").between(10, 30)) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(20, 50) &&
        col("l_quantity").between(20, 40))
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .filter(cond)
      .agg(sum2(disc(col("l_extendedprice"), col("l_discount"))).as("revenue"),
           count(lit(1)).as("n_items"))
  }

  val q19Sql: String =
    s"""SELECT
       | CAST(round(sum($discSql),2) AS DOUBLE) AS revenue,
       | count(*) AS n_items
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
       |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 30)
       |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 40)""".stripMargin

  /** Q21 shape: suppliers who were the ONLY late shipper on a
    * multi-supplier finished order — EXISTS(other supplier) AND NOT
    * EXISTS(other LATE supplier), as a left-semi then left-anti join
    * over distinct (order, supplier) pairs. "Late" is adapted to this
    * schema: shipped more than 60 days after the order date. */
  val q21LateDays = 60

  def q21Waiting(spark: SparkSession, dir: String): DataFrame = {
    val ordF = Tables(spark, dir, "orders")
      .filter(col("o_orderstatus") === "F").select("o_orderkey", "o_orderdate")
    val li = Tables(spark, dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    val pairs = li.join(ordF, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $q21LateDays DAYS"))
          .as("late"))
    // ONE aggregate over the fact join feeds both pair sets (any-late
    // flag per pair); identical subplans → the exchange is reused
    // instead of re-running the lineitem⋈orders join per consumer.
    val pairAgg = pairs.groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("late")).as("any_late"))
    val allPairs = pairAgg.select(col("l_orderkey").as("ao"), col("l_suppkey").as("asup"))
    val latePairs = pairAgg.filter(col("any_late"))
      .select(col("l_orderkey").as("lo"), col("l_suppkey").as("lsup"))
    val lateOther = latePairs.select(col("lo").as("xo"), col("lsup").as("xsup"))
    val waiting = latePairs
      .join(allPairs, col("lo") === col("ao") && col("lsup") =!= col("asup"), "left_semi")
      .join(lateOther, col("lo") === col("xo") && col("lsup") =!= col("xsup"), "left_anti")
    val supp = Tables(spark, dir, "supplier").select("s_suppkey", "s_name")
    waiting.join(broadcast(supp), col("lsup") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
  }

  val q21Sql: String =
    s"""WITH pairs AS (
       | SELECT l_orderkey, l_suppkey,
       |  l_shipdate > o_orderdate + INTERVAL $q21LateDays DAY AS late
       | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       | WHERE o_orderstatus = 'F'),
       |allp AS (SELECT DISTINCT l_orderkey, l_suppkey FROM pairs),
       |latep AS (SELECT DISTINCT l_orderkey, l_suppkey FROM pairs WHERE late)
       |SELECT s_name, count(*) AS numwait
       |FROM latep l1
       |JOIN supplier ON l1.l_suppkey = s_suppkey
       |WHERE EXISTS (
       |  SELECT 1 FROM allp l2
       |  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
       |AND NOT EXISTS (
       |  SELECT 1 FROM latep l3
       |  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey)
       |GROUP BY s_name""".stripMargin
}
