package graft
package queries

import graft.SparkEntry.t
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** TPC-H analytics: the q* queries, each engine next to its DuckDB
  * oracle. */
private[graft] object AnalyticsQueries {

  /** Order-independent rounded money sum: per-row DECIMAL(38,6) cast
    * before the sum. A double sum is merge-order-dependent, and at sf1
    * volumes (6M lineitem) the rounded cent digit diverged between
    * engines/runs; the decimal sum is exact and order-independent, and
    * the cast itself is deterministic (the product's double error sits
    * ~8 digits below the 6th decimal for 4-decimal price data). The
    * oracle-SQL twin is `round(sum(CAST(e AS DECIMAL(38,6))),2)::DOUBLE`. */
  private def decSum(c: Column): Column =
    round(sum(c.cast("decimal(38,6)")), 2).cast("double")

  val defs: Seq[QueryDef] = Seq(

    QueryDef("q1_pricing_summary", ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          decSum(col("l_quantity")).as("sum_qty"),
          decSum(col("l_extendedprice")).as("sum_base_price"),
          decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
      """SELECT l_returnflag, l_linestatus,
        | round(sum(CAST(l_quantity AS DECIMAL(38,6))),2)::DOUBLE AS sum_qty,
        | round(sum(CAST(l_extendedprice AS DECIMAL(38,6))),2)::DOUBLE AS sum_base_price,
        | round(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(38,6))),2)::DOUBLE AS sum_disc_price,
        | round(sum(CAST(l_extendedprice*(1-l_discount)*(1+l_tax) AS DECIMAL(38,6))),2)::DOUBLE AS sum_charge,
        | count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    QueryDef("q3_top_orders", ((s, dir) => {
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders").filter(col("o_orderdate") < lit("1998-06-01").cast("timestamp"))
      val li = t(s, dir, "lineitem").filter(col("l_shipdate") > lit("1998-06-01").cast("timestamp"))
      cust.join(ord, col("c_custkey") === col("o_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey"), col("revenue"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"))
    }),
      """SELECT l_orderkey, round(sum(l_extendedprice*(1-l_discount)),2) AS revenue,
        | strftime(o_orderdate, '%Y-%m-%d') AS o_date
        |FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01'
        |  AND l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),

    QueryDef("q5_region_volume", ((s, dir) => {
      val r = broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA"))
      val n = broadcast(t(s, dir, "nation"))
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val li = t(s, dir, "lineitem")
      val sup = broadcast(t(s, dir, "supplier"))
      r.join(n, col("n_regionkey") === col("r_regionkey"))
        .join(c, col("c_nationkey") === col("n_nationkey"))
        .join(o, col("o_custkey") === col("c_custkey"))
        .join(li, col("l_orderkey") === col("o_orderkey"))
        .join(sup, col("s_suppkey") === col("l_suppkey") && col("s_nationkey") === col("c_nationkey"))
        .groupBy("n_name")
        .agg(decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),
      """SELECT n_name, round(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(38,6))),2)::DOUBLE AS revenue
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        | JOIN customer ON c_nationkey = n_nationkey
        | JOIN orders ON o_custkey = c_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        | JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin),

    QueryDef("q6_forecast_revenue", ((s, dir) =>
      // TPC-H Q6 shape: every predicate reaches the parquet scan
      // (PushedFilters + row-group pruning), result is a single
      // map-side-combined aggregate — the minimal full-scan query
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(decSum(col("l_extendedprice") * col("l_discount")).as("revenue"),
          count(lit(1)).as("n"))),
      """SELECT round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(38,6))), 2)::DOUBLE AS revenue, count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin))
}
