package graft.operators

import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Relational operator surface (SURVEY.md §2.2): scan/filter/project,
  * aggregation, joins, windows, sorts, set ops — the `dask.dataframe`
  * capability re-expressed Spark-first.
  *
  * Every query here is declarative DataFrame API so Catalyst plans it
  * (pushdown, pruning, AQE join selection). Floating aggregates are rounded
  * in BOTH the Spark plan and the DuckDB oracle so partition-order float
  * summation noise can't break hash parity (FIXTURES.md parity notes).
  */
object Relational {

  /** TPC-H Q1-shaped pricing summary: scan → filter → groupBy → 8 aggs →
    * sort. Reference capability: dask `df[df.l_shipdate<=cut].groupby(...)
    * .agg({...})` (SURVEY §2.2 aggregations; deployed lib per
    * dask_ssh_docker/__init__.py:307). */
  val q1PricingSummary: Q = Q(
    "q1_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  round(sum(l_extendedprice), 2) AS sum_base_price,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
      |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
      |  round(avg(l_quantity), 4) AS avg_qty,
      |  round(avg(l_extendedprice), 4) AS avg_price,
      |  round(avg(l_discount), 4) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin
  ) { (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) *
          (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Full SQL entry point (dask `df.query` generalizes to Spark's SQL
    * parser over registered views — `spark.sql` IS the string-predicate
    * DSL at query granularity). Same oracle text runs on both engines. */
  val qSqlApi: Q = Q(
    "q74_sql_api",
    """SELECT o_orderpriority, count(*) AS n_orders,
      |       round(sum(o_totalprice), 2) / count(*) AS avg_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
  ) { (s, d) =>
    Tables.orders(s, d).createOrReplaceTempView("graft_orders")
    Tables.customer(s, d).createOrReplaceTempView("graft_customer")
    s.sql(
      """SELECT o_orderpriority, count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) / count(*) AS avg_price
        |FROM graft_orders JOIN graft_customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }

  val all: Seq[Q] = Seq(q1PricingSummary, qSqlApi)
}
