package graft

import org.apache.spark.sql.functions._

import graft.operators.Relational

class RelationalSpec extends SparkTestBase {

  test("pricingSummary: one row per (returnflag, linestatus), exact sums") {
    val df = Relational.pricingSummary(spark, sf).collect()
    assert(df.nonEmpty)
    val keys = df.map(r => (r.getString(0), r.getString(1)))
    assert(keys.distinct.length === keys.length)
    df.foreach { r =>
      assert(r.getDouble(r.fieldIndex("sum_qty")) > 0)
      assert(r.getLong(r.fieldIndex("count_order")) > 0)
    }
  }

  test("revenueByNation: covers all nations with customers, revenue positive") {
    val rows = Relational.revenueByNation(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(r.fieldIndex("revenue")) > 0))
  }

  test("ordersPerCustomerHistogram: weighted sum equals order count") {
    val hist = Relational.ordersPerCustomerHistogram(spark, sf)
    val total = hist.agg(sum(col("n_orders") * col("n_customers"))).head().getLong(0)
    val nOrders = Tables.load(spark, sf, "orders").count()
    assert(total === nOrders)
  }

  test("topOrderPerCustomer: one row per customer with orders, max price") {
    val top = Relational.topOrderPerCustomer(spark, sf)
    val nCustWithOrders = Tables.load(spark, sf, "orders")
      .select("o_custkey").distinct().count()
    assert(top.count() === nCustWithOrders)
    // spot check: the top price matches the max aggregate for that customer
    val first = top.head()
    val expected = Tables.load(spark, sf, "orders")
      .filter(col("o_custkey") === first.getLong(0))
      .agg(max("o_totalprice")).head().getDouble(0)
    assert(first.getDouble(2) === expected)
  }

  test("reconciliation: tallies partition the customer set") {
    val r = Relational.orderReconciliation(spark, sf).head()
    assert(r.getLong(0) === r.getLong(1) + r.getLong(2))
  }

  test("pivot: row sums equal per-priority counts") {
    val piv = Relational.statusByPriorityPivot(spark, sf)
    val total = piv.agg(sum(col("status_f") + col("status_o") + col("status_p")))
      .head().getLong(0)
    assert(total === Tables.load(spark, sf, "orders").count())
  }
}
