package graft.operators

import graft.SparkTestBase
import graft.core.Tables
import org.apache.spark.sql.functions._

class DataQualityOpsSpec extends SparkTestBase {
  import spark.implicits._

  test("fixture report: every count matches a direct recompute; only the deliberate subset fails") {
    val rows = DataQualityOps.constraintReport(t).collect()
      .map(r => r.getAs[String]("constraint") -> r).toMap
    assert(rows.size == 10)
    // independent recomputes
    val oRows = t.orders.count()
    assert(rows("orders_pk_unique").getAs[Long]("n_rows") == oRows)
    assert(rows("orders_pk_unique").getAs[Long]("n_violations") ==
      oRows - t.orders.select("o_orderkey").distinct().count())
    assert(rows("orders_fk_customer").getAs[Long]("n_violations") ==
      t.orders.join(t.customer,
        col("o_custkey") === col("c_custkey"), "left_anti").count())
    assert(rows("lineitem_fk_orders").getAs[Long]("n_violations") ==
      t.lineitem.join(t.orders,
        col("l_orderkey") === col("o_orderkey"), "left_anti").count())
    // the deliberately-narrow domain must FAIL on TPC-H-shaped data
    // (priorities 4-NOT SPECIFIED / 5-LOW exist) — proof the suite counts
    assert(!rows("orders_priority_subset").getAs[Boolean]("passed"))
    assert(rows("orders_priority_subset").getAs[Long]("n_violations") > 0)
    // clean-fixture constraints pass
    Seq("orders_pk_unique", "orders_custkey_not_null", "orders_status_domain",
      "orders_totalprice_positive", "orders_fk_customer",
      "documents_pk_unique", "lineitem_quantity_range", "lineitem_fk_orders")
      .foreach(c => assert(rows(c).getAs[Boolean]("passed"), s"$c should pass"))
  }

  test("injected violations are each caught by exactly the right constraint") {
    val dir = Tables.scratchDir("graft_dq_doctored")
    // orders: duplicate pk, null custkey, bad status, zero price, orphan FK
    Seq(
      (1L, Some(10L), "F", "1-URGENT", 100.0),
      (1L, Some(10L), "O", "2-HIGH", 50.0),     // duplicate o_orderkey
      (2L, None, "O", "1-URGENT", 25.0),        // null custkey
      (3L, Some(10L), "X", "1-URGENT", 10.0),   // bad status
      (4L, Some(10L), "F", "1-URGENT", 0.0),    // non-positive price
      (5L, Some(99L), "F", "1-URGENT", 75.0))   // orphan custkey
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
        "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    Seq(Tuple1(10L)).toDF("c_custkey").write.parquet(s"$dir/customer.parquet")
    Seq((1L, 5.0), (2L, 500.0), (77L, 10.0))    // out-of-range qty + orphan
      .toDF("l_orderkey", "l_quantity").write.parquet(s"$dir/lineitem.parquet")
    Seq((1L, "src0", "hello"), (1L, "src0", "dup id"),
      (2L, "src1", null.asInstanceOf[String]))
      .toDF("doc_id", "source", "text").write.parquet(s"$dir/documents.parquet")
    val rows = DataQualityOps.constraintReport(Tables(spark, dir)).collect()
      .map(r => r.getAs[String]("constraint") ->
        (r.getAs[Long]("n_violations"), r.getAs[Boolean]("passed"))).toMap
    assert(rows("orders_pk_unique") == ((1L, false)))
    assert(rows("orders_custkey_not_null") == ((1L, false)))
    assert(rows("orders_status_domain") == ((1L, false)))
    assert(rows("orders_totalprice_positive") == ((1L, false)))
    assert(rows("orders_fk_customer") == ((1L, false)))
    assert(rows("documents_pk_unique") == ((1L, false)))
    // 1 null of 3 docs = 33% > 5% tolerance
    assert(rows("documents_text_complete") == ((1L, false)))
    assert(rows("lineitem_quantity_range") == ((1L, false)))
    assert(rows("lineitem_fk_orders") == ((1L, false)))
  }

  test("row-local orders constraints run in ONE pass (a single scan of orders)") {
    // the scale contract: adding a row-local constraint must not add a
    // scan — count parquet scans of the orders fixture in the plan
    val plan = DataQualityOps.constraintReport(t).queryExecution
      .executedPlan.toString
    val ordersScans = "orders\\.parquet".r.findAllIn(plan).length
    // one scan for the row-local agg + one as the FK-join left side + one
    // as the lineitem-FK right side = 3; row-local constraints share one
    assert(ordersScans <= 3, s"expected <=3 orders scans, got $ordersScans\n$plan")
  }
}
