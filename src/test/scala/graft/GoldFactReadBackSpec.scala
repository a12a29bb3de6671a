package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.medallion.{Bronze, Gold, Silver}
import graft.sources.DeltaLog

/** The medallion gold check at unit scale: a one-shot `Gold.fact` plan
  * over Silver orders compared, with `exceptAll`, against the
  * `DeltaLog.read` of the fact table an incremental build wrote.
  * Silver dedups with `dropDuplicates`, and without
  * [[graft.plans.DedupBeforeExceptAll]] Spark's optimizer leaves the
  * set operation on a stale column id (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND
  * on `order_date`). */
class GoldFactReadBackSpec extends SparkSpec {
  import spark.implicits._

  private val ordersSchema = StructType.fromDDL(
    "order_id BIGINT, order_date STRING, status STRING, " +
      "customer STRUCT<customer_id: BIGINT, name: STRING>, " +
      "items ARRAY<STRUCT<line: INT, product_id: BIGINT, quantity: DOUBLE, price: DOUBLE>>")

  private def fact(orders: DataFrame, dimC: DataFrame, dimP: DataFrame): DataFrame =
    Gold.fact(orders,
      Seq(dimC.select(col("customer_id").as("d_cid")) ->
        (col("customer_customer_id") === col("d_cid")),
        dimP.select(col("product_id").as("d_pid")) ->
          (col("items_product_id") === col("d_pid"))),
      Seq(col("order_id"), col("order_date"), col("customer_customer_id").as("customer_id"),
        col("items_line").as("line"), col("items_product_id").as("product_id"),
        col("items_quantity").as("quantity"), col("items_price").as("price"),
        round(col("items_quantity") * col("items_price"), 2).as("total_value")),
      Seq(col("order_id").isNotNull, col("quantity") > 0, col("quantity") % 1 === 0,
        col("order_date") >= "1900-01-01"))

  test("a one-shot Gold.fact plan exceptAll the Delta read of the written fact is empty") {
    val dir = Files.createTempDirectory("graft-gold-readback").toString
    val orders = (0 until 60).map { o =>
      val items = (1 to 1 + o % 3).map(l =>
        s"""{"line":$l,"product_id":${(o + l) % 7},"quantity":${1 + l}.0,"price":${o % 11}.25}""")
      s"""{"order_id":$o,"order_date":"1996-02-${"%02d".format(1 + o % 28)}","status":"F",""" +
        s""""customer":{"customer_id":${o % 9},"name":"c"},"items":${items.mkString("[", ",", "]")}}"""
    }
    Files.write(Paths.get(dir, "orders.json"), orders.mkString("[", ",\n", "]").getBytes("UTF-8"))
    val silver = Silver.transform(Bronze.wrap(spark.read.schema(ordersSchema)
      .option("multiLine", true).json(s"$dir/orders.json")), Seq("order_id", "items_line"))
    val dimC = (0L until 8L).toDF("customer_id")
    val dimP = (0L until 6L).toDF("product_id")
    DeltaLog.write(spark, dimC, s"$dir/dim_customers")
    DeltaLog.write(spark, dimP, s"$dir/dim_products")
    DeltaLog.write(spark, fact(silver, DeltaLog.read(spark, s"$dir/dim_customers"),
      DeltaLog.read(spark, s"$dir/dim_products")).withColumn("gold_ingest_ts", current_timestamp()),
      s"$dir/fact_sales")

    val got = DeltaLog.read(spark, s"$dir/fact_sales")
    val cols = got.columns.filterNot(_ == "gold_ingest_ts").sorted.map(col)
    val want = fact(silver, dimC, dimP).select(cols: _*)
    val have = got.select(cols: _*)
    assert(have.count() > 0)
    assert(want.exceptAll(have).isEmpty)
    assert(have.exceptAll(want).isEmpty)
  }

  test("EXCEPT ALL and INTERSECT ALL over a dropDuplicates frame with a non-key column") {
    val deduped = Seq((1L, "a"), (1L, "a"), (2L, "c"), (3L, "d")).toDF("k", "v").dropDuplicates("k")
    val other = Seq((1L, "a"), (3L, "x")).toDF("k", "v")
    assert(deduped.exceptAll(other).as[(Long, String)].collect().toSet === Set((2L, "c"), (3L, "d")))
    assert(deduped.select("v", "k").exceptAll(other.select("v", "k")).count() === 2L)
    assert(deduped.intersectAll(other).as[(Long, String)].collect().toSeq === Seq((1L, "a")))
  }
}
