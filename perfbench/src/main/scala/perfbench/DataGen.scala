package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for the tables the gold_queries mix reads
  * (`region`, `nation`, `customer`, `orders`, `lineitem`, `events`,
  * `documents`, `embeddings`; `part` and `supplier` only as key
  * ranges), at the row counts of a given scale factor and the value
  * domains of the sf0.1 test data. Every value is a hash of (seed, row
  * id, column salt), so the same seed gives the same tables whatever
  * the partitioning. Timestamps are written as Spark's default
  * (INT96), which both Spark and the DuckDB oracle read as a plain
  * timestamp.
  */
object DataGen {
  final case class Sizes(customers: Int, suppliers: Int, parts: Int, orders: Int,
                         events: Int, documents: Int, embeddings: Int)

  /** Row counts at scale factor `sf` (sf0.1: 15,000 customers, 150,000
    * orders, about 600,000 lines). */
  def sizes(sf: Double): Sizes = {
    def n(atSf1: Int) = math.max(25, math.round(atSf1 * sf).toInt)
    Sizes(n(150000), n(10000), n(200000), n(1500000), n(1000000), n(50000), n(20000))
  }

  private val Vocab = Seq("batch", "part", "spark", "line", "column", "order",
    "small", "sort", "fast", "value", "scan", "a", "hash", "slow", "group",
    "agg", "filter", "query", "big", "key", "window", "row", "table",
    "stream", "merge", "data", "the", "customer", "join", "vector")

  /** Uniform double in [0, 1) from the seed, the row's id column and a
    * salt. */
  private def u(seed: Long, salt: Int, id: Column = col("id")): Column =
    pmod(xxhash64(lit(seed), id, lit(salt)), lit(1L << 53)).cast("double") /
      (1L << 53).toDouble

  private def pick(seed: Long, salt: Int, xs: Seq[String],
                   id: Column = col("id")): Column =
    element_at(array(xs.map(lit): _*),
      (floor(u(seed, salt, id) * xs.size) + 1).cast("int"))

  def tables(spark: SparkSession, seed: Long, sz: Sizes): Map[String, DataFrame] = {
    def range(n: Int) = spark.range(0, n, 1, 4)
    val region = spark.createDataFrame(Seq("AFRICA", "AMERICA", "ASIA",
      "EUROPE", "MIDDLE EAST").zipWithIndex.map { case (n, i) => (i, n) })
      .toDF("r_regionkey", "r_name")
    val nation = range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))
    val customer = range(sz.customers).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      floor(u(seed, 1) * 25).cast("int").as("c_nationkey"),
      round(lit(-999.99) + u(seed, 2) * 10999.79, 2).as("c_acctbal"),
      pick(seed, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment"))
    val orderDay = floor(u(seed, 11) * 2403).cast("int") // 1995-01-01 .. 2001-08-01
    val orders = range(sz.orders).select(col("id").as("o_orderkey"),
      floor(u(seed, 12) * sz.customers).cast("long").as("o_custkey"),
      pick(seed, 13, Seq("F", "O", "P")).as("o_orderstatus"),
      round(u(seed, 14) * 500000, 2).as("o_totalprice"),
      date_add(lit("1995-01-01").cast("date"), orderDay).cast("timestamp")
        .as("o_orderdate"),
      pick(seed, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority"),
      (floor(u(seed, 16) * 7) + 1).cast("int").as("n_lines"))
    val lineId = col("o_orderkey") * 8 + col("l_linenumber")
    val lineitem = orders
      .select(col("o_orderkey"), col("o_orderdate"),
        explode(sequence(lit(1), col("n_lines"))).as("l_linenumber"))
      .select(col("o_orderkey").as("l_orderkey"),
        floor(u(seed, 17, lineId) * sz.parts).cast("long").as("l_partkey"),
        floor(u(seed, 18, lineId) * sz.suppliers).cast("long").as("l_suppkey"),
        col("l_linenumber"),
        (floor(u(seed, 19, lineId) * 50) + 1).cast("double").as("l_quantity"),
        round(u(seed, 20, lineId) * 100000 + 900, 2).as("l_extendedprice"),
        (floor(u(seed, 21, lineId) * 11) / 100.0).as("l_discount"),
        (floor(u(seed, 22, lineId) * 9) / 100.0).as("l_tax"),
        pick(seed, 23, Seq("A", "N", "R"), lineId).as("l_returnflag"),
        pick(seed, 24, Seq("O", "F"), lineId).as("l_linestatus"),
        date_add(col("o_orderdate").cast("date"),
          floor(u(seed, 25, lineId) * 120).cast("int")).cast("timestamp")
          .as("l_shipdate"))
    val events = range(sz.events).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        (col("id") * 25920000L + floor(u(seed, 26) * 25920000L)).cast("long"))
        .as("ts"),
      floor(u(seed, 27) * 1500).cast("long").as("user_id"),
      pick(seed, 28, Seq("signup", "click", "error", "view", "purchase")).as("event_type"),
      round(u(seed, 29) * u(seed, 30) * 560.0, 2).as("value"),
      format_string("{\"k\": %d}", floor(u(seed, 31) * 100).cast("int")).as("props"))
    val vocab = array(Vocab.map(lit): _*)
    val nTok = (floor(u(seed, 32) * 80) + 8).cast("int")
    val text = concat_ws(" ", transform(sequence(lit(1), nTok), i =>
      element_at(vocab, (floor(u(seed, 33, col("id") * 1000 + i) * Vocab.size) + 1)
        .cast("int"))))
    val documents = range(sz.documents).select(col("id").as("doc_id"),
      text.as("text"))
      .select(col("doc_id"), col("text"),
        pick(seed, 34, Seq("en", "en", "en", "es", "zh", "de", "fr"), col("doc_id"))
          .as("lang"),
        concat(lit("src"), col("doc_id") % 20).as("source"),
        length(col("text")).cast("long").as("n_chars"))
    val label = floor(u(seed, 35) * 10).cast("int")
    val gauss = (j: Column) => sqrt(lit(-2.0) * log(lit(1.0) - u(seed, 36, col("id") * 64 + j))) *
      cos(lit(2 * math.Pi) * u(seed, 37, col("id") * 64 + j))
    val center = (j: Column) => (u(seed, 38, col("label").cast("long") * 64 + j) - 0.5) * 0.4
    val embeddings = range(sz.embeddings).select(col("id"), label.as("label"))
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)), j =>
          (center(j) + gauss(j) * 0.1).cast("float")).as("embedding"),
        col("label"))
    Map("region" -> region, "nation" -> nation, "customer" -> customer,
      "orders" -> orders.drop("n_lines"),
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings)
  }

  /** Writes `names` as parquet directories `<dir>/<name>.parquet`. */
  def write(spark: SparkSession, seed: Long, dir: String, sz: Sizes,
            names: Seq[String]): Unit = {
    val ts = tables(spark, seed, sz)
    names.foreach(n => ts(n).write.mode("overwrite").parquet(s"$dir/$n.parquet"))
  }
}
