package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Det.{roundTo, sqlRound}
import graft.sources.{Layout, Tables}
import graft.operators.{Dedup, Flatten, Hierarchy}
import graft.medallion.{Bronze, Gold, Silver}
import graft.quality.QualityChecks
import graft.text.{Dsir, Relevance, TextFunctions}
import graft.dedup.{NearDup, SubstringDedup}
import graft.similarity.Similarity
import graft.streaming.Streams

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Cross-engine determinism rules used throughout (the DuckDB oracle
  * must hash-match bit-for-bit):
  *  - double SUMs go through exact decimal accumulation:
  *    `sum(round(x,2)::decimal(18,2))::double` — immune to
  *    summation-order FP drift, schema stays DOUBLE.
  *  - averages divide the exact decimal sum by the count, then round.
  *  - event timestamps (ns in parquet) are emitted as epoch millis
  *    (both engines truncate), order-date timestamps as DATE.
  *  - every query ends in a deterministic total ORDER BY.
  */
object SparkEntry {

  /** Id-space tag for synthetic clone/excerpt rows planted by the
    * dedup queries: real doc_ids are dense small integers at every
    * SF, so `doc_id | 2^40` is provably disjoint from the natural id
    * space up to a trillion-document corpus (a low additive offset
    * like +100000 collides with real ids as soon as the SF produces
    * that many docs — and because the oracle drifts identically, the
    * gate would keep passing while the query's semantics silently
    * changed). High-bit tag rather than negation so min(doc_id)
    * still selects the ORIGINAL as the canonical survivor. */
  private val SyntheticIdTag = 1L << 40 // 1099511627776

  /** Corpus for the exact-substring dedup queries: documents plus
    * planted FULL clones (every 10th doc, id | 2^40) and 20-token
    * PREFIX clones (docs ≡3 mod 7 with ≥40 normalized tokens,
    * id | 2^41) — full clones duplicate every window of the
    * original, prefix clones duplicate exactly its first 13
    * 8-token windows, so both total and partial span overlap are
    * exercised and graded. Token counting uses the same
    * whitespace-normalized split as [[SubstringDedup.tokens]] /
    * the DuckDB oracle. */
  private def substringCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val toks = SubstringDedup.tokens(col("text"))
    val fullClones = docs
      .where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + SyntheticIdTag).as("doc_id"), col("text"))
    val prefixClones = docs
      .where(col("doc_id") % 7 === 3 && size(toks) >= 40)
      .select((col("doc_id") + 2L * SyntheticIdTag).as("doc_id"),
        concat_ws(" ", slice(toks, 1, 20)).as("text"))
    docs.unionAll(fullClones).unionAll(prefixClones)
  }

  // ---- cross-engine-deterministic aggregation helpers ----
  private def sumD(c: Column): Column =
    sum(roundTo(c, 2).cast("decimal(18,2)")).cast("double")
  private def avgD(c: Column): Column =
    roundTo(sum(roundTo(c, 2).cast("decimal(18,2)")).cast("double") / count(lit(1)), 4)
  private def sqlSumD(e: String): String =
    s"CAST(SUM(CAST(${sqlRound(e, 2)} AS DECIMAL(18,2))) AS DOUBLE)"
  private def sqlAvgD(e: String): String =
    sqlRound(s"CAST(SUM(CAST(${sqlRound(e, 2)} AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*)", 4)

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("fact_sales")(spark, "/root/testdata/sf0.001")

  // ================= gold dimension builders (shared) =================

  private def dimCustomer(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(
        col("c_custkey").as("customer_id"),
        col("c_name").as("name"),
        // initcap normalization exactly as the reference dims
        // (gold_transformation.py:45-46 initcap(city/country));
        // the DuckDB replica re-derives it by word-splitting
        initcap(col("n_name")).as("nation"),
        initcap(col("r_name")).as("region"),
        lower(col("c_mktsegment")).as("segment"),
        roundTo(col("c_acctbal"), 2).as("acctbal"))
      .filter(col("customer_id").isNotNull)
      // gold-layer lineage timestamp exactly as the reference adds to
      // every gold table (gold_transformation.py:50,76) — fixed epoch
      // (the deterministic-ts pattern Bronze uses) so hashes are
      // stable; production would use current_timestamp()
      .withColumn("gold_ingest_ts", to_timestamp(lit("2026-01-01 00:00:00")))
  }

  /** DuckDB replica of Spark `initcap` (DuckDB 1.x has no initcap):
    * lowercase, split on single spaces, capitalize each word head. */
  private def sqlInitcap(e: String): String =
    s"array_to_string(list_transform(string_split(lower($e), ' '), w -> upper(w[1]) || w[2:]), ' ')"

  private def dimPart(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select(
      col("p_partkey").as("product_id"),
      col("p_name").as("product_name"),
      lower(col("p_type")).as("category"),
      lower(col("p_brand")).as("brand"),
      roundTo(col("p_retailprice"), 2).as("price"))
      .filter(col("product_id").isNotNull && col("price") > 0)
      .withColumn("gold_ingest_ts", to_timestamp(lit("2026-01-01 00:00:00")))

  private def dimCustomerSql =
    s"""SELECT c_custkey AS customer_id, c_name AS name, ${sqlInitcap("n_name")} AS nation,
       | ${sqlInitcap("r_name")} AS region, lower(c_mktsegment) AS segment, floor((c_acctbal)*100 + 0.5)/100 AS acctbal,
       | epoch_ms(TIMESTAMP '2026-01-01 00:00:00') AS gold_ingest_ms
       |FROM customer JOIN nation ON c_nationkey = n_nationkey
       | JOIN region ON n_regionkey = r_regionkey
       |WHERE c_custkey IS NOT NULL""".stripMargin
  private val dimPartSql =
    """SELECT p_partkey AS product_id, p_name AS product_name, lower(p_type) AS category,
      | lower(p_brand) AS brand, floor((p_retailprice)*100 + 0.5)/100 AS price,
      | epoch_ms(TIMESTAMP '2026-01-01 00:00:00') AS gold_ingest_ms
      |FROM part WHERE p_partkey IS NOT NULL AND floor((p_retailprice)*100 + 0.5)/100 > 0""".stripMargin

  // ================= queries =================

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- relational / analytics core ----

    "q1_pricing_summary" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sumD(col("l_quantity")).as("sum_qty"),
          sumD(col("l_extendedprice")).as("sum_base_price"),
          sumD(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          sumD(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("sum_charge"),
          avgD(col("l_quantity")).as("avg_qty"),
          avgD(col("l_extendedprice")).as("avg_price"),
          avgD(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q_revenue_nation" -> ((s, d) => {
      val c = Tables.customer(s, d); val n = Tables.nation(s, d)
      val o = Tables.orders(s, d); val l = Tables.lineitem(s, d)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(sumD(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("revenue").desc, col("nation").asc)
    }),

    "q_top_orders_per_cust" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s, d)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("o_custkey"), col("rank"), col("o_orderkey"),
          roundTo(col("o_totalprice"), 2).as("totalprice"))
        .orderBy("o_custkey", "rank")
    }),

    "q_rollup_revenue" -> ((s, d) => {
      Tables.lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(sumD(col("l_extendedprice")).as("revenue"), count(lit(1)).as("n_lines"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    "q_cube_revenue" -> ((s, d) => {
      Tables.lineitem(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(sumD(col("l_extendedprice")).as("revenue"), count(lit(1)).as("n_lines"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    "q_grouping_sets" -> ((s, d) => {
      // explicit GROUPING SETS (not derivable from rollup/cube):
      // (flag, status), (status), () — native Dataset API
      Tables.lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(sumD(col("l_extendedprice")).as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }),

    "q_range_frame" -> ((s, d) => {
      // RANGE frame (value-bounded, not row-bounded): per user, the
      // rolling 1h sum of event values. Tie-safe determinism: a range
      // frame includes ALL peers of the current order value.
      val w = Window.partitionBy("user_id")
        .orderBy(unix_millis(col("ts")))
        .rangeBetween(-3600000L, 0L)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          sum(roundTo(col("value"), 2).cast("decimal(18,2)")).over(w)
            .cast("double").as("rolling_value"))
        .orderBy("event_id")
    }),

    "q_repeat_buyers" -> ((s, d) => {
      // set-operation semantics (1996∩1997 = repeat, 1996∖1997 =
      // lapsed) computed as ONE conditional-aggregation scan: the
      // INTERSECT/EXCEPT formulation built each year's buyer set
      // twice (4 scans of orders); per-custkey year flags read the
      // table once and shuffle once. The oracle keeps the
      // INTERSECT/EXCEPT SQL — cross-formulation equivalence is part
      // of the check.
      val yr = year(col("o_orderdate"))
      Tables.orders(s, d)
        .filter(yr === 1996 || yr === 1997)
        .groupBy(col("o_custkey"))
        .agg(max(when(yr === 1996, lit(1)).otherwise(lit(0))).as("__y96"),
          max(when(yr === 1997, lit(1)).otherwise(lit(0))).as("__y97"))
        .filter(col("__y96") === 1)
        .select(col("o_custkey"),
          when(col("__y97") === 1, lit("repeat")).otherwise(lit("lapsed")).as("status"))
        .orderBy("status", "o_custkey")
    }),

    "q_correlated_sub" -> ((s, d) => {
      // correlated scalar subquery through the SQL surface: Catalyst
      // decorrelates it into an aggregate + join. The EXACT same SQL
      // text is the DuckDB oracle — full SQL-dialect parity (the
      // subquery average uses decimal accumulation so the threshold
      // is bit-identical on both engines).
      Tables.customer(s, d).createOrReplaceTempView("customer")
      s.sql(correlatedSubSql)
    }),

    "q_cust_no_orders" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o95 = Tables.orders(s, d)
        .filter(col("o_orderdate") < to_timestamp(lit("1996-01-01 00:00:00")))
      c.join(o95, c("c_custkey") === o95("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    }),

    "q_late_orders" -> ((s, d) => {
      // TPC-H Q4 shape: EXISTS semi-join whose predicate spans both
      // sides — orders having ANY lineitem shipped >90 days after
      // the order date, counted by priority. The o_orderkey equi-key
      // keeps the plan a hash/sort-merge semi-join (the inequality
      // rides along as a post-probe filter, never a cartesian);
      // integer epoch-day arithmetic matches both engines exactly.
      val o = Tables.orders(s, d)
      val l = Tables.lineitem(s, d)
      o.join(l, o("o_orderkey") === l("l_orderkey") &&
          datediff(l("l_shipdate").cast("date"), o("o_orderdate").cast("date")) > 90,
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    }),

    "q_cust_order_dist" -> ((s, d) => {
      // TPC-H Q13 shape: count-of-counts — orders per customer
      // through a filtered LEFT join (zero-order customers kept at
      // count 0), then the histogram of those counts. Both
      // aggregations are map-side combinable; the second shuffles
      // only the tiny count domain.
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).filter(col("o_orderstatus") =!= "F")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .groupBy(c("c_custkey"))
        .agg(count(o("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    "q_part_supp_cnt" -> ((s, d) => {
      // TPC-H Q16 shape: distinct-supplier counts per part attribute
      // with a NOT-IN exclusion. The exclusion list (suppliers in
      // debt) is a broadcast anti-join, part is broadcast onto
      // lineitem — the only wide operation is the distinct
      // aggregation on (brand, size).
      val l = Tables.lineitem(s, d)
      val p = Tables.part(s, d)
      val badSupp = Tables.supplier(s, d)
        .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
      l.join(broadcast(badSupp), l("l_suppkey") === badSupp("s_suppkey"), "left_anti")
        .join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .groupBy(col("p_brand"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
    }),

    "q_skyline_parts" -> ((s, d) => {
      // Per-brand Pareto frontier (skyline): keep a part iff no
      // same-brand part is cheaper-with-at-least-its-size or
      // same-price-with-larger-size. Computed WITHOUT the all-pairs
      // join: max size per (brand, price) group, a running
      // strict-prior max over the per-price rows (bounded per-brand
      // window), then a join back — p survives iff it tops its own
      // price group and beats every cheaper group's max. The oracle
      // is the textbook NOT-EXISTS dominance formulation, so the
      // hash gate checks cross-formulation equivalence.
      val p = Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"), col("p_retailprice"), col("p_size"))
      val g = p.groupBy(col("p_brand"), col("p_retailprice"))
        .agg(max(col("p_size")).as("grp_max"))
      val w = Window.partitionBy(col("p_brand")).orderBy(col("p_retailprice"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val g2 = g.withColumn("prior_max", max(col("grp_max")).over(w))
      p.join(g2, Seq("p_brand", "p_retailprice"))
        .filter(col("p_size") === col("grp_max") &&
          (col("prior_max").isNull || col("prior_max") < col("p_size")))
        .select(col("p_brand"), col("p_partkey"),
          roundTo(col("p_retailprice"), 2).as("price"), col("p_size"))
        .orderBy("p_brand", "p_partkey")
    }),

    "q_km_survival" -> ((s, d) => {
      // Kaplan-Meier survival of days-from-order-to-first-shipment per
      // order priority, right-censored at 60 days. Order durations are
      // one combinable min-shuffle + a co-keyed join; the KM table
      // lives entirely on the bounded priority × day cells frame:
      // at-risk counts from running sums, per-step ln(1 − d/n) terms
      // rounded 6 and accumulated as DECIMAL(28,6) into the
      // log-survival curve (the ln-score recipe — exp is NOT applied
      // because libm exp isn't bit-stable cross-engine, ln at 6 dp
      // is). Censored-only days carry no KM step and are dropped.
      // Negative durations (the synthetic data ships some lines
      // before the order date) are invalid observations and are
      // DQ-filtered, keeping the cells frame on the 0..60-day grid.
      val first = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey")).agg(min(col("l_shipdate")).as("ship1"))
      val dur = Tables.orders(s, d)
        .join(first, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderpriority").as("priority"),
          datediff(col("ship1").cast("date"), col("o_orderdate").cast("date"))
            .as("t"))
        .filter(col("t") >= 0)
        .select(col("priority"),
          when(col("t") > 60, 60).otherwise(col("t")).as("day"),
          when(col("t") <= 60, 1L).otherwise(0L).as("ev"))
      val cells = dur.groupBy(col("priority"), col("day"))
        .agg(sum(col("ev")).as("d"), sum(lit(1L) - col("ev")).as("c"))
      val wPrior = Window.partitionBy("priority").orderBy(col("day").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val wTot = Window.partitionBy("priority")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val wCum = Window.partitionBy("priority").orderBy(col("day").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells
        .withColumn("n_risk", sum(col("d") + col("c")).over(wTot) -
          coalesce(sum(col("d") + col("c")).over(wPrior), lit(0L)))
        .withColumn("__term", roundTo(log(lit(1.0) -
          col("d").cast("double") / col("n_risk").cast("double")), 6))
        .withColumn("km_log_s", roundTo(
          sum(when(col("d") > 0, col("__term")).otherwise(lit(0.0))
            .cast("decimal(28,6)")).over(wCum).cast("double"), 6))
        .filter(col("d") > 0)
        .select(col("priority"), col("day"), col("d"), col("n_risk"),
          roundTo(col("d").cast("double") / col("n_risk").cast("double"), 6)
            .as("hazard"),
          col("km_log_s"))
        .orderBy("priority", "day")
    }),

    "q_small_qty_revenue" -> ((s, d) => {
      // TPC-H Q17 shape: revenue locked in small-quantity lines —
      // lines whose quantity is below 20% of their part's average.
      // The per-part (sum, count) frame is ONE combinable shuffle and
      // joins back to the fact co-keyed on partkey; the 20%-of-avg
      // gate is the exact integer cross-multiply 5·q·n < Σq in
      // quantity cents (no FP ratio near the cut). Final 1-row
      // avg-yearly agg is combinable (whitelisted in the lint).
      val qc = floor(col("l_quantity") * 100 + lit(0.5)).cast("long")
      val li = Tables.lineitem(s, d)
        .select(col("l_partkey"), qc.as("qc"), col("l_extendedprice"))
      val stats = li.groupBy(col("l_partkey"))
        .agg(sum(col("qc")).as("sum_qc"), count(lit(1)).as("n_lines"))
      li.join(stats, "l_partkey")
        .filter(col("qc") * 5 * col("n_lines") < col("sum_qc"))
        .agg(roundTo(sum(roundTo(col("l_extendedprice"), 2)
          .cast("decimal(18,2)")).cast("double") / 7, 2).as("avg_yearly"))
    }),

    "q_big_orders" -> ((s, d) => {
      // TPC-H Q18 shape: orders whose line quantities sum past a
      // threshold, joined back to order/customer detail. The per-order
      // quantity sum is a combinable cents shuffle; the survivors
      // frame is tiny, so the joins back to orders (co-keyed) and
      // customer stay cheap and the HAVING never rescans the fact.
      val qc = floor(col("l_quantity") * 100 + lit(0.5)).cast("long")
      val big = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(sum(qc).as("qty_cents"))
        .filter(col("qty_cents") > 200 * 100)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      big.join(o, big("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("order_date"),
          roundTo(col("o_totalprice"), 2).as("total_price"),
          roundTo(col("qty_cents").cast("double") / 100, 2).as("total_qty"))
        .orderBy("o_orderkey")
    }),

    "q_idle_rich_customers" -> ((s, d) => {
      // TPC-H Q22 shape: customers strictly above the positive-balance
      // average with no orders in the early era (< 1994) — the
      // untapped-prospects roll-up per nation. The average is a 1-row
      // combinable agg (whitelisted) applied as the exact
      // cross-multiply bal·n > Σbal in cents; "no early orders" is a
      // left-anti join on custkey whose probe side is date-pruned and
      // projects only the key, so the anti side shuffles narrow.
      val bc = floor(col("c_acctbal") * 100 + lit(0.5)).cast("long")
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"), bc.as("bal_cents"))
      val avgPos = cust.filter(col("bal_cents") > 0)
        .agg(sum(col("bal_cents")).as("sum_cents"), count(lit(1)).as("n_pos"))
      cust.crossJoin(broadcast(avgPos))
        .filter(col("bal_cents") * col("n_pos") > col("sum_cents"))
        .join(Tables.orders(s, d)
          .filter(col("o_orderdate") < to_timestamp(lit("1994-01-01 00:00:00")))
          .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_cust"),
          roundTo(sum(col("bal_cents")).cast("double") / 100, 2).as("total_bal"))
        .orderBy("c_nationkey")
    }),

    "q_ohlc_monthly" -> ((s, d) => {
      // monthly OHLC bars over order prices — the candlestick
      // aggregation. open/close are min_by/max_by on the total-order
      // key struct(date, orderkey): all four legs are COMBINABLE
      // aggregates, so the whole query is one map-side-combined
      // shuffle with bounded output (one row per month) — no windows,
      // no second scan. The oracle reproduces open/close with
      // first_value windows over the same total order.
      val o = Tables.orders(s, d).select(
        unix_millis(date_trunc("month", col("o_orderdate"))).as("month_ms"),
        roundTo(col("o_totalprice"), 2).as("p"),
        col("o_orderdate"), col("o_orderkey"))
      o.groupBy("month_ms")
        .agg(
          min_by(col("p"), struct(col("o_orderdate"), col("o_orderkey"))).as("open"),
          max(col("p")).as("high"),
          min(col("p")).as("low"),
          max_by(col("p"), struct(col("o_orderdate"), col("o_orderkey"))).as("close"),
          count(lit(1)).as("n_orders"))
        .orderBy("month_ms")
    }),

    "q_max_drawdown" -> ((s, d) => {
      // maximum drawdown of each brand's monthly revenue series: the
      // largest peak-to-trough fraction (peak_so_far − v)/peak_so_far.
      // The raw fact reduces to a bounded brand × month cents frame in
      // ONE combinable shuffle; the running peak is a window over that
      // tiny frame (never over raw lineitems), drawdown terms are
      // rounded 6 before the per-brand max so the statistic is
      // reproducible cross-engine.
      val cents = floor(col("l_extendedprice") * (lit(1) - col("l_discount"))
        * 100 + lit(0.5)).cast("long")
      val p = Tables.part(s, d)
        .select(col("p_partkey"), lower(col("p_brand")).as("brand"))
      val cells = Tables.lineitem(s, d)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("brand"),
          unix_millis(date_trunc("month", col("l_shipdate"))).as("mm"))
        .agg(sum(cents).as("cents"))
      val w = Window.partitionBy("brand").orderBy(col("mm").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells.withColumn("__peak", max(col("cents")).over(w))
        .withColumn("__dd", roundTo((col("__peak") - col("cents")).cast("double") /
          col("__peak").cast("double"), 6))
        .groupBy(col("brand"))
        .agg(count(lit(1)).as("n_months"), max(col("__dd")).as("max_drawdown"))
        .orderBy("brand")
    }),

    "q_systematic_sample" -> ((s, d) => {
      // systematic (every k-th) sampling on the EXACT global rank:
      // customers ordered by (acctbal desc, custkey), every 20th row
      // kept. The rank comes from the scale-safe fixed-grid operator
      // (Ranks.withExactRank, no single-reducer window); the balance
      // is negated via 0.0−x so the grid's ascending order IS the
      // descending one (0.0−0.0 = +0.0, so zero balances can't land
      // in a separate sign bucket). The oracle's plain partition-less
      // row_number proves rank parity.
      val c = Tables.customer(s, d)
        .select(col("c_custkey"), roundTo(col("c_acctbal"), 2).as("bal"))
        .withColumn("__negbal", lit(0.0) - col("bal"))
      graft.operators.Ranks.withExactRank(c, Seq.empty,
          Seq(col("__negbal").asc, col("c_custkey").asc), "__negbal", "rk", "__n")
        .filter((col("rk") - 1) % 20 === 0)
        .select(col("c_custkey"), col("bal"), col("rk"))
        .orderBy("rk")
    }),

    "q_mutual_info" -> ((s, d) => {
      // mutual information + Cramér's V on the priority × status
      // contingency table — completes the dependence-measure family
      // started by q_chi2_independence and reuses its exact shape:
      // cells one shuffle, row/col totals as windows over the TINY
      // cells frame, MI/chi2 terms rounded 6 and accumulated as
      // DECIMAL(28,6) so the statistics are partition-order-free.
      // V = sqrt(chi2/(N·min(r−1,c−1))) — IEEE sqrt is correctly
      // rounded, so it is deterministic cross-engine.
      val cells = Tables.orders(s, d)
        .groupBy(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("obs"))
      val tot = cells.agg(sum(col("obs")).as("n_total"),
        countDistinct(col("o_orderpriority")).as("__r"),
        countDistinct(col("o_orderstatus")).as("__c"))
      val wRow = Window.partitionBy("o_orderpriority")
      val wCol = Window.partitionBy("o_orderstatus")
      def D(c: Column) = c.cast("double")
      val terms = cells.crossJoin(broadcast(tot))
        .withColumn("row_tot", sum(col("obs")).over(wRow))
        .withColumn("col_tot", sum(col("obs")).over(wCol))
        .withColumn("mi_term", roundTo(D(col("obs")) / D(col("n_total")) *
          log(D(col("obs")) * D(col("n_total")) /
            (D(col("row_tot")) * D(col("col_tot")))), 6))
        .withColumn("chi_term", {
          val e = D(col("row_tot")) * D(col("col_tot")) / D(col("n_total"))
          roundTo((D(col("obs")) - e) * (D(col("obs")) - e) / e, 6)
        })
      terms.groupBy(col("n_total"), col("__r"), col("__c"))
        .agg(sum(col("mi_term").cast("decimal(28,6)")).cast("double").as("__mi"),
          sum(col("chi_term").cast("decimal(28,6)")).cast("double").as("__chi2"))
        .select(col("n_total"),
          roundTo(col("__mi"), 4).as("mi_nats"),
          roundTo(col("__chi2"), 4).as("chi2"),
          roundTo(sqrt(col("__chi2") / (D(col("n_total")) *
            least(col("__r") - 1, col("__c") - 1).cast("double"))), 6)
            .as("cramers_v"))
    }),

    "q_hhi_market" -> ((s, d) => {
      // Herfindahl-Hirschman concentration of brand revenue within
      // each part category: (category, brand) revenue cells are ONE
      // combinable cents shuffle; category totals are a window over
      // the bounded cells frame (|types|×|brands|), never over raw
      // lineitems. Shares rounded 6, share² terms rounded 12 and
      // accumulated DECIMAL(28,12) — partition-order-independent HHI.
      val cents = floor(col("l_extendedprice") * (lit(1) - col("l_discount"))
        * 100 + lit(0.5)).cast("long")
      val p = Tables.part(s, d).select(col("p_partkey"),
        lower(col("p_type")).as("category"), lower(col("p_brand")).as("brand"))
      val cells = Tables.lineitem(s, d)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("category"), col("brand"))
        .agg(sum(cents).as("brand_cents"))
      val wCat = Window.partitionBy("category")
      val share = roundTo(col("brand_cents").cast("double") /
        sum(col("brand_cents")).over(wCat).cast("double"), 6)
      cells.withColumn("__term", roundTo(share * share, 12))
        .groupBy(col("category"))
        .agg(count(lit(1)).as("n_brands"),
          roundTo(sum(col("__term").cast("decimal(28,12)")).cast("double"), 6)
            .as("hhi"))
        .orderBy("category")
    }),

    "q_trend_mk" -> ((s, d) => {
      // Mann-Kendall monotone-trend test on the monthly revenue
      // series: S = Σ_{i<j} sign(rev_j − rev_i), Kendall's tau-a =
      // S/(n(n−1)/2). The series is first reduced to a bounded
      // ~80-row monthly frame (one combinable cents shuffle); the
      // triangular pair comparison is a broadcast self-join over that
      // frame (the text_zipf_fit pattern — no partition-less window),
      // and S stays integer until the final tau division.
      val m = Tables.orders(s, d)
        .groupBy(unix_millis(date_trunc("month", col("o_orderdate"))).as("mm"))
        .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"))
          .as("cents"))
      val a = m.select(col("mm").as("mm_a"), col("cents").as("c_a"))
      val b = m.select(col("mm").as("mm_b"), col("cents").as("c_b"))
      val signs = a.join(broadcast(b), col("mm_a") < col("mm_b"))
        .select(when(col("c_b") > col("c_a"), 1L)
          .when(col("c_b") < col("c_a"), -1L).otherwise(0L).as("sg"))
      val nM = m.agg(count(lit(1)).as("n_months"))
      signs.agg(sum(col("sg")).as("s_stat")).crossJoin(broadcast(nM))
        .select(col("n_months"), col("s_stat"),
          roundTo(col("s_stat").cast("double") /
            (col("n_months").cast("double") * (col("n_months") - 1).cast("double") / 2),
            6).as("tau_a"))
    }),

    "q_trade_volume" -> ((s, d) => {
      // TPC-H Q7 shape: shipping volume between supplier-nation and
      // customer-nation pairs by ship year. The fact joins ride their
      // natural keys (lineitem⋈orders co-keyed on orderkey, then
      // customer/supplier equi-shuffles); the two nation legs are
      // broadcast. Output is bounded: |nations|² × years.
      val li = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= to_timestamp(lit("1995-01-01 00:00:00")) &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01 00:00:00")))
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      val c = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
      val sup = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
      val n1 = Tables.nation(s, d)
        .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, d)
        .select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation"))
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(sup, li("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(n1), sup("s_nationkey") === n1("sk"))
        .join(broadcast(n2), c("c_nationkey") === n2("ck"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate").cast("date")).as("ship_year"))
        .agg(sumD(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("volume"))
        .orderBy("supp_nation", "cust_nation", "ship_year")
    }),

    "q_important_parts" -> ((s, d) => {
      // TPC-H Q11 shape: HAVING against a GLOBAL scalar — parts whose
      // revenue exceeds 1/2000 of total revenue. Revenue is summed in
      // integer cents so the share gate is the exact cross-multiply
      // 2000·part > total (no FP ratio near the cut); the 1-row total
      // aggregates the ALREADY-REDUCED per-part frame (combinable
      // partials, whitelisted in the single-partition lint) and comes
      // back as a broadcast. share is reporting-only, rounded 6.
      val cents = floor(col("l_extendedprice") * (lit(1) - col("l_discount"))
        * 100 + lit(0.5)).cast("long")
      val perPart = Tables.lineitem(s, d)
        .groupBy(col("l_partkey"))
        .agg(sum(cents).as("part_cents"))
      val total = perPart.agg(sum(col("part_cents")).as("total_cents"))
      perPart.join(broadcast(total))
        .filter(col("part_cents") * 2000 > col("total_cents"))
        .select(col("l_partkey"),
          roundTo(col("part_cents").cast("double") / 100, 2).as("revenue"),
          roundTo(col("part_cents").cast("double") / col("total_cents"), 6).as("share"))
        .orderBy(col("revenue").desc, col("l_partkey"))
    }),

    "q_top_supplier" -> ((s, d) => {
      // TPC-H Q15 shape: the supplier(s) with maximum revenue over a
      // quarter — a MAX taken over an aggregated frame, ties kept.
      // Per-supplier revenue is one combinable shuffle in exact cents;
      // the 1-row max reduces that bounded frame and broadcasts back
      // as the equi-filter (no window, no second scan of the fact).
      val cents = floor(col("l_extendedprice") * (lit(1) - col("l_discount"))
        * 100 + lit(0.5)).cast("long")
      val rev = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
          col("l_shipdate") < to_timestamp(lit("1996-04-01 00:00:00")))
        .groupBy(col("l_suppkey"))
        .agg(sum(cents).as("rev_cents"))
      val mx = rev.agg(max(col("rev_cents")).as("max_cents"))
      rev.join(broadcast(mx), col("rev_cents") === col("max_cents"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          roundTo(col("rev_cents").cast("double") / 100, 2).as("total_revenue"))
        .orderBy("s_suppkey")
    }),

    "q_attribution" -> ((s, d) => {
      // Last-touch conversion attribution: each purchase credits the
      // user's most recent PRECEDING non-purchase event (IGNORE NULLS
      // over a strictly-prior frame — same cross-engine frame parity
      // as q_locf_value), rolled up to conversions + attributed
      // revenue per channel. Bounded per-user windows only.
      val w = Window.partitionBy("user_id")
        .orderBy(col("ms").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"),
          col("event_type"), col("value"))
        .withColumn("channel",
          last(when(col("event_type") =!= "purchase", col("event_type")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("channel"), lit("none")).as("channel"))
        .agg(count(lit(1)).as("conversions"),
          sumD(col("value")).as("attributed_value"))
        .orderBy("channel")
    }),

    "q_hierarchy_closure" -> ((s, d) => {
      // Recursive-CTE analog: flatten the order→customer→nation→
      // region hierarchy into (node, ancestor, depth) path rows via
      // Hierarchy.closure (bounded unrolled BFS — Spark has no WITH
      // RECURSIVE; the DuckDB oracle IS one, and both sides share
      // path-multiset UNION ALL semantics). Edge lists are DISTINCT
      // (orders carry dirty PKs) and node ids are type-prefixed so
      // the key spaces can't collide.
      val o = Tables.orders(s, d).select(
        concat(lit("O"), col("o_orderkey")).as("child"),
        concat(lit("C"), col("o_custkey")).as("parent")).distinct()
      val c = Tables.customer(s, d).select(
        concat(lit("C"), col("c_custkey")).as("child"),
        concat(lit("N"), col("c_nationkey")).as("parent")).distinct()
      val n = Tables.nation(s, d).select(
        concat(lit("N"), col("n_nationkey")).as("child"),
        concat(lit("R"), col("n_regionkey")).as("parent")).distinct()
      Hierarchy.closure(o.unionAll(c).unionAll(n), maxDepth = 3)
        .orderBy("node", "ancestor", "depth")
    }),

    "q_abc_parts" -> ((s, d) => {
      // ABC / Pareto inventory classification: parts ranked by
      // revenue DESC with their EXACT running share of total revenue
      // (A ≤ 80%, B ≤ 95%, C rest). The global running sum is the
      // classic single-reducer-window trap — Ranks.withRunningSum
      // computes it scale-safe on the fixed value grid (per-bucket
      // decimal partials, driver-folded priors, per-bucket windows).
      // Class cuts compare in integer CENTS (10·cum ≤ 8·tot etc.) so
      // boundary ties can never flip on floating point; the oracle
      // is the plain window formulation — cross-formulation
      // equivalence is hash-checked.
      // persist the REDUCED per-part frame (n_parts rows, not
      // lineitem): withRunningSum's partials action and the ranked
      // join would otherwise each re-run the lineitem scan+shuffle
      // (query-owned cache; Bench/Verify clear caches between
      // queries — caching post-aggregation output is the case where
      // a persist pays, unlike the r4 raw-scan persists)
      val rev = Tables.lineitem(s, d).groupBy(col("l_partkey"))
        .agg(sum(roundTo(col("l_extendedprice") * (lit(1) - col("l_discount")), 2)
          .cast("decimal(18,2)")).as("rev"))
        .transform(graft.Caches.tracked)
      val run = graft.operators.Ranks.withRunningSum(rev, "rev",
        Seq(col("rev").desc, col("l_partkey").asc), bucketOn = "rev",
        ascending = false, cumCol = "cum", totalCol = "tot")
      val cumC = (col("cum") * 100).cast("long")
      val totC = (col("tot") * 100).cast("long")
      run.select(col("l_partkey"),
          col("rev").cast("double").as("revenue"),
          roundTo(col("cum").cast("double") / col("tot").cast("double"), 6)
            .as("cum_share"),
          when(cumC * 10 <= totC * 8, lit("A"))
            .when(cumC * 20 <= totC * 19, lit("B"))
            .otherwise(lit("C")).as("abc_class"))
        .orderBy(col("revenue").desc, col("l_partkey"))
    }),

    "q_weighted_median" -> ((s, d) => {
      // exact quantity-weighted median price per returnflag — the
      // robust stat a plain median can't give when rows carry
      // multiplicity. Ranks.weightedMedians is valuesAtRanks
      // generalized to weight sums: the per-group sort touches ONLY
      // the crossing range bucket. Weights are integer CENTS of
      // l_quantity (spec-checked integral), so the crossing test
      // 2·cum ≥ total never sees floating point.
      val li = Tables.lineitem(s, d).select(col("l_returnflag"),
        roundTo(col("l_extendedprice"), 2).as("price"),
        col("l_orderkey"), col("l_linenumber"),
        (col("l_quantity") * 100).cast("long").as("wc"))
      val meds = graft.operators.Ranks.weightedMedians(li, Seq("l_returnflag"),
        Seq("price", "l_orderkey", "l_linenumber"), "price", "wc")
      import s.implicits._
      // row layout: (l_returnflag, price, orderkey, linenumber)
      meds.toSeq.map(r => (r.getString(0), r.getDouble(1)))
        .toDF("l_returnflag", "__p")
        .select(col("l_returnflag"), roundTo(col("__p"), 2).as("w_median_price"))
        .orderBy("l_returnflag")
    }),

    "q_chi2_independence" -> ((s, d) => {
      // chi-squared independence test on the priority × status
      // contingency table: observed counts (one shuffle), row/col
      // totals as windows over the TINY cells frame, expected counts
      // and per-cell contributions in deterministic double
      // arithmetic (terms rounded to 6, accumulated as
      // DECIMAL(28,6) — the ln()-score recipe), the 1-row N and chi2
      // aggs cross-joined back.
      val cells = Tables.orders(s, d)
        .groupBy(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("observed"))
      val n = cells.agg(sum(col("observed")).as("n_total"))
      val wRow = Window.partitionBy("o_orderpriority")
      val wCol = Window.partitionBy("o_orderstatus")
      val contrib = cells.crossJoin(broadcast(n))
        .withColumn("row_tot", sum(col("observed")).over(wRow))
        .withColumn("col_tot", sum(col("observed")).over(wCol))
        .withColumn("expected",
          col("row_tot").cast("double") * col("col_tot").cast("double") /
            col("n_total").cast("double"))
        .withColumn("contrib", roundTo(
          (col("observed") - col("expected")) * (col("observed") - col("expected")) /
            col("expected"), 6))
      val chi2 = contrib
        .agg(roundTo(sum(col("contrib").cast("decimal(28,6)")).cast("double"), 4)
          .as("chi2"))
      contrib.crossJoin(broadcast(chi2))
        .select(col("o_orderpriority"), col("o_orderstatus"), col("observed"),
          roundTo(col("expected"), 6).as("expected"), col("contrib"), col("chi2"))
        .orderBy("o_orderpriority", "o_orderstatus")
    }),

    "q_auc_mw" -> ((s, d) => {
      // ROC AUC of account balance as a one-vs-rest classifier for
      // the BUILDING market segment, per nation — computed exactly
      // via the Mann-Whitney rank-sum identity. Raw rows never see a
      // window: counts collapse to per-(nation, balance) cells in one
      // map-side-combinable shuffle, the rank prefix is a running sum
      // over the CELLS frame (bounded by the cent-granular balance
      // domain at ANY data scale), and the tie-averaged rank-sum
      // stays in BIGINT (2·avg_rank = 2·prefix + cnt + 1) until the
      // single final division — partition-order independent. The
      // oracle uses DuckDB's plain RANK() formulation, so the gate
      // checks cross-formulation equivalence of the identity.
      val c = Tables.customer(s, d).select(col("c_nationkey"),
        roundTo(col("c_acctbal"), 2).as("bal"),
        when(col("c_mktsegment") === "BUILDING", 1L).otherwise(0L).as("pos"))
      val cells = c.groupBy("c_nationkey", "bal")
        .agg(sum(col("pos")).as("p"), count(lit(1)).as("t"))
      val w = Window.partitionBy("c_nationkey").orderBy(col("bal").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ranked = cells.withColumn("pre", sum(col("t")).over(w) - col("t"))
      ranked.groupBy("c_nationkey").agg(
          sum(col("p")).as("n_pos"),
          sum(col("t") - col("p")).as("n_neg"),
          sum(col("p") * (lit(2L) * col("pre") + col("t") + 1)).as("rs2"))
        .filter(col("n_pos") > 0 && col("n_neg") > 0)
        .select(col("c_nationkey"), col("n_pos"), col("n_neg"),
          roundTo((col("rs2") - col("n_pos") * (col("n_pos") + 1)).cast("double") /
            (lit(2.0) * col("n_pos").cast("double") * col("n_neg").cast("double")),
            6).as("auc"))
        .orderBy("c_nationkey")
    }),

    "q_ks_test" -> ((s, d) => {
      // two-sample Kolmogorov-Smirnov distance between the
      // total-price distributions of fulfilled ('F') and open ('O')
      // orders, per order priority: D = sup over the merged value
      // domain of |ECDF_F − ECDF_O|. Same scale shape as q_auc_mw —
      // per-(priority, price) cells in one shuffle, running counts
      // over the bounded cells frame — and the sup is taken on the
      // cross-multiplied BIGINT |cumF·nO − cumO·nF| so no float
      // enters until the final division.
      val o = Tables.orders(s, d)
        .filter(col("o_orderstatus").isin("F", "O"))
        .select(col("o_orderpriority").as("prio"),
          roundTo(col("o_totalprice"), 2).as("price"),
          when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("f"))
      val cells = o.groupBy("prio", "price")
        .agg(sum(col("f")).as("cf"), sum(lit(1L) - col("f")).as("co"))
      val wRun = Window.partitionBy("prio").orderBy(col("price").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy("prio")
      val run = cells
        .withColumn("cumf", sum(col("cf")).over(wRun))
        .withColumn("cumo", sum(col("co")).over(wRun))
        .withColumn("nf", sum(col("cf")).over(wAll))
        .withColumn("nn", sum(col("co")).over(wAll))
      run.groupBy(col("prio").as("o_orderpriority"))
        .agg(max(col("nf")).as("n_f"), max(col("nn")).as("n_o"),
          max(abs(col("cumf") * col("nn") - col("cumo") * col("nf"))).as("d2"))
        .filter(col("n_f") > 0 && col("n_o") > 0)
        .select(col("o_orderpriority"), col("n_f"), col("n_o"),
          roundTo(col("d2").cast("double") /
            (col("n_f").cast("double") * col("n_o").cast("double")), 6).as("ks"))
        .orderBy("o_orderpriority")
    }),

    "dq_benford" -> ((s, d) => {
      // Benford first-digit audit on order totals — the classic
      // fraud/anomaly screen on financial amounts. The leading digit
      // comes from the CENTS integer rendered as a string (exact in
      // both engines — no log10 of a double near a power-of-ten
      // boundary), the 9-row digit frame is one map-side-combinable
      // shuffle, and the 1-row total broadcasts back. Expected
      // shares are Benford's log10(1 + 1/d); shares and deviations
      // round to 6 before compare so libm last-ulp drift can't
      // reach the hash.
      val digits = Tables.orders(s, d)
        .select(substring(roundTo(col("o_totalprice") * 100, 0)
          .cast("long").cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("observed"))
      val n = digits.agg(sum(col("observed")).as("n_total"))
      digits.crossJoin(broadcast(n))
        .withColumn("obs_share", roundTo(col("observed").cast("double") /
          col("n_total").cast("double"), 6))
        .withColumn("exp_share",
          roundTo(log10(lit(1.0) + lit(1.0) / col("digit")), 6))
        .select(col("digit"), col("observed"), col("obs_share"), col("exp_share"),
          roundTo(abs(col("obs_share") - col("exp_share")), 6).as("abs_dev"))
        .orderBy("digit")
    }),

    "dq_key_skew" -> ((s, d) => {
      // join-key skew diagnosis — the measurement that decides
      // whether a key needs Skew.saltedJoin BEFORE a fleet-scale
      // shuffle goes sideways. Per candidate key: one map-side
      // combinable groupBy to per-key counts, then a 1-row stats
      // agg; skew_ratio = max_freq / mean_freq (1.0 = uniform).
      // Hottest key ties break to the smallest key.
      def stats(df: DataFrame, table: String, key: String): DataFrame =
        df.groupBy(col(key).cast("long").as("k")).agg(count(lit(1)).as("n"))
          .agg(
            count(lit(1)).as("n_keys"),
            sum(col("n")).as("n_rows"),
            max(col("n")).as("max_freq"),
            max_by(col("k"), struct(col("n"), (-col("k")).as("nk")))
              .as("hottest_key"))
          .select(lit(table).as("table_name"), lit(key).as("key_col"),
            col("n_keys"), col("n_rows"), col("max_freq"), col("hottest_key"),
            roundTo(col("max_freq").cast("double") * col("n_keys") /
              col("n_rows"), 6).as("skew_ratio"))
      stats(Tables.orders(s, d), "orders", "o_custkey")
        .unionByName(stats(Tables.lineitem(s, d), "lineitem", "l_orderkey"))
        .unionByName(stats(Tables.events(s, d), "events", "user_id"))
        .orderBy("table_name")
    }),

    "dq_k_anonymity" -> ((s, d) => {
      // k-anonymity audit (release-governance screen): customers
      // whose quasi-identifier tuple (nation, market segment,
      // $1000 balance band) is shared by fewer than k=5 rows are
      // re-identifiable in a published extract. ONE map-side
      // combinable groupBy to the bounded class frame, then the
      // size gate — the raw table never shuffles twice and the
      // output is the risky-class list with exposure counts.
      val bd = floor(roundTo(col("c_acctbal"), 2) / 1000).cast("long")
      Tables.customer(s, d)
        .groupBy(col("c_nationkey"), col("c_mktsegment"), bd.as("bal_band"))
        .agg(count(lit(1)).as("class_size"))
        .filter(col("class_size") < 5)
        .orderBy("c_nationkey", "c_mktsegment", "bal_band")
    }),

    "q_weighted_quartiles" -> ((s, d) => {
      // quantity-weighted p25/p50/p75 price per returnflag —
      // Ranks.weightedQuantiles resolves ALL THREE targets from one
      // counts pass plus one crossing-bucket window pass (a broadcast
      // join against the tiny targets frame ties each crossing row to
      // its quantile, so a row satisfying several quantiles of a
      // small group still yields one output row per target).
      // Integer-cent weights keep 100·cum ≥ p·total exact.
      val li = Tables.lineitem(s, d).select(col("l_returnflag"),
        roundTo(col("l_extendedprice"), 2).as("price"),
        col("l_orderkey"), col("l_linenumber"),
        (col("l_quantity") * 100).cast("long").as("wc"))
      val qs = graft.operators.Ranks.weightedQuantiles(li, Seq("l_returnflag"),
        Seq("price", "l_orderkey", "l_linenumber"), "price", "wc",
        Seq(25, 50, 75))
      import s.implicits._
      // row layout: (l_returnflag, pct, price, orderkey, linenumber)
      qs.toSeq.map(r => (r.getString(0), r.getInt(1), r.getDouble(2)))
        .toDF("l_returnflag", "pct", "__p")
        .select(col("l_returnflag"), col("pct"),
          roundTo(col("__p"), 2).as("w_price"))
        .orderBy("l_returnflag", "pct")
    }),

    "q_percent_rank" -> ((s, d) => {
      // SQL percent_rank()/cume_dist() parity from the bucketed exact
      // rank: with a unique total order (bal, custkey) both reduce to
      // closed forms of row_number — pr = (rn−1)/(n−1), cd = rn/n.
      // The oracle runs DuckDB's NATIVE window functions, so the gate
      // proves the fixed-grid rank reproduces them with no
      // single-reducer window on the Spark side. Single-row groups
      // pin pr to 0 like the SQL standard.
      val c = Tables.customer(s, d).select(col("c_nationkey"),
        col("c_custkey"), roundTo(col("c_acctbal"), 2).as("bal"))
      val ranked = graft.operators.Ranks.withExactRank(c, Seq("c_nationkey"),
        Seq(col("bal").asc, col("c_custkey").asc), "bal", "rk", "__n")
      ranked.select(col("c_nationkey"), col("c_custkey"), col("bal"),
          when(col("__n") > 1, roundTo((col("rk") - 1).cast("double") /
            (col("__n") - 1).cast("double"), 6)).otherwise(lit(0.0))
            .as("pct_rank"),
          roundTo(col("rk").cast("double") / col("__n").cast("double"), 6)
            .as("cume_dist"))
        .orderBy("c_nationkey", "c_custkey")
    }),

    "q_assoc_rules" -> ((s, d) => {
      // directed association rules a→b over per-user item sets — the
      // market-basket classic. Support comes from the SAME Baskets
      // pair-counting shape as q_item_cooccurrence (collect_set per
      // user, in-array i<j pairs — two wide stages, no self-join);
      // each supported pair then fans out to both directions with
      // confidence n_ab/n_a and lift n_ab·N/(n_a·n_b), gated on
      // support ≥ 3 and confidence ≥ 0.2. Item user-counts and the
      // user total stay broadcast.
      val B = graft.operators.Baskets
      val sets = B.userItemSets(
        Tables.events(s, d).select(col("user_id"),
          regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("bigint").as("item")),
        "user_id", "item")
      val itemUsers = B.itemUserCounts(sets)
        .withColumnRenamed("n_users", "__n_item")
      val nUsers = B.userCount(sets).withColumnRenamed("n_users", "__n_users")
      val pairs = B.pairCounts(sets).filter(col("n_both") >= 3)
      val directed = pairs.select(explode(array(
          struct(col("i").as("antecedent"), col("j").as("consequent"),
            col("n_both")),
          struct(col("j").as("antecedent"), col("i").as("consequent"),
            col("n_both")))).as("r"))
        .select(col("r.antecedent"), col("r.consequent"), col("r.n_both"))
      directed
        .join(broadcast(itemUsers.withColumnRenamed("item", "antecedent")
          .withColumnRenamed("__n_item", "__n_a")), "antecedent")
        .join(broadcast(itemUsers.withColumnRenamed("item", "consequent")
          .withColumnRenamed("__n_item", "__n_c")), "consequent")
        .crossJoin(broadcast(nUsers))
        .withColumn("confidence",
          roundTo(col("n_both").cast("double") / col("__n_a").cast("double"), 6))
        .filter(col("confidence") >= 0.2)
        .select(col("antecedent"), col("consequent"), col("n_both"),
          col("confidence"),
          roundTo((col("n_both") * col("__n_users")).cast("double") /
            (col("__n_a") * col("__n_c")).cast("double"), 6).as("lift"))
        .orderBy("antecedent", "consequent")
    }),

    "q_psi_drift" -> ((s, d) => {
      // population-stability-index drift of the order-price
      // distribution 1995 → 1996 — the ML-ops screen for feature
      // drift between a reference and a current window. Fixed-width
      // value buckets (25k), ONE conditional-agg scan yields both
      // years' bucket counts, the 1-row totals broadcast back, and
      // each (pa−pb)·ln(pa/pb) term is rounded to 6 and accumulated
      // as DECIMAL(28,6) (the ln-score recipe). Buckets seen in only
      // one year carry a NULL term and are excluded from the PSI sum
      // (no-smoothing convention — the oracle encodes the same rule).
      val o = Tables.orders(s, d)
        .filter(year(col("o_orderdate")).isin(1995, 1996))
        .select(floor(roundTo(col("o_totalprice"), 2) / 25000)
          .cast("long").as("bucket"),
          (year(col("o_orderdate")) === 1995).as("isA"))
      val cells = o.groupBy("bucket").agg(
        sum(when(col("isA"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("isA"), 0L).otherwise(1L)).as("n_b"))
      val tot = cells.agg(sum(col("n_a")).as("t_a"), sum(col("n_b")).as("t_b"))
      val shares = cells.crossJoin(broadcast(tot))
        .withColumn("share_a",
          roundTo(col("n_a").cast("double") / col("t_a").cast("double"), 6))
        .withColumn("share_b",
          roundTo(col("n_b").cast("double") / col("t_b").cast("double"), 6))
        .withColumn("term", when(col("n_a") > 0 && col("n_b") > 0,
          roundTo((col("share_a") - col("share_b")) *
            log(col("share_a") / col("share_b")), 6)))
      val psi = shares.agg(
        roundTo(sum(col("term").cast("decimal(28,6)")).cast("double"), 4)
          .as("psi"))
      shares.crossJoin(broadcast(psi))
        .select(col("bucket"), col("n_a"), col("n_b"), col("share_a"),
          col("share_b"), col("term"), col("psi"))
        .orderBy("bucket")
    }),

    "text_zipf_fit" -> ((s, d) => {
      // Zipf rank-frequency fit over the top-200 vocabulary: OLS of
      // log10(freq) on log10(rank) — the corpus-health check that a
      // natural-language corpus shows slope ≈ −1. The top-k arrives
      // via TakeOrderedAndProject (no global sort); each kept term's
      // rank is a broadcast triangular self-join over the ≤200-row
      // frame (never a partition-less window — the q_decile_lift
      // pattern); power sums use per-term rounding + decimal
      // accumulation like q_regression_price.
      val vocab = Tables.documents(s, d)
        .select(explode(TextFunctions.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token").asc)
        .limit(200)
      val a = vocab.select(col("token").as("t_a"), col("freq").as("f_a"))
      val b = vocab.select(col("token").as("t_b"), col("freq").as("f_b"))
      val ranked = a.join(broadcast(b),
          col("f_b") > col("f_a") ||
            (col("f_b") === col("f_a") && col("t_b") <= col("t_a")))
        .groupBy(col("t_a"), col("f_a")).agg(count(lit(1)).as("rank"))
      val lx = roundTo(log10(col("rank").cast("double")), 6)
      val ly = roundTo(log10(col("f_a").cast("double")), 6)
      val g = ranked.agg(count(lit(1)).as("n_terms"),
        sum(lx.cast("decimal(28,6)")).as("__sx"),
        sum(ly.cast("decimal(28,6)")).as("__sy"),
        sum(roundTo(lx * ly, 12).cast("decimal(28,12)")).as("__sxy"),
        sum(roundTo(lx * lx, 12).cast("decimal(28,12)")).as("__sxx"),
        sum(roundTo(ly * ly, 12).cast("decimal(28,12)")).as("__syy"))
      def D(c: String) = col(c).cast("double")
      val n = col("n_terms").cast("double")
      val sxxC = n * D("__sxx") - D("__sx") * D("__sx")
      val syyC = n * D("__syy") - D("__sy") * D("__sy")
      val sxyC = n * D("__sxy") - D("__sx") * D("__sy")
      val slope = sxyC / sxxC
      g.select(col("n_terms"),
        roundTo(slope, 6).as("slope"),
        roundTo((D("__sy") - slope * D("__sx")) / n, 4).as("intercept"),
        roundTo((sxyC * sxyC) / (sxxC * syyC), 6).as("r2"))
    }),

    "q_mean_kpis" -> ((s, d) => {
      // arithmetic / geometric / harmonic price means per returnflag
      // in ONE map-side-combinable scan: geometric via the ln-term
      // recipe (terms rounded 6, DECIMAL(28,6)), harmonic via
      // reciprocal terms rounded 12 and DECIMAL(28,12) — both
      // partition-order independent; cross-engine exp() last-ulp
      // drift is absorbed by the final 4-dp rounding.
      val p = roundTo(col("l_extendedprice"), 2)
      Tables.lineitem(s, d).groupBy("l_returnflag").agg(
          count(lit(1)).as("n"),
          sum(p.cast("decimal(18,2)")).as("__s"),
          sum(roundTo(log(p), 6).cast("decimal(28,6)")).as("__sln"),
          sum(roundTo(lit(1.0) / p, 12).cast("decimal(28,12)")).as("__srec"))
        .select(col("l_returnflag"), col("n"),
          roundTo(col("__s").cast("double") / col("n"), 4).as("mean_price"),
          roundTo(exp(col("__sln").cast("double") / col("n")), 4)
            .as("geo_mean_price"),
          roundTo(col("n").cast("double") / col("__srec").cast("double"), 4)
            .as("harm_mean_price"))
        .orderBy("l_returnflag")
    }),

    "q_revenue_bridge" -> ((s, d) => {
      // YoY revenue-bridge decomposition (finance staple): each
      // customer's 1995→1996 spend delta classified as new /
      // churned / expansion / contraction from ONE conditional-agg
      // scan (no self-join); classes and deltas compare in exact
      // integer CENTS. Net delta returns to dollars by an exact /100.
      val dec = "decimal(18,2)"
      val byCust = Tables.orders(s, d)
        .select(col("o_custkey"),
          year(col("o_orderdate").cast("date")).as("yr"),
          roundTo(col("o_totalprice"), 2).cast(dec).as("p"))
        .groupBy(col("o_custkey"))
        .agg(sum(when(col("yr") === 1995, col("p"))).as("prev"),
          sum(when(col("yr") === 1996, col("p"))).as("cur"))
      val pc = (coalesce(col("prev"), lit(0).cast(dec)) * 100).cast("long")
      val cc = (coalesce(col("cur"), lit(0).cast(dec)) * 100).cast("long")
      byCust
        .select(col("o_custkey"), pc.as("pc"), cc.as("cc"))
        .filter(col("pc") > 0 || col("cc") > 0)
        .withColumn("bridge_class",
          when(col("pc") === 0, lit("new"))
            .when(col("cc") === 0, lit("churned"))
            .when(col("cc") > col("pc"), lit("expansion"))
            .when(col("cc") < col("pc"), lit("contraction"))
            .otherwise(lit("flat")))
        .groupBy("bridge_class")
        .agg(count(lit(1)).as("n_customers"),
          (sum(col("cc") - col("pc")).cast("double") / 100).as("net_delta"))
        .orderBy("bridge_class")
    }),

    "q_ltv_cohorts" -> ((s, d) => {
      // cumulative LTV curves by acquisition cohort: first-seen week
      // is the cohort, purchase revenue accrues per weeks-since-
      // acquisition, and the running LTV is a BOUNDED window per
      // cohort over the (cohort, week_index) aggregate — never over
      // raw events. Exact decimal accumulation end-to-end.
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          floor(unix_millis(col("ts")) / 86400000L).cast("long").as("day"),
          col("value"))
      val firstSeen = ev.groupBy("user_id")
        .agg(floor(min(col("day")) / 7).cast("long").as("cohort_week"))
      val weekly = ev.filter(col("event_type") === "purchase")
        .join(firstSeen, Seq("user_id"))
        .select(col("cohort_week"),
          (floor(col("day") / 7).cast("long") - col("cohort_week")).as("week_index"),
          roundTo(col("value"), 2).cast("decimal(18,2)").as("v"))
        .groupBy("cohort_week", "week_index")
        .agg(count(lit(1)).as("n_purchases"), sum(col("v")).as("rev"))
      val w = Window.partitionBy("cohort_week").orderBy(col("week_index").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      weekly
        .withColumn("cum_ltv", sum(col("rev")).over(w))
        .select(col("cohort_week"), col("week_index"), col("n_purchases"),
          col("rev").cast("double").as("rev"),
          col("cum_ltv").cast("double").as("cum_ltv"))
        .orderBy("cohort_week", "week_index")
    }),

    "q_decile_lift" -> ((s, d) => {
      // gains/lift table (ML-eval staple): customers ranked by 1995
      // spend, EXACT NTILE(10) deciles via the scale-safe rank grid
      // (score negated so the grid's ascending order IS the NTILE's
      // descending one, ties on custkey ASC preserved), responder =
      // bought in 1996. Per-decile response rate, lift vs the
      // overall rate and cumulative capture — the cumulative over
      // the 10-row decile table is a broadcast triangular self-join,
      // not a window.
      val dec = "decimal(18,2)"
      val base = Tables.orders(s, d)
        .select(col("o_custkey").as("custkey"),
          year(col("o_orderdate").cast("date")).as("yr"),
          roundTo(col("o_totalprice"), 2).cast(dec).as("p"))
        .groupBy("custkey")
        .agg(sum(when(col("yr") === 1995, col("p"))).as("spend95"),
          max(when(col("yr") === 1996, lit(1)).otherwise(lit(0))).as("resp"))
        .filter((coalesce(col("spend95"), lit(0).cast(dec)) * 100).cast("long") > 0)
        .select(col("custkey"), col("spend95").cast("double").as("score"),
          col("resp"))
        .withColumn("score_neg", -col("score"))
      val ranked = graft.operators.Ranks.withExactRank(base, Seq.empty,
        Seq(col("score_neg").asc, col("custkey").asc), "score_neg", "rk", "n")
      val tbl = ranked
        .withColumn("decile", graft.operators.Ranks.ntileFromRank(col("rk"), col("n"), 10))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_cust"), sum(col("resp")).cast("long").as("n_resp"))
      val tot = tbl.agg(sum(col("n_cust")).as("tc"), sum(col("n_resp")).as("tr"))
      val cum = tbl.select(col("decile").as("cd"), col("n_resp").as("cr"))
      tbl.join(broadcast(cum), col("cd") <= col("decile"))
        .groupBy(col("decile"), col("n_cust"), col("n_resp"))
        .agg(sum(col("cr")).as("cum_resp"))
        .crossJoin(broadcast(tot))
        .select(col("decile"), col("n_cust"), col("n_resp"),
          roundTo(col("n_resp") / col("n_cust"), 6).as("response_rate"),
          roundTo((col("n_resp") / col("n_cust")) / (col("tr") / col("tc")), 6)
            .as("lift"),
          roundTo(col("cum_resp") / col("tr"), 6).as("cum_capture"))
        .orderBy("decile")
    }),

    "q_boolean_search" -> ((s, d) => {
      // boolean AND keyword retrieval: docs containing ALL query
      // terms, scored by total term occurrences. With no prebuilt
      // index the right plan IS the narrow codegen'd scan below
      // (zero shuffle); the posting-list path for repeated queries
      // is the Relevance inverted index (text_bm25).
      val terms = Seq("window", "hash", "stream")
      val toks = TextFunctions.tokens(col("text"))
      val nMatches = terms.map(t => size(filter(toks, x => x === t)))
        .reduce(_ + _)
      Tables.documents(s, d)
        .filter(terms.map(t => array_contains(toks, t)).reduce(_ && _))
        .select(col("doc_id"), nMatches.as("n_matches"), col("n_chars"))
        .orderBy("doc_id")
    }),

    "q_iqr_outliers" -> ((s, d) => {
      // Tukey-fence (IQR) robust outliers per event type — completes
      // the z-score / MAD robust-anomaly triad. Quartiles via the
      // proven percentile_cont parity recipe (bounded groups), fences
      // broadcast back, outliers from a narrow comparison. Fence
      // arithmetic happens on 4-dp-rounded quartiles so both engines
      // compute bit-identical cutoffs.
      val e = Tables.events(s, d).filter(col("value").isNotNull)
        .select(col("event_type"), col("event_id"),
          roundTo(col("value"), 2).as("v"))
      val fences = e.groupBy("event_type")
        .agg(roundTo(expr("percentile(v, 0.25D)"), 4).as("q1"),
          roundTo(expr("percentile(v, 0.75D)"), 4).as("q3"))
        .select(col("event_type").as("ft"),
          (col("q1") - (col("q3") - col("q1")) * 1.5).as("lo"),
          (col("q3") + (col("q3") - col("q1")) * 1.5).as("hi"))
      e.join(broadcast(fences), col("event_type") === col("ft"))
        .filter(col("v") < col("lo") || col("v") > col("hi"))
        .select(col("event_type"), col("event_id"), col("v"),
          roundTo(col("lo"), 4).as("fence_lo"),
          roundTo(col("hi"), 4).as("fence_hi"))
        .orderBy("event_type", "event_id")
    }),

    "q_event_paths" -> ((s, d) => {
      // path mining: each user's first-3-event journey as a path
      // string, counted. Deterministic sort_array sequences (the
      // transition-matrix recipe); element_at + concat_ws keeps the
      // path build codegen'd (null fields of short journeys are
      // skipped identically by both engines' string join).
      val seqs = Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_millis(col("ts")).as("ms"), col("event_type"))
        .groupBy("user_id")
        .agg(sort_array(collect_list(
          struct(col("ms"), col("event_id"), col("event_type")))).as("seq"))
      seqs.select(concat_ws(">",
          element_at(col("seq"), 1)("event_type"),
          element_at(col("seq"), 2)("event_type"),
          element_at(col("seq"), 3)("event_type")).as("path"))
        .groupBy("path").agg(count(lit(1)).as("n_users"))
        .orderBy(col("n_users").desc, col("path"))
    }),

    "q_active_streaks" -> ((s, d) => {
      // gaps-and-islands: longest consecutive-day activity streak per
      // user. Distinct activity days, island id = day − row_number
      // (equal along a consecutive run), then two bounded per-user
      // aggs. The canonical SQL-pattern formulation IS the oracle.
      val days = Tables.events(s, d)
        .select(col("user_id"),
          floor(unix_millis(col("ts")) / 86400000L).cast("long").as("day"))
        .distinct()
      val w = Window.partitionBy("user_id").orderBy(col("day").asc)
      val streaks = days
        .withColumn("island", col("day") - row_number().over(w))
        .groupBy(col("user_id"), col("island"))
        .agg(count(lit(1)).as("len"))
      streaks.groupBy(col("user_id"))
        .agg(max(col("len")).as("longest_streak"),
          count(lit(1)).as("n_streaks"))
        .orderBy("user_id")
    }),

    "q_top_growth_parts" -> ((s, d) => {
      // YoY growth leaderboard: per-part 1995→1996 revenue growth
      // from ONE conditional-agg scan (shadow-slot style — no
      // self-join), then top-3 movers per brand through the
      // row_number≤k idiom, which RewriteTopKPerGroup replaces with
      // the two-phase heap operator. Growth compares exact cents;
      // the ratio is a deterministic double division both engines
      // perform identically.
      val dec = "decimal(18,2)"
      val byPart = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"), col("l_partkey"),
          year(col("l_shipdate").cast("date")).as("yr"),
          roundTo(col("l_extendedprice") * (lit(1) - col("l_discount")), 2)
            .cast(dec).as("p"))
        .groupBy(col("p_brand"), col("l_partkey"))
        .agg(sum(when(col("yr") === 1995, col("p"))).as("prev"),
          sum(when(col("yr") === 1996, col("p"))).as("cur"))
        .filter((col("prev") * 100).cast("long") > 0 &&
          (col("cur") * 100).cast("long") > 0)
        .select(col("p_brand"), col("l_partkey"),
          col("prev").cast("double").as("rev_1995"),
          col("cur").cast("double").as("rev_1996"),
          roundTo(col("cur").cast("double") / col("prev").cast("double"), 6)
            .as("growth"))
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(col("growth").desc, col("l_partkey").asc)
      byPart.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .orderBy("p_brand", "rn")
    }),

    "q_calendar_dim" -> ((s, d) => {
      // date-spine calendar dimension: the warehouse staple generated
      // from the fact's own bounds (1-row min/max agg, broadcast) —
      // epoch-day spine exploded then RE-SPREAD by repartition(day)
      // (explode of a 1-row frame otherwise leaves the whole spine in
      // one task), attributes by pure Gregorian arithmetic shared by
      // both engines.
      val bounds = Tables.orders(s, d)
        .agg(min(floor(unix_millis(col("o_orderdate").cast("timestamp")) / 86400000L)
            .cast("long")).as("d0"),
          max(floor(unix_millis(col("o_orderdate").cast("timestamp")) / 86400000L)
            .cast("long")).as("d1"))
      bounds.select(explode(sequence(col("d0"), col("d1"))).as("day"))
        .repartition(col("day"))
        .withColumn("cal_date",
          date_add(to_date(lit("1970-01-01")), col("day").cast("int")))
        .select(col("day"), col("cal_date"),
          (((col("day") + 3) % 7) + 1).as("dow_iso"),
          year(col("cal_date")).cast("long").as("yr"),
          month(col("cal_date")).cast("long").as("mon"),
          quarter(col("cal_date")).cast("long").as("qtr"),
          ((((col("day") + 3) % 7) + 1) >= 6).as("is_weekend"))
        .orderBy("day")
    }),

    "q_rfm_segments" -> ((s, d) => {
      // RFM customer segmentation: recency / frequency / monetary
      // quintile scores with EXACT NTILE(5) parity, each computed
      // scale-safe via two-pass rank selection (Ranks.valuesAtRanks)
      // + narrow cut-tuple comparisons — no global window anywhere.
      // The per-customer base is persisted for the six bounded cut
      // actions, then released; the returned plan recomputes it once.
      val base = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("custkey"))
        .agg(
          max(floor(unix_millis(col("o_orderdate").cast("timestamp")) / 86400000L)
            .cast("long")).as("recency_day"),
          count(lit(1)).as("frequency"),
          sumD(col("o_totalprice")).as("monetary"))
      base.persist()
      try {
        // ALL THREE metrics resolve their ntile cuts in ONE grouped
        // two-pass rank selection (metric tag = group column): 2
        // driver actions total instead of 6. Values stack as doubles
        // — day counts and frequencies are exactly representable, so
        // the order (and the cuts) are unchanged.
        val stacked = base.selectExpr(
          """stack(3,
            | 'r', CAST(recency_day AS DOUBLE), custkey,
            | 'f', CAST(frequency AS DOUBLE), custkey,
            | 'm', monetary, custkey) AS (__m, value, custkey)""".stripMargin)
        val cuts = graft.operators.Ranks.valuesAtRanks(
          stacked, Seq("__m"), Seq("value", "custkey"), "value",
          n => Seq.tabulate(4)(i => (i + 1) * (n / 5) + math.min(i + 1, n % 5)))
        val cutsByMetric: Map[String, Seq[(Double, Long)]] =
          cuts.toSeq.groupBy(_.getString(0)).map { case (tag, rs) =>
            tag -> rs.map(r => (r.getDouble(2), r.getLong(3)))
          }
        def quintile(tag: String, metric: String): Column = {
          // ntile cut positions: cut_k = k*(n/5) + min(k, n mod 5);
          // score = 1 + #cuts strictly before the row's (metric, key)
          cutsByMetric(tag).map { case (v, ck) =>
            val after = (col(metric).cast("double") > lit(v)) ||
              (col(metric).cast("double") === lit(v) && col("custkey") > lit(ck))
            when(after, 1).otherwise(0)
          }.reduce(_ + _) + lit(1)
        }
        val scored = base.select(col("custkey"), col("recency_day"),
            col("frequency"), col("monetary"),
            quintile("r", "recency_day").as("r_score"),
            quintile("f", "frequency").as("f_score"),
            quintile("m", "monetary").as("m_score"))
        scored.withColumn("segment",
            when(col("r_score") >= 4 && col("f_score") >= 4 && col("m_score") >= 4,
              lit("champion"))
              .when(col("r_score") >= 4 && col("f_score") <= 2, lit("recent_light"))
              .when(col("r_score") <= 2 && col("f_score") >= 4, lit("lapsing_loyal"))
              .when(col("r_score") <= 2 && col("m_score") <= 2, lit("at_risk"))
              .otherwise(lit("regular")))
          .orderBy("custkey")
      } finally base.unpersist(false)
    }),

    "q_full_outer" -> ((s, d) => {
      // FULL OUTER join: customers without orders survive with zeroed
      // stats, order groups without a customer row would survive with
      // a null name — the one outer-join shape semi/anti don't cover
      val c = Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
      val o = Tables.orders(s, d).groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), sumD(col("o_totalprice")).as("total_spent"))
      c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
        .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_name"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("total_spent"), lit(0.0)).as("total_spent"))
        .orderBy("custkey")
    }),

    "q_salted_join" -> ((s, d) => {
      // salted skew join graded end-to-end: semantics are EXACTLY the
      // plain join's (the oracle is the plain SQL join), while a hot
      // join key's rows spread over nSalts reducers instead of one.
      // The perf property (salted beats unsalted on a hot key) is
      // measured separately in LayoutAndSkewSpec.
      val big = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey").as("p_partkey"), col("l_extendedprice"))
      val small = Tables.part(s, d).select(col("p_partkey"), col("p_brand"))
      graft.operators.Skew.saltedJoin(big, small, keys = Seq("p_partkey"),
        nSalts = 8, bigUniqueCols = Seq("l_orderkey", "l_linenumber"))
        .groupBy(col("p_brand").as("brand"))
        .agg(count(lit(1)).as("n_items"),
          sumD(col("l_extendedprice")).as("revenue"))
        .orderBy("brand")
    }),

    "q_pivot_revenue" -> ((s, d) =>
      // native pivot API (explicit value list keeps the schema
      // static and skips the distinct-values discovery job)
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("O", "F"))
        .agg(sumD(col("l_extendedprice")))
        .withColumnRenamed("O", "revenue_o").withColumnRenamed("F", "revenue_f")
        .orderBy("l_returnflag")),

    "q_unpivot_part" -> ((s, d) =>
      // unpivot/melt: wide numeric columns -> (attribute, value) rows
      Tables.part(s, d)
        .select(col("p_partkey"), col("p_size").cast("double").as("size"),
          roundTo(col("p_retailprice"), 2).as("retailprice"))
        .unpivot(Array(col("p_partkey")), Array(col("size"), col("retailprice")),
          "attribute", "value")
        .orderBy("p_partkey", "attribute")),

    "q_acctbal_quartiles" -> ((s, d) => {
      // ntile(4) over the TOTAL order (acctbal, custkey) — identical
      // output to a global-window ntile, computed scale-safe: the
      // three exact quartile cut VALUES come from two-pass rank
      // selection (Ranks.valuesAtRanks — counts per range bucket,
      // then a row_number over only the 3 cut-containing buckets),
      // and every row's quartile is then a narrow comparison against
      // those cut tuples. No global window, no join, no full sort.
      val c = Tables.customer(s, d)
      // ntile cut positions: cut_k = k*floor(n/4) + min(k, n mod 4)
      val cuts = graft.operators.Ranks.valuesAtRanks(
        c, Seq.empty, Seq("c_acctbal", "c_custkey"), "c_acctbal",
        n => Seq.tabulate(3)(i => (i + 1) * (n / 4) + math.min(i + 1, n % 4)))
      // rank(row) > cut_k  <=>  (acctbal, custkey) > cut tuple
      // cut row layout: (rank, c_acctbal, c_custkey)
      val afterCut = cuts.map { r =>
        val (a, k) = (r.getDouble(1), r.getLong(2))
        (col("c_acctbal") > a) ||
          (col("c_acctbal") === a && col("c_custkey") > k)
      }
      val quartile = afterCut
        .map(gt => when(gt, 1L).otherwise(0L))
        .foldLeft(lit(1L): Column)(_ + _)
      c.withColumn("quartile", quartile)
        .groupBy("quartile")
        .agg(count(lit(1)).as("n_customers"),
          sumD(col("c_acctbal")).as("total_balance"))
        .orderBy("quartile")
    }),

    "text_char_ngrams" -> ((s, d) => {
      // char trigram frequencies (top 50): substring-slide via the
      // same single-pass shingle expression over the char sequence
      Tables.documents(s, d)
        .select(explode(TextFunctions.charNgrams(col("text"), 3)).as("gram"))
        .groupBy("gram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("gram").asc)
        .limit(50)
    }),

    "q_status_pivot" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          sumD(when(col("l_linestatus") === "O", col("l_extendedprice")).otherwise(lit(0.0))).as("revenue_open"),
          sumD(when(col("l_linestatus") === "F", col("l_extendedprice")).otherwise(lit(0.0))).as("revenue_filled"),
          count(when(col("l_linestatus") === "O", lit(1))).as("n_open"),
          count(when(col("l_linestatus") === "F", lit(1))).as("n_filled"))
        .orderBy("l_returnflag")
    }),

    "q_events_window" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(unix_millis(date_trunc("hour", col("ts"))).as("window_start_ms"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), sumD(col("value")).as("total_value"))
        .orderBy("window_start_ms", "event_type")
    }),

    "q_sessionize" -> ((s, d) => {
      Streams.sessionizeBatch(Tables.events(s, d), gapSeconds = 1800)
        .select(col("user_id"), col("session_seq"),
          unix_millis(col("session_start")).as("session_start_ms"),
          unix_millis(col("session_end")).as("session_end_ms"),
          col("n_events"), col("total_value"))
        .orderBy("user_id", "session_seq")
    }),

    "q_json_props" -> ((s, d) => {
      Tables.events(s, d)
        .select(col("event_id"),
          regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("bigint").as("k"))
        .filter(col("k") > 80)
        .orderBy("event_id")
    }),

    "q_variant_props" -> ((s, d) =>
      // Spark 4 VARIANT type: parse the JSON once into a variant,
      // extract typed paths with variant_get — the modern
      // semi-structured path (vs q_json_props' regexp fallback)
      Tables.events(s, d)
        .select(expr("variant_get(parse_json(props), '$.k', 'bigint')").as("k"))
        .groupBy("k").agg(count(lit(1)).as("n_events"))
        .orderBy("k")),

    "q_asof_prior_signup" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), col("event_id"))
      graft.operators.AsOfJoin.lastPrior(
        purchases, signups, "user_id", "ts",
        valueCol = "event_id", asCol = "prior_signup_id",
        tieBreak = Seq("event_id"))
        .select(col("event_id"), col("user_id"),
          unix_millis(col("ts")).as("ts_ms"),
          coalesce(col("prior_signup_id"), lit(-1L)).as("prior_signup_id"))
        .orderBy("event_id")
    }),

    "q_scd1_merge" -> ((s, d) => {
      val base = Tables.orders(s, d).withColumn("version", lit(1L))
      val updates = Tables.orders(s, d)
        .filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 1.1)
        .withColumn("version", lit(2L))
      Dedup.keepLatest(base.unionByName(updates), Seq("o_orderkey"), "version")
        .select(col("o_orderkey"), col("version"),
          roundTo(col("o_totalprice"), 2).as("totalprice"))
        .orderBy("o_orderkey")
    }),

    "q_scd2_history" -> ((s, d) => {
      // SCD type-2: every version becomes a history row with a
      // validity range; the current row has valid_to NULL. One
      // window (lead over version per key) — single shuffle.
      val base = Tables.orders(s, d)
        .select(col("o_orderkey"), roundTo(col("o_totalprice"), 2).as("price"),
          lit(1L).as("version"))
      val updates = Tables.orders(s, d)
        .filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), roundTo(col("o_totalprice") * 1.1, 2).as("price"),
          lit(2L).as("version"))
      val w = Window.partitionBy("o_orderkey").orderBy(col("version").asc)
      base.unionByName(updates)
        .withColumn("valid_from", col("version"))
        .withColumn("valid_to", lead(col("version"), 1).over(w) - 1L)
        .withColumn("is_current", col("valid_to").isNull)
        .select(col("o_orderkey"), col("version"), col("price"),
          col("valid_from"), col("valid_to"), col("is_current"))
        .orderBy("o_orderkey", "version")
    }),

    "q_latest_event" -> ((s, d) => {
      Dedup.keepLatest(Tables.events(s, d), Seq("user_id"), "ts", "event_id")
        .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ts_ms"),
          col("event_type"))
        .orderBy("user_id")
    }),

    "q_split_assign" -> ((s, d) => {
      // deterministic train/val/test split on a portable content hash
      val h = pmod(conv(substring(md5(concat(lit("split:"), col("doc_id"))), 1, 15), 16, 10)
        .cast("long"), lit(100L))
      Tables.documents(s, d)
        .select(col("doc_id"),
          when(h < 80, "train").when(h < 90, "val").otherwise("test").as("split"))
        .orderBy("doc_id")
    }),

    "q_range_join" -> ((s, d) => {
      // range join via fixed-grid bucketing (RangeJoin operator —
      // a plain non-equi join would plan a nested loop): every event
      // joined to the ±2-minute incident windows around same-user
      // error events, counted per event.
      val ev = Tables.events(s, d).select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ts_ms"))
      val inc = Tables.events(s, d).filter(col("event_type") === "error")
        .select(col("user_id"),
          (unix_millis(col("ts")) - 120000L).as("lo_ms"),
          (unix_millis(col("ts")) + 120000L).as("hi_ms"))
      graft.operators.RangeJoin.pointInInterval(ev, inc, Seq("user_id"),
        "ts_ms", "lo_ms", "hi_ms", bucketMs = 60000L)
        .groupBy("event_id").agg(count(lit(1)).as("n_incident_windows"))
        .orderBy("event_id")
    }),

    "q_lag_lead" -> ((s, d) => {
      // lag/lead offset windows (inter-event gaps + next action) —
      // partitioned by user, so the window never gathers globally
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          (unix_millis(col("ts")) - unix_millis(lag(col("ts"), 1).over(w)))
            .as("ms_since_prev"),
          lead(col("event_type"), 1).over(w).as("next_type"))
        .orderBy("event_id")
    }),

    "q_moving_avg" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(-4, Window.currentRow)
      Tables.events(s, d)
        .withColumn("moving_avg", roundTo(avg(col("value")).over(w), 6))
        .select(col("event_id"), col("user_id"), col("moving_avg"))
        .orderBy("event_id")
    }),

    "q_median_price" -> ((s, d) => {
      // exact median-by-rank (deterministic: value at ceil(n/2) in the
      // (price, orderkey, linenumber) total order per returnflag).
      // The naive per-group window sorts each of the 3 groups in ONE
      // task (~2 TB/reducer at 100 TB); two-pass rank SELECTION
      // (Ranks.valuesAtRanks) instead sorts only the one range bucket
      // per group that contains the median rank. At true scale with
      // approximate tolerance, percentile_approx (bounded-memory
      // t-digest — see SketchSpec) is the alternative.
      val medians = graft.operators.Ranks.valuesAtRanks(
        Tables.lineitem(s, d), Seq("l_returnflag"),
        Seq("l_extendedprice", "l_orderkey", "l_linenumber"),
        "l_extendedprice", n => Seq((n + 1) / 2)) // ceil(n/2)
      import s.implicits._
      // row layout: (l_returnflag, rank, price, orderkey, linenumber)
      medians.toSeq.map(r => (r.getString(0), r.getDouble(2)))
        .toDF("l_returnflag", "__p")
        .select(col("l_returnflag"), roundTo(col("__p"), 2).as("median_price"))
        .orderBy("l_returnflag")
    }),

    "q_length_hist" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy((floor(col("n_chars") / 50) * 50).cast("bigint").as("bucket"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("bucket")),

    // ---- medallion core ----

    "bronze_ingest" -> ((s, d) => {
      Bronze.wrapDeterministic(Tables.customer(s, d))
        .select(col("payload.c_custkey").as("c_custkey"),
          col("payload.c_name").as("c_name"),
          col("payload.c_mktsegment").as("c_mktsegment"),
          unix_millis(col("bronze_ingest_ts")).as("ingest_ms"))
        .orderBy("c_custkey")
    }),

    "silver_flatten" -> ((s, d) => {
      val c = Tables.customer(s, d); val n = Tables.nation(s, d)
      val nested = c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .select(col("c_custkey"),
          struct(col("c_name").as("name"), roundTo(col("c_acctbal"), 2).as("acctbal")).as("profile"),
          struct(col("n_name").as("nation")).as("geo"))
      Flatten(nested).orderBy("c_custkey")
    }),

    "silver_explode" -> ((s, d) => {
      val arr = Tables.orders(s, d).select(col("o_orderkey"),
        array(
          struct(lit("base").as("tag"), roundTo(col("o_totalprice") * 0.5, 2).as("amt")),
          struct(lit("fee").as("tag"), roundTo(col("o_totalprice") * 0.1, 2).as("amt"))).as("charges"))
      Flatten(arr).orderBy("o_orderkey", "charges_tag")
    }),

    "silver_orders" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val dupes = o.withColumn("src", lit(1)).unionAll(o.withColumn("src", lit(2)))
      Silver.transformDeterministic(Bronze.wrapDeterministic(dupes),
        Seq("o_orderkey"), "src")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          roundTo(col("o_totalprice"), 2).as("totalprice"),
          col("o_orderdate").cast("date").as("orderdate"),
          col("o_orderpriority"), col("src"))
        .orderBy("o_orderkey")
    }),

    "dedup_pk" -> ((s, d) => {
      Dedup.keepFirst(Tables.lineitem(s, d), Seq("l_orderkey"),
        "l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice")
        .select(col("l_orderkey"), col("l_linenumber"),
          roundTo(col("l_extendedprice"), 2).as("price"))
        .orderBy("l_orderkey")
    }),

    "dim_customer" -> ((s, d) =>
      // timestamps hash as epoch millis (both engines truncate the
      // same way) — the bronze_ingest pattern
      dimCustomer(s, d)
        .withColumn("gold_ingest_ms", unix_millis(col("gold_ingest_ts")))
        .drop("gold_ingest_ts")
        .orderBy("customer_id")),

    "dim_part" -> ((s, d) =>
      dimPart(s, d)
        .withColumn("gold_ingest_ms", unix_millis(col("gold_ingest_ts")))
        .drop("gold_ingest_ts")
        .orderBy("product_id")),

    "fact_sales" -> ((s, d) => {
      val l = Tables.lineitem(s, d); val o = Tables.orders(s, d)
      val fact = l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(dimCustomer(s, d)), o("o_custkey") === col("customer_id"))
        .join(broadcast(dimPart(s, d)), l("l_partkey") === col("product_id"))
        .select(
          col("l_orderkey").as("order_id"),
          col("l_linenumber").as("line_number"),
          col("o_orderdate").cast("date").as("order_date"),
          col("customer_id"), col("name").as("customer_name"), col("nation"),
          col("product_id"), col("product_name"), col("category"),
          col("l_quantity").as("quantity"),
          roundTo(col("l_extendedprice"), 2).as("price"),
          roundTo(col("l_extendedprice") * (lit(1) - col("l_discount")), 2).as("net_revenue"),
          // the reference stamps the FACT table too, not just the dims
          // (gold_transformation.py:140 current_timestamp()) — same
          // deterministic-epoch + epoch-ms pattern as dim_customer/
          // dim_part so hashes stay stable
          unix_millis(to_timestamp(lit("2026-01-01 00:00:00"))).as("gold_ingest_ms"))
      fact.filter(col("order_id").isNotNull && col("quantity") > 0 && col("net_revenue") > 0)
        .orderBy("order_id", "line_number")
    }),

    "q_pruned_read" -> ((s, d) => {
      // partition pruning end-to-end: write a hive-partitioned layout
      // (the Layout.writePartitioned shape), read back ONE partition.
      // The scan plans PartitionFilters on event_type and lists only
      // that directory (asserted in LayoutAndSkewSpec) — at 100 TB
      // the difference between scanning 1/K of the table and all of
      // it. The oracle reads the same rows straight off the source.
      val out = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_pruned_" + Integer.toHexString(d.hashCode)).getAbsolutePath
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ts_ms"),
          col("event_type"))
        .write.mode("overwrite").partitionBy("event_type").parquet(out)
      Tables.parquet(s, out)
        .filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts_ms"), col("event_type"))
        .orderBy("event_id")
    }),

    // ---- data-quality framework ----

    "dq_null_pk" -> ((s, d) =>
      QualityChecks.nullPks(Tables.orders(s, d), Seq("o_orderkey"))
        .select(col("o_orderkey")).orderBy("o_orderkey")),

    "dq_whitespace" -> ((s, d) =>
      QualityChecks.unwantedSpaces(Tables.part(s, d), Seq("p_name", "p_brand", "p_type"))
        .select(col("p_partkey")).orderBy("p_partkey")),

    "dq_date_range" -> ((s, d) =>
      QualityChecks.invalidDates(Tables.events(s, d), Seq("ts"),
        minDate = "2024-01-01", maxDate = "2024-01-15")
        .select(col("event_id")).orderBy("event_id")),

    "dq_nonpositive" -> ((s, d) =>
      QualityChecks.nonPositive(Tables.lineitem(s, d), Seq("l_discount"))
        .select(col("l_orderkey"), col("l_linenumber"),
          roundTo(col("l_discount"), 2).as("discount"))
        .orderBy("l_orderkey", "l_linenumber")),

    "dq_format" -> ((s, d) =>
      QualityChecks.invalidFormat(Tables.documents(s, d), "lang", "^(en|de|fr|es)$")
        .select(col("doc_id"), col("lang")).orderBy("doc_id")),

    "dq_email" -> ((s, d) => {
      // the reference's real email check (silver_layer_data_quality_
      // checks.py:100): the test tables carry no email column, so a
      // deterministic one is derived from c_name — every 7th customer
      // gets a malformed address ('@' -> '_at_') and must be caught
      // by the reference EmailRegex
      val local = lower(regexp_replace(col("c_name"), "#", "."))
      val emails = Tables.customer(s, d).select(col("c_custkey"),
        when(col("c_custkey") % 7 === 0, concat(local, lit("_at_example.com")))
          .otherwise(concat(local, lit("@example.com"))).as("email"))
      QualityChecks.invalidFormat(emails, "email", QualityChecks.EmailRegex)
        .select(col("c_custkey"), col("email"))
        .orderBy("c_custkey")
    }),

    "dq_integer_qty" -> ((s, d) =>
      QualityChecks.nonIntegerValued(Tables.events(s, d), "value")
        .select(col("event_id"), roundTo(col("value"), 2).as("value"))
        .orderBy("event_id")),

    "dq_orphans" -> ((s, d) => {
      val smallParts = Tables.part(s, d).filter(col("p_size") <= 25)
      QualityChecks.orphans(Tables.lineitem(s, d), smallParts, "l_partkey", "p_partkey")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    "dq_profile" -> ((s, d) => {
      import QualityChecks.ProfileCol
      QualityChecks.profile(Tables.orders(s, d), Seq(
        ProfileCol("o_orderkey", col("o_orderkey")),
        ProfileCol("o_custkey", col("o_custkey")),
        ProfileCol("o_totalprice", roundTo(col("o_totalprice"), 2)),
        ProfileCol("o_orderstatus", col("o_orderstatus"), numeric = false)))
        .orderBy("column_name")
    }),

    "dq_summary" -> ((s, d) => {
      import QualityChecks._
      // one conditional-aggregation pass per SOURCE (events carries
      // two checks in one scan), not one scan per check
      Seq(
        summarizeOnePass(Tables.orders(s, d),
          Seq("null_pk_orders" -> nullPkCond(Seq("o_orderkey")))),
        summarizeOnePass(Tables.part(s, d),
          Seq("whitespace_part" -> unwantedSpacesCond(Seq("p_name", "p_brand")))),
        summarizeOnePass(Tables.events(s, d),
          Seq("date_range_events" -> invalidDatesCond(Seq("ts"), "2024-01-01", "2024-01-15"),
            "integer_value_events" -> nonIntegerValuedCond("value"))),
        summarizeOnePass(Tables.lineitem(s, d),
          Seq("nonpositive_discount" -> nonPositiveCond(Seq("l_discount")))),
        summarizeOnePass(Tables.documents(s, d),
          Seq("format_lang" -> invalidFormatCond("lang", "^(en|de|fr|es)$"))))
        .reduce(_.unionAll(_)).orderBy("check_name")
    }),

    // ---- text analysis ----

    "text_tokens" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("bigint").as("n_tokens"),
        TextFunctions.bpeTokenEstimate(col("text")).cast("bigint").as("n_bpe_tokens"),
        TextFunctions.stopwordCount(col("text")).cast("bigint").as("n_stopwords"))
        .orderBy("doc_id")),

    "text_quality" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        roundTo(TextFunctions.punctRatio(col("text")), 6).as("punct_ratio"),
        roundTo(TextFunctions.stopwordRatio(col("text")), 6).as("stopword_ratio"),
        roundTo(TextFunctions.meanTokenLength(col("text")), 6).as("mean_token_len"),
        TextFunctions.qualityScore(col("text")).as("quality_score"))
        .orderBy("doc_id")),

    "text_lang_id" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextFunctions.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")),

    "text_lexicon_score" -> ((s, d) =>
      // weighted-lexicon curation gate (profanity / promo / quality
      // keyword lists): pure narrow codegen'd array ops, zero shuffle
      Tables.documents(s, d).select(col("doc_id"),
        TextFunctions.lexiconHits(col("text")).as("n_hits"),
        TextFunctions.lexiconScore(col("text")).as("lex_score"))
        .orderBy("doc_id")),

    "text_fingerprint" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextFunctions.fingerprintMd5(col("text")).as("fp_md5"),
        TextFunctions.fingerprint60(col("text")).as("fp60"))
        .orderBy("doc_id")),

    // ---- LLM-pipeline dedup / similarity ----

    "dedup_exact_text" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val withClones = docs.select(col("doc_id"), col("text"))
        .unionAll(docs.select((col("doc_id") + SyntheticIdTag).as("doc_id"), col("text")))
      withClones
        .groupBy(TextFunctions.fingerprintMd5(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
        .select(col("canonical_id"), col("n_copies"))
        .orderBy("canonical_id")
    }),

    // The inverted-index formulation with the df<=1000 hot-shingle
    // cap wired (mirrored in the oracle — the same pigeonhole-style
    // guard dedup_containment grades with). Uncapped, the hot-shingle
    // df^2 candidate term grows 4.7x per 10x data step (docs/
    // SCALING.md r7) — the one scale-killer left in the dedup family;
    // capped, a boilerplate shingle shared by >1000 docs is excluded
    // from the intersection count (sizes stay exact), making the
    // measure slightly conservative on hot shingles and the join
    // volume bounded at df_cap * corpus instead of df^2.
    "dedup_ngram_jaccard" -> ((s, d) =>
      NearDup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
        shingleSize = 3, threshold = 0.5, maxDocFreq = Some(1000L))
        .orderBy("id_a", "id_b")),

    // the PPJoin/AllPairs prefix-filtered formulation, graded against
    // the SAME oracle as dedup_ngram_jaccard: both are exact, so the
    // hash gate proves the prefix filter drops no qualifying pair.
    // (Inverted-index vs prefix-filter is a per-corpus trade — see
    // NearDup scaladoc; boilerplate-heavy corpora favor this one.)
    "dedup_ppjoin" -> ((s, d) =>
      NearDup.ngramJaccardPairsPrefix(Tables.documents(s, d), "doc_id", "text",
        shingleSize = 3, threshold = 0.5)
        .orderBy("id_a", "id_b")),

    "dedup_minhash" -> ((s, d) =>
      NearDup.minHashPairs(Tables.documents(s, d), "doc_id", "text",
        shingleSize = 3, threshold = 0.5)
        .orderBy("id_a", "id_b")),

    "dedup_simhash" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), NearDup.simHash(col("text")).as("simhash"))
        .orderBy("doc_id")),

    "dedup_simhash_pairs" -> ((s, d) =>
      NearDup.simHashPairs(Tables.documents(s, d), "doc_id", "text", maxDist = 6)
        .withColumn("hamming", col("hamming").cast("bigint"))
        .orderBy("id_a", "id_b")),

    "dedup_clusters" -> ((s, d) => {
      // near-dup cluster formation: connected components over the
      // simhash pair graph; every member labeled with the smallest
      // reachable doc_id (the canonical survivor)
      val edges = NearDup.simHashPairs(Tables.documents(s, d), "doc_id", "text", maxDist = 6)
        .select("id_a", "id_b")
      graft.dedup.Clusters.connectedComponents(edges)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    "dedup_cluster_sizes" -> ((s, d) => {
      // dedup tuning diagnostic: the cluster-size histogram (how big
      // are the near-dup groups at this threshold). Singletons are
      // docs absent from the pair graph.
      val docs = Tables.documents(s, d)
      val edges = NearDup.simHashPairs(docs, "doc_id", "text", maxDist = 6)
        .select("id_a", "id_b")
      val members = graft.dedup.Clusters.connectedComponents(edges)
      val nDocs = docs.select(countDistinct(col("doc_id"))).head().getLong(0)
      val clustered = members.groupBy("cluster_rep")
        .agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      val nClustered = members.count()
      import s.implicits._
      val singletons = Seq((1L, nDocs - nClustered))
        .toDF("cluster_size", "n_clusters")
      clustered.unionByName(singletons)
        .groupBy("cluster_size")
        .agg(sum(col("n_clusters")).as("n_clusters"))
        .filter(col("n_clusters") > 0)
        .orderBy("cluster_size")
    }),

    "dedup_apply" -> ((s, d) => {
      // the final dedup decision: drop every non-representative
      // cluster member, keep everything else. The drop list (cluster
      // members minus reps) is tiny relative to the corpus —
      // broadcast anti-join, corpus never shuffles.
      val docs = Tables.documents(s, d)
      val edges = NearDup.simHashPairs(docs, "doc_id", "text", maxDist = 6)
        .select("id_a", "id_b")
      val drops = graft.dedup.Clusters.connectedComponents(edges)
        .filter(col("id") =!= col("cluster_rep"))
        .select(col("id").as("doc_id"))
      docs.join(broadcast(drops), Seq("doc_id"), "left_anti")
        .select(col("doc_id")).orderBy("doc_id")
    }),

    "pipeline_curate" -> ((s, d) => {
      // END-TO-END corpus curation as a training-data user runs it:
      // language gate -> quality & length gates -> exact-dup
      // keep-first -> benchmark decontamination -> split assignment
      // + token counts, ONE declarative plan. Narrow per-row
      // scoring, ONE shuffle for the keep-first dedup (min_by
      // aggregation, map-side combinable), broadcast anti-join
      // against the (small) holdout fingerprints — the corpus never
      // shuffles again. Shifted clones are unioned in (this corpus
      // has no exact dupes) so the dedup stage does real work.
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val withClones = docs.unionByName(
        docs.select((col("doc_id") + SyntheticIdTag).as("doc_id"), col("text")))
      graft.text.Curation.curate(withClones,
          holdout = docs.filter(col("doc_id") % 97 === 0))
        .orderBy("doc_id")
    }),

    "dedup_pipeline" -> ((s, d) => {
      // the three stages above composed as a user would run them:
      // ONE pair graph -> clusters -> survivor apply with merge
      // accounting. The pair pipeline and the CC fixpoint execute
      // exactly once (Clusters.dedupPipeline); the graded result is
      // the survivor corpus with how many originals each row absorbed
      val docs = Tables.documents(s, d)
      val edges = NearDup.simHashPairs(docs, "doc_id", "text", maxDist = 6)
        .select("id_a", "id_b")
      graft.dedup.Clusters.dedupPipeline(docs.select("doc_id"), edges)
        .orderBy("doc_id")
    }),

    "dedup_pipeline_semantic" -> ((s, d) => {
      // dedup_pipeline's EMBEDDING-space twin: semantic near-dup
      // survivors. Multi-probe hyperplane-LSH candidate pairs with
      // exact-cosine verify (the subquadratic scale path — never
      // all-pairs) feed ONE connected-components fixpoint, and each
      // surviving representative carries how many near-duplicate
      // vectors it absorbed. The oracle replays the identical
      // hyperplane constants and a recursive-CTE reachability.
      val vecs = Tables.embeddings(s, d)
      val edges = Similarity.cosineNearDupPairsLsh(vecs, threshold = 0.45,
        nBits = 6, probeBits = 2, dim = 64).select("id_a", "id_b")
      graft.dedup.Clusters.dedupPipeline(vecs.select("vec_id"), edges,
        idCol = "vec_id")
        .orderBy("vec_id")
    }),

    // cluster-quality eval for the semantic dedup: label PURITY of
    // each embedding near-dup cluster (majority-label share) — if
    // clusters mix labels, the threshold is too loose. Same LSH pair
    // graph + min-id components as dedup_pipeline_semantic;
    // singletons join back via coalesce and drop from the report
    // (trivially pure).
    "dedup_embed_cluster_purity" -> ((s, d) => {
      val vecs = Tables.embeddings(s, d)
      val edges = Similarity.cosineNearDupPairsLsh(vecs, threshold = 0.45,
        nBits = 6, probeBits = 2, dim = 64).select("id_a", "id_b")
      val cc = graft.dedup.Clusters.connectedComponents(edges)
        .withColumnRenamed("id", "vec_id")
      val members = vecs.select(col("vec_id"), col("label"))
        .join(cc, Seq("vec_id"), "left")
        .select(col("label"),
          coalesce(col("cluster_rep"), col("vec_id")).as("rep"))
      val cnt = members.groupBy("rep", "label").agg(count(lit(1)).as("__c"))
      cnt.groupBy(col("rep").as("cluster_rep"))
        .agg(sum(col("__c")).as("n_members"),
          count(lit(1)).as("n_labels"), max(col("__c")).as("__mx"))
        .where(col("n_members") >= 2)
        .select(col("cluster_rep"), col("n_members"), col("n_labels"),
          roundTo(col("__mx").cast("double") / col("n_members"), 6).as("purity"))
        .orderBy("cluster_rep")
    }),

    "dedup_best_rep" -> ((s, d) => {
      // survivor selection by QUALITY, not min-id: within each
      // near-dup cluster keep the highest-quality member (ties to
      // the smallest id) — the curation policy that retains the
      // cleanest copy instead of an arbitrary one. Same pair graph /
      // CC as dedup_pipeline; quality joins happen on the
      // member-bounded cluster frame, and survivors carry how many
      // originals they absorbed.
      val docs = Tables.documents(s, d)
      val scored = docs.select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality"))
      val edges = NearDup.simHashPairs(docs, "doc_id", "text", maxDist = 6)
        .select("id_a", "id_b")
      val members = graft.dedup.Clusters.connectedComponents(edges)
      val winners = members
        .join(scored, members("id") === scored("doc_id"))
        .groupBy(col("cluster_rep"))
        .agg(max_by(col("doc_id"),
          struct(col("quality"), (-col("doc_id")).as("nid"))).as("doc_id"),
          count(lit(1)).as("n_merged"))
        .select(col("doc_id"), col("n_merged"))
      val singles = docs
        .join(broadcast(members.select(col("id").as("doc_id"))),
          Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit(1L).as("n_merged"))
      winners.unionByName(singles)
        .join(scored, "doc_id")
        .select(col("doc_id"), col("n_merged"), col("quality"))
        .orderBy("doc_id")
    }),

    // corpus-level similarity from MERGED MinHash signatures — the
    // custom Catalyst AGGREGATE (MinHashMergeAgg) graded end-to-end:
    // per-doc signatures (custom expression, one md5 pass) reduce to
    // ONE 32-long signature per lang via elementwise-min merge
    // (combinable: any partitioning, same result), then the tiny
    // lang-pair frame estimates cross-corpus Jaccard as matching
    // signature fraction. The corpus is touched once; everything
    // after the groupBy is constant-size.
    "dedup_minhash_corpus_sim" -> ((s, d) => {
      val sigs = Tables.documents(s, d)
        .select(col("lang"), NearDup.minHashSignature(col("text"), 3).as("sig"))
        .where(col("sig").isNotNull)
      val langSig = sigs.groupBy("lang")
        .agg(graft.functions.MinHashMergeAgg.merge(col("sig")).as("sig"))
      val a = langSig.select(col("lang").as("lang_a"), col("sig").as("__sa"))
      val b = langSig.select(col("lang").as("lang_b"), col("sig").as("__sb"))
      val matches = aggregate(
        zip_with(col("__sa"), col("__sb"), (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, x) => acc + x)
      a.join(b, col("lang_a") < col("lang_b"))
        .select(col("lang_a"), col("lang_b"),
          roundTo(matches.cast("double") / NearDup.NumHashes, 6).as("est_jaccard"))
        .orderBy("lang_a", "lang_b")
    }),

    "q_label_centroid" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy("label", "dim")
        .agg(count(lit(1)).as("n_vectors"),
          sum(roundTo(col("x").cast("double"), 10).cast("decimal(28,10)"))
            .cast("double").as("dim_sum"))
        .withColumn("dim", col("dim").cast("bigint"))
        .orderBy("label", "dim")),

    "q_classifier_eval" -> ((s, d) => {
      // nearest-centroid classification eval — the per-class
      // precision/recall/F1 scoreboard an embedding-quality gate
      // needs. Per-label centroids come from decimal-exact dim sums
      // (the q_label_centroid recipe) and are collected ONCE as
      // plan-time literals (bounded: labels × 64 — the IVF-centroid
      // pattern); scoring is then a SINGLE narrow pass over the
      // embeddings: DotProductExpr against each centroid literal,
      // argmax via struct-greatest (ties to the smallest label).
      // The oracle builds the same centroids and scores with
      // list_inner_product over the dim-ordered centroid list — both
      // engines sum sequentially, so the cosine is bit-equal (the
      // ann_topk convention).
      val e = Tables.embeddings(s, d)
      val centRows = e
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("label"), col("dim"), roundTo(col("x").cast("double"), 10).as("x"))
        .groupBy(col("label"), col("dim"))
        .agg((sum(col("x").cast("decimal(28,10)")).cast("double") /
          count(lit(1))).as("m0"))
        .select(col("label"), col("dim"), roundTo(col("m0"), 10).as("m"))
        .collect()
      val cents: Seq[(Int, Array[Double])] = centRows
        .groupBy(_.getInt(0)).toSeq.map { case (l, rows) =>
          val arr = new Array[Double](64)
          rows.foreach(r => arr(r.getInt(1)) = r.getDouble(2))
          (l, arr)
        }.sortBy(_._1)
      // centroid norms driver-side with the same sequential IEEE
      // order DuckDB's list_inner_product uses — bit-equal
      def seqNorm(m: Array[Double]): Double = {
        var acc = 0.0; var i = 0
        while (i < m.length) { acc += m(i) * m(i); i += 1 }
        math.sqrt(acc)
      }
      val v = Similarity.toDouble(col("embedding"))
      val vn = Similarity.norm(v)
      val scoreStructs = cents.map { case (l, m) =>
        val mLit = array(m.map(lit(_)): _*)
        struct(roundTo(Similarity.dot(v, mLit) / (vn * lit(seqNorm(m))), 9)
          .as("cos"), lit(-l).as("nl"))
      }
      val pred = e.select(col("vec_id"), col("label"),
        (-greatest(scoreStructs: _*).getField("nl")).as("pred"))
      val byTrue = pred.groupBy(col("label").as("class"))
        .agg(count(lit(1)).as("n_true"))
      val byPred = pred.groupBy(col("pred").as("class"))
        .agg(count(lit(1)).as("n_pred"))
      val tp = pred.filter(col("label") === col("pred"))
        .groupBy(col("label").as("class")).agg(count(lit(1)).as("tp"))
      byTrue.join(byPred, Seq("class"), "full_outer")
        .join(tp, Seq("class"), "full_outer")
        .select(col("class"),
          coalesce(col("n_true"), lit(0L)).as("n_true"),
          coalesce(col("n_pred"), lit(0L)).as("n_pred"),
          coalesce(col("tp"), lit(0L)).as("tp"))
        .withColumn("precision", when(col("n_pred") > 0,
          roundTo(col("tp").cast("double") / col("n_pred"), 6)))
        .withColumn("recall", when(col("n_true") > 0,
          roundTo(col("tp").cast("double") / col("n_true"), 6)))
        .withColumn("f1", when(col("precision") + col("recall") > 0,
          roundTo(lit(2) * col("precision") * col("recall") /
            (col("precision") + col("recall")), 6)).otherwise(lit(0.0)))
        .orderBy("class")
    }),

    "text_vocab" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("n_occurrences"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("n_occurrences").desc, col("token").asc)
        .limit(100)),

    "dedup_embed_cosine" -> ((s, d) =>
      Similarity.cosineNearDupPairs(Tables.embeddings(s, d), threshold = 0.45)
        .orderBy("id_a", "id_b")),

    "dedup_embed_cosine_lsh" -> ((s, d) =>
      // the subquadratic scale path: multi-probe hyperplane LSH
      // (candidates = pairs within hamming<=probeBits of each other's
      // sign buckets), exact cosine verify — precision 1.0
      Similarity.cosineNearDupPairsLsh(Tables.embeddings(s, d), threshold = 0.45,
        nBits = 6, probeBits = 2, dim = 64)
        .orderBy("id_a", "id_b")),

    "ann_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 100), k = 5)
        .orderBy("query_id", "rank")
    }),

    // metadata-filtered vector search: top-5 same-LABEL neighbors per
    // query — the filter rides in the join key (candidates shrink by
    // label selectivity; a label-partitioned corpus prunes files),
    // and the rank ≤ k idiom executes on the TopKPerGroup operator
    "ann_topk_filtered" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.filteredTopK(e, e.filter(col("vec_id") < 100), k = 5,
        filterCol = "label")
        .orderBy("query_id", "rank")
    }),

    "ann_lsh" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.lshTopK(e, e.filter(col("vec_id") < 100), k = 5, nBits = 4, dim = 64)
        .orderBy("query_id", "rank")
    }),

    // index-quality evaluation: per-query recall@5 of the LSH index
    // against the exact brute-force ground truth — the measurement a
    // team runs before trusting an approximate index. Both runs are
    // the graded operators above; the eval itself is one equi-join on
    // (query, neighbor) + a bounded per-query agg. At 100 TB ground
    // truth comes from a SAMPLE of queries — the join and agg shapes
    // are unchanged.
    "ann_recall_eval" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 100)
      val exact = Similarity.bruteForceTopK(e, q, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.lshTopK(e, q, k = 5, nBits = 4, dim = 64)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left_outer")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
        .select(col("query_id"), col("n_hits"),
          roundTo(col("n_hits").cast("double") / 5, 6).as("recall_at_5"))
        .orderBy("query_id")
    }),

    "ann_ivf" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 100), k = 5, nCells = 16, nProbe = 2)
        .orderBy("query_id", "rank")
    }),

    // recall@5 of the IVF index against exact ground truth — the
    // companion to ann_recall_eval (which scores the LSH index):
    // together they quantify BOTH approximate indexes' quality, the
    // number that justifies nProbe/nCells at scale.
    "ann_ivf_recall" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 100)
      val exact = Similarity.bruteForceTopK(e, q, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.ivfTopK(e, q, k = 5, nCells = 16, nProbe = 2)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left_outer")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
        .select(col("query_id"), col("n_hits"),
          roundTo(col("n_hits").cast("double") / 5, 6).as("recall_at_5"))
        .orderBy("query_id")
    }),

    "ann_ivf_kmeans" -> ((s, d) => {
      // IVF with TRAINED centroids: 2 deterministic Lloyd iterations
      // from the 16-lowest-id seeds, then the identical probe plan as
      // ann_ivf with the trained centroids baked in as literals.
      // Vectors are pre-rounded to 10 decimal digits and sums
      // accumulate at decimal scale 10 — the portable grid (see
      // q_label_centroid) that makes the trained centroids
      // byte-identical in DuckDB, whose oracle re-runs the same two
      // unrolled iterations in SQL.
      // the pre-rounded frame feeds MANY scans (seeds, two Lloyd
      // sum passes, corpus/query cell assignment, probe scoring) and
      // the 64-element rounding lambda is interpreted — persist it so
      // the transform runs once per row (cache is query-owned;
      // Bench/Verify clear caches between queries)
      val e = Tables.embeddings(s, d).select(col("vec_id"),
        transform(col("embedding"), x => roundTo(x.cast("double"), 10)).as("embedding"))
        .transform(graft.Caches.tracked)
      val cents = Similarity.kmeansCentroids(e, k = 16, iters = 2, sumScale = 10)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 100), k = 5, nCells = 16,
        nProbe = 2, trainedCentroids = Some(cents))
        .orderBy("query_id", "rank")
    }),

    "q_embed_quantize" -> ((s, d) => {
      // int8 symmetric quantization round trip (embedding storage
      // compression): q = clamp(round(x/scale)), scale = amax/127;
      // reports per-vector scale and max reconstruction error.
      // Portable rounding floor(v+0.5); HOF lambdas are fine at this
      // width (64 dims) — a custom Expression is the faster variant
      // if this became a hot path (see DotProductExpr).
      val v = transform(col("embedding"), x => x.cast("double"))
      val amax = array_max(transform(v, x => abs(x)))
      val scale = when(amax === 0, lit(0.0)).otherwise(amax / 127.0)
      val err = when(amax === 0, lit(0.0)).otherwise(
        array_max(transform(v, x =>
          abs(x - least(greatest(floor(x / scale + 0.5), lit(-127L)),
            lit(127L)) * scale))))
      Tables.embeddings(s, d).select(col("vec_id"),
        roundTo(scale, 9).as("scale"),
        roundTo(err, 9).as("max_err"))
        .orderBy("vec_id")
    }),

    "q_stratified_sample" -> ((s, d) => {
      // deterministic 20% sample per stratum via a portable content
      // hash — reproducible under task retries (no rand()), and the
      // same rows fall in the sample on ANY engine
      val h = pmod(conv(substring(md5(concat(lit("sample:"), col("doc_id"))), 1, 15), 16, 10)
        .cast("long"), lit(100L))
      Tables.documents(s, d).filter(h < 20)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }),

    "q_weighted_sample" -> ((s, d) => {
      // deterministic weighted sampling (quality-weighted corpus
      // selection): keep a doc with probability proportional to its
      // weight, via a portable uniform hash — reproducible under
      // retries and across engines, unlike rand()
      val u = pmod(conv(substring(md5(concat(lit("wsample:"), col("doc_id"))), 1, 15), 16, 10)
        .cast("long"), lit(1000000L)) / 1000000.0
      val w = least(col("n_chars") / 500.0, lit(1.0))
      Tables.documents(s, d).filter(u < w)
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    }),

    "q_shuffle_order" -> ((s, d) => {
      // deterministic global shuffle for training shards: every doc
      // gets a shard (hash mod nShards) and a reproducible position
      // within its shard (rank of the hash). The window partitions
      // by shard — parallelism = shard count, no global sort. At
      // 100 TB pick nShards so one shard fits a task (thousands), or
      // drop the dense pos and repartitionByRange(shard, hash) +
      // sortWithinPartitions for the write path; for an explicit pos
      // over huge shards, Ranks.withExactRank is the bucketed form.
      val h = conv(substring(md5(concat(lit("shuffle:"), col("doc_id"))), 1, 15), 16, 10)
        .cast("long")
      val w = Window.partitionBy("shard").orderBy(col("__h").asc, col("doc_id").asc)
      Tables.documents(s, d)
        .select(col("doc_id"), pmod(h, lit(64L)).as("shard"), h.as("__h"))
        .withColumn("pos", row_number().over(w).cast("bigint"))
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy("shard", "pos")
    }),

    "dedup_decontaminate" -> ((s, d) => {
      // benchmark-contamination removal: drop corpus docs whose
      // normalized fingerprint appears in the holdout set (docs with
      // doc_id%97==0 stand in for the benchmark). The tiny holdout
      // fingerprint set broadcasts — the corpus is never shuffled.
      val docs = Tables.documents(s, d)
      val bench = docs.filter(col("doc_id") % 97 === 0)
        .select(TextFunctions.fingerprintMd5(col("text")).as("__fp")).distinct()
      docs.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(bench),
          TextFunctions.fingerprintMd5(col("text")) === col("__fp"), "left_anti")
        .select(col("doc_id")).orderBy("doc_id")
    }),

    "dedup_incremental" -> ((s, d) => {
      // incremental-ingest dedup: a NEW batch (doc_id%10==3 stands in
      // for today's arrivals) is deduped keep-first WITHIN the batch
      // (one groupBy on the fingerprint) and then anti-joined against
      // the standing corpus's fingerprints — the daily-append
      // hygiene pass. At 100 TB the corpus side is the big one:
      // either shuffle both on the fingerprint (batch is small, the
      // corpus side is scan+shuffle-once), or maintain a corpus
      // BLOOM as a versioned artifact and prefilter the batch in the
      // scan stage (BloomExpressions), rescuing exactly as
      // dedup_decontaminate_bloom does.
      val docs = Tables.documents(s, d)
      val fp = TextFunctions.fingerprintMd5(col("text"))
      val batchFirst = docs.filter(col("doc_id") % 10 === 3)
        .select(col("doc_id"), fp.as("__fp"))
        .groupBy(col("__fp")).agg(min(col("doc_id")).as("doc_id"))
      val corpusFps = docs.filter(col("doc_id") % 10 =!= 3)
        .select(fp.as("__fp")).distinct()
      batchFirst.join(corpusFps, Seq("__fp"), "left_anti")
        .select(col("doc_id")).orderBy("doc_id")
    }),

    "dedup_decontaminate_bloom" -> ((s, d) => {
      // dedup_decontaminate's scale path for a holdout too big to
      // broadcast as an exact set: a Bloom of the holdout
      // fingerprints (built distributed, ~1.2 MB per million items
      // at 1% fpp) prefilters the corpus IN THE SCAN STAGE — a
      // codegen'd literal probe, no join, no shuffle. Probe misses
      // are DEFINITELY clean (blooms have no false negatives) and
      // never shuffle; only the suspect sliver (true hits + fpp of
      // the corpus) reaches the exact anti-join that rescues false
      // positives. The result is therefore EXACT — same rows as
      // dedup_decontaminate, same oracle SQL.
      val docs = Tables.documents(s, d)
      val fp = TextFunctions.fingerprintMd5(col("text"))
      val bench = docs.filter(col("doc_id") % 97 === 0)
        .select(fp.as("__fp")).distinct()
      val bloom = graft.functions.BloomExpressions
        .buildBloom(bench, col("__fp"), expectedItems = 100000L, fpp = 0.01)
      val corpus = docs.filter(col("doc_id") % 97 =!= 0)
      val suspect = graft.functions.BloomExpressions.mightContain(bloom, fp)
      corpus.filter(!suspect).select(col("doc_id"))
        .unionByName(corpus.filter(suspect)
          .join(bench, fp === col("__fp"), "left_anti")
          .select(col("doc_id")))
        .orderBy("doc_id")
    }),

    "text_chunk" -> ((s, d) => {
      // training-prep chunking: split each doc into 40-token windows
      // with stride 32 (8-token overlap). Narrow per-row fanout —
      // sequence + posexplode + slice, all codegen'd, no shuffle.
      val chunkLen = 40; val stride = 32
      Tables.documents(s, d)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("__t"))
        .filter(size(col("__t")) > 0)
        .select(col("doc_id"), col("__t"),
          posexplode(sequence(lit(0), size(col("__t")) - 1, lit(stride)))
            .as(Seq("chunk_idx", "__start")))
        .select(col("doc_id"), col("chunk_idx").cast("bigint").as("chunk_idx"),
          slice(col("__t"), col("__start") + 1, lit(chunkLen)).as("__c"))
        .select(col("doc_id"), col("chunk_idx"),
          size(col("__c")).cast("bigint").as("n_tokens"),
          concat_ws(" ", col("__c")).as("chunk_text"))
        .orderBy("doc_id", "chunk_idx")
    }),

    "text_redact_pii" -> ((s, d) => {
      // PII scrubbing (training-data hygiene): deterministic emails +
      // phone numbers are synthesized into the corpus (test tables
      // carry none), then redacted with the same regexes a production
      // scrub pass would use. Narrow codegen'd transform, no shuffle.
      val id = col("doc_id").cast("string")
      val aug = concat(col("text"), lit(" contact user"), id,
        lit("@mail.example.com call +1-555-"), id)
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phoneRe = "\\+[0-9][0-9\\-]{5,}[0-9]"
      Tables.documents(s, d).select(col("doc_id"),
        regexp_replace(regexp_replace(aug, emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>").as("redacted"))
        .orderBy("doc_id")
    }),

    "dedup_decontaminate_ngram" -> ((s, d) => {
      // n-gram-overlap decontamination (the practical benchmark-leak
      // check: exact-fingerprint match misses partial inclusion):
      // drop corpus docs sharing ANY 5-gram with the holdout set
      // (doc_id%97==0). The holdout gram set is tiny — broadcast
      // semi-join + broadcast anti-join; the corpus never shuffles.
      val docs = Tables.documents(s, d)
      val g5 = (t: Column) => TextFunctions.shinglesDistinct(t, 5)
      val benchGrams = docs.filter(col("doc_id") % 97 === 0)
        .select(explode(g5(col("text"))).as("__g")).distinct()
      val contaminated = docs.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), explode(g5(col("text"))).as("__g"))
        .join(broadcast(benchGrams), "__g")
        .select("doc_id").distinct()
      docs.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(contaminated), Seq("doc_id"), "left_anti")
        .select(col("doc_id")).orderBy("doc_id")
    }),

    "text_dup_spans" -> ((s, d) => {
      // inter-document repetition signal (RefinedWeb-style): per doc,
      // how many of its distinct 5-grams appear in at least one OTHER
      // doc. Inverted-index join on the gram (same scale shape as
      // ngramJaccardPairs — no pairs materialize, one shuffle).
      val docs = Tables.documents(s, d)
      val g = docs.select(col("doc_id"),
        explode(TextFunctions.shinglesDistinct(col("text"), 5)).as("__g"))
      val dfreq = g.groupBy("__g").agg(count(lit(1)).as("__df"))
      val stats = g.join(dfreq, "__g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("__df") >= 2, 1L).otherwise(0L)).as("n_dup_grams"))
      docs.select(col("doc_id")).join(stats, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
          roundTo(coalesce(col("n_dup_grams").cast("double") / col("n_grams"),
            lit(0.0)), 6).as("dup_ratio"))
        .orderBy("doc_id")
    }),

    "text_repetition" -> ((s, d) => {
      // repeated-token ratio (Gopher-style repetition signal):
      // 1 - distinct_tokens/tokens, 0 for empty docs
      val toks = TextFunctions.tokens(col("text"))
      val n = size(toks)
      Tables.documents(s, d).select(col("doc_id"),
        roundTo(when(n === 0, lit(0.0))
          .otherwise(lit(1.0) - size(array_distinct(toks)).cast("double") / n), 6)
          .as("repetition_ratio"))
        .orderBy("doc_id")
    }),

    // top-3 characteristic terms per document by smoothed TF-IDF:
    // two map-side-combinable shuffles (tf, df) + a token join; the
    // per-doc window is partitioned by doc_id (never global)
    "text_tfidf" -> ((s, d) =>
      Relevance.tfidfTopTerms(Tables.documents(s, d), "doc_id", "text", 3)
        .orderBy("doc_id", "rank")),

    // Okapi BM25 keyword retrieval over the corpus for a fixed query
    // bag; corpus scalars (N, avgdl) ride in as 1-row broadcasts and
    // the global top-20 is TakeOrderedAndProject (no single-partition
    // exchange)
    "text_bm25" -> ((s, d) =>
      Relevance.bm25(Tables.documents(s, d), "doc_id", "text",
        Seq("spark", "join", "fast", "vector"), k1 = 1.2, b = 0.75, topK = 20)
        .orderBy(col("bm25").desc, col("doc_id").asc)),

    // hybrid retrieval via reciprocal-rank fusion: the lexical leg
    // (BM25 top-20 for a fixed query bag) and the vector leg (cosine
    // top-20 against a fixed query embedding, interpolated as a
    // plan-time literal — the IVF-centroid bounded-collect pattern)
    // fuse as RRF(d) = Σ 1/(60 + rank_leg(d)). Each leg is
    // TakeOrdered (no single-partition exchange); ranks inside the
    // 20-row legs come from the triangular broadcast count (the
    // q_trend_mk pattern — no partition-less window), and the legs
    // full-outer join so docs surfaced by only one retriever still
    // score. At 100 TB each leg is an independent distributed top-k;
    // the fusion itself only ever touches 2×topK rows.
    "text_hybrid_rrf" -> ((s, d) => {
      val topK = 20
      def rankDesc(leg: DataFrame, score: String, rankCol: String): DataFrame = {
        val b = leg.select(col("doc_id").as("__b_id"), col(score).as("__b_s"))
        leg.crossJoin(broadcast(b))
          .groupBy(col("doc_id"))
          .agg((sum(when(col("__b_s") > col(score) ||
              (col("__b_s") === col(score) && col("__b_id") < col("doc_id")), 1L)
            .otherwise(0L)) + 1L).as(rankCol))
      }
      val lex = Relevance.bm25(Tables.documents(s, d), "doc_id", "text",
        Seq("spark", "join", "fast", "vector"), k1 = 1.2, b = 0.75, topK = topK)
        .orderBy(col("bm25").desc, col("doc_id").asc).limit(topK)
      val qv = Tables.embeddings(s, d).filter(col("vec_id") === 0)
        .select(col("embedding")).head.getSeq[Float](0).map(_.toDouble)
      val qLit = array(qv.map(lit(_)): _*)
      val e = Tables.embeddings(s, d)
      val vec = e.filter(col("vec_id") =!= 0)
        .select(col("vec_id").as("doc_id"),
          Similarity.cosine(Similarity.toDouble(col("embedding")), qLit).as("cos"))
        .orderBy(col("cos").desc, col("doc_id").asc).limit(topK)
      rankDesc(lex, "bm25", "lex_rank")
        .join(rankDesc(vec, "cos", "vec_rank"), Seq("doc_id"), "full_outer")
        .select(col("doc_id"), col("lex_rank"), col("vec_rank"),
          roundTo(coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("vec_rank")), lit(0.0)), 6).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id").asc)
    }),

    // distribution-position window functions (percent_rank /
    // cume_dist / ntile / first-last value) per nation — ANSI
    // semantics identical across engines; ties broken by c_custkey so
    // every rank is deterministic
    "q_window_stats" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val ord = Window.partitionBy(col("c_nationkey"))
        .orderBy(roundTo(col("c_acctbal"), 2).asc, col("c_custkey").asc)
      val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      c.select(col("c_custkey"), col("c_nationkey"),
        roundTo(percent_rank().over(ord), 6).as("pct_rank"),
        roundTo(cume_dist().over(ord), 6).as("cum_dist"),
        ntile(4).over(ord).cast("bigint").as("quartile"),
        first(col("c_custkey")).over(full).as("poorest_custkey"),
        last(col("c_custkey")).over(full).as("richest_custkey"))
        .orderBy("c_custkey")
    }),

    // blocked edit-distance near-dup: candidate pairs form only
    // inside (lang, length-band) blocks — never all-pairs — then an
    // exact levenshtein on a fixed 40-char prefix filters them.
    // Mutated clones (first 2 chars replaced) plant true near-dups
    // the same way dedup_exact_text plants exact ones.
    "dedup_levenshtein" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      val clones = base.select((col("doc_id") + SyntheticIdTag).as("doc_id"),
        col("lang"), col("n_chars"),
        concat(lit("zz"), substring(col("text"), 3, 1000000)).as("text"))
      val all = base.unionAll(clones)
        .select(col("doc_id"), col("lang"), floor(col("n_chars") / 8).as("band"),
          substring(col("text"), 1, 40).as("prefix"))
      // the probe side must be spread across the cluster BEFORE the
      // broadcast join: the corpus arrives in file-granular splits
      // (one small file = one partition), and the per-pair DP below
      // is the hot loop — repartition by block key so it parallelizes
      val a = all.repartition(col("lang"), col("band"))
        .select(col("doc_id").as("id_a"), col("lang"), col("band"),
          col("prefix").as("p_a"))
      val b = all.select(col("doc_id").as("id_b"), col("lang"), col("band"),
        col("prefix").as("p_b"))
      // banded threshold levenshtein: O(len·k) instead of O(len²),
      // returns -1 past the threshold (filtered out with the same
      // semantics as `dist <= 6`)
      a.join(b, Seq("lang", "band"))
        .where(col("id_a") < col("id_b"))
        .withColumn("lev_dist",
          levenshtein(col("p_a"), col("p_b"), 6).cast("bigint"))
        .where(col("lev_dist") >= 0)
        .select(col("id_a"), col("id_b"), col("lev_dist"))
        .orderBy("id_a", "id_b")
    }),

    // bigram collocations by pointwise mutual information — see
    // Relevance.pmiBigrams for the codegen'd extraction and the
    // shuffle-exchange reuse that keeps totals off the raw scan
    "text_pmi_bigrams" -> ((s, d) =>
      Relevance.pmiBigrams(Tables.documents(s, d), "doc_id", "text",
        minCount = 5, topK = 50)),

    // ordered conversion funnel (view → click → purchase, each stage
    // STRICTLY after the previous one's first hit): three combinable
    // per-user aggregations chained by user_id equi-joins — every
    // shuffle is on user_id, so at scale the stage joins co-locate
    "q_funnel" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), unix_millis(col("ts")).as("ms"))
      val v = e.where(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ms")).as("first_view_ms"))
      val c = e.where(col("event_type") === "click")
        .join(v, "user_id").where(col("ms") > col("first_view_ms"))
        .groupBy("user_id").agg(min(col("ms")).as("first_click_ms"))
      val p = e.where(col("event_type") === "purchase")
        .join(c, "user_id").where(col("ms") > col("first_click_ms"))
        .groupBy("user_id").agg(min(col("ms")).as("first_purchase_ms"))
      v.join(c.select(col("user_id"), col("first_click_ms")), Seq("user_id"), "left")
        .join(p.select(col("user_id"), col("first_purchase_ms")), Seq("user_id"), "left")
        .orderBy("user_id")
    }),

    // sliding (hopping) time-window aggregation: native window() with
    // a 1h length / 15min hop — each event lands in length/hop = 4
    // overlapping epoch-aligned windows. The oracle unrolls the same
    // 4 hops arithmetically, proving the native operator's alignment
    "q_sliding_window" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), sumD(col("value")).as("total_value"))
        .select(unix_millis(col("window.start")).as("window_start_ms"),
          col("event_type"), col("n_events"), col("total_value"))
        .orderBy("window_start_ms", "event_type")),

    // order-insensitive table content checksum — the migration /
    // replication validation primitive: two engines (or two copies of
    // a 100 TB table) agree iff every row agrees, with ONE combinable
    // aggregation and no sort. Doubles ride as exact integer cents so
    // the canonical row rendering is engine-independent.
    "q_table_checksum" -> ((s, d) => {
      val canon = concat_ws("|",
        col("l_orderkey"), col("l_linenumber"),
        floor(col("l_quantity") * 100 + lit(0.5)).cast("long"),
        floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long"),
        col("l_returnflag"), col("l_linestatus"))
      val rowHash = conv(substring(md5(canon), 1, 15), 16, 10).cast("decimal(38,0)")
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"), sum(rowHash).cast("string").as("checksum"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // cohort retention: users grouped by first-activity week, counted
    // per week-offset of later activity. Weeks are integer epoch-day
    // buckets (floor(day/7)) — identical arithmetic in any engine, no
    // calendar-week-boundary semantics to disagree on
    "q_retention_cohorts" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"),
        floor(floor(unix_millis(col("ts")) / lit(86400000L)) / 7).as("week"))
      val cohorts = ev.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
      val active = ev.distinct()
      active.join(cohorts, "user_id")
        .groupBy(col("cohort_week"),
          (col("week") - col("cohort_week")).as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_active_users"))
        .orderBy("cohort_week", "week_offset")
    }),

    // calendar gap-fill / resample: daily order counts with missing
    // days emitted as zero rows — the time-series densification
    // primitive. The calendar frame is sequence(min, max) over the
    // 1-row bounds aggregate (its size is bounded by the DATE SPAN,
    // never by row count), exploded and left-joined back; the only
    // data-sized shuffle is the map-side-combinable daily aggregation
    "q_gapfill_daily" -> ((s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n_orders"), sumD(col("o_totalprice")).as("total_price"))
      val cal = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(explode(sequence(col("d0"), col("d1"))).as("day"))
        // spread the exploded calendar before the join: explode of a
        // 1-row frame otherwise leaves every calendar row in ONE task
        .repartition(col("day"))
      cal.join(daily, Seq("day"), "left")
        .select(col("day"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("total_price"), lit(0.0)).as("total_price"))
        .orderBy("day")
    }),

    // exact interpolated percentiles (percentile_cont semantics) per
    // group via the built-in `percentile` aggregate — the in-group
    // exact-quantile primitive for BOUNDED group row counts (it
    // buffers each group's values; for quantiles over data-sized
    // groups use the two-pass Ranks.valuesAtRanks selection instead,
    // which never materializes a group). Inputs pre-rounded to cents
    // so the linear interpolation arithmetic is bit-identical in both
    // engines (same a, b, fraction → same IEEE result)
    "q_percentiles" -> ((s, d) => {
      Tables.orders(s, d)
        .select(col("o_orderpriority"), roundTo(col("o_totalprice"), 2).as("p"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          roundTo(expr("percentile(p, 0.25D)"), 4).as("p25"),
          roundTo(expr("percentile(p, 0.5D)"), 4).as("p50"),
          roundTo(expr("percentile(p, 0.75D)"), 4).as("p75"))
        .orderBy("o_orderpriority")
    }),

    "q_order_gap_stats" -> ((s, d) => {
      // purchase-cadence distribution: exact integer-day gaps between
      // a customer's consecutive orders (lag over the per-customer
      // order sequence — parallel by customer, never a global
      // window), then per-priority n / mean / exact interpolated
      // quartiles of the gap (the q_percentiles recipe). The gap
      // frame carries the SECOND order's priority, answering "how
      // long since the previous order for orders of this class".
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("__day").asc, col("o_orderkey").asc)
      val gaps = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderpriority"),
          floor(unix_millis(col("o_orderdate").cast("timestamp")) / 86400000L)
            .cast("long").as("__day"))
        .withColumn("gap_days", col("__day") - lag(col("__day"), 1).over(w))
        .where(col("gap_days").isNotNull)
      gaps.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_gaps"),
          roundTo(sum(col("gap_days")).cast("double") / count(lit(1)), 4)
            .as("mean_gap_days"),
          roundTo(expr("percentile(gap_days, 0.25D)"), 4).as("p25"),
          roundTo(expr("percentile(gap_days, 0.5D)"), 4).as("p50"),
          roundTo(expr("percentile(gap_days, 0.75D)"), 4).as("p75"))
        .orderBy("o_orderpriority")
    }),

    // per-group z-score outliers: mean/std from ONE combinable
    // aggregation (exact decimal sums of x and x², so the moments are
    // summation-order-independent), broadcast back onto the rows —
    // two narrow scans, one tiny shuffle, no window. The anomaly-
    // detection building block for DQ at scale
    "q_zscore_outliers" -> ((s, d) => {
      val e = Tables.events(s, d).where(col("value").isNotNull)
        .select(col("event_id"), col("event_type"), roundTo(col("value"), 2).as("v"))
      val stats = e.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(roundTo(col("v"), 2).cast("decimal(18,2)")).cast("double").as("s1"),
        sum(roundTo(col("v") * col("v"), 4).cast("decimal(28,4)")).cast("double").as("s2"))
        .select(col("event_type"), (col("s1") / col("n")).as("mean"),
          sqrt((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - lit(1))).as("sd"))
      e.join(broadcast(stats), "event_type")
        .where(col("sd") > 0)
        .withColumn("z", roundTo((col("v") - col("mean")) / col("sd"), 4))
        .where(abs(col("z")) > lit(2.5))
        .select(col("event_id"), col("event_type"), col("v"), col("z"))
        .orderBy("event_id")
    }),

    // EXACT SUBSTRING dedup (Lee et al. arXiv:2107.06499), k-token
    // rolling-window formulation: a window is duplicated iff its
    // XXH64 fingerprint occurs >1 time corpus-wide. The corpus is
    // documents plus planted full clones (every 10th doc) and
    // 20-token PREFIX clones (docs ≡3 mod 7 with ≥40 tokens) so
    // partial-overlap spans are exercised, the dedup_exact_text way.
    "dedup_substring_stats" -> ((s, d) => {
      SubstringDedup.windowDupStats(substringCorpus(s, d), "doc_id", "text", k = 8)
        .orderBy("doc_id")
    }),

    // the curation face of the same stats: survivors whose
    // duplicated-window share is <= 20% (integer cross-multiply).
    "dedup_substring_filter" -> ((s, d) => {
      SubstringDedup.filterByDupMass(substringCorpus(s, d), "doc_id", "text",
        k = 8, maxDupPct = 20)
        .orderBy("doc_id")
    }),

    // DSIR importance resampling (Xie et al. arXiv:2302.03169) in
    // PORTABLE-hash mode: md5-prefix n-gram buckets and seeded
    // Gumbel uniforms the DuckDB oracle reproduces bit-for-bit
    // (xxhash64 is the production default — identical plan shape).
    // Target = the English slice; pick the 50 raw docs most
    // target-like via Gumbel top-k over importance weights.
    "dsir_select" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val target = docs.where(col("lang") === "en")
      Dsir.resample(docs, "doc_id", "text", target, k = 50,
        buckets = 1000, seed = 7, portable = true)
        .select(col("doc_id"), roundTo(col("logw"), 6).as("logw"))
        .orderBy("doc_id")
    }),

    // order-invariant token-SET fingerprint dedup: md5 over the
    // sorted distinct token list — catches shuffled/reordered copies
    // that exact-text dedup misses. Same one-shuffle hash-groupBy
    // shape as dedup_exact_text
    "dedup_tokenset" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          md5(concat_ws(" ",
            array_sort(array_distinct(TextFunctions.tokens(col("text")))))).as("fp"))
        .groupBy("fp")
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
        .select(col("keep_id"), col("n_docs"), col("fp"))
        .orderBy("keep_id")),

    // Johnson-Lindenstrauss random projection 64 → 8 dims: each
    // output coordinate is one strict left-to-right dot product
    // ([[graft.functions.DotProductExpr]], codegen'd) against a
    // deterministic projection matrix of exactly-representable
    // doubles (k/1024) — a pure narrow transform, zero shuffle, and
    // the oracle interpolates the identical literals so every
    // coordinate is bit-equal cross-engine
    "q_embed_project" -> ((s, d) => {
      val cols = projMatrix.zipWithIndex.map { case (row, j) =>
        roundTo(Similarity.dot(col("embedding"), typedLit(row)), 6).as(s"p$j")
      }
      Tables.embeddings(s, d)
        .select(col("vec_id") +: cols: _*)
        .orderBy("vec_id")
    }),

    // deterministic MODE per group: the most frequent value with a
    // total tie-break (count desc, value asc) — SQL's mode() is
    // tie-arbitrary in both engines, so both sides spell out the
    // rank. Two map-side-combinable shuffles + a window over the
    // (group × distinct-value) counts frame — the window never sees
    // data-sized input
    "q_mode_segment" -> ((s, d) => {
      val counts = Tables.customer(s, d)
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
      val w = Window.partitionBy("c_nationkey")
        .orderBy(col("n_customers").desc, col("c_mktsegment").asc)
      counts.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
        .select(col("c_nationkey"), col("c_mktsegment").as("mode_segment"),
          col("n_customers"))
        .orderBy("c_nationkey")
    }),

    // ordered string aggregation (LISTAGG / string_agg parity):
    // collect_set → array_sort → array_join makes the concatenation
    // order deterministic where the SQL aggregates leave it to
    // arrival order. Grouped collect is bounded here (≤3 distinct
    // statuses); unbounded-cardinality groups should aggregate, not
    // concatenate
    "q_string_agg" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(array_join(array_sort(collect_set(col("o_orderstatus"))), "|")
          .as("statuses"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")),

    // day-of-week seasonality with the dow as PURE integer arithmetic
    // ((epoch_day + 4) % 7 → 0=Sunday … 6=Saturday): no engine
    // calendar/locale/week-start semantics to disagree on — the same
    // trick the retention query uses for weeks
    "q_weekday_revenue" -> ((s, d) => {
      val epochDay = datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
      Tables.orders(s, d)
        .groupBy(((epochDay + 4) % 7).cast("bigint").as("dow"))
        .agg(count(lit(1)).as("n_orders"), sumD(col("o_totalprice")).as("revenue"))
        .orderBy("dow")
    }),

    // robust (10%-trimmed) mean per group: exact interpolated p10/p90
    // bounds (tiny frame, broadcast back) gate an exact-decimal
    // average — outlier-resistant central tendency composed from the
    // proven percentile + sumD building blocks
    "q_trimmed_mean" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_orderpriority"), roundTo(col("o_totalprice"), 2).as("p"))
      val bounds = o.groupBy("o_orderpriority")
        .agg(expr("percentile(p, 0.1D)").as("lo"), expr("percentile(p, 0.9D)").as("hi"))
      o.join(broadcast(bounds), "o_orderpriority")
        .where(col("p") >= col("lo") && col("p") <= col("hi"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_kept"), avgD(col("p")).as("trimmed_mean"))
        .orderBy("o_orderpriority")
    }),

    // directional containment (|A∩B| / |A|) — excerpt/sub-document
    // detection: 15-token head excerpts planted per doc score 1.0
    // against their source (a token-prefix's shingles are a subset of
    // the source's) while their Jaccard stays tiny. Prefix-filtered
    // inverted index (NearDup.containmentPairsPrefix): the contained
    // side only indexes its rarest ~(1-t) fraction of shingles, so
    // the hot head of the df distribution — which made the plain
    // index's join volume grow ~df² per shingle, the measured
    // output-bound superlinear row in docs/SCALING.md — drops out of
    // candidate generation while the result stays EXACT. maxDocFreq
    // = 1000 is an absolute fanout guard on top: measured shingle df
    // grows ~0.003·corpus_rows on this corpus (max df 10 at 1k rows,
    // 32 at 10k — zero recall impact at every tested SF), so the cap
    // binds only beyond ~300k docs, where a shingle shared by >1000
    // docs is boilerplate with no excerpt-evidence value; discovery
    // of pairs overlapping ONLY in such shingles is forgone
    // (conservative), scores are never perturbed (verify runs on
    // full shingle arrays). The oracle applies the same rule.
    "dedup_containment" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val excerpts = docs.select((col("doc_id") + SyntheticIdTag).as("doc_id"),
        concat_ws(" ", slice(TextFunctions.tokens(col("text")), 1, 15)).as("text"))
      NearDup.containmentPairsPrefix(docs.unionAll(excerpts), "doc_id", "text",
        shingleSize = 3, threshold = 0.9, maxDocFreq = Some(1000L))
        .orderBy("id_a", "id_b")
    }),

    // greedy sequence packing for training shards: docs land in a
    // deterministic hash shard, are laid out in hash order within it,
    // and a running token count cuts packs of `capacity` tokens
    // (pack = floor(exclusive-prefix-sum / capacity), so a pack holds
    // whole documents and overflows only by the straddling doc). The
    // cumulative sum partitions by shard — parallelism = shard count;
    // the classic packing pitfall (ONE window over the whole corpus =
    // one reducer sorting 100 TB) never appears. At scale raise
    // nShards so a shard fits a task.
    "q_pack_sequences" -> ((s, d) => {
      val capacity = 512; val nShards = 16L
      val h = conv(substring(md5(concat(lit("pack:"), col("doc_id"))), 1, 15), 16, 10)
        .cast("long")
      val w = Window.partitionBy("shard")
        .orderBy(col("__h").asc, col("doc_id").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.documents(s, d)
        .select(col("doc_id"), pmod(h, lit(nShards)).as("shard"), h.as("__h"),
          size(TextFunctions.tokens(col("text"))).cast("bigint").as("n_tokens"))
        .withColumn("pack_id",
          floor(coalesce(sum(col("n_tokens")).over(w), lit(0L)) / capacity)
            .cast("bigint"))
        .select(col("doc_id"), col("shard"), col("pack_id"), col("n_tokens"))
        .orderBy("doc_id")
    }),

    // domain-mixture rebalancing: hit a target lang mixture by
    // deterministic downsampling. Per-lang keep fraction =
    // min(1, share * N / n_lang) comes from ONE tiny grouped counts
    // agg plus a 1-row total, both broadcast back — the corpus itself
    // never shuffles, it narrows in place. Membership via the
    // portable content hash: the same rows survive on any engine and
    // under task retries (no rand()).
    "q_domain_mix" -> ((s, d) => {
      val share = typedLit(Map(
        "en" -> 0.5, "de" -> 0.125, "es" -> 0.125, "fr" -> 0.125, "zh" -> 0.125))
      val docs = Tables.documents(s, d)
      val perLang = docs.groupBy("lang").agg(count(lit(1)).as("__n_lang"))
      val total = docs.agg(count(lit(1)).as("__n_total"))
      val u = pmod(conv(substring(md5(concat(lit("mix:"), col("doc_id"))), 1, 15), 16, 10)
        .cast("long"), lit(1000000L)) / 1000000.0
      docs.join(broadcast(perLang), "lang").crossJoin(broadcast(total))
        .withColumn("__f", least(lit(1.0),
          element_at(share, col("lang")) * col("__n_total") / col("__n_lang")))
        .filter(u < col("__f"))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }),

    // exact Pearson correlation + population covariance per group
    // from ONE combinable aggregation of decimal power sums —
    // corr()/covar_pop() parity without the engine's streaming-moment
    // implementations, whose float accumulation is partition-order-
    // dependent (hence not reproducible across engines or reruns).
    // The five sums are exact decimals; the final combine runs once
    // per group in double with identical operand order on both sides.
    "q_corr_price_qty" -> ((s, d) => {
      val x = roundTo(col("l_quantity"), 2).cast("decimal(18,2)")
      val y = roundTo(col("l_extendedprice"), 2).cast("decimal(18,2)")
      val g = Tables.lineitem(s, d).groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(x).as("__sx"), sum(y).as("__sy"), sum(x * y).as("__sxy"),
          sum(x * x).as("__sxx"), sum(y * y).as("__syy"))
      def D(c: String) = col(c).cast("double")
      val n = col("n").cast("double")
      val cov = (n * D("__sxy") - D("__sx") * D("__sy")) / (n * n)
      val corr = (n * D("__sxy") - D("__sx") * D("__sy")) /
        sqrt((n * D("__sxx") - D("__sx") * D("__sx")) *
          (n * D("__syy") - D("__sy") * D("__sy")))
      g.select(col("l_returnflag"), col("n"),
        roundTo(cov, 4).as("covar_pop"), roundTo(corr, 6).as("corr"))
        .orderBy("l_returnflag")
    }),

    // exact deterministic k-per-group sample (eval-set carving): the
    // k docs with the smallest portable hash per lang. Scale path: a
    // tiny per-group counts agg broadcasts back a hash threshold with
    // an 8x margin over k/n, so the corpus narrows to ~8k survivors
    // per group BEFORE the per-group window — huge groups never hit
    // the single-reducer-per-group sort. Exact whenever every group
    // keeps >= min(k, n) survivors (threshold capped at 1.0 handles
    // groups smaller than k; the 8x margin is spec-asserted).
    "q_group_sample" -> ((s, d) => {
      val k = 25; val m = 1000000L
      val docs = Tables.documents(s, d).withColumn("__u",
        pmod(conv(substring(md5(concat(lit("gsample:"), col("doc_id"))), 1, 15), 16, 10)
          .cast("long"), lit(m)))
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("__n"))
      val w = Window.partitionBy("lang").orderBy(col("__u").asc, col("doc_id").asc)
      docs.join(broadcast(counts), "lang")
        .filter(col("__u") < least(lit(m.toDouble), lit(8.0 * k * m) / col("__n")))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= k)
        .select(col("doc_id"), col("lang"), col("__rn").cast("bigint").as("sample_rank"))
        .orderBy("lang", "sample_rank")
    }),

    // market-basket co-occurrence with lift: item pairs that appear
    // for the same user more often than independence predicts.
    // Pair counting via Baskets: ONE groupBy-user shuffle gathers each
    // user's sorted distinct item set (collect_set dedups in the same
    // pass), pairs are generated INSIDE the array (narrow, codegen'd)
    // and the pair groupBy is the only other wide stage — no self-join,
    // no sort-merge sorts. Tiny per-item user counts broadcast back.
    // For unbounded item domains, cap per-user fanout with Baskets'
    // maxItems knob (NearDup's maxDocFreq analog).
    "q_item_cooccurrence" -> ((s, d) => {
      val sets = graft.operators.Baskets.userItemSets(
        Tables.events(s, d).select(col("user_id"),
          regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("bigint").as("item")),
        "user_id", "item")
      val itemUsers = graft.operators.Baskets.itemUserCounts(sets)
        .withColumnRenamed("n_users", "__n_item")
      val nUsers = graft.operators.Baskets.userCount(sets)
        .withColumnRenamed("n_users", "__n_users")
      graft.operators.Baskets.pairCounts(sets)
        .withColumnRenamed("i", "item_a").withColumnRenamed("j", "item_b")
        .filter(col("n_both") >= 3)
        .join(broadcast(itemUsers.withColumnRenamed("item", "item_a")
          .withColumnRenamed("__n_item", "__n_a")), "item_a")
        .join(broadcast(itemUsers.withColumnRenamed("item", "item_b")
          .withColumnRenamed("__n_item", "__n_b")), "item_b")
        .crossJoin(broadcast(nUsers))
        .select(col("item_a"), col("item_b"), col("n_both"),
          roundTo((col("n_both") * col("__n_users")).cast("double") /
            (col("__n_a") * col("__n_b")).cast("double"), 6).as("lift"))
        .orderBy("item_a", "item_b")
    }),

    // point-in-time (as-of) lookup against an SCD2 dimension: each
    // probe reads the dimension version that was valid at its asof
    // time — the correctness primitive behind reproducible training
    // snapshots and "report as of last month". The join is an
    // equi-join on the business key PLUS a validity-range predicate:
    // one shuffle on the key, and per-key history is short so there
    // is no fanout (the range clause prunes to exactly one row).
    "q_scd2_pointintime" -> ((s, d) => {
      val hist = {
        val base = Tables.orders(s, d)
          .select(col("o_orderkey").as("k"), roundTo(col("o_totalprice"), 2).as("price"),
            lit(1L).as("version"))
        val updates = Tables.orders(s, d)
          .filter(col("o_orderkey") % 10 === 0)
          .select(col("o_orderkey").as("k"), roundTo(col("o_totalprice") * 1.1, 2).as("price"),
            lit(2L).as("version"))
        val w = Window.partitionBy("k").orderBy(col("version").asc)
        base.unionByName(updates)
          .withColumn("valid_from", col("version"))
          .withColumn("valid_to", lead(col("version"), 1).over(w) - 1L)
      }
      val probes = Tables.orders(s, d)
        .select(col("o_orderkey"), (lit(1L) + pmod(col("o_orderkey"), lit(2L))).as("asof_v"))
      probes.join(hist, probes("o_orderkey") === hist("k") &&
          col("asof_v") >= col("valid_from") &&
          (col("valid_to").isNull || col("asof_v") <= col("valid_to")))
        .select(col("o_orderkey"), col("asof_v"), col("version"), col("price"))
        .orderBy("o_orderkey")
    }),

    // PageRank over the item co-occurrence graph, 3 exact Lloyd-style
    // unrolled iterations: centrality for curriculum/importance
    // weighting. Per-iteration contributions are rounded to 12
    // digits and summed as exact decimals, so every iteration is
    // summation-order-independent and the DuckDB oracle (the same 3
    // iterations as CTEs) is byte-equal. Each iteration is one
    // shuffle (groupBy dst) plus a broadcast of the tiny node frame;
    // identical edge subtrees collapse via exchange reuse.
    "q_pagerank_items" -> ((s, d) => {
      val pairs = graft.operators.Baskets.pairCounts(
        graft.operators.Baskets.userItemSets(
          Tables.events(s, d).select(col("user_id"),
            regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("bigint").as("item")),
          "user_id", "item"))
        .filter(col("n_both") >= 3)
        .select(col("i").as("s"), col("j").as("t"))
      // the pair graph feeds every iteration plus the degree/count
      // frames — persist it so the expensive co-occurrence subtree
      // executes ONCE, not once per iteration (query-owned cache;
      // Bench/Verify clear caches between queries)
      val edges = pairs.unionByName(pairs.select(col("t").as("s"), col("s").as("t")))
        .transform(graft.Caches.tracked)
      val deg = edges.groupBy("s").agg(count(lit(1)).as("deg"))
      val nNodes = deg.agg(count(lit(1)).as("__n"))
      var pr = deg.crossJoin(broadcast(nNodes))
        .select(col("s").as("item"), col("deg"),
          (lit(1.0) / col("__n")).as("pr"), col("__n"))
      val iters = 3
      for (i <- 1 to iters) {
        val contrib = edges
          .join(pr.select(col("item"), col("deg").as("__dg"), col("pr").as("__pr")),
            edges("s") === col("item"))
          .select(col("t"),
            roundTo(col("__pr") / col("__dg"), 12).cast("decimal(28,12)").as("c"))
          .groupBy("t").agg(sum(col("c")).cast("double").as("cs"))
        pr = pr.join(contrib, pr("item") === contrib("t"), "left")
          .select(col("item"), col("deg"),
            roundTo(lit(0.15) / col("__n") + lit(0.85) * coalesce(col("cs"), lit(0.0)), 12)
              .as("pr"), col("__n"))
        // PERIODIC lineage checkpoint: each round's pr plan embeds
        // every prior round's join subtree, so at high iteration
        // counts analysis re-plans a growing tree — localCheckpoint
        // truncates it. But a checkpoint is NOT free (measured here:
        // ~+1s per query at sf0.1 on a 100-row pr frame, eager or
        // lazy — the materialize/persist machinery dominates), so it
        // runs every 5th iteration only: a 3-iteration run pays
        // nothing, a 50-iteration run caps plan depth at 5 rounds.
        if (i % 5 == 0 && i < iters) pr = pr.localCheckpoint(false)
      }
      pr.select(col("item"), roundTo(col("pr"), 8).as("pagerank"))
        .orderBy("item")
    }),

    // robust anomaly detection via median absolute deviation: the
    // outlier gate that, unlike z-scores, no single corrupt value can
    // move. Two bounded grouped percentile aggs (groups = event
    // types) with the tiny median frame broadcast back between them —
    // the corpus scans twice, shuffles never. Data-sized groups would
    // route the median through Ranks.valuesAtRanks instead.
    "q_mad_outliers" -> ((s, d) => {
      val e = Tables.events(s, d).where(col("value").isNotNull)
        .select(col("event_type"), roundTo(col("value"), 2).as("v"))
      val med = e.groupBy("event_type")
        .agg(roundTo(expr("percentile(v, 0.5D)"), 4).as("median"))
      val dev = e.join(broadcast(med), "event_type")
        .withColumn("__dev", roundTo(abs(col("v") - col("median")), 4))
      val mad = dev.groupBy("event_type")
        .agg(roundTo(expr("percentile(__dev, 0.5D)"), 4).as("mad"))
      dev.join(broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), first(col("median")).as("median"),
          first(col("mad")).as("mad"),
          sum(when(col("__dev") > lit(3.0 * 1.4826) * col("mad"), 1L)
            .otherwise(0L)).as("n_outliers"))
        .orderBy("event_type")
    }),

    // exponentially-decayed engagement score: for each event, the
    // half-life-weighted sum of the user's last 8 values
    // (sum of v_i * 0.5^lag). Exact cross-engine: the decay factors
    // are 8 LITERAL powers of two (never runtime pow()), each term
    // scales a 2-decimal value by 2^-k (an exact double op), and
    // terms accumulate as decimals, so partial-agg merge order can't
    // move the result. The lag pairing is an equi-join on user_id
    // with an rn-band predicate — fanout bounded by the window width,
    // every shuffle on user_id.
    "q_ewma_value" -> ((s, d) => {
      val wRn = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      val e = Tables.events(s, d).where(col("value").isNotNull)
        .select(col("event_id"), col("user_id"), col("ts"),
          roundTo(col("value"), 2).as("v"))
        .withColumn("rn", row_number().over(wRn).cast("long"))
      val decay = (0 to 7).foldLeft(when(lit(false), lit(0.0))) {
        case (c, k) => c.when(col("__lag") === k, lit(math.pow(2.0, -k)))
      }
      val cur = e.select(col("event_id"), col("user_id"), col("rn"))
      val past = e.select(col("user_id").as("__u"), col("rn").as("__rn"), col("v"))
      // hint("merge"): at toy scale Catalyst would broadcast the full
      // event history as the build side — at 100 TB the history is the
      // BIG side; the sort-merge join shuffles both sides once on
      // user_id. Grouping on (user_id, event_id) then lets the final
      // agg reuse that partitioning (user_id ⊆ group key → no second
      // shuffle), vs a full re-shuffle grouping on event_id alone.
      cur.join(past.hint("merge"), col("user_id") === col("__u") &&
          col("__rn") <= col("rn") && col("__rn") > col("rn") - 8)
        .withColumn("__lag", col("rn") - col("__rn"))
        .select(col("user_id"), col("event_id"),
          roundTo(col("v") * decay, 8).cast("decimal(28,8)").as("__t"))
        .groupBy("user_id", "event_id")
        .agg(roundTo(sum(col("__t")).cast("double"), 6).as("ewma"))
        .select(col("event_id"), col("ewma"))
        .orderBy("event_id")
    }),

    // co-located (bucketed) join end-to-end: both sides are written
    // bucketBy(custkey) into the session warehouse, then sort-merge
    // joined — the scans read pre-shuffled buckets, so NO hash
    // exchange appears in the join (asserted in LayoutAndSkewSpec).
    // At 100 TB this is the difference between re-shuffling the fact
    // table on every join and reading it join-ready; the oracle runs
    // the plain SQL join (bucketing must never change results).
    "q_bucketed_join" -> ((s, d) => {
      val sfx = Integer.toHexString(d.hashCode)
      // reset BOTH the catalog entry and the warehouse directory: a
      // fresh session's in-memory catalog does not know tables a
      // previous JVM wrote, but their non-empty locations survive and
      // would fail saveAsTable with LOCATION_ALREADY_EXISTS
      def reset(name: String): Unit = {
        s.sql(s"DROP TABLE IF EXISTS $name")
        val p = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), name)
        val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (f.exists(p)) f.delete(p, true)
      }
      reset(s"graft_bk_orders_$sfx"); reset(s"graft_bk_customer_$sfx")
      Layout.writeBucketed(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          roundTo(col("o_totalprice"), 2).as("price")),
        s"graft_bk_orders_$sfx", "o_custkey", 8, sortCols = Seq("o_custkey"))
      Layout.writeBucketed(
        Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment")),
        s"graft_bk_customer_$sfx", "c_custkey", 8, sortCols = Seq("c_custkey"))
      s.table(s"graft_bk_orders_$sfx").hint("merge")
        .join(s.table(s"graft_bk_customer_$sfx"),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("c_mktsegment"), col("price"))
        .orderBy("o_orderkey")
    }),

    // deterministic arg-min: the cheapest (supplier, line) per part
    // via min_by over a TOTAL order struct — ties can't exist because
    // (orderkey, linenumber) is unique, so the result is reproducible
    // on any engine/partitioning (bare arg_min/min_by tie behavior is
    // engine-arbitrary). ONE combinable agg; the oracle formulates it
    // as a rn=1 window — cross-formulation equivalence.
    "q_cheapest_supplier" -> ((s, d) => {
      val ord = struct(roundTo(col("l_extendedprice"), 2).as("p"),
        col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
      Tables.lineitem(s, d)
        .groupBy("l_partkey")
        .agg(min_by(col("l_suppkey"), ord).as("cheapest_suppkey"),
          min(roundTo(col("l_extendedprice"), 2)).as("min_price"))
        .orderBy("l_partkey")
    }),

    // exact weighted average (quantity-weighted mean price): both the
    // numerator and denominator accumulate as exact decimals, so the
    // ratio is partition-order-independent — the correct form of a
    // metric avg(price) silently gets wrong when line sizes vary
    "q_weighted_avg_price" -> ((s, d) => {
      val w = roundTo(col("l_quantity"), 2).cast("decimal(18,2)")
      val wx = (roundTo(col("l_extendedprice"), 2).cast("decimal(18,2)") * w)
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(roundTo(sum(wx).cast("double") / sum(w).cast("double"), 6)
          .as("weighted_avg_price"))
        .orderBy("l_returnflag")
    }),

    // calendar-month revenue rollup: date_trunc month boundaries are
    // pure Gregorian arithmetic both engines implement identically
    // (unlike locale-dependent week truncation), emitted as epoch ms
    "q_monthly_revenue" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy(unix_millis(date_trunc("month", col("o_orderdate"))).as("month_ms"))
        .agg(count(lit(1)).as("n_orders"), sumD(col("o_totalprice")).as("revenue"))
        .orderBy("month_ms")),

    "q_new_vs_returning" -> ((s, d) => {
      // monthly acquisition split: distinct customers active each
      // month, partitioned into NEW (their first-ever order month)
      // vs RETURNING — the growth-vs-retention board metric. One
      // shuffle reduces orders to the distinct (month, cust) grain
      // while the same-keyed min-month frame broadcasts back; the
      // month frame is bounded so the final agg is tiny.
      val mm = unix_millis(date_trunc("month", col("o_orderdate")))
      val byCustMonth = Tables.orders(s, d)
        .select(col("o_custkey").as("cust"), mm.as("month_ms")).distinct()
      val firstMonth = byCustMonth.groupBy("cust")
        .agg(min(col("month_ms")).as("__first"))
      byCustMonth.join(firstMonth, "cust")
        .groupBy("month_ms")
        .agg(
          sum(when(col("month_ms") === col("__first"), 1L).otherwise(0L))
            .as("new_customers"),
          sum(when(col("month_ms") =!= col("__first"), 1L).otherwise(0L))
            .as("returning_customers"))
        .orderBy("month_ms")
    }),

    "q_seasonal_index" -> ((s, d) => {
      // month-of-year seasonality index: each calendar month's mean
      // monthly revenue over the years divided by the overall mean —
      // the deseasonalization factor (1.0 = no seasonal effect).
      // Orders reduce once to the bounded (year, month) frame in
      // exact cents; both means derive from that tiny frame, and the
      // 1-row overall mean broadcasts back.
      val monthly = Tables.orders(s, d)
        .groupBy(year(col("o_orderdate")).as("yy"),
          month(col("o_orderdate")).as("moy"))
        .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"))
          .as("cents"))
      val perMoy = monthly.groupBy(col("moy"))
        .agg(sum(col("cents")).as("sum_cents"), count(lit(1)).as("n_years"))
      val overall = perMoy.agg(sum(col("sum_cents")).as("t_cents"),
        sum(col("n_years")).as("t_months"))
      perMoy.crossJoin(broadcast(overall))
        .select(col("moy"),
          roundTo(col("sum_cents").cast("double") / col("n_years") / 100, 2)
            .as("mean_revenue"),
          roundTo((col("sum_cents").cast("double") / col("n_years")) /
            (col("t_cents").cast("double") / col("t_months")), 6)
            .as("seasonal_index"))
        .orderBy("moy")
    }),

    // top-k-with-ties: every line at one of the TWO highest
    // quantities per returnflag via dense_rank — integer-valued
    // quantities make ties massive, so this exercises the
    // TieGroup (rank-mode) path of the custom TopKPerGroup operator
    // through the full oracle gate: the rewrite fires on the
    // dense_rank()<=k idiom and must keep every boundary tie
    "q_top_qty_lines" -> ((s, d) => {
      val w = Window.partitionBy("l_returnflag")
        .orderBy(roundTo(col("l_quantity"), 2).desc)
      Tables.lineitem(s, d)
        .withColumn("qty_rank", dense_rank().over(w))
        .filter(col("qty_rank") <= 2)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          roundTo(col("l_quantity"), 2).as("quantity"), col("qty_rank"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // snapshot drift monitoring as a graded query: a planted +15%
    // price shift on a quarter of the rows must light up the price
    // column's pooled-σ z-score while the untouched key column reads
    // exactly zero. Each side is ONE combinable exact-decimal agg
    // reduced to a single row (QualityChecks.driftStats); the oracle
    // replays the identical moment arithmetic.
    "q_drift_snapshots" -> ((s, d) => {
      val before = Tables.orders(s, d).select(
        roundTo(col("o_totalprice"), 2).as("price"), col("o_custkey"))
      val after = Tables.orders(s, d).select(
        roundTo(when(col("o_orderkey") % 4 === 0, col("o_totalprice") * 1.15)
          .otherwise(col("o_totalprice")), 2).as("price"), col("o_custkey"))
      QualityChecks.driftStats(before, after, Seq("price", "o_custkey"))
        .select(col("column_name"), col("n_before"), col("n_after"),
          roundTo(col("mean_before"), 6).as("mean_before"),
          roundTo(col("mean_after"), 6).as("mean_after"),
          roundTo(col("z_shift"), 6).as("z_shift"), col("drifted"))
        .orderBy("column_name")
    }),

    // exact simple OLS regression (regr_slope / regr_intercept /
    // regr_r2 parity) from the SAME one-pass combinable decimal
    // power-sum aggregation as q_corr_price_qty: the five sums are
    // exact decimals (partition-order-independent), the closed-form
    // combine runs once per group in double with identical operand
    // order on both engines. The engines' own regr_* use streaming
    // float moments, which are not reproducible across partitionings.
    "q_regression_price" -> ((s, d) => {
      val x = roundTo(col("l_quantity"), 2).cast("decimal(18,2)")
      val y = roundTo(col("l_extendedprice"), 2).cast("decimal(18,2)")
      val g = Tables.lineitem(s, d).groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(x).as("__sx"), sum(y).as("__sy"), sum(x * y).as("__sxy"),
          sum(x * x).as("__sxx"), sum(y * y).as("__syy"))
      def D(c: String) = col(c).cast("double")
      val n = col("n").cast("double")
      val sxxC = n * D("__sxx") - D("__sx") * D("__sx")
      val syyC = n * D("__syy") - D("__sy") * D("__sy")
      val sxyC = n * D("__sxy") - D("__sx") * D("__sy")
      val slope = sxyC / sxxC
      val intercept = (D("__sy") - slope * D("__sx")) / n
      g.select(col("l_returnflag"), col("n"),
        roundTo(slope, 6).as("slope"),
        roundTo(intercept, 4).as("intercept"),
        roundTo((sxyC * sxyC) / (sxxC * syyC), 6).as("r2"))
        .orderBy("l_returnflag")
    }),

    // per-doc Shannon token entropy H = ln(n) - (Σ c·ln c)/n — the
    // repetitiveness / information-density signal LLM-curation
    // filters threshold on. Each c·ln c term is rounded to 6 decimals
    // and accumulated as an exact decimal, so the per-doc sum is
    // independent of partition order and of either engine's float
    // summation; empty docs (no tokens) drop out on both sides.
    "text_ttr" -> ((s, d) => {
      // type-token ratio (lexical diversity) — the curation gate that
      // catches keyword-stuffed or template-generated docs a length
      // filter misses. size(array_distinct(tokens))/size(tokens),
      // entirely narrow codegen'd array ops, no shuffle; empty docs
      // yield NULL (no tokens to be diverse over).
      val toks = TextFunctions.tokens(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"), toks.as("__t"))
        .select(col("doc_id"),
          size(col("__t")).cast("bigint").as("n_tokens"),
          size(array_distinct(col("__t"))).cast("bigint").as("n_types"),
          when(size(col("__t")) > 0,
            roundTo(size(array_distinct(col("__t"))).cast("double") /
              size(col("__t")).cast("double"), 6)).as("ttr"))
        .orderBy("doc_id")
    }),

    "text_entropy" -> ((s, d) => {
      val counts = Tables.documents(s, d)
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
      counts.groupBy("doc_id")
        .agg(sum(col("c")).as("n_tokens"),
          sum(roundTo(col("c").cast("double") * log(col("c").cast("double")), 6)
            .cast("decimal(28,6)")).as("__clogc"))
        .select(col("doc_id"), col("n_tokens"),
          roundTo(log(col("n_tokens").cast("double")) -
            col("__clogc").cast("double") / col("n_tokens").cast("double"), 4)
            .as("entropy"))
        .orderBy("doc_id")
    }),

    // corpus unigram-LM per-doc average log-probability — the
    // perplexity-proxy quality score (add-one smoothed p(w) =
    // (c_w+1)/(N+V)). Shape at scale: (doc,token) tf and the corpus
    // unigram table co-shuffle on token (equi-join, vocab-bounded);
    // the (N, V) totals are a 1-row broadcast; per-token terms are
    // rounded then decimal-accumulated per doc, so scoring never
    // depends on partition order. Low (very negative) scores flag
    // gibberish / OOV-heavy docs; high scores flag boilerplate.
    "text_unigram_logprob" -> ((s, d) => {
      val dtf = Tables.documents(s, d)
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
      val corpus = dtf.groupBy("token").agg(sum(col("c")).as("cw"))
      val totals = corpus.agg(sum(col("cw")).as("n_total"), count(lit(1)).as("vocab"))
      dtf.join(corpus, "token")
        .crossJoin(broadcast(totals))
        .withColumn("__t", roundTo(col("c").cast("double") *
          log((col("cw") + 1).cast("double") /
            (col("n_total") + col("vocab")).cast("double")), 6)
          .cast("decimal(28,6)"))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_tokens"), sum(col("__t")).as("__s"))
        .select(col("doc_id"), col("n_tokens"),
          roundTo(col("__s").cast("double") / col("n_tokens").cast("double"), 4)
            .as("avg_logprob"))
        .orderBy("doc_id")
    }),

    // per-nation Gini concentration of account balances via the
    // scale-safe exact-rank operator (Ranks.withExactRank — value-grid
    // bucketing, never a whole-group single-reducer sort), then the
    // closed form G = (2·Σ rank·x − (n+1)·Σx) / (n·Σx) from exact
    // decimal sums. The oracle ranks with a plain window — proving the
    // bucketed rank reproduces row_number()'s total order exactly.
    "q_gini_acctbal" -> ((s, d) => {
      val c = Tables.customer(s, d).select(col("c_nationkey"),
        col("c_custkey"), roundTo(col("c_acctbal"), 2).as("bal"))
      val ranked = graft.operators.Ranks.withExactRank(c, Seq("c_nationkey"),
        Seq(col("bal").asc, col("c_custkey").asc), "bal", "rk", "__n")
      val g = ranked.groupBy("c_nationkey").agg(
        count(lit(1)).as("n_cust"),
        sum(col("bal").cast("decimal(18,2)")).as("__sx"),
        sum(col("rk") * col("bal").cast("decimal(18,2)")).as("__srx"))
      g.select(col("c_nationkey"), col("n_cust"),
        roundTo((lit(2.0) * col("__srx").cast("double") -
          (col("n_cust") + 1).cast("double") * col("__sx").cast("double")) /
          (col("n_cust").cast("double") * col("__sx").cast("double")), 6).as("gini"))
        .orderBy("c_nationkey")
    }),

    // sweep-line interval-overlap aggregation: how many order lines
    // are OPEN (ordered, not yet shipped) on each day — the classic
    // "concurrent intervals" operator. Each line explodes to two
    // delta events (+1 at order day, −1 after ship day) in the same
    // narrow pass as the orderkey equi-join; the per-day delta frame
    // is bounded by the calendar span (~2.5k days at ANY data scale),
    // so the running sum never needs a partition-less window: tiny
    // per-256-day-bucket totals fold to carry-in offsets on the
    // driver (the Ranks global-offsets pattern) and the cumulative
    // window runs per bucket, ≤256 rows each.
    "q_backlog_daily" -> ((s, d) => {
      val iv = Tables.lineitem(s, d)
        .select(col("l_orderkey"),
          // NTZ parquet timestamps; session TZ is UTC so the cast is identity
          floor(unix_millis(col("l_shipdate").cast("timestamp")) / 86400000L)
            .cast("long").as("ship_day"))
        .join(Tables.orders(s, d).select(col("o_orderkey"),
          floor(unix_millis(col("o_orderdate").cast("timestamp")) / 86400000L)
            .cast("long").as("order_day")),
          col("l_orderkey") === col("o_orderkey"))
      val deltas = iv.select(explode(array(
          struct(col("order_day").as("day"), lit(1L).as("delta")),
          struct((col("ship_day") + 1).as("day"), lit(-1L).as("delta")))).as("e"))
        .select(col("e.day").as("day"), col("e.delta").as("delta"))
        .groupBy("day").agg(sum(col("delta")).as("d"))
      val withB = deltas.withColumn("__b", floor(col("day") / 256).cast("long"))
      // bounded collect: one row per populated 256-day bucket
      val bs = withB.groupBy("__b").agg(sum(col("d")).as("t"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val carry = bs.map(_._1).zip(bs.map(_._2).scanLeft(0L)(_ + _))
      val carryDf = {
        import s.implicits._
        carry.toSeq.toDF("__b", "__carry")
      }
      val w = Window.partitionBy("__b").orderBy(col("day").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      withB.join(broadcast(carryDf), "__b")
        .select(col("day"), (col("__carry") + sum(col("d")).over(w)).as("n_open"))
        .orderBy("day")
    }),

    // year-over-year growth of monthly revenue. The natural self-join
    // formulation scans orders twice; instead each order contributes
    // to TWO conditional-agg slots in one pass — its own month's
    // `cur` and month+12's `prev` — so ONE scan and ONE map-side-
    // combinable shuffle produce the joined frame directly (the
    // q_repeat_buyers rewrite pattern). The oracle keeps the plain
    // self-join SQL: cross-formulation equivalence is the check.
    // Month key is pure integer arithmetic (year*12+month), no
    // interval/calendar-offset semantics.
    "q_yoy_growth" -> ((s, d) => {
      val dec = "decimal(18,2)"
      Tables.orders(s, d)
        .select((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("m"),
          roundTo(col("o_totalprice"), 2).cast(dec).as("p"))
        .select(explode(array(
          struct(col("m").as("midx"), col("p").as("cur"),
            lit(null).cast(dec).as("prev")),
          struct((col("m") + 12).as("midx"), lit(null).cast(dec).as("cur"),
            col("p").as("prev")))).as("e"))
        .select(col("e.midx").as("midx"), col("e.cur").as("cur"), col("e.prev").as("prev"))
        .groupBy("midx")
        .agg(sum(col("cur")).cast("double").as("revenue"),
          sum(col("prev")).cast("double").as("prev_revenue"))
        // months that exist only as +12 shadows past the data's end
        .filter(col("revenue").isNotNull)
        .select(col("midx"), col("revenue"), col("prev_revenue"),
          roundTo((col("revenue") - col("prev_revenue")) / col("prev_revenue"), 6)
            .as("yoy_growth"))
        .orderBy("midx")
    }),

    // exact sliding-window distinct count — 7-day active users per
    // day. Sliding exact distinct can't be a window agg (distinct
    // doesn't combine across frames); the scalable shape is
    // delta-replication: each (day, user) distinct fact lands in the
    // 7 window ends it can serve, then one more distinct collapses a
    // user active on several days of the same window. Three shuffles,
    // all combinable/keyed, no windows at all — survives any scale
    // where (days × users) distinct pairs fit a shuffle (they are the
    // data's own cardinality floor).
    "q_rolling_active_users" -> ((s, d) => {
      val du = Tables.events(s, d)
        .select(floor(unix_millis(col("ts")) / 86400000L).cast("long").as("day"),
          col("user_id")).distinct()
      du.select(explode(sequence(col("day"), col("day") + 6)).as("day"),
          col("user_id")).distinct()
        .groupBy("day").agg(count(lit(1)).as("active_users_7d"))
        .orderBy("day")
    }),

    // triangle counting on the lift-filtered co-occurrence graph —
    // graph motif analysis (community density / clustering signal).
    // Edges: item pairs whose rounded lift ≥ 1.05 (relative
    // threshold — scale-invariant where absolute support saturates);
    // triangles close wedges via the ordered 3-way self-join
    // (i<j<k, each edge stored once), then per-item participation
    // counts come from exploding the 3 corners. Edge-table shuffles
    // are keyed on items; the wedge join fans out by the filtered
    // degree, which the lift gate bounds.
    "q_triangle_count" -> ((s, d) => {
      val B = graft.operators.Baskets
      val sets = B.userItemSets(
        Tables.events(s, d).select(col("user_id"),
          regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("bigint").as("item")),
        "user_id", "item")
      val itemUsers = B.itemUserCounts(sets).withColumnRenamed("n_users", "__ni")
      val nUsers = B.userCount(sets).withColumnRenamed("n_users", "__n")
      // the edge list feeds the 3-way wedge join — persist it so the
      // pair-counting subtree executes ONCE (query-owned cache;
      // Bench/Verify clear caches between queries)
      val e = B.pairCounts(sets)
        .withColumnRenamed("n_both", "__nb")
        .join(broadcast(itemUsers.withColumnRenamed("item", "i")
          .withColumnRenamed("__ni", "__na")), "i")
        .join(broadcast(itemUsers.withColumnRenamed("item", "j")
          .withColumnRenamed("__ni", "__nbj")), "j")
        .crossJoin(broadcast(nUsers))
        .filter(roundTo((col("__nb") * col("__n")).cast("double") /
          (col("__na") * col("__nbj")).cast("double"), 6) >= 1.05)
        .select(col("i"), col("j"))
        .transform(graft.Caches.tracked)
      val tri = e.as("e1")
        .join(e.as("e2"), col("e1.j") === col("e2.i"))
        .join(e.as("e3"), col("e1.i") === col("e3.i") && col("e2.j") === col("e3.j"))
        .select(col("e1.i").as("ti"), col("e1.j").as("tj"), col("e2.j").as("tk"))
      tri.select(explode(array(col("ti"), col("tj"), col("tk"))).as("item"))
        .groupBy("item").agg(count(lit(1)).as("n_triangles"))
        .orderBy("item")
    }),

    // percent-of-parent contribution analysis (nation revenue share
    // within region): ONE scan+shuffle reduces orders to the bounded
    // (region, nation) frame as EXACT DECIMAL sums; the parent total
    // is a window over that tiny frame (partitioned by region — never
    // the raw data), and the share divides in double only at the end.
    // Decimal window-summation keeps the parent total independent of
    // partition order, so the ratio is bit-stable cross-engine.
    "q_revenue_share" -> ((s, d) => {
      val c = Tables.customer(s, d); val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      val nat = Tables.orders(s, d)
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
        .agg(sum(roundTo(col("o_totalprice"), 2).cast("decimal(18,2)")).as("__rev"))
      nat.withColumn("__reg", sum(col("__rev")).over(Window.partitionBy("region")))
        .select(col("region"), col("nation"),
          col("__rev").cast("double").as("revenue"),
          roundTo(col("__rev").cast("double") / col("__reg").cast("double"), 6)
            .as("revenue_share"))
        .orderBy("region", "nation")
    }),

    // Markov transition matrix over per-user event sequences — the
    // sequential-pattern primitive (what follows what, and with what
    // probability). Per-user ordered sequences come from ONE grouped
    // collect + sort_array (per-user event counts are bounded; the
    // total order (ms, event_id) is unique so the sort is
    // deterministic); adjacent pairs via the same codegen'd
    // slice/arrays_zip/explode shape the PMI query uses — no window
    // over the raw events, no per-user row_number. Transition
    // probabilities row-normalize on the tiny (from,to) matrix.
    "q_event_transitions" -> ((s, d) => {
      val seqs = Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_millis(col("ts")).as("ms"), col("event_type"))
        .groupBy("user_id")
        .agg(sort_array(collect_list(
          struct(col("ms"), col("event_id"), col("event_type")))).as("seq"))
        .filter(size(col("seq")) >= 2)
      val pairs = seqs.select(explode(arrays_zip(
          slice(col("seq"), lit(1), size(col("seq")) - 1),
          slice(col("seq"), lit(2), size(col("seq")) - 1))).as("p"))
        .select(col("p.0.event_type").as("from_type"),
          col("p.1.event_type").as("to_type"))
      val m = pairs.groupBy("from_type", "to_type")
        .agg(count(lit(1)).as("n_transitions"))
      m.withColumn("__tot",
          sum(col("n_transitions")).over(Window.partitionBy("from_type")))
        .select(col("from_type"), col("to_type"), col("n_transitions"),
          roundTo(col("n_transitions").cast("double") / col("__tot").cast("double"), 6)
            .as("p_transition"))
        .orderBy("from_type", "to_type")
    }),

    // largest-remainder proration: allocate each order's total price
    // across its lineitems proportionally to extended price, in WHOLE
    // CENTS, preserving the order total EXACTLY (Σ allocations ==
    // order total, always — the property float proration can't give).
    // Everything is int64 cent arithmetic: base = floor(Ct·e/Σe) via
    // subtract-mod-then-divide (exact in IEEE double because the
    // quotient is an integer), then the leftover cents go to the
    // largest division remainders (ties by line number). Windows are
    // per-order (bounded by lines-per-order), never data-wide.
    "q_allocate_price" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
        floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long").as("__e"))
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("__ct"))
      val wSum = Window.partitionBy("l_orderkey")
      val j = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .withColumn("__se", sum(col("__e")).over(wSum))
        .withColumn("__p", col("__ct") * col("__e"))
        .withColumn("__rm", pmod(col("__p"), col("__se")))
        .withColumn("__base", ((col("__p") - col("__rm")) / col("__se")).cast("long"))
      val wRank = Window.partitionBy("l_orderkey")
        .orderBy(col("__rm").desc, col("l_linenumber").asc)
      j.withColumn("__left", col("__ct") - sum(col("__base")).over(wSum))
        .withColumn("__rn", row_number().over(wRank))
        .select(col("l_orderkey"), col("l_linenumber"),
          ((col("__base") + when(col("__rn") <= col("__left"), 1L).otherwise(0L))
            .cast("double") / 100.0).as("allocated"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // last-observation-carried-forward imputation over per-user event
    // series (time-series gap repair before feature extraction).
    // Nulls are planted deterministically (event_id % 7) so both
    // engines see the same holes; the fill is last(ignoreNulls) over
    // the per-user time order — bounded per-key windows, identical
    // IGNORE NULLS frame semantics in the oracle. Rows before a
    // user's first observation stay null on both sides.
    "q_locf_value" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ms").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"),
          when(col("event_id") % 7 === 0, lit(null).cast("double"))
            .otherwise(roundTo(col("value"), 2)).as("__v"))
        .withColumn("value_filled", last(col("__v"), ignoreNulls = true).over(w))
        .select(col("user_id"), col("event_id"), col("ms"), col("value_filled"))
        .orderBy("user_id", "event_id")
    }),

    // accumulating-snapshot fact (Kimball): one row per order
    // carrying its lifecycle milestones — placement, first and last
    // ship — and the derived durations. ONE combinable min/max agg
    // over the lines joined to the order grain; milestone math is
    // pure epoch-day integer arithmetic. The pattern behind
    // fulfillment-latency dashboards; at scale it's a single
    // co-keyed shuffle on orderkey.
    "q_order_lifecycle" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_orderkey"),
        floor(unix_millis(col("l_shipdate").cast("timestamp")) / 86400000L)
          .cast("long").as("__sd"))
      val miles = li.groupBy("l_orderkey").agg(
        count(lit(1)).as("n_lines"),
        min(col("__sd")).as("first_ship_day"),
        max(col("__sd")).as("last_ship_day"))
      Tables.orders(s, d).select(col("o_orderkey"),
          floor(unix_millis(col("o_orderdate").cast("timestamp")) / 86400000L)
            .cast("long").as("order_day"))
        .join(miles, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey"), col("order_day"), col("n_lines"),
          col("first_ship_day"), col("last_ship_day"),
          (col("first_ship_day") - col("order_day")).as("days_to_first_ship"),
          (col("last_ship_day") - col("order_day")).as("days_to_complete"))
        .orderBy("o_orderkey")
    }),

    "q_ship_priority" -> ((s, d) => {
      // TPC-H Q3 shape: shipping-priority candidates — revenue still
      // in flight for one market segment's orders placed before a
      // cutoff whose lines ship after it, top 10 by revenue. The
      // filtered customer keys reduce orders first (equi-shuffle),
      // lineitem joins co-keyed on orderkey, and the top-10 runs as
      // TakeOrderedAndProject over the already-reduced per-order
      // frame — no global sort materializes at scale.
      val cut = to_timestamp(lit("1996-06-15 00:00:00"))
      val c = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val o = Tables.orders(s, d).filter(col("o_orderdate") < cut)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate"), col("o_orderpriority"))
      val li = Tables.lineitem(s, d).filter(col("l_shipdate") > cut)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"),
          floor(unix_millis(col("o_orderdate").cast("timestamp")) / 86400000L)
            .cast("long").as("order_day"),
          col("o_orderpriority"))
        .agg(sumD(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),

    "q_market_share" -> ((s, d) => {
      // TPC-H Q8 shape: one supplier nation's share of a regional
      // market, by order year. The market is AMERICA-region customers
      // buying ECONOMY parts; the share of supplier nation NATION_6 is
      // a conditional integer-cent sum over the same reduced frame —
      // one scan of the fact, dims broadcast, exact cents until the
      // final rounded ratio. Output is bounded (one row per year).
      val cents = floor(col("l_extendedprice") * (lit(1) - col("l_discount"))
        * 100 + lit(0.5)).cast("long")
      val p = Tables.part(s, d).filter(col("p_type") === "ECONOMY")
        .select(col("p_partkey"))
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate").cast("date")).as("order_year"))
      val c = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
      val nc = Tables.nation(s, d).join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "AMERICA")
        .select(col("n_nationkey").as("cust_nk"))
      val ns = Tables.nation(s, d)
        .select(col("n_nationkey").as("supp_nk"), col("n_name").as("supp_nation"))
      val sup = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), cents.as("__c"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(o, col("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(nc), c("c_nationkey") === col("cust_nk"))
        .join(broadcast(sup), col("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(ns), sup("s_nationkey") === col("supp_nk"))
        .groupBy(col("order_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_6", col("__c")).otherwise(0L))
            .as("__nat"),
          sum(col("__c")).as("__tot"))
        .select(col("order_year"),
          roundTo(col("__nat").cast("double") / 100, 2).as("nation_revenue"),
          roundTo(col("__tot").cast("double") / 100, 2).as("market_revenue"),
          roundTo(col("__nat").cast("double") / col("__tot"), 6).as("mkt_share"))
        .orderBy("order_year")
    }),

    "q_returned_items" -> ((s, d) => {
      // TPC-H Q10 shape: customers ranked by revenue lost to returns
      // in one quarter (l_returnflag = 'R'), top 20. Returned lines
      // reduce per order first (co-keyed on orderkey), then one
      // equi-shuffle to the customer grain; nation is broadcast. The
      // top-20 is TakeOrderedAndProject on the reduced frame.
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
          col("o_orderdate") < to_timestamp(lit("1996-04-01 00:00:00")))
        .select(col("o_orderkey"), col("o_custkey"))
      val li = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      val n = Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_name").as("nation"))
      li.join(o, col("l_orderkey") === o("o_orderkey"))
        .join(Tables.customer(s, d), o("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("nation"),
          roundTo(col("c_acctbal"), 2).as("acctbal"))
        .agg(sumD(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("lost_revenue"))
        .orderBy(col("lost_revenue").desc, col("c_custkey").asc)
        .limit(20)
    }),

    "q_promo_share" -> ((s, d) => {
      // TPC-H Q14 shape: promo revenue as a percent of total revenue
      // by ship month — a conditional ratio in ONE scan of the fact.
      // The part flag joins co-keyed on partkey (no broadcast hint:
      // part scales with the fact at 100 TB, AQE may still elect
      // broadcast at toy SF); both numerator and denominator are
      // exact integer cents, divided once and rounded for reporting.
      val cents = floor(col("l_extendedprice") * (lit(1) - col("l_discount"))
        * 100 + lit(0.5)).cast("long")
      val p = Tables.part(s, d)
        .select(col("p_partkey"), (col("p_type") === "PROMO").as("__promo"))
      Tables.lineitem(s, d)
        .select(col("l_partkey"),
          unix_millis(date_trunc("month", col("l_shipdate").cast("timestamp")))
            .as("ship_month"),
          cents.as("__c"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .groupBy(col("ship_month"))
        .agg(sum(when(col("__promo"), col("__c")).otherwise(0L)).as("__promo_c"),
          sum(col("__c")).as("__tot_c"))
        .select(col("ship_month"),
          roundTo(col("__promo_c").cast("double") / 100, 2).as("promo_revenue"),
          roundTo(col("__tot_c").cast("double") / 100, 2).as("total_revenue"),
          roundTo(lit(100.0) * col("__promo_c").cast("double") / col("__tot_c"), 6)
            .as("promo_pct"))
        .orderBy("ship_month")
    }),

    "q_forecast_revenue" -> ((s, d) => {
      // TPC-H Q6 shape: the what-if discount-elimination aggregate —
      // a pure filter-and-sum with NO join. Its whole value at 100 TB
      // is pushdown: all three predicates (shipdate range, discount
      // band, quantity cap) reach the parquet scan as PushedFilters
      // (plan-asserted in spec), so row groups outside the year are
      // never read. One combinable 1-row agg (lint-whitelisted).
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01 00:00:00")) &&
          col("l_discount") >= lit(0.05) && col("l_discount") <= lit(0.07) &&
          col("l_quantity") < lit(24.0))
        .agg(sumD(col("l_extendedprice") * col("l_discount"))
            .as("potential_revenue"),
          count(lit(1)).as("n_lines"))
    }),

    "q_brand_promo_revenue" -> ((s, d) => {
      // TPC-H Q19 shape: revenue under an OR of three conjunctive
      // brand/size/quantity clauses. The disjunction splits per side:
      // part-only conjuncts (brand, size) prune the dim scan, the
      // joint clause evaluates after the co-keyed partkey join — no
      // fact re-scan per clause, ONE pass. 1-row agg, whitelisted.
      val p = Tables.part(s, d)
        .filter((col("p_brand") === "Brand#4" && col("p_size").between(1, 15)) ||
          (col("p_brand") === "Brand#19" && col("p_size").between(10, 30)) ||
          (col("p_brand") === "Brand#8" && col("p_size").between(20, 50)))
        .select(col("p_partkey"), col("p_brand"))
      Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .filter((col("p_brand") === "Brand#4" && col("l_quantity").between(1.0, 20.0)) ||
          (col("p_brand") === "Brand#19" && col("l_quantity").between(10.0, 30.0)) ||
          (col("p_brand") === "Brand#8" && col("l_quantity").between(20.0, 40.0)))
        .agg(sumD(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("promo_revenue"),
          count(lit(1)).as("n_lines"))
    }),

    "q_nation_profit" -> ((s, d) => {
      // TPC-H Q9 shape: product-line profit by supplier nation and
      // order year. The schema has no partsupp/supplycost, so cost is
      // modeled as 60% of retail price × quantity — preserving the
      // shape: a name-filtered part dim, the fact joined co-keyed on
      // partkey then orderkey, nation broadcast, and a per-line
      // profit EXPRESSION (revenue minus cost) summed in exact cents.
      val revC = floor(col("l_extendedprice") * (lit(1) - col("l_discount"))
        * 100 + lit(0.5)).cast("long")
      val costC = floor(lit(0.6) * col("p_retailprice") * col("l_quantity")
        * 100 + lit(0.5)).cast("long")
      val p = Tables.part(s, d).filter(col("p_name").like("%gear%"))
        .select(col("p_partkey"), col("p_retailprice"))
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        year(col("o_orderdate").cast("date")).as("order_year"))
      val sup = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
      val n = Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_name").as("nation"))
      Tables.lineitem(s, d)
        .join(p, col("l_partkey") === col("p_partkey"))
        .join(o, col("l_orderkey") === o("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .groupBy(col("nation"), col("order_year"))
        .agg(sum(revC - costC).as("__pc"))
        .select(col("nation"), col("order_year"),
          roundTo(col("__pc").cast("double") / 100, 2).as("profit"))
        .orderBy("nation", "order_year")
    }),

    "q_dominant_suppliers" -> ((s, d) => {
      // TPC-H Q20 shape: suppliers holding an outsized share of some
      // part's flow — here >20% of a part's total shipped quantity
      // (the schema has no availqty). ONE shuffle reduces to the
      // (part, supplier) grain; the part total is a window over that
      // REDUCED frame (bounded rows per part, never raw lines); the
      // gate is the exact integer cross-multiply 5·q > total.
      val ps = Tables.lineitem(s, d)
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast("long")).as("q"))
      val w = Window.partitionBy("l_partkey")
      ps.withColumn("tq", sum(col("q")).over(w))
        .filter(col("q") * 5 > col("tq"))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_parts_dominated"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_parts_dominated"))
        .orderBy(col("n_parts_dominated").desc, col("s_suppkey").asc)
    }),

    "q_sole_late_shipper" -> ((s, d) => {
      // TPC-H Q21 shape: the double-correlated EXISTS / NOT EXISTS —
      // suppliers who were the SOLE latest shipper on multi-supplier
      // orders (no receipt/commit dates in this schema). Lines reduce
      // co-keyed to the (order, supplier) grain; order max, supplier
      // count, and the count-at-max are windows over that reduced
      // frame (bounded per order); qualifying orders credit their
      // unique attaining supplier. Output is one bounded row per
      // supplier.
      val perSupp = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(unix_millis(col("l_shipdate").cast("timestamp"))).as("supp_max"))
      val w = Window.partitionBy("l_orderkey")
      perSupp
        .withColumn("order_max", max(col("supp_max")).over(w))
        .withColumn("n_supp", count(lit(1)).over(w))
        .withColumn("n_at_max",
          sum(when(col("supp_max") === col("order_max"), 1L).otherwise(0L)).over(w))
        .filter(col("n_supp") >= 2 && col("n_at_max") === 1 &&
          col("supp_max") === col("order_max"))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("waiting_orders"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("waiting_orders"))
        .orderBy(col("waiting_orders").desc, col("s_suppkey").asc)
    }),

    "q_spearman_corr" -> ((s, d) => {
      // Spearman rank correlation between monthly revenue and monthly
      // order count. The series reduces to the bounded monthly frame
      // first (one combinable cents shuffle); tied AVERAGE ranks come
      // from the broadcast triangular pair join as the exact integer
      // 2r = 2·|less| + |equal| + 1 (the q_trend_mk pattern — no
      // partition-less window), and rho is Pearson over the doubled
      // ranks (scale-invariant) from exact integer power sums. FP
      // appears only in the final guarded sqrt/division, rounded 6.
      val m = Tables.orders(s, d)
        .groupBy(unix_millis(date_trunc("month", col("o_orderdate"))).as("mm"))
        .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")).as("c"),
          count(lit(1)).as("k"))
      val b = m.select(col("mm").as("mm_b"), col("c").as("c_b"), col("k").as("k_b"))
      val ranks = m.crossJoin(broadcast(b))
        .groupBy(col("mm"))
        .agg(
          (sum(when(col("c_b") < col("c"), 1L).otherwise(0L)) * 2 +
            sum(when(col("c_b") === col("c"), 1L).otherwise(0L)) + 1).as("x"),
          (sum(when(col("k_b") < col("k"), 1L).otherwise(0L)) * 2 +
            sum(when(col("k_b") === col("k"), 1L).otherwise(0L)) + 1).as("y"))
      ranks.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"))
        .select(col("n").as("n_months"),
          roundTo((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
              (col("n") * col("syy") - col("sy") * col("sy")).cast("double")),
            6).as("rho"))
    }),

    "q_welch_ttest" -> ((s, d) => {
      // Welch's unequal-variance t-test: URGENT vs LOW order totals.
      // ONE conditional-aggregation scan accumulates n / Σc / Σc² per
      // group in exact integer cents (DECIMAL(38,0) — Σc² overflows
      // BIGINT at fleet scale); mean, variance, t and the
      // Welch–Satterthwaite df are then pure double arithmetic over
      // those six exact scalars, written identically in the oracle.
      val c = floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
      val ga = (col("o_orderpriority") === "1-URGENT").cast("long")
      val agg = Tables.orders(s, d)
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(ga.as("ga"), c.as("c"))
        .agg(sum(col("ga")).as("n1"), sum(lit(1L) - col("ga")).as("n2"),
          sum(when(col("ga") === 1, col("c")).otherwise(0L)
            .cast("decimal(38,0)")).as("s1"),
          sum(when(col("ga") === 0, col("c")).otherwise(0L)
            .cast("decimal(38,0)")).as("s2"),
          sum(when(col("ga") === 1, col("c") * col("c")).otherwise(0L)
            .cast("decimal(38,0)")).as("q1"),
          sum(when(col("ga") === 0, col("c") * col("c")).otherwise(0L)
            .cast("decimal(38,0)")).as("q2"))
      val (n1d, n2d) = (col("n1").cast("double"), col("n2").cast("double"))
      val (s1d, s2d) = (col("s1").cast("double"), col("s2").cast("double"))
      val (q1d, q2d) = (col("q1").cast("double"), col("q2").cast("double"))
      val v1 = (q1d - s1d * s1d / n1d) / (n1d - 1)
      val v2 = (q2d - s2d * s2d / n2d) / (n2d - 1)
      val se2 = v1 / n1d + v2 / n2d
      agg.select(col("n1").as("n_urgent"), col("n2").as("n_low"),
        roundTo(s1d / n1d / 100, 4).as("mean_urgent"),
        roundTo(s2d / n2d / 100, 4).as("mean_low"),
        roundTo((s1d / n1d - s2d / n2d) / sqrt(se2), 6).as("t_stat"),
        roundTo(se2 * se2 / ((v1 / n1d) * (v1 / n1d) / (n1d - 1) +
          (v2 / n2d) * (v2 / n2d) / (n2d - 1)), 4).as("df"))
    }),

    "q_autocorr" -> ((s, d) => {
      // Lag-1..3 autocorrelation of the monthly revenue series. The
      // series reduces to the bounded (month-index, cents) frame;
      // each lag's pairs come from an equi-join of the frame to
      // itself shifted by the broadcast lag table (midx_b = midx+lag
      // — a hash join, never a window or a sort); Pearson r per lag
      // uses DECIMAL(38,0)-exact power sums (cents products overflow
      // BIGINT) cast to double only in the final expression.
      val m = Tables.orders(s, d)
        .groupBy((year(col("o_orderdate").cast("date")).cast("long") * 12 +
          month(col("o_orderdate").cast("date")).cast("long") - 1).as("midx"))
        .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")).as("c"))
      val lags = s.range(1, 4).select(col("id").as("lag"))
      val b = m.select(col("midx").as("midx_b"), col("c").as("c_b"))
      val dec = (x: Column) => x.cast("decimal(19,0)")
      val pairs = m.crossJoin(broadcast(lags))
        .join(broadcast(b), col("midx_b") === col("midx") + col("lag"))
      val agg = pairs.groupBy(col("lag")).agg(count(lit(1)).as("n"),
        sum(dec(col("c"))).as("sx"), sum(dec(col("c_b"))).as("sy"),
        sum((dec(col("c")) * dec(col("c_b"))).cast("decimal(38,0)")).as("sxy"),
        sum((dec(col("c")) * dec(col("c"))).cast("decimal(38,0)")).as("sxx"),
        sum((dec(col("c_b")) * dec(col("c_b"))).cast("decimal(38,0)")).as("syy"))
      val nd = col("n").cast("double")
      val (sxd, syd) = (col("sx").cast("double"), col("sy").cast("double"))
      val (xyd, xxd, yyd) =
        (col("sxy").cast("double"), col("sxx").cast("double"), col("syy").cast("double"))
      agg.select(col("lag"), col("n").as("n_pairs"),
          roundTo((nd * xyd - sxd * syd) /
            sqrt((nd * xxd - sxd * sxd) * (nd * yyd - syd * syd)), 6).as("acf"))
        .orderBy("lag")
    }),

    "q_ab_conversion" -> ((s, d) => {
      // Two-proportion z-test on a deterministic 50/50 user split
      // (portable md5 hash — the q_split_assign pattern, no rand()):
      // do variant A's users "convert" (≥14 purchases — purchases per
      // user are scale-invariant ≈13, so the rate stays interior at
      // every SF) more than B's? One shuffle to the user grain, then
      // a 1-row conditional agg; the pooled z-statistic is pure
      // double arithmetic over exact integer counts. Guarded: z is
      // NULL when a variant is empty or the pooled rate is
      // degenerate (0 or 1) — CaseWhen short-circuits, so the ANSI
      // division never sees a zero denominator.
      val h = pmod(conv(substring(md5(concat(lit("ab:"), col("user_id"))), 1, 15), 16, 10)
        .cast("long"), lit(2L))
      val users = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg((sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) >= 14L)
          .cast("long").as("conv"))
        .select((h === 0L).cast("long").as("a"), col("conv"))
      val agg = users.agg(
        sum(col("a")).as("n_a"), sum(lit(1L) - col("a")).as("n_b"),
        sum(col("a") * col("conv")).as("conv_a"),
        sum((lit(1L) - col("a")) * col("conv")).as("conv_b"))
      val (nad, nbd) = (col("n_a").cast("double"), col("n_b").cast("double"))
      val (cad, cbd) = (col("conv_a").cast("double"), col("conv_b").cast("double"))
      val p = (cad + cbd) / (nad + nbd)
      val degenerate = col("n_a") === 0L || col("n_b") === 0L ||
        col("conv_a") + col("conv_b") === 0L ||
        col("conv_a") + col("conv_b") === col("n_a") + col("n_b")
      agg.select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
        roundTo(cad / nad, 6).as("rate_a"),
        roundTo(cbd / nbd, 6).as("rate_b"),
        when(degenerate, lit(null).cast("double"))
          .otherwise(roundTo((cad / nad - cbd / nbd) /
            sqrt(p * (lit(1) - p) * (lit(1.0) / nad + lit(1.0) / nbd)), 6))
          .as("z_stat"))
    }),

    // ---- round-7 additions ----

    // cumulative audience reach: distinct users EVER seen, per day.
    // The scale trap is a running DISTINCT over raw events (distinct
    // doesn't combine across window frames); the scalable shape
    // reduces each user to their FIRST day (one combinable min
    // shuffle), counts firsts per day, and cumulates over the
    // CALENDAR-BOUNDED day frame with the bucketed carry-in pattern
    // (q_backlog_daily): per-256-day-bucket totals fold to carry
    // offsets on the driver, the window runs per bucket — no
    // partition-less window at any scale.
    "q_daily_reach" -> ((s, d) => {
      val firsts = Tables.events(s, d).where(col("user_id").isNotNull)
        .groupBy("user_id")
        .agg(min(floor(unix_millis(col("ts")) / 86400000L).cast("long")).as("day"))
      val perDay = firsts.groupBy("day").agg(count(lit(1)).as("new_users"))
      val withB = perDay.withColumn("__b", floor(col("day") / 256).cast("long"))
      val bs = withB.groupBy("__b").agg(sum(col("new_users")).as("t"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val carry = bs.map(_._1).zip(bs.map(_._2).scanLeft(0L)(_ + _))
      val carryDf = { import s.implicits._; carry.toSeq.toDF("__b", "__carry") }
      val w = Window.partitionBy("__b").orderBy(col("day").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      withB.join(broadcast(carryDf), "__b")
        .select(col("day"), col("new_users"),
          (col("__carry") + sum(col("new_users")).over(w)).as("cum_users"))
        .orderBy("day")
    }),

    // Gopher-style quality RULE GATE (vs text_quality's scalar
    // score): the published MassiveText filter is a conjunction of
    // hard rules — token count bounds, mean word length band,
    // max-word-length cap, minimum stopword evidence. Each rule is a
    // named boolean so curation dashboards can attribute drops to
    // rules; pure narrow codegen'd array ops, zero shuffle.
    "text_gopher_rules" -> ((s, d) => {
      val toks = TextFunctions.tokens(col("text"))
      val n = size(toks)
      val sumLen = aggregate(transform(toks, t => length(t).cast("long")),
        lit(0L), (acc, x) => acc + x)
      val maxLen = aggregate(transform(toks, t => length(t).cast("long")),
        lit(0L), (acc, x) => greatest(acc, x))
      val meanLen = roundTo(sumLen.cast("double") / n, 6)
      val nStop = size(array_intersect(array_distinct(toks),
        array(TextFunctions.Stopwords.map(lit): _*)))
      Tables.documents(s, d).select(col("doc_id"), n.cast("bigint").as("n_tokens"),
          when(n === 0, lit(null).cast("double")).otherwise(meanLen).as("mean_word_len"),
          maxLen.as("max_word_len"), nStop.cast("bigint").as("n_stopwords"))
        .withColumn("r_count", col("n_tokens") >= 20 && col("n_tokens") <= 100000)
        .withColumn("r_mean_len",
          coalesce(col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0, lit(false)))
        .withColumn("r_max_len", col("max_word_len") <= 15)
        .withColumn("r_stopwords", col("n_stopwords") >= 2)
        .withColumn("pass_gopher",
          col("r_count") && col("r_mean_len") && col("r_max_len") && col("r_stopwords"))
        .orderBy("doc_id")
    }),

    // per-(event_type, day) exact p50/p95 time series — the ops
    // latency board. Groups are bounded (types × calendar days), so
    // grouped exact percentiles are safe at any event volume; values
    // round to cents first and percentiles to 4dp for cross-engine
    // interpolation parity (the q_mad_outliers convention).
    "q_pctl_value_daily" -> ((s, d) => {
      Tables.events(s, d).where(col("value").isNotNull)
        .select(col("event_type"),
          floor(unix_millis(col("ts")) / 86400000L).cast("long").as("day"),
          roundTo(col("value"), 2).as("v"))
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("n_events"),
          roundTo(expr("percentile(v, 0.5D)"), 4).as("p50"),
          roundTo(expr("percentile(v, 0.95D)"), 4).as("p95"))
        .orderBy("event_type", "day")
    }),

    // year-over-year RANK movers: each part's revenue rank within its
    // brand for 1995 vs 1996 and the rank delta — the assortment
    // review board. ONE conditional-agg scan produces both years'
    // cent-exact revenue per (brand, part); the two rank windows run
    // on that reduced frame partitioned by brand (bounded), never on
    // raw lineitem.
    "q_rank_movers" -> ((s, d) => {
      val li = Tables.lineitem(s, d).join(Tables.part(s, d),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"), col("l_partkey"),
          year(col("l_shipdate")).as("y"),
          roundTo(col("l_extendedprice") * (lit(1) - col("l_discount")), 2)
            .cast("decimal(18,2)").as("rev"))
        .filter(col("y").isin(1995, 1996))
      val byPart = li.groupBy("p_brand", "l_partkey")
        .agg(sum(when(col("y") === 1995, col("rev"))).as("rev95"),
          sum(when(col("y") === 1996, col("rev"))).as("rev96"))
        .filter(col("rev95").isNotNull && col("rev96").isNotNull)
      val w95 = Window.partitionBy("p_brand")
        .orderBy(col("rev95").desc, col("l_partkey").asc)
      val w96 = Window.partitionBy("p_brand")
        .orderBy(col("rev96").desc, col("l_partkey").asc)
      byPart
        .withColumn("rank95", row_number().over(w95).cast("bigint"))
        .withColumn("rank96", row_number().over(w96).cast("bigint"))
        .select(col("p_brand"), col("l_partkey"),
          col("rev95").cast("double").as("rev95"),
          col("rev96").cast("double").as("rev96"),
          col("rank95"), col("rank96"),
          (col("rank95") - col("rank96")).as("rank_gain"))
        .orderBy("p_brand", "l_partkey")
    }),

    // INCREMENTAL MinHash dedup: the daily-ingest shape — near-dup
    // pairs between a new batch (doc_id % 10 == 0) and the standing
    // corpus, banded so candidates are new×standing ONLY (a small
    // batch against a huge corpus never pays corpus-pair volume);
    // complements dedup_incremental's exact-fingerprint variant with
    // NEAR-dup power.
    "dedup_incremental_minhash" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      NearDup.minHashPairsIncremental(
        docs.filter(col("doc_id") % 10 === 0),
        docs.filter(col("doc_id") % 10 =!= 0),
        "doc_id", "text", shingleSize = 3, threshold = 0.5)
        .orderBy("id_a", "id_b")
    }),

    // per-source corpus profile: the curation dashboard's top table —
    // docs, token volume, mean quality, English share and dup-text
    // rate per ingest source. ONE combinable shuffle on the bounded
    // source domain; the dup rate needs a distinct-fingerprint count,
    // which rides a (source, fp) pre-aggregation (two keyed
    // combinable shuffles total, no windows).
    "corpus_source_profile" -> ((s, d) => {
      val scored = Tables.documents(s, d).select(col("source"),
        TextFunctions.tokenCount(col("text")).cast("bigint").as("n_tok"),
        roundTo(TextFunctions.qualityScore(col("text")), 6).as("q"),
        (TextFunctions.langId(col("text")) === "en").cast("long").as("is_en"),
        TextFunctions.fingerprintMd5(col("text")).as("__fp"))
      val perFp = scored.groupBy("source", "__fp")
        .agg(count(lit(1)).as("n"), sum(col("n_tok")).as("tok"),
          sum(roundTo(col("q"), 6).cast("decimal(18,6)")).as("qs"),
          sum(col("is_en")).as("en"))
      perFp.groupBy("source")
        .agg(sum(col("n")).as("n_docs"),
          count(lit(1)).as("n_distinct_texts"),
          sum(col("tok")).as("n_tokens"),
          roundTo(sum(col("qs")).cast("double") / sum(col("n")), 6)
            .as("mean_quality"),
          roundTo(sum(col("en")).cast("double") / sum(col("n")), 6)
            .as("en_share"))
        .select(col("source"), col("n_docs"), col("n_distinct_texts"),
          col("n_tokens"), col("mean_quality"), col("en_share"),
          roundTo(lit(1.0) - col("n_distinct_texts").cast("double") / col("n_docs"), 6)
            .as("dup_rate"))
        .orderBy("source")
    }),

    // top-3 terms per source by frequency, EXECUTED ON the custom
    // TopKPerGroup operator (rank <= k over a reduced (source, term)
    // frame rewrites to the two-phase heap exec — no full sort of
    // the term domain). Stopwords excluded so the board shows
    // content-bearing terms.
    "text_keyword_trends" -> ((s, d) => {
      val tf = Tables.documents(s, d)
        .select(col("source"), explode(TextFunctions.tokens(col("text"))).as("term"))
        .filter(!col("term").isInCollection(TextFunctions.Stopwords))
        .groupBy("source", "term").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("source")
        .orderBy(col("n").desc, col("term").asc)
      tf.withColumn("rank", row_number().over(w).cast("bigint"))
        .filter(col("rank") <= 3)
        .select(col("source"), col("rank"), col("term"), col("n"))
        .orderBy("source", "rank")
    }),

    // cart abandonment: users who clicked on a day but purchased
    // nothing that day — per-day abandonment rate. The (day, user)
    // activity grain reduces first (combinable), then one conditional
    // aggregation; no joins, no windows.
    "q_cart_abandonment" -> ((s, d) => {
      val act = Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase") &&
          col("user_id").isNotNull)
        .select(floor(unix_millis(col("ts")) / 86400000L).cast("long").as("day"),
          col("user_id"),
          (col("event_type") === "click").cast("long").as("c"),
          (col("event_type") === "purchase").cast("long").as("p"))
        .groupBy("day", "user_id")
        .agg(max(col("c")).as("clicked"), max(col("p")).as("purchased"))
      act.filter(col("clicked") === 1L)
        .groupBy("day")
        .agg(count(lit(1)).as("n_clickers"),
          sum(lit(1L) - col("purchased")).as("n_abandoned"))
        .select(col("day"), col("n_clickers"), col("n_abandoned"),
          roundTo(col("n_abandoned").cast("double") / col("n_clickers"), 6)
            .as("abandon_rate"))
        .orderBy("day")
    }),

    // FUZZY benchmark decontamination: dedup_decontaminate's exact
    // fingerprint match misses paraphrased / lightly-edited
    // contamination — the variant real eval hygiene needs. Corpus
    // docs near-dup (jaccard >= 0.5) to ANY holdout doc are dropped
    // via the incremental banded join (corpus × holdout candidates
    // only), then a broadcast anti-join on the flagged ids. The
    // corpus never pays corpus-pair volume; at 100 TB the holdout
    // (benchmark suites: thousands of docs) is the tiny side.
    "dedup_decontaminate_fuzzy" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val corpus = docs.filter(col("doc_id") % 97 =!= 0)
      val contaminated = NearDup.minHashPairsIncremental(
        corpus, bench, "doc_id", "text", shingleSize = 3, threshold = 0.5)
        .select(col("id_a").as("doc_id")).distinct()
      corpus.join(broadcast(contaminated), Seq("doc_id"), "left_anti")
        .select(col("doc_id")).orderBy("doc_id")
    }),

    // daily bounce rate: share of sessions with exactly one event —
    // the engagement headline. Rides the existing 30-min
    // sessionization (bounded per-user windows); the day rollup is
    // one combinable shuffle over the session frame.
    "q_bounce_rate" -> ((s, d) => {
      val sess = graft.streaming.Streams.sessionizeBatch(
        Tables.events(s, d), gapSeconds = 1800)
      sess.select(
          floor(unix_millis(col("session_start")) / 86400000L).cast("long").as("day"),
          when(col("n_events") === 1, 1L).otherwise(0L).as("b"))
        .groupBy("day")
        .agg(count(lit(1)).as("n_sessions"), sum(col("b")).as("n_bounces"))
        .select(col("day"), col("n_sessions"), col("n_bounces"),
          roundTo(col("n_bounces").cast("double") / col("n_sessions"), 6)
            .as("bounce_rate"))
        .orderBy("day")
    }),

    // bounded BFS reachability over the item co-participation graph
    // (min hops from the first catalog item, ≤3): level-synchronous
    // frontier expansion — each level is frontier ⋈ edges, distinct,
    // anti-join against the reached set — over ONE persisted edge
    // frame. The distributed-graph shape: every shuffle keys on item,
    // frontier stays small relative to the graph, and hop count (not
    // graph diameter) bounds the iterations. Oracle: recursive CTE.
    "q_reachability" -> ((s, d) => {
      import s.implicits._
      val raw = Tables.events(s, d)
        .select(col("user_id"),
          regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("bigint").as("item"))
        .where(col("item").isNotNull && col("user_id").isNotNull)
      // edge list through the Baskets core (per-user in-array pair
      // generation, collect_set dedups — ONE keyed shuffle; no
      // separate distinct pass, no ui⋈ui self-join whose
      // pre-distinct pair volume is Σ|basket|² rows)
      val pc = graft.operators.Baskets.pairCounts(
        graft.operators.Baskets.userItemSets(raw, "user_id", "item"))
      val e = pc.select(col("i").as("src"), col("j").as("dst"))
        .unionAll(pc.select(col("j").as("src"), col("i").as("dst")))
        .transform(graft.Caches.tracked)
      // seed as a 1-ROW FRAME, not a collected value: the old
      // `.as[Long].head()` was a separate driver action + round-trip
      // that serialized scan → min → literal before the BFS could
      // even plan (ProbeJobs r17: 0.15-0.28 s head job + ~0.3 s gap
      // around it). The aggregate frame computes the same minimum
      // INSIDE the one query; rows identical by construction.
      // persisted: the seed frame is referenced by the h=1 join, the
      // anti-join AND the union — unpersisted, each reference would
      // re-run the scan+min (3 full scans at scale vs the old one)
      var reach = raw.agg(min(col("item")).as("item"))
        .select(col("item"), lit(0L).as("hops"))
        .transform(graft.Caches.tracked)
      var frontier = reach
      for (h <- 1 to 3) {
        frontier = frontier.join(e, frontier("item") === e("src"))
          .select(col("dst").as("item")).distinct()
          .join(reach, Seq("item"), "left_anti")
          .withColumn("hops", lit(h.toLong))
          .transform(graft.Caches.tracked)
        reach = reach.unionAll(frontier).transform(graft.Caches.tracked)
      }
      reach.orderBy("item")
    }),

    // sorted-neighborhood near-dup (the classic entity-resolution
    // blocking METHOD, complementing dedup_levenshtein's length-band
    // blocks): docs sort by a normalized key inside 4-char key-prefix
    // blocks, and only rank-neighbors within w=3 compare — candidate
    // volume is O(n·w) by construction regardless of data skew. The
    // rank window partitions by block (never partition-less), and the
    // verify is the banded prefix levenshtein. Clones mutate chars
    // 30-31 so the sort key stays adjacent — planted the
    // dedup_exact_text way (2^40 id tag).
    "dedup_sorted_neighborhood" -> ((s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val clones = base.select((col("doc_id") + SyntheticIdTag).as("doc_id"),
        concat(substring(col("text"), 1, 29), lit("qq"),
          substring(col("text"), 32, 1000000)).as("text"))
      val keyed = base.unionAll(clones)
        .withColumn("__k", regexp_replace(lower(col("text")), "[^a-z0-9]", ""))
        .withColumn("__blk", substring(col("__k"), 1, 4))
      val w = Window.partitionBy("__blk").orderBy(col("__k").asc, col("doc_id").asc)
      val ranked = keyed
        .select(col("doc_id"), substring(col("text"), 1, 40).as("__p"),
          col("__blk"), row_number().over(w).cast("long").as("__rn"))
        .transform(graft.Caches.tracked)
      val a = ranked.select(col("__blk"), col("doc_id").as("__ida"),
        col("__p").as("__pa"), col("__rn").as("__rna"))
      val b = ranked.select(col("__blk"), col("doc_id").as("__idb"),
        col("__p").as("__pb"), col("__rn").as("__rnb"))
      a.join(b, Seq("__blk"))
        .where(col("__rnb") > col("__rna") && col("__rnb") <= col("__rna") + 3)
        .withColumn("lev_dist", levenshtein(col("__pa"), col("__pb"), 6).cast("bigint"))
        .where(col("lev_dist") >= 0)
        .select(least(col("__ida"), col("__idb")).as("id_a"),
          greatest(col("__ida"), col("__idb")).as("id_b"), col("lev_dist"))
        .orderBy("id_a", "id_b")
    }),

    // exponential time-decay engagement score (half-life 7 days, in
    // whole-week steps): the feature-engineering staple for "recent
    // activity matters more". One combinable per-user shuffle; the
    // global anchor day is a 1-row broadcast. Weights are exact
    // powers of two (0.5^k, k integer) and each term rounds to 6dp
    // into exact decimal accumulation — bit-stable cross-engine with
    // no transcendental-libm drift.
    "q_decayed_score" -> ((s, d) => {
      val e = Tables.events(s, d)
        .where(col("value").isNotNull && col("user_id").isNotNull)
        .select(col("user_id"), col("value"),
          floor(unix_millis(col("ts")) / 86400000L).cast("long").as("__day"))
      val anchor = e.agg(max(col("__day")).as("__anchor"))
      e.crossJoin(broadcast(anchor))
        .withColumn("__w", pow(lit(0.5),
          floor((col("__anchor") - col("__day")) / 7L).cast("double")))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(roundTo(col("value") * col("__w"), 6).cast("decimal(28,6)"))
            .cast("double").as("decayed_score"))
        .orderBy("user_id")
    }),

    // local clustering coefficient per item over the SAME
    // lift-filtered co-occurrence graph as q_triangle_count:
    // 2·T(v) / (deg(v)·(deg(v)−1)) — how interconnected each item's
    // neighborhood is. The triangle subtree reuses the persisted
    // canonical (i<j) edge frame; degree is one combinable shuffle
    // over the symmetrized edges.
    "q_clustering_coeff" -> ((s, d) => {
      val B = graft.operators.Baskets
      val sets = B.userItemSets(
        Tables.events(s, d).select(col("user_id"),
          regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("bigint").as("item")),
        "user_id", "item")
      val itemUsers = B.itemUserCounts(sets).withColumnRenamed("n_users", "__ni")
      val nUsers = B.userCount(sets).withColumnRenamed("n_users", "__n")
      val e = B.pairCounts(sets)
        .withColumnRenamed("n_both", "__nb")
        .join(broadcast(itemUsers.withColumnRenamed("item", "i")
          .withColumnRenamed("__ni", "__na")), "i")
        .join(broadcast(itemUsers.withColumnRenamed("item", "j")
          .withColumnRenamed("__ni", "__nbj")), "j")
        .crossJoin(broadcast(nUsers))
        .filter(roundTo((col("__nb") * col("__n")).cast("double") /
          (col("__na") * col("__nbj")).cast("double"), 6) >= 1.05)
        .select(col("i"), col("j"))
        .transform(graft.Caches.tracked)
      val tri = e.as("e1")
        .join(e.as("e2"), col("e1.j") === col("e2.i"))
        .join(e.as("e3"), col("e1.i") === col("e3.i") && col("e2.j") === col("e3.j"))
        .select(col("e1.i").as("ti"), col("e1.j").as("tj"), col("e2.j").as("tk"))
      val triCounts = tri
        .select(explode(array(col("ti"), col("tj"), col("tk"))).as("item"))
        .groupBy("item").agg(count(lit(1)).as("n_triangles"))
      val deg = e.select(col("i").as("item"))
        .unionAll(e.select(col("j").as("item")))
        .groupBy("item").agg(count(lit(1)).as("degree"))
      deg.join(triCounts, Seq("item"), "left")
        .select(col("item"), col("degree"),
          coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
          when(col("degree") >= 2, roundTo(
            lit(2.0) * coalesce(col("n_triangles"), lit(0L)).cast("double") /
              (col("degree") * (col("degree") - 1)).cast("double"), 6))
            .otherwise(lit(0.0)).as("clustering_coeff"))
        .orderBy("item")
    }),

    // item-to-item collaborative filtering: top-3 recommendations per
    // user scored by summed co-occurrence counts of the user's items,
    // minus what the user already has. The classic rec-serving batch,
    // in its SCALABLE item-kNN form via Baskets.itemRecs: each item
    // keeps only its top-20 neighbors (the standard serving
    // truncation — candidate volume becomes O(|ui|·20) instead of
    // O(|ui|·degree)), and the truncated edge frame broadcasts ONLY
    // under a counted ≤10⁶-edge bound (the SURVEY §5 contract) — a
    // 10⁸-item catalog takes the shuffled-join arm instead of
    // force-broadcasting a frame that no longer fits an executor.
    "q_item_recs" -> ((s, d) => {
      val B = graft.operators.Baskets
      // ONE wide stage builds the per-user item sets (collect_set
      // dedups — no separate distinct shuffle over the raw events)
      val sets = B.userItemSets(Tables.events(s, d)
        .select(col("user_id"),
          regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("bigint").as("item"))
        .where(col("item").isNotNull && col("user_id").isNotNull),
        "user_id", "item")
        .transform(graft.Caches.tracked)
      B.itemRecs(sets, "user_id", topNeighbors = 20, topRecs = 3)
        .orderBy("user_id", "rank")
    }),

    // KPI anomaly days: daily total value vs the series' global
    // mean ± 2σ — one keyed day rollup, then the global stats ride a
    // 1-row broadcast. Determinism the q_zscore_outliers way: the
    // day totals are cents-exact decimals, and mean/σ derive from
    // EXACT decimal Σx and Σx² via closed formulas — no
    // accumulation-order drift on either engine.
    "q_value_spike_days" -> ((s, d) => {
      val daily = Tables.events(s, d).where(col("value").isNotNull)
        .groupBy(floor(unix_millis(col("ts")) / 86400000L).cast("long").as("day"))
        .agg(sum(roundTo(col("value"), 2).cast("decimal(18,2)")).as("__t"))
        .select(col("day"), col("__t").cast("double").as("day_total"))
      val stats = daily.agg(
        count(lit(1)).as("__n"),
        sum(col("day_total").cast("decimal(18,2)")).cast("double").as("__s1"),
        sum(roundTo(col("day_total") * col("day_total"), 4)
          .cast("decimal(28,4)")).cast("double").as("__s2"))
        .select(col("__n"), (col("__s1") / col("__n")).as("__mu"),
          sqrt(col("__s2") / col("__n") -
            (col("__s1") / col("__n")) * (col("__s1") / col("__n"))).as("__sigma"))
      daily.crossJoin(broadcast(stats))
        .where(col("__sigma") > 0)
        .withColumn("z_score",
          roundTo((col("day_total") - col("__mu")) / col("__sigma"), 4))
        .where(abs(col("z_score")) > 2.0)
        .select(col("day"), col("day_total"), col("z_score"))
        .orderBy("day")
    }),

    // Flesch-style readability per doc: sentences from [.!?]+ splits,
    // syllables as vowel-group counts — the curation-quality signal
    // layered ABOVE word stats. Pure narrow codegen'd array ops, no
    // shuffle; the formula's double arithmetic is identical
    // left-to-right on both engines and rounds to 4dp.
    "text_readability" -> ((s, d) => {
      val toks = TextFunctions.tokens(col("text"))
      val nWords = size(toks).cast("bigint")
      val nSent = size(filter(split(col("text"), "[.!?]+"),
        x => length(trim(x)) > 0)).cast("bigint")
      val nSyl = aggregate(
        transform(toks, w => regexp_count(lower(w), lit("[aeiouy]+")).cast("long")),
        lit(0L), (acc, x) => acc + x)
      Tables.documents(s, d).select(col("doc_id"),
          nWords.as("n_words"), nSent.as("n_sentences"), nSyl.as("n_syllables"))
        .withColumn("flesch",
          when(col("n_words") > 0 && col("n_sentences") > 0,
            roundTo(lit(206.835) -
              lit(1.015) * (col("n_words").cast("double") / col("n_sentences")) -
              lit(84.6) * (col("n_syllables").cast("double") / col("n_words")), 4)))
        .orderBy("doc_id")
    }),

    // code-vs-prose heuristic (the curation splitter that keeps code
    // out of prose corpora and vice versa): structural-symbol count
    // via length-minus-translate — one narrow codegen'd pass, no
    // regex engine in the loop, no shuffle.
    "text_code_score" -> ((s, d) => {
      val symbols = (length(col("text")) -
        length(translate(col("text"), "{}();=<>[]", ""))).cast("bigint")
      Tables.documents(s, d).select(col("doc_id"),
          length(col("text")).cast("bigint").as("n_chars"),
          symbols.as("n_symbols"))
        .withColumn("symbol_density",
          when(col("n_chars") > 0,
            roundTo(col("n_symbols").cast("double") / col("n_chars"), 6))
            .otherwise(lit(0.0)))
        .withColumn("is_code", col("symbol_density") > 0.02)
        .orderBy("doc_id")
    }),

    // golden-record survivorship (MDM's field-level merge, vs
    // dedup_best_rep's whole-row survivor): duplicate customer
    // variants merge per FIELD — latest non-null version wins via
    // max_by with a null-demoting weight, so a v2 null never
    // clobbers a v1 value. One combinable shuffle on the natural
    // key; planted variants use the 2^40 id-tag convention.
    "dedup_golden_record" -> ((s, d) => {
      val base = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          roundTo(col("c_acctbal"), 2).as("c_acctbal"), lit(1L).as("__v"))
      // variants: every 3rd customer gets a v2 row with a corrected
      // balance but a MISSING segment (field-level gaps, the MDM case)
      val variants = base.where(col("c_custkey") % 3 === 0)
        .select((col("c_custkey") + SyntheticIdTag).as("c_custkey"),
          col("c_name"),
          lit(null).cast("string").as("c_mktsegment"),
          roundTo(col("c_acctbal") + 100.0, 2).as("c_acctbal"),
          lit(2L).as("__v"))
      def pick(f: String) = max_by(col(f),
        when(col(f).isNotNull, col("__v")).otherwise(lit(-1L))).as(f)
      base.unionAll(variants)
        .groupBy((col("c_custkey") % SyntheticIdTag).as("custkey"))
        .agg(count(lit(1)).as("n_sources"),
          pick("c_name"), pick("c_mktsegment"), pick("c_acctbal"))
        .select(col("custkey"), col("n_sources"),
          col("c_name"), col("c_mktsegment"), col("c_acctbal"))
        .orderBy("custkey")
    }),

    // kNN majority-vote classification (the non-parametric
    // counterpart to q_classifier_eval's nearest-centroid): unlabeled
    // probes (vec_id < 100) classify by the majority label of their 5
    // nearest labeled neighbors, ties to the smallest label. Probe
    // side broadcasts (the corpus never shuffles); the vote rollup
    // and argmax ride the reduced ≤5-rows-per-query frame.
    "ann_knn_classify" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val labeled = e.filter(col("vec_id") >= 100)
      val queries = e.filter(col("vec_id") < 100)
      val nn = Similarity.bruteForceTopK(labeled, queries, k = 5)
      val votes = nn.join(broadcast(labeled.select(
          col("vec_id").as("neighbor_id"), col("label"))), "neighbor_id")
        .groupBy(col("query_id"), col("label"))
        .agg(count(lit(1)).as("votes"))
      val wv = Window.partitionBy("query_id")
        .orderBy(col("votes").desc, col("label").asc)
      votes.withColumn("__r", row_number().over(wv)).where(col("__r") === 1)
        .join(broadcast(queries.select(col("vec_id").as("query_id"),
          col("label").cast("bigint").as("true_label"))), "query_id")
        .select(col("query_id"), col("label").cast("bigint").as("pred_label"),
          col("votes"), col("true_label"))
        .orderBy("query_id")
    }),

    // behavioral diversity per user: Shannon entropy over the user's
    // event-type distribution — the engagement-breadth signal. Two
    // keyed shuffles on user_id; per-term 9dp rounding into exact
    // decimal accumulation makes Σ p·ln p order-independent, the
    // text_tfidf ln-parity convention.
    "q_user_entropy" -> ((s, d) => {
      val ct = Tables.events(s, d).where(col("user_id").isNotNull)
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("__c"))
      val wn = Window.partitionBy("user_id")
      ct.withColumn("__n", sum(col("__c")).over(wn))
        .withColumn("__p", col("__c").cast("double") / col("__n"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_types"),
          max(col("__n")).as("n_events"),
          roundTo(sum(roundTo(-(col("__p") * log(col("__p"))), 9)
            .cast("decimal(28,9)")).cast("double"), 6).as("entropy"))
        .orderBy("user_id")
    }),

    // lang-id heuristic EVALUATED against the gold lang column: the
    // confusion matrix (true × predicted counts + within-true share)
    // every classifier needs before it gates a corpus. Prediction is
    // a narrow codegen'd expression; the rollup is one bounded
    // (langs²) shuffle.
    "text_langid_eval" -> ((s, d) => {
      val pred = Tables.documents(s, d).select(col("lang").as("true_lang"),
        TextFunctions.langId(col("text")).as("pred_lang"))
      val cm = pred.groupBy("true_lang", "pred_lang").agg(count(lit(1)).as("n"))
      val wt = Window.partitionBy("true_lang")
      cm.withColumn("share",
          roundTo(col("n").cast("double") / sum(col("n")).over(wt), 6))
        .orderBy("true_lang", "pred_lang")
    }),

    // promo-vs-base difference-in-differences across the 1995 cut:
    // the causal-flavored board for "did promo parts outgrow the
    // rest". ONE conditional-agg scan of lineitem⋈part produces the
    // 2×2 cents-exact cells; means and the DiD derive on the 1-row
    // frame.
    "q_promo_did" -> ((s, d) => {
      val rev = roundTo(col("l_extendedprice") * (lit(1) - col("l_discount")), 2)
      val cells = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)
          .select(col("p_partkey"), col("p_type"))), col("l_partkey") === col("p_partkey"))
        .select(col("p_type").startsWith("PROMO").as("__promo"),
          (col("l_shipdate") >= lit("1995-01-01")).as("__after"),
          rev.cast("decimal(18,2)").as("__rev"))
      def cell(promo: Boolean, after: Boolean, tag: String) = Seq(
        sum(when(col("__promo") === promo && col("__after") === after,
          col("__rev"))).cast("double").as(s"rev_$tag"),
        sum(when(col("__promo") === promo && col("__after") === after,
          1L)).as(s"n_$tag"))
      val exprs = cell(true, false, "promo_before") ++
        cell(true, true, "promo_after") ++
        cell(false, false, "base_before") ++ cell(false, true, "base_after")
      def mean(tag: String) =
        roundTo(col(s"rev_$tag") / col(s"n_$tag"), 6).as(s"mean_$tag")
      cells.agg(exprs.head, exprs.tail: _*)
        .select(mean("promo_before"), mean("promo_after"),
          mean("base_before"), mean("base_after"))
        .withColumn("did", roundTo(
          (col("mean_promo_after") - col("mean_promo_before")) -
            (col("mean_base_after") - col("mean_base_before")), 6))
    }),

    // l-diversity audit (k-anonymity's companion: a k-anonymous
    // class whose SENSITIVE attribute is uniform still leaks it):
    // per quasi-identifier class, the distinct sensitive-value count
    // l; classes with l < 2 are homogeneous disclosures. Same
    // one-shuffle bounded-class shape as dq_k_anonymity.
    "dq_l_diversity" -> ((s, d) => {
      val bd = floor(roundTo(col("c_acctbal"), 2) / 1000).cast("long")
      Tables.customer(s, d)
        .select(col("c_nationkey"), col("c_mktsegment"), bd.as("bal_band"))
        .groupBy("c_nationkey", "bal_band")
        .agg(count(lit(1)).as("class_size"),
          countDistinct(col("c_mktsegment")).as("l_diversity"))
        .withColumn("homogeneous", col("l_diversity") < 2)
        .orderBy("c_nationkey", "bal_band")
    }),

    // cross-field consistency DQ rule (the family the single-column
    // checks can't see): line revenue vs quantity × catalog price —
    // per brand, how many lines deviate more than 50% from the
    // catalog-implied amount. Dim broadcast, one combinable brand
    // rollup; the ratio rounds before the gate so the flag is
    // bit-stable.
    "dq_cross_field" -> ((s, d) => {
      val expected = col("l_quantity") * col("p_retailprice")
      val dev = roundTo(abs(col("l_extendedprice") - expected) /
        when(expected === 0, lit(1.0)).otherwise(expected), 6)
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)
          .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"), (dev > 0.5).as("__viol"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("__viol"), 1L).otherwise(0L)).as("n_violations"))
        .withColumn("violation_rate",
          roundTo(col("n_violations").cast("double") / col("n_lines"), 6))
        .orderBy("p_brand")
    }),

    // bigram-LM fluency score (the sequential companion to
    // text_unigram_logprob): per doc, mean log P(w2|w1) under the
    // corpus bigram model with add-one smoothing over the unigram
    // vocabulary — repetitive or shuffled text scores low even when
    // its unigram profile looks normal. Keyed shuffles only; the
    // (n_total, vocab)-style scalars ride a 1-row broadcast, and
    // per-term 6dp decimal accumulation keeps Σ c·ln(p)
    // order-independent.
    "text_bigram_logprob" -> ((s, d) => {
      val dbf = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(TextFunctions.shingles(col("text"), 2)).as("bg"))
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      val cb = dbf.groupBy("bg").agg(sum(col("c")).as("cb"))
      val uni = Tables.documents(s, d)
        .select(explode(TextFunctions.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cw"))
      val vocab = uni.agg(count(lit(1)).as("vocab"))
      dbf.join(cb, "bg")
        .withColumn("__w1", substring_index(col("bg"), " ", 1))
        .join(uni.select(col("token").as("__w1"), col("cw")), "__w1")
        .crossJoin(broadcast(vocab))
        .withColumn("__t", roundTo(col("c").cast("double") *
          log((col("cb") + 1).cast("double") /
            (col("cw") + col("vocab")).cast("double")), 6)
          .cast("decimal(28,6)"))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_bigrams"), sum(col("__t")).as("__s"))
        .select(col("doc_id"), col("n_bigrams"),
          roundTo(col("__s").cast("double") / col("n_bigrams").cast("double"), 4)
            .as("avg_logprob"))
        .orderBy("doc_id")
    }),

    // customer spend-band migration 1995→1996 (the value-tier
    // transition matrix: who upgraded, who churned down): ONE
    // conditional-agg scan reduces orders to per-customer year
    // revenues, fixed cents-exact band edges classify both years,
    // and the matrix is a bounded bands² rollup with within-origin
    // shares.
    "q_band_migration" -> ((s, d) => {
      val yr = year(col("o_orderdate").cast("date"))
      val rev = roundTo(col("o_totalprice"), 2).cast("decimal(18,2)")
      val per = Tables.orders(s, d)
        .where(yr.isin(1995, 1996))
        .groupBy(col("o_custkey").as("custkey"))
        .agg(sum(when(yr === 1995, rev)).cast("double").as("__r95"),
          sum(when(yr === 1996, rev)).cast("double").as("__r96"))
      def band(c: Column) = when(c.isNull, "none")
        .when(c < 100000.0, "low")
        .when(c < 300000.0, "mid")
        .otherwise("high")
      val mat = per.select(band(col("__r95")).as("band_1995"),
          band(col("__r96")).as("band_1996"))
        .groupBy("band_1995", "band_1996").agg(count(lit(1)).as("n_customers"))
      val wb = Window.partitionBy("band_1995")
      mat.withColumn("share_of_origin", roundTo(
          col("n_customers").cast("double") /
            sum(col("n_customers")).over(wb), 6))
        .orderBy("band_1995", "band_1996")
    }),

    // discount-depth response curve: per discount level, volume,
    // mean quantity and share of total revenue — does deeper
    // discounting actually move quantity? ONE combinable rollup on
    // the (discrete) discount key; the share denominator is a 1-row
    // exact-decimal total broadcast back over the bounded levels
    // frame (never a partition-less window).
    "q_discount_depth" -> ((s, d) => {
      val rev = roundTo(col("l_extendedprice") * (lit(1) - col("l_discount")), 2)
      val per = Tables.lineitem(s, d)
        .groupBy(roundTo(col("l_discount"), 2).as("discount"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("__q"),
          sum(rev.cast("decimal(18,2)")).as("__r"))
      val total = per.agg(sum(col("__r")).as("__tot"))
      per.crossJoin(broadcast(total))
        .select(col("discount"), col("n_lines"),
          roundTo(col("__q").cast("double") / col("n_lines"), 4).as("avg_qty"),
          col("__r").cast("double").as("revenue"),
          roundTo(col("__r").cast("double") / col("__tot").cast("double"), 6)
            .as("revenue_share"))
        .orderBy("discount")
    }),

    // weekly growth accounting (the canonical NEW / RETAINED /
    // RESURRECTED / CHURNED user split, at the week grain the
    // events table's one-month span supports): per-user week
    // sequence classifies each active week by its lag (new = first
    // week, retained = consecutive, resurrected = gap), and churn
    // events land in the week AFTER a gap or final appearance —
    // bounded by the data's last week via a 1-row broadcast. All
    // windows partition by user; rollups are bounded week frames.
    "q_growth_accounting" -> ((s, d) => {
      val um = Tables.events(s, d).where(col("user_id").isNotNull)
        .select(col("user_id"),
          floor(unix_millis(col("ts")) / (86400000L * 7)).cast("long").as("m"))
        .distinct()
        .transform(graft.Caches.tracked)
      val w = Window.partitionBy("user_id").orderBy("m")
      val wAllU = Window.partitionBy("user_id")
      val flags = um
        .withColumn("__prev", lag(col("m"), 1).over(w))
        .withColumn("__lead", lead(col("m"), 1).over(w))
        .withColumn("__first", min(col("m")).over(wAllU))
      val active = flags.groupBy("m").agg(
        sum(when(col("m") === col("__first"), 1L).otherwise(0L)).as("n_new"),
        sum(when(col("__prev") === col("m") - 1, 1L).otherwise(0L)).as("n_retained"),
        sum(when(col("__prev").isNotNull && col("__prev") < col("m") - 1, 1L)
          .otherwise(0L)).as("n_resurrected"))
      val maxM = um.agg(max(col("m")).as("__max"))
      val churn = flags.crossJoin(broadcast(maxM))
        .where((col("__lead").isNull || col("__lead") > col("m") + 1) &&
          col("m") < col("__max"))
        .select((col("m") + 1).as("m"))
        .groupBy("m").agg(count(lit(1)).as("n_churned"))
      active.join(churn, Seq("m"), "full_outer")
        .select(col("m").as("week"),
          coalesce(col("n_new"), lit(0L)).as("n_new"),
          coalesce(col("n_retained"), lit(0L)).as("n_retained"),
          coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
          coalesce(col("n_churned"), lit(0L)).as("n_churned"))
        .orderBy("week")
    }),

    // MRR of the LSH ANN index against exact ground truth — the
    // ORDER-sensitive companion to recall@5 (ann_recall_eval): the
    // reciprocal position of the first relevant (exact-top-5)
    // neighbor in the approx ranking, 0 when the index misses
    // entirely. 1/rank is binary-exact for ranks 1/2/4; 6dp rounding
    // covers the rest. Same broadcast-probe plan as the graded runs
    // it composes.
    "ann_mrr_eval" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 100)
      val exact = Similarity.bruteForceTopK(e, q, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.lshTopK(e, q, k = 5, nBits = 4, dim = 64)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left_outer")
        .groupBy(col("query_id"))
        .agg(coalesce(min(col("rank")), lit(0)).cast("bigint").as("first_hit_rank"))
        .select(col("query_id"), col("first_hit_rank"),
          roundTo(when(col("first_hit_rank") > 0,
            lit(1.0) / col("first_hit_rank")).otherwise(lit(0.0)), 6).as("mrr"))
        .orderBy("query_id")
    }),

    // cross-source duplication matrix — the corpus-level dedup
    // diagnostic: for every pair of sources, how many normalized
    // content fingerprints they SHARE (which feeds "which crawls
    // overlap, which mirror should we drop wholesale"). Planted
    // mirror source (every 5th doc cloned under the 2^40 id tag)
    // keeps the gate meaningful on corpora with no natural overlap.
    // Distinct (source, fp) first, so the fp self-join fans out per
    // source-pair — never per duplicate-pair; group sizes are bounded
    // by the source count.
    "dedup_cross_source_matrix" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.select(col("source"), col("text"))
        .unionAll(docs.where(col("doc_id") % 5 === 0)
          .select(lit("zz_mirror").as("source"), col("text")))
      val fp = corpus
        .select(col("source"), TextFunctions.fingerprintMd5(col("text")).as("fp"))
        .distinct()
      val a = fp.select(col("source").as("source_a"), col("fp"))
      val b = fp.select(col("source").as("source_b"), col("fp"))
      a.join(b, "fp").where(col("source_a") < col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_shared_fp"))
        .orderBy("source_a", "source_b")
    }),

    // training-mix temperature rebalancing (the multilingual-corpus
    // alpha-sampling rule at alpha = 0.5, i.e. sqrt scaling): a
    // source's sampling share goes from size/total to
    // sqrt(size)/sum(sqrt(size)), lifting small sources. Size is
    // total characters (doc counts are near-uniform here). sqrt of
    // an integer-valued double is IEEE exactly-rounded on BOTH
    // engines, and the sqrt terms accumulate at decimal scale 9 —
    // the portable grid, no pow() libm drift anywhere. One keyed
    // rollup + a 1-row broadcast.
    "corpus_mix_temperature" -> ((s, d) => {
      val counts = Tables.documents(s, d).groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      val sq = counts.select(col("source"), col("n_docs"), col("n_chars"),
        roundTo(sqrt(col("n_chars").cast("double")), 9).as("__sq"))
      val tot = sq.agg(sum(col("n_chars")).as("__tc"),
        sum(col("__sq").cast("decimal(28,9)")).as("__tsq"))
      sq.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("n_chars"),
          roundTo(col("n_chars").cast("double") / col("__tc"), 6).as("raw_share"),
          roundTo(col("__sq") / col("__tsq").cast("double"), 6).as("temp_share"))
        .orderBy("source")
    }),

    // embedding-corpus hygiene gate (the vector twin of the text DQ
    // rows): vector count, zero vectors (undefined cosine — these
    // break normalization downstream), norm extremes and mean norm.
    // Norms ride the codegen'd dot product; the mean divides an
    // exact decimal sum of 9dp-rounded norms. ONE global rollup —
    // 1 output row.
    "embed_quality_stats" -> ((s, d) => {
      val n = Tables.embeddings(s, d).select(
        roundTo(Similarity.norm(transform(col("embedding"),
          x => x.cast("double"))), 9).as("norm"))
      n.agg(
        count(lit(1)).as("n_vecs"),
        sum(when(col("norm") === 0.0, 1L).otherwise(0L)).as("n_zero"),
        roundTo(min(col("norm")), 9).as("min_norm"),
        roundTo(max(col("norm")), 9).as("max_norm"))
        .crossJoin(broadcast(n.agg(
          sum(col("norm").cast("decimal(28,9)")).as("__s"),
          count(lit(1)).as("__n"))))
        .select(col("n_vecs"), col("n_zero"), col("min_norm"), col("max_norm"),
          roundTo(col("__s").cast("double") / col("__n"), 6).as("mean_norm"))
    }),

    // FIRST-touch conversion attribution — the channel-credit twin of
    // q_attribution (last-touch): each purchase credits the user's
    // EARLIEST preceding non-purchase event, so acquisition channels
    // get the credit instead of closing ones. Same strictly-prior
    // per-user frame, first() IGNORE NULLS instead of last().
    "q_first_touch_attribution" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ms").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"),
          col("event_type"), col("value"))
        .withColumn("channel",
          first(when(col("event_type") =!= "purchase", col("event_type")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("channel"), lit("none")).as("channel"))
        .agg(count(lit(1)).as("conversions"),
          sumD(col("value")).as("attributed_value"))
        .orderBy("channel")
    }),

    // train/eval n-gram overlap rate — the MEMORIZATION-surface
    // metric decontamination complements: per eval doc (doc_id%10==0,
    // the established eval-split rule), the share of its distinct
    // 3-shingles that ALSO appear anywhere in the train split. High
    // overlap = eval loss is measuring recall of training text, not
    // generalization. Shuffle shape: one explode + hash-join on the
    // 64-bit shingle hash (same-cardinality, ~3x smaller rows than
    // the string) + one per-doc rollup; the train side is a distinct
    // shingle set, never doc-pairs.
    "text_train_overlap" -> ((s, d) => {
      val sh = Tables.documents(s, d)
        .select(col("doc_id"),
          TextFunctions.shinglesDistinct(col("text"), 3).as("__sh"))
        .where(size(col("__sh")) > 0)
      val ev = sh.where(col("doc_id") % 10 === 0)
        .select(col("doc_id"), size(col("__sh")).as("n_sh"),
          explode(col("__sh")).as("__g0"))
        .select(col("doc_id"), col("n_sh"), xxhash64(col("__g0")).as("__g"))
      val tr = sh.where(col("doc_id") % 10 =!= 0)
        .select(explode(col("__sh")).as("__g0"))
        .select(xxhash64(col("__g0")).as("__g")).distinct()
        .withColumn("__hit", lit(1L))
      ev.join(tr, Seq("__g"), "left_outer")
        .groupBy("doc_id", "n_sh")
        .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_overlap"))
        .select(col("doc_id"), col("n_sh").cast("bigint").as("n_sh"),
          col("n_overlap"),
          roundTo(col("n_overlap").cast("double") / col("n_sh"), 6)
            .as("overlap_rate"))
        .orderBy("doc_id")
    }),

    // duplicated-mass report per source — "how much of each source is
    // redundant bytes": a doc is REDUNDANT when its normalized
    // fingerprint has a lower-id copy anywhere in the corpus (the
    // canonical-survivor rule every dedup query shares); per source,
    // redundant doc count and the redundant share of characters.
    // Planted clones (every 4th doc, 2^40 id tag) keep the gate
    // meaningful. Window partitions by fingerprint — group size =
    // duplicate multiplicity, never corpus-scale.
    "corpus_dup_inflation" -> ((s, d) => {
      val docs0 = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("text"), col("n_chars"))
      val corpus = docs0.unionAll(docs0.where(col("doc_id") % 4 === 0)
        .select((col("doc_id") + SyntheticIdTag).as("doc_id"),
          col("source"), col("text"), col("n_chars")))
      val w = Window.partitionBy("fp").orderBy("doc_id")
      corpus.withColumn("fp", TextFunctions.fingerprintMd5(col("text")))
        .withColumn("__rn", row_number().over(w))
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("__rn") > 1, 1L).otherwise(0L)).as("n_redundant"),
          sum(col("n_chars")).as("total_chars"),
          sum(when(col("__rn") > 1, col("n_chars")).otherwise(lit(0L)))
            .as("redundant_chars"))
        .select(col("source"), col("n_docs"), col("n_redundant"),
          col("total_chars"), col("redundant_chars"),
          roundTo(col("redundant_chars").cast("double") / col("total_chars"), 6)
            .as("redundant_share"))
        .orderBy("source")
    }),

    // EXACT edit-distance entity resolution on part names (planted
    // typos: every 10th name loses its 8th character, 2^40 id tag)
    // via NearDup.editDistancePairs — PassJoin segment blocking, so
    // candidates come from an equi-join on (segment idx, len, bytes),
    // never all-pairs; the all-pairs DuckDB oracle hash-proves the
    // blocking lossless. levenshtein is the classic unit-cost DP on
    // both engines — integer-exact parity.
    "dedup_fuzzy_names" -> ((s, d) => {
      // entity strings = catalog labels (name + brand + size), and
      // resolution runs on the DISTINCT label space with the min
      // partkey as canonical id (resolving the name-space, not the
      // row-space — p_name alone has 64 values with huge
      // multiplicity, which would make pair volume m² per string)
      val labels = Tables.part(s, d)
        .select(col("p_partkey"),
          concat(col("p_name"), lit(" "), col("p_brand"),
            lit(" size "), col("p_size")).as("label"))
        .groupBy("label").agg(min(col("p_partkey")).as("id"))
      val typos = labels.where(col("id") % 10 === 0)
        .select((col("id") + SyntheticIdTag).as("id"),
          expr("concat(substring(label, 1, 7), substring(label, 9))").as("label"))
      NearDup.editDistancePairs(labels.select(col("id"), col("label"))
        .unionAll(typos), "id", "label", maxDist = 1)
        .orderBy("id_a", "id_b")
    }),

    // inter-event cadence percentiles: per event type, the EXACT
    // median and p90 of same-user consecutive-event gaps (ms) — the
    // at-rank convention (value at ceil(q·n), no interpolation), via
    // two-pass rank selection (Ranks.valuesAtRanks: bucket counts,
    // then row_number over only the cut-containing buckets — no
    // global sort, no single-reducer window). Gap frame persists:
    // it feeds the counts pass and both rank passes.
    "q_interevent_gaps" -> ((s, d) => {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ms").asc, col("event_id").asc)
      val gaps = Tables.events(s, d).where(col("user_id").isNotNull)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_millis(col("ts")).as("ms"))
        .withColumn("gap_ms", col("ms") - lag(col("ms"), 1).over(w))
        .where(col("gap_ms").isNotNull)
        .select(col("event_type"), col("gap_ms"), col("user_id"), col("event_id"))
        .transform(graft.Caches.tracked)
      val ns: Map[String, Long] = gaps.groupBy("event_type")
        .agg(count(lit(1)).as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      def p50r(n: Long) = (n + 1) / 2
      def p90r(n: Long) = (9 * n + 9) / 10 // ceil(0.9 n)
      val rows = graft.operators.Ranks.valuesAtRanks(gaps, Seq("event_type"),
        Seq("gap_ms", "user_id", "event_id"), "gap_ms",
        n => Seq(p50r(n), p90r(n)))
      // row layout: (event_type, rank, gap_ms, user_id, event_id)
      val byType = rows.groupBy(_.getString(0))
      import s.implicits._
      ns.toSeq.sortBy(_._1).map { case (t, n) =>
        def at(rk: Long): Long = byType(t).find(_.getLong(1) == rk)
          .getOrElse(sys.error(s"rank $rk missing for $t")).getLong(2)
        (t, n, at(p50r(n)), at(p90r(n)))
      }.toDF("event_type", "n_gaps", "p50_gap_ms", "p90_gap_ms")
        .orderBy("event_type")
    }),

    // shingle document-frequency profile — THE diagnostic behind the
    // maxDocFreq knob: how many distinct shingles sit at each log2
    // df band, and what share of inverted-index candidate volume
    // (sum df^2) each band carries. Read: if the top band carries
    // most of the df^2 mass, a cap pays; if mass is flat, it won't.
    // Two keyed rollups (shingle df, then band), both combinable.
    "dedup_shingle_profile" -> ((s, d) => {
      val df = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(TextFunctions.shinglesDistinct(col("text"), 3)).as("g"))
        .groupBy(xxhash64(col("g")).as("__g"))
        .agg(count(lit(1)).as("__df"))
      // floor(log2(df)) via binary-string length — integer-exact on
      // both engines (floor(ln x / ln 2) misjudges exact powers of 2)
      val banded = df.select(
        (length(conv(col("__df"), 10, 2)) - 1).cast("bigint").as("df_band"),
        col("__df"))
        .groupBy("df_band")
        .agg(count(lit(1)).as("n_shingles"),
          sum(col("__df") * col("__df")).as("__cand"))
      val tot = banded.agg(sum(col("__cand")).as("__tot"))
      banded.crossJoin(broadcast(tot))
        .select(col("df_band"), col("n_shingles"),
          col("__cand").as("candidate_rows"),
          roundTo(col("__cand").cast("double") / col("__tot"), 6)
            .as("candidate_share"))
        .orderBy("df_band")
    }),

    // near-dup threshold sweep — the tuning artifact for picking the
    // dedup similarity cutoff: qualifying pair counts per jaccard
    // band over the SAME capped inverted-index pipeline the graded
    // dedup runs, in one pass over the pairs frame.
    "text_dedup_threshold_sweep" -> ((s, d) =>
      NearDup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
        shingleSize = 3, threshold = 0.5, maxDocFreq = Some(1000L))
        .select(when(col("jaccard_sim") >= 0.9, "0.9")
          .when(col("jaccard_sim") >= 0.7, "0.7")
          .otherwise("0.5").as("threshold_band"))
        .groupBy("threshold_band")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("threshold_band")),

    // retrieval-confidence margin: per query, the exact top-1 vs
    // top-2 cosine gap — a small margin means the nearest neighbor is
    // ambiguous (the number that decides whether an ANN shortlist
    // needs re-ranking). Same broadcast-probe plan as ann_topk;
    // 6dp-rounded cosines (dot-product parity established).
    "ann_margin_eval" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val v = transform(col("embedding"), x => x.cast("double"))
      val c = e.select(col("vec_id").as("corpus_id"), v.as("__cv"))
        .withColumn("__cn", Similarity.norm(col("__cv")))
      val q = e.filter(col("vec_id") < 100)
        .select(col("vec_id").as("query_id"), v.as("__qv"))
        .withColumn("__qn", Similarity.norm(col("__qv")))
      val scored = c.crossJoin(broadcast(q))
        .filter(col("corpus_id") =!= col("query_id"))
        .withColumn("__cos", Similarity.dot(col("__qv"), col("__cv")) /
          (col("__qn") * col("__cn")))
      val w = Window.partitionBy("query_id")
        .orderBy(col("__cos").desc, col("corpus_id").asc)
      scored.withColumn("__rk", row_number().over(w))
        .filter(col("__rk") <= 2)
        .groupBy("query_id")
        .agg(
          roundTo(max(when(col("__rk") === 1, col("__cos"))), 6).as("cos_top1"),
          roundTo(max(when(col("__rk") === 2, col("__cos"))), 6).as("cos_top2"))
        .withColumn("margin", roundTo(col("cos_top1") - col("cos_top2"), 6))
        .orderBy("query_id")
    }),

    // weekly stickiness (avg-DAU / WAU) — the engagement-intensity
    // KPI next to growth accounting's who-is-active split: how much
    // of the weekly audience shows up on an average day. One
    // distinct (user, day) shuffle feeds both the daily counts and
    // the weekly distinct-user counts; the ratio is exact integer
    // arithmetic until one 6dp rounding.
    "q_user_stickiness" -> ((s, d) => {
      val active = Tables.events(s, d).where(col("user_id").isNotNull)
        .select(col("user_id"),
          floor(unix_millis(col("ts")) / 86400000L).cast("long").as("day"))
        .distinct()
        .withColumn("week", floor(col("day") / 7).cast("long"))
        .transform(graft.Caches.tracked)
      val daily = active.groupBy("week", "day").agg(count(lit(1)).as("dau"))
        .groupBy("week").agg(count(lit(1)).as("n_days"), sum(col("dau")).as("sum_dau"))
      val wau = active.select("week", "user_id").distinct()
        .groupBy("week").agg(count(lit(1)).as("wau"))
      daily.join(wau, "week")
        .select(col("week"), col("n_days"), col("wau"),
          roundTo(col("sum_dau").cast("double") / (col("n_days") * col("wau")), 6)
            .as("stickiness"))
        .orderBy("week")
    }),

    // MinHash LSH band-collision profile — the index-tuning
    // diagnostic for Bands x RowsPerBand (the minhash twin of
    // dedup_shingle_profile): per band, how many buckets collide,
    // the largest bucket, and the candidate-pair volume the band
    // contributes. A band whose max bucket explodes says the band
    // key is too short for this corpus.
    "dedup_minhash_band_stats" -> ((s, d) => {
      val sig = Tables.documents(s, d).select(col("doc_id"),
        NearDup.minHashSignature(col("text"), 3).as("__sig"))
      NearDup.lshBands(sig, "doc_id", "__sig")
        .groupBy("band_idx", "band_key").agg(count(lit(1)).as("__n"))
        .where(col("__n") > 1) // singleton buckets generate no pairs
        .groupBy(col("band_idx").cast("bigint").as("band_idx"))
        .agg(count(lit(1)).as("n_colliding_buckets"),
          max(col("__n")).as("max_bucket"),
          // `/` on longs is DOUBLE division in Spark SQL — n(n-1) is
          // even, so integer semantics need an explicit cast back
          sum((col("__n") * (col("__n") - 1) / 2).cast("long"))
            .as("candidate_pairs"))
        .orderBy("band_idx")
    }),

    // EXACT Gini coefficient of customer revenue — the
    // revenue-concentration KPI next to ABC/HHI. Identity: with x
    // sorted ASC and cum_i the inclusive running sum,
    // Σ i·x_i = (n+1)·Σx − Σ cum_i, so
    // G = 2·Σ(i·x_i)/(n·Σx) − (n+1)/n needs only the running sum —
    // which Ranks.withRunningSum computes scale-safe (per-bucket
    // decimal partials + driver-folded priors; no global window, no
    // single reducer). All terms are exact cent-decimals until the
    // one final 6dp-rounded division.
    "q_revenue_gini" -> ((s, d) => {
      val rev = Tables.lineitem(s, d).groupBy(col("l_orderkey"))
        .agg(sum(roundTo(col("l_extendedprice"), 2).cast("decimal(18,2)"))
          .as("rev"))
        .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum(col("rev")).cast("decimal(18,2)").as("rev"))
        .transform(graft.Caches.tracked)
      val run = graft.operators.Ranks.withRunningSum(rev, "rev",
        Seq(col("rev").asc, col("o_custkey").asc), bucketOn = "rev",
        ascending = true, cumCol = "cum", totalCol = "tot")
      run.agg(
        count(lit(1)).as("__n"),
        sum(col("cum").cast("decimal(28,2)")).as("__sc"),
        max(col("tot")).as("__tot"))
        .select(col("__n").as("n_customers"),
          col("__tot").cast("double").as("total_revenue"),
          roundTo(
            lit(2.0) * ((col("__n") + 1) * col("__tot").cast("double") -
              col("__sc").cast("double")) /
              (col("__n") * col("__tot").cast("double")) -
              (col("__n") + 1).cast("double") / col("__n"), 6).as("gini"))
    }),

    // per-event-type freshness check (the pipeline-health DQ row):
    // latest arrival vs the global high-water mark, staleness in
    // whole days, flag past 7. One keyed rollup + a 1-row broadcast.
    "dq_freshness" -> ((s, d) => {
      val perType = Tables.events(s, d)
        .groupBy("event_type")
        .agg(max(unix_millis(col("ts"))).as("last_ms"),
          count(lit(1)).as("n_events"))
      val hwm = perType.agg(max(col("last_ms")).as("__hwm"))
      perType.crossJoin(broadcast(hwm))
        .select(col("event_type"), col("n_events"), col("last_ms"),
          floor((col("__hwm") - col("last_ms")) / 86400000L).cast("long")
            .as("days_stale"))
        .withColumn("is_stale", col("days_stale") > 7)
        .orderBy("event_type")
    }),

    // ---- round-9: the table-format write/DML/read path, graded ----
    // These run the ROUND TRIP inside the query — build a real
    // transaction log from the input parquet, mutate it with the
    // committing DML, read back through the pruning reader — and the
    // DuckDB oracle computes the equivalent relational result straight
    // from the parquet, so the whole interop path hash-gates.

    // partitioned Delta write → copy-on-write DELETE → partition-
    // pruned read (DeltaLog.write/delete/readWhere end-to-end)
    "interop_delta_cow_delete" -> ((s, d) => {
      val t = java.nio.file.Files.createTempDirectory("graft-q-cow")
        .toString + "/t"
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.DeltaLog.write(s, o, t,
        partitionBy = Seq("o_orderstatus"))
      graft.sources.DeltaLog.delete(s, t, col("o_totalprice") >= 150000.0)
      graft.sources.DeltaLog.readWhere(s, t, col("o_orderstatus") =!= "P")
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n_orders"),
          sumD(col("o_totalprice")).as("total"))
        .orderBy("status")
    }),

    // Delta write → copy-on-write UPDATE → current + VERSION AS OF
    // legs unioned (row-level DML and time travel, one hash gate)
    "interop_delta_update_timetravel" -> ((s, d) => {
      val t = java.nio.file.Files.createTempDirectory("graft-q-upd")
        .toString + "/t"
      val c = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      graft.sources.DeltaLog.write(s, c, t)
      graft.sources.DeltaLog.update(s, t, col("c_acctbal") < 0,
        Map("c_mktsegment" -> lit("DELINQUENT")))
      def agg(df: DataFrame, v: Long) = df
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_cust"))
        .withColumn("version", lit(v))
      agg(graft.sources.DeltaLog.read(s, t), 1L)
        .unionByName(agg(graft.sources.DeltaLog.read(s, t,
          versionAsOf = Some(0L)), 0L))
        .orderBy("version", "segment")
    }),

    // partitioned Delta write → MERGE INTO (keyed upsert: matched
    // rows move partitions, unmatched insert) → read + aggregate
    // (DeltaLog.write/merge/read end-to-end, one hash gate)
    "interop_delta_merge" -> ((s, d) => {
      val t = java.nio.file.Files.createTempDirectory("graft-q-mrg")
        .toString + "/t"
      val c = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      graft.sources.DeltaLog.write(s, c, t,
        partitionBy = Seq("c_mktsegment"))
      val src = c.filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), lit("VIP").as("c_mktsegment"),
          lit(0.0).as("c_acctbal"))
        .unionByName(c.filter(col("c_custkey") % 7 === 0)
          .select((col("c_custkey") + 1000000L).as("c_custkey"),
            lit("NEW").as("c_mktsegment"), lit(100.0).as("c_acctbal")))
      graft.sources.DeltaLog.merge(s, t, src, keyCols = Seq("c_custkey"))
      graft.sources.DeltaLog.read(s, t)
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_cust"), sumD(col("c_acctbal")).as("total"))
        .orderBy("segment")
    }),

    // ---- round-10: SQL DML surface, partitioned Iceberg, DV deletes ----

    // the SQL-only user's whole lifecycle on one catalog table:
    // UPDATE + MERGE INTO (resolution-rule routing to the
    // copy-on-write library) + OPTIMIZE (extension parser), read
    // back through the DSv2 catalog scan — one hash gate
    "interop_sql_dml" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft-q-sqldml")
        .toString
      s.conf.set("spark.sql.catalog.gq_sqldml", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gq_sqldml.root", root)
      val c = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      graft.sources.DeltaLog.write(s, c, s"$root/ns/t")
      s.sql("UPDATE gq_sqldml.ns.t SET c_acctbal = 0.0 WHERE c_acctbal < 0")
      c.filter(col("c_custkey") % 13 === 0)
        .select((col("c_custkey") + 2000000L).as("c_custkey"),
          lit("MERGED").as("c_mktsegment"), lit(50.0).as("c_acctbal"))
        .createOrReplaceTempView("gq_sqldml_src")
      s.sql("""MERGE INTO gq_sqldml.ns.t AS t USING gq_sqldml_src AS s2
              |ON t.c_custkey = s2.c_custkey
              |WHEN MATCHED THEN UPDATE SET *
              |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      s.sql("OPTIMIZE gq_sqldml.ns.t") // dataChange=false: rows identical
      s.table("gq_sqldml.ns.t")
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_cust"), sumD(col("c_acctbal")).as("total"))
        .orderBy("segment")
    }),

    // FLEXIBLE SQL MERGE: conditional partial-column UPDATE (value
    // references both sides) + conditional INSERT in one commit, then
    // a conditional WHEN MATCHED DELETE — each a single committed
    // version through the generalized COW merge
    "interop_sql_merge_flex" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft-q-mflex")
        .toString
      s.conf.set("spark.sql.catalog.gq_mflex", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gq_mflex.root", root)
      val sup = Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
      graft.sources.DeltaLog.write(s, sup, s"$root/ns/t")
      sup.filter(col("s_suppkey") % 5 === 0)
        .select(col("s_suppkey"), col("s_nationkey"),
          (col("s_acctbal") * 2).as("s_acctbal"))
        .unionByName(sup.filter(col("s_suppkey") % 11 === 0)
          .select((col("s_suppkey") + 900000L).as("s_suppkey"),
            col("s_nationkey"), col("s_acctbal")))
        .createOrReplaceTempView("gq_mflex_src")
      s.sql("""MERGE INTO gq_mflex.ns.t AS t USING gq_mflex_src AS s2
              |ON t.s_suppkey = s2.s_suppkey
              |WHEN MATCHED AND s2.s_acctbal > 0
              |  THEN UPDATE SET s_acctbal = s2.s_acctbal + t.s_acctbal
              |WHEN NOT MATCHED AND s2.s_nationkey < 20
              |  THEN INSERT *""".stripMargin)
      sup.createOrReplaceTempView("gq_mflex_all")
      s.sql("""MERGE INTO gq_mflex.ns.t AS t USING gq_mflex_all AS s2
              |ON t.s_suppkey = s2.s_suppkey
              |WHEN MATCHED AND t.s_acctbal < 0 THEN DELETE""".stripMargin)
      s.table("gq_mflex.ns.t")
        .groupBy(col("s_nationkey").as("nation"))
        .agg(count(lit(1)).as("n_sup"), sumD(col("s_acctbal")).as("bal"))
        .orderBy("nation")
    }),

    // identity-PARTITIONED Iceberg write → partition-filtered DSv2
    // read (manifest-side pruning plans only the matching partition's
    // files; the columns stay in the data files per the Iceberg
    // layout)
    "interop_iceberg_partitioned" -> ((s, d) => {
      val t = java.nio.file.Files.createTempDirectory("graft-q-icep")
        .toString + "/t"
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.IcebergTable.write(s, o, t,
        partitionBy = Seq("o_orderstatus"))
      s.read.format("graft-iceberg").load(t)
        .where(col("o_orderstatus") === "F")
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n_orders"),
          sumD(col("o_totalprice")).as("total"))
        .orderBy("status")
    }),

    // merge-on-read DELETE: the cardinality-gated DV arm commits a
    // sidecar (no file rewritten), and the DV-aware DSv2 scan serves
    // the live rows — write → DV delete → scan, one hash gate
    "interop_delta_dv_delete" -> ((s, d) => {
      val t = java.nio.file.Files.createTempDirectory("graft-q-dv")
        .toString + "/t"
      val p = Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
      graft.sources.DeltaLog.write(s, p, t)
      s.conf.set("spark.graft.dv.enabled", "true")
      try graft.sources.DeltaLog.delete(s, t, col("p_partkey") % 10 === 0)
      finally s.conf.unset("spark.graft.dv.enabled")
      s.read.format("graft-delta").load(t)
        .groupBy(col("p_brand").as("brand"))
        .agg(count(lit(1)).as("n_parts"),
          sumD(col("p_retailprice")).as("retail"))
        .orderBy("brand")
    }),

    // merge-on-read DELETE on Iceberg: a position-delete file commits
    // (no data rewritten) and the DSv2 scan applies it with sequence
    // scoping — write → MOR delete → scan, one hash gate
    "interop_iceberg_delete" -> ((s, d) => {
      val t = java.nio.file.Files.createTempDirectory("graft-q-idel")
        .toString + "/t"
      val sup = Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
      graft.sources.IcebergTable.write(s, sup, t)
      graft.sources.IcebergTable.delete(s, t, col("s_acctbal") < 0)
      s.read.format("graft-iceberg").load(t)
        .groupBy(col("s_nationkey").as("nation"))
        .agg(count(lit(1)).as("n_sup"), sumD(col("s_acctbal")).as("bal"))
        .orderBy("nation")
    }),

    // Iceberg create + append snapshots → snapshot-resolved read
    // (IcebergTable.write/read end-to-end; two manifests live)
    "interop_iceberg_roundtrip" -> ((s, d) => {
      val t = java.nio.file.Files.createTempDirectory("graft-q-ice")
        .toString + "/t"
      val sup = Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
      graft.sources.IcebergTable.write(s,
        sup.filter(col("s_suppkey") % 2 === 0), t)
      graft.sources.IcebergTable.write(s,
        sup.filter(col("s_suppkey") % 2 =!= 0), t)
      graft.sources.IcebergTable.read(s, t)
        .groupBy(col("s_nationkey").as("nation"))
        .agg(count(lit(1)).as("n_sup"), sumD(col("s_acctbal")).as("bal"))
        .orderBy("nation")
    }),

    // PARTITIONED Iceberg MOR DML: hidden-partitioned write → row-level
    // DELETE (global delete manifest) → UPDATE (partition-staged
    // post-images) → a transform-pruned read of the merged state
    "interop_iceberg_pmor" -> ((s, d) => {
      val t = java.nio.file.Files.createTempDirectory("graft-q-pmor")
        .toString + "/t"
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderstatus"),
          col("o_totalprice"))
      graft.sources.IcebergTable.write(s, o.repartition(4), t,
        partitionBy = Seq("years(o_orderdate)"))
      graft.sources.IcebergTable.delete(s, t,
        col("o_orderstatus") === "F" && col("o_totalprice") < 50000)
      graft.sources.IcebergTable.update(s, t,
        col("o_orderstatus") === "P" && col("o_orderkey") % 4 === 0,
        Map("o_totalprice" -> (col("o_totalprice") * 2)))
      s.read.format("graft-iceberg").load(t)
        .where(col("o_orderdate") >= lit(java.sql.Date.valueOf("1996-01-01")))
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n_orders"), sumD(col("o_totalprice")).as("total"))
        .orderBy("status")
    }),

    // PARTITIONED Iceberg compaction: hidden-partitioned writes + MOR
    // DELETE/UPDATE leave a per-partition delete pile; OPTIMIZE
    // (rewriteDataFiles) bin-packs PER PARTITION TUPLE and folds the
    // deletes away — the read below scans the compacted, anti-join-free
    // layout and must still match the oracle exactly
    "interop_iceberg_pcompact" -> ((s, d) => {
      val t = java.nio.file.Files.createTempDirectory("graft-q-pcomp")
        .toString + "/t"
      val c = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
          col("c_mktsegment"))
      graft.sources.IcebergTable.write(s, c.repartition(4), t,
        partitionBy = Seq("bucket(4, c_custkey)"))
      graft.sources.IcebergTable.delete(s, t, col("c_acctbal") < 0)
      graft.sources.IcebergTable.update(s, t,
        col("c_mktsegment") === "BUILDING",
        Map("c_acctbal" -> (col("c_acctbal") + 100)))
      graft.sources.IcebergTable.rewriteDataFiles(s, t)
      val snap = graft.sources.IcebergTable.snapshot(s, t)
      require(snap.deletes.isEmpty, "compaction must fold the delete pile")
      require(snap.files.forall(_.specId == snap.defaultSpecId),
        "compaction must land every file on the default spec")
      s.read.format("graft-iceberg").load(t)
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_cust"), sumD(col("c_acctbal")).as("bal"))
        .orderBy("segment")
    }),

    // DELETE-FILE COMPACTION without a data rewrite (Iceberg's
    // rewrite_position_delete_files): three MOR DELETE commits leave a
    // position-delete pile over the data; the rewrite folds the pile
    // into ONE sorted, bounds-bearing delete file — data files
    // UNTOUCHED (paths + sequence numbers identical, no 100 TB
    // rewrite) — and the post-maintenance read must still match the
    // oracle exactly
    "interop_iceberg_dcompact" -> ((s, d) => {
      val t = java.nio.file.Files.createTempDirectory("graft-q-dcomp")
        .toString + "/t"
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          col("o_orderpriority"))
      graft.sources.IcebergTable.write(s, o.repartition(4), t)
      graft.sources.IcebergTable.delete(s, t, col("o_orderkey") % 7 === 0)
      graft.sources.IcebergTable.delete(s, t, col("o_totalprice") < 10000)
      graft.sources.IcebergTable.delete(s, t,
        col("o_orderpriority") === "1-URGENT" && col("o_orderkey") % 2 === 0)
      val before = graft.sources.IcebergTable.snapshot(s, t)
      require(before.deletes.count(_.content == 1) == 3,
        "three MOR deletes must leave a three-file pile")
      graft.sources.IcebergTable.rewritePositionDeleteFiles(s, t)
      val after = graft.sources.IcebergTable.snapshot(s, t)
      require(after.deletes.count(_.content == 1) == 1,
        "the delete pile must fold to one file")
      require(after.files.map(f => (f.path, f.seq)).toSet ==
        before.files.map(f => (f.path, f.seq)).toSet,
        "data files must be untouched by delete compaction")
      s.read.format("graft-iceberg").load(t)
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n_orders"),
          sumD(col("o_totalprice")).as("total"))
        .orderBy("status")
    }),

    // Iceberg PARTITION-SPEC EVOLUTION: an unpartitioned era, an
    // `ALTER TABLE ADD PARTITION FIELD bucket(4, …)`, and a second era
    // staged under the new layout — the read spans both eras (spec-id-
    // scoped pruning) and must see every row exactly once
    "interop_iceberg_pevolve" -> ((s, d) => {
      val t = java.nio.file.Files.createTempDirectory("graft-q-pevolve")
        .toString + "/t"
      val sup = Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
      graft.sources.IcebergTable.write(s,
        sup.where(col("s_suppkey") % 2 === 0), t)
      s.sql("ALTER TABLE '" + t +
        "' ADD PARTITION FIELD bucket(4, s_suppkey)").collect()
      graft.sources.IcebergTable.write(s,
        sup.where(col("s_suppkey") % 2 === 1), t,
        partitionBy = graft.sources.IcebergTable.defaultSpecNames(s, t))
      s.read.format("graft-iceberg").load(t)
        .where(col("s_nationkey") < 13)
        .groupBy(col("s_nationkey").as("nation"))
        .agg(count(lit(1)).as("n_sup"), sumD(col("s_acctbal")).as("bal"))
        .orderBy("nation")
    }),

    // MULTI-CLAUSE SQL MERGE (ordered, first-match-wins): fresh
    // matches update, stale matches fall through to DELETE, new keys
    // insert conditionally — the standard SCD update-then-delete shape
    "interop_sql_merge_multi" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft-q-mmrg")
        .toString
      s.conf.set("spark.sql.catalog.gq_mmrg", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gq_mmrg.root", root)
      val p = Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
      graft.sources.DeltaLog.write(s, p, s"$root/ns/t")
      p.where(col("p_partkey") % 3 === 0)
        .unionByName(p.where(col("p_partkey") % 3 === 0)
          .select((col("p_partkey") + 9000000L).as("p_partkey"),
            col("p_brand"), col("p_retailprice")))
        .createOrReplaceTempView("gq_mmrg_src")
      s.sql("""MERGE INTO gq_mmrg.ns.t AS t USING gq_mmrg_src AS s2
              |ON t.p_partkey = s2.p_partkey
              |WHEN MATCHED AND s2.p_retailprice > 1500
              |  THEN UPDATE SET p_retailprice = s2.p_retailprice + t.p_retailprice
              |WHEN MATCHED THEN DELETE
              |WHEN NOT MATCHED AND s2.p_retailprice < 1200
              |  THEN INSERT *""".stripMargin).collect()
      s.table("gq_mmrg.ns.t")
        .groupBy(col("p_brand").as("brand"))
        .agg(count(lit(1)).as("n_part"), sumD(col("p_retailprice")).as("price"))
        .orderBy("brand")
    }),

    // COLUMN-MAPPED Delta through the DSv2 scan: name-mode upgrade +
    // RENAME COLUMN + a post-rename append (old and new files share
    // the physical layout), read back by LOGICAL name with a pushed
    // filter through format("graft-delta")
    "interop_delta_cmscan" -> ((s, d) => {
      val t = java.nio.file.Files.createTempDirectory("graft-q-cmscan")
        .toString + "/t"
      val c = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      graft.sources.DeltaLog.write(s, c.where(col("c_custkey") % 2 === 0), t)
      graft.sources.DeltaLog.setTableProperties(s, t,
        Map("delta.columnMapping.mode" -> "name"))
      s.sql("ALTER TABLE '" + t + "' RENAME COLUMN c_acctbal TO bal")
        .collect()
      graft.sources.DeltaLog.write(s,
        c.where(col("c_custkey") % 2 === 1)
          .withColumnRenamed("c_acctbal", "bal"), t)
      s.read.format("graft-delta").load(t)
        .where(col("c_nationkey") < 10)
        .groupBy(col("c_nationkey").as("nation"))
        .agg(count(lit(1)).as("n_cust"), sumD(col("bal")).as("bal"))
        .orderBy("nation")
    }),

    // Iceberg HIDDEN PARTITIONING: years(date) + bucket(key) write →
    // manifests carry transformed tuples → a SOURCE-column time-range
    // read prunes on the transforms and aggregates the survivors
    "interop_iceberg_hidden" -> ((s, d) => {
      val t = java.nio.file.Files.createTempDirectory("graft-q-iceh")
        .toString + "/t"
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      graft.sources.IcebergTable.write(s, o, t,
        partitionBy = Seq("years(o_orderdate)", "bucket(4, o_orderkey)"))
      s.read.format("graft-iceberg").load(t)
        .where(col("o_orderdate") >= lit(java.sql.Date.valueOf("1995-01-01")))
        .groupBy(year(col("o_orderdate")).as("yr"))
        .agg(count(lit(1)).as("n_orders"), sumD(col("o_totalprice")).as("total"))
        .orderBy("yr")
    }),

    // DSv2 DYNAMIC PARTITION PRUNING end-to-end: a returnflag-
    // partitioned graft-delta fact star-joins a parquet dim carrying
    // a selective non-key filter — Spark attaches a join-time IN to
    // the scan (SupportsRuntimeV2Filtering) and only the dim-selected
    // partitions' files are planned; values must match the plain join
    "interop_delta_dpp" -> ((s, d) => {
      val base = java.nio.file.Files.createTempDirectory("graft-q-dpp")
        .toString
      val t = base + "/fact"
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
      graft.sources.DeltaLog.write(s, li, t,
        partitionBy = Seq("l_returnflag"))
      val dimPath = base + "/dim"
      Tables.lineitem(s, d).groupBy(col("l_returnflag").as("flag"))
        .agg(min(col("l_linestatus")).as("tag"))
        .write.mode("overwrite").parquet(dimPath)
      val fact = s.read.format("graft-delta").load(t)
      val dim = Tables.parquet(s, dimPath).where(col("tag") === "F")
      fact.join(dim, fact("l_returnflag") === dim("flag"))
        .groupBy(col("flag"))
        .agg(count(lit(1)).as("n"), sumD(col("l_quantity")).as("qty"))
        .orderBy("flag")
    }),

    // Iceberg SORT ORDERS end-to-end: WRITE ORDERED BY, then a
    // shuffled multi-partition append — staged files carry tight
    // non-overlapping sort-key bounds, and the range read prunes on
    // them; values must match the plain filter+aggregate
    "interop_iceberg_sorted" -> ((s, d) => {
      val t = java.nio.file.Files.createTempDirectory("graft-q-icesort")
        .toString + "/t"
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      graft.sources.IcebergTable.write(s,
        o.where(col("o_orderkey") % 2 === 0), t)
      s.sql("ALTER TABLE '" + t + "' WRITE ORDERED BY (o_custkey)").collect()
      graft.sources.IcebergTable.write(s,
        o.where(col("o_orderkey") % 2 === 1).repartition(4), t)
      s.read.format("graft-iceberg").load(t)
        .where(col("o_custkey") < 500L)
        .groupBy(col("o_custkey").as("cust"))
        .agg(count(lit(1)).as("n_orders"), sumD(col("o_totalprice")).as("total"))
        .orderBy("cust")
    }),

    // STORAGE-PARTITIONED JOIN serving: both sides identity-
    // partitioned on the join key, keyed whole-partition planning on
    // (HasPartitionKey groups, empty groups included) — values must
    // match the plain join regardless of the shuffle-free plan
    "interop_iceberg_spj" -> ((s, d) => {
      val base = java.nio.file.Files.createTempDirectory("graft-q-spj")
        .toString
      val t1 = base + "/cust"
      val t2 = base + "/supp"
      graft.sources.IcebergTable.write(s,
        Tables.customer(s, d).select(col("c_nationkey").as("nation"),
          col("c_acctbal")), t1, partitionBy = Seq("nation"))
      graft.sources.IcebergTable.write(s,
        Tables.supplier(s, d).groupBy(col("s_nationkey").as("nation"))
          .agg(sumD(col("s_acctbal")).as("s_bal")), t2,
        partitionBy = Seq("nation"))
      val keys = Seq(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
        "spark.sql.graft.preserveDataGrouping" -> "true")
      val saved = keys.map { case (k, _) => k -> s.conf.getOption(k) }
      keys.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        val j = s.read.format("graft-iceberg").load(t1)
          .join(s.read.format("graft-iceberg").load(t2), "nation")
          .groupBy("nation")
          .agg(count(lit(1)).as("n_cust"), sumD(col("c_acctbal")).as("c_bal"),
            roundTo(max(col("s_bal")), 2).as("s_bal"))
          .orderBy("nation")
        // materialize INSIDE the conf scope (the plan must resolve
        // while keyed planning is on)
        val rows = j.collect()
        s.createDataFrame(s.sparkContext.parallelize(rows.toIndexedSeq),
          j.schema)
      } finally saved.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }),

    // Delta IDENTITY columns: a sorted single-partition insert makes
    // the distributed allocation order deterministic (ids follow the
    // iterator order of the one partition), so the values themselves
    // grade against ROW_NUMBER arithmetic
    "interop_delta_identity" -> ((s, d) => {
      val t = java.nio.file.Files.createTempDirectory("graft-q-ident")
        .toString + "/t"
      s.sql("CREATE TABLE '" + t + "' (id BIGINT GENERATED ALWAYS AS " +
        "IDENTITY (START WITH 100 INCREMENT BY 10), c_custkey BIGINT, " +
        "c_acctbal DOUBLE) USING delta").collect()
      val c = Tables.customer(s, d)
        .select(col("c_custkey").cast("long"),
          col("c_acctbal").cast("double"))
        .where(col("c_custkey") <= 200).orderBy("c_custkey").coalesce(1)
      graft.sources.DeltaLog.write(s, c, t)
      graft.sources.DeltaLog.read(s, t)
        .select(col("id"), col("c_custkey"), roundTo(col("c_acctbal"), 2)
          .as("bal"))
        .orderBy("c_custkey")
    }),

    // Delta MINOR LOG COMPACTION: replay THROUGH the compacted file —
    // the raw commits it covers are moved aside, so the aggregate can
    // only be right if the reconciled actions are
    "interop_delta_logcompact" -> ((s, d) => {
      val t = java.nio.file.Files.createTempDirectory("graft-q-lcmp")
        .toString + "/t"
      val n = Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_regionkey"))
      (0 until 4).foreach(i => graft.sources.DeltaLog.write(s,
        n.where(col("n_nationkey") % 4 === i), t))
      graft.sources.DeltaLog.compactLog(s, t, 1L, 3L)
      val fs = new org.apache.hadoop.fs.Path(t)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      (1L to 3L).foreach { v =>
        val p = new org.apache.hadoop.fs.Path(t,
          f"_delta_log/$v%020d.json")
        fs.rename(p, new org.apache.hadoop.fs.Path(p.toString + ".bak"))
      }
      graft.sources.DeltaLog.read(s, t)
        .groupBy(col("n_regionkey").as("region"))
        .agg(count(lit(1)).as("n_nations"))
        .orderBy("region")
    }),

    // Iceberg v3 DELETION VECTORS: upgrade to format-version 3, then
    // DELETE + UPDATE write Puffin deletion-vector-v1 blobs (one per
    // affected data file, folded total) instead of position-delete
    // parquet; the DSv2 scan serves the merged state via ranged blob
    // reads on the executors
    "interop_iceberg_dv" -> ((s, d) => {
      val t = java.nio.file.Files.createTempDirectory("graft-q-icedv")
        .toString + "/t"
      val c = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      graft.sources.IcebergTable.write(s, c, t)
      graft.sources.IcebergTable.upgradeFormatVersion(s, t, 3)
      graft.sources.IcebergTable.delete(s, t, col("c_nationkey") === 3)
      graft.sources.IcebergTable.update(s, t, col("c_nationkey") === 5,
        Map("c_acctbal" -> lit(0.0)))
      s.read.format("graft-iceberg").load(t)
        .groupBy(col("c_nationkey").as("nation"))
        .agg(count(lit(1)).as("n"), sumD(col("c_acctbal")).as("bal"))
        .orderBy("nation")
    }),

    // ROW-LEVEL Iceberg change feed: a v3 DELETION-VECTOR DELETE and
    // a MOR UPDATE between two polled snapshots replay as per-row
    // `delete` / `insert` changes (the Delta DV-CDC parity leg) —
    // data columns + _change_type only, snapshot ids stay internal
    // DSv2 BATCH CDC over ROW-LEVEL commits: the readChangeFeed range
    // scan serves a v3 DV DELETE + MOR UPDATE as row-level legs —
    // IcebergRowDiffPartitions whose executors decode the per-file
    // dead-position pair diff (the stream's planner, graded through
    // the batch surface it shares)
    "interop_iceberg_cdcscan" -> ((s, d) => {
      val t = java.nio.file.Files.createTempDirectory("graft-q-icecds")
        .toString + "/t"
      val c = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      graft.sources.IcebergTable.write(s, c, t)
      graft.sources.IcebergTable.upgradeFormatVersion(s, t, 3)
      val from = graft.sources.IcebergTable.snapshot(s, t).snapshotId
      graft.sources.IcebergTable.delete(s, t, col("c_nationkey") === 7)
      graft.sources.IcebergTable.update(s, t, col("c_nationkey") === 11,
        Map("c_acctbal" -> lit(0.0)))
      s.read.format("graft-iceberg")
        .option("readChangeFeed", "true")
        .option("startingSnapshotId", from.toString)
        .load(t)
        .groupBy(col("_change_type").as("change"),
          col("c_nationkey").as("nation"))
        .agg(count(lit(1)).as("n"), sumD(col("c_acctbal")).as("bal"))
        .orderBy("change", "nation")
    }),

    // ERA-RESOLVED change feed: the polled range's SURVIVOR file was
    // written before a column RENAME — its newly-dead rows must emit
    // under the CURRENT name with real values (the resolving-reader
    // feed; a name-based read would serve NULLs), alongside the
    // post-rename insert leg
    "interop_iceberg_cdcrename" -> ((s, d) => {
      val t = java.nio.file.Files.createTempDirectory("graft-q-icecdr")
        .toString + "/t"
      val n = Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      graft.sources.IcebergTable.write(s, n, t)
      val from = graft.sources.IcebergTable.snapshot(s, t).snapshotId
      graft.sources.IcebergTable.renameColumn(s, t, "n_name", "nation_name")
      graft.sources.IcebergTable.write(s,
        n.select((col("n_nationkey") + 100).as("n_nationkey"),
          col("n_name").as("nation_name"), col("n_regionkey")), t)
      graft.sources.IcebergTable.delete(s, t, col("n_nationkey") % 7 === 0)
      val end = graft.sources.IcebergTable.snapshot(s, t).snapshotId
      graft.sources.IcebergTable.changes(s, t, from, end)
        .groupBy(col("_change_type").as("change"),
          col("n_regionkey").as("rk"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_nationkey")).as("keysum"),
          min(col("nation_name")).as("nm"))
        .orderBy("change", "rk")
    }),

    // EQUALITY-DELETE change feed (the Flink-CDC upsert shape): two
    // equality upserts replay row-level through the DSv2
    // readChangeFeed scan — each matched pre-image row deletes
    // exactly once under strict sequence scoping (the SECOND upsert
    // deletes the first upsert's image, never the long-dead
    // original), upsert data files insert whole
    "interop_iceberg_cdceq" -> ((s, d) => {
      val t = java.nio.file.Files.createTempDirectory("graft-q-icecdq")
        .toString + "/t"
      val c = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      graft.sources.IcebergTable.write(s, c, t)
      val from = graft.sources.IcebergTable.snapshot(s, t).snapshotId
      // upsert #1: zero the balances of nation 3, insert fresh keys
      graft.sources.IcebergTable.upsertEquality(s, t,
        c.where(col("c_nationkey") === 3)
          .select(col("c_custkey"), col("c_nationkey"),
            lit(0.0).as("c_acctbal"))
          .unionByName(c.where(col("c_nationkey") === 9)
            .select((col("c_custkey") + 1000000).as("c_custkey"),
              col("c_nationkey"), col("c_acctbal"))),
        Seq("c_custkey"))
      // upsert #2 on the SAME keys: only the current image deletes
      graft.sources.IcebergTable.upsertEquality(s, t,
        c.where(col("c_nationkey") === 3)
          .select(col("c_custkey"), col("c_nationkey"),
            lit(1.0).as("c_acctbal")),
        Seq("c_custkey"))
      s.read.format("graft-iceberg")
        .option("readChangeFeed", "true")
        .option("startingSnapshotId", from.toString)
        .load(t)
        .groupBy(col("_change_type").as("change"),
          col("c_nationkey").as("nation"))
        .agg(count(lit(1)).as("n"), sumD(col("c_acctbal")).as("bal"))
        .orderBy("change", "nation")
    }),

    // SORT-ORDER-PRESERVING compaction (real Iceberg's rewrite `sort`
    // strategy): a WRITE ORDERED BY table with a small-file pile and
    // a MOR delete scar compacts through range distribution + local
    // sort — rows identical, clustering kept (bounds asserted
    // in-spec; the oracle checks the surviving rows)
    "interop_iceberg_sortcompact" -> ((s, d) => {
      val t = java.nio.file.Files.createTempDirectory("graft-q-icesc")
        .toString + "/t"
      val sup = Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_acctbal"))
      graft.sources.IcebergTable.write(s, sup, t)
      graft.sources.IcebergTable.setWriteOrder(s, t, Seq(("s_suppkey", true)))
      graft.sources.IcebergTable.write(s,
        sup.select((col("s_suppkey") + 100000).as("s_suppkey"),
          col("s_acctbal")).repartition(3), t)
      graft.sources.IcebergTable.delete(s, t, col("s_suppkey") % 10 === 0)
      graft.sources.IcebergTable.rewriteDataFiles(s, t,
        targetFileBytes = 32L << 10)
      graft.sources.IcebergTable.read(s, t)
        .select(col("s_suppkey").as("k"), col("s_acctbal").as("bal"))
        .orderBy("k")
    }),

    // NESTED column default (v3 §Default values one level down —
    // `ADD COLUMN parent.child … DEFAULT`): pre-evolution files serve
    // the default INSIDE the struct, a post-evolution append carries
    // real values
    "interop_iceberg_nesteddef" -> ((s, d) => {
      val t = java.nio.file.Files.createTempDirectory("graft-q-icend")
        .toString + "/t"
      graft.sources.IcebergTable.write(s,
        Tables.nation(s, d).select(col("n_nationkey"),
          struct(col("n_name").as("nm")).as("info")), t)
      graft.sources.IcebergTable.upgradeFormatVersion(s, t, 3)
      graft.sources.IcebergTable.addColumns(s, t,
        Seq(org.apache.spark.sql.types.StructField("info.flag",
          org.apache.spark.sql.types.LongType, nullable = true)),
        defaults = Map("info.flag" -> "5"))
      graft.sources.IcebergTable.write(s,
        Tables.nation(s, d).select(
          (col("n_nationkey") + 100).as("n_nationkey"),
          struct(col("n_name").as("nm"),
            col("n_regionkey").cast("long").as("flag")).as("info")), t)
      graft.sources.IcebergTable.read(s, t)
        .select(col("n_nationkey").as("k"), col("info.nm").as("nm"),
          col("info.flag").as("flag"))
        .orderBy("k")
    }),

    // v3 VARIANT (spec §Semi-structured types): a variant column
    // round-trips through the native write/read path; typed path
    // extraction with variant_get
    "interop_iceberg_variant" -> ((s, d) => {
      val t = java.nio.file.Files.createTempDirectory("graft-q-icevar")
        .toString + "/t"
      graft.sources.IcebergTable.write(s,
        Tables.nation(s, d).select(col("n_nationkey"),
          parse_json(to_json(struct(col("n_name").as("nm"),
            col("n_regionkey").as("rk")))).as("props")), t)
      graft.sources.IcebergTable.delete(s, t, col("n_nationkey") % 5 === 0)
      graft.sources.IcebergTable.read(s, t)
        .select(col("n_nationkey").as("k"),
          expr("variant_get(props, '$.nm', 'string')").as("nm"),
          expr("variant_get(props, '$.rk', 'bigint')").as("rk"))
        .orderBy("k")
    }),

    // Delta EXPIRED-LOG CLEANUP end-to-end (delta.logRetentionDuration
    // + the auto-run): many commits checkpoint, the log reaps below
    // the newest checkpoint, and the post-cleanup replay serves
    // IDENTICAL rows — the oracle replays what the table must still say
    "interop_delta_logclean" -> ((s, d) => {
      val t = java.nio.file.Files.createTempDirectory("graft-q-dlc")
        .toString + "/t"
      val n = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
      (0 until 4).foreach { i =>
        graft.sources.DeltaLog.write(s,
          n.select((col("n_nationkey") + lit(i * 100)).as("n_nationkey"),
            col("n_name")), t, checkpointInterval = 2)
      }
      // force-reap everything below the newest checkpoint NOW
      graft.sources.DeltaLog.cleanupLog(s, t,
        olderThanMs = Some(System.currentTimeMillis() + 60000))
      graft.sources.DeltaLog.read(s, t)
        .select(col("n_nationkey").as("k"), col("n_name").as("nm"))
        .orderBy("k")
    }),

    // HIVE-LAYOUT adoption (the `migrate`/`add_files` shape real
    // warehouses hit): k=v directory components become IDENTITY
    // partition columns whose values live in the PATHS — the
    // resolving reader serves them typed via a basePath scan, the
    // adopted tuples drive identity pruning, and MOR DELETE composes
    // over path-served rows
    "interop_iceberg_hiveconvert" -> ((s, d) => {
      val t = java.nio.file.Files.createTempDirectory("graft-q-hconv")
        .toString + "/t"
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_acctbal"),
          (col("c_nationkey") % 4).as("grp"))
        .write.partitionBy("grp").parquet(t)
      graft.sources.IcebergTable.convertFrom(s, t)
      graft.sources.IcebergTable.delete(s, t, col("c_custkey") % 5 === 0)
      graft.sources.IcebergTable.read(s, t)
        .where(col("grp") =!= 1L)
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n"), sumD(col("c_acctbal")).as("bal"))
        .orderBy("grp")
    }),

    // CONVERT TO ICEBERG end-to-end (in-place adoption / `migrate`):
    // a plain parquet dir becomes snapshot 1 with a name mapping, a
    // post-adoption RENAME serves pre-adoption files, and appends +
    // MOR DELETE compose — adoption produces a REAL table
    "interop_iceberg_convert" -> ((s, d) => {
      val t = java.nio.file.Files.createTempDirectory("graft-q-iconv")
        .toString + "/t"
      val n = Tables.nation(s, d).select(col("n_nationkey"),
        col("n_name"), col("n_regionkey"))
      n.coalesce(1).write.parquet(t)
      graft.sources.IcebergTable.convertFrom(s, t)
      graft.sources.IcebergTable.renameColumn(s, t, "n_name", "nm")
      graft.sources.IcebergTable.write(s,
        n.select((col("n_nationkey") + lit(100)).as("n_nationkey"),
          col("n_name").as("nm"), col("n_regionkey")), t)
      graft.sources.IcebergTable.delete(s, t, col("n_nationkey") % 5 === 0)
      graft.sources.IcebergTable.read(s, t)
        .select(col("n_nationkey").as("k"), col("nm"),
          col("n_regionkey").cast("bigint").as("rk"))
        .orderBy("k")
    }),

    // FOREIGN-WRITTEN Delta table end-to-end: the log bytes are
    // authored HERE as raw JSON actions (never DeltaLog's writer),
    // composing THREE reader features in one table the way ecosystem
    // writers ship them — columnMapping (name mode: the files carry
    // physical col-N names), deletionVectors (a real u-form roaring
    // DV file over partition 0), and typeWidening (int32 physical
    // key up-cast to the table's long) on a PARTITIONED layout
    // (physical partitionValues keys). Proves the reader interops
    // with the ecosystem, not just with its own writer.
    "interop_delta_foreign" -> ((s, d) => {
      import org.apache.spark.sql.types._
      val t = java.nio.file.Files.createTempDirectory("graft-q-dfor")
        .toString + "/t"
      val conf = s.sparkContext.hadoopConfiguration
      val c = Tables.customer(s, d)
        .select(col("c_custkey").cast("int").as("col-1"),
          (col("c_nationkey") % 5).as("col-2"),
          col("c_acctbal").as("col-3"))
      def writeFile(rel: String, df: DataFrame): Long = {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-q-dforp").toString
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = java.nio.file.Paths.get(t, rel)
        java.nio.file.Files.createDirectories(dst.getParent)
        java.nio.file.Files.copy(part.toPath, dst)
        dst.toFile.length()
      }
      val adds = (0L until 5L).map { p =>
        val sz = writeFile(s"p$p.parquet", c.where(col("col-2") === p)
          .select(col("col-1"), col("col-3")))
        val dv =
          if (p != 0L) ""
          else { // kill key % 7 == 0 rows at their PHYSICAL positions
            val pos = Tables.parquet(s, s"$t/p$p.parquet")
              .select(col("`col-1`"),
                col("_metadata.row_index").as("ri"))
              .where(col("`col-1`") % 7 === 0)
              .select("ri").collect().map(_.getLong(0)).toSeq.sorted
            val desc = graft.sources.DeletionVectors
              .writeDvFile(conf, t, pos)
            s""","deletionVector":{"storageType":"${desc.storageType}","pathOrInlineDv":"${desc.pathOrInlineDv}","offset":${desc.offset.get},"sizeInBytes":${desc.sizeInBytes},"cardinality":${desc.cardinality}}"""
          }
        s"""{"add":{"path":"p$p.parquet","partitionValues":{"col-2":"$p"},"size":$sz,"modificationTime":1,"dataChange":true$dv}}"""
      }
      def mb(id: Long, phys: String, widened: Boolean) = {
        val b = new MetadataBuilder()
          .putLong("delta.columnMapping.id", id)
          .putString("delta.columnMapping.physicalName", phys)
        if (widened) b.putMetadataArray("delta.typeChanges",
          Array(new MetadataBuilder().putString("fromType", "integer")
            .putString("toType", "long").build()))
        b.build()
      }
      val logical = StructType(Seq(
        StructField("k", LongType, nullable = true,
          mb(1, "col-1", widened = true)),
        StructField("p", LongType, nullable = true,
          mb(2, "col-2", widened = false)),
        StructField("bal", DoubleType, nullable = true,
          mb(3, "col-3", widened = false))))
      val schemaStr = "\"" + logical.json.replace("\\", "\\\\")
        .replace("\"", "\\\"") + "\""
      val log = java.nio.file.Paths.get(t, "_delta_log")
      java.nio.file.Files.createDirectories(log)
      java.nio.file.Files.writeString(
        log.resolve("00000000000000000000.json"),
        (Seq(
          """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["columnMapping","deletionVectors","typeWidening"],"writerFeatures":["columnMapping","deletionVectors","typeWidening"]}}""",
          s"""{"metaData":{"id":"t-foreign","format":{"provider":"parquet","options":{}},"schemaString":$schemaStr,"partitionColumns":["p"],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"3","delta.enableTypeWidening":"true"},"createdTime":1}}"""
        ) ++ adds).mkString("\n") + "\n")
      graft.sources.DeltaLog.read(s, t)
        .groupBy(col("p"))
        .agg(count(lit(1)).as("n"), sumD(col("bal")).as("bal"),
          max(col("k")).as("mk"))
        .orderBy("p")
    }),

    // Delta VARIANT end-to-end (PROTOCOL.md §Variant Data Type,
    // reader+writer feature `variantType`): CREATE stamps the
    // feature, DML composes over the variant column, variant_get
    // extracts typed paths — the Delta twin of
    // `interop_iceberg_variant`
    "interop_delta_variant" -> ((s, d) => {
      val t = java.nio.file.Files.createTempDirectory("graft-q-dvar")
        .toString + "/t"
      graft.sources.DeltaLog.write(s,
        Tables.nation(s, d).select(col("n_nationkey"),
          parse_json(to_json(struct(col("n_name").as("nm"),
            col("n_regionkey").as("rk")))).as("props")), t)
      graft.sources.DeltaLog.delete(s, t, col("n_nationkey") % 5 === 0)
      graft.sources.DeltaLog.read(s, t)
        .select(col("n_nationkey").as("k"),
          expr("variant_get(props, '$.nm', 'string')").as("nm"),
          expr("variant_get(props, '$.rk', 'bigint')").as("rk"))
        .orderBy("k")
    }),

    // Delta TYPE WIDENING end-to-end (PROTOCOL.md §Type Widening,
    // reader+writer feature `typeWidening`): the pre-widening file
    // keeps its NARROW physical int32/float, the post-widening
    // append writes wide values an int can't hold, and ONE read
    // serves both (per-file up-cast at scan)
    "interop_delta_widen" -> ((s, d) => {
      val t = java.nio.file.Files.createTempDirectory("graft-q-dwid")
        .toString + "/t"
      val n = Tables.nation(s, d).select(
        col("n_nationkey").cast("int").as("k"),
        col("n_name").as("nm"),
        col("n_regionkey").cast("float").as("rk"))
      graft.sources.DeltaLog.write(s, n, t)
      graft.sources.DeltaLog.widenColumnType(s, t, "k",
        org.apache.spark.sql.types.LongType)
      graft.sources.DeltaLog.widenColumnType(s, t, "rk",
        org.apache.spark.sql.types.DoubleType)
      graft.sources.DeltaLog.write(s,
        n.select((col("k").cast("bigint") + lit(10000000000L)).as("k"),
          col("nm"), col("rk").cast("double").as("rk")), t)
      graft.sources.DeltaLog.read(s, t)
        .select(col("k"), col("nm"), col("rk"))
        .orderBy("k")
    }),

    // Iceberg POST-COMMIT METADATA CLEANUP end-to-end
    // (write.metadata.delete-after-commit.enabled): superseded
    // metadata files reap after every won CAS and the table still
    // serves identical rows
    "interop_iceberg_metaclean" -> ((s, d) => {
      val t = java.nio.file.Files.createTempDirectory("graft-q-imc")
        .toString + "/t"
      val n = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
      graft.sources.IcebergTable.write(s, n, t)
      graft.sources.IcebergTable.setProperties(s, t, Map(
        "write.metadata.delete-after-commit.enabled" -> "true",
        "write.metadata.previous-versions-max" -> "2"))
      (1 until 4).foreach { i =>
        graft.sources.IcebergTable.write(s,
          n.select((col("n_nationkey") + lit(i * 100)).as("n_nationkey"),
            col("n_name")), t)
      }
      graft.sources.IcebergTable.read(s, t)
        .select(col("n_nationkey").as("k"), col("n_name").as("nm"))
        .orderBy("k")
    }),

    "interop_iceberg_cdcrows" -> ((s, d) => {
      val t = java.nio.file.Files.createTempDirectory("graft-q-icecdc")
        .toString + "/t"
      val c = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      graft.sources.IcebergTable.write(s, c, t)
      graft.sources.IcebergTable.upgradeFormatVersion(s, t, 3)
      val from = graft.sources.IcebergTable.snapshot(s, t).snapshotId
      graft.sources.IcebergTable.delete(s, t, col("c_nationkey") === 7)
      graft.sources.IcebergTable.update(s, t, col("c_nationkey") === 11,
        Map("c_acctbal" -> lit(0.0)))
      val to = graft.sources.IcebergTable.snapshot(s, t).snapshotId
      graft.sources.IcebergTable.changes(s, t, from, to)
        .groupBy(col("_change_type").as("change"),
          col("c_nationkey").as("nation"))
        .agg(count(lit(1)).as("n"), sumD(col("c_acctbal")).as("bal"))
        .orderBy("change", "nation")
    }),

    // Iceberg v3 COLUMN DEFAULTS (spec v3 §Default values): the
    // pre-evolution files serve the ADD COLUMN DEFAULT value, an
    // append OMITTING the column gets the write-default filled, an
    // append CARRYING it keeps its explicit values — one read serves
    // all three eras
    "interop_iceberg_defaults" -> ((s, d) => {
      val t = java.nio.file.Files.createTempDirectory("graft-q-icedef")
        .toString + "/t"
      val n = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
      graft.sources.IcebergTable.write(s, n, t)
      graft.sources.IcebergTable.upgradeFormatVersion(s, t, 3)
      s.sql("ALTER TABLE '" + t + "' ADD COLUMN bonus BIGINT DEFAULT 7")
      graft.sources.IcebergTable.write(s,
        Tables.nation(s, d).select(
          (col("n_nationkey") + 100).as("n_nationkey"), col("n_name")), t)
      graft.sources.IcebergTable.write(s,
        Tables.nation(s, d).select(
          (col("n_nationkey") + 200).as("n_nationkey"), col("n_name"),
          col("n_regionkey").cast("long").as("bonus")), t)
      graft.sources.IcebergTable.read(s, t)
        .select(col("n_nationkey").as("k"), col("n_name").as("nm"),
          col("bonus"))
        .orderBy("k")
    }),

    // Iceberg RENAME COLUMN: metadata-only schema evolution — rename
    // via SQL, append under the NEW name, read resolves the old files
    // through the schema history (field ids, not names)
    "interop_iceberg_rename" -> ((s, d) => {
      val t = java.nio.file.Files.createTempDirectory("graft-q-icer")
        .toString + "/t"
      val n = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
      graft.sources.IcebergTable.write(s, n, t)
      s.sql("ALTER TABLE '" + t + "' RENAME COLUMN n_name TO nation_name")
      graft.sources.IcebergTable.write(s,
        Tables.nation(s, d).select(
          (col("n_nationkey") + 100).as("n_nationkey"),
          upper(col("n_name")).as("nation_name")), t)
      graft.sources.IcebergTable.read(s, t)
        .select(col("n_nationkey").as("k"), col("nation_name").as("nm"))
        .orderBy("k")
    }),

    // Iceberg EQUALITY-DELETE upsert (the Flink CDC shape) → the DSv2
    // scan serves the merged state merge-on-read: delete files ride
    // to the executors, the target is never rewritten
    "interop_iceberg_upsert" -> ((s, d) => {
      val t = java.nio.file.Files.createTempDirectory("graft-q-iceu")
        .toString + "/t"
      val sup = Tables.supplier(s, d).select(col("s_suppkey"), col("s_acctbal"))
      graft.sources.IcebergTable.write(s, sup, t)
      val src = sup.where(col("s_suppkey") % 7 === 0)
        .select(col("s_suppkey"), (col("s_acctbal") + 1000).as("s_acctbal"))
        .unionByName(sup.where(col("s_suppkey") % 13 === 0)
          .select((col("s_suppkey") + 100000).as("s_suppkey"),
            col("s_acctbal")))
      graft.sources.IcebergTable.upsertEquality(s, t, src, Seq("s_suppkey"))
      s.read.format("graft-iceberg").load(t)
        .groupBy((col("s_suppkey") % 10).as("bucket"))
        .agg(count(lit(1)).as("n_sup"), sumD(col("s_acctbal")).as("bal"))
        .orderBy("bucket")
    }),

    // Iceberg OPTIMIZE: append pile + MOR delete → SQL OPTIMIZE
    // compacts to ceil(bytes/target) files as a `replace` snapshot
    // with the delete pile folded away → anti-join-free scan serves
    // the identical live rows (IcebergTable.rewriteDataFiles)
    "interop_iceberg_compact" -> ((s, d) => {
      val t = java.nio.file.Files.createTempDirectory("graft-q-icec")
        .toString + "/t"
      val p = Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"), col("p_size"),
          col("p_retailprice"))
      graft.sources.IcebergTable.write(s,
        p.filter(col("p_partkey") % 2 === 0), t)
      graft.sources.IcebergTable.write(s,
        p.filter(col("p_partkey") % 2 =!= 0), t)
      graft.sources.IcebergTable.delete(s, t, col("p_size") < 10)
      s.sql(s"OPTIMIZE '$t'")
      s.read.format("graft-iceberg").load(t)
        .groupBy(col("p_brand").as("brand"))
        .agg(count(lit(1)).as("n_parts"),
          sumD(col("p_retailprice")).as("retail"))
        .orderBy("brand")
    }),

    // Iceberg ALTER TABLE ADD COLUMN: metadata-only schema evolution
    // (fresh schema-id + field ids) → old files serve the column as
    // null, the evolved append carries real values — one scan reads
    // both generations (IcebergTable.addColumns)
    "interop_iceberg_evolve" -> ((s, d) => {
      val t = java.nio.file.Files.createTempDirectory("graft-q-icee")
        .toString + "/t"
      val n = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
      graft.sources.IcebergTable.write(s, n, t)
      graft.sources.IcebergTable.addColumns(s, t, Seq(
        org.apache.spark.sql.types.StructField("n_score",
          org.apache.spark.sql.types.DoubleType, nullable = true)))
      graft.sources.IcebergTable.write(s,
        n.select((col("n_nationkey") + 100).as("n_nationkey"),
          col("n_name"),
          (col("n_nationkey") * lit(1.5)).as("n_score")), t)
      graft.sources.IcebergTable.read(s, t)
        .select(col("n_nationkey").as("k"), col("n_name").as("name"),
          coalesce(col("n_score"), lit(-1.0)).as("score"))
        .orderBy("k")
    }),

    // ZERO-COPY format mirrors, both directions: a Delta table
    // published as Iceberg IN PLACE (IcebergTable.mirrorFromDelta —
    // manifests adopt the Delta files, record counts from the stats
    // JSON) and an Iceberg table published as a Delta shallow clone
    // (DeltaLog.mirrorFromIceberg — add actions adopt the Iceberg
    // files); each leg reads through the MIRROR format's reader
    "interop_format_mirror" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft-q-mir")
        .toString
      val c = Tables.customer(s, d).select(col("c_custkey"), col("c_acctbal"))
      graft.sources.DeltaLog.write(s, c, s"$root/dl")
      graft.sources.IcebergTable.mirrorFromDelta(s, s"$root/dl")
      val legA = graft.sources.IcebergTable.read(s, s"$root/dl")
        .groupBy((col("c_custkey") % 5).as("grp"))
        .agg(count(lit(1)).as("n"), sumD(col("c_acctbal")).as("total"))
        .select(lit("delta_as_iceberg").as("leg"), col("grp"), col("n"),
          col("total"))
      val sup = Tables.supplier(s, d).select(col("s_suppkey"), col("s_acctbal"))
      graft.sources.IcebergTable.write(s, sup, s"$root/ice")
      graft.sources.DeltaLog.mirrorFromIceberg(s, s"$root/ice", s"$root/ice_dl")
      val legB = graft.sources.DeltaLog.read(s, s"$root/ice_dl")
        .groupBy((col("s_suppkey") % 5).as("grp"))
        .agg(count(lit(1)).as("n"), sumD(col("s_acctbal")).as("total"))
        .select(lit("iceberg_as_delta").as("leg"), col("grp"), col("n"),
          col("total"))
      legA.unionByName(legB).orderBy("leg", "grp")
    }),

    // Delta CHECK constraint lifecycle: SQL ADD CONSTRAINT (validated
    // against existing rows, protocol bump) → a violating append
    // VETOES before staging (nothing commits) → the clean append
    // lands → read (DeltaLog.addCheckConstraint + write's invariant
    // gate)
    "interop_delta_constraint" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft-q-ck")
        .toString
      s.conf.set("spark.sql.catalog.gq_ck", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gq_ck.root", root)
      val t = s"$root/ns/t"
      val c = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      graft.sources.DeltaLog.write(s, c, t)
      s.sql(
        "ALTER TABLE gq_ck.ns.t ADD CONSTRAINT bal CHECK (c_acctbal >= -1000.0)")
      val offender = c.limit(1).select(
        lit(9000000L).as("c_custkey"), lit("BAD").as("c_mktsegment"),
        lit(-999999.0).as("c_acctbal"))
      try {
        graft.sources.DeltaLog.write(s, offender, t)
        throw new IllegalStateException("constraint did not fire")
      } catch { case _: IllegalArgumentException => () }
      graft.sources.DeltaLog.write(s,
        c.filter(col("c_custkey") % 10 === 0)
          .select((col("c_custkey") + 1000000L).as("c_custkey"),
            lit("REINSTATED").as("c_mktsegment"),
            greatest(col("c_acctbal"), lit(0.0)).as("c_acctbal")), t)
      s.table("gq_ck.ns.t")
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_cust"), sumD(col("c_acctbal")).as("total"))
        .orderBy("segment")
    }),

    // SQL RESTORE on both table formats: a Delta DELETE undone by a
    // file-set-diff restore commit (DeltaLog.restore — history kept,
    // pure metadata) and an Iceberg append undone by the
    // rollback_to_snapshot pointer move (IcebergTable.rollbackTo);
    // each leg re-reads the rolled-back state through its own reader
    "interop_restore_rollback" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft-q-rst")
        .toString
      s.conf.set("spark.sql.catalog.gq_rst", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gq_rst.root", root)
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.DeltaLog.write(s, o, s"$root/ns/dt")
      graft.sources.DeltaLog.delete(s, s"$root/ns/dt",
        col("o_totalprice") >= 100000.0)
      s.sql("RESTORE TABLE gq_rst.ns.dt TO VERSION AS OF 0")
      val legA = s.table("gq_rst.ns.dt")
        .groupBy(col("o_orderstatus").as("grp"))
        .agg(count(lit(1)).as("n"), sumD(col("o_totalprice")).as("total"))
        .select(lit("delta_restore").as("leg"), col("grp"), col("n"),
          col("total"))
      val sup = Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
      val it = s"$root/ns/it"
      val s1 = graft.sources.IcebergTable.write(s,
        sup.filter(col("s_suppkey") % 2 === 0), it)
      graft.sources.IcebergTable.write(s,
        sup.filter(col("s_suppkey") % 2 =!= 0), it)
      s.sql(s"RESTORE gq_rst.ns.it TO VERSION AS OF $s1")
      val legB = s.read.format("graft-iceberg").load(it)
        .groupBy((col("s_nationkey") % 5).as("grp"))
        .agg(count(lit(1)).as("n"), sumD(col("s_acctbal")).as("total"))
        .select(lit("iceberg_rollback").as("leg"),
          col("grp").cast("string").as("grp"), col("n"), col("total"))
      legA.unionByName(legB).orderBy("leg", "grp")
    }),

    // protocol-true CHANGE DATA FEED: enable via TBLPROPERTIES
    // (protocol bump), then UPDATE + DELETE write `_change_data`
    // files whose precise row-level legs (update_preimage/
    // update_postimage/delete) the change feed serves instead of the
    // whole-file reconstruction — aggregated per change type, one
    // hash gate
    "interop_delta_cdf" -> ((s, d) => {
      val t = java.nio.file.Files.createTempDirectory("graft-q-cdf")
        .toString + "/t"
      val c = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      graft.sources.DeltaLog.write(s, c, t)                       // v0
      graft.sources.DeltaLog.setTableProperties(s, t,
        Map("delta.enableChangeDataFeed" -> "true"))              // v1
      graft.sources.DeltaLog.update(s, t, col("c_acctbal") < 0,
        Map("c_acctbal" -> lit(0.0)))                             // v2
      graft.sources.DeltaLog.delete(s, t,
        col("c_custkey") % 100 === 0)                             // v3
      graft.sources.DeltaLog.changes(s, t, 1L, 3L)
        .groupBy(col("_change_type").as("change_type"),
          col("_commit_version").as("version"))
        .agg(count(lit(1)).as("n"), sumD(col("c_acctbal")).as("bal"))
        .orderBy("change_type", "version")
    }),

    // column-mapping WRITE path: upgrade to name mode (ids +
    // physicalNames, protocol bump), RENAME COLUMN as one metaData
    // line, then an append under the NEW logical name stages parquet
    // under the PHYSICAL name — both file generations serve one
    // logical column, aggregated under the post-rename name
    "interop_delta_rename" -> ((s, d) => {
      val t = java.nio.file.Files.createTempDirectory("graft-q-ren")
        .toString + "/t"
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sources.DeltaLog.write(s, o, t)                       // v0
      s.sql(s"ALTER TABLE '$t' SET TBLPROPERTIES " +
        "('delta.columnMapping.mode' = 'name')")                  // v1
      s.sql(s"ALTER TABLE '$t' RENAME COLUMN o_totalprice TO price") // v2
      graft.sources.DeltaLog.write(s,
        o.select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          col("o_orderstatus"), col("o_totalprice").as("price")), t) // v3
      graft.sources.DeltaLog.read(s, t)
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n_orders"), sumD(col("price")).as("total"))
        .orderBy("status")
    }),

    // UniForm (delta.universalFormat.enabledFormats=iceberg): Delta
    // stays the writer of record, every commit auto-advances the
    // in-place Iceberg mirror — write, enable, DELETE, append, then
    // read the final state through the ICEBERG reader, one hash gate
    "interop_delta_uniform" -> ((s, d) => {
      val t = java.nio.file.Files.createTempDirectory("graft-q-uni")
        .toString + "/t"
      val c = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      graft.sources.DeltaLog.write(s,
        c.filter(col("c_custkey") % 2 === 0), t)                  // v0
      graft.sources.DeltaLog.setTableProperties(s, t,
        Map("delta.universalFormat.enabledFormats" -> "iceberg")) // v1
      graft.sources.DeltaLog.delete(s, t, col("c_acctbal") < 0)  // v2
      graft.sources.DeltaLog.write(s,
        c.filter(col("c_custkey") % 2 =!= 0), t)                  // v3
      graft.sources.IcebergTable.read(s, t)
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_cust"), sumD(col("c_acctbal")).as("total"))
        .orderBy("segment")
    }),

    // GENERATED columns: SQL CREATE TABLE declares a computed column
    // (protocol bump to writer v4); the append OMITS it and graft
    // computes it per row; the read aggregates BY the generated
    // values — schema-before-data plus the compute path, one hash
    // gate
    "interop_delta_generated" -> ((s, d) => {
      val t = java.nio.file.Files.createTempDirectory("graft-q-gen")
        .toString + "/t"
      s.sql(s"CREATE TABLE '$t' (o_orderkey BIGINT, " +
        "o_totalprice DOUBLE, price_bucket BIGINT GENERATED ALWAYS AS " +
        "(floor(o_totalprice / 50000.0))) USING delta")
      graft.sources.DeltaLog.write(s,
        Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice")),
        t)
      graft.sources.DeltaLog.read(s, t)
        .groupBy(col("price_bucket").as("bucket"))
        .agg(count(lit(1)).as("n"), sumD(col("o_totalprice")).as("total"))
        .orderBy("bucket")
    }),

    // SHALLOW CLONE: zero-copy Delta->Delta clone via SQL, then the
    // clone diverges (DELETE + append) while the source stays
    // untouched — both legs read back and union under one hash gate
    "interop_delta_clone" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft-q-cl")
        .toString
      val sup = Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
      graft.sources.DeltaLog.write(s, sup, s"$root/src")
      s.sql(s"CREATE TABLE '$root/dst' SHALLOW CLONE '$root/src'")
      graft.sources.DeltaLog.delete(s, s"$root/dst", col("s_acctbal") < 0)
      graft.sources.DeltaLog.write(s,
        sup.filter(col("s_suppkey") % 3 === 0)
          .select((col("s_suppkey") + 1000000L).as("s_suppkey"),
            col("s_nationkey"), lit(0.0).as("s_acctbal")), s"$root/dst")
      def agg(df: DataFrame, leg: String) = df
        .groupBy(col("s_nationkey").as("nation"))
        .agg(count(lit(1)).as("n"), sumD(col("s_acctbal")).as("bal"))
        .select(lit(leg).as("leg"), col("nation"), col("n"), col("bal"))
      agg(graft.sources.DeltaLog.read(s, s"$root/dst"), "clone")
        .unionByName(agg(graft.sources.DeltaLog.read(s, s"$root/src"),
          "source"))
        .orderBy("leg", "nation")
    })
  )

  /** Deterministic JL projection matrix (8 × 64): entries k/1024 with
    * k a Weyl-style multiplicative hash in [-512, 512) — every entry
    * is an exactly-representable double whose shortest decimal
    * rendering round-trips, so interpolating `toString` into the
    * DuckDB oracle reproduces bit-identical literals. */
  private val projMatrix: Seq[Seq[Double]] =
    Seq.tabulate(8, 64) { (j, i) =>
      ((j * 64 + i + 1) * 2654435761L % 1024 - 512).toDouble / 1024.0
    }

  /** One SQL text, two engines: runs verbatim on Spark AND DuckDB. */
  private val correlatedSubSql =
    """SELECT c_custkey, floor(c_acctbal*100 + 0.5)/100 AS acctbal
      |FROM customer c1
      |WHERE c_acctbal > (
      |  SELECT CAST(SUM(CAST(floor(c_acctbal*100 + 0.5)/100 AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*)
      |  FROM customer c2 WHERE c2.c_nationkey = c1.c_nationkey)
      |ORDER BY c_custkey""".stripMargin

  // ================= oracle SQL =================

  private val stop = TextFunctions.Stopwords.map(w => s"'$w'").mkString(", ")
  private def sqlTokens(t: String): String =
    s"CASE WHEN length(trim($t)) = 0 THEN [] ELSE regexp_split_to_array(trim($t), '\\s+') END"

  /** Shared CTE chain for the exact-substring dedup oracles: the
    * planted-clone corpus (mirrors [[substringCorpus]]), 8-token
    * rolling windows as gram STRINGS (the oracle keeps strings where
    * the engine ships XXH64 fingerprints — a hash collision would
    * surface as a gate mismatch), and corpus-wide occurrence counts. */
  private lazy val substringGramsCte: String =
    s"""WITH base AS (
       | SELECT doc_id, text FROM documents
       | UNION ALL
       | SELECT doc_id + 1099511627776 AS doc_id, text FROM documents
       | WHERE doc_id % 10 = 0
       | UNION ALL
       | SELECT doc_id + 2199023255552 AS doc_id,
       |  array_to_string((${sqlTokens("text")})[1:20], ' ') AS text
       | FROM documents
       | WHERE doc_id % 7 = 3 AND len(${sqlTokens("text")}) >= 40),
       |toks AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM base),
       |pos AS (SELECT doc_id, t, unnest(range(1, len(t)::BIGINT - 6)) AS i
       |        FROM toks WHERE len(t) >= 8),
       |grams AS (SELECT doc_id, array_to_string(t[i:i+7], ' ') AS g FROM pos),
       |occ AS (SELECT g, COUNT(*) AS occ FROM grams GROUP BY g)""".stripMargin

  def oracleSql: Map[String, String] = Map(

    "q1_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         | ${sqlSumD("l_quantity")} AS sum_qty,
         | ${sqlSumD("l_extendedprice")} AS sum_base_price,
         | ${sqlSumD("l_extendedprice*(1-l_discount)")} AS sum_disc_price,
         | ${sqlSumD("l_extendedprice*(1-l_discount)*(1+l_tax)")} AS sum_charge,
         | ${sqlAvgD("l_quantity")} AS avg_qty,
         | ${sqlAvgD("l_extendedprice")} AS avg_price,
         | ${sqlAvgD("l_discount")} AS avg_disc,
         | COUNT(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_revenue_nation" ->
      s"""SELECT n_name AS nation, ${sqlSumD("l_extendedprice*(1-l_discount)")} AS revenue,
         | COUNT(*) AS n_lines
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         | JOIN customer ON o_custkey = c_custkey
         | JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY n_name ORDER BY revenue DESC, nation ASC""".stripMargin,

    "q_top_orders_per_cust" ->
      """SELECT o_custkey, rank, o_orderkey, totalprice FROM (
        | SELECT o_custkey, o_orderkey, floor((o_totalprice)*100 + 0.5)/100 AS totalprice,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
        | FROM orders) WHERE rank <= 3 ORDER BY o_custkey, rank""".stripMargin,

    "q_rollup_revenue" ->
      s"""SELECT l_returnflag, l_linestatus, ${sqlSumD("l_extendedprice")} AS revenue,
         | COUNT(*) AS n_lines
         |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q_correlated_sub" -> correlatedSubSql,

    "q_cust_no_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00')
        |ORDER BY c_custkey""".stripMargin,

    "q_late_orders" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
        |  AND l_shipdate::DATE - o_orderdate::DATE > 90)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_cust_order_dist" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderstatus <> 'F'
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q_part_supp_cnt" ->
      """SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin,

    "q_skyline_parts" ->
      s"""SELECT p.p_brand, p.p_partkey, ${sqlRound("p.p_retailprice", 2)} AS price,
         | p.p_size
         |FROM part p
         |WHERE NOT EXISTS (SELECT 1 FROM part q WHERE q.p_brand = p.p_brand
         |  AND q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
         |  AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
         |ORDER BY p.p_brand, p.p_partkey""".stripMargin,

    "q_km_survival" -> {
      val term = sqlRound("ln(1 - CAST(d AS DOUBLE)/n_risk)", 6)
      s"""WITH f AS (SELECT l_orderkey, MIN(l_shipdate) AS ship1
         | FROM lineitem GROUP BY l_orderkey),
         |dur AS (SELECT o_orderpriority AS priority,
         |  date_diff('day', CAST(o_orderdate AS DATE), CAST(ship1 AS DATE)) AS t
         | FROM orders JOIN f ON o_orderkey = l_orderkey
         | WHERE date_diff('day', CAST(o_orderdate AS DATE), CAST(ship1 AS DATE)) >= 0),
         |cells AS (SELECT priority,
         |  CASE WHEN t > 60 THEN 60 ELSE t END AS day,
         |  CAST(SUM(CASE WHEN t <= 60 THEN 1 ELSE 0 END) AS BIGINT) AS d,
         |  CAST(SUM(CASE WHEN t <= 60 THEN 0 ELSE 1 END) AS BIGINT) AS c
         | FROM dur GROUP BY 1, 2),
         |r AS (SELECT *,
         |  CAST(SUM(d + c) OVER (PARTITION BY priority) -
         |    COALESCE(SUM(d + c) OVER (PARTITION BY priority ORDER BY day ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    AS n_risk
         | FROM cells),
         |k AS (SELECT *,
         |  ${sqlRound("CAST(SUM(CAST(CASE WHEN d > 0 THEN " + term +
             " ELSE 0 END AS DECIMAL(28,6))) OVER (PARTITION BY priority " +
             "ORDER BY day ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)" +
             " AS DOUBLE)", 6)} AS km_log_s
         | FROM r)
         |SELECT priority, day, d, n_risk,
         | ${sqlRound("CAST(d AS DOUBLE)/n_risk", 6)} AS hazard, km_log_s
         |FROM k WHERE d > 0 ORDER BY priority, day""".stripMargin
    },

    "q_small_qty_revenue" ->
      s"""WITH li AS (SELECT l_partkey,
         |  CAST(floor(l_quantity*100 + 0.5) AS BIGINT) AS qc, l_extendedprice
         | FROM lineitem),
         |st AS (SELECT l_partkey, CAST(SUM(qc) AS BIGINT) AS sum_qc,
         |  COUNT(*) AS n_lines FROM li GROUP BY l_partkey)
         |SELECT ${sqlRound(s"${sqlSumD("l_extendedprice")}/7", 2)} AS avg_yearly
         |FROM li JOIN st USING (l_partkey)
         |WHERE qc * 5 * n_lines < sum_qc ORDER BY avg_yearly""".stripMargin,

    "q_big_orders" ->
      s"""WITH big AS (SELECT l_orderkey,
         |  CAST(SUM(CAST(floor(l_quantity*100 + 0.5) AS BIGINT)) AS BIGINT)
         |    AS qty_cents
         | FROM lineitem GROUP BY l_orderkey HAVING SUM(CAST(floor(l_quantity*100
         |   + 0.5) AS BIGINT)) > 20000)
         |SELECT c_custkey, c_name, o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
         | ${sqlRound("o_totalprice", 2)} AS total_price,
         | ${sqlRound("CAST(qty_cents AS DOUBLE)/100", 2)} AS total_qty
         |FROM big JOIN orders ON l_orderkey = o_orderkey
         | JOIN customer ON o_custkey = c_custkey
         |ORDER BY o_orderkey""".stripMargin,

    "q_idle_rich_customers" ->
      s"""WITH c AS (SELECT c_custkey, c_nationkey,
         |  CAST(floor(c_acctbal*100 + 0.5) AS BIGINT) AS bal_cents FROM customer),
         |a AS (SELECT CAST(SUM(bal_cents) AS BIGINT) AS sum_cents,
         |  COUNT(*) AS n_pos FROM c WHERE bal_cents > 0)
         |SELECT c_nationkey, COUNT(*) AS n_cust,
         | ${sqlRound("CAST(SUM(bal_cents) AS DOUBLE)/100", 2)} AS total_bal
         |FROM c CROSS JOIN a
         |WHERE bal_cents * n_pos > sum_cents
         | AND c_custkey NOT IN (SELECT o_custkey FROM orders
         |   WHERE o_orderdate < TIMESTAMP '1994-01-01 00:00:00')
         |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q_ohlc_monthly" ->
      s"""WITH o AS (SELECT epoch_ms(date_trunc('month', o_orderdate)) AS month_ms,
         |  ${sqlRound("o_totalprice", 2)} AS p, o_orderdate, o_orderkey FROM orders),
         |w AS (SELECT month_ms,
         |  first_value(p) OVER (PARTITION BY month_ms
         |    ORDER BY o_orderdate ASC, o_orderkey ASC) AS open,
         |  MAX(p) OVER (PARTITION BY month_ms) AS high,
         |  MIN(p) OVER (PARTITION BY month_ms) AS low,
         |  first_value(p) OVER (PARTITION BY month_ms
         |    ORDER BY o_orderdate DESC, o_orderkey DESC) AS close,
         |  COUNT(*) OVER (PARTITION BY month_ms) AS n_orders
         | FROM o)
         |SELECT DISTINCT month_ms, open, high, low, close, n_orders
         |FROM w ORDER BY month_ms""".stripMargin,

    "q_max_drawdown" ->
      s"""WITH cells AS (SELECT lower(p_brand) AS brand,
         |  epoch_ms(date_trunc('month', l_shipdate)) AS mm,
         |  SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT))
         |    AS cents
         | FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2),
         |w AS (SELECT brand, cents,
         |  MAX(cents) OVER (PARTITION BY brand ORDER BY mm ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
         | FROM cells)
         |SELECT brand, COUNT(*) AS n_months,
         | MAX(${sqlRound("CAST(peak - cents AS DOUBLE)/peak", 6)}) AS max_drawdown
         |FROM w GROUP BY brand ORDER BY brand""".stripMargin,

    "q_systematic_sample" ->
      s"""WITH c AS (SELECT c_custkey, ${sqlRound("c_acctbal", 2)} AS bal,
         |  0.0 - ${sqlRound("c_acctbal", 2)} AS negbal FROM customer),
         |r AS (SELECT c_custkey, bal,
         |  row_number() OVER (ORDER BY negbal ASC, c_custkey ASC) AS rk FROM c)
         |SELECT c_custkey, bal, rk FROM r
         |WHERE (rk - 1) % 20 = 0 ORDER BY rk""".stripMargin,

    "q_mutual_info" -> {
      val mi = sqlRound(
        "CAST(obs AS DOUBLE)/n_total * ln(CAST(obs AS DOUBLE)*n_total/(CAST(row_tot AS DOUBLE)*col_tot))", 6)
      val chi = sqlRound(
        "(obs - CAST(row_tot AS DOUBLE)*col_tot/n_total)*(obs - CAST(row_tot AS DOUBLE)*col_tot/n_total)/(CAST(row_tot AS DOUBLE)*col_tot/n_total)", 6)
      s"""WITH cells AS (SELECT o_orderpriority, o_orderstatus, COUNT(*) AS obs
         | FROM orders GROUP BY 1, 2),
         |tot AS (SELECT CAST(SUM(obs) AS BIGINT) AS n_total,
         |  COUNT(DISTINCT o_orderpriority) AS r, COUNT(DISTINCT o_orderstatus) AS c
         | FROM cells),
         |w AS (SELECT cells.*, n_total, r, c,
         |  SUM(obs) OVER (PARTITION BY o_orderpriority) AS row_tot,
         |  SUM(obs) OVER (PARTITION BY o_orderstatus) AS col_tot
         | FROM cells CROSS JOIN tot),
         |agg AS (SELECT n_total, r, c,
         |  CAST(SUM(CAST($mi AS DECIMAL(28,6))) AS DOUBLE) AS mi,
         |  CAST(SUM(CAST($chi AS DECIMAL(28,6))) AS DOUBLE) AS chi2
         | FROM w GROUP BY 1, 2, 3)
         |SELECT n_total, ${sqlRound("mi", 4)} AS mi_nats,
         | ${sqlRound("chi2", 4)} AS chi2,
         | ${sqlRound("sqrt(chi2/(CAST(n_total AS DOUBLE)*least(r-1, c-1)))", 6)}
         |   AS cramers_v
         |FROM agg ORDER BY n_total""".stripMargin
    },

    "q_hhi_market" -> {
      val share = sqlRound(
        "CAST(brand_cents AS DOUBLE)/CAST(cat_cents AS DOUBLE)", 6)
      s"""WITH cells AS (SELECT lower(p_type) AS category, lower(p_brand) AS brand,
         |  SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT))
         |    AS brand_cents
         | FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2),
         |w AS (SELECT cells.*,
         |  SUM(brand_cents) OVER (PARTITION BY category) AS cat_cents
         | FROM cells)
         |SELECT category, COUNT(*) AS n_brands,
         | ${sqlRound("CAST(SUM(CAST(" + sqlRound(s"($share)*($share)", 12) +
             " AS DECIMAL(28,12))) AS DOUBLE)", 6)} AS hhi
         |FROM w GROUP BY category ORDER BY category""".stripMargin
    },

    "q_trend_mk" ->
      s"""WITH m AS (SELECT epoch_ms(date_trunc('month', o_orderdate)) AS mm,
         |  SUM(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS cents
         | FROM orders GROUP BY 1),
         |p AS (SELECT CASE WHEN b.cents > a.cents THEN 1
         |    WHEN b.cents < a.cents THEN -1 ELSE 0 END AS sg
         | FROM m a JOIN m b ON a.mm < b.mm),
         |n AS (SELECT COUNT(*) AS n_months FROM m),
         |s AS (SELECT CAST(SUM(sg) AS BIGINT) AS s_stat FROM p)
         |SELECT n_months, s_stat,
         | ${sqlRound("CAST(s_stat AS DOUBLE)/(CAST(n_months AS DOUBLE)*(n_months-1)/2)", 6)}
         |   AS tau_a
         |FROM s CROSS JOIN n ORDER BY n_months""".stripMargin,

    "q_trade_volume" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         | year(CAST(l_shipdate AS DATE)) AS ship_year,
         | ${sqlSumD("l_extendedprice * (1 - l_discount)")} AS volume
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         | JOIN customer ON o_custkey = c_custkey
         | JOIN supplier ON l_suppkey = s_suppkey
         | JOIN nation n1 ON s_nationkey = n1.n_nationkey
         | JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |WHERE n1.n_name <> n2.n_name
         | AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
         | AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
         |GROUP BY 1, 2, 3 ORDER BY supp_nation, cust_nation, ship_year""".stripMargin,

    "q_important_parts" ->
      s"""WITH pp AS (SELECT l_partkey,
         |  SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT))
         |    AS part_cents
         | FROM lineitem GROUP BY l_partkey),
         |t AS (SELECT SUM(part_cents) AS total_cents FROM pp)
         |SELECT l_partkey, ${sqlRound("CAST(part_cents AS DOUBLE)/100", 2)} AS revenue,
         | ${sqlRound("CAST(part_cents AS DOUBLE)/total_cents", 6)} AS share
         |FROM pp CROSS JOIN t
         |WHERE part_cents * 2000 > total_cents
         |ORDER BY revenue DESC, l_partkey""".stripMargin,

    "q_top_supplier" ->
      s"""WITH rev AS (SELECT l_suppkey,
         |  SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT))
         |    AS rev_cents
         | FROM lineitem
         | WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |   AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
         | GROUP BY l_suppkey),
         |m AS (SELECT MAX(rev_cents) AS max_cents FROM rev)
         |SELECT s_suppkey, s_name,
         | ${sqlRound("CAST(rev_cents AS DOUBLE)/100", 2)} AS total_revenue
         |FROM rev CROSS JOIN m JOIN supplier ON l_suppkey = s_suppkey
         |WHERE rev_cents = max_cents
         |ORDER BY s_suppkey""".stripMargin,

    "q_attribution" ->
      s"""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms, event_type, value
         |  FROM events),
         |a AS (SELECT *, last_value(CASE WHEN event_type <> 'purchase'
         |    THEN event_type END IGNORE NULLS)
         |  OVER (PARTITION BY user_id ORDER BY ms ASC, event_id ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS channel
         | FROM e)
         |SELECT COALESCE(channel, 'none') AS channel, COUNT(*) AS conversions,
         | ${sqlSumD("value")} AS attributed_value
         |FROM a WHERE event_type = 'purchase'
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_abc_parts" ->
      s"""WITH rev AS (
         |  SELECT l_partkey,
         |    CAST(SUM(CAST(${sqlRound("l_extendedprice*(1-l_discount)", 2)}
         |      AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS rev
         |  FROM lineitem GROUP BY l_partkey),
         |run AS (
         |  SELECT l_partkey, rev,
         |    SUM(rev) OVER (ORDER BY rev DESC, l_partkey
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    SUM(rev) OVER () AS tot
         |  FROM rev)
         |SELECT l_partkey, rev::DOUBLE AS revenue,
         |  ${sqlRound("(cum::DOUBLE)/(tot::DOUBLE)", 6)} AS cum_share,
         |  CASE WHEN CAST(cum*100 AS BIGINT)*10 <= CAST(tot*100 AS BIGINT)*8 THEN 'A'
         |       WHEN CAST(cum*100 AS BIGINT)*20 <= CAST(tot*100 AS BIGINT)*19 THEN 'B'
         |       ELSE 'C' END AS abc_class
         |FROM run ORDER BY revenue DESC, l_partkey""".stripMargin,

    "q_weighted_median" ->
      s"""WITH li AS (SELECT l_returnflag,
         |  ${sqlRound("l_extendedprice", 2)} AS price, l_orderkey, l_linenumber,
         |  CAST(l_quantity*100 AS BIGINT) AS wc FROM lineitem),
         |c AS (SELECT *,
         |  SUM(wc) OVER (PARTITION BY l_returnflag
         |    ORDER BY price ASC, l_orderkey ASC, l_linenumber ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         |  SUM(wc) OVER (PARTITION BY l_returnflag) AS tw
         | FROM li)
         |SELECT l_returnflag,
         |  ${sqlRound("MIN(price)", 2)} AS w_median_price
         |FROM c WHERE 2*cw >= tw
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_chi2_independence" ->
      s"""WITH cells AS (
         |  SELECT o_orderpriority, o_orderstatus, COUNT(*) AS observed
         |  FROM orders GROUP BY 1, 2),
         |t AS (SELECT *,
         |  CAST(SUM(observed) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS row_tot,
         |  CAST(SUM(observed) OVER (PARTITION BY o_orderstatus) AS BIGINT) AS col_tot,
         |  CAST(SUM(observed) OVER () AS BIGINT) AS n_total
         | FROM cells),
         |e AS (SELECT *,
         |  CAST(row_tot AS DOUBLE)*CAST(col_tot AS DOUBLE)/CAST(n_total AS DOUBLE)
         |    AS expected FROM t),
         |k AS (SELECT *,
         |  ${sqlRound("(observed - expected)*(observed - expected)/expected", 6)}
         |    AS contrib FROM e)
         |SELECT o_orderpriority, o_orderstatus, observed,
         |  ${sqlRound("expected", 6)} AS expected, contrib,
         |  (SELECT ${sqlRound("CAST(SUM(CAST(contrib AS DECIMAL(28,6))) AS DOUBLE)", 4)}
         |   FROM k) AS chi2
         |FROM k ORDER BY o_orderpriority, o_orderstatus""".stripMargin,

    "q_auc_mw" ->
      s"""WITH r AS (SELECT c_nationkey,
         |  CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS pos,
         |  RANK() OVER (PARTITION BY c_nationkey
         |    ORDER BY ${sqlRound("c_acctbal", 2)} ASC) AS rk,
         |  COUNT(*) OVER (PARTITION BY c_nationkey,
         |    ${sqlRound("c_acctbal", 2)}) AS cnt
         | FROM customer),
         |g AS (SELECT c_nationkey,
         |  CAST(SUM(pos) AS BIGINT) AS n_pos,
         |  CAST(SUM(1 - pos) AS BIGINT) AS n_neg,
         |  CAST(SUM(CASE WHEN pos = 1 THEN 2*rk + cnt - 1 ELSE 0 END) AS BIGINT)
         |    AS rs2
         | FROM r GROUP BY c_nationkey)
         |SELECT c_nationkey, n_pos, n_neg,
         | ${sqlRound("CAST(rs2 - n_pos*(n_pos+1) AS DOUBLE) / " +
             "(CAST(2 AS DOUBLE)*n_pos*n_neg)", 6)} AS auc
         |FROM g WHERE n_pos > 0 AND n_neg > 0
         |ORDER BY c_nationkey""".stripMargin,

    "q_ks_test" ->
      s"""WITH o AS (SELECT o_orderpriority AS prio,
         |  ${sqlRound("o_totalprice", 2)} AS price,
         |  CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS f
         | FROM orders WHERE o_orderstatus IN ('F', 'O')),
         |cells AS (SELECT prio, price,
         |  CAST(SUM(f) AS BIGINT) AS cf, CAST(SUM(1 - f) AS BIGINT) AS co
         | FROM o GROUP BY 1, 2),
         |run AS (SELECT *,
         |  CAST(SUM(cf) OVER (PARTITION BY prio ORDER BY price ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumf,
         |  CAST(SUM(co) OVER (PARTITION BY prio ORDER BY price ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumo,
         |  CAST(SUM(cf) OVER (PARTITION BY prio) AS BIGINT) AS nf,
         |  CAST(SUM(co) OVER (PARTITION BY prio) AS BIGINT) AS nn
         | FROM cells)
         |SELECT prio AS o_orderpriority,
         |  MAX(nf) AS n_f, MAX(nn) AS n_o,
         |  ${sqlRound("CAST(MAX(ABS(cumf*nn - cumo*nf)) AS DOUBLE) / " +
             "(CAST(MAX(nf) AS DOUBLE)*MAX(nn))", 6)} AS ks
         |FROM run GROUP BY prio HAVING MAX(nf) > 0 AND MAX(nn) > 0
         |ORDER BY o_orderpriority""".stripMargin,

    "dq_benford" ->
      s"""WITH d AS (SELECT CAST(SUBSTRING(CAST(CAST(
         |    ${sqlRound("o_totalprice*100", 0)} AS BIGINT) AS VARCHAR),
         |    1, 1) AS INT) AS digit
         | FROM orders),
         |g AS (SELECT digit, COUNT(*) AS observed FROM d GROUP BY digit),
         |n AS (SELECT CAST(SUM(observed) AS BIGINT) AS n_total FROM g),
         |s AS (SELECT digit, observed,
         |  ${sqlRound("CAST(observed AS DOUBLE)/CAST(n_total AS DOUBLE)", 6)}
         |    AS obs_share,
         |  ${sqlRound("log10(CAST(1 AS DOUBLE) + CAST(1 AS DOUBLE)/digit)", 6)}
         |    AS exp_share
         | FROM g CROSS JOIN n)
         |SELECT digit, observed, obs_share, exp_share,
         |  ${sqlRound("ABS(obs_share - exp_share)", 6)} AS abs_dev
         |FROM s ORDER BY digit""".stripMargin,

    "dq_key_skew" -> {
      def leg(table: String, key: String) =
        s"""SELECT '$table' AS table_name, '$key' AS key_col,
           |  CAST(COUNT(*) AS BIGINT) AS n_keys,
           |  CAST(SUM(n) AS BIGINT) AS n_rows,
           |  CAST(MAX(n) AS BIGINT) AS max_freq,
           |  (SELECT CAST(k AS BIGINT) FROM cnt_$table
           |    ORDER BY n DESC, k ASC LIMIT 1) AS hottest_key,
           |  ${sqlRound("CAST(MAX(n) AS DOUBLE)*COUNT(*)/SUM(n)", 6)} AS skew_ratio
           | FROM cnt_$table""".stripMargin
      s"""WITH cnt_orders AS (SELECT o_custkey AS k, COUNT(*) AS n
         |  FROM orders GROUP BY 1),
         |cnt_lineitem AS (SELECT l_orderkey AS k, COUNT(*) AS n
         |  FROM lineitem GROUP BY 1),
         |cnt_events AS (SELECT user_id AS k, COUNT(*) AS n
         |  FROM events GROUP BY 1)
         |SELECT * FROM (
         |${leg("orders", "o_custkey")}
         |UNION ALL
         |${leg("lineitem", "l_orderkey")}
         |UNION ALL
         |${leg("events", "user_id")})
         |ORDER BY table_name""".stripMargin
    },

    "dq_k_anonymity" ->
      s"""SELECT c_nationkey, c_mktsegment,
         | CAST(floor(${sqlRound("c_acctbal", 2)}/1000) AS BIGINT) AS bal_band,
         | COUNT(*) AS class_size
         |FROM customer
         |GROUP BY 1, 2, 3
         |HAVING COUNT(*) < 5
         |ORDER BY c_nationkey, c_mktsegment, bal_band""".stripMargin,

    "q_weighted_quartiles" ->
      s"""WITH li AS (SELECT l_returnflag,
         |  ${sqlRound("l_extendedprice", 2)} AS price, l_orderkey, l_linenumber,
         |  CAST(l_quantity*100 AS BIGINT) AS wc FROM lineitem),
         |c AS (SELECT *,
         |  SUM(wc) OVER (PARTITION BY l_returnflag
         |    ORDER BY price ASC, l_orderkey ASC, l_linenumber ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         |  SUM(wc) OVER (PARTITION BY l_returnflag) AS tw
         | FROM li)
         |SELECT l_returnflag, p AS pct,
         |  ${sqlRound("MIN(price)", 2)} AS w_price
         |FROM c CROSS JOIN (VALUES (25), (50), (75)) pcts(p)
         |WHERE 100*cw >= p*tw
         |GROUP BY l_returnflag, p ORDER BY l_returnflag, p""".stripMargin,

    "q_percent_rank" ->
      s"""WITH c AS (SELECT c_nationkey, c_custkey,
         |  ${sqlRound("c_acctbal", 2)} AS bal FROM customer)
         |SELECT c_nationkey, c_custkey, bal,
         |  ${sqlRound("percent_rank() OVER (PARTITION BY c_nationkey " +
             "ORDER BY bal ASC, c_custkey ASC)", 6)} AS pct_rank,
         |  ${sqlRound("cume_dist() OVER (PARTITION BY c_nationkey " +
             "ORDER BY bal ASC, c_custkey ASC)", 6)} AS cume_dist
         |FROM c ORDER BY c_nationkey, c_custkey""".stripMargin,

    "q_assoc_rules" -> {
      val conf = sqlRound("CAST(n_both AS DOUBLE) / na.n_item", 6)
      val lift = sqlRound(
        "CAST(n_both * n_users AS DOUBLE) / CAST(na.n_item * nc.n_item AS DOUBLE)", 6)
      s"""WITH ui AS (SELECT DISTINCT user_id,
         |  TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS item
         | FROM events),
         |uin AS (SELECT user_id, item FROM ui WHERE item IS NOT NULL),
         |iu AS (SELECT item, COUNT(*) AS n_item FROM uin GROUP BY item),
         |nu AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM uin),
         |pairs AS (SELECT a.item AS i, b.item AS j, COUNT(*) AS n_both
         | FROM uin a JOIN uin b ON a.user_id = b.user_id AND a.item < b.item
         | GROUP BY 1, 2 HAVING COUNT(*) >= 3),
         |directed AS (
         | SELECT i AS antecedent, j AS consequent, n_both FROM pairs
         | UNION ALL
         | SELECT j AS antecedent, i AS consequent, n_both FROM pairs)
         |SELECT antecedent, consequent, n_both, $conf AS confidence, $lift AS lift
         |FROM directed
         |CROSS JOIN nu
         |JOIN iu na ON na.item = directed.antecedent
         |JOIN iu nc ON nc.item = directed.consequent
         |WHERE $conf >= 0.2::DOUBLE
         |ORDER BY antecedent, consequent""".stripMargin
    },

    "q_psi_drift" ->
      s"""WITH o AS (SELECT
         |  CAST(floor(${sqlRound("o_totalprice", 2)} / 25000) AS BIGINT) AS bucket,
         |  CASE WHEN year(o_orderdate) = 1995 THEN 1 ELSE 0 END AS ia
         | FROM orders WHERE year(o_orderdate) IN (1995, 1996)),
         |cells AS (SELECT bucket, CAST(SUM(ia) AS BIGINT) AS n_a,
         |  CAST(SUM(1 - ia) AS BIGINT) AS n_b FROM o GROUP BY bucket),
         |tot AS (SELECT CAST(SUM(n_a) AS BIGINT) AS t_a,
         |  CAST(SUM(n_b) AS BIGINT) AS t_b FROM cells),
         |s AS (SELECT bucket, n_a, n_b,
         |  ${sqlRound("CAST(n_a AS DOUBLE)/t_a", 6)} AS share_a,
         |  ${sqlRound("CAST(n_b AS DOUBLE)/t_b", 6)} AS share_b
         | FROM cells CROSS JOIN tot),
         |k AS (SELECT *, CASE WHEN n_a > 0 AND n_b > 0 THEN
         |  ${sqlRound("(share_a - share_b) * ln(share_a/share_b)", 6)} END AS term
         | FROM s)
         |SELECT bucket, n_a, n_b, share_a, share_b, term,
         |  (SELECT ${sqlRound("CAST(SUM(CAST(term AS DECIMAL(28,6))) AS DOUBLE)", 4)}
         |   FROM k) AS psi
         |FROM k ORDER BY bucket""".stripMargin,

    "text_zipf_fit" ->
      s"""WITH u AS (SELECT unnest(${sqlTokens("text")}) AS token FROM documents),
         |v AS (SELECT token, COUNT(*) AS freq FROM u GROUP BY token
         |      ORDER BY freq DESC, token ASC LIMIT 200),
         |r AS (SELECT freq,
         |  ROW_NUMBER() OVER (ORDER BY freq DESC, token ASC) AS rank FROM v),
         |terms AS (SELECT
         |  ${sqlRound("log10(CAST(rank AS DOUBLE))", 6)} AS lx,
         |  ${sqlRound("log10(CAST(freq AS DOUBLE))", 6)} AS ly FROM r),
         |g AS (SELECT COUNT(*) AS n_terms,
         |  CAST(SUM(CAST(lx AS DECIMAL(28,6))) AS DOUBLE) AS sx,
         |  CAST(SUM(CAST(ly AS DECIMAL(28,6))) AS DOUBLE) AS sy,
         |  CAST(SUM(CAST(${sqlRound("lx*ly", 12)} AS DECIMAL(28,12))) AS DOUBLE)
         |    AS sxy,
         |  CAST(SUM(CAST(${sqlRound("lx*lx", 12)} AS DECIMAL(28,12))) AS DOUBLE)
         |    AS sxx,
         |  CAST(SUM(CAST(${sqlRound("ly*ly", 12)} AS DECIMAL(28,12))) AS DOUBLE)
         |    AS syy
         | FROM terms)
         |SELECT n_terms,
         | ${sqlRound("(n_terms*sxy - sx*sy) / (n_terms*sxx - sx*sx)", 6)} AS slope,
         | ${sqlRound("(sy - ((n_terms*sxy - sx*sy) / (n_terms*sxx - sx*sx)) * sx) " +
             "/ n_terms", 4)} AS intercept,
         | ${sqlRound("((n_terms*sxy - sx*sy) * (n_terms*sxy - sx*sy)) / " +
             "((n_terms*sxx - sx*sx) * (n_terms*syy - sy*sy))", 6)} AS r2
         |FROM g""".stripMargin,

    "q_mean_kpis" -> {
      val p = sqlRound("l_extendedprice", 2)
      s"""WITH g AS (SELECT l_returnflag, COUNT(*) AS n,
         |  CAST(SUM(CAST($p AS DECIMAL(18,2))) AS DOUBLE) AS s,
         |  CAST(SUM(CAST(${sqlRound(s"ln($p)", 6)} AS DECIMAL(28,6))) AS DOUBLE)
         |    AS sln,
         |  CAST(SUM(CAST(${sqlRound(s"CAST(1 AS DOUBLE)/($p)", 12)}
         |    AS DECIMAL(28,12))) AS DOUBLE) AS srec
         | FROM lineitem GROUP BY l_returnflag)
         |SELECT l_returnflag, n,
         |  ${sqlRound("s/n", 4)} AS mean_price,
         |  ${sqlRound("exp(sln/n)", 4)} AS geo_mean_price,
         |  ${sqlRound("CAST(n AS DOUBLE)/srec", 4)} AS harm_mean_price
         |FROM g ORDER BY l_returnflag""".stripMargin
    },

    "q_revenue_bridge" ->
      s"""WITH byc AS (
         |  SELECT o_custkey,
         |    SUM(CASE WHEN year(o_orderdate) = 1995
         |      THEN CAST(${sqlRound("o_totalprice", 2)} AS DECIMAL(18,2)) END) AS prev,
         |    SUM(CASE WHEN year(o_orderdate) = 1996
         |      THEN CAST(${sqlRound("o_totalprice", 2)} AS DECIMAL(18,2)) END) AS cur
         |  FROM orders GROUP BY o_custkey),
         |cents AS (
         |  SELECT o_custkey,
         |    CAST(COALESCE(prev, 0)*100 AS BIGINT) AS pc,
         |    CAST(COALESCE(cur, 0)*100 AS BIGINT) AS cc
         |  FROM byc),
         |cls AS (
         |  SELECT *, CASE WHEN pc = 0 THEN 'new'
         |    WHEN cc = 0 THEN 'churned'
         |    WHEN cc > pc THEN 'expansion'
         |    WHEN cc < pc THEN 'contraction'
         |    ELSE 'flat' END AS bridge_class
         |  FROM cents WHERE pc > 0 OR cc > 0)
         |SELECT bridge_class, COUNT(*) AS n_customers,
         |  CAST(SUM(cc - pc) AS BIGINT) / 100 AS net_delta
         |FROM cls GROUP BY bridge_class ORDER BY bridge_class""".stripMargin,

    "q_ltv_cohorts" ->
      s"""WITH ev AS (SELECT user_id, event_type,
         |  CAST(floor(epoch_ms(ts)/86400000) AS BIGINT) AS day, value FROM events),
         |fs AS (SELECT user_id,
         |  CAST(floor(MIN(day)/7) AS BIGINT) AS cohort_week
         | FROM ev GROUP BY user_id),
         |weekly AS (
         |  SELECT cohort_week,
         |    CAST(floor(day/7) AS BIGINT) - cohort_week AS week_index,
         |    COUNT(*) AS n_purchases,
         |    SUM(CAST(${sqlRound("value", 2)} AS DECIMAL(18,2))) AS rev
         |  FROM ev JOIN fs USING (user_id)
         |  WHERE event_type = 'purchase'
         |  GROUP BY 1, 2)
         |SELECT cohort_week, week_index, n_purchases, rev::DOUBLE AS rev,
         |  (SUM(rev) OVER (PARTITION BY cohort_week ORDER BY week_index ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::DOUBLE AS cum_ltv
         |FROM weekly ORDER BY cohort_week, week_index""".stripMargin,

    "q_decile_lift" ->
      s"""WITH base AS (
         |  SELECT o_custkey AS custkey,
         |    SUM(CASE WHEN year(o_orderdate) = 1995
         |      THEN CAST(${sqlRound("o_totalprice", 2)} AS DECIMAL(18,2)) END) AS spend95,
         |    MAX(CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END) AS resp
         |  FROM orders GROUP BY o_custkey),
         |b AS (SELECT custkey, spend95::DOUBLE AS score, resp FROM base
         |  WHERE CAST(COALESCE(spend95, 0)*100 AS BIGINT) > 0),
         |r AS (SELECT *, NTILE(10) OVER (ORDER BY score DESC, custkey ASC) AS decile
         |  FROM b),
         |t AS (SELECT decile, COUNT(*) AS n_cust,
         |    CAST(SUM(resp) AS BIGINT) AS n_resp
         |  FROM r GROUP BY decile),
         |tot AS (SELECT CAST(SUM(n_cust) AS BIGINT) AS tc,
         |    CAST(SUM(n_resp) AS BIGINT) AS tr FROM t),
         |c AS (SELECT a.decile, CAST(SUM(b.n_resp) AS BIGINT) AS cum_resp
         |  FROM t a JOIN t b ON b.decile <= a.decile GROUP BY a.decile)
         |SELECT t.decile, t.n_cust, t.n_resp,
         |  ${sqlRound("n_resp / n_cust", 6)} AS response_rate,
         |  ${sqlRound("(n_resp / n_cust) / (tr / tc)", 6)} AS lift,
         |  ${sqlRound("cum_resp / tr", 6)} AS cum_capture
         |FROM t JOIN c ON t.decile = c.decile CROSS JOIN tot
         |ORDER BY t.decile""".stripMargin,

    "q_boolean_search" -> {
      val terms = Seq("window", "hash", "stream")
      val cnt = terms.map(t => s"len(list_filter(toks, x -> x = '$t'))")
      s"""WITH t AS (SELECT doc_id, n_chars, ${sqlTokens("text")} AS toks
         |  FROM documents)
         |SELECT doc_id, ${cnt.mkString(" + ")} AS n_matches, n_chars
         |FROM t
         |WHERE ${cnt.map(c => s"$c > 0").mkString(" AND ")}
         |ORDER BY doc_id""".stripMargin
    },

    "q_iqr_outliers" ->
      s"""WITH e AS (SELECT event_type, event_id,
         |  ${sqlRound("value", 2)} AS v FROM events WHERE value IS NOT NULL),
         |f AS (SELECT event_type AS ft,
         |    ${sqlRound("quantile_cont(v, 0.25)", 4)} AS q1,
         |    ${sqlRound("quantile_cont(v, 0.75)", 4)} AS q3
         |  FROM e GROUP BY event_type),
         |w AS (SELECT ft, q1 - (q3 - q1)*1.5 AS lo, q3 + (q3 - q1)*1.5 AS hi FROM f)
         |SELECT event_type, event_id, v,
         |  ${sqlRound("lo", 4)} AS fence_lo, ${sqlRound("hi", 4)} AS fence_hi
         |FROM e JOIN w ON event_type = ft
         |WHERE v < lo OR v > hi
         |ORDER BY event_type, event_id""".stripMargin,

    "q_event_paths" ->
      """WITH s AS (
        |  SELECT user_id,
        |    list(event_type ORDER BY epoch_ms(ts) ASC, event_id ASC) AS seq
        |  FROM events GROUP BY user_id),
        |p AS (SELECT array_to_string(seq[1:3], '>') AS path FROM s)
        |SELECT path, COUNT(*) AS n_users
        |FROM p GROUP BY path
        |ORDER BY n_users DESC, path""".stripMargin,

    "q_active_streaks" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id,
        |    CAST(floor(epoch_ms(ts)/86400000) AS BIGINT) AS day
        |  FROM events),
        |isl AS (
        |  SELECT user_id, day,
        |    day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day ASC) AS island
        |  FROM days),
        |streaks AS (
        |  SELECT user_id, island, COUNT(*) AS len
        |  FROM isl GROUP BY user_id, island)
        |SELECT user_id, MAX(len) AS longest_streak, COUNT(*) AS n_streaks
        |FROM streaks GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_top_growth_parts" ->
      s"""WITH byp AS (
         |  SELECT p_brand, l_partkey,
         |    SUM(CASE WHEN year(l_shipdate) = 1995
         |      THEN CAST(${sqlRound("l_extendedprice*(1-l_discount)", 2)} AS DECIMAL(18,2)) END) AS prev,
         |    SUM(CASE WHEN year(l_shipdate) = 1996
         |      THEN CAST(${sqlRound("l_extendedprice*(1-l_discount)", 2)} AS DECIMAL(18,2)) END) AS cur
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  GROUP BY p_brand, l_partkey),
         |g AS (
         |  SELECT p_brand, l_partkey,
         |    prev::DOUBLE AS rev_1995, cur::DOUBLE AS rev_1996,
         |    ${sqlRound("(cur::DOUBLE)/(prev::DOUBLE)", 6)} AS growth
         |  FROM byp
         |  WHERE CAST(prev*100 AS BIGINT) > 0 AND CAST(cur*100 AS BIGINT) > 0),
         |r AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY p_brand
         |    ORDER BY growth DESC, l_partkey ASC) AS rn
         |  FROM g)
         |SELECT p_brand, l_partkey, rev_1995, rev_1996, growth, rn
         |FROM r WHERE rn <= 3 ORDER BY p_brand, rn""".stripMargin,

    "q_calendar_dim" ->
      """WITH b AS (
        |  SELECT MIN(CAST(floor(epoch_ms(o_orderdate)/86400000) AS BIGINT)) AS d0,
        |         MAX(CAST(floor(epoch_ms(o_orderdate)/86400000) AS BIGINT)) AS d1
        |  FROM orders),
        |s AS (SELECT UNNEST(generate_series(d0, d1)) AS day FROM b),
        |c AS (SELECT day, DATE '1970-01-01' + day::INTEGER AS cal_date FROM s)
        |SELECT day, cal_date, ((day + 3) % 7) + 1 AS dow_iso,
        |  CAST(year(cal_date) AS BIGINT) AS yr,
        |  CAST(month(cal_date) AS BIGINT) AS mon,
        |  CAST(quarter(cal_date) AS BIGINT) AS qtr,
        |  ((day + 3) % 7) + 1 >= 6 AS is_weekend
        |FROM c ORDER BY day""".stripMargin,

    "q_rfm_segments" ->
      s"""WITH base AS (
         |  SELECT o_custkey AS custkey,
         |    MAX(CAST(floor(epoch_ms(o_orderdate)/86400000) AS BIGINT)) AS recency_day,
         |    COUNT(*) AS frequency,
         |    ${sqlSumD("o_totalprice")} AS monetary
         |  FROM orders GROUP BY o_custkey),
         |s AS (
         |  SELECT *,
         |    NTILE(5) OVER (ORDER BY recency_day, custkey) AS r_score,
         |    NTILE(5) OVER (ORDER BY frequency, custkey) AS f_score,
         |    NTILE(5) OVER (ORDER BY monetary, custkey) AS m_score
         |  FROM base)
         |SELECT custkey, recency_day, frequency, monetary,
         |  r_score, f_score, m_score,
         |  CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
         |       WHEN r_score >= 4 AND f_score <= 2 THEN 'recent_light'
         |       WHEN r_score <= 2 AND f_score >= 4 THEN 'lapsing_loyal'
         |       WHEN r_score <= 2 AND m_score <= 2 THEN 'at_risk'
         |       ELSE 'regular' END AS segment
         |FROM s ORDER BY custkey""".stripMargin,

    "q_hierarchy_closure" ->
      """WITH RECURSIVE edges AS (
        |  SELECT DISTINCT 'O' || o_orderkey AS child, 'C' || o_custkey AS parent
        |  FROM orders
        |  UNION ALL
        |  SELECT DISTINCT 'C' || c_custkey, 'N' || c_nationkey FROM customer
        |  UNION ALL
        |  SELECT DISTINCT 'N' || n_nationkey, 'R' || n_regionkey FROM nation),
        |closure AS (
        |  SELECT child AS node, parent AS ancestor, 1 AS depth FROM edges
        |  UNION ALL
        |  SELECT c.node, e.parent, c.depth + 1
        |  FROM closure c JOIN edges e ON c.ancestor = e.child)
        |SELECT node, ancestor, depth FROM closure
        |ORDER BY node, ancestor, depth""".stripMargin,

    "q_cube_revenue" ->
      s"""SELECT l_returnflag, l_linestatus, ${sqlSumD("l_extendedprice")} AS revenue,
         | COUNT(*) AS n_lines
         |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q_grouping_sets" ->
      s"""SELECT l_returnflag, l_linestatus, ${sqlSumD("l_extendedprice")} AS revenue,
         | COUNT(*) AS n_lines
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
         |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q_range_frame" ->
      """SELECT event_id, user_id,
        | CAST(SUM(CAST(floor((value)*100 + 0.5)/100 AS DECIMAL(18,2))) OVER (
        |   PARTITION BY user_id ORDER BY epoch_ms(ts)
        |   RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rolling_value
        |FROM events ORDER BY event_id""".stripMargin,

    "q_repeat_buyers" ->
      """WITH b94 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
        | b95 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997)
        |SELECT o_custkey, 'repeat' AS status FROM (SELECT * FROM b94 INTERSECT SELECT * FROM b95)
        |UNION ALL
        |SELECT o_custkey, 'lapsed' AS status FROM (SELECT * FROM b94 EXCEPT SELECT * FROM b95)
        |ORDER BY status, o_custkey""".stripMargin,

    "q_full_outer" ->
      s"""SELECT COALESCE(c_custkey, o_custkey) AS custkey, c_name,
         | COALESCE(n_orders, 0) AS n_orders,
         | COALESCE(total_spent, 0.0) AS total_spent
         |FROM customer FULL OUTER JOIN (
         | SELECT o_custkey, COUNT(*) AS n_orders,
         |  ${sqlSumD("o_totalprice")} AS total_spent
         | FROM orders GROUP BY o_custkey) o ON c_custkey = o_custkey
         |ORDER BY custkey""".stripMargin,

    "q_salted_join" ->
      s"""SELECT p_brand AS brand, COUNT(*) AS n_items,
         | ${sqlSumD("l_extendedprice")} AS revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY p_brand ORDER BY brand""".stripMargin,

    "q_pivot_revenue" ->
      s"""SELECT l_returnflag,
         | ${sqlSumD("CASE WHEN l_linestatus='O' THEN l_extendedprice END")} AS revenue_o,
         | ${sqlSumD("CASE WHEN l_linestatus='F' THEN l_extendedprice END")} AS revenue_f
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_unpivot_part" ->
      """SELECT p_partkey, attribute, value FROM (
        | SELECT p_partkey, 'size' AS attribute, p_size::DOUBLE AS value FROM part
        | UNION ALL
        | SELECT p_partkey, 'retailprice', floor((p_retailprice)*100 + 0.5)/100 FROM part)
        |ORDER BY p_partkey, attribute""".stripMargin,

    "q_acctbal_quartiles" ->
      s"""SELECT quartile, COUNT(*) AS n_customers,
         | ${sqlSumD("c_acctbal")} AS total_balance
         |FROM (SELECT c_acctbal,
         |  CAST(ntile(4) OVER (ORDER BY c_acctbal ASC, c_custkey ASC) AS BIGINT) AS quartile
         | FROM customer)
         |GROUP BY quartile ORDER BY quartile""".stripMargin,

    "text_char_ngrams" ->
      """SELECT gram, COUNT(*) AS n FROM (
        | SELECT unnest(CASE WHEN length(text) < 3 THEN []
        |   ELSE list_transform(range(1, length(text) - 1), i -> substr(text, i, 3)) END) AS gram
        | FROM documents)
        |GROUP BY gram ORDER BY n DESC, gram ASC LIMIT 50""".stripMargin,

    "q_status_pivot" ->
      s"""SELECT l_returnflag,
         | ${sqlSumD("CASE WHEN l_linestatus='O' THEN l_extendedprice ELSE 0.0 END")} AS revenue_open,
         | ${sqlSumD("CASE WHEN l_linestatus='F' THEN l_extendedprice ELSE 0.0 END")} AS revenue_filled,
         | COUNT(*) FILTER (WHERE l_linestatus='O') AS n_open,
         | COUNT(*) FILTER (WHERE l_linestatus='F') AS n_filled
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_events_window" ->
      s"""SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms, event_type,
         | COUNT(*) AS n_events, ${sqlSumD("value")} AS total_value
         |FROM events GROUP BY 1, 2 ORDER BY window_start_ms, event_type""".stripMargin,

    "q_sessionize" ->
      s"""WITH g AS (
         | SELECT user_id, event_id, ts, value,
         |  CASE WHEN lag(ts) OVER w IS NULL
         |        OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000 THEN 1 ELSE 0 END AS new_s
         | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
         |s AS (
         | SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
         | FROM g)
         |SELECT user_id, session_seq, epoch_ms(MIN(ts)) AS session_start_ms,
         | epoch_ms(MAX(ts)) AS session_end_ms, COUNT(*) AS n_events,
         | ${sqlSumD("value")} AS total_value
         |FROM s GROUP BY user_id, session_seq ORDER BY user_id, session_seq""".stripMargin,

    "q_json_props" ->
      """SELECT event_id, CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k
        |FROM events WHERE CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) > 80
        |ORDER BY event_id""".stripMargin,

    "q_variant_props" ->
      """SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k, COUNT(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY k""".stripMargin,

    "q_asof_prior_signup" ->
      """WITH u AS (
        | SELECT user_id, ts, event_id, CAST(NULL AS BIGINT) AS sid, 1 AS isleft
        | FROM events WHERE event_type = 'purchase'
        | UNION ALL
        | SELECT user_id, ts, event_id, event_id AS sid, 0
        | FROM events WHERE event_type = 'signup'),
        |m AS (
        | SELECT *, last_value(sid IGNORE NULLS) OVER (
        |   PARTITION BY user_id ORDER BY ts ASC, isleft ASC, event_id ASC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prior_signup_id
        | FROM u)
        |SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
        | COALESCE(prior_signup_id, -1) AS prior_signup_id
        |FROM m WHERE isleft = 1 ORDER BY event_id""".stripMargin,

    "q_scd1_merge" ->
      """SELECT o_orderkey, version, totalprice FROM (
        | SELECT o_orderkey, version,
        |  floor((price)*100 + 0.5)/100 AS totalprice,
        |  row_number() OVER (PARTITION BY o_orderkey ORDER BY version DESC) AS rn
        | FROM (
        |  SELECT o_orderkey, o_totalprice AS price, 1 AS version FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice * 1.1, 2 FROM orders WHERE o_orderkey % 10 = 0))
        |WHERE rn = 1 ORDER BY o_orderkey""".stripMargin,

    "q_scd2_history" ->
      """SELECT o_orderkey, version, price, valid_from, valid_to,
        | valid_to IS NULL AS is_current FROM (
        | SELECT o_orderkey, version, price, version AS valid_from,
        |  lead(version) OVER (PARTITION BY o_orderkey ORDER BY version ASC) - 1 AS valid_to
        | FROM (
        |  SELECT o_orderkey, floor((o_totalprice)*100 + 0.5)/100 AS price, CAST(1 AS BIGINT) AS version FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, floor((o_totalprice*1.1)*100 + 0.5)/100, 2 FROM orders WHERE o_orderkey % 10 = 0))
        |ORDER BY o_orderkey, version""".stripMargin,

    "q_latest_event" ->
      """SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, event_type FROM (
        | SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q_split_assign" ->
      """SELECT doc_id,
        | CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |  (('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT % 100 + 100) % 100 AS h
        | FROM documents) ORDER BY doc_id""".stripMargin,

    "q_range_join" ->
      """SELECT e.event_id AS event_id, COUNT(*) AS n_incident_windows
        |FROM events e JOIN events r ON e.user_id = r.user_id
        | AND r.event_type = 'error'
        | AND epoch_ms(e.ts) BETWEEN epoch_ms(r.ts) - 120000
        |  AND epoch_ms(r.ts) + 120000
        |GROUP BY e.event_id ORDER BY event_id""".stripMargin,

    "q_lag_lead" ->
      """SELECT event_id, user_id,
        | epoch_ms(ts) - epoch_ms(lag(ts, 1) OVER
        |  (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)) AS ms_since_prev,
        | lead(event_type, 1) OVER
        |  (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS next_type
        |FROM events ORDER BY event_id""".stripMargin,

    "q_moving_avg" ->
      s"""SELECT event_id, user_id,
         | ${sqlRound("AVG(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)", 6)} AS moving_avg
         |FROM events ORDER BY event_id""".stripMargin,

    "q_median_price" ->
      """SELECT l_returnflag, floor((l_extendedprice)*100 + 0.5)/100 AS median_price FROM (
        | SELECT l_returnflag, l_extendedprice,
        |  row_number() OVER (PARTITION BY l_returnflag
        |    ORDER BY l_extendedprice ASC, l_orderkey ASC, l_linenumber ASC) AS rn,
        |  COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        | FROM lineitem)
        |WHERE rn = CAST(ceil(n / 2.0) AS BIGINT) ORDER BY l_returnflag""".stripMargin,

    "q_length_hist" ->
      """SELECT CAST(floor(n_chars / 50) * 50 AS BIGINT) AS bucket, COUNT(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY bucket""".stripMargin,

    "bronze_ingest" ->
      """SELECT c_custkey, c_name, c_mktsegment,
        | epoch_ms(TIMESTAMP '2026-01-01 00:00:00') AS ingest_ms
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "silver_flatten" ->
      """SELECT c_custkey, c_name AS profile_name, floor((c_acctbal)*100 + 0.5)/100 AS profile_acctbal,
        | n_name AS geo_nation
        |FROM customer JOIN nation ON c_nationkey = n_nationkey ORDER BY c_custkey""".stripMargin,

    "silver_explode" ->
      """SELECT o_orderkey, tag AS charges_tag, amt AS charges_amt FROM (
        | SELECT o_orderkey, 'base' AS tag, floor((o_totalprice*0.5)*100 + 0.5)/100 AS amt FROM orders
        | UNION ALL
        | SELECT o_orderkey, 'fee' AS tag, floor((o_totalprice*0.1)*100 + 0.5)/100 AS amt FROM orders)
        |ORDER BY o_orderkey, charges_tag""".stripMargin,

    "silver_orders" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, floor((o_totalprice)*100 + 0.5)/100 AS totalprice,
        | CAST(o_orderdate AS DATE) AS orderdate, o_orderpriority, 1 AS src
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "dedup_pk" ->
      """SELECT l_orderkey, l_linenumber, price FROM (
        | SELECT l_orderkey, l_linenumber, floor((l_extendedprice)*100 + 0.5)/100 AS price,
        |  row_number() OVER (PARTITION BY l_orderkey
        |    ORDER BY l_linenumber ASC, l_partkey ASC, l_suppkey ASC,
        |             l_extendedprice ASC) AS rn
        | FROM lineitem) WHERE rn = 1 ORDER BY l_orderkey""".stripMargin,

    "dim_customer" -> s"$dimCustomerSql ORDER BY customer_id",

    "dim_part" -> s"$dimPartSql ORDER BY product_id",

    "fact_sales" ->
      s"""WITH dim_c AS ($dimCustomerSql), dim_p AS ($dimPartSql)
         |SELECT l_orderkey AS order_id, l_linenumber AS line_number,
         | CAST(o_orderdate AS DATE) AS order_date,
         | customer_id, name AS customer_name, nation,
         | product_id, product_name, category,
         | l_quantity AS quantity, floor((l_extendedprice)*100 + 0.5)/100 AS price,
         | floor((l_extendedprice*(1-l_discount))*100 + 0.5)/100 AS net_revenue,
         | epoch_ms(TIMESTAMP '2026-01-01 00:00:00') AS gold_ingest_ms
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         | JOIN dim_c ON o_custkey = customer_id
         | JOIN dim_p ON l_partkey = product_id
         |WHERE l_orderkey IS NOT NULL AND l_quantity > 0
         | AND floor((l_extendedprice*(1-l_discount))*100 + 0.5)/100 > 0
         |ORDER BY order_id, line_number""".stripMargin,

    "q_pruned_read" ->
      """SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, event_type
        |FROM events WHERE event_type = 'click' ORDER BY event_id""".stripMargin,

    "dq_null_pk" ->
      "SELECT o_orderkey FROM orders WHERE o_orderkey IS NULL ORDER BY o_orderkey",

    "dq_whitespace" ->
      """SELECT p_partkey FROM part
        |WHERE length(p_name) != length(trim(p_name))
        |   OR length(p_brand) != length(trim(p_brand))
        |   OR length(p_type) != length(trim(p_type))
        |ORDER BY p_partkey""".stripMargin,

    "dq_date_range" ->
      """SELECT event_id FROM events
        |WHERE ts IS NULL OR ts < TIMESTAMP '2024-01-01 00:00:00'
        |   OR ts > TIMESTAMP '2024-01-15 00:00:00'
        |ORDER BY event_id""".stripMargin,

    "dq_nonpositive" ->
      """SELECT l_orderkey, l_linenumber, floor((l_discount)*100 + 0.5)/100 AS discount
        |FROM lineitem WHERE l_discount <= 0 ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "dq_format" ->
      """SELECT doc_id, lang FROM documents
        |WHERE NOT regexp_full_match(lang, '(en|de|fr|es)') ORDER BY doc_id""".stripMargin,

    "dq_email" ->
      s"""WITH em AS (SELECT c_custkey,
         |  CASE WHEN c_custkey % 7 = 0
         |   THEN lower(replace(c_name, '#', '.')) || '_at_example.com'
         |   ELSE lower(replace(c_name, '#', '.')) || '@example.com' END AS email
         | FROM customer)
         |SELECT c_custkey, email FROM em
         |WHERE NOT regexp_matches(email, '${QualityChecks.EmailRegex}')
         |ORDER BY c_custkey""".stripMargin,

    "dq_integer_qty" ->
      """SELECT event_id, floor((value)*100 + 0.5)/100 AS value FROM events
        |WHERE value % 1 != 0 ORDER BY event_id""".stripMargin,

    "dq_orphans" ->
      """SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem
        |WHERE NOT EXISTS (SELECT 1 FROM part
        |  WHERE p_partkey = l_partkey AND p_size <= 25)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "dq_profile" ->
      """WITH a AS (SELECT COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS k_nulls,
        |  COUNT(DISTINCT o_orderkey) AS k_dist,
        |  CAST(MIN(o_orderkey) AS DOUBLE) AS k_min, CAST(MAX(o_orderkey) AS DOUBLE) AS k_max,
        |  CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c_nulls,
        |  COUNT(DISTINCT o_custkey) AS c_dist,
        |  CAST(MIN(o_custkey) AS DOUBLE) AS c_min, CAST(MAX(o_custkey) AS DOUBLE) AS c_max,
        |  CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS t_nulls,
        |  COUNT(DISTINCT floor((o_totalprice)*100 + 0.5)/100) AS t_dist,
        |  MIN(floor((o_totalprice)*100 + 0.5)/100) AS t_min,
        |  MAX(floor((o_totalprice)*100 + 0.5)/100) AS t_max,
        |  CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS s_nulls,
        |  COUNT(DISTINCT o_orderstatus) AS s_dist
        | FROM orders)
        |SELECT 'o_orderkey' AS column_name, n AS n_rows, k_nulls AS n_nulls,
        |  k_dist AS n_distinct, k_min AS min_value, k_max AS max_value FROM a
        |UNION ALL SELECT 'o_custkey', n, c_nulls, c_dist, c_min, c_max FROM a
        |UNION ALL SELECT 'o_totalprice', n, t_nulls, t_dist, t_min, t_max FROM a
        |UNION ALL SELECT 'o_orderstatus', n, s_nulls, s_dist, NULL, NULL FROM a
        |ORDER BY column_name""".stripMargin,

    "dq_summary" ->
      """SELECT check_name, violation_count FROM (
        | SELECT 'null_pk_orders' AS check_name,
        |   (SELECT COUNT(*) FROM orders WHERE o_orderkey IS NULL) AS violation_count
        | UNION ALL SELECT 'whitespace_part',
        |   (SELECT COUNT(*) FROM part WHERE length(p_name)!=length(trim(p_name))
        |     OR length(p_brand)!=length(trim(p_brand)))
        | UNION ALL SELECT 'date_range_events',
        |   (SELECT COUNT(*) FROM events WHERE ts IS NULL
        |     OR ts < TIMESTAMP '2024-01-01 00:00:00' OR ts > TIMESTAMP '2024-01-15 00:00:00')
        | UNION ALL SELECT 'nonpositive_discount',
        |   (SELECT COUNT(*) FROM lineitem WHERE l_discount <= 0)
        | UNION ALL SELECT 'format_lang',
        |   (SELECT COUNT(*) FROM documents WHERE NOT regexp_full_match(lang, '(en|de|fr|es)'))
        | UNION ALL SELECT 'integer_value_events',
        |   (SELECT COUNT(*) FROM events WHERE value % 1 != 0))
        |ORDER BY check_name""".stripMargin,

    "text_tokens" ->
      s"""SELECT doc_id, len(${sqlTokens("text")}) AS n_tokens,
         | CAST(list_sum(list_transform(${sqlTokens("text")},
         |   t -> greatest(1, CAST(ceil(length(t)/4.0) AS BIGINT)))) AS BIGINT) AS n_bpe_tokens,
         | len(list_filter(${sqlTokens("text")}, t -> t IN ($stop))) AS n_stopwords
         |FROM documents ORDER BY doc_id""".stripMargin,

    "text_quality" -> textQualityOracle,

    "text_lang_id" -> textLangIdOracle,

    "text_lexicon_score" -> {
      val raw = TextFunctions.Lexicon.map { case (w, wt) =>
        s"($wt)*len(list_filter(toks, x -> x = '$w'))"
      }.mkString(" + ")
      val hits = TextFunctions.Lexicon.map(l => s"'${l._1}'").mkString(", ")
      s"""WITH t AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents)
         |SELECT doc_id,
         | len(list_filter(toks, x -> x IN ($hits))) AS n_hits,
         | CASE WHEN len(toks) = 0 THEN 0.0
         |      ELSE ${sqlRound(s"($raw)::DOUBLE / len(toks)", 6)} END AS lex_score
         |FROM t ORDER BY doc_id""".stripMargin
    },

    "text_fingerprint" ->
      """SELECT doc_id,
        | md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp_md5,
        | ('0x' || substr(md5(text), 1, 15))::BIGINT AS fp60
        |FROM documents ORDER BY doc_id""".stripMargin,

    "dedup_exact_text" ->
      """WITH u AS (
        | SELECT doc_id, text FROM documents
        | UNION ALL SELECT doc_id + 1099511627776, text FROM documents)
        |SELECT MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
        |FROM u GROUP BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
        |ORDER BY canonical_id""".stripMargin,

    "dedup_ngram_jaccard" -> ngramJaccardCappedOracle,
    // exact-equivalence grading of the prefix-filtered formulation
    "dedup_ppjoin" -> ngramJaccardOracle,

    "dedup_minhash" -> minHashOracle,

    "dedup_simhash" -> simHashOracle,

    "dedup_simhash_pairs" -> simHashPairsOracle,

    "dedup_clusters" -> dedupClustersOracle,
    "dedup_embed_cluster_purity" -> embedClusterPurityOracle,

    "dedup_cluster_sizes" -> dedupClusterSizesOracle,

    "dedup_apply" -> dedupApplyOracle,

    "dedup_pipeline" -> dedupPipelineOracle,
    "dedup_pipeline_semantic" -> semanticPipelineOracle,

    "pipeline_curate" -> pipelineCurateOracle,

    "q_label_centroid" ->
      """SELECT label, dim, COUNT(*) AS n_vectors,
        | CAST(SUM(CAST(floor((embedding[dim+1]::DOUBLE)*10000000000 + 0.5)/10000000000
        |   AS DECIMAL(28,10))) AS DOUBLE) AS dim_sum
        |FROM embeddings CROSS JOIN generate_series(0, 63) AS g(dim)
        |GROUP BY label, dim ORDER BY label, dim""".stripMargin,

    "q_classifier_eval" ->
      s"""WITH dims AS (SELECT vec_id, label, g.dim AS dim,
         |  ${sqlRound("embedding[g.dim+1]::DOUBLE", 10)} AS x
         | FROM embeddings CROSS JOIN generate_series(0, 63) AS g(dim)),
         |cent AS (SELECT label AS c_label, dim,
         |  ${sqlRound("CAST(SUM(CAST(x AS DECIMAL(28,10))) AS DOUBLE)/COUNT(*)", 10)} AS m
         | FROM dims GROUP BY label, dim),
         |cvec AS (SELECT c_label, list(m ORDER BY dim) AS mv
         | FROM cent GROUP BY c_label),
         |ev AS (SELECT vec_id, label,
         |  list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |scored AS (SELECT e.vec_id, e.label, c.c_label,
         |  ${sqlRound("list_inner_product(e.v, c.mv)" +
             "/(sqrt(list_inner_product(e.v, e.v))" +
             "*sqrt(list_inner_product(c.mv, c.mv)))", 9)} AS cos
         | FROM ev e CROSS JOIN cvec c),
         |pred AS (SELECT vec_id, label, c_label AS pred FROM (
         |  SELECT vec_id, label, c_label,
         |   row_number() OVER (PARTITION BY vec_id
         |     ORDER BY cos DESC, c_label ASC) AS rn FROM scored) WHERE rn = 1),
         |bt AS (SELECT label AS class, COUNT(*) AS n_true FROM pred GROUP BY 1),
         |bp AS (SELECT pred AS class, COUNT(*) AS n_pred FROM pred GROUP BY 1),
         |tpc AS (SELECT label AS class, COUNT(*) AS tp FROM pred
         |  WHERE label = pred GROUP BY 1),
         |base AS (SELECT class, COALESCE(n_true, 0) AS n_true,
         |  COALESCE(n_pred, 0) AS n_pred, COALESCE(tp, 0) AS tp
         | FROM bt FULL OUTER JOIN bp USING (class) FULL OUTER JOIN tpc USING (class)),
         |pr AS (SELECT class, n_true, n_pred, tp,
         |  CASE WHEN n_pred > 0
         |   THEN ${sqlRound("CAST(tp AS DOUBLE)/n_pred", 6)} END AS precision,
         |  CASE WHEN n_true > 0
         |   THEN ${sqlRound("CAST(tp AS DOUBLE)/n_true", 6)} END AS recall
         | FROM base)
         |SELECT class, n_true, n_pred, tp, precision, recall,
         | CASE WHEN precision + recall > 0
         |  THEN ${sqlRound("2*precision*recall/(precision + recall)", 6)}
         |  ELSE 0.0 END AS f1
         |FROM pr ORDER BY class""".stripMargin,

    "text_vocab" ->
      s"""SELECT token, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
         |FROM (SELECT doc_id, unnest(${sqlTokens("text")}) AS token FROM documents)
         |GROUP BY token ORDER BY n_occurrences DESC, token ASC LIMIT 100""".stripMargin,

    "dedup_embed_cosine" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_inner_product(a.v, b.v)
        |  / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))) >= 0.45
        |ORDER BY id_a, id_b""".stripMargin,

    "ann_topk" -> annTopkOracle,

    // composes the two graded runs as subqueries: exact left-joins
    // approx on (query, neighbor), hits counted per query
    "ann_recall_eval" ->
      s"""WITH exact AS (SELECT query_id, neighbor_id FROM ($annTopkOracle) t1),
         |approx AS (SELECT query_id, neighbor_id FROM ($annLshOracle) t2)
         |SELECT e.query_id, CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
         | ${sqlRound("CAST(COUNT(a.neighbor_id) AS DOUBLE)/5", 6)} AS recall_at_5
         |FROM exact e LEFT JOIN approx a
         | ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
         |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin,

    "ann_topk_filtered" ->
      """WITH e AS (SELECT vec_id, label,
        |  list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |scored AS (
        | SELECT q.vec_id AS query_id, q.label AS label, c.vec_id AS corpus_id,
        |  list_inner_product(q.v, c.v)
        |   / (sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(c.v, c.v))) AS cos
        | FROM e q JOIN e c ON q.vec_id < 100 AND c.label = q.label
        |  AND c.vec_id != q.vec_id)
        |SELECT query_id, label, rank, neighbor_id FROM (
        | SELECT query_id, label, corpus_id AS neighbor_id,
        |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id ASC) AS rank
        | FROM scored) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "ann_lsh" -> annLshOracle,
    "ann_ivf" -> annIvfOracle,

    "ann_ivf_recall" ->
      s"""WITH exact AS (SELECT query_id, neighbor_id FROM ($annTopkOracle) t1),
         |approx AS (SELECT query_id, neighbor_id FROM ($annIvfOracle) t2)
         |SELECT e.query_id, CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
         | ${sqlRound("CAST(COUNT(a.neighbor_id) AS DOUBLE)/5", 6)} AS recall_at_5
         |FROM exact e LEFT JOIN approx a
         | ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
         |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin,
    "ann_ivf_kmeans" -> annIvfKmeansOracle,
    "dedup_embed_cosine_lsh" -> embedCosineLshOracle,

    "q_embed_quantize" -> {
      val scale = "(CASE WHEN amax = 0 THEN 0.0 ELSE amax/127.0 END)"
      val err = s"""(CASE WHEN amax = 0 THEN 0.0 ELSE
         | list_max(list_transform(v, x ->
         |  abs(x - least(greatest(floor(x/$scale + 0.5), -127), 127)*$scale)))
         | END)""".stripMargin
      s"""SELECT vec_id, ${sqlRound(scale, 9)} AS scale,
         | ${sqlRound(err, 9)} AS max_err
         |FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
         |  list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS amax
         | FROM embeddings)
         |ORDER BY vec_id""".stripMargin
    },

    "q_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE (('0x' || substr(md5('sample:' || doc_id), 1, 15))::BIGINT % 100 + 100) % 100 < 20
        |ORDER BY doc_id""".stripMargin,

    "q_weighted_sample" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE ((('0x' || substr(md5('wsample:' || doc_id), 1, 15))::BIGINT % 1000000 + 1000000) % 1000000) / 1000000.0
        |   < least(n_chars / 500.0, 1.0)
        |ORDER BY doc_id""".stripMargin,

    "q_shuffle_order" ->
      """WITH h AS (SELECT doc_id,
        |  ('0x' || substr(md5('shuffle:' || doc_id), 1, 15))::BIGINT AS hv
        | FROM documents)
        |SELECT doc_id, ((hv % 64) + 64) % 64 AS shard,
        | row_number() OVER (PARTITION BY ((hv % 64) + 64) % 64
        |   ORDER BY hv ASC, doc_id ASC) AS pos
        |FROM h ORDER BY shard, pos""".stripMargin,

    "dedup_decontaminate" ->
      """WITH fp AS (SELECT doc_id,
        |  md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS f FROM documents)
        |SELECT doc_id FROM fp
        |WHERE doc_id % 97 != 0
        |  AND f NOT IN (SELECT f FROM fp WHERE doc_id % 97 = 0)
        |ORDER BY doc_id""".stripMargin,

    "dedup_incremental" ->
      """WITH fp AS (SELECT doc_id,
        |  md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS f FROM documents),
        |batch AS (SELECT MIN(doc_id) AS doc_id, f FROM fp
        |  WHERE doc_id % 10 = 3 GROUP BY f)
        |SELECT doc_id FROM batch
        |WHERE f NOT IN (SELECT f FROM fp WHERE doc_id % 10 != 3)
        |ORDER BY doc_id""".stripMargin,

    // bloom prefilter + exact rescue = exact result: same oracle as
    // the exact formulation
    "dedup_decontaminate_bloom" ->
      """WITH fp AS (SELECT doc_id,
        |  md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS f FROM documents)
        |SELECT doc_id FROM fp
        |WHERE doc_id % 97 != 0
        |  AND f NOT IN (SELECT f FROM fp WHERE doc_id % 97 = 0)
        |ORDER BY doc_id""".stripMargin,

    "text_chunk" ->
      s"""WITH t AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
         |e AS (SELECT doc_id, toks, unnest(range(0, len(toks), 32)) AS s
         |  FROM t WHERE len(toks) > 0),
         |c AS (SELECT doc_id, CAST(s/32 AS BIGINT) AS chunk_idx,
         |  toks[s+1:s+40] AS ck FROM e)
         |SELECT doc_id, chunk_idx, len(ck) AS n_tokens,
         | array_to_string(ck, ' ') AS chunk_text
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "text_redact_pii" -> textRedactPiiOracle,

    "dedup_decontaminate_ngram" -> decontaminateNgramOracle,

    "text_dup_spans" -> textDupSpansOracle,

    "text_repetition" -> {
      val toks = sqlTokens("text")
      val rep = s"CASE WHEN len($toks) = 0 THEN 0.0 ELSE 1.0 - len(list_distinct($toks))::DOUBLE / len($toks) END"
      s"""SELECT doc_id, ${graft.functions.Det.sqlRound(rep, 6)} AS repetition_ratio
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "text_tfidf" -> {
      val score = "tf.tf * (ln((n.n_docs + 1.0)/(df.df + 1.0)) + 1.0)"
      s"""WITH toks AS (SELECT doc_id, unnest(${sqlTokens("text")}) AS token FROM documents),
         |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token),
         |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |scored AS (SELECT tf.doc_id, tf.token, ${sqlRound(score, 6)} AS tfidf
         |  FROM tf JOIN df USING (token) CROSS JOIN n)
         |SELECT doc_id, rank, token, tfidf FROM (
         |  SELECT doc_id, token, tfidf,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rank
         |  FROM scored)
         |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin
    },

    "text_bm25" -> {
      val ts = "ln(1.0 + (s.n_docs - d.df + 0.5)/(d.df + 0.5))" +
        " * (q.tf * (1.2 + 1.0)) / (q.tf + 1.2*(1.0 - 0.75 + 0.75*l.dl/s.avgdl))"
      s"""WITH toks AS (SELECT doc_id, unnest(${sqlTokens("text")}) AS token FROM documents),
         |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token),
         |qtf AS (SELECT * FROM tf WHERE token IN ('spark','join','fast','vector')),
         |df AS (SELECT token, COUNT(*) AS df FROM qtf GROUP BY token),
         |lens AS (SELECT doc_id, len(${sqlTokens("text")})::DOUBLE AS dl FROM documents),
         |stats AS (SELECT COUNT(*)::DOUBLE AS n_docs, SUM(dl)/COUNT(*) AS avgdl FROM lens),
         |per AS (SELECT q.doc_id, CAST(${sqlRound(ts, 10)} AS DECIMAL(28,10)) AS ts
         |  FROM qtf q JOIN df d USING (token) JOIN lens l ON l.doc_id = q.doc_id
         |  CROSS JOIN stats s),
         |scored AS (SELECT doc_id, ${sqlRound("CAST(SUM(ts) AS DOUBLE)", 6)} AS bm25
         |  FROM per GROUP BY doc_id)
         |SELECT doc_id, bm25 FROM scored
         |ORDER BY bm25 DESC, doc_id ASC LIMIT 20""".stripMargin
    },

    // both legs replicate their stand-alone oracles (text_bm25 /
    // ann_topk patterns); ranks are correlated counts over the 20-row
    // legs, fusion is the standard RRF k=60
    "text_hybrid_rrf" -> {
      val ts = "ln(1.0 + (s.n_docs - d.df + 0.5)/(d.df + 0.5))" +
        " * (q.tf * (1.2 + 1.0)) / (q.tf + 1.2*(1.0 - 0.75 + 0.75*l.dl/s.avgdl))"
      s"""WITH toks AS (SELECT doc_id, unnest(${sqlTokens("text")}) AS token FROM documents),
         |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token),
         |qtf AS (SELECT * FROM tf WHERE token IN ('spark','join','fast','vector')),
         |df AS (SELECT token, COUNT(*) AS df FROM qtf GROUP BY token),
         |lens AS (SELECT doc_id, len(${sqlTokens("text")})::DOUBLE AS dl FROM documents),
         |stats AS (SELECT COUNT(*)::DOUBLE AS n_docs, SUM(dl)/COUNT(*) AS avgdl FROM lens),
         |per AS (SELECT q.doc_id, CAST(${sqlRound(ts, 10)} AS DECIMAL(28,10)) AS ts
         |  FROM qtf q JOIN df d USING (token) JOIN lens l ON l.doc_id = q.doc_id
         |  CROSS JOIN stats s),
         |bscored AS (SELECT doc_id, ${sqlRound("CAST(SUM(ts) AS DOUBLE)", 6)} AS bm25
         |  FROM per GROUP BY doc_id),
         |lex AS (SELECT doc_id, bm25 FROM bscored
         |  ORDER BY bm25 DESC, doc_id ASC LIMIT 20),
         |lexr AS (SELECT a.doc_id, (SELECT COUNT(*) FROM lex b
         |    WHERE b.bm25 > a.bm25 OR (b.bm25 = a.bm25 AND b.doc_id < a.doc_id))
         |    + 1 AS lex_rank FROM lex a),
         |e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
         |  FROM embeddings),
         |qv AS (SELECT v FROM e WHERE vec_id = 0),
         |vscored AS (SELECT c.vec_id AS doc_id,
         |  list_inner_product(c.v, qv.v)
         |   / (sqrt(list_inner_product(c.v, c.v)) * sqrt(list_inner_product(qv.v, qv.v)))
         |   AS cos
         | FROM e c CROSS JOIN qv WHERE c.vec_id != 0),
         |vec AS (SELECT doc_id, cos FROM vscored
         |  ORDER BY cos DESC, doc_id ASC LIMIT 20),
         |vecr AS (SELECT a.doc_id, (SELECT COUNT(*) FROM vec b
         |    WHERE b.cos > a.cos OR (b.cos = a.cos AND b.doc_id < a.doc_id))
         |    + 1 AS vec_rank FROM vec a)
         |SELECT doc_id, lex_rank, vec_rank,
         | ${sqlRound("COALESCE(1.0/(60 + lex_rank), 0) + COALESCE(1.0/(60 + vec_rank), 0)", 6)} AS rrf
         |FROM lexr FULL OUTER JOIN vecr USING (doc_id)
         |ORDER BY rrf DESC, doc_id ASC""".stripMargin
    },

    "q_window_stats" ->
      s"""SELECT c_custkey, c_nationkey,
         | ${sqlRound("percent_rank() OVER ord", 6)} AS pct_rank,
         | ${sqlRound("cume_dist() OVER ord", 6)} AS cum_dist,
         | CAST(ntile(4) OVER ord AS BIGINT) AS quartile,
         | first_value(c_custkey) OVER w_full AS poorest_custkey,
         | last_value(c_custkey) OVER w_full AS richest_custkey
         |FROM customer
         |WINDOW ord AS (PARTITION BY c_nationkey
         |    ORDER BY floor(c_acctbal*100 + 0.5)/100 ASC, c_custkey ASC),
         |  w_full AS (PARTITION BY c_nationkey
         |    ORDER BY floor(c_acctbal*100 + 0.5)/100 ASC, c_custkey ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         |ORDER BY c_custkey""".stripMargin,

    "dedup_levenshtein" ->
      """WITH base AS (
        |  SELECT doc_id, lang, n_chars, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1099511627776, lang, n_chars, 'zz' || substr(text, 3) FROM documents),
        |blocked AS (SELECT doc_id, lang, floor(n_chars/8) AS band,
        |    substr(text, 1, 40) AS prefix FROM base)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.prefix, b.prefix) AS BIGINT) AS lev_dist
        |FROM blocked a JOIN blocked b
        |  ON a.lang = b.lang AND a.band = b.band AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.prefix, b.prefix) <= 6
        |ORDER BY id_a, id_b""".stripMargin,

    "text_pmi_bigrams" -> {
      val pmi = "ln(n_ab::DOUBLE * n_uni * n_uni / (n_bg::DOUBLE * n_a * n_b))"
      s"""WITH t AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
         |bg AS (SELECT toks[i] AS w1, toks[i+1] AS w2
         |  FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM t WHERE len(toks) >= 2)),
         |cab AS (SELECT w1, w2, COUNT(*) AS n_ab FROM bg GROUP BY w1, w2),
         |uni AS (SELECT unnest(toks) AS w FROM t),
         |cu AS (SELECT w, COUNT(*) AS n_w FROM uni GROUP BY w),
         |totals AS (SELECT (SELECT SUM(n_w) FROM cu) AS n_uni,
         |  (SELECT SUM(n_ab) FROM cab) AS n_bg)
         |SELECT w1, w2, n_ab, ${sqlRound(pmi, 6)} AS pmi
         |FROM cab
         |JOIN (SELECT w AS wa, n_w AS n_a FROM cu) ca ON ca.wa = cab.w1
         |JOIN (SELECT w AS wb, n_w AS n_b FROM cu) cb ON cb.wb = cab.w2
         |CROSS JOIN totals
         |WHERE n_ab >= 5
         |ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT 50""".stripMargin
    },

    "q_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
        |v AS (SELECT user_id, MIN(ms) AS first_view_ms FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, MIN(ms) AS first_click_ms FROM e
        |  JOIN v ON e.user_id = v.user_id
        |  WHERE event_type = 'click' AND ms > first_view_ms GROUP BY e.user_id),
        |p AS (SELECT e.user_id, MIN(ms) AS first_purchase_ms FROM e
        |  JOIN c ON e.user_id = c.user_id
        |  WHERE event_type = 'purchase' AND ms > first_click_ms GROUP BY e.user_id)
        |SELECT v.user_id, v.first_view_ms, c.first_click_ms, p.first_purchase_ms
        |FROM v
        |LEFT JOIN c ON v.user_id = c.user_id
        |LEFT JOIN p ON v.user_id = p.user_id
        |ORDER BY v.user_id""".stripMargin,

    "q_sliding_window" ->
      s"""WITH ev AS (SELECT epoch_ms(ts) AS ms, event_type, value FROM events),
         |hopped AS (SELECT
         |   CAST((floor(ms/900000) - k)*900000 AS BIGINT) AS window_start_ms,
         |   event_type, value
         |  FROM ev CROSS JOIN (SELECT unnest(range(0, 4)) AS k))
         |SELECT window_start_ms, event_type, COUNT(*) AS n_events,
         | ${sqlSumD("value")} AS total_value
         |FROM hopped GROUP BY 1, 2
         |ORDER BY window_start_ms, event_type""".stripMargin,

    "q_table_checksum" ->
      """WITH rows_c AS (SELECT l_returnflag, l_linestatus,
        |  ('0x' || substr(md5(
        |    l_orderkey || '|' || l_linenumber || '|' ||
        |    CAST(floor(l_quantity*100 + 0.5) AS BIGINT) || '|' ||
        |    CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) || '|' ||
        |    l_returnflag || '|' || l_linestatus), 1, 15))::BIGINT::DECIMAL(38,0) AS h
        | FROM lineitem)
        |SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
        | CAST(SUM(h) AS VARCHAR) AS checksum
        |FROM rows_c GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_retention_cohorts" ->
      """WITH ev AS (SELECT DISTINCT user_id,
        |  CAST(floor(floor(epoch_ms(ts)/86400000)/7) AS BIGINT) AS week FROM events),
        |cohorts AS (SELECT user_id, MIN(week) AS cohort_week FROM ev GROUP BY user_id)
        |SELECT c.cohort_week, e.week - c.cohort_week AS week_offset,
        |  COUNT(DISTINCT e.user_id) AS n_active_users
        |FROM ev e JOIN cohorts c ON e.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin,

    "q_gapfill_daily" ->
      s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n_orders,
         |  ${sqlSumD("o_totalprice")} AS total_price FROM orders GROUP BY 1),
         |cal AS (SELECT CAST(unnest(generate_series(
         |  (SELECT MIN(day) FROM daily)::TIMESTAMP,
         |  (SELECT MAX(day) FROM daily)::TIMESTAMP, INTERVAL 1 DAY)) AS DATE) AS day)
         |SELECT cal.day, COALESCE(n_orders, 0) AS n_orders,
         |  COALESCE(total_price, 0.0) AS total_price
         |FROM cal LEFT JOIN daily ON cal.day = daily.day
         |ORDER BY cal.day""".stripMargin,

    "q_percentiles" -> {
      def q(p: String) = sqlRound(s"quantile_cont(p, $p)", 4)
      s"""WITH o AS (SELECT o_orderpriority, floor(o_totalprice*100 + 0.5)/100 AS p FROM orders)
         |SELECT o_orderpriority, COUNT(*) AS n_orders,
         |  ${q("0.25")} AS p25, ${q("0.5")} AS p50, ${q("0.75")} AS p75
         |FROM o GROUP BY 1 ORDER BY o_orderpriority""".stripMargin
    },

    "q_order_gap_stats" -> {
      def q(p: String) = sqlRound(s"quantile_cont(gap_days, $p)", 4)
      s"""WITH d AS (SELECT o_custkey, o_orderkey, o_orderpriority,
         |  CAST(floor(epoch_ms(o_orderdate)/86400000) AS BIGINT) AS day
         | FROM orders),
         |g AS (SELECT o_orderpriority,
         |  day - lag(day) OVER (PARTITION BY o_custkey
         |    ORDER BY day ASC, o_orderkey ASC) AS gap_days
         | FROM d)
         |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_gaps,
         | ${sqlRound("CAST(SUM(gap_days) AS DOUBLE)/COUNT(*)", 4)} AS mean_gap_days,
         | ${q("0.25")} AS p25, ${q("0.5")} AS p50, ${q("0.75")} AS p75
         |FROM g WHERE gap_days IS NOT NULL
         |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin
    },

    "q_zscore_outliers" ->
      s"""WITH e AS (SELECT event_id, event_type, floor(value*100 + 0.5)/100 AS v
         |  FROM events WHERE value IS NOT NULL),
         |st AS (SELECT event_type, COUNT(*) AS n,
         |  CAST(SUM(CAST(floor(v*100 + 0.5)/100 AS DECIMAL(18,2))) AS DOUBLE) AS s1,
         |  CAST(SUM(CAST(floor(v*v*10000 + 0.5)/10000 AS DECIMAL(28,4))) AS DOUBLE) AS s2
         |  FROM e GROUP BY 1),
         |m AS (SELECT event_type, s1/n AS mean,
         |  sqrt((s2 - s1*s1/n) / (n - 1)) AS sd FROM st)
         |SELECT event_id, e.event_type, v,
         |  ${sqlRound("(v - mean)/sd", 4)} AS z
         |FROM e JOIN m ON e.event_type = m.event_type
         |WHERE sd > 0 AND abs(${sqlRound("(v - mean)/sd", 4)}) > 2.5
         |ORDER BY event_id""".stripMargin,

    "dedup_substring_stats" ->
      s"""$substringGramsCte
         |SELECT doc_id, COUNT(*) AS n_windows,
         |  CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_windows
         |FROM grams JOIN occ USING (g)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "dedup_substring_filter" ->
      s"""$substringGramsCte,
         |st AS (
         | SELECT doc_id, COUNT(*) AS n_windows,
         |  CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_windows
         | FROM grams JOIN occ USING (g) GROUP BY doc_id)
         |SELECT doc_id, n_windows, dup_windows FROM st
         |WHERE dup_windows * 100 <= n_windows * 20
         |ORDER BY doc_id""".stripMargin,

    "dsir_select" -> dsirOracle,

    "dedup_tokenset" ->
      s"""WITH f AS (SELECT doc_id,
         |  md5(array_to_string(list_sort(list_distinct(${sqlTokens("text")})), ' ')) AS fp
         | FROM documents)
         |SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_docs, fp
         |FROM f GROUP BY fp ORDER BY keep_id""".stripMargin,

    "q_embed_project" -> embedProjectOracle,

    "q_mode_segment" ->
      """SELECT c_nationkey, c_mktsegment AS mode_segment, n_customers FROM (
        | SELECT c_nationkey, c_mktsegment, COUNT(*) AS n_customers,
        |  row_number() OVER (PARTITION BY c_nationkey
        |    ORDER BY COUNT(*) DESC, c_mktsegment ASC) AS rn
        | FROM customer GROUP BY 1, 2)
        |WHERE rn = 1 ORDER BY c_nationkey""".stripMargin,

    "q_string_agg" ->
      """SELECT o_orderpriority,
        | string_agg(DISTINCT o_orderstatus, '|' ORDER BY o_orderstatus) AS statuses,
        | COUNT(*) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,

    "q_weekday_revenue" ->
      s"""SELECT CAST((datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + 4) % 7 AS BIGINT) AS dow,
         | COUNT(*) AS n_orders, ${sqlSumD("o_totalprice")} AS revenue
         |FROM orders GROUP BY 1 ORDER BY dow""".stripMargin,

    "q_trimmed_mean" ->
      s"""WITH o AS (SELECT o_orderpriority, floor(o_totalprice*100 + 0.5)/100 AS p FROM orders),
         |b AS (SELECT o_orderpriority, quantile_cont(p, 0.1) AS lo,
         |  quantile_cont(p, 0.9) AS hi FROM o GROUP BY 1)
         |SELECT o.o_orderpriority, COUNT(*) AS n_kept, ${sqlAvgD("p")} AS trimmed_mean
         |FROM o JOIN b ON o.o_orderpriority = b.o_orderpriority
         |WHERE p >= lo AND p <= hi
         |GROUP BY 1 ORDER BY o.o_orderpriority""".stripMargin,

    "dedup_containment" -> containmentOracle,

    "q_pack_sequences" ->
      s"""WITH h AS (SELECT doc_id,
        |  ('0x' || substr(md5('pack:' || doc_id), 1, 15))::BIGINT AS hv,
        |  len(${sqlTokens("text")})::BIGINT AS n_tokens
        | FROM documents)
        |SELECT doc_id, ((hv % 16) + 16) % 16 AS shard,
        | CAST(floor(COALESCE(SUM(n_tokens) OVER (
        |   PARTITION BY ((hv % 16) + 16) % 16 ORDER BY hv ASC, doc_id ASC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512) AS BIGINT) AS pack_id,
        | n_tokens
        |FROM h ORDER BY doc_id""".stripMargin,

    "q_domain_mix" ->
      """WITH c AS (SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY lang),
        |t AS (SELECT COUNT(*) AS n_total FROM documents),
        |f AS (SELECT lang, least(1.0::DOUBLE,
        |   (CASE lang WHEN 'en' THEN 0.5::DOUBLE ELSE 0.125::DOUBLE END) * n_total / n_lang) AS f
        |  FROM c, t)
        |SELECT d.doc_id, d.lang FROM documents d JOIN f ON d.lang = f.lang
        |WHERE ((('0x' || substr(md5('mix:' || doc_id), 1, 15))::BIGINT % 1000000 + 1000000) % 1000000) / 1000000.0 < f.f
        |ORDER BY doc_id""".stripMargin,

    "q_corr_price_qty" -> {
      val x = s"CAST(${sqlRound("l_quantity", 2)} AS DECIMAL(18,2))"
      val y = s"CAST(${sqlRound("l_extendedprice", 2)} AS DECIMAL(18,2))"
      s"""WITH g AS (SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM($x) AS DOUBLE) AS sx, CAST(SUM($y) AS DOUBLE) AS sy,
        |  CAST(SUM($x * $y) AS DOUBLE) AS sxy,
        |  CAST(SUM($x * $x) AS DOUBLE) AS sxx,
        |  CAST(SUM($y * $y) AS DOUBLE) AS syy
        | FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        | ${sqlRound("(n*sxy - sx*sy) / (n*n)", 4)} AS covar_pop,
        | ${sqlRound("(n*sxy - sx*sy) / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy))", 6)} AS corr
        |FROM g ORDER BY l_returnflag""".stripMargin
    },

    // cross-formulation equivalence: the oracle ranks the FULL group
    // by the hash — the Spark plan's broadcast-threshold prefilter
    // must select exactly the same k rows
    "q_group_sample" ->
      """WITH h AS (SELECT doc_id, lang,
        |  ((('0x' || substr(md5('gsample:' || doc_id), 1, 15))::BIGINT % 1000000) + 1000000) % 1000000 AS u
        | FROM documents)
        |SELECT doc_id, lang, sample_rank FROM (
        | SELECT doc_id, lang,
        |  row_number() OVER (PARTITION BY lang ORDER BY u ASC, doc_id ASC) AS sample_rank
        | FROM h)
        |WHERE sample_rank <= 25 ORDER BY lang, sample_rank""".stripMargin,

    "q_item_cooccurrence" -> {
      val lift = sqlRound(
        "CAST(n_both * n_users AS DOUBLE) / CAST(na.n_item * nb.n_item AS DOUBLE)", 6)
      s"""WITH ui AS (SELECT DISTINCT user_id,
        |  TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS item
        | FROM events),
        |uin AS (SELECT user_id, item FROM ui WHERE item IS NOT NULL),
        |iu AS (SELECT item, COUNT(*) AS n_item FROM uin GROUP BY item),
        |nu AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM uin),
        |pairs AS (SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_both
        | FROM uin a JOIN uin b ON a.user_id = b.user_id AND a.item < b.item
        | GROUP BY 1, 2 HAVING COUNT(*) >= 3)
        |SELECT item_a, item_b, n_both, $lift AS lift
        |FROM pairs
        |CROSS JOIN nu
        |JOIN iu na ON na.item = pairs.item_a
        |JOIN iu nb ON nb.item = pairs.item_b
        |ORDER BY item_a, item_b""".stripMargin
    },

    "q_scd2_pointintime" ->
      """WITH hist AS (
        | SELECT k, price, version, version AS valid_from,
        |  lead(version) OVER (PARTITION BY k ORDER BY version ASC) - 1 AS valid_to
        | FROM (
        |  SELECT o_orderkey AS k, floor((o_totalprice)*100 + 0.5)/100 AS price,
        |   CAST(1 AS BIGINT) AS version FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, floor((o_totalprice*1.1)*100 + 0.5)/100, 2
        |  FROM orders WHERE o_orderkey % 10 = 0)),
        |probes AS (SELECT o_orderkey, 1 + (o_orderkey % 2) AS asof_v FROM orders)
        |SELECT p.o_orderkey, p.asof_v, h.version, h.price
        |FROM probes p JOIN hist h ON p.o_orderkey = h.k
        | AND p.asof_v >= h.valid_from
        | AND (h.valid_to IS NULL OR p.asof_v <= h.valid_to)
        |ORDER BY p.o_orderkey""".stripMargin,

    "q_pagerank_items" -> pagerankOracle,

    "q_mad_outliers" ->
      s"""WITH e AS (SELECT event_type, ${sqlRound("value", 2)} AS v
        |  FROM events WHERE value IS NOT NULL),
        |med AS (SELECT event_type,
        |  ${sqlRound("quantile_cont(v, 0.5)", 4)} AS median
        | FROM e GROUP BY event_type),
        |dev AS (SELECT e.event_type, e.v, med.median,
        |  ${sqlRound("abs(e.v - med.median)", 4)} AS d
        | FROM e JOIN med ON e.event_type = med.event_type),
        |mad AS (SELECT event_type, ${sqlRound("quantile_cont(d, 0.5)", 4)} AS mad
        | FROM dev GROUP BY event_type)
        |SELECT dev.event_type, COUNT(*) AS n, MIN(dev.median) AS median,
        | MIN(mad.mad) AS mad,
        | CAST(SUM(CASE WHEN dev.d > (3.0::DOUBLE * 1.4826::DOUBLE) * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM dev JOIN mad ON dev.event_type = mad.event_type
        |GROUP BY dev.event_type ORDER BY dev.event_type""".stripMargin,

    "q_ewma_value" -> {
      val decay = (0 to 7).map(k =>
        s"WHEN ${"%d".format(k)} THEN ${math.pow(2.0, -k)}").mkString(" ")
      s"""WITH e AS (SELECT event_id, user_id, ${sqlRound("value", 2)} AS v,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn
        | FROM events WHERE value IS NOT NULL)
        |SELECT cur.event_id,
        | ${sqlRound("CAST(SUM(CAST(" + sqlRound("past.v * (CASE cur.rn - past.rn " + decay + " END)", 8) + " AS DECIMAL(28,8))) AS DOUBLE)", 6)} AS ewma
        |FROM e cur JOIN e past ON cur.user_id = past.user_id
        | AND past.rn <= cur.rn AND past.rn > cur.rn - 8
        |GROUP BY cur.event_id ORDER BY cur.event_id""".stripMargin
    },

    // bucketing is a physical layout choice — the oracle is the plain
    // join, and the bucketed plan must reproduce it bit-for-bit
    "q_bucketed_join" ->
      s"""SELECT o_orderkey, o_custkey, c_mktsegment,
        | ${sqlRound("o_totalprice", 2)} AS price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,

    "q_drift_snapshots" -> driftOracle,

    // quality-based survivor selection: same recursive cluster CTE as
    // the other dedup oracles, winner = row_number 1 under
    // (quality DESC, doc_id ASC) per cluster, singletons pass through
    "dedup_best_rep" ->
      s"""${clustersReachCte.replace("ON r.dst = e2.src)", "ON r.dst = e2.src),")}
        |members AS (SELECT src AS doc_id, least(src, MIN(dst)) AS rep
        |  FROM reach GROUP BY src),
        |q AS (SELECT doc_id, $sqlQualityScore AS quality FROM documents),
        |winners AS (SELECT doc_id, n_merged FROM (
        |  SELECT m.doc_id,
        |   row_number() OVER (PARTITION BY m.rep
        |     ORDER BY q.quality DESC, m.doc_id ASC) AS rn,
        |   COUNT(*) OVER (PARTITION BY m.rep) AS n_merged
        |  FROM members m JOIN q ON m.doc_id = q.doc_id) WHERE rn = 1),
        |singles AS (SELECT doc_id, CAST(1 AS BIGINT) AS n_merged FROM documents
        | WHERE doc_id NOT IN (SELECT doc_id FROM members))
        |SELECT u.doc_id, u.n_merged, q.quality
        |FROM (SELECT * FROM winners UNION ALL SELECT * FROM singles) u
        |JOIN q ON u.doc_id = q.doc_id
        |ORDER BY u.doc_id""".stripMargin,

    "dedup_minhash_corpus_sim" -> minHashCorpusSimOracle,

    "q_cheapest_supplier" ->
      s"""SELECT l_partkey, l_suppkey AS cheapest_suppkey, min_price FROM (
        | SELECT l_partkey, l_suppkey,
        |  MIN(${sqlRound("l_extendedprice", 2)}) OVER (PARTITION BY l_partkey) AS min_price,
        |  row_number() OVER (PARTITION BY l_partkey
        |   ORDER BY ${sqlRound("l_extendedprice", 2)} ASC, l_suppkey ASC,
        |            l_orderkey ASC, l_linenumber ASC) AS rn
        | FROM lineitem)
        |WHERE rn = 1 ORDER BY l_partkey""".stripMargin,

    "q_weighted_avg_price" -> {
      val w = s"CAST(${sqlRound("l_quantity", 2)} AS DECIMAL(18,2))"
      val wx = s"(CAST(${sqlRound("l_extendedprice", 2)} AS DECIMAL(18,2)) * $w)"
      s"""SELECT l_returnflag,
        | ${sqlRound(s"CAST(SUM($wx) AS DOUBLE) / CAST(SUM($w) AS DOUBLE)", 6)} AS weighted_avg_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    },

    "q_monthly_revenue" ->
      s"""SELECT epoch_ms(date_trunc('month', o_orderdate)) AS month_ms,
        | COUNT(*) AS n_orders, ${sqlSumD("o_totalprice")} AS revenue
        |FROM orders GROUP BY 1 ORDER BY month_ms""".stripMargin,

    "q_new_vs_returning" ->
      """WITH cm AS (SELECT DISTINCT o_custkey AS cust,
        |  epoch_ms(date_trunc('month', o_orderdate)) AS month_ms FROM orders),
        |fm AS (SELECT cust, MIN(month_ms) AS f FROM cm GROUP BY cust)
        |SELECT month_ms,
        | CAST(SUM(CASE WHEN month_ms = f THEN 1 ELSE 0 END) AS BIGINT)
        |   AS new_customers,
        | CAST(SUM(CASE WHEN month_ms != f THEN 1 ELSE 0 END) AS BIGINT)
        |   AS returning_customers
        |FROM cm JOIN fm USING (cust)
        |GROUP BY month_ms ORDER BY month_ms""".stripMargin,

    "q_seasonal_index" -> {
      s"""WITH m AS (SELECT year(o_orderdate) AS yy, month(o_orderdate) AS moy,
         |  SUM(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS cents
         | FROM orders GROUP BY 1, 2),
         |p AS (SELECT moy, CAST(SUM(cents) AS BIGINT) AS sum_cents,
         |  CAST(COUNT(*) AS BIGINT) AS n_years FROM m GROUP BY moy),
         |o AS (SELECT CAST(SUM(sum_cents) AS BIGINT) AS t_cents,
         |  CAST(SUM(n_years) AS BIGINT) AS t_months FROM p)
         |SELECT moy,
         | ${sqlRound("CAST(sum_cents AS DOUBLE)/n_years/100", 2)} AS mean_revenue,
         | ${sqlRound("(CAST(sum_cents AS DOUBLE)/n_years)/" +
             "(CAST(t_cents AS DOUBLE)/t_months)", 6)} AS seasonal_index
         |FROM p CROSS JOIN o ORDER BY moy""".stripMargin
    },

    "q_top_qty_lines" ->
      s"""SELECT l_orderkey, l_linenumber, l_returnflag,
        | ${sqlRound("l_quantity", 2)} AS quantity, qty_rank FROM (
        | SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
        |  dense_rank() OVER (PARTITION BY l_returnflag
        |    ORDER BY ${sqlRound("l_quantity", 2)} DESC) AS qty_rank
        | FROM lineitem)
        |WHERE qty_rank <= 2 ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_regression_price" -> {
      val x = s"CAST(${sqlRound("l_quantity", 2)} AS DECIMAL(18,2))"
      val y = s"CAST(${sqlRound("l_extendedprice", 2)} AS DECIMAL(18,2))"
      s"""WITH g AS (SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM($x) AS DOUBLE) AS sx, CAST(SUM($y) AS DOUBLE) AS sy,
        |  CAST(SUM($x * $y) AS DOUBLE) AS sxy,
        |  CAST(SUM($x * $x) AS DOUBLE) AS sxx,
        |  CAST(SUM($y * $y) AS DOUBLE) AS syy
        | FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        | ${sqlRound("(n*sxy - sx*sy) / (n*sxx - sx*sx)", 6)} AS slope,
        | ${sqlRound("(sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n", 4)} AS intercept,
        | ${sqlRound("((n*sxy - sx*sy) * (n*sxy - sx*sy)) / ((n*sxx - sx*sx) * (n*syy - sy*sy))", 6)} AS r2
        |FROM g ORDER BY l_returnflag""".stripMargin
    },

    "text_ttr" ->
      s"""SELECT doc_id,
         | CAST(len(toks) AS BIGINT) AS n_tokens,
         | CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
         | CASE WHEN len(toks) > 0 THEN
         |  ${sqlRound("CAST(len(list_distinct(toks)) AS DOUBLE)/len(toks)", 6)}
         | END AS ttr
         |FROM (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents)
         |ORDER BY doc_id""".stripMargin,

    "text_entropy" ->
      s"""WITH t AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
        |u AS (SELECT doc_id, unnest(toks) AS token FROM t),
        |c AS (SELECT doc_id, token, COUNT(*) AS c FROM u GROUP BY doc_id, token),
        |g AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |  SUM(CAST(${sqlRound("CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))", 6)} AS DECIMAL(28,6))) AS clogc
        | FROM c GROUP BY doc_id)
        |SELECT doc_id, n_tokens,
        | ${sqlRound("ln(CAST(n_tokens AS DOUBLE)) - CAST(clogc AS DOUBLE) / CAST(n_tokens AS DOUBLE)", 4)} AS entropy
        |FROM g ORDER BY doc_id""".stripMargin,

    "text_unigram_logprob" ->
      s"""WITH t AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
        |u AS (SELECT doc_id, unnest(toks) AS token FROM t),
        |dtf AS (SELECT doc_id, token, COUNT(*) AS c FROM u GROUP BY doc_id, token),
        |corpus AS (SELECT token, CAST(SUM(c) AS BIGINT) AS cw FROM dtf GROUP BY token),
        |totals AS (SELECT CAST(SUM(cw) AS BIGINT) AS n_total,
        |  COUNT(*) AS vocab FROM corpus),
        |terms AS (SELECT doc_id, c,
        |  CAST(${sqlRound("CAST(c AS DOUBLE) * ln(CAST(cw + 1 AS DOUBLE) / CAST(n_total + vocab AS DOUBLE))", 6)} AS DECIMAL(28,6)) AS t
        | FROM dtf JOIN corpus USING (token) CROSS JOIN totals)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        | ${sqlRound("CAST(SUM(t) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)", 4)} AS avg_logprob
        |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_gini_acctbal" ->
      s"""WITH r AS (SELECT c_nationkey, c_custkey,
        |  ${sqlRound("c_acctbal", 2)} AS bal,
        |  row_number() OVER (PARTITION BY c_nationkey
        |    ORDER BY ${sqlRound("c_acctbal", 2)} ASC, c_custkey ASC) AS rk
        | FROM customer),
        |g AS (SELECT c_nationkey, COUNT(*) AS n_cust,
        |  SUM(CAST(bal AS DECIMAL(18,2))) AS sx,
        |  SUM(rk * CAST(bal AS DECIMAL(18,2))) AS srx FROM r GROUP BY c_nationkey)
        |SELECT c_nationkey, n_cust,
        | ${sqlRound("(2.0 * CAST(srx AS DOUBLE) - CAST(n_cust + 1 AS DOUBLE) * CAST(sx AS DOUBLE)) / (CAST(n_cust AS DOUBLE) * CAST(sx AS DOUBLE))", 6)} AS gini
        |FROM g ORDER BY c_nationkey""".stripMargin,

    "q_backlog_daily" ->
      """WITH iv AS (SELECT
        |  CAST(floor(epoch_ms(o_orderdate)/86400000) AS BIGINT) AS order_day,
        |  CAST(floor(epoch_ms(l_shipdate)/86400000) AS BIGINT) AS ship_day
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |deltas AS (SELECT day, CAST(SUM(delta) AS BIGINT) AS d FROM (
        |  SELECT order_day AS day, 1 AS delta FROM iv
        |  UNION ALL SELECT ship_day + 1, -1 FROM iv) GROUP BY day)
        |SELECT day, CAST(SUM(d) OVER (ORDER BY day) AS BIGINT) AS n_open
        |FROM deltas ORDER BY day""".stripMargin,

    "q_yoy_growth" ->
      s"""WITH rev AS (SELECT
        |  CAST(year(o_orderdate)*12 + month(o_orderdate) AS BIGINT) AS midx,
        |  ${sqlSumD("o_totalprice")} AS revenue
        | FROM orders GROUP BY 1)
        |SELECT r.midx, r.revenue, p.revenue AS prev_revenue,
        | ${sqlRound("(r.revenue - p.revenue) / p.revenue", 6)} AS yoy_growth
        |FROM rev r LEFT JOIN rev p ON p.midx = r.midx - 12
        |ORDER BY r.midx""".stripMargin,

    "q_rolling_active_users" ->
      """WITH du AS (SELECT DISTINCT
        |  CAST(floor(epoch_ms(ts)/86400000) AS BIGINT) AS day, user_id
        | FROM events),
        |w AS (SELECT DISTINCT day + k AS day, user_id
        | FROM du CROSS JOIN (SELECT unnest(range(0, 7)) AS k))
        |SELECT day, COUNT(*) AS active_users_7d
        |FROM w GROUP BY day ORDER BY day""".stripMargin,

    "q_triangle_count" -> {
      val lift = sqlRound(
        "CAST(nb * n AS DOUBLE) / CAST(ia.ni * ib.ni AS DOUBLE)", 6)
      s"""WITH ui AS (SELECT DISTINCT user_id,
        |  TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS item
        | FROM events),
        |uin AS (SELECT user_id, item FROM ui WHERE item IS NOT NULL),
        |iu AS (SELECT item, COUNT(*) AS ni FROM uin GROUP BY item),
        |nu AS (SELECT COUNT(DISTINCT user_id) AS n FROM uin),
        |e0 AS (SELECT a.item AS i, b.item AS j, COUNT(*) AS nb
        | FROM uin a JOIN uin b ON a.user_id = b.user_id AND a.item < b.item
        | GROUP BY 1, 2),
        |e AS (SELECT i, j FROM e0
        | JOIN iu ia ON ia.item = e0.i JOIN iu ib ON ib.item = e0.j
        | CROSS JOIN nu WHERE $lift >= 1.05),
        |tri AS (SELECT e1.i AS ti, e1.j AS tj, e2.j AS tk
        | FROM e e1 JOIN e e2 ON e1.j = e2.i
        | JOIN e e3 ON e3.i = e1.i AND e3.j = e2.j),
        |corners AS (SELECT ti AS item FROM tri
        | UNION ALL SELECT tj FROM tri UNION ALL SELECT tk FROM tri)
        |SELECT item, COUNT(*) AS n_triangles
        |FROM corners GROUP BY item ORDER BY item""".stripMargin
    },

    "q_revenue_share" ->
      s"""WITH nat AS (SELECT r_name AS region, n_name AS nation,
        |  SUM(CAST(${sqlRound("o_totalprice", 2)} AS DECIMAL(18,2))) AS rev
        | FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        | GROUP BY 1, 2)
        |SELECT region, nation, CAST(rev AS DOUBLE) AS revenue,
        | ${sqlRound("CAST(rev AS DOUBLE) / CAST(SUM(rev) OVER (PARTITION BY region) AS DOUBLE)", 6)} AS revenue_share
        |FROM nat ORDER BY region, nation""".stripMargin,

    "q_event_transitions" ->
      s"""WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms, event_id
        | FROM events),
        |p AS (SELECT event_type AS from_type,
        |  lead(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ms ASC, event_id ASC) AS to_type
        | FROM e),
        |m AS (SELECT from_type, to_type, COUNT(*) AS n_transitions
        | FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n_transitions,
        | ${sqlRound("CAST(n_transitions AS DOUBLE) / CAST(SUM(n_transitions) OVER (PARTITION BY from_type) AS DOUBLE)", 6)} AS p_transition
        |FROM m ORDER BY from_type, to_type""".stripMargin,

    "q_allocate_price" ->
      """WITH j AS (SELECT l_orderkey, l_linenumber,
        |  CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) AS e,
        |  CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS ct
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |b AS (SELECT l_orderkey, l_linenumber, ct,
        |  ct * e AS p, SUM(e) OVER (PARTITION BY l_orderkey) AS se
        | FROM j),
        |c AS (SELECT l_orderkey, l_linenumber, ct, se,
        |  ((p % se) + se) % se AS rm,
        |  CAST((p - (((p % se) + se) % se)) / se AS BIGINT) AS base
        | FROM b),
        |r AS (SELECT l_orderkey, l_linenumber, base,
        |  ct - SUM(base) OVER (PARTITION BY l_orderkey) AS leftover,
        |  row_number() OVER (PARTITION BY l_orderkey
        |    ORDER BY rm DESC, l_linenumber ASC) AS rn
        | FROM c)
        |SELECT l_orderkey, l_linenumber,
        | CAST(base + CASE WHEN rn <= leftover THEN 1 ELSE 0 END AS DOUBLE)/100.0
        |   AS allocated
        |FROM r ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_locf_value" ->
      s"""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms,
        |  CASE WHEN event_id % 7 = 0 THEN NULL
        |       ELSE ${sqlRound("value", 2)} END AS v
        | FROM events)
        |SELECT user_id, event_id, ms,
        | last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
        |   ORDER BY ms ASC, event_id ASC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled
        |FROM e ORDER BY user_id, event_id""".stripMargin,

    "q_order_lifecycle" ->
      """WITH m AS (SELECT l_orderkey, COUNT(*) AS n_lines,
        |  MIN(CAST(floor(epoch_ms(l_shipdate)/86400000) AS BIGINT)) AS first_ship_day,
        |  MAX(CAST(floor(epoch_ms(l_shipdate)/86400000) AS BIGINT)) AS last_ship_day
        | FROM lineitem GROUP BY l_orderkey)
        |SELECT o_orderkey, CAST(floor(epoch_ms(o_orderdate)/86400000) AS BIGINT) AS order_day,
        | n_lines, first_ship_day, last_ship_day,
        | first_ship_day - CAST(floor(epoch_ms(o_orderdate)/86400000) AS BIGINT) AS days_to_first_ship,
        | last_ship_day - CAST(floor(epoch_ms(o_orderdate)/86400000) AS BIGINT) AS days_to_complete
        |FROM orders JOIN m ON o_orderkey = l_orderkey
        |ORDER BY o_orderkey""".stripMargin,

    "q_ship_priority" ->
      s"""SELECT l_orderkey,
         | CAST(floor(epoch_ms(o_orderdate)/86400000) AS BIGINT) AS order_day,
         | o_orderpriority,
         | ${sqlSumD("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         | JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         | AND o_orderdate < TIMESTAMP '1996-06-15 00:00:00'
         | AND l_shipdate > TIMESTAMP '1996-06-15 00:00:00'
         |GROUP BY 1, 2, 3
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q_market_share" ->
      s"""WITH f AS (SELECT year(CAST(o_orderdate AS DATE)) AS order_year,
         |  n2.n_name AS supp_nation,
         |  CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT) AS c
         | FROM lineitem JOIN part ON l_partkey = p_partkey
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
         |  JOIN region ON n1.n_regionkey = r_regionkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
         | WHERE p_type = 'ECONOMY' AND r_name = 'AMERICA'),
         |g AS (SELECT order_year,
         |  SUM(CASE WHEN supp_nation = 'NATION_6' THEN c ELSE 0 END) AS nat,
         |  SUM(c) AS tot
         | FROM f GROUP BY order_year)
         |SELECT order_year,
         | ${sqlRound("CAST(nat AS DOUBLE)/100", 2)} AS nation_revenue,
         | ${sqlRound("CAST(tot AS DOUBLE)/100", 2)} AS market_revenue,
         | ${sqlRound("CAST(nat AS DOUBLE)/tot", 6)} AS mkt_share
         |FROM g ORDER BY order_year""".stripMargin,

    "q_returned_items" ->
      s"""SELECT c_custkey, c_name, n_name AS nation,
         | ${sqlRound("c_acctbal", 2)} AS acctbal,
         | ${sqlSumD("l_extendedprice * (1 - l_discount)")} AS lost_revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         | JOIN customer ON o_custkey = c_custkey
         | JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         | AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         | AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
         |GROUP BY 1, 2, 3, 4
         |ORDER BY lost_revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q_promo_share" ->
      s"""WITH f AS (SELECT epoch_ms(date_trunc('month', l_shipdate)) AS ship_month,
         |  CASE WHEN p_type = 'PROMO' THEN 1 ELSE 0 END AS is_promo,
         |  CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT) AS c
         | FROM lineitem JOIN part ON l_partkey = p_partkey),
         |g AS (SELECT ship_month,
         |  SUM(CASE WHEN is_promo = 1 THEN c ELSE 0 END) AS promo_c,
         |  SUM(c) AS tot_c
         | FROM f GROUP BY ship_month)
         |SELECT ship_month,
         | ${sqlRound("CAST(promo_c AS DOUBLE)/100", 2)} AS promo_revenue,
         | ${sqlRound("CAST(tot_c AS DOUBLE)/100", 2)} AS total_revenue,
         | ${sqlRound("100.0*CAST(promo_c AS DOUBLE)/tot_c", 6)} AS promo_pct
         |FROM g ORDER BY ship_month""".stripMargin,

    "q_forecast_revenue" ->
      s"""SELECT ${sqlSumD("l_extendedprice * l_discount")} AS potential_revenue,
         | COUNT(*) AS n_lines
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         | AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
         | AND l_discount >= CAST(0.05 AS DOUBLE)
         | AND l_discount <= CAST(0.07 AS DOUBLE)
         | AND l_quantity < 24
         |ORDER BY n_lines""".stripMargin,

    "q_brand_promo_revenue" ->
      s"""SELECT ${sqlSumD("l_extendedprice * (1 - l_discount)")} AS promo_revenue,
         | COUNT(*) AS n_lines
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15
         |    AND l_quantity BETWEEN 1 AND 20)
         | OR (p_brand = 'Brand#19' AND p_size BETWEEN 10 AND 30
         |    AND l_quantity BETWEEN 10 AND 30)
         | OR (p_brand = 'Brand#8' AND p_size BETWEEN 20 AND 50
         |    AND l_quantity BETWEEN 20 AND 40)
         |ORDER BY n_lines""".stripMargin,

    "q_nation_profit" ->
      s"""SELECT n_name AS nation, year(CAST(o_orderdate AS DATE)) AS order_year,
         | ${sqlRound(
          "CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)" +
          " - CAST(floor(CAST(0.6 AS DOUBLE) * p_retailprice * l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE)/100", 2)}
         |   AS profit
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         | JOIN orders ON l_orderkey = o_orderkey
         | JOIN supplier ON l_suppkey = s_suppkey
         | JOIN nation ON s_nationkey = n_nationkey
         |WHERE p_name LIKE '%gear%'
         |GROUP BY 1, 2 ORDER BY nation, order_year""".stripMargin,

    "q_dominant_suppliers" ->
      s"""WITH ps AS (SELECT l_partkey, l_suppkey,
         |  SUM(CAST(l_quantity AS BIGINT)) AS q
         | FROM lineitem GROUP BY 1, 2),
         |g AS (SELECT l_suppkey, COUNT(*) AS n_parts_dominated
         | FROM (SELECT *, SUM(q) OVER (PARTITION BY l_partkey) AS tq FROM ps)
         | WHERE q * 5 > tq GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, n_parts_dominated
         |FROM g JOIN supplier ON l_suppkey = s_suppkey
         |ORDER BY n_parts_dominated DESC, s_suppkey""".stripMargin,

    "q_sole_late_shipper" ->
      s"""WITH ps AS (SELECT l_orderkey, l_suppkey,
         |  MAX(epoch_ms(l_shipdate)) AS supp_max
         | FROM lineitem GROUP BY 1, 2),
         |f0 AS (SELECT *,
         |  MAX(supp_max) OVER (PARTITION BY l_orderkey) AS order_max,
         |  COUNT(*) OVER (PARTITION BY l_orderkey) AS n_supp
         | FROM ps),
         |f AS (SELECT *,
         |  SUM(CASE WHEN supp_max = order_max THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY l_orderkey) AS n_at_max
         | FROM f0),
         |g AS (SELECT l_suppkey, COUNT(*) AS waiting_orders
         | FROM f WHERE n_supp >= 2 AND n_at_max = 1 AND supp_max = order_max
         | GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, waiting_orders
         |FROM g JOIN supplier ON l_suppkey = s_suppkey
         |ORDER BY waiting_orders DESC, s_suppkey""".stripMargin,

    "q_spearman_corr" ->
      s"""WITH m AS (SELECT epoch_ms(date_trunc('month', o_orderdate)) AS mm,
         |  SUM(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS c,
         |  CAST(COUNT(*) AS BIGINT) AS k
         | FROM orders GROUP BY 1),
         |r AS (SELECT a.mm,
         |  CAST(2*SUM(CASE WHEN b.c < a.c THEN 1 ELSE 0 END) +
         |    SUM(CASE WHEN b.c = a.c THEN 1 ELSE 0 END) + 1 AS BIGINT) AS x,
         |  CAST(2*SUM(CASE WHEN b.k < a.k THEN 1 ELSE 0 END) +
         |    SUM(CASE WHEN b.k = a.k THEN 1 ELSE 0 END) + 1 AS BIGINT) AS y
         | FROM m a CROSS JOIN m b GROUP BY a.mm),
         |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |  CAST(SUM(x*y) AS BIGINT) AS sxy, CAST(SUM(x*x) AS BIGINT) AS sxx,
         |  CAST(SUM(y*y) AS BIGINT) AS syy FROM r)
         |SELECT n AS n_months,
         | ${sqlRound("CAST(n*sxy - sx*sy AS DOUBLE)/" +
             "sqrt(CAST(n*sxx - sx*sx AS DOUBLE)*CAST(n*syy - sy*sy AS DOUBLE))", 6)}
         |   AS rho
         |FROM g ORDER BY n_months""".stripMargin,

    "q_welch_ttest" -> {
      val v1 = "(q1d - s1d*s1d/n1d)/(n1d - 1)"
      val v2 = "(q2d - s2d*s2d/n2d)/(n2d - 1)"
      s"""WITH a AS (SELECT
         |  CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS ga,
         |  CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS c
         | FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
         |g AS (SELECT CAST(SUM(ga) AS BIGINT) AS n1, CAST(SUM(1 - ga) AS BIGINT) AS n2,
         |  SUM(CAST(CASE WHEN ga = 1 THEN c ELSE 0 END AS DECIMAL(38,0))) AS s1,
         |  SUM(CAST(CASE WHEN ga = 0 THEN c ELSE 0 END AS DECIMAL(38,0))) AS s2,
         |  SUM(CAST(CASE WHEN ga = 1 THEN c*c ELSE 0 END AS DECIMAL(38,0))) AS q1,
         |  SUM(CAST(CASE WHEN ga = 0 THEN c*c ELSE 0 END AS DECIMAL(38,0))) AS q2
         | FROM a),
         |d AS (SELECT n1, n2,
         |  CAST(n1 AS DOUBLE) AS n1d, CAST(n2 AS DOUBLE) AS n2d,
         |  CAST(s1 AS DOUBLE) AS s1d, CAST(s2 AS DOUBLE) AS s2d,
         |  CAST(q1 AS DOUBLE) AS q1d, CAST(q2 AS DOUBLE) AS q2d FROM g),
         |w AS (SELECT *, ($v1)/n1d + ($v2)/n2d AS se2 FROM d)
         |SELECT n1 AS n_urgent, n2 AS n_low,
         | ${sqlRound("s1d/n1d/100", 4)} AS mean_urgent,
         | ${sqlRound("s2d/n2d/100", 4)} AS mean_low,
         | ${sqlRound("(s1d/n1d - s2d/n2d)/sqrt(se2)", 6)} AS t_stat,
         | ${sqlRound(s"se2*se2/(($v1/n1d)*($v1/n1d)/(n1d - 1) + " +
             s"($v2/n2d)*($v2/n2d)/(n2d - 1))", 4)} AS df
         |FROM w ORDER BY n_urgent""".stripMargin
    },

    "q_autocorr" ->
      s"""WITH m AS (SELECT
         |  year(CAST(o_orderdate AS DATE))*12 + month(CAST(o_orderdate AS DATE)) - 1
         |    AS midx,
         |  SUM(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS c
         | FROM orders GROUP BY 1),
         |p AS (SELECT CAST(l.lag AS BIGINT) AS lag, a.c AS c, b.c AS c_b
         | FROM m a CROSS JOIN (VALUES (1), (2), (3)) AS l(lag)
         |  JOIN m b ON b.midx = a.midx + l.lag),
         |g AS (SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
         |  SUM(CAST(c AS DECIMAL(19,0))) AS sx, SUM(CAST(c_b AS DECIMAL(19,0))) AS sy,
         |  SUM(CAST(CAST(c AS DECIMAL(19,0))*CAST(c_b AS DECIMAL(19,0))
         |    AS DECIMAL(38,0))) AS sxy,
         |  SUM(CAST(CAST(c AS DECIMAL(19,0))*CAST(c AS DECIMAL(19,0))
         |    AS DECIMAL(38,0))) AS sxx,
         |  SUM(CAST(CAST(c_b AS DECIMAL(19,0))*CAST(c_b AS DECIMAL(19,0))
         |    AS DECIMAL(38,0))) AS syy
         | FROM p GROUP BY lag)
         |SELECT lag, n AS n_pairs,
         | ${sqlRound("(CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - " +
             "CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))/" +
             "sqrt((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - " +
             "CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))*" +
             "(CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - " +
             "CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)))", 6)} AS acf
         |FROM g ORDER BY lag""".stripMargin,

    "q_ab_conversion" ->
      s"""WITH u AS (SELECT user_id,
         |  CASE WHEN (('0x' || substr(md5('ab:' || user_id), 1, 15))::BIGINT % 2 + 2) % 2 = 0
         |    THEN 1 ELSE 0 END AS a,
         |  CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
         |    THEN 1 ELSE 0 END AS conv
         | FROM events GROUP BY user_id),
         |g AS (SELECT CAST(SUM(a) AS BIGINT) AS n_a, CAST(SUM(1 - a) AS BIGINT) AS n_b,
         |  CAST(SUM(a*conv) AS BIGINT) AS conv_a,
         |  CAST(SUM((1 - a)*conv) AS BIGINT) AS conv_b FROM u),
         |d AS (SELECT *, CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd,
         |  CAST(conv_a AS DOUBLE) AS cad, CAST(conv_b AS DOUBLE) AS cbd FROM g),
         |w AS (SELECT *, (cad + cbd)/(nad + nbd) AS p FROM d)
         |SELECT n_a, n_b, conv_a, conv_b,
         | ${sqlRound("cad/nad", 6)} AS rate_a,
         | ${sqlRound("cbd/nbd", 6)} AS rate_b,
         | CASE WHEN n_a = 0 OR n_b = 0 OR conv_a + conv_b = 0
         |     OR conv_a + conv_b = n_a + n_b THEN NULL
         |   ELSE ${sqlRound("(cad/nad - cbd/nbd)/" +
             "sqrt(p*(1 - p)*(1.0/nad + 1.0/nbd))", 6)} END AS z_stat
         |FROM w ORDER BY n_a""".stripMargin,

    // ---- round-7 additions ----

    "q_daily_reach" ->
      """WITH f AS (SELECT user_id,
        |  MIN(CAST(floor(epoch_ms(ts)/86400000.0) AS BIGINT)) AS day
        | FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
        |p AS (SELECT day, COUNT(*) AS new_users FROM f GROUP BY day)
        |SELECT day, new_users,
        | CAST(SUM(new_users) OVER (ORDER BY day ASC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
        |FROM p ORDER BY day""".stripMargin,

    "text_gopher_rules" ->
      s"""WITH t AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
         |m AS (SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS BIGINT) AS sum_len,
         |  CAST(coalesce(list_max(list_transform(toks, x -> length(x))), 0) AS BIGINT) AS max_word_len,
         |  CAST(len(list_intersect(list_distinct(toks), [$stop])) AS BIGINT) AS n_stopwords
         | FROM t),
         |s AS (SELECT doc_id, n_tokens,
         |  CASE WHEN n_tokens = 0 THEN NULL
         |    ELSE ${sqlRound("CAST(sum_len AS DOUBLE)/n_tokens", 6)} END AS mean_word_len,
         |  max_word_len, n_stopwords FROM m)
         |SELECT *,
         | n_tokens >= 20 AND n_tokens <= 100000 AS r_count,
         | coalesce(mean_word_len >= 3.0 AND mean_word_len <= 10.0, false) AS r_mean_len,
         | max_word_len <= 15 AS r_max_len,
         | n_stopwords >= 2 AS r_stopwords,
         | (n_tokens >= 20 AND n_tokens <= 100000)
         |   AND coalesce(mean_word_len >= 3.0 AND mean_word_len <= 10.0, false)
         |   AND max_word_len <= 15 AND n_stopwords >= 2 AS pass_gopher
         |FROM s ORDER BY doc_id""".stripMargin,

    "q_pctl_value_daily" ->
      s"""SELECT event_type,
         | CAST(floor(epoch_ms(ts)/86400000.0) AS BIGINT) AS day,
         | COUNT(*) AS n_events,
         | ${sqlRound("quantile_cont(floor(value*100 + 0.5)/100, 0.5)", 4)} AS p50,
         | ${sqlRound("quantile_cont(floor(value*100 + 0.5)/100, 0.95)", 4)} AS p95
         |FROM events WHERE value IS NOT NULL
         |GROUP BY event_type, day ORDER BY event_type, day""".stripMargin,

    "q_rank_movers" ->
      s"""WITH li AS (
         | SELECT p.p_brand, l.l_partkey, year(l.l_shipdate) AS y,
         |  CAST(${sqlRound("l.l_extendedprice*(1-l.l_discount)", 2)} AS DECIMAL(18,2)) AS rev
         | FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         | WHERE year(l.l_shipdate) IN (1995, 1996)),
         |bp AS (
         | SELECT p_brand, l_partkey,
         |  SUM(CASE WHEN y = 1995 THEN rev END) AS rev95,
         |  SUM(CASE WHEN y = 1996 THEN rev END) AS rev96
         | FROM li GROUP BY p_brand, l_partkey
         | HAVING SUM(CASE WHEN y = 1995 THEN rev END) IS NOT NULL
         |    AND SUM(CASE WHEN y = 1996 THEN rev END) IS NOT NULL),
         |r AS (SELECT *,
         |  CAST(row_number() OVER (PARTITION BY p_brand
         |    ORDER BY rev95 DESC, l_partkey ASC) AS BIGINT) AS rank95,
         |  CAST(row_number() OVER (PARTITION BY p_brand
         |    ORDER BY rev96 DESC, l_partkey ASC) AS BIGINT) AS rank96
         | FROM bp)
         |SELECT p_brand, l_partkey, CAST(rev95 AS DOUBLE) AS rev95,
         | CAST(rev96 AS DOUBLE) AS rev96, rank95, rank96,
         | rank95 - rank96 AS rank_gain
         |FROM r ORDER BY p_brand, l_partkey""".stripMargin,

    "q_bounce_rate" ->
      s"""WITH g AS (
         | SELECT user_id, event_id, ts,
         |  CASE WHEN lag(ts) OVER w IS NULL
         |        OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000 THEN 1 ELSE 0 END AS new_s
         | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
         |s AS (
         | SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
         | FROM g),
         |sess AS (
         | SELECT user_id, session_seq,
         |  CAST(floor(epoch_ms(MIN(ts))/86400000.0) AS BIGINT) AS day,
         |  COUNT(*) AS n FROM s GROUP BY user_id, session_seq)
         |SELECT day, COUNT(*) AS n_sessions,
         | CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
         | ${sqlRound("CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)/COUNT(*)", 6)} AS bounce_rate
         |FROM sess GROUP BY day ORDER BY day""".stripMargin,

    "dedup_incremental_minhash" -> minHashIncrementalOracle,

    "dedup_decontaminate_fuzzy" -> {
      // the incremental-minhash oracle shape with corpus = non-97
      // docs, holdout = %97 docs, then the anti-join on flagged ids
      val P = NearDup.P
      val base = s"(('0x' || substr(md5(s), 1, 15))::BIGINT % $P)"
      val sigExprs = NearDup.coeffs.map { case (a, b) =>
        s"list_min(list_transform(bh, x -> ($a * x + $b) % $P))"
      }
      val sigList = sigExprs.mkString("[", ",\n    ", "]")
      val bands = (0 until NearDup.Bands).map { i =>
        val lo = i * NearDup.RowsPerBand + 1
        val hi = (i + 1) * NearDup.RowsPerBand
        s"SELECT doc_id, $i AS band_idx, array_to_string(sig[$lo:$hi], '-') AS band_key FROM sig"
      }.mkString("\n UNION ALL ")
      s"""WITH $shingleCte,
         |bh AS (SELECT doc_id, shingles,
         |  list_transform(shingles, s -> $base) AS bh FROM sh),
         |sig AS (SELECT doc_id, shingles, $sigList AS sig FROM bh WHERE len(bh) > 0),
         |bands AS ($bands),
         |cand AS (
         | SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         | FROM bands a JOIN bands b
         |  ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         |   AND a.doc_id % 97 != 0 AND b.doc_id % 97 = 0),
         |flagged AS (SELECT DISTINCT id_a AS doc_id
         | FROM cand JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b
         | WHERE ${sqlRound(jaccardExpr("sa.shingles", "sb.shingles"), 6)} >= 0.5)
         |SELECT doc_id FROM documents
         |WHERE doc_id % 97 != 0 AND doc_id NOT IN (SELECT doc_id FROM flagged)
         |ORDER BY doc_id""".stripMargin
    },

    "corpus_source_profile" -> {
      val toks = sqlTokens("text")
      val counts = TextFunctions.LangMarkers.map { case (lang, ms) =>
        lang -> s"len(list_filter($toks, t -> t IN (${ms.map(w => s"'$w'").mkString(", ")})))"
      }
      val best = counts.map(_._2).reduce((a, b) => s"greatest($a, $b)")
      val enCount = counts.toMap.apply("en")
      s"""WITH scored AS (SELECT source,
         |  CAST(len($toks) AS BIGINT) AS n_tok,
         |  $sqlQualityScore AS q,
         |  CASE WHEN $best > 0 AND $enCount = $best THEN 1 ELSE 0 END AS is_en,
         |  md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
         | FROM documents)
         |SELECT source, COUNT(*) AS n_docs,
         | CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_distinct_texts,
         | CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         | ${sqlRound("CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE)/COUNT(*)", 6)} AS mean_quality,
         | ${sqlRound("CAST(SUM(is_en) AS DOUBLE)/COUNT(*)", 6)} AS en_share,
         | ${sqlRound("1.0 - CAST(COUNT(DISTINCT fp) AS DOUBLE)/COUNT(*)", 6)} AS dup_rate
         |FROM scored GROUP BY source ORDER BY source""".stripMargin
    },

    "text_keyword_trends" ->
      s"""WITH tf AS (
         | SELECT source, term, COUNT(*) AS n FROM (
         |  SELECT source, unnest(${sqlTokens("text")}) AS term FROM documents)
         | WHERE term NOT IN ($stop) GROUP BY source, term),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY source
         |   ORDER BY n DESC, term ASC) AS BIGINT) AS rank FROM tf)
         |SELECT source, rank, term, n FROM r WHERE rank <= 3
         |ORDER BY source, rank""".stripMargin,

    "q_cart_abandonment" ->
      s"""WITH act AS (
         | SELECT CAST(floor(epoch_ms(ts)/86400000.0) AS BIGINT) AS day, user_id,
         |  MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clicked,
         |  MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchased
         | FROM events
         | WHERE event_type IN ('click', 'purchase') AND user_id IS NOT NULL
         | GROUP BY day, user_id)
         |SELECT day, COUNT(*) AS n_clickers,
         | CAST(SUM(1 - purchased) AS BIGINT) AS n_abandoned,
         | ${sqlRound("CAST(SUM(1 - purchased) AS DOUBLE)/COUNT(*)", 6)} AS abandon_rate
         |FROM act WHERE clicked = 1 GROUP BY day ORDER BY day""".stripMargin,

    "q_reachability" ->
      s"""WITH RECURSIVE uin AS (
        | SELECT DISTINCT user_id,
        |  TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS item
        | FROM events WHERE user_id IS NOT NULL),
        |ui AS (SELECT user_id, item FROM uin WHERE item IS NOT NULL),
        |e0 AS (SELECT DISTINCT a.item AS src, b.item AS dst
        | FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item <> b.item),
        |reach(item, hops) AS (
        | SELECT (SELECT MIN(item) FROM ui), CAST(0 AS BIGINT)
        | UNION
        | SELECT e0.dst, r.hops + 1 FROM reach r
        |  JOIN e0 ON e0.src = r.item WHERE r.hops < 3)
        |SELECT item, MIN(hops) AS hops FROM reach
        |GROUP BY item ORDER BY item""".stripMargin,

    "dedup_sorted_neighborhood" ->
      s"""WITH base AS (SELECT doc_id, text FROM documents),
        |clones AS (SELECT doc_id + $SyntheticIdTag AS doc_id,
        |  concat(substr(text, 1, 29), 'qq', substr(text, 32)) AS text FROM base),
        |all_docs AS (SELECT * FROM base UNION ALL SELECT * FROM clones),
        |keyed AS (SELECT doc_id, substr(text, 1, 40) AS p,
        |  regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS k FROM all_docs),
        |ranked AS (SELECT doc_id, p, substr(k, 1, 4) AS blk,
        |  CAST(row_number() OVER (PARTITION BY substr(k, 1, 4)
        |    ORDER BY k, doc_id) AS BIGINT) AS rn FROM keyed),
        |cand AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
        |  CAST(levenshtein(a.p, b.p) AS BIGINT) AS lev_dist
        | FROM ranked a JOIN ranked b
        |  ON a.blk = b.blk AND b.rn > a.rn AND b.rn <= a.rn + 3)
        |SELECT least(ida, idb) AS id_a, greatest(ida, idb) AS id_b, lev_dist
        |FROM cand WHERE lev_dist <= 6 ORDER BY id_a, id_b""".stripMargin,

    "q_decayed_score" ->
      s"""WITH e AS (SELECT user_id, value,
        |  CAST(floor(epoch_ms(ts)/86400000.0) AS BIGINT) AS day
        | FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
        |a AS (SELECT MAX(day) AS anchor FROM e)
        |SELECT user_id, COUNT(*) AS n_events,
        | CAST(SUM(CAST(${sqlRound(
             "value * pow(0.5, floor((anchor - day)/7.0))", 6)}
        |   AS DECIMAL(28,6))) AS DOUBLE) AS decayed_score
        |FROM e CROSS JOIN a GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_clustering_coeff" -> {
      val lift = sqlRound(
        "CAST(nb * n AS DOUBLE) / CAST(ia.ni * ib.ni AS DOUBLE)", 6)
      s"""WITH uix AS (SELECT DISTINCT user_id,
        |  TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS item
        | FROM events),
        |uin AS (SELECT user_id, item FROM uix WHERE item IS NOT NULL),
        |iu AS (SELECT item, COUNT(*) AS ni FROM uin GROUP BY item),
        |nu AS (SELECT COUNT(DISTINCT user_id) AS n FROM uin),
        |e0 AS (SELECT a.item AS i, b.item AS j, COUNT(*) AS nb
        | FROM uin a JOIN uin b ON a.user_id = b.user_id AND a.item < b.item
        | GROUP BY 1, 2),
        |e AS (SELECT i, j FROM e0
        | JOIN iu ia ON ia.item = e0.i JOIN iu ib ON ib.item = e0.j
        | CROSS JOIN nu WHERE $lift >= 1.05),
        |tri AS (SELECT e1.i AS ti, e1.j AS tj, e2.j AS tk
        | FROM e e1 JOIN e e2 ON e1.j = e2.i
        | JOIN e e3 ON e3.i = e1.i AND e3.j = e2.j),
        |corners AS (SELECT ti AS item FROM tri
        | UNION ALL SELECT tj FROM tri UNION ALL SELECT tk FROM tri),
        |tc AS (SELECT item, COUNT(*) AS n_triangles FROM corners GROUP BY item),
        |deg AS (SELECT item, COUNT(*) AS degree FROM (
        |  SELECT i AS item FROM e UNION ALL SELECT j FROM e) GROUP BY item)
        |SELECT deg.item, deg.degree,
        | COALESCE(tc.n_triangles, 0) AS n_triangles,
        | CASE WHEN deg.degree >= 2 THEN ${sqlRound(
             "2.0 * COALESCE(tc.n_triangles, 0) / " +
               "CAST(deg.degree * (deg.degree - 1) AS DOUBLE)", 6)}
        |  ELSE 0.0 END AS clustering_coeff
        |FROM deg LEFT JOIN tc ON tc.item = deg.item
        |ORDER BY deg.item""".stripMargin
    },

    "q_item_recs" ->
      s"""WITH uix AS (SELECT DISTINCT user_id,
        |  TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS item
        | FROM events WHERE user_id IS NOT NULL),
        |uin AS (SELECT user_id, item FROM uix WHERE item IS NOT NULL),
        |pc AS (SELECT a.item AS i, b.item AS j, COUNT(*) AS nb
        | FROM uin a JOIN uin b ON a.user_id = b.user_id AND a.item < b.item
        | GROUP BY 1, 2),
        |sym AS (SELECT i AS src, j AS dst, nb FROM pc
        | UNION ALL SELECT j, i, nb FROM pc),
        |e AS (SELECT src, dst, nb FROM (SELECT *,
        |  row_number() OVER (PARTITION BY src ORDER BY nb DESC, dst ASC) AS nr
        | FROM sym) WHERE nr <= 20),
        |scored AS (SELECT u.user_id, e.dst AS rec_item,
        |  CAST(SUM(e.nb) AS BIGINT) AS score
        | FROM uin u JOIN e ON e.src = u.item GROUP BY 1, 2),
        |fresh AS (SELECT s.* FROM scored s
        | WHERE NOT EXISTS (SELECT 1 FROM uin u
        |   WHERE u.user_id = s.user_id AND u.item = s.rec_item)),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY user_id
        |  ORDER BY score DESC, rec_item ASC) AS BIGINT) AS rank FROM fresh)
        |SELECT user_id, rank, rec_item, score FROM r WHERE rank <= 3
        |ORDER BY user_id, rank""".stripMargin,

    "q_value_spike_days" -> {
      val z = sqlRound("(day_total - st.mu) / st.sigma", 4)
      s"""WITH daily AS (SELECT
        |  CAST(floor(epoch_ms(ts)/86400000.0) AS BIGINT) AS day,
        |  CAST(SUM(CAST(${sqlRound("value", 2)} AS DECIMAL(18,2))) AS DOUBLE) AS day_total
        | FROM events WHERE value IS NOT NULL GROUP BY day),
        |sums AS (SELECT COUNT(*) AS n,
        |  CAST(SUM(CAST(day_total AS DECIMAL(18,2))) AS DOUBLE) AS s1,
        |  CAST(SUM(CAST(${sqlRound("day_total * day_total", 4)}
        |    AS DECIMAL(28,4))) AS DOUBLE) AS s2
        | FROM daily),
        |st AS (SELECT s1/n AS mu, sqrt(s2/n - (s1/n)*(s1/n)) AS sigma FROM sums)
        |SELECT day, day_total, $z AS z_score
        |FROM daily CROSS JOIN st
        |WHERE st.sigma > 0 AND abs($z) > 2.0 ORDER BY day""".stripMargin
    },

    "text_readability" -> {
      val flesch = sqlRound(
        "206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences) " +
          "- 84.6 * (CAST(n_syllables AS DOUBLE) / n_words)", 4)
      s"""WITH t AS (SELECT doc_id,
        |  CAST(len(${sqlTokens("text")}) AS BIGINT) AS n_words,
        |  CAST(len(list_filter(regexp_split_to_array(text, '[.!?]+'),
        |    x -> len(trim(x)) > 0)) AS BIGINT) AS n_sentences,
        |  CAST(COALESCE(list_sum(list_transform(${sqlTokens("text")},
        |    w -> len(regexp_extract_all(lower(w), '[aeiouy]+')))), 0)
        |   AS BIGINT) AS n_syllables
        | FROM documents)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        | CASE WHEN n_words > 0 AND n_sentences > 0 THEN $flesch END AS flesch
        |FROM t ORDER BY doc_id""".stripMargin
    },

    "text_code_score" -> {
      val dens = sqlRound("CAST(n_symbols AS DOUBLE) / n_chars", 6)
      s"""WITH t AS (SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(length(text) - length(
        |    regexp_replace(text, '[{}();=<>\\[\\]]', '', 'g')) AS BIGINT) AS n_symbols
        | FROM documents)
        |SELECT doc_id, n_chars, n_symbols,
        | CASE WHEN n_chars > 0 THEN $dens ELSE 0.0 END AS symbol_density,
        | (CASE WHEN n_chars > 0 THEN $dens ELSE 0.0 END) > 0.02 AS is_code
        |FROM t ORDER BY doc_id""".stripMargin
    },

    "dedup_golden_record" ->
      s"""WITH base AS (SELECT c_custkey, c_name, c_mktsegment,
        |  ${sqlRound("c_acctbal", 2)} AS c_acctbal, CAST(1 AS BIGINT) AS v
        | FROM customer),
        |variants AS (SELECT c_custkey + $SyntheticIdTag, c_name,
        |  CAST(NULL AS VARCHAR), ${sqlRound("c_acctbal + 100.0", 2)},
        |  CAST(2 AS BIGINT)
        | FROM base WHERE c_custkey % 3 = 0),
        |allr AS (SELECT * FROM base UNION ALL SELECT * FROM variants)
        |SELECT c_custkey % $SyntheticIdTag AS custkey,
        | COUNT(*) AS n_sources,
        | max_by(c_name, CASE WHEN c_name IS NOT NULL THEN v ELSE -1 END) AS c_name,
        | max_by(c_mktsegment, CASE WHEN c_mktsegment IS NOT NULL THEN v ELSE -1 END) AS c_mktsegment,
        | max_by(c_acctbal, CASE WHEN c_acctbal IS NOT NULL THEN v ELSE -1 END) AS c_acctbal
        |FROM allr GROUP BY 1 ORDER BY custkey""".stripMargin,

    "ann_knn_classify" ->
      """WITH e AS (SELECT vec_id, label,
        |  list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |scored AS (
        | SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
        |  list_inner_product(q.v, c.v)
        |   / (sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(c.v, c.v))) AS cos
        | FROM e q JOIN e c ON q.vec_id < 100 AND c.vec_id >= 100),
        |nn AS (SELECT query_id, corpus_id FROM (
        | SELECT query_id, corpus_id,
        |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id ASC) AS rank
        | FROM scored) WHERE rank <= 5),
        |votes AS (SELECT nn.query_id, e.label, COUNT(*) AS votes
        | FROM nn JOIN e ON e.vec_id = nn.corpus_id GROUP BY 1, 2),
        |win AS (SELECT query_id, label, votes,
        |  row_number() OVER (PARTITION BY query_id
        |   ORDER BY votes DESC, label ASC) AS r FROM votes)
        |SELECT w.query_id, CAST(w.label AS BIGINT) AS pred_label, w.votes,
        | CAST(q.label AS BIGINT) AS true_label
        |FROM win w JOIN e q ON q.vec_id = w.query_id
        |WHERE w.r = 1 ORDER BY query_id""".stripMargin,

    "q_user_entropy" -> {
      val term = sqlRound(
        "-((CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n))", 9)
      s"""WITH ct AS (SELECT user_id, event_type, COUNT(*) AS c
        | FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
        |wn AS (SELECT user_id, c,
        |  SUM(c) OVER (PARTITION BY user_id) AS n FROM ct)
        |SELECT user_id, COUNT(*) AS n_types,
        | CAST(MAX(n) AS BIGINT) AS n_events,
        | ${sqlRound("CAST(SUM(CAST(" + term +
             " AS DECIMAL(28,9))) AS DOUBLE)", 6)} AS entropy
        |FROM wn GROUP BY user_id ORDER BY user_id""".stripMargin
    },

    "text_langid_eval" -> {
      val toks = sqlTokens("text")
      val counts = TextFunctions.LangMarkers.map { case (lang, ms) =>
        lang -> s"len(list_filter($toks, t -> t IN (${ms.map(w => s"'$w'").mkString(", ")})))"
      }
      val best = counts.map(_._2).reduce((a, b) => s"greatest($a, $b)")
      val cases = counts.map { case (lang, c) =>
        s"WHEN best > 0 AND $c = best THEN '$lang'" }.mkString(" ")
      s"""WITH pred AS (SELECT lang AS true_lang,
        |  CASE $cases ELSE 'unknown' END AS pred_lang
        | FROM (SELECT lang, text, $best AS best FROM documents)),
        |cm AS (SELECT true_lang, pred_lang, COUNT(*) AS n
        | FROM pred GROUP BY 1, 2)
        |SELECT true_lang, pred_lang, n,
        | ${sqlRound("CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY true_lang)", 6)} AS share
        |FROM cm ORDER BY true_lang, pred_lang""".stripMargin
    },

    "q_promo_did" -> {
      def cellRev(promo: String, after: String, tag: String) =
        s"CAST(SUM(CASE WHEN promo = $promo AND after_cut = $after THEN rev END) AS DOUBLE) AS rev_$tag"
      def cellN(promo: String, after: String, tag: String) =
        s"SUM(CASE WHEN promo = $promo AND after_cut = $after THEN 1 ELSE 0 END) AS n_$tag"
      def mean(tag: String) = sqlRound(s"rev_$tag / n_$tag", 6)
      s"""WITH rows0 AS (SELECT
        |  p_type LIKE 'PROMO%' AS promo,
        |  l_shipdate >= DATE '1995-01-01' AS after_cut,
        |  CAST(${sqlRound("l_extendedprice * (1 - l_discount)", 2)}
        |    AS DECIMAL(18,2)) AS rev
        | FROM lineitem JOIN part ON l_partkey = p_partkey),
        |cells AS (SELECT
        |  ${cellRev("true", "false", "promo_before")}, ${cellN("true", "false", "promo_before")},
        |  ${cellRev("true", "true", "promo_after")}, ${cellN("true", "true", "promo_after")},
        |  ${cellRev("false", "false", "base_before")}, ${cellN("false", "false", "base_before")},
        |  ${cellRev("false", "true", "base_after")}, ${cellN("false", "true", "base_after")}
        | FROM rows0),
        |means AS (SELECT
        |  ${mean("promo_before")} AS mean_promo_before,
        |  ${mean("promo_after")} AS mean_promo_after,
        |  ${mean("base_before")} AS mean_base_before,
        |  ${mean("base_after")} AS mean_base_after
        | FROM cells)
        |SELECT mean_promo_before, mean_promo_after, mean_base_before,
        | mean_base_after,
        | ${sqlRound("(mean_promo_after - mean_promo_before) - " +
             "(mean_base_after - mean_base_before)", 6)} AS did
        |FROM means ORDER BY did""".stripMargin
    },

    "text_bigram_logprob" ->
      s"""WITH t AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
        |bg0 AS (SELECT doc_id, unnest(${sqlShingleList("toks", 2)}) AS bg
        | FROM t WHERE len(toks) >= 2),
        |dbf AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg0 GROUP BY doc_id, bg),
        |cb AS (SELECT bg, CAST(SUM(c) AS BIGINT) AS cb FROM dbf GROUP BY bg),
        |uni AS (SELECT token, COUNT(*) AS cw FROM
        |  (SELECT unnest(toks) AS token FROM t) GROUP BY token),
        |v AS (SELECT COUNT(*) AS vocab FROM uni),
        |terms AS (SELECT doc_id, c,
        |  CAST(${sqlRound("CAST(c AS DOUBLE) * ln(CAST(cb + 1 AS DOUBLE) / CAST(cw + vocab AS DOUBLE))", 6)} AS DECIMAL(28,6)) AS t
        | FROM dbf JOIN cb USING (bg)
        |  JOIN uni ON uni.token = split_part(dbf.bg, ' ', 1)
        |  CROSS JOIN v)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
        | ${sqlRound("CAST(SUM(t) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)", 4)} AS avg_logprob
        |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "dq_l_diversity" ->
      s"""SELECT c_nationkey,
        | CAST(floor(${sqlRound("c_acctbal", 2)} / 1000) AS BIGINT) AS bal_band,
        | COUNT(*) AS class_size,
        | CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS l_diversity,
        | COUNT(DISTINCT c_mktsegment) < 2 AS homogeneous
        |FROM customer GROUP BY 1, 2 ORDER BY c_nationkey, bal_band""".stripMargin,

    "dq_cross_field" -> {
      val dev = sqlRound(
        "abs(l_extendedprice - l_quantity * p_retailprice) / " +
          "(CASE WHEN l_quantity * p_retailprice = 0 THEN 1.0 " +
          "ELSE l_quantity * p_retailprice END)", 6)
      s"""WITH j AS (SELECT p_brand,
        |  CASE WHEN $dev > 0.5 THEN 1 ELSE 0 END AS viol
        | FROM lineitem JOIN part ON l_partkey = p_partkey)
        |SELECT p_brand, COUNT(*) AS n_lines,
        | CAST(SUM(viol) AS BIGINT) AS n_violations,
        | ${sqlRound("CAST(SUM(viol) AS DOUBLE) / COUNT(*)", 6)} AS violation_rate
        |FROM j GROUP BY p_brand ORDER BY p_brand""".stripMargin
    },

    "q_band_migration" -> {
      def band(c: String) =
        s"""CASE WHEN $c IS NULL THEN 'none'
           | WHEN $c < 100000.0 THEN 'low'
           | WHEN $c < 300000.0 THEN 'mid'
           | ELSE 'high' END""".stripMargin
      s"""WITH per AS (SELECT o_custkey,
        |  CAST(SUM(CASE WHEN year(o_orderdate) = 1995
        |    THEN CAST(${sqlRound("o_totalprice", 2)} AS DECIMAL(18,2)) END)
        |   AS DOUBLE) AS r95,
        |  CAST(SUM(CASE WHEN year(o_orderdate) = 1996
        |    THEN CAST(${sqlRound("o_totalprice", 2)} AS DECIMAL(18,2)) END)
        |   AS DOUBLE) AS r96
        | FROM orders WHERE year(o_orderdate) IN (1995, 1996)
        | GROUP BY o_custkey),
        |mat AS (SELECT ${band("r95")} AS band_1995,
        |  ${band("r96")} AS band_1996, COUNT(*) AS n_customers
        | FROM per GROUP BY 1, 2)
        |SELECT band_1995, band_1996, n_customers,
        | ${sqlRound("CAST(n_customers AS DOUBLE) / " +
             "SUM(n_customers) OVER (PARTITION BY band_1995)", 6)} AS share_of_origin
        |FROM mat ORDER BY band_1995, band_1996""".stripMargin
    },

    "q_discount_depth" ->
      s"""WITH per AS (SELECT ${sqlRound("l_discount", 2)} AS discount,
        |  COUNT(*) AS n_lines,
        |  SUM(CAST(l_quantity AS DECIMAL(18,2))) AS q,
        |  SUM(CAST(${sqlRound("l_extendedprice * (1 - l_discount)", 2)}
        |    AS DECIMAL(18,2))) AS r
        | FROM lineitem GROUP BY 1),
        |tot AS (SELECT SUM(r) AS t FROM per)
        |SELECT discount, n_lines,
        | ${sqlRound("CAST(q AS DOUBLE) / n_lines", 4)} AS avg_qty,
        | CAST(r AS DOUBLE) AS revenue,
        | ${sqlRound("CAST(r AS DOUBLE) / CAST(t AS DOUBLE)", 6)} AS revenue_share
        |FROM per CROSS JOIN tot ORDER BY discount""".stripMargin,

    "q_growth_accounting" ->
      s"""WITH um AS (SELECT DISTINCT user_id,
        |  CAST(floor(epoch_ms(ts) / (86400000.0 * 7)) AS BIGINT) AS m
        | FROM events WHERE user_id IS NOT NULL),
        |f AS (SELECT user_id, m,
        |  lag(m) OVER (PARTITION BY user_id ORDER BY m) AS prv,
        |  lead(m) OVER (PARTITION BY user_id ORDER BY m) AS nxt,
        |  MIN(m) OVER (PARTITION BY user_id) AS frst FROM um),
        |mx AS (SELECT MAX(m) AS maxm FROM um),
        |act AS (SELECT m,
        |  CAST(SUM(CASE WHEN m = frst THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |  CAST(SUM(CASE WHEN prv = m - 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
        |  CAST(SUM(CASE WHEN prv IS NOT NULL AND prv < m - 1 THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_resurrected
        | FROM f GROUP BY m),
        |ch AS (SELECT m + 1 AS m, CAST(COUNT(*) AS BIGINT) AS n_churned
        | FROM f CROSS JOIN mx
        | WHERE (nxt IS NULL OR nxt > m + 1) AND m < maxm
        | GROUP BY m + 1)
        |SELECT m AS week,
        | COALESCE(n_new, 0) AS n_new,
        | COALESCE(n_retained, 0) AS n_retained,
        | COALESCE(n_resurrected, 0) AS n_resurrected,
        | COALESCE(n_churned, 0) AS n_churned
        |FROM act FULL OUTER JOIN ch USING (m)
        |ORDER BY week""".stripMargin,

    "dq_freshness" ->
      s"""WITH pt AS (SELECT event_type,
        |  MAX(epoch_ms(ts)) AS last_ms, COUNT(*) AS n_events
        | FROM events GROUP BY event_type),
        |h AS (SELECT MAX(last_ms) AS hwm FROM pt)
        |SELECT event_type, n_events, last_ms,
        | CAST(floor((h.hwm - last_ms) / 86400000.0) AS BIGINT) AS days_stale,
        | CAST(floor((h.hwm - last_ms) / 86400000.0) AS BIGINT) > 7 AS is_stale
        |FROM pt CROSS JOIN h ORDER BY event_type""".stripMargin,

    // composes the exact and LSH graded runs; first relevant hit's
    // reciprocal rank per query
    "ann_mrr_eval" ->
      s"""WITH exact AS (SELECT query_id, neighbor_id FROM ($annTopkOracle) t1),
         |approx AS (SELECT query_id, rank, neighbor_id FROM ($annLshOracle) t2)
         |SELECT e.query_id,
         | CAST(COALESCE(MIN(a.rank), 0) AS BIGINT) AS first_hit_rank,
         | ${sqlRound("COALESCE(CAST(1 AS DOUBLE) / MIN(a.rank), 0)", 6)} AS mrr
         |FROM exact e LEFT JOIN approx a
         | ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
         |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin,

    "dedup_cross_source_matrix" ->
      """WITH corpus AS (
        |  SELECT source, text FROM documents
        |  UNION ALL
        |  SELECT 'zz_mirror' AS source, text FROM documents WHERE doc_id % 5 = 0),
        |fp AS (SELECT DISTINCT source,
        |  md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        | FROM corpus)
        |SELECT a.source AS source_a, b.source AS source_b,
        | CAST(COUNT(*) AS BIGINT) AS n_shared_fp
        |FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin,

    "corpus_mix_temperature" ->
      s"""WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS n_chars FROM documents GROUP BY 1),
         |s AS (SELECT source, n_docs, n_chars,
         |  ${sqlRound("sqrt(CAST(n_chars AS DOUBLE))", 9)} AS sq FROM c),
         |t AS (SELECT SUM(n_chars) AS tc,
         |  SUM(CAST(sq AS DECIMAL(28,9))) AS tsq FROM s)
         |SELECT source, n_docs, n_chars,
         | ${sqlRound("CAST(n_chars AS DOUBLE) / tc", 6)} AS raw_share,
         | ${sqlRound("sq / CAST(tsq AS DOUBLE)", 6)} AS temp_share
         |FROM s CROSS JOIN t ORDER BY source""".stripMargin,

    "embed_quality_stats" ->
      s"""WITH n AS (SELECT
         |  ${sqlRound("sqrt(list_inner_product(list_transform(embedding, x -> x::DOUBLE), list_transform(embedding, x -> x::DOUBLE)))", 9)} AS norm
         | FROM embeddings)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
         | CAST(SUM(CASE WHEN norm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
         | ${sqlRound("MIN(norm)", 9)} AS min_norm,
         | ${sqlRound("MAX(norm)", 9)} AS max_norm,
         | ${sqlRound("CAST(SUM(CAST(norm AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*)", 6)} AS mean_norm
         |FROM n ORDER BY n_vecs""".stripMargin,

    "text_train_overlap" ->
      s"""WITH $shingleCte,
         |dsh AS (SELECT doc_id, list_distinct(shingles) AS dsh FROM sh),
         |ev AS (SELECT doc_id, len(dsh) AS n_sh, unnest(dsh) AS g
         |  FROM dsh WHERE doc_id % 10 = 0),
         |tr AS (SELECT DISTINCT g FROM (
         |  SELECT unnest(dsh) AS g FROM dsh WHERE doc_id % 10 != 0)),
         |hits AS (SELECT e.doc_id, e.n_sh,
         |  CAST(COUNT(t.g) AS BIGINT) AS n_overlap
         | FROM ev e LEFT JOIN tr t ON e.g = t.g GROUP BY 1, 2)
         |SELECT doc_id, CAST(n_sh AS BIGINT) AS n_sh, n_overlap,
         | ${sqlRound("CAST(n_overlap AS DOUBLE) / n_sh", 6)} AS overlap_rate
         |FROM hits ORDER BY doc_id""".stripMargin,

    "corpus_dup_inflation" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, source, text, n_chars FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1099511627776, source, text, n_chars
         |   FROM documents WHERE doc_id % 4 = 0),
         |f AS (SELECT doc_id, source, n_chars,
         |  row_number() OVER (
         |    PARTITION BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
         |    ORDER BY doc_id) AS rn
         | FROM corpus)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         | CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_redundant,
         | CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         | CAST(SUM(CASE WHEN rn > 1 THEN n_chars ELSE 0 END) AS BIGINT) AS redundant_chars,
         | ${sqlRound("CAST(SUM(CASE WHEN rn > 1 THEN n_chars ELSE 0 END) AS DOUBLE) / SUM(n_chars)", 6)} AS redundant_share
         |FROM f GROUP BY source ORDER BY source""".stripMargin,

    // all-pairs formulation — hash-equality proves the PassJoin
    // segment blocking drops no qualifying pair
    "dedup_fuzzy_names" ->
      s"""WITH labels AS (
         |  SELECT p_name || ' ' || p_brand || ' size ' || p_size AS label,
         |   MIN(p_partkey) AS id
         |  FROM part GROUP BY 1),
         |corpus AS (
         |  SELECT id, label FROM labels
         |  UNION ALL
         |  SELECT id + 1099511627776, substr(label, 1, 7) || substr(label, 9)
         |   FROM labels WHERE id % 10 = 0)
         |SELECT a.id AS id_a, b.id AS id_b,
         | CAST(levenshtein(a.label, b.label) AS BIGINT) AS edit_dist
         |FROM corpus a JOIN corpus b
         | ON a.id < b.id AND abs(length(a.label) - length(b.label)) <= 1
         |WHERE levenshtein(a.label, b.label) <= 1
         |ORDER BY id_a, id_b""".stripMargin,

    "q_interevent_gaps" ->
      s"""WITH g AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms
         |  FROM events WHERE user_id IS NOT NULL),
         |dd AS (SELECT event_type, user_id, event_id,
         |  ms - lag(ms) OVER (PARTITION BY user_id, event_type
         |    ORDER BY ms ASC, event_id ASC) AS gap_ms FROM g),
         |e AS (SELECT * FROM dd WHERE gap_ms IS NOT NULL),
         |r AS (SELECT event_type, gap_ms,
         |  row_number() OVER (PARTITION BY event_type
         |    ORDER BY gap_ms ASC, user_id ASC, event_id ASC) AS rk,
         |  COUNT(*) OVER (PARTITION BY event_type) AS n FROM e)
         |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_gaps,
         | CAST(MAX(CASE WHEN rk = (n + 1) // 2 THEN gap_ms END) AS BIGINT) AS p50_gap_ms,
         | CAST(MAX(CASE WHEN rk = (9 * n + 9) // 10 THEN gap_ms END) AS BIGINT) AS p90_gap_ms
         |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,

    "dedup_shingle_profile" ->
      s"""WITH $shingleCte,
         |dsh AS (SELECT doc_id, unnest(list_distinct(shingles)) AS g FROM sh),
         |df AS (SELECT g, COUNT(*) AS df FROM dsh GROUP BY 1),
         |banded AS (SELECT CAST(length(printf('%b', df)) - 1 AS BIGINT) AS df_band,
         |  CAST(COUNT(*) AS BIGINT) AS n_shingles,
         |  CAST(SUM(df * df) AS BIGINT) AS candidate_rows
         | FROM df GROUP BY 1),
         |tt AS (SELECT SUM(candidate_rows) AS tot FROM banded)
         |SELECT df_band, n_shingles, candidate_rows,
         | ${sqlRound("CAST(candidate_rows AS DOUBLE) / tot", 6)} AS candidate_share
         |FROM banded CROSS JOIN tt ORDER BY df_band""".stripMargin,

    "text_dedup_threshold_sweep" ->
      s"""WITH pairs AS (SELECT jaccard_sim FROM ($ngramJaccardCappedOracle) t)
         |SELECT CASE WHEN jaccard_sim >= 0.9 THEN '0.9'
         |  WHEN jaccard_sim >= 0.7 THEN '0.7' ELSE '0.5' END AS threshold_band,
         | CAST(COUNT(*) AS BIGINT) AS n_pairs
         |FROM pairs GROUP BY 1 ORDER BY threshold_band""".stripMargin,

    "ann_margin_eval" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
         |  FROM embeddings),
         |scored AS (
         | SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         |  list_inner_product(q.v, c.v)
         |   / (sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(c.v, c.v))) AS cos
         | FROM e q JOIN e c ON q.vec_id < 100 AND c.vec_id != q.vec_id),
         |rk AS (SELECT query_id, cos,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id ASC) AS r
         | FROM scored)
         |SELECT query_id,
         | ${sqlRound("MAX(CASE WHEN r = 1 THEN cos END)", 6)} AS cos_top1,
         | ${sqlRound("MAX(CASE WHEN r = 2 THEN cos END)", 6)} AS cos_top2,
         | ${sqlRound(s"${sqlRound("MAX(CASE WHEN r = 1 THEN cos END)", 6)} - ${sqlRound("MAX(CASE WHEN r = 2 THEN cos END)", 6)}", 6)} AS margin
         |FROM rk WHERE r <= 2 GROUP BY query_id ORDER BY query_id""".stripMargin,

    // plain-window formulation — cross-formulation equivalence with
    // the bucketed running-sum machinery is hash-checked
    "q_revenue_gini" ->
      s"""WITH rev AS (SELECT o_custkey,
         |  CAST(SUM(CAST(${sqlRound("l_extendedprice", 2)} AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
         | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         | GROUP BY o_custkey),
         |r AS (SELECT rev, SUM(rev) OVER (ORDER BY rev ASC, o_custkey ASC
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM rev),
         |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(CAST(cum AS DECIMAL(28,2))) AS DOUBLE) AS sc,
         |  CAST(SUM(rev) AS DOUBLE) AS tot FROM r)
         |SELECT n AS n_customers, tot AS total_revenue,
         | ${sqlRound("2.0 * ((n + 1) * tot - sc) / (n * tot) - CAST(n + 1 AS DOUBLE) / n", 6)} AS gini
         |FROM agg ORDER BY n_customers""".stripMargin,

    "q_user_stickiness" ->
      s"""WITH active AS (SELECT DISTINCT user_id,
         |  CAST(floor(epoch_ms(ts) / 86400000.0) AS BIGINT) AS day
         | FROM events WHERE user_id IS NOT NULL),
         |aw AS (SELECT user_id, day,
         |  CAST(floor(day / 7.0) AS BIGINT) AS week FROM active),
         |d AS (SELECT week, CAST(COUNT(*) AS BIGINT) AS n_days,
         |  CAST(SUM(dau) AS BIGINT) AS sum_dau FROM (
         |   SELECT week, day, COUNT(*) AS dau FROM aw GROUP BY 1, 2)
         | GROUP BY week),
         |w AS (SELECT week, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
         | FROM aw GROUP BY 1)
         |SELECT week, n_days, wau,
         | ${sqlRound("CAST(sum_dau AS DOUBLE) / (n_days * wau)", 6)} AS stickiness
         |FROM d JOIN w USING (week) ORDER BY week""".stripMargin,

    "dedup_minhash_band_stats" -> minHashBandStatsOracle,

    "q_first_touch_attribution" ->
      s"""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms, event_type, value
         |  FROM events),
         |a AS (SELECT *, first_value(CASE WHEN event_type <> 'purchase'
         |    THEN event_type END IGNORE NULLS)
         |  OVER (PARTITION BY user_id ORDER BY ms ASC, event_id ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS channel
         | FROM e)
         |SELECT COALESCE(channel, 'none') AS channel, COUNT(*) AS conversions,
         | ${sqlSumD("value")} AS attributed_value
         |FROM a WHERE event_type = 'purchase'
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // ---- round-9 interop round trips: the oracle computes the
    // equivalent relational result straight from the parquet ----

    "interop_delta_cow_delete" ->
      s"""SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
         | ${sqlSumD("o_totalprice")} AS total
         |FROM orders
         |WHERE o_orderstatus <> 'P' AND NOT (o_totalprice >= 150000.0)
         |GROUP BY 1 ORDER BY status""".stripMargin,

    "interop_delta_update_timetravel" ->
      s"""SELECT CASE WHEN c_acctbal < 0 THEN 'DELINQUENT'
         |   ELSE c_mktsegment END AS segment,
         | COUNT(*) AS n_cust, CAST(1 AS BIGINT) AS version
         |FROM customer GROUP BY 1
         |UNION ALL
         |SELECT c_mktsegment AS segment, COUNT(*) AS n_cust,
         | CAST(0 AS BIGINT) AS version
         |FROM customer GROUP BY 1
         |ORDER BY version, segment""".stripMargin,

    "interop_delta_merge" ->
      s"""WITH merged AS (
         |  SELECT CASE WHEN c_custkey % 10 = 0 THEN 'VIP'
         |    ELSE c_mktsegment END AS seg,
         |   CASE WHEN c_custkey % 10 = 0 THEN 0.0
         |    ELSE c_acctbal END AS bal
         |  FROM customer
         |  UNION ALL
         |  SELECT 'NEW' AS seg, 100.0 AS bal
         |  FROM customer WHERE c_custkey % 7 = 0)
         |SELECT seg AS segment, COUNT(*) AS n_cust,
         | ${sqlSumD("bal")} AS total
         |FROM merged GROUP BY 1 ORDER BY segment""".stripMargin,

    "interop_sql_dml" ->
      s"""WITH merged AS (
         |  SELECT c_mktsegment AS seg,
         |   CASE WHEN c_acctbal < 0 THEN 0.0 ELSE c_acctbal END AS bal
         |  FROM customer
         |  UNION ALL
         |  SELECT 'MERGED' AS seg, 50.0 AS bal
         |  FROM customer WHERE c_custkey % 13 = 0)
         |SELECT seg AS segment, COUNT(*) AS n_cust,
         | ${sqlSumD("bal")} AS total
         |FROM merged GROUP BY 1 ORDER BY segment""".stripMargin,

    "interop_iceberg_partitioned" ->
      s"""SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
         | ${sqlSumD("o_totalprice")} AS total
         |FROM orders WHERE o_orderstatus = 'F'
         |GROUP BY 1 ORDER BY status""".stripMargin,

    "interop_delta_dv_delete" ->
      s"""SELECT p_brand AS brand, COUNT(*) AS n_parts,
         | ${sqlSumD("p_retailprice")} AS retail
         |FROM part WHERE NOT (p_partkey % 10 = 0)
         |GROUP BY 1 ORDER BY brand""".stripMargin,

    "interop_iceberg_delete" ->
      s"""SELECT s_nationkey AS nation, COUNT(*) AS n_sup,
         | ${sqlSumD("s_acctbal")} AS bal
         |FROM supplier WHERE NOT (s_acctbal < 0)
         |GROUP BY 1 ORDER BY nation""".stripMargin,

    "interop_iceberg_roundtrip" ->
      s"""SELECT s_nationkey AS nation, COUNT(*) AS n_sup,
         | ${sqlSumD("s_acctbal")} AS bal
         |FROM supplier GROUP BY 1 ORDER BY nation""".stripMargin,

    "interop_iceberg_compact" ->
      s"""SELECT p_brand AS brand, COUNT(*) AS n_parts,
         | ${sqlSumD("p_retailprice")} AS retail
         |FROM part WHERE NOT (p_size < 10)
         |GROUP BY 1 ORDER BY brand""".stripMargin,

    "interop_sql_merge_flex" ->
      s"""WITH base AS (
         |  SELECT s_suppkey, s_nationkey,
         |   CASE WHEN s_suppkey % 5 = 0 AND s_acctbal > 0
         |        THEN 3 * s_acctbal ELSE s_acctbal END AS s_acctbal
         |  FROM supplier),
         |ins AS (
         |  SELECT s_suppkey + 900000 AS s_suppkey, s_nationkey, s_acctbal
         |  FROM supplier WHERE s_suppkey % 11 = 0 AND s_nationkey < 20),
         |fin AS (
         |  SELECT s_nationkey, s_acctbal FROM base WHERE NOT (s_acctbal < 0)
         |  UNION ALL
         |  SELECT s_nationkey, s_acctbal FROM ins)
         |SELECT s_nationkey AS nation, COUNT(*) AS n_sup,
         | ${sqlSumD("s_acctbal")} AS bal
         |FROM fin GROUP BY 1 ORDER BY nation""".stripMargin,

    "interop_iceberg_pmor" ->
      s"""WITH base AS (
         |  SELECT o_orderstatus, o_orderdate,
         |   CASE WHEN o_orderstatus = 'P' AND o_orderkey % 4 = 0
         |        THEN 2 * o_totalprice
         |        ELSE o_totalprice END AS o_totalprice
         |  FROM orders
         |  WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 50000))
         |SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
         | ${sqlSumD("o_totalprice")} AS total
         |FROM base WHERE o_orderdate >= DATE '1996-01-01'
         |GROUP BY 1 ORDER BY status""".stripMargin,

    "interop_iceberg_pcompact" ->
      s"""WITH base AS (
         |  SELECT c_mktsegment,
         |   CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal + 100
         |        ELSE c_acctbal END AS c_acctbal
         |  FROM customer
         |  WHERE NOT (c_acctbal < 0))
         |SELECT c_mktsegment AS segment, COUNT(*) AS n_cust,
         | ${sqlSumD("c_acctbal")} AS bal
         |FROM base GROUP BY 1 ORDER BY segment""".stripMargin,

    "interop_iceberg_dcompact" ->
      s"""WITH base AS (
         |  SELECT o_orderstatus, o_totalprice FROM orders
         |  WHERE NOT (o_orderkey % 7 = 0)
         |    AND NOT (o_totalprice < 10000)
         |    AND NOT (o_orderpriority = '1-URGENT' AND o_orderkey % 2 = 0))
         |SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
         | ${sqlSumD("o_totalprice")} AS total
         |FROM base GROUP BY 1 ORDER BY status""".stripMargin,

    "interop_iceberg_pevolve" ->
      s"""SELECT s_nationkey AS nation, COUNT(*) AS n_sup,
         | ${sqlSumD("s_acctbal")} AS bal
         |FROM supplier WHERE s_nationkey < 13
         |GROUP BY 1 ORDER BY nation""".stripMargin,

    "interop_sql_merge_multi" ->
      s"""WITH src AS (
         |  SELECT p_partkey, p_retailprice FROM part WHERE p_partkey % 3 = 0),
         |merged AS (
         |  SELECT t.p_brand,
         |   CASE WHEN s.p_retailprice > 1500
         |        THEN s.p_retailprice + t.p_retailprice
         |        ELSE t.p_retailprice END AS p_retailprice,
         |   (s.p_partkey IS NOT NULL AND NOT (s.p_retailprice > 1500))
         |     AS deleted
         |  FROM part t LEFT JOIN src s ON t.p_partkey = s.p_partkey),
         |final AS (
         |  SELECT p_brand, p_retailprice FROM merged WHERE NOT deleted
         |  UNION ALL
         |  SELECT p_brand, p_retailprice FROM part
         |  WHERE p_partkey % 3 = 0 AND p_retailprice < 1200)
         |SELECT p_brand AS brand, COUNT(*) AS n_part,
         | ${sqlSumD("p_retailprice")} AS price
         |FROM final GROUP BY 1 ORDER BY brand""".stripMargin,

    "interop_delta_cmscan" ->
      s"""SELECT c_nationkey AS nation, COUNT(*) AS n_cust,
         | ${sqlSumD("c_acctbal")} AS bal
         |FROM customer WHERE c_nationkey < 10
         |GROUP BY 1 ORDER BY nation""".stripMargin,

    "interop_iceberg_hidden" ->
      s"""SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
         | COUNT(*) AS n_orders, ${sqlSumD("o_totalprice")} AS total
         |FROM orders WHERE o_orderdate >= DATE '1995-01-01'
         |GROUP BY 1 ORDER BY yr""".stripMargin,

    "interop_delta_dpp" ->
      s"""SELECT d.flag, COUNT(*) AS n, ${sqlSumD("l_quantity")} AS qty
         |FROM lineitem
         |JOIN (SELECT l_returnflag AS flag, MIN(l_linestatus) AS tag
         |      FROM lineitem GROUP BY 1) d
         |  ON l_returnflag = d.flag
         |WHERE d.tag = 'F'
         |GROUP BY 1 ORDER BY flag""".stripMargin,

    "interop_iceberg_sorted" ->
      s"""SELECT o_custkey AS cust, COUNT(*) AS n_orders,
         | ${sqlSumD("o_totalprice")} AS total
         |FROM orders WHERE o_custkey < 500
         |GROUP BY 1 ORDER BY cust""".stripMargin,

    "interop_iceberg_dv" ->
      s"""SELECT c_nationkey AS nation, COUNT(*) AS n,
         | ${sqlSumD("CASE WHEN c_nationkey = 5 THEN 0.0 ELSE c_acctbal END")} AS bal
         |FROM customer WHERE c_nationkey <> 3
         |GROUP BY 1 ORDER BY nation""".stripMargin,

    "interop_iceberg_cdcrows" ->
      s"""SELECT change, nation, n, bal FROM (
         | SELECT 'delete' AS change, c_nationkey AS nation,
         |  COUNT(*) AS n, ${sqlSumD("c_acctbal")} AS bal
         | FROM customer WHERE c_nationkey = 7 GROUP BY 2
         | UNION ALL
         | SELECT 'delete', c_nationkey, COUNT(*), ${sqlSumD("c_acctbal")}
         | FROM customer WHERE c_nationkey = 11 GROUP BY 2
         | UNION ALL
         | SELECT 'insert', c_nationkey, COUNT(*), ${sqlSumD("0.0")}
         | FROM customer WHERE c_nationkey = 11 GROUP BY 2)
         |ORDER BY change, nation""".stripMargin,

    "interop_iceberg_cdcscan" ->
      s"""SELECT change, nation, n, bal FROM (
         | SELECT 'delete' AS change, c_nationkey AS nation,
         |  COUNT(*) AS n, ${sqlSumD("c_acctbal")} AS bal
         | FROM customer WHERE c_nationkey = 7 GROUP BY 2
         | UNION ALL
         | SELECT 'delete', c_nationkey, COUNT(*), ${sqlSumD("c_acctbal")}
         | FROM customer WHERE c_nationkey = 11 GROUP BY 2
         | UNION ALL
         | SELECT 'insert', c_nationkey, COUNT(*), ${sqlSumD("0.0")}
         | FROM customer WHERE c_nationkey = 11 GROUP BY 2)
         |ORDER BY change, nation""".stripMargin,

    "interop_iceberg_cdcrename" ->
      s"""SELECT change, rk, COUNT(*) AS n,
         | CAST(SUM(k) AS BIGINT) AS keysum, MIN(nm) AS nm FROM (
         | SELECT 'insert' AS change, n_regionkey AS rk,
         |  n_nationkey + 100 AS k, n_name AS nm FROM nation
         | UNION ALL
         | SELECT 'delete', n_regionkey, n_nationkey, n_name
         | FROM nation WHERE n_nationkey % 7 = 0
         | UNION ALL
         | SELECT 'delete', n_regionkey, n_nationkey + 100, n_name
         | FROM nation WHERE (n_nationkey + 100) % 7 = 0)
         |GROUP BY 1, 2
         |ORDER BY change, rk""".stripMargin,

    "interop_iceberg_cdceq" ->
      s"""SELECT change, nation, COUNT(*) AS n, ${sqlSumD("bal")} AS bal
         |FROM (
         | SELECT 'delete' AS change, c_nationkey AS nation,
         |  c_acctbal AS bal FROM customer WHERE c_nationkey = 3
         | UNION ALL
         | SELECT 'delete', c_nationkey, 0.0
         | FROM customer WHERE c_nationkey = 3
         | UNION ALL
         | SELECT 'insert', c_nationkey, 0.0
         | FROM customer WHERE c_nationkey = 3
         | UNION ALL
         | SELECT 'insert', c_nationkey, 1.0
         | FROM customer WHERE c_nationkey = 3
         | UNION ALL
         | SELECT 'insert', c_nationkey, c_acctbal
         | FROM customer WHERE c_nationkey = 9)
         |GROUP BY 1, 2
         |ORDER BY change, nation""".stripMargin,

    "interop_iceberg_sortcompact" ->
      s"""SELECT k, bal FROM (
         | SELECT s_suppkey AS k, s_acctbal AS bal FROM supplier
         | UNION ALL
         | SELECT s_suppkey + 100000, s_acctbal FROM supplier)
         |WHERE k % 10 <> 0
         |ORDER BY k""".stripMargin,

    "interop_iceberg_nesteddef" ->
      s"""SELECT k, nm, flag FROM (
         | SELECT n_nationkey AS k, n_name AS nm,
         |  CAST(5 AS BIGINT) AS flag FROM nation
         | UNION ALL
         | SELECT n_nationkey + 100, n_name, CAST(n_regionkey AS BIGINT)
         | FROM nation)
         |ORDER BY k""".stripMargin,

    "interop_iceberg_variant" ->
      s"""SELECT n_nationkey AS k, n_name AS nm,
         | CAST(n_regionkey AS BIGINT) AS rk
         |FROM nation WHERE n_nationkey % 5 <> 0
         |ORDER BY k""".stripMargin,

    "interop_delta_logclean" ->
      s"""SELECT k, nm FROM (
         | SELECT n_nationkey + (i * 100) AS k, n_name AS nm
         | FROM nation, (SELECT UNNEST([0, 1, 2, 3]) AS i))
         |ORDER BY k""".stripMargin,

    "interop_iceberg_hiveconvert" ->
      s"""SELECT grp, COUNT(*) AS n, ${sqlSumD("c_acctbal")} AS bal
         |FROM (
         | SELECT c_nationkey % 4 AS grp, c_acctbal FROM customer
         | WHERE c_custkey % 5 <> 0)
         |WHERE grp <> 1
         |GROUP BY 1
         |ORDER BY grp""".stripMargin,

    "interop_iceberg_convert" ->
      s"""SELECT k, nm, rk FROM (
         | SELECT n_nationkey AS k, n_name AS nm,
         |   CAST(n_regionkey AS BIGINT) AS rk FROM nation
         | UNION ALL
         | SELECT n_nationkey + 100 AS k, n_name AS nm,
         |   CAST(n_regionkey AS BIGINT) AS rk FROM nation)
         |WHERE k % 5 <> 0
         |ORDER BY k""".stripMargin,

    "interop_delta_foreign" ->
      s"""SELECT p, COUNT(*) AS n, ${sqlSumD("bal")} AS bal,
         | MAX(k) AS mk FROM (
         | SELECT c_nationkey % 5 AS p, c_acctbal AS bal,
         |  c_custkey AS k FROM customer
         | WHERE NOT (c_nationkey % 5 = 0 AND c_custkey % 7 = 0))
         |GROUP BY 1
         |ORDER BY p""".stripMargin,

    "interop_delta_variant" ->
      s"""SELECT n_nationkey AS k, n_name AS nm,
         | CAST(n_regionkey AS BIGINT) AS rk
         |FROM nation WHERE n_nationkey % 5 <> 0
         |ORDER BY k""".stripMargin,

    "interop_delta_widen" ->
      s"""SELECT k, nm, rk FROM (
         | SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS nm,
         |   CAST(n_regionkey AS DOUBLE) AS rk FROM nation
         | UNION ALL
         | SELECT CAST(n_nationkey AS BIGINT) + 10000000000 AS k,
         |   n_name AS nm, CAST(n_regionkey AS DOUBLE) AS rk FROM nation)
         |ORDER BY k""".stripMargin,

    "interop_iceberg_metaclean" ->
      s"""SELECT k, nm FROM (
         | SELECT n_nationkey + (i * 100) AS k, n_name AS nm
         | FROM nation, (SELECT UNNEST([0, 1, 2, 3]) AS i))
         |ORDER BY k""".stripMargin,

    "interop_iceberg_defaults" ->
      s"""SELECT k, nm, bonus FROM (
         | SELECT n_nationkey AS k, n_name AS nm, CAST(7 AS BIGINT) AS bonus
         | FROM nation
         | UNION ALL
         | SELECT n_nationkey + 100, n_name, CAST(7 AS BIGINT) FROM nation
         | UNION ALL
         | SELECT n_nationkey + 200, n_name, CAST(n_regionkey AS BIGINT)
         | FROM nation)
         |ORDER BY k""".stripMargin,

    "interop_iceberg_spj" ->
      s"""SELECT c_nationkey AS nation, COUNT(*) AS n_cust,
         | ${sqlSumD("c_acctbal")} AS c_bal,
         | ${sqlRound(s"(SELECT ${sqlSumD("s_acctbal")} FROM supplier s WHERE s.s_nationkey = c.c_nationkey)", 2)} AS s_bal
         |FROM customer c
         |WHERE EXISTS (SELECT 1 FROM supplier s2 WHERE s2.s_nationkey = c.c_nationkey)
         |GROUP BY 1 ORDER BY nation""".stripMargin,

    "interop_delta_identity" ->
      s"""SELECT 100 + 10 * (ROW_NUMBER() OVER (ORDER BY c_custkey) - 1) AS id,
         | c_custkey, ${sqlRound("c_acctbal", 2)} AS bal
         |FROM customer WHERE c_custkey <= 200
         |ORDER BY c_custkey""".stripMargin,

    "interop_delta_logcompact" ->
      """SELECT n_regionkey AS region, COUNT(*) AS n_nations
        |FROM nation GROUP BY 1 ORDER BY region""".stripMargin,

    "interop_iceberg_rename" ->
      """SELECT k, nm FROM (
        |  SELECT n_nationkey AS k, n_name AS nm FROM nation
        |  UNION ALL
        |  SELECT n_nationkey + 100 AS k, UPPER(n_name) AS nm FROM nation)
        |ORDER BY k""".stripMargin,

    "interop_iceberg_upsert" ->
      s"""WITH ups AS (
         |  SELECT s_suppkey, s_acctbal + 1000 AS s_acctbal
         |  FROM supplier WHERE s_suppkey % 7 = 0
         |  UNION ALL
         |  SELECT s_suppkey + 100000 AS s_suppkey, s_acctbal
         |  FROM supplier WHERE s_suppkey % 13 = 0),
         |fin AS (
         |  SELECT * FROM ups
         |  UNION ALL
         |  SELECT s.s_suppkey, s.s_acctbal FROM supplier s
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM ups u WHERE u.s_suppkey = s.s_suppkey))
         |SELECT s_suppkey % 10 AS bucket, COUNT(*) AS n_sup,
         | ${sqlSumD("s_acctbal")} AS bal
         |FROM fin GROUP BY 1 ORDER BY bucket""".stripMargin,

    "interop_iceberg_evolve" ->
      """SELECT k, name, score FROM (
        |  SELECT n_nationkey AS k, n_name AS name,
        |   CAST(-1.0 AS DOUBLE) AS score
        |  FROM nation
        |  UNION ALL
        |  SELECT n_nationkey + 100 AS k, n_name AS name,
        |   CAST(n_nationkey AS DOUBLE) * CAST(1.5 AS DOUBLE) AS score
        |  FROM nation)
        |ORDER BY k""".stripMargin,

    "interop_format_mirror" ->
      s"""SELECT leg, grp, n, total FROM (
         |  SELECT 'delta_as_iceberg' AS leg, c_custkey % 5 AS grp,
         |   COUNT(*) AS n, ${sqlSumD("c_acctbal")} AS total
         |  FROM customer GROUP BY 2
         |  UNION ALL
         |  SELECT 'iceberg_as_delta' AS leg, s_suppkey % 5 AS grp,
         |   COUNT(*) AS n, ${sqlSumD("s_acctbal")} AS total
         |  FROM supplier GROUP BY 2)
         |ORDER BY leg, grp""".stripMargin,

    "interop_delta_constraint" ->
      s"""WITH final AS (
         |  SELECT c_mktsegment AS seg, c_acctbal AS bal FROM customer
         |  UNION ALL
         |  SELECT 'REINSTATED' AS seg,
         |   CASE WHEN c_acctbal > 0.0 THEN c_acctbal ELSE 0.0 END AS bal
         |  FROM customer WHERE c_custkey % 10 = 0)
         |SELECT seg AS segment, COUNT(*) AS n_cust,
         | ${sqlSumD("bal")} AS total
         |FROM final GROUP BY 1 ORDER BY segment""".stripMargin,

    "interop_restore_rollback" ->
      s"""SELECT leg, grp, n, total FROM (
         |  SELECT 'delta_restore' AS leg, o_orderstatus AS grp,
         |   COUNT(*) AS n, ${sqlSumD("o_totalprice")} AS total
         |  FROM orders GROUP BY 2
         |  UNION ALL
         |  SELECT 'iceberg_rollback' AS leg,
         |   CAST(s_nationkey % 5 AS VARCHAR) AS grp,
         |   COUNT(*) AS n, ${sqlSumD("s_acctbal")} AS total
         |  FROM supplier WHERE s_suppkey % 2 = 0 GROUP BY 2)
         |ORDER BY leg, grp""".stripMargin,

    "interop_delta_cdf" ->
      s"""WITH upd AS (
         |  SELECT c_custkey,
         |   CASE WHEN c_acctbal < 0 THEN 0.0 ELSE c_acctbal END AS bal
         |  FROM customer)
         |SELECT change_type, version, n, bal FROM (
         |  SELECT 'update_preimage' AS change_type,
         |   CAST(2 AS BIGINT) AS version, COUNT(*) AS n,
         |   ${sqlSumD("c_acctbal")} AS bal
         |  FROM customer WHERE c_acctbal < 0
         |  UNION ALL
         |  SELECT 'update_postimage', CAST(2 AS BIGINT), COUNT(*),
         |   ${sqlSumD("0.0")}
         |  FROM customer WHERE c_acctbal < 0
         |  UNION ALL
         |  SELECT 'delete', CAST(3 AS BIGINT), COUNT(*),
         |   ${sqlSumD("bal")}
         |  FROM upd WHERE c_custkey % 100 = 0)
         |ORDER BY change_type, version""".stripMargin,

    "interop_delta_rename" ->
      s"""WITH doubled AS (
         |  SELECT o_orderstatus, o_totalprice FROM orders
         |  UNION ALL
         |  SELECT o_orderstatus, o_totalprice FROM orders)
         |SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
         | ${sqlSumD("o_totalprice")} AS total
         |FROM doubled GROUP BY 1 ORDER BY status""".stripMargin,

    "interop_delta_uniform" ->
      s"""WITH state AS (
         |  SELECT c_mktsegment, c_acctbal FROM customer
         |  WHERE c_custkey % 2 = 0 AND NOT (c_acctbal < 0)
         |  UNION ALL
         |  SELECT c_mktsegment, c_acctbal FROM customer
         |  WHERE c_custkey % 2 <> 0)
         |SELECT c_mktsegment AS segment, COUNT(*) AS n_cust,
         | ${sqlSumD("c_acctbal")} AS total
         |FROM state GROUP BY 1 ORDER BY segment""".stripMargin,

    "interop_delta_generated" ->
      s"""SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket,
         | COUNT(*) AS n, ${sqlSumD("o_totalprice")} AS total
         |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,

    "interop_delta_clone" ->
      s"""WITH clone AS (
         |  SELECT s_nationkey, s_acctbal FROM supplier
         |  WHERE NOT (s_acctbal < 0)
         |  UNION ALL
         |  SELECT s_nationkey, 0.0 AS s_acctbal FROM supplier
         |  WHERE s_suppkey % 3 = 0)
         |SELECT leg, nation, n, bal FROM (
         |  SELECT 'clone' AS leg, s_nationkey AS nation,
         |   COUNT(*) AS n, ${sqlSumD("s_acctbal")} AS bal
         |  FROM clone GROUP BY 2
         |  UNION ALL
         |  SELECT 'source' AS leg, s_nationkey AS nation,
         |   COUNT(*) AS n, ${sqlSumD("s_acctbal")} AS bal
         |  FROM supplier GROUP BY 2)
         |ORDER BY leg, nation""".stripMargin
  )

  /** DuckDB replica of the merged-signature corpus similarity: the
    * same md5 base hash and affine coefficients as [[minHashOracle]],
    * per-lang elementwise MIN over doc signatures (32 MIN aggs — the
    * SQL spelling of MinHashMergeAgg), matching-fraction per lang
    * pair. */
  private def minHashCorpusSimOracle: String = {
    val P = NearDup.P
    val base = s"(('0x' || substr(md5(s), 1, 15))::BIGINT % $P)"
    val sigExprs = NearDup.coeffs.map { case (a, b) =>
      s"list_min(list_transform(bh, x -> ($a * x + $b) % $P))"
    }
    val k = NearDup.NumHashes
    val mins = (1 to k).map(i => s"MIN(s$i) AS s$i").mkString(", ")
    val cols = sigExprs.zipWithIndex
      .map { case (e, i) => s"$e AS s${i + 1}" }.mkString(",\n  ")
    val eq = (1 to k).map(i => s"(CASE WHEN a.s$i = b.s$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH t AS (SELECT doc_id, lang, ${sqlTokens("text")} AS toks FROM documents),
       |sh AS (SELECT doc_id, lang,
       |  list_transform(range(0, greatest(0, len(toks)-2)),
       |    i -> array_to_string(toks[i+1:i+3], ' ')) AS shingles
       | FROM t WHERE len(toks) >= 3),
       |bh AS (SELECT doc_id, lang,
       |  list_transform(shingles, s -> $base) AS bh FROM sh),
       |sig AS (SELECT lang,
       |  $cols
       | FROM bh WHERE len(bh) > 0),
       |langsig AS (SELECT lang, $mins FROM sig GROUP BY lang)
       |SELECT a.lang AS lang_a, b.lang AS lang_b,
       | ${sqlRound(s"($eq) / $k.0", 6)} AS est_jaccard
       |FROM langsig a JOIN langsig b ON a.lang < b.lang
       |ORDER BY lang_a, lang_b""".stripMargin
  }

  /** DuckDB replica of the drift monitor: the same per-side moment
    * aggregation ([[QualityChecks.driftStats]] — exact DECIMAL(38,6)
    * sums of 6-digit-rounded x and x², counts of non-nulls) and the
    * identical pooled-σ z arithmetic, one UNION ALL branch per
    * monitored column. */
  private def driftOracle: String = {
    def side(alias: String, sel: String): String = {
      val cols = Seq("price", "o_custkey").flatMap { c =>
        val x = sqlRound(s"CAST($c AS DOUBLE)", 6)
        val x2 = sqlRound(s"CAST($c AS DOUBLE) * CAST($c AS DOUBLE)", 6)
        Seq(s"COUNT(CASE WHEN $c IS NOT NULL THEN 1 END) AS n_$c",
          s"CAST(SUM(CAST($x AS DECIMAL(38,6))) AS DOUBLE) AS s1_$c",
          s"CAST(SUM(CAST($x2 AS DECIMAL(38,6))) AS DOUBLE) AS s2_$c")
      }.mkString(",\n   ")
      s"$alias AS (SELECT $cols FROM ($sel))"
    }
    def branch(c: String): String = {
      def n(s: String) = s"CAST($s.n_$c AS DOUBLE)"
      def mean(s: String) = s"($s.s1_$c / ${n(s)})"
      def va(s: String) =
        s"(($s.s2_$c - $s.s1_$c * ${mean(s)}) / greatest(${n(s)} - 1.0, 1.0))"
      val se = s"sqrt(${va("a")} / ${n("a")} + ${va("b")} / ${n("b")})"
      val z = s"""CASE WHEN $se > 0 THEN abs(${mean("b")} - ${mean("a")}) / $se
                 | ELSE CASE WHEN ${mean("b")} = ${mean("a")} THEN 0.0 ELSE CAST('inf' AS DOUBLE) END END""".stripMargin
      s"""SELECT '$c' AS column_name, a.n_$c AS n_before, b.n_$c AS n_after,
         | ${sqlRound(mean("a"), 6)} AS mean_before,
         | ${sqlRound(mean("b"), 6)} AS mean_after,
         | ${sqlRound(z, 6)} AS z_shift, ($z) > 3.0::DOUBLE AS drifted
         |FROM a CROSS JOIN b""".stripMargin
    }
    val bsel = s"SELECT ${sqlRound("o_totalprice", 2)} AS price, o_custkey FROM orders"
    val asel = s"SELECT ${sqlRound("CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice * 1.15 ELSE o_totalprice END", 2)} AS price, o_custkey FROM orders"
    s"""WITH ${side("a", bsel)},
       |${side("b", asel)}
       |${branch("price")}
       |UNION ALL
       |${branch("o_custkey")}
       |ORDER BY column_name""".stripMargin
  }

  /** DuckDB replica of the 3-iteration PageRank: the same
    * co-occurrence edge set, the same per-iteration shape
    * (contribution = 12-digit-rounded pr/deg summed as
    * DECIMAL(28,12); pr = round(0.15/n + 0.85*sum, 12)) unrolled as
    * CTEs — every float op has the same operand order as the Spark
    * loop, so all three iterations are byte-equal cross-engine. */
  private def pagerankOracle: String = {
    def iter(i: Int, prev: String): String =
      s"""c$i AS (SELECT e.t AS item,
         |  CAST(SUM(CAST(${sqlRound(s"p.pr / p.deg", 12)} AS DECIMAL(28,12))) AS DOUBLE) AS cs
         | FROM e JOIN $prev p ON e.s = p.item GROUP BY e.t),
         |pr$i AS (SELECT p.item, p.deg,
         |  ${sqlRound(s"0.15::DOUBLE / (SELECT n FROM nn) + 0.85::DOUBLE * COALESCE(c$i.cs, 0.0::DOUBLE)", 12)} AS pr
         | FROM $prev p LEFT JOIN c$i ON p.item = c$i.item)""".stripMargin
    s"""WITH ui AS (SELECT DISTINCT user_id,
       |  TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS item
       | FROM events),
       |uin AS (SELECT user_id, item FROM ui WHERE item IS NOT NULL),
       |pairs AS (SELECT a.item AS s, b.item AS t
       | FROM uin a JOIN uin b ON a.user_id = b.user_id AND a.item < b.item
       | GROUP BY 1, 2 HAVING COUNT(*) >= 3),
       |e AS (SELECT s, t FROM pairs UNION ALL SELECT t, s FROM pairs),
       |deg AS (SELECT s, COUNT(*) AS deg FROM e GROUP BY s),
       |nn AS (SELECT COUNT(*) AS n FROM deg),
       |pr0 AS (SELECT s AS item, deg, 1.0::DOUBLE / (SELECT n FROM nn) AS pr FROM deg),
       |${iter(1, "pr0")},
       |${iter(2, "pr1")},
       |${iter(3, "pr2")}
       |SELECT item, ${sqlRound("pr", 8)} AS pagerank FROM pr3 ORDER BY item""".stripMargin
  }

  /** DuckDB replica of the JL projection: the SAME 8×64 literal
    * matrix ([[projMatrix]] — exactly-representable doubles whose
    * toString round-trips) and the same strict left-to-right dot
    * product (list_inner_product ≡ DotProductExpr, proven bit-equal
    * by the ANN queries). */
  private def embedProjectOracle: String = {
    val rows = projMatrix.zipWithIndex.map { case (row, j) =>
      val litv = row.mkString("[", ", ", "]")
      s"${sqlRound(s"list_inner_product(v, $litv)", 6)} AS p$j"
    }
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings)
       |SELECT vec_id, ${rows.mkString(",\n  ")}
       |FROM e ORDER BY vec_id""".stripMargin
  }

  /** DuckDB replica of the directional-containment pairs: the same
    * base+excerpt corpus, shingle CTE shape and c/|A| measure as
    * NearDup.containmentPairs, with both directions emitted. */
  private def containmentOracle: String = {
    val cm = sqlRound("CAST(c AS DOUBLE) / sa.n", 6)
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1099511627776,
       |    array_to_string((${sqlTokens("text")})[1:15], ' ') FROM documents),
       |t AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM corpus),
       |sh AS (SELECT doc_id,
       |  list_transform(range(0, greatest(0, len(toks)-2)),
       |    i -> array_to_string(toks[i+1:i+3], ' ')) AS shingles
       | FROM t WHERE len(toks) >= 3),
       |dsh AS (SELECT doc_id, list_distinct(shingles) AS shingles FROM sh),
       |sz AS (SELECT doc_id, len(shingles) AS n FROM dsh),
       |e AS (SELECT doc_id, unnest(shingles) AS g FROM dsh),
       |df AS (SELECT g, COUNT(*) AS df FROM e GROUP BY 1),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM e a JOIN e b ON a.g = b.g AND a.doc_id != b.doc_id
       |  JOIN df ON df.g = a.g WHERE df.df <= 1000),
       |c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
       |  FROM e a JOIN e b ON a.g = b.g AND a.doc_id != b.doc_id GROUP BY 1, 2)
       |SELECT id_a, id_b, $cm AS containment
       |FROM c JOIN cand USING (id_a, id_b)
       |JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
       |WHERE $cm >= 0.9 ORDER BY id_a, id_b""".stripMargin
  }

  /** DuckDB replica of the IVF ANN: centroids are the 16 lowest-id
    * corpus vectors (same deterministic seed rule as
    * [[Similarity.ivfTopK]]); cell assignment and probe ranking use
    * the identical cosine expression shape, so cells and rankings are
    * bit-equal across engines. */
  private def annTopkOracle: String =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
      |scored AS (
      | SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
      |  list_inner_product(q.v, c.v)
      |   / (sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(c.v, c.v))) AS cos
      | FROM e q JOIN e c ON q.vec_id < 100 AND c.vec_id != q.vec_id)
      |SELECT query_id, rank, neighbor_id FROM (
      | SELECT query_id, corpus_id AS neighbor_id,
      |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id ASC) AS rank
      | FROM scored) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  private def annIvfOracle: String = {
    def cos(a: String, b: String) =
      s"""list_inner_product($a, $b)
         |   / (sqrt(list_inner_product($a, $a)) * sqrt(list_inner_product($b, $b)))""".stripMargin
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
       |cent AS (SELECT cid, v FROM (
       |  SELECT v, row_number() OVER (ORDER BY vec_id ASC) - 1 AS cid FROM e) WHERE cid < 16),
       |ca AS (SELECT vec_id, v, cid FROM (
       |  SELECT e.vec_id, e.v, cent.cid,
       |   row_number() OVER (PARTITION BY e.vec_id
       |     ORDER BY ${cos("e.v", "cent.v")} DESC, cent.cid ASC) AS rn
       |  FROM e CROSS JOIN cent) WHERE rn = 1),
       |qc AS (SELECT vec_id, v, cid FROM (
       |  SELECT e.vec_id, e.v, cent.cid,
       |   row_number() OVER (PARTITION BY e.vec_id
       |     ORDER BY ${cos("e.v", "cent.v")} DESC, cent.cid ASC) AS rn
       |  FROM e CROSS JOIN cent WHERE e.vec_id < 100) WHERE rn <= 2),
       |scored AS (
       | SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
       |  ${cos("q.v", "c.v")} AS cos
       | FROM qc q JOIN ca c ON q.cid = c.cid AND c.vec_id != q.vec_id)
       |SELECT query_id, rank, neighbor_id FROM (
       | SELECT query_id, corpus_id AS neighbor_id,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id ASC) AS rank
       | FROM scored) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB replica of the k-means-trained IVF: the SAME two Lloyd
    * iterations [[Similarity.kmeansCentroids]] runs (seeds = 16
    * lowest-id vectors; assignment = argmin of the identical
    * dist2 shape `v.v - 2 v.c + c.c` with ties to the smallest cell;
    * means = exact DECIMAL(38,10) sums over 10-digit pre-rounded
    * elements, divided as doubles; empty cells keep their centroid),
    * unrolled as CTEs, then the ann_ivf probe plan over the trained
    * cells. Every float op has the same shape and operand order as
    * the Spark side, so the centroids — and therefore cells, probes
    * and rankings — are byte-equal across engines. */
  private def annIvfKmeansOracle: String = {
    def cos(a: String, b: String) =
      s"""list_inner_product($a, $b)
         |   / (sqrt(list_inner_product($a, $a)) * sqrt(list_inner_product($b, $b)))""".stripMargin
    def d2(v: String, c: String) =
      s"(list_inner_product($v, $v) - 2.0*list_inner_product($v, $c) + list_inner_product($c, $c))"
    // one Lloyd iteration: assign to argmin-dist2 cell, re-center
    // with exact decimal sums, keep empty cells' previous centroid
    def iterate(i: Int, prev: String): String =
      s"""a$i AS (SELECT vec_id, v, cid FROM (
         |  SELECT e.vec_id, e.v, $prev.cid,
         |   row_number() OVER (PARTITION BY e.vec_id
         |     ORDER BY ${d2("e.v", s"$prev.v")} ASC, $prev.cid ASC) AS rn
         |  FROM e CROSS JOIN $prev) WHERE rn = 1),
         |m$i AS (SELECT cid, dim,
         |   CAST(SUM(CAST(v[dim+1] AS DECIMAL(38,10))) AS DOUBLE)/COUNT(*) AS m
         |  FROM a$i CROSS JOIN generate_series(0, 63) AS g(dim) GROUP BY cid, dim),
         |c$i AS (SELECT $prev.cid, COALESCE(mv.v, $prev.v) AS v FROM $prev
         |  LEFT JOIN (SELECT cid, list(m ORDER BY dim) AS v FROM m$i GROUP BY cid) mv
         |  ON $prev.cid = mv.cid)""".stripMargin
    s"""WITH e AS (SELECT vec_id,
       |  list_transform(embedding, x -> ${sqlRound("x::DOUBLE", 10)}) AS v FROM embeddings),
       |c0 AS (SELECT cid, v FROM (
       |  SELECT v, row_number() OVER (ORDER BY vec_id ASC) - 1 AS cid FROM e) WHERE cid < 16),
       |${iterate(1, "c0")},
       |${iterate(2, "c1")},
       |ca AS (SELECT vec_id, v, cid FROM (
       |  SELECT e.vec_id, e.v, c2.cid,
       |   row_number() OVER (PARTITION BY e.vec_id
       |     ORDER BY ${cos("e.v", "c2.v")} DESC, c2.cid ASC) AS rn
       |  FROM e CROSS JOIN c2) WHERE rn = 1),
       |qc AS (SELECT vec_id, v, cid FROM (
       |  SELECT e.vec_id, e.v, c2.cid,
       |   row_number() OVER (PARTITION BY e.vec_id
       |     ORDER BY ${cos("e.v", "c2.v")} DESC, c2.cid ASC) AS rn
       |  FROM e CROSS JOIN c2 WHERE e.vec_id < 100) WHERE rn <= 2),
       |scored AS (
       | SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
       |  ${cos("q.v", "c.v")} AS cos
       | FROM qc q JOIN ca c ON q.cid = c.cid AND c.vec_id != q.vec_id)
       |SELECT query_id, rank, neighbor_id FROM (
       | SELECT query_id, corpus_id AS neighbor_id,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id ASC) AS rank
       | FROM scored) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB replica of the LSH-bucketed ANN: the hyperplane sign
    * vectors are the same plan-time constants
    * ([[Similarity.hyperplaneSigns]]) interpolated as list literals. */
  private def annLshOracle: String = {
    val buckets = (0 until 4).map { b =>
      val plane = Similarity.hyperplaneSigns(64, b)
        .map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")
      s"(CASE WHEN list_inner_product(v, $plane) > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
       |b AS (SELECT vec_id, v,
       |  $buckets AS bucket FROM e),
       |scored AS (
       | SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
       |  list_inner_product(q.v, c.v)
       |   / (sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(c.v, c.v))) AS cos
       | FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id < 100 AND c.vec_id != q.vec_id)
       |SELECT query_id, rank, neighbor_id FROM (
       | SELECT query_id, corpus_id AS neighbor_id,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id ASC) AS rank
       | FROM scored) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB replica of the multi-probe LSH embedding near-dup: the
    * 6 hyperplane sign vectors are the same plan-time constants as
    * [[Similarity.cosineNearDupPairsLsh]]; the candidate set is all
    * (a<b) pairs whose sign buckets differ in <= probeBits bits, and
    * every candidate passes the identical exact-cosine verify. */
  private def embedCosineLshOracle: String = {
    val buckets = (0 until 6).map { b =>
      val plane = Similarity.hyperplaneSigns(64, b)
        .map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")
      s"(CASE WHEN list_inner_product(v, $plane) > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
       |b AS (SELECT vec_id, v, $buckets AS bucket FROM e)
       |SELECT a.vec_id AS id_a, c.vec_id AS id_b
       |FROM b a JOIN b c ON a.vec_id < c.vec_id
       | AND bit_count(xor(a.bucket, c.bucket)) <= 2
       |WHERE list_inner_product(a.v, c.v)
       |  / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(c.v, c.v))) >= 0.45
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Embedding-space dedup pipeline: the [[embedCosineLshOracle]]
    * pair condition emitted SYMMETRICALLY (hamming and cosine are
    * symmetric, so `!=` yields both directions) feeding the same
    * recursive reachability + survivor accounting as
    * [[dedupPipelineOracle]]. */
  private def semanticPipelineOracle: String = {
    val buckets = (0 until 6).map { b =>
      val plane = Similarity.hyperplaneSigns(64, b)
        .map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")
      s"(CASE WHEN list_inner_product(v, $plane) > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH RECURSIVE ev AS MATERIALIZED (SELECT vec_id,
       |  list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
       |bk AS MATERIALIZED (SELECT vec_id, v, $buckets AS bucket FROM ev),
       |e AS MATERIALIZED (SELECT a.vec_id AS src, c.vec_id AS dst
       | FROM bk a JOIN bk c ON a.vec_id != c.vec_id
       |  AND bit_count(xor(a.bucket, c.bucket)) <= 2
       | WHERE list_inner_product(a.v, c.v)
       |  / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(c.v, c.v))) >= 0.45),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM e
       |  UNION
       |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
       |members AS (SELECT src AS vec_id, least(src, MIN(dst)) AS rep
       |  FROM reach GROUP BY src),
       |sizes AS (SELECT rep, COUNT(*) AS n_merged FROM members GROUP BY rep)
       |SELECT t.vec_id AS vec_id, CAST(COALESCE(s.n_merged, 1) AS BIGINT) AS n_merged
       |FROM embeddings t
       |LEFT JOIN members m ON t.vec_id = m.vec_id
       |LEFT JOIN sizes s ON t.vec_id = s.rep
       |WHERE m.vec_id IS NULL OR m.rep = t.vec_id
       |ORDER BY t.vec_id""".stripMargin
  }

  /** Label purity per embedding near-dup cluster — the same
    * hyperplane buckets / LSH edges / recursive reachability as
    * [[semanticPipelineOracle]], rolled up to majority-label share. */
  private def embedClusterPurityOracle: String = {
    val buckets = (0 until 6).map { b =>
      val plane = Similarity.hyperplaneSigns(64, b)
        .map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")
      s"(CASE WHEN list_inner_product(v, $plane) > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH RECURSIVE ev AS MATERIALIZED (SELECT vec_id,
       |  list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
       |bk AS MATERIALIZED (SELECT vec_id, v, $buckets AS bucket FROM ev),
       |e AS MATERIALIZED (SELECT a.vec_id AS src, c.vec_id AS dst
       | FROM bk a JOIN bk c ON a.vec_id != c.vec_id
       |  AND bit_count(xor(a.bucket, c.bucket)) <= 2
       | WHERE list_inner_product(a.v, c.v)
       |  / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(c.v, c.v))) >= 0.45),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM e
       |  UNION
       |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
       |members0 AS (SELECT src AS vec_id, least(src, MIN(dst)) AS rep
       |  FROM reach GROUP BY src),
       |allm AS (SELECT t.label, COALESCE(m.rep, t.vec_id) AS rep
       |  FROM embeddings t LEFT JOIN members0 m ON t.vec_id = m.vec_id),
       |cnt AS (SELECT rep, label, COUNT(*) AS c FROM allm GROUP BY 1, 2),
       |agg AS (SELECT rep AS cluster_rep, CAST(SUM(c) AS BIGINT) AS n_members,
       |  COUNT(*) AS n_labels, MAX(c) AS mx FROM cnt GROUP BY 1)
       |SELECT cluster_rep, n_members, n_labels,
       | ${graft.functions.Det.sqlRound("CAST(mx AS DOUBLE) / n_members", 6)} AS purity
       |FROM agg WHERE n_members >= 2 ORDER BY cluster_rep""".stripMargin
  }

  // ---- long generated oracles ----

  /** DuckDB text of the rounded quality score (shared by
    * text_quality, dedup_best_rep). */
  private def sqlQualityScore: String = {
    val toks = sqlTokens("text")
    val punct = s"(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))"
    val punctRatio = s"(CASE WHEN length(text)=0 THEN 0.0 ELSE $punct::DOUBLE/length(text) END)"
    val nTok = s"len($toks)"
    val nStop = s"len(list_filter($toks, t -> t IN ($stop)))"
    val stopRatio = s"(CASE WHEN $nTok=0 THEN 0.0 ELSE $nStop::DOUBLE/$nTok END)"
    val lenScore = s"least($nTok::DOUBLE/50.0, 1.0)"
    val punctPen = s"least($punctRatio*5.0, 1.0)"
    val stopScore = s"least($stopRatio*4.0, 1.0)"
    sqlRound(s"$lenScore*0.5 + $stopScore*0.3 + (1.0-$punctPen)*0.2", 6)
  }

  private def textQualityOracle: String = {
    val toks = sqlTokens("text")
    val punct = s"(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))"
    val punctRatio = s"(CASE WHEN length(text)=0 THEN 0.0 ELSE $punct::DOUBLE/length(text) END)"
    val nTok = s"len($toks)"
    val nStop = s"len(list_filter($toks, t -> t IN ($stop)))"
    val stopRatio = s"(CASE WHEN $nTok=0 THEN 0.0 ELSE $nStop::DOUBLE/$nTok END)"
    val meanLen = s"(CASE WHEN $nTok=0 THEN 0.0 ELSE CAST(list_sum(list_transform($toks, t -> length(t)::BIGINT)) AS DOUBLE)/$nTok END)"
    s"""SELECT doc_id, ${sqlRound(punctRatio, 6)} AS punct_ratio,
       | ${sqlRound(stopRatio, 6)} AS stopword_ratio,
       | ${sqlRound(meanLen, 6)} AS mean_token_len,
       | $sqlQualityScore AS quality_score
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  private def textLangIdOracle: String = {
    val toks = sqlTokens("text")
    val counts = TextFunctions.LangMarkers.map { case (lang, ms) =>
      lang -> s"len(list_filter($toks, t -> t IN (${ms.map(w => s"'$w'").mkString(", ")})))"
    }
    val best = counts.map(_._2).reduce((a, b) => s"greatest($a, $b)")
    val cases = counts.map { case (lang, c) => s"WHEN best > 0 AND $c = best THEN '$lang'" }
      .mkString(" ")
    s"""SELECT doc_id, CASE $cases ELSE 'unknown' END AS lang_pred
       |FROM (SELECT doc_id, text, $best AS best FROM documents) ORDER BY doc_id""".stripMargin
  }

  /** DuckDB word-n-gram shingle list over a token-list expression. */
  private def sqlShingleList(toks: String, n: Int): String =
    s"list_transform(range(0, greatest(0, len($toks)-${n - 1})), i -> array_to_string($toks[i+1:i+$n], ' '))"

  private def textRedactPiiOracle: String =
    """SELECT doc_id,
      | regexp_replace(regexp_replace(
      |   text || ' contact user' || doc_id || '@mail.example.com call +1-555-' || doc_id,
      |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |  '\+[0-9][0-9\-]{5,}[0-9]', '<PHONE>', 'g') AS redacted
      |FROM documents ORDER BY doc_id""".stripMargin

  private def decontaminateNgramOracle: String =
    s"""WITH t AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
       |sh AS (SELECT doc_id, list_distinct(${sqlShingleList("toks", 5)}) AS g
       |  FROM t WHERE len(toks) >= 5),
       |bg AS (SELECT DISTINCT unnest(g) AS gram FROM sh WHERE doc_id % 97 = 0),
       |bad AS (SELECT DISTINCT doc_id FROM
       |  (SELECT doc_id, unnest(g) AS gram FROM sh WHERE doc_id % 97 != 0)
       |  WHERE gram IN (SELECT gram FROM bg))
       |SELECT doc_id FROM documents
       |WHERE doc_id % 97 != 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
       |ORDER BY doc_id""".stripMargin

  private def textDupSpansOracle: String = {
    val ratio = "COALESCE(CAST(st.n_dup_grams AS DOUBLE) / st.n_grams, 0.0)"
    s"""WITH t AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
       |sh AS (SELECT doc_id, list_distinct(${sqlShingleList("toks", 5)}) AS g
       |  FROM t WHERE len(toks) >= 5),
       |e AS (SELECT doc_id, unnest(g) AS gram FROM sh),
       |dfreq AS (SELECT gram, COUNT(*) AS df FROM e GROUP BY gram),
       |st AS (SELECT e.doc_id, COUNT(*) AS n_grams,
       |  CAST(SUM(CASE WHEN dfreq.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams
       | FROM e JOIN dfreq USING (gram) GROUP BY e.doc_id)
       |SELECT d.doc_id, COALESCE(st.n_grams, 0) AS n_grams,
       | COALESCE(st.n_dup_grams, 0) AS n_dup_grams,
       | ${sqlRound(ratio, 6)} AS dup_ratio
       |FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Shared shingle CTE: distinct word-3-gram shingles per doc. */
  private def shingleCte: String =
    s"""t AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
       |sh AS (SELECT doc_id,
       |  list_transform(range(0, greatest(0, len(toks)-2)),
       |    i -> array_to_string(toks[i+1:i+3], ' ')) AS shingles
       | FROM t WHERE len(toks) >= 3)""".stripMargin

  private def jaccardExpr(a: String, b: String): String = {
    val inter = s"len(list_intersect(list_distinct($a), list_distinct($b)))"
    val uni = s"(len(list_distinct($a)) + len(list_distinct($b)) - $inter)"
    s"(CASE WHEN $uni = 0 THEN 0.0 ELSE $inter::DOUBLE / $uni END)"
  }

  /** [[ngramJaccardOracle]] with the df<=1000 hot-shingle cap the
    * graded query wires ([[NearDup.ngramJaccardPairs]] maxDocFreq):
    * the intersection count runs over shingles whose document
    * frequency is <= 1000, while set SIZES stay exact (full distinct
    * shingle sets) — the same conservative-on-hot-shingles semantics
    * the Spark side computes, expressed independently in DuckDB. */
  private def ngramJaccardCappedOracle: String = {
    val j = sqlRound("CAST(c AS DOUBLE) / (sa.n + sb.n - c)", 6)
    s"""WITH $shingleCte,
       |dsh AS (SELECT doc_id, list_distinct(shingles) AS shingles FROM sh),
       |sz AS (SELECT doc_id, len(shingles) AS n FROM dsh),
       |e AS (SELECT doc_id, unnest(shingles) AS g FROM dsh),
       |df AS (SELECT g, COUNT(*) AS df FROM e GROUP BY 1),
       |ep AS (SELECT e.doc_id, e.g FROM e JOIN df ON df.g = e.g WHERE df.df <= 1000),
       |c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
       |  FROM ep a JOIN ep b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT id_a, id_b, $j AS jaccard_sim
       |FROM c JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
       |WHERE $j >= 0.5 ORDER BY id_a, id_b""".stripMargin
  }

  private def ngramJaccardOracle: String = {
    val j = sqlRound("CAST(c AS DOUBLE) / (sa.n + sb.n - c)", 6)
    s"""WITH $shingleCte,
       |dsh AS (SELECT doc_id, list_distinct(shingles) AS shingles FROM sh),
       |sz AS (SELECT doc_id, len(shingles) AS n FROM dsh),
       |e AS (SELECT doc_id, unnest(shingles) AS g FROM dsh),
       |c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
       |  FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT id_a, id_b, $j AS jaccard_sim
       |FROM c JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
       |WHERE $j >= 0.5 ORDER BY id_a, id_b""".stripMargin
  }

  /** DuckDB replica of the LSH band-collision profile: the same
    * signature/banding CTEs as [[minHashOracle]], rolled up to
    * per-band colliding-bucket stats instead of candidate pairs. */
  private def minHashBandStatsOracle: String = {
    val P = NearDup.P
    val base = s"(('0x' || substr(md5(s), 1, 15))::BIGINT % $P)"
    val sigExprs = NearDup.coeffs.map { case (a, b) =>
      s"list_min(list_transform(bh, x -> ($a * x + $b) % $P))"
    }
    val sigList = sigExprs.mkString("[", ",\n    ", "]")
    val bands = (0 until NearDup.Bands).map { i =>
      val lo = i * NearDup.RowsPerBand + 1
      val hi = (i + 1) * NearDup.RowsPerBand
      s"SELECT doc_id, $i AS band_idx, array_to_string(sig[$lo:$hi], '-') AS band_key FROM sig"
    }.mkString("\n UNION ALL ")
    s"""WITH $shingleCte,
       |bh AS (SELECT doc_id, shingles,
       |  list_transform(shingles, s -> $base) AS bh FROM sh),
       |sig AS (SELECT doc_id, $sigList AS sig FROM bh WHERE len(bh) > 0),
       |bands AS ($bands),
       |buckets AS (SELECT band_idx, band_key, COUNT(*) AS n
       | FROM bands GROUP BY 1, 2 HAVING COUNT(*) > 1)
       |SELECT CAST(band_idx AS BIGINT) AS band_idx,
       | CAST(COUNT(*) AS BIGINT) AS n_colliding_buckets,
       | CAST(MAX(n) AS BIGINT) AS max_bucket,
       | CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS candidate_pairs
       |FROM buckets GROUP BY 1 ORDER BY band_idx""".stripMargin
  }

  /** DuckDB replica of [[Dsir.resample]] in portable-hash mode: the
    * same lowercase unigram+bigram features, md5-prefix buckets
    * (B=1000), Laplace-smoothed log-ratios over the full bucket
    * space, per-doc weight sums, and seeded Gumbel top-k (seed 7,
    * k=50). Target = the `lang='en'` slice of `documents` — a subset
    * of raw, so both distributions aggregate one shared gram
    * relation. */
  private def dsirOracle: String = {
    val B = 1000
    val P = "1000000007"
    s"""WITH ws AS (
       | SELECT doc_id, lang,
       |  list_filter(regexp_split_to_array(lower(text), '\\W+'),
       |    w -> len(w) > 0) AS ws
       | FROM documents),
       |g AS (
       | SELECT doc_id, lang, unnest(list_concat(ws,
       |   list_transform(range(1, len(ws)),
       |     i -> ws[i] || ' ' || ws[i+1]))) AS gram
       | FROM ws),
       |b AS (SELECT doc_id, lang,
       |  (('0x' || substr(md5(gram), 1, 15))::BIGINT % $B) AS bucket FROM g),
       |pc AS (SELECT bucket, COUNT(*) AS p_cnt FROM b
       |  WHERE lang = 'en' GROUP BY 1),
       |qc AS (SELECT bucket, COUNT(*) AS q_cnt FROM b GROUP BY 1),
       |j AS (SELECT coalesce(pc.bucket, qc.bucket) AS bucket,
       |  coalesce(p_cnt, 0) AS p_cnt, coalesce(q_cnt, 0) AS q_cnt
       |  FROM pc FULL JOIN qc ON pc.bucket = qc.bucket),
       |t AS (SELECT SUM(p_cnt) AS pt, SUM(q_cnt) AS qt FROM j),
       |lr AS (SELECT bucket,
       |  ln((p_cnt + 1)::DOUBLE / (pt + $B)) -
       |  ln((q_cnt + 1)::DOUBLE / (qt + $B)) AS logratio FROM j, t),
       |dc AS (SELECT doc_id, bucket, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
       |w AS (SELECT doc_id, SUM(cnt * logratio) AS logw
       |  FROM dc JOIN lr USING (bucket) GROUP BY 1),
       |keyed AS (SELECT doc_id, logw, logw - ln(-ln(
       |  ((('0x' || substr(md5(doc_id::VARCHAR || '#7'), 1, 15))::BIGINT
       |    % $P) + 1)::DOUBLE / ($P + 2))) AS gk FROM w),
       |sel AS (SELECT doc_id, logw FROM keyed ORDER BY gk DESC LIMIT 50)
       |SELECT doc_id, ${sqlRound("logw", 6)} AS logw
       |FROM sel ORDER BY doc_id""".stripMargin
  }

  /** DuckDB replica of the MinHash+LSH pipeline — same md5-derived
    * base hash, same affine coefficients (interpolated from
    * [[NearDup.coeffs]]), same banding, same Jaccard verify. */
  private def minHashOracle: String = {
    val P = NearDup.P
    val base = s"(('0x' || substr(md5(s), 1, 15))::BIGINT % $P)"
    val sigExprs = NearDup.coeffs.map { case (a, b) =>
      s"list_min(list_transform(bh, x -> ($a * x + $b) % $P))"
    }
    val sigList = sigExprs.mkString("[", ",\n    ", "]")
    val bands = (0 until NearDup.Bands).map { i =>
      val lo = i * NearDup.RowsPerBand + 1
      val hi = (i + 1) * NearDup.RowsPerBand
      s"SELECT doc_id, $i AS band_idx, array_to_string(sig[$lo:$hi], '-') AS band_key FROM sig"
    }.mkString("\n UNION ALL ")
    s"""WITH $shingleCte,
       |bh AS (SELECT doc_id, shingles,
       |  list_transform(shingles, s -> $base) AS bh FROM sh),
       |sig AS (SELECT doc_id, shingles, $sigList AS sig FROM bh WHERE len(bh) > 0),
       |bands AS ($bands),
       |cand AS (
       | SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       | FROM bands a JOIN bands b
       |  ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b,
       | ${sqlRound(jaccardExpr("sa.shingles", "sb.shingles"), 6)} AS jaccard_sim
       |FROM cand JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b
       |WHERE ${sqlRound(jaccardExpr("sa.shingles", "sb.shingles"), 6)} >= 0.5
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** [[minHashOracle]] with the INCREMENTAL candidate rule: bucket
    * join only pairs a new-batch doc (doc_id % 10 = 0) with a
    * standing-corpus doc — the exact exclusion
    * [[NearDup.minHashPairsIncremental]] applies in the banded join. */
  private def minHashIncrementalOracle: String = {
    val P = NearDup.P
    val base = s"(('0x' || substr(md5(s), 1, 15))::BIGINT % $P)"
    val sigExprs = NearDup.coeffs.map { case (a, b) =>
      s"list_min(list_transform(bh, x -> ($a * x + $b) % $P))"
    }
    val sigList = sigExprs.mkString("[", ",\n    ", "]")
    val bands = (0 until NearDup.Bands).map { i =>
      val lo = i * NearDup.RowsPerBand + 1
      val hi = (i + 1) * NearDup.RowsPerBand
      s"SELECT doc_id, $i AS band_idx, array_to_string(sig[$lo:$hi], '-') AS band_key FROM sig"
    }.mkString("\n UNION ALL ")
    s"""WITH $shingleCte,
       |bh AS (SELECT doc_id, shingles,
       |  list_transform(shingles, s -> $base) AS bh FROM sh),
       |sig AS (SELECT doc_id, shingles, $sigList AS sig FROM bh WHERE len(bh) > 0),
       |bands AS ($bands),
       |cand AS (
       | SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       | FROM bands a JOIN bands b
       |  ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |   AND a.doc_id % 10 = 0 AND b.doc_id % 10 != 0)
       |SELECT id_a, id_b,
       | ${sqlRound(jaccardExpr("sa.shingles", "sb.shingles"), 6)} AS jaccard_sim
       |FROM cand JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b
       |WHERE ${sqlRound(jaccardExpr("sa.shingles", "sb.shingles"), 6)} >= 0.5
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** DuckDB replica of SimHash hamming-distance pairs. */
  private def simHashPairsOracle: String =
    s"""WITH hsrc AS (${simHashOracle.replace("ORDER BY doc_id", "")})
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       | CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM hsrc a JOIN hsrc b ON a.doc_id < b.doc_id
       |WHERE a.simhash IS NOT NULL AND b.simhash IS NOT NULL
       | AND bit_count(xor(a.simhash, b.simhash)) <= 6
       |ORDER BY id_a, id_b""".stripMargin

  /** Shared CTE prefix for the cluster oracles: recursive transitive
    * closure over the simhash pair graph. MATERIALIZED CTEs keep the
    * simhash computation out of the recursion (0.1s vs 30s). */
  private def clustersReachCte: String =
    s"""WITH RECURSIVE hsrc AS MATERIALIZED (${simHashOracle.replace("ORDER BY doc_id", "")}),
       |e AS MATERIALIZED (SELECT a.doc_id AS src, b.doc_id AS dst FROM hsrc a JOIN hsrc b
       |  ON a.doc_id != b.doc_id AND a.simhash IS NOT NULL AND b.simhash IS NOT NULL
       |  AND bit_count(xor(a.simhash, b.simhash)) <= 6),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM e
       |  UNION
       |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src)""".stripMargin

  /** Min reachable id per node — Spark's iterative min-label
    * propagation converges to the same unique fixpoint. */
  private def dedupClustersOracle: String =
    s"""$clustersReachCte
       |SELECT src AS doc_id, least(src, MIN(dst)) AS cluster_rep
       |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin

  /** Cluster-size histogram incl. singletons (docs absent from the
    * pair graph). */
  private def dedupClusterSizesOracle: String =
    s"""${clustersReachCte.replace("ON r.dst = e2.src)", "ON r.dst = e2.src),")}
       |members AS (SELECT src AS doc_id, least(src, MIN(dst)) AS rep
       |  FROM reach GROUP BY src),
       |ch AS (SELECT cluster_size, COUNT(*) AS n_clusters FROM
       |  (SELECT rep, COUNT(*) AS cluster_size FROM members GROUP BY rep)
       |  GROUP BY cluster_size),
       |singles AS (SELECT CAST(1 AS BIGINT) AS cluster_size,
       |  (SELECT COUNT(DISTINCT doc_id) FROM documents)
       |   - (SELECT COUNT(*) FROM members) AS n_clusters)
       |SELECT cluster_size, CAST(SUM(n_clusters) AS BIGINT) AS n_clusters
       |FROM (SELECT * FROM ch UNION ALL SELECT * FROM singles)
       |GROUP BY cluster_size HAVING SUM(n_clusters) > 0
       |ORDER BY cluster_size""".stripMargin

  /** Survivor corpus: documents minus non-representative cluster
    * members. */
  private def dedupApplyOracle: String =
    s"""${clustersReachCte.replace("ON r.dst = e2.src)", "ON r.dst = e2.src),")}
       |drops AS (SELECT src FROM reach GROUP BY src HAVING least(src, MIN(dst)) != src)
       |SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT src FROM drops)
       |ORDER BY doc_id""".stripMargin

  /** DuckDB replica of the end-to-end curation pass: the same
    * lang/quality/length gates ([[textLangIdOracle]] /
    * [[textQualityOracle]] expression shapes), keep-first exact
    * dedup, holdout decontamination, split hash and token count —
    * composed exactly as the Spark plan composes them. */
  private def pipelineCurateOracle: String = {
    val toks = sqlTokens("text")
    // lang-id expressions (same as textLangIdOracle)
    val counts = TextFunctions.LangMarkers.map { case (lang, ms) =>
      lang -> s"len(list_filter($toks, t -> t IN (${ms.map(w => s"'$w'").mkString(", ")})))"
    }
    val best = counts.map(_._2).reduce((a, b) => s"greatest($a, $b)")
    val cases = counts.map { case (lang, c) => s"WHEN best > 0 AND $c = best THEN '$lang'" }
      .mkString(" ")
    // quality-score expression (same as textQualityOracle)
    val punct = s"(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))"
    val punctRatio = s"(CASE WHEN length(text)=0 THEN 0.0 ELSE $punct::DOUBLE/length(text) END)"
    val nTok = s"len($toks)"
    val nStop = s"len(list_filter($toks, t -> t IN ($stop)))"
    val stopRatio = s"(CASE WHEN $nTok=0 THEN 0.0 ELSE $nStop::DOUBLE/$nTok END)"
    val lenScore = s"least($nTok::DOUBLE/50.0, 1.0)"
    val punctPen = s"least($punctRatio*5.0, 1.0)"
    val stopScore = s"least($stopRatio*4.0, 1.0)"
    val q = sqlRound(s"$lenScore*0.5 + $stopScore*0.3 + (1.0-$punctPen)*0.2", 6)
    val fp = """md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))"""
    s"""WITH u AS (
       | SELECT doc_id, text FROM documents
       | UNION ALL SELECT doc_id + 1099511627776, text FROM documents),
       |lb AS (SELECT doc_id, text, $best AS best FROM u),
       |scored AS (SELECT doc_id, text, $fp AS fp,
       |  CASE $cases ELSE 'unknown' END AS lang_pred, $q AS q
       | FROM lb),
       |gated AS (SELECT * FROM scored
       | WHERE lang_pred = 'en' AND q >= 0.5 AND length(text) >= 100),
       |kept AS (SELECT doc_id, text, fp FROM (
       |  SELECT doc_id, text, fp,
       |   row_number() OVER (PARTITION BY fp ORDER BY doc_id ASC) AS rn
       |  FROM gated) WHERE rn = 1),
       |hold AS (SELECT DISTINCT $fp AS fp
       | FROM documents WHERE doc_id % 97 = 0)
       |SELECT doc_id,
       | CASE WHEN hsplit < 80 THEN 'train' WHEN hsplit < 90 THEN 'val'
       |  ELSE 'test' END AS split,
       | len($toks) AS n_tokens
       |FROM (SELECT doc_id, text,
       |   (('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT % 100 + 100) % 100 AS hsplit
       |  FROM kept WHERE fp NOT IN (SELECT fp FROM hold))
       |ORDER BY doc_id""".stripMargin
  }

  /** The composed pipeline: survivors (docs that are not
    * non-representative cluster members) with the count of originals
    * each absorbed (cluster size for reps, 1 for unclustered). */
  private def dedupPipelineOracle: String =
    s"""${clustersReachCte.replace("ON r.dst = e2.src)", "ON r.dst = e2.src),")}
       |members AS (SELECT src AS doc_id, least(src, MIN(dst)) AS rep
       |  FROM reach GROUP BY src),
       |sizes AS (SELECT rep, COUNT(*) AS n_merged FROM members GROUP BY rep)
       |SELECT d.doc_id AS doc_id, CAST(COALESCE(s.n_merged, 1) AS BIGINT) AS n_merged
       |FROM documents d
       |LEFT JOIN members m ON d.doc_id = m.doc_id
       |LEFT JOIN sizes s ON d.doc_id = s.rep
       |WHERE m.doc_id IS NULL OR m.rep = d.doc_id
       |ORDER BY doc_id""".stripMargin

  /** DuckDB replica of the 60-bit SimHash. */
  private def simHashOracle: String = {
    val base = s"('0x' || substr(md5(t), 1, 15))::BIGINT"
    val bitExprs = (0 until 60).map { j =>
      s"CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN ${1L << j} ELSE 0 END"
    }.mkString("\n  + ")
    s"""WITH t AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
       |h AS (SELECT doc_id, list_transform(toks, t -> $base) AS hs FROM t)
       |SELECT doc_id,
       | CASE WHEN len(hs) = 0 THEN NULL ELSE
       |  $bitExprs
       | END AS simhash
       |FROM h ORDER BY doc_id""".stripMargin
  }
}
