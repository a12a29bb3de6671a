package perfbench

import java.nio.file.{Files => JFiles, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.medallion.{Bronze, Gold, Silver}
import graft.quality.QualityChecks
import graft.sources.DeltaLog

/** The paper's pipeline, incrementally: seeded customers, products and
  * orders land as nested JSON micro-batches, and each batch runs one
  * `Trigger.AvailableNow` per stage and entity:
  *
  *  - Bronze: `Bronze.readStream` into a `graft-delta` sink;
  *  - Silver: flatten, explode and PK dedup (`Silver.transform`),
  *    streamed from the Bronze Delta table;
  *  - DQ: `QualityChecks.routeViolationsOnce` into per-entity quality
  *    tables;
  *  - Gold: dimensions MERGEd by key, the fact appended, and every
  *    `OptimizeEvery` batches, from batch 0 on, `DeltaLog.optimize`
  *    Z-orders the fact.
  *
  * Customers and products are reference data landing in batch 0, the
  * warmup, which also creates and MERGEs the dimensions; orders land in
  * every batch, so a timed batch runs the Bronze, Silver, DQ and Gold
  * stages of orders (4 streams) and, every `OptimizeEvery` batches,
  * OPTIMIZE. Each batch lands only after the previous batch's gold
  * commit. The generator injects a known number of rows for every DQ
  * check and re-sends some orders one batch later for Silver's dedup to
  * drop. Eleven Delta and parquet tables are touched, within the
  * 16-entry Delta snapshot cache.
  */
object Medallion extends Workload {
  val name = "medallion_incremental"
  val Batches = 5
  val OptimizeEvery = 2
  /** Scale factor of the customers, products and orders that land. */
  val Sf = 0.005
  val FilesPerBatch = 4

  val Checks: Seq[String] = Seq("null_pk", "unwanted_spaces", "invalid_email",
    "invalid_dates", "nonpositive", "non_integer", "orphan_product")
  private val Entities = Seq("customers", "products", "orders")
  private val Keys = Map("customers" -> Seq("customer_id"),
    "products" -> Seq("product_id"), "orders" -> Seq("order_id", "items_line"))
  private val Lineage = Seq("ingest_file", "bronze_ingest_ts",
    "silver_ingest_ts", "gold_ingest_ts")
  private val expected = mutable.LinkedHashMap[String, Long]()

  // ---- input generation ----------------------------------------------

  private val Schemas: Map[String, StructType] = Map(
    "customers" -> StructType.fromDDL("customer_id BIGINT, name STRING, email STRING, " +
      "address STRUCT<city: STRING, postal_code: STRING, country: STRING>"),
    "products" -> StructType.fromDDL(
      "product_id BIGINT, product_name STRING, category STRING, brand STRING, price DOUBLE"),
    "orders" -> StructType.fromDDL("order_id BIGINT, order_date STRING, status STRING, " +
      "customer STRUCT<customer_id: BIGINT, name: STRING>, " +
      "items ARRAY<STRUCT<line: INT, product_id: BIGINT, quantity: DOUBLE, price: DOUBLE>>"))

  /** One JSON record per input row, with the batch it lands in and
    * whether it is re-sent one batch later. */
  private final case class Rec(json: String, batch: Int, resend: Boolean)

  /** Generates the three entities at `Sf` (sf0.1 row counts times
    * `Sf / 0.1`) from the seed, with the DQ defects injected, and the
    * reject count each check must report. */
  private def generate(seed: Long): (Map[String, Seq[Rec]], Map[String, Long]) = {
    val rng = new scala.util.Random(seed)
    val sz = DataGen.sizes(Sf)
    val defects = mutable.LinkedHashMap(Checks.map(_ -> 0L): _*)
    def q(s: String) = "\"" + s + "\""
    def pick[T](xs: Seq[T]) = xs(rng.nextInt(xs.size))

    // customers and products are reference data: they land once, in
    // batch 0, before any order that names them
    val customers = (0 until sz.customers).map { c =>
      val name = f"Customer#$c%09d"
      val d = rng.nextDouble()
      if (d < 0.004) defects(if (d < 0.002) "unwanted_spaces" else "invalid_email") += 1
      val shown = if (d < 0.002) name + " " else name
      val email = if (d >= 0.002 && d < 0.004) "customer.example.com"
        else f"customer$c%09d@example.com"
      val nation = rng.nextInt(25)
      Rec(s"""{"customer_id":$c,"name":${q(shown)},"email":${q(email)},""" +
        s""""address":{"city":"city $nation","postal_code":"${f"${(c * 7919) % 100000}%05d"}",""" +
        s""""country":"nation_$nation"}}""", 0, resend = false)
    } :+ Rec("""{"customer_id":null,"name":"Nobody","email":"nobody@example.com",""" +
      """"address":{"city":"city 0","postal_code":"00000","country":"nation_0"}}""",
      0, resend = false)

    val products = (0 until sz.parts).map { p =>
      Rec(s"""{"product_id":$p,"product_name":${q(pick(Seq("large", "hot", "blue", "red")) +
        " " + pick(Seq("ring", "bolt", "nut", "gear")))},"category":${q(pick(Seq("LARGE",
        "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO")))},"brand":"Brand#${1 + rng.nextInt(25)}",""" +
        s""""price":${900.0 + (p % 1000) / 10.0}}""", 0, resend = false)
    }

    def order(o: Long, cust: Int, lines: Int, clean: Boolean): String = {
      val badDate = !clean && rng.nextDouble() < 0.002
      if (badDate) defects("invalid_dates") += lines
      val date = if (badDate) "1850-01-01"
        else java.time.LocalDate.of(1995, 1, 1).plusDays(rng.nextInt(2400)).toString
      val items = (1 to lines).map { l =>
        val d = if (clean) 1.0 else rng.nextDouble()
        val qty = 1 + rng.nextInt(50)
        val (pid, quantity) =
          if (d < 0.0005) { defects("orphan_product") += 1; (1000000000L + o * 8 + l, qty.toDouble) }
          else if (d < 0.0010) { defects("nonpositive") += 1; (rng.nextInt(sz.parts).toLong, -1.0) }
          else if (d < 0.0015) { defects("non_integer") += 1; (rng.nextInt(sz.parts).toLong, qty + 0.5) }
          else (rng.nextInt(sz.parts).toLong, qty.toDouble)
        s"""{"line":$l,"product_id":$pid,"quantity":$quantity,"price":${(1 + rng.nextInt(100000)) / 100.0}}"""
      }
      val id = if (o < 0) "null" else o.toString
      s"""{"order_id":$id,"order_date":"$date","status":${q(pick(Seq("F", "O", "P")))},""" +
        s""""customer":{"customer_id":$cust,"name":"${f"Customer#$cust%09d"}"},""" +
        s""""items":${items.mkString("[", ",", "]")}}"""
    }
    // some orders are re-sent one batch later, for Silver's dedup
    val orders = (0 until sz.orders).map { o =>
      val cust = rng.nextInt(sz.customers)
      val lines = 1 + rng.nextInt(7)
      Rec(order(o, cust, lines, clean = false), rng.nextInt(Batches),
        resend = rng.nextDouble() < 0.01)
    } :+ Rec(order(-1, 0, 1, clean = true), (seed % Batches).toInt, resend = false)
    defects("null_pk") = 2 // the one null-key customer and order above
    (Map("customers" -> customers, "products" -> products, "orders" -> orders), defects.toMap)
  }

  /** Writes each batch of each entity as JSON-array files (Bronze
    * reads multi-line JSON), re-sent rows included, and keeps the
    * expected reject counts for `verify`. */
  def prepare(ctx: Ctx, dir: String): Unit = {
    val (in, want) = generate(ctx.seed)
    expected.clear()
    expected ++= Checks.map(c => c -> want(c))
    in.foreach { case (e, recs) =>
      val landed = recs ++ recs.filter(r => r.resend && r.batch < Batches - 1)
        .map(r => r.copy(batch = r.batch + 1))
      landed.groupBy(_.batch).foreach { case (b, rs) =>
        val d = Paths.get(dir, "staging", e, s"b$b")
        JFiles.createDirectories(d)
        rs.zipWithIndex.groupBy(_._2 % FilesPerBatch).foreach { case (i, part) =>
          JFiles.write(d.resolve(s"part-$i.json"),
            part.map(_._1.json).mkString("[", ",\n", "]").getBytes("UTF-8"))
        }
      }
    }
  }

  // ---- the pipeline ----------------------------------------------------

  private def dimCustomers(silver: DataFrame): DataFrame =
    Gold.dimension(silver, "customer_id",
      Seq("customer_id" -> "customer_id", "name" -> "name", "email" -> "email",
        "address_city" -> "city", "address_country" -> "country"),
      Map("city" -> initcap(col("address_city")),
        "country" -> initcap(col("address_country"))))

  private def dimProducts(silver: DataFrame): DataFrame =
    Gold.dimension(silver, "product_id",
      Seq("product_id" -> "product_id", "product_name" -> "product_name",
        "category" -> "category", "brand" -> "brand", "price" -> "price"),
      Map("category" -> lower(col("category"))))

  private def fact(silverOrders: DataFrame, dimC: DataFrame, dimP: DataFrame): DataFrame =
    Gold.fact(silverOrders,
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

  private def stamp(df: DataFrame): DataFrame =
    df.withColumn("gold_ingest_ts", current_timestamp())

  private val customerChecks: Seq[(String, Column)] = Seq(
    "null_pk" -> QualityChecks.nullPkCond(Seq("customer_id")),
    "unwanted_spaces" -> QualityChecks.unwantedSpacesCond(Seq("name")),
    "invalid_email" -> QualityChecks.invalidFormatCond("email"))
  private val orderChecks: Seq[(String, Column)] = Seq(
    "null_pk" -> QualityChecks.nullPkCond(Seq("order_id")),
    "invalid_dates" -> QualityChecks.invalidDatesCond(Seq("order_date")),
    "nonpositive" -> QualityChecks.nonPositiveCond(Seq("items_quantity")),
    "non_integer" -> QualityChecks.nonIntegerValuedCond("items_quantity"),
    "orphan_product" -> (col("items_product_id").isNotNull && col("q_pid").isNull))

  private final class Run(ctx: Ctx, dir: String, val root: String) {
    val spark: SparkSession = ctx.spark
    def table(layer: String, e: String) = s"$root/$layer/$e"
    def ck(stage: String, e: String) = s"$root/_checkpoints/$stage/$e"
    def landing(e: String) = s"$root/landing/$e"
    def exists(p: String) = JFiles.exists(Paths.get(p, "_delta_log"))

    private def await(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      q.awaitTermination()
      q.exception.foreach(e => throw e)
    }

    private def stream[T](body: => T): T = ctx.tracer.span("streaming.run")(body)

    /** Copies the staged files of batch `b` into the landing folders,
      * each under a hidden name first and then renamed, so a stream
      * never sees a partial file. */
    def land(b: Int): Seq[String] = Entities.filter { e =>
      val src = Paths.get(dir, "staging", e, s"b$b")
      val dst = Paths.get(landing(e))
      JFiles.createDirectories(dst)
      JFiles.exists(src) && {
        val s = JFiles.list(src)
        try s.forEach { f =>
          val tmp = dst.resolve("." + f.getFileName)
          JFiles.copy(f, tmp, StandardCopyOption.REPLACE_EXISTING)
          JFiles.move(tmp, dst.resolve(s"b$b-${f.getFileName}"), StandardCopyOption.ATOMIC_MOVE)
        } finally s.close()
        true
      }
    }

    def bronze(e: String): Unit = stream(await(
      Bronze.readStream(spark, landing(e), Schemas(e))
        .writeStream.format("graft-delta").queryName(s"bronze_$e")
        .option("checkpointLocation", ck("bronze", e))
        .trigger(Trigger.AvailableNow()).start(table("bronze", e))))

    def silver(e: String): Unit = stream(await(
      Silver.transform(spark.readStream.format("graft-delta").load(table("bronze", e)), Keys(e))
        .writeStream.format("graft-delta").queryName(s"silver_$e")
        .option("checkpointLocation", ck("silver", e))
        .trigger(Trigger.AvailableNow()).start(table("silver", e))))

    def quality(landed: Seq[String]): Unit = {
      if (landed.contains("customers")) {
        val customers = spark.readStream.format("graft-delta").load(table("silver", "customers"))
          .withColumn("entity", lit("customers"))
        stream(QualityChecks.routeViolationsOnce(customers, customerChecks,
          s"$root/quality/customers", ck("quality", "customers")))
      }
      if (landed.contains("orders")) {
        val known = DeltaLog.read(spark, table("silver", "products"))
          .select(col("product_id").as("q_pid")).distinct()
        val orders = spark.readStream.format("graft-delta").load(table("silver", "orders"))
          .join(broadcast(known), col("items_product_id") === col("q_pid"), "left")
          .withColumn("entity", lit("orders"))
        stream(QualityChecks.routeViolationsOnce(orders, orderChecks,
          s"$root/quality/orders", ck("quality", "orders")))
      }
    }

    private def goldStream(e: String)(f: DataFrame => Unit): Unit = stream(await(
      spark.readStream.format("graft-delta").load(table("silver", e))
        .writeStream.queryName(s"gold_$e")
        .option("checkpointLocation", ck("gold", e))
        .trigger(Trigger.AvailableNow())
        .foreachBatch((b: DataFrame, _: Long) => f(b)).start()))

    /** MERGEs a batch's dimension rows by key; the first batch creates
      * the table empty first, so every batch takes the MERGE path. */
    private def upsert(path: String, dim: DataFrame, key: String): Unit = {
      val rows = stamp(dim)
      if (!exists(path)) DeltaLog.write(spark, rows.limit(0), path)
      ctx.tracer.span("sources.delta.commit.merge")(DeltaLog.merge(spark, path, rows, Seq(key)))
    }

    def gold(landed: Seq[String]): Unit = {
      if (landed.contains("customers"))
        goldStream("customers")(b => upsert(table("gold", "dim_customers"), dimCustomers(b), "customer_id"))
      if (landed.contains("products"))
        goldStream("products")(b => upsert(table("gold", "dim_products"), dimProducts(b), "product_id"))
      if (landed.contains("orders")) goldStream("orders") { b =>
        val rows = stamp(fact(b, DeltaLog.read(spark, table("gold", "dim_customers")),
          DeltaLog.read(spark, table("gold", "dim_products"))))
        ctx.tracer.span("sources.delta.commit.append")(
          DeltaLog.write(spark, rows, table("gold", "fact_sales")))
      }
    }

    def optimize(): Unit = ctx.tracer.span("sources.delta.commit.optimize")(
      DeltaLog.optimize(spark, table("gold", "fact_sales"),
        zorderBy = Seq("customer_id", "product_id")))

    /** Lands batch `b` and runs it through every stage; an entity
      * with no files in the batch has no streams to run. Returns the
      * wall and CPU seconds from landing to the batch's last gold
      * commit; the OPTIMIZE that every `OptimizeEvery`-th batch runs
      * after that commit is not part of them. */
    def batch(b: Int): Cost = {
      val tr = ctx.tracer
      tr.newOp()
      val (_, cost) = ctx.timed(tr.span("medallion.batch") {
        val landed = land(b)
        tr.span("medallion.bronze")(landed.foreach(bronze))
        tr.span("medallion.silver")(landed.foreach(silver))
        tr.span("medallion.dq")(quality(landed))
        tr.span("medallion.gold")(gold(landed))
      })
      if (b % OptimizeEvery == 0) tr.span("medallion.gold_optimize")(optimize())
      cost
    }
  }

  private var run: Run = _

  /** Batch 0 runs untimed through every stage: it creates the tables
    * and pays JIT and codegen for every stage's plans. */
  def warmup(ctx: Ctx, dir: String, out: Outcome): Unit = {
    run = new Run(ctx, dir, s"$dir/pipeline")
    run.batch(0)
    out.extra("batches") = Batches.toString
    out.extra("optimize_every") = OptimizeEvery.toString
    out.extra("input_json_bytes") = Files.usage(s"$dir/staging")._1.toString
  }

  /** Batches 1 to `Batches - 1`, each landing after the previous
    * batch's gold commit. */
  def measure(ctx: Ctx, dir: String, out: Outcome): Unit = {
    val batches = mutable.ArrayBuffer[Cost]()
    ctx.tracer.openUnit(ctx.spark)
    val (_, pipeline) = ctx.timed((1 until Batches).foreach { b =>
      out.attempted += 1
      try batches += run.batch(b)
      catch {
        case e: Exception =>
          System.err.println(s"[perfbench] batch $b failed: $e")
          out.failed += 1
      }
    })
    ctx.tracer.closeUnit(ctx.spark)
    layerCounts(ctx, run, out)
    out.metrics("batch_p50_s") = Stats.median(batches.map(_.wallS).toSeq)
    out.metrics("pipeline_s") = pipeline.wallS
    out.metrics("op_cpu_s") = Stats.median(batches.map(_.cpuS).toSeq)
    out.metrics("work_cpu_s") = pipeline.cpuS
    out.extra("batch_s") = Stats.json(batches.map(_.wallS).toSeq)
    out.extra("batch_cpu_s") = Stats.json(batches.map(_.cpuS).toSeq)
  }

  private def deltaTables(r: Run): Seq[String] =
    Seq("bronze", "silver").flatMap(l => Entities.map(r.table(l, _))) ++
      Seq("dim_customers", "dim_products", "fact_sales").map(r.table("gold", _))

  private def spaceAmp(ctx: Ctx, r: Run): Double = {
    val paths = deltaTables(r)
    val onDisk = paths.map(p => Files.usage(p)._1).sum
    val live = paths.map(p => DeltaLog.snapshot(ctx.spark, p).files.map(_.size).sum).sum
    onDisk.toDouble / live
  }

  /** Row counts per layer and rejects per check, read after the
    * traced unit closed so they add no Spark work to its counters. */
  private def layerCounts(ctx: Ctx, r: Run, out: Outcome): Unit = if (ctx.tracer.enabled) {
    val spark = ctx.spark
    def rows(layer: String, es: Seq[String]) =
      es.map(e => DeltaLog.read(spark, r.table(layer, e)).count()).sum.toDouble
    val json = Files.usage(s"${r.root}/landing")._2
    val bronzeRows = rows("bronze", Entities)
    val silverRows = rows("silver", Entities)
    val goldRows = rows("gold", Seq("dim_customers", "dim_products", "fact_sales"))
    val flatIn = rows("bronze", Seq("customers", "products")) +
      DeltaLog.read(spark, r.table("bronze", "orders"))
        .select(explode(col("payload.items"))).count()
    out.layer("medallion.bronze_rows_out") = bronzeRows
    out.layer("medallion.silver_rows_in") = flatIn
    out.layer("medallion.silver_rows_out") = silverRows
    out.layer("medallion.silver_dedup_kept_ratio") = silverRows / flatIn
    out.layer("medallion.gold_rows_out") = goldRows
    out.extra("landed_files") = json.toString
    rejects(spark, r).foreach { case (k, v) =>
      out.layer(s"quality.rejects.$k") = v.toDouble }
    out.layer("space_amp") = spaceAmp(ctx, r)
    // the DQ stage's span is the quality layer's time
    out.layer("quality.s") = ctx.tracer.unit.getOrElse("medallion.dq_s", 0.0)
  }

  private def rejects(spark: SparkSession, r: Run): Map[String, Long] =
    Seq("customers", "orders").map { e =>
      spark.read.parquet(s"${r.root}/quality/$e").groupBy("check_name").count()
        .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    }.reduce((a, b) => (a.keySet ++ b.keySet).map(k =>
      k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap)

  /** Multiset equality of two tables' rows, lineage columns aside. */
  private def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    val cols = a.columns.filterNot(Lineage.contains).sorted.map(col)
    def rows(df: DataFrame) = df.select(cols: _*).collect().map(_.toString).sorted.toSeq
    rows(a) == rows(b)
  }

  /** Gold after the last batch must equal a one-shot batch build of the
    * same inputs (lineage columns aside), and each check must have
    * rejected exactly the injected rows. */
  def verify(ctx: Ctx, dir: String, out: Outcome): Unit = {
    val r = run
    val spark = ctx.spark
    val silver = Entities.map { e =>
      e -> Silver.transform(Bronze.wrap(spark.read.schema(Schemas(e))
        .option("multiLine", true).json(s"$dir/staging/$e/*")), Keys(e))
    }.toMap
    val dimC = dimCustomers(silver("customers"))
    val dimP = dimProducts(silver("products"))
    val oneShot = Map("dim_customers" -> dimC, "dim_products" -> dimP,
      "fact_sales" -> fact(silver("orders"), dimC, dimP))
    oneShot.foreach { case (t, want) =>
      out.check(s"gold_equals_one_shot:$t", sameRows(DeltaLog.read(spark, r.table("gold", t)), want))
    }
    val got = rejects(spark, r)
    expected.foreach { case (k, v) =>
      out.check(s"rejects:$k", got.getOrElse(k, 0L) == v)
    }
    out.extra("rejects") = Json.obj(got.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString })
    out.extra("rejects_expected") = Json.obj(expected.map { case (k, v) => k -> v.toString })
    out.extra("space_amp") = Json.num(spaceAmp(ctx, r))
    out.attempted += 1
    if (out.checks.values.exists(!_)) out.failed += 1
    Files.delete(r.root)
  }
}
