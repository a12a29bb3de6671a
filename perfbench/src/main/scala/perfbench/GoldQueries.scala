package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row

/** Read-heavy traffic of gold-table consumers: one client runs a fixed
  * mix of graft's declared queries over seeded parquet tables at
  * scale factor `Sf`, closed loop, in whole passes (every query runs
  * once per pass, in the same order) until `--seconds` is up and at
  * least `MinPasses` ran.
  *
  * The mix is a draw (seed 2026) of one query from each family of
  * `SparkEntry.queries` (the medallion family is the batch bronze,
  * silver, dim, fact and pipeline keys), taken among the queries that
  * ran in at most
  * 0.45 s at sf0.1 in `docs/bench/latest_full.json`, so that a pass
  * fits the run. It is drawn once so every run times the same work;
  * the run's seed sets the data. `interop_*` (the commit path) and the
  * streaming micro-bench keys are not in the pool.
  */
object GoldQueries extends Workload {
  val name = "gold_queries"
  val Mix: Seq[(String, Seq[String])] = Seq(
    "q" -> Seq("q_correlated_sub"),
    "dq" -> Seq("dq_freshness"),
    "dedup" -> Seq("dedup_pk"),
    "text" -> Seq("text_ttr"),
    "ann" -> Seq("ann_lsh"),
    "medallion" -> Seq("dim_customer"))
  private val queries = Mix.flatMap { case (f, qs) => qs.map(q => (f, q)) }
  private val reference = mutable.Map[String, String]()

  /** Timed passes even past `--seconds`: the first timed pass still
    * pays some JIT cost, and with three passes or more the medians
    * leave it out on a slow machine as on a fast one. */
  val MinPasses = 3

  /** Scale factor of the generated tables. */
  val Sf = 0.01

  /** The tables the mix reads. */
  val Inputs = Seq("region", "nation", "customer", "lineitem", "events",
    "documents", "embeddings")

  def prepare(ctx: Ctx, dir: String): Unit =
    DataGen.write(ctx.spark, ctx.seed, s"$dir/data", DataGen.sizes(Sf), Inputs)

  private def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** One untimed pass: pays JIT and codegen, and records each result
    * (for the DuckDB oracle check) and its digest (for the timed
    * passes to match). */
  def warmup(ctx: Ctx, dir: String, out: Outcome): Unit = {
    val spark = ctx.spark
    queries.foreach { case (_, q) =>
      try {
        val df = graft.SparkEntry.queries(q)(spark, s"$dir/data")
        val rows = df.collect()
        reference(q) = digest(rows)
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/results/$q")
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] warmup $q failed: ${e.getMessage}")
      } finally spark.catalog.clearCache()
    }
    out.extra("mix") = Json.obj(Mix.map { case (f, qs) =>
      f -> qs.map(Json.str).mkString("[", ",", "]") })
  }

  def measure(ctx: Ctx, dir: String, out: Outcome): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val lat = mutable.ArrayBuffer[Double]()
    val cpu = mutable.ArrayBuffer[Double]()
    val perQuery = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val passSums = mutable.ArrayBuffer[Cost]()
    val deadline = ctx.now + (ctx.seconds * 1e9).toLong
    tr.openUnit(spark)
    while (passSums.size < MinPasses || ctx.now < deadline) {
      var sum = Cost(0, 0)
      queries.foreach { case (fam, q) =>
        tr.newOp()
        out.attempted += 1
        val (ok, c) = ctx.timed(try tr.span(s"family.$fam") {
          val df = tr.span("driver.build")(graft.SparkEntry.queries(q)(spark, s"$dir/data"))
          tr.span("driver.plan")(df.queryExecution.executedPlan)
          val rows = tr.span("driver.action")(df.collect())
          reference.get(q).contains(digest(rows))
        } catch {
          case e: Exception =>
            System.err.println(s"[perfbench] $q failed: ${e.getMessage}")
            false
        } finally spark.catalog.clearCache())
        if (ok) {
          lat += c.wallS
          cpu += c.cpuS
          perQuery.getOrElseUpdate(q, mutable.ArrayBuffer()) += c.wallS
        } else out.failed += 1
        sum = Cost(sum.wallS + c.wallS, sum.cpuS + c.cpuS)
      }
      passSums += sum
      tr.closeUnit(spark)
    }
    out.metrics("query_p50_s") = Stats.median(lat.toSeq)
    out.metrics("mix_s") = Stats.median(passSums.map(_.wallS).toSeq)
    out.metrics("op_cpu_s") = Stats.median(cpu.toSeq)
    out.metrics("work_cpu_s") = Stats.median(passSums.map(_.cpuS).toSeq)
    Stats.tail(lat.toSeq).foreach { case (p, v) => out.extra(s"query_${p}_s") = Json.num(v) }
    out.extra("passes") = passSums.size.toString
    out.extra("queries_timed") = lat.size.toString
    out.extra("per_query_p50_s") = Json.obj(perQuery.toSeq.sortBy(_._1)
      .map { case (q, ts) => q -> Json.num(Stats.median(ts.toSeq)) })
    out.check("query_digests_repeat", out.failed == 0)
  }

  /** The results are checked against each query's `oracleSql` by the
    * launcher, which runs DuckDB over the same parquet tables. */
  def verify(ctx: Ctx, dir: String, out: Outcome): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    val missing = queries.map(_._2).filterNot(reference.contains)
    out.check("warmup_ran_every_query", missing.isEmpty)
    out.extra("oracle") = Json.obj(queries.map { case (_, q) =>
      q -> Json.str(oracle(q)) })
    out.extra("oracle_data") = Json.str(s"$dir/data")
    out.extra("oracle_results") = Json.str(s"$dir/results")
  }
}
