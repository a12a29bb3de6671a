package perfbench

import java.nio.file.{Files => JFiles, Paths}

/** Benchmark entry point, started by `perfbench/run.py`:
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --out <file>
  * }}}
  *
  * Runs one workload in one JVM on `local[cpus]` with a single client
  * thread, and writes the run's outcome as one JSON object to `--out`.
  * `setup_s` covers JVM and session start, the median of `Setups`
  * repeated prepares (input generation and table seeding), and the
  * warmup, in CPU seconds of the process, like the workloads' `*_cpu_s`
  * metrics: on a shared virtual machine the host's steal stretches the
  * wall time of whole runs, and CPU time leaves it out. `setup_wall_s`
  * is the same in wall seconds. The repeats run after the first once
  * the timed loop and checks are done.
  */
object Main {
  val Setups = 3
  val Workloads: Map[String, Workload] =
    Seq(Medallion, GoldQueries).map(w => w.name -> w).toMap

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads.getOrElse(opts("workload"),
      throw new IllegalArgumentException(s"unknown workload ${opts("workload")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath.toString
    val cpus = Runtime.getRuntime.availableProcessors
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = graft.sources.GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tracer = new Tracer(traced)
    tracer.attach(spark)
    val ctx = Ctx(spark, seed, seconds, tracer, cpus)
    val sessionCpuS = ctx.cpuNow / 1e9
    val out = new Outcome

    try {
      // the first prepare feeds the run; the others repeat it after the
      // run, into scratch directories, only for setup_s's median
      def prepare(i: Int): Cost = {
        val d = s"$work/setup$i"
        Files.delete(d)
        ctx.timed(wl.prepare(ctx, d))._2
      }
      val dir = s"$work/setup0"
      val prep0 = prepare(0)
      val (_, warm) = ctx.timed(wl.warmup(ctx, dir, out))
      val (_, measured) = ctx.timed(wl.measure(ctx, dir, out))
      out.extra("measured_s") = Json.num(measured.wallS)
      val (_, verified) = ctx.timed(wl.verify(ctx, dir, out))
      out.extra("verify_s") = Json.num(verified.wallS)
      val preps = prep0 +: (1 until Setups).map { i =>
        val c = prepare(i)
        Files.delete(s"$work/setup$i")
        c
      }
      out.metrics("setup_s") = sessionCpuS + Stats.median(preps.map(_.cpuS)) + warm.cpuS
      out.metrics("setup_wall_s") = sessionS + Stats.median(preps.map(_.wallS)) + warm.wallS
      out.extra("setup_parts_s") = Json.obj(Seq("session" -> Json.num(sessionS),
        "prepare" -> Stats.json(preps.map(_.wallS)), "warmup" -> Json.num(warm.wallS)))
      out.extra("setup_parts_cpu_s") = Json.obj(Seq("session" -> Json.num(sessionCpuS),
        "prepare" -> Stats.json(preps.map(_.cpuS)), "warmup" -> Json.num(warm.cpuS)))
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        out.check("run_completed", ok = false)
    }

    if (traced) {
      val (self, rest) = tracer.unit.partition(_._1.startsWith("self."))
      rest.foreach { case (k, v) => if (!out.layer.contains(k)) out.layer(k) = v }
      out.extra("self_s") = Json.obj(self.toSeq.sortBy(_._1)
        .map { case (k, v) => k.stripPrefix("self.") -> Json.num(v) })
      tracer.writeSpans(Paths.get(s"$work/spans.jsonl"))
    }
    val rt = Runtime.getRuntime
    val json = Json.obj(Seq(
      "workload" -> Json.str(wl.name),
      "seed" -> seed.toString,
      "trace" -> traced.toString,
      "cpus" -> cpus.toString,
      "jvm_heap_max_bytes" -> rt.maxMemory.toString,
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "checks" -> Json.obj(out.checks.map { case (k, v) => k -> v.toString }),
      "metrics" -> Json.obj(out.metrics.map { case (k, v) => k -> Json.num(v) }),
      "layer" -> Json.obj(out.layer.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })) ++
      out.extra)
    JFiles.write(Paths.get(opts("out")), (json + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
