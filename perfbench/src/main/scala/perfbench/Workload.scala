package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a workload run hands back: the end-to-end metrics (untraced
  * meaning), operation counts, output-check results, and any extra
  * JSON the report carries. */
final class Outcome {
  val metrics: mutable.Map[String, Double] = mutable.LinkedHashMap()
  /** Per-layer values a workload reads itself; a traced run adds the
    * span totals and Spark counters of its unit of work. */
  val layer: mutable.Map[String, Double] = mutable.LinkedHashMap()
  var attempted = 0L
  var failed = 0L
  val checks: mutable.Map[String, Boolean] = mutable.LinkedHashMap()
  val extra: mutable.Map[String, String] = mutable.LinkedHashMap()
  def check(name: String, ok: Boolean): Unit = {
    checks(name) = ok
    if (!ok) System.err.println(s"[perfbench] check failed: $name")
  }
}

/** Wall and CPU seconds of one timed stretch. */
final case class Cost(wallS: Double, cpuS: Double)

final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
                     tracer: Tracer, cpus: Int) {
  def now: Long = System.nanoTime()
  def secs(t0: Long, t1: Long = System.nanoTime()): Double = (t1 - t0) / 1e9

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU nanoseconds of the whole JVM process, every thread, since it
    * started. Unlike wall time it leaves out the time a virtual
    * machine's host runs something else on its cores (steal). */
  def cpuNow: Long = os.getProcessCpuTime

  def timed[T](body: => T): (T, Cost) = {
    val t0 = now
    val c0 = cpuNow
    val r = body
    (r, Cost(secs(t0), (cpuNow - c0) / 1e9))
  }
}

object Stats {
  /** Quantile by linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest of p75/p90/p99 that leaves at least ten samples
    * beyond it, as (label, value). */
  def tail(xs: Seq[Double]): Option[(String, Double)] =
    Seq(99 -> 0.99, 90 -> 0.90, 75 -> 0.75)
      .find { case (_, q) => xs.size * (1 - q) >= 10 }
      .map { case (p, q) => (s"p$p", quantile(xs, q)) }

  def json(xs: Seq[Double]): String = xs.map(x => f"$x%.6f").mkString("[", ",", "]")
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Files {
  /** Bytes and file count under a directory tree, optionally only
    * files whose path matches `keep`. */
  def usage(dir: String, keep: java.nio.file.Path => Boolean = _ => true): (Long, Long) = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return (0L, 0L)
    val s = java.nio.file.Files.walk(root)
    try {
      var bytes = 0L; var n = 0L
      s.filter(p => java.nio.file.Files.isRegularFile(p) && keep(p))
        .forEach { p => bytes += java.nio.file.Files.size(p); n += 1 }
      (bytes, n)
    } finally s.close()
  }

  def delete(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root)) {
      val s = java.nio.file.Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.delete(p))
      finally s.close()
    }
  }
}

/** One benchmark workload. `prepare` is the repeatable part of set-up
  * (input generation and table seeding, into a fresh directory);
  * `warmup` runs once before timing; `measure` is the timed closed
  * loop; `verify` checks outputs after timing. */
trait Workload {
  def name: String
  def prepare(ctx: Ctx, dir: String): Unit
  def warmup(ctx: Ctx, dir: String, out: Outcome): Unit
  def measure(ctx: Ctx, dir: String, out: Outcome): Unit
  def verify(ctx: Ctx, dir: String, out: Outcome): Unit
}
