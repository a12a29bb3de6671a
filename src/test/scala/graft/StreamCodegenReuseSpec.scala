package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.DeltaLog

/** Every streaming query runs in a cloned session with a new session
  * id. The generated-code cache is keyed by (class loader, code), so
  * the clones must share the executor's class loader for a re-run
  * stream to reuse the code its first run compiled
  * (`GraftSession.withStartupSettings` turns artifact isolation off). */
class StreamCodegenReuseSpec extends SparkSpec {
  import spark.implicits._

  test("a re-run graft-delta stream compiles no new code") {
    val dir = Files.createTempDirectory("graft-codegen-reuse").toString
    val src = s"$dir/src"
    val dst = s"$dir/dst"
    def land(ks: Range): Unit =
      DeltaLog.write(spark, ks.map(i => (i.toLong, s"v$i")).toDF("k", "v"), src)
    def run(): Unit = {
      val q = spark.readStream.format("graft-delta").load(src)
        .where(col("k") % 3 =!= 1)
        .select(col("k"), upper(col("v")).as("v"), (col("k") * 2).as("k2"))
        .writeStream.format("graft-delta")
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(Trigger.AvailableNow())
        .start(dst)
      assert(q.awaitTermination(120000))
    }
    land(0 until 60)
    run()
    land(60 until 120)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    run()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(DeltaLog.read(spark, dst).select("k").as[Long].collect().sorted.toSeq
      === (0L until 120L).filter(_ % 3 != 1))
    assert(compiled === 0L, "the second run recompiled generated code")
  }
}
