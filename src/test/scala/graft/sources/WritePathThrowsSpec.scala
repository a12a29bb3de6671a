package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.spark.sql.functions._

import graft.quality.QualityChecks

/** No hidden throws on graft's write path: write tasks deserialize
  * their Hadoop conf without one `EOFException` per session-conf key
  * (which a conf carrying per-key source records costs, see
  * `StagingWrite.compactConf`), and reading an unset optional setting
  * throws nothing. Counted in-process with a JFR recording of
  * `jdk.JavaExceptionThrow` events, stacks included. */
class WritePathThrowsSpec extends graft.SparkSpec {
  import spark.implicits._

  /** Every exception constructed while `body` ran, any thread. */
  private def thrownDuring(body: => Unit): Seq[RecordedEvent] = {
    val rec = new Recording()
    rec.enable("jdk.JavaExceptionThrow").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val jfr = Files.createTempFile("graft-throws", ".jfr")
    rec.dump(jfr)
    rec.close()
    try RecordingFile.readAllEvents(jfr).asScala.toSeq
    finally Files.delete(jfr)
  }

  private def thrown(events: Seq[RecordedEvent], cls: String)
                    (frame: String => Boolean): Seq[RecordedEvent] =
    events.filter(e =>
      Option(e.getClass("thrownClass")).exists(_.getName == cls) &&
        Option(e.getStackTrace).exists(_.getFrames.asScala.exists(f =>
          frame(s"${f.getMethod.getType.getName}.${f.getMethod.getName}"))))

  test("Delta write, OPTIMIZE ZORDER, DQ routing and an Iceberg append ship no per-key conf sources to their tasks") {
    val d = Files.createTempDirectory("graft-throws").toString
    val df = (0 until 400).map(i => (i.toLong, i % 7, s"v$i")).toDF("k", "n", "v")
      .repartition(4)
    val events = thrownDuring {
      DeltaLog.write(spark, df, s"$d/delta")
      DeltaLog.optimize(spark, s"$d/delta", zorderBy = Seq("k", "n"))
      QualityChecks.routeViolations(df, Seq("small" -> (col("n") < 2)), s"$d/quality")
      IcebergTable.write(spark, df, s"$d/ice")
    }
    val eof = thrown(events, "java.io.EOFException")(
      _ == "org.apache.hadoop.conf.Configuration.readFields")
    // A conf shipped with its per-key sources throws one per key on
    // every deserialization, ~1,100 for the session conf; the compact
    // snapshot throws none. What remains are the ~10 keys Spark's
    // FileFormatWriter sets on its own JobConf copy of the snapshot
    // (output path, write support, parquet options, job UUID), each
    // recorded with a "programmatically" source. All four operations
    // together must throw fewer than ONE session-conf deserialization.
    val confKeys = spark.sessionState.newHadoopConfWithOptions(Map.empty).size()
    assert(eof.size < confKeys,
      s"${eof.size} EOFExceptions under Configuration.readFields (conf has $confKeys keys)")

    assert(DeltaLog.read(spark, s"$d/delta").count() === 400L)
    assert(spark.read.parquet(s"$d/quality").count() === df.filter(col("n") < 2).count())
    assert(IcebergTable.read(spark, s"$d/ice").count() === 400L)
  }

  test("analysing a plan with the global-window guardrail unset throws no SparkNoSuchElementException in graft") {
    spark.conf.unset("spark.graft.failOnGlobalWindow")
    val events = thrownDuring {
      (0 until 10).toDF("x").groupBy("x").count().queryExecution.assertAnalyzed()
    }
    val nse = thrown(events, "org.apache.spark.SparkNoSuchElementException")(
      _.startsWith("graft."))
    assert(nse.isEmpty, s"${nse.size} SparkNoSuchElementExceptions under a graft frame")
  }
}
