package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{DeltaLog, GraftDelta, GraftDeltaTable}

/** One Delta change feed on every surface: over a CDF-enabled history
  * (append, copy-on-write DELETE, UPDATE, MERGE, a deletion-vector
  * DELETE, OPTIMIZE, append), [[DeltaLog.changes]], the batch
  * `readChangeFeed` scan bounded by `startingVersion`/`endingVersion`
  * and a `Trigger.AvailableNow` streaming `readChangeFeed` return the
  * same multiset of change rows for every version — with the commit
  * JSONs parsed on the driver and, with the replay gate at 0,
  * distributed. */
class DeltaChangeFeedParitySpec extends SparkSpec {
  import spark.implicits._

  private type Change = (Long, String, String, Long)

  private def rows(df: DataFrame): Seq[Change] =
    df.select("k", "v", "_change_type", "_commit_version")
      .as[Change].collect().toSeq.sorted

  /** v0 append, v1 enable CDF, v2 COW DELETE, v3 UPDATE, v4 MERGE,
    * v5 DV DELETE, v6 OPTIMIZE, v7 append. */
  private def history(): String = {
    val t = Files.createTempDirectory("graft-cdf-parity").toString + "/t"
    DeltaLog.write(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v")
        .coalesce(1), t)                                              // v0
    DeltaLog.setTableProperties(spark, t,
      Map("delta.enableChangeDataFeed" -> "true"))                   // v1
    DeltaLog.delete(spark, t, col("k") === 2L)                        // v2
    DeltaLog.update(spark, t, col("k") === 3L,
      Map("v" -> concat(col("v"), lit("!"))))                        // v3
    DeltaLog.merge(spark, t,
      Seq((3L, "C"), (7L, "g")).toDF("k", "v"), keyCols = Seq("k")) // v4
    spark.conf.set("spark.graft.dv.enabled", "true")
    try DeltaLog.delete(spark, t, col("k") === 4L)                    // v5
    finally spark.conf.unset("spark.graft.dv.enabled")
    DeltaLog.optimize(spark, t, targetFileBytes = Long.MaxValue)      // v6
    DeltaLog.write(spark, Seq((9L, "z")).toDF("k", "v"), t)           // v7
    assert(DeltaLog.snapshot(spark, t).version === 7L)
    t
  }

  private def batchScan(t: String, from: Long, to: Long): Seq[Change] =
    rows(spark.read.format("graft-delta")
      .option("readChangeFeed", "true")
      .option("startingVersion", from.toString)
      .option("endingVersion", to.toString)
      .load(t))

  /** The whole history through one AvailableNow stream, admitted one
    * file per micro-batch; returns the rows and the batch count. */
  private def streamed(t: String): (Seq[Change], Int) = {
    val got = scala.collection.mutable.ArrayBuffer[Change]()
    var batches = 0
    val q = spark.readStream.format("graft-delta")
      .option("readChangeFeed", "true")
      .option("maxFilesPerTrigger", "1")
      .load(t)
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft-cdf-parity-ck").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        got ++= rows(b)
        batches += 1
        ()
      }.start()
    q.awaitTermination(120000)
    (got.toSeq.sorted, batches)
  }

  private def parity(t: String): Unit = {
    val (stream, batches) = streamed(t)
    assert(batches > 1, "admission control should split the history")
    (0L to 7L).foreach { v =>
      val fromLog = rows(DeltaLog.changes(spark, t, v - 1, v))
      assert(batchScan(t, v - 1, v) === fromLog, s"batch scan at v$v")
      assert(stream.filter(_._4 == v) === fromLog, s"stream at v$v")
    }
    assert(rows(DeltaLog.changes(spark, t, -1L, 7L)) === stream)
  }

  test("DeltaLog.changes, batch readChangeFeed and streaming readChangeFeed agree on every version") {
    val t = history()
    parity(t)
    def at(v: Long): Seq[Change] = rows(DeltaLog.changes(spark, t, v - 1, v))
    // cdc-bearing commits serve their `_change_data` rows alone: the
    // COW DELETE is the one deleted row, never the rewrite's
    // delete+reinsert of the rows it kept
    assert(at(2L) === Seq((2L, "b", "delete", 2L)))
    assert(at(3L) === Seq((3L, "c", "update_preimage", 3L),
      (3L, "c!", "update_postimage", 3L)))
    assert(at(4L) === Seq((3L, "C", "update_postimage", 4L),
      (3L, "c!", "update_preimage", 4L), (7L, "g", "insert", 4L)))
    assert(at(5L) === Seq((4L, "d", "delete", 5L)))
    assert(at(1L).isEmpty && at(6L).isEmpty) // config and OPTIMIZE commits
    assert(at(7L) === Seq((9L, "z", "insert", 7L)))
  }

  test("admission parses only the commits it admits") {
    val t = Files.createTempDirectory("graft-cdf-admit").toString + "/t"
    (0 to 3).foreach(i =>
      DeltaLog.write(spark, Seq((i.toLong, "x")).toDF("k", "v").coalesce(1), t))
    val stream = new GraftDeltaTable(spark, t, cdf = true)
      .newScanBuilder(CaseInsensitiveStringMap.empty()).build()
      .toMicroBatchStream(Files.createTempDirectory("graft-cdf-admit-ck").toString)
      .asInstanceOf[SupportsAdmissionControl]
    // a commit past the one-file budget must never be read: make v2
    // unparseable, so reading it fails the offset call
    Files.write(new java.io.File(t, "_delta_log/" + "%020d".format(2L) + ".json")
      .toPath, "{not json\n".getBytes("UTF-8"))
    def admitted(from: Long): Long = stream.latestOffset(
      GraftDelta.DeltaStreamOffset(from), ReadLimit.maxFiles(1))
      .asInstanceOf[GraftDelta.DeltaStreamOffset].version
    assert(admitted(-1L) === 0L)
    assert(admitted(0L) === 1L)
    intercept[Exception](admitted(1L)) // admitting v2 reads it
  }

  test("the three readers agree with the commit JSONs parsed distributed") {
    val t = history()
    spark.conf.set("spark.sql.graft.delta.driverReplayMaxBytes", "0")
    try parity(t)
    finally spark.conf.unset("spark.sql.graft.delta.driverReplayMaxBytes")
  }
}
