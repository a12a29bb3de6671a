package graft

import java.nio.file.{Files, Paths}

import graft.sources.DeltaLog
import graft.streaming.Streams

/** The foreachBatch MERGE sinks over native Delta: the keyed
  * keep-latest upsert ([[Streams.runMergeOnce]]) and the incremental
  * aggregate ([[Streams.runIncrementalAggOnce]]), each one Delta
  * commit per micro-batch, resumed from the checkpoint across runs,
  * and the aggregate's replay guard (the Delta `txn` watermark). */
class DeltaMergeSinkSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  // one parquet file per directory, so maxFilesPerTrigger=1 makes
  // one micro-batch per directory
  private def land(src: String, name: String, df: org.apache.spark.sql.DataFrame): Unit =
    df.coalesce(1).write.parquet(s"$src/$name")

  private def stream(src: String, like: org.apache.spark.sql.DataFrame) =
    spark.readStream.schema(like.schema).option("maxFilesPerTrigger", "1")
      .parquet(s"$src/*")

  private def mergeRun(src: String, t: String, ckpt: String): Unit =
    Streams.runMergeOnce(
      stream(src, Seq((0L, "", 0L)).toDF("id", "s", "ver")),
      keys = Seq("id"), versionCol = "ver", table = t, checkpoint = ckpt)

  private def aggRun(src: String, t: String, ckpt: String): Unit =
    Streams.runIncrementalAggOnce(
      stream(src, Seq((0L, 0L)).toDF("k", "v")),
      keys = Seq("k"), sumCols = Seq("v"), table = t, checkpoint = ckpt)

  test("MERGE sink keeps the latest row per key, one Delta version per batch") {
    val dir = tmp("graft-msink")
    val (src, t, ckpt) = (s"$dir/src", s"$dir/t", s"$dir/ckpt")
    // run 1: one batch with two rows for id 1 — the batch itself is
    // reduced to its latest row per key before the MERGE
    land(src, "f1", Seq((1L, "a", 1L), (1L, "a0", 0L), (2L, "b", 1L))
      .toDF("id", "s", "ver"))
    mergeRun(src, t, ckpt)
    assert(DeltaLog.snapshot(spark, t).version === 0L)
    assert(DeltaLog.read(spark, t).select("id", "s").as[(Long, String)]
      .collect().toSet === Set((1L, "a"), (2L, "b")))
    // run 2 resumes the checkpoint: two new batches, in either order
    // the result is the same — an older `ver` never overwrites
    land(src, "f2", Seq((1L, "a2", 2L), (2L, "stale", 0L), (3L, "c", 1L))
      .toDF("id", "s", "ver"))
    land(src, "f3", Seq((3L, "c2", 2L)).toDF("id", "s", "ver"))
    mergeRun(src, t, ckpt)
    assert(DeltaLog.read(spark, t).select("id", "s").as[(Long, String)]
      .collect().toSet === Set((1L, "a2"), (2L, "b"), (3L, "c2")))
    // one version per micro-batch, and the earlier versions still read
    assert(DeltaLog.snapshot(spark, t).version === 2L)
    assert(DeltaLog.read(spark, t, versionAsOf = Some(0L))
      .select("id", "s").as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b")))
  }

  test("aggregate sink sums each batch into the running totals across runs") {
    val dir = tmp("graft-asink")
    val (src, t, ckpt) = (s"$dir/src", s"$dir/t", s"$dir/ckpt")
    land(src, "f1", Seq((1L, 2L), (2L, 5L), (1L, 1L)).toDF("k", "v"))
    aggRun(src, t, ckpt)
    assert(DeltaLog.read(spark, t).as[(Long, Long)].collect().toSet
      === Set((1L, 3L), (2L, 5L)))
    land(src, "f2", Seq((1L, 3L), (3L, 7L)).toDF("k", "v"))
    land(src, "f3", Seq((2L, 1L)).toDF("k", "v"))
    aggRun(src, t, ckpt)
    assert(DeltaLog.read(spark, t).as[(Long, Long)].collect().toSet
      === Set((1L, 6L), (2L, 6L), (3L, 7L)))
    assert(DeltaLog.snapshot(spark, t).version === 2L)
  }

  test("a replayed aggregate batch changes neither the table nor its version") {
    val dir = tmp("graft-areplay")
    val (src, t, ckpt) = (s"$dir/src", s"$dir/t", s"$dir/ckpt")
    land(src, "f1", Seq((1L, 2L), (2L, 5L)).toDF("k", "v"))
    aggRun(src, t, ckpt)
    land(src, "f2", Seq((1L, 3L), (3L, 7L)).toDF("k", "v"))
    aggRun(src, t, ckpt)
    assert(DeltaLog.snapshot(spark, t).version === 1L)
    // another writer's commit lands in between: it carries no txn mark
    // of this stream, so it must not move the stream's watermark
    DeltaLog.write(spark, Seq((9L, 1L)).toDF("k", "v"), t)
    val expected = Set((1L, 5L), (2L, 5L), (3L, 7L), (9L, 1L))
    // lose batch 1's commit mark: the restart re-runs batch 1 into the
    // sink, which already committed it (txn watermark 1)
    Files.delete(Paths.get(ckpt, "commits", "1"))
    Files.deleteIfExists(Paths.get(ckpt, "commits", ".1.crc"))
    aggRun(src, t, ckpt)
    assert(Files.exists(Paths.get(ckpt, "commits", "1")))
    assert(DeltaLog.snapshot(spark, t).version === 2L)
    assert(DeltaLog.read(spark, t).as[(Long, Long)].collect().toSet === expected)
  }

  /** What a first commit that failed after making `_delta_log`
    * leaves: a log with no commit. */
  private def emptyLog(dir: String): String = {
    val t = s"$dir/t"
    Files.createDirectories(Paths.get(t, "_delta_log"))
    assert(DeltaLog.lastCommittedBatch(spark, t, "any") === -1L)
    t
  }

  private def assertCreatedAtV0(t: String, appId: String): Unit = {
    assert(DeltaLog.snapshot(spark, t).version === 0L)
    assert(DeltaLog.lastCommittedBatch(spark, t, appId) === 0L)
    assert(DeltaLog.read(spark, t).select("id", "s").as[(Long, String)]
      .collect().toSet === Set((1L, "a"), (2L, "b")))
  }

  test("the MERGE stream creates the table at v0 over an empty _delta_log") {
    val dir = tmp("graft-msink-empty")
    land(s"$dir/src", "f1",
      Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "s", "ver"))
    val t = emptyLog(dir)
    mergeRun(s"$dir/src", t, s"$dir/ckpt")
    assertCreatedAtV0(t, s"graft-delta-merge:$dir/ckpt")
  }

  test("the graft-delta sink creates the table at v0 over an empty _delta_log") {
    val dir = tmp("graft-sink-empty")
    land(s"$dir/src", "f1",
      Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "s", "ver"))
    val t = emptyLog(dir)
    assert(DeltaLog.lastCommittedBatch(spark, s"$dir/absent", "any") === -1L)
    stream(s"$dir/src", Seq((0L, "", 0L)).toDF("id", "s", "ver")).writeStream
      .format("graft-delta")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(t).awaitTermination()
    assertCreatedAtV0(t, s"graft-delta-sink:$dir/ckpt")
  }
}
