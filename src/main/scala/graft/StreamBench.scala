package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.sources.Tables
import graft.streaming.Streams

/** Bench-only streaming micro-benchmarks — one timed key per
  * streaming source/sink family (round-16 verdict item 8: the
  * streaming operators were spec-only and never bench-timed, so
  * optimization rounds had no number to move for them).
  *
  * These are NOT declared queries: they are absent from
  * `SparkEntry.queries` / `oracleSql` (the driver's DuckDB oracle
  * does not grade them — their correctness lives in the streaming
  * specs). `Bench` times them alongside the declared queries and adds
  * their keys to the artifact's `queries` map — the bench contract is
  * additions-only, existing keys and methodology unchanged.
  *
  * Rules compliance: every invocation computes from the parquet
  * inputs into FRESH /tmp sink/checkpoint/table paths (UUID per
  * call), so no run can serve state produced by a previous run —
  * checkpoints, targets and CDC source tables are built and consumed
  * within the one timed call. Each fn runs its bounded stream to
  * completion (Trigger.AvailableNow, the reference pipeline's
  * trigger-once pattern) before returning the sink contents, so the
  * bench timer wraps the entire pipeline: source build (where one is
  * needed), stream start-up, micro-batches, state store, sink. */
object StreamBench {

  private def freshDir(): String = {
    val d = s"/tmp/graft_stream_bench/${java.util.UUID.randomUUID()}"
    new java.io.File(d).mkdirs()
    d
  }

  /** events.parquet as a bounded file-stream with the same ts
    * normalization as Tables.events (the NANOS-vintage data reads as
    * LongType under nanosAsLong; current vintage is already
    * TIMESTAMP). Schema comes from the batch reader's footer read. */
  private def eventStream(s: SparkSession, d: String): DataFrame = {
    val path = s"$d/events.parquet"
    // the file-stream source requires a DIRECTORY basePath — stream
    // the sf dir with a name filter selecting just the events file
    val raw = s.readStream.schema(Tables.parquet(s, path).schema)
      .option("pathGlobFilter", "events.parquet").parquet(d)
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }

  /** Run `df` to a fresh append-mode memory sink and return its
    * contents (bounded: AvailableNow drains the source, then stops). */
  private def toMemory(s: SparkSession, df: DataFrame, dir: String,
                       name: String): DataFrame = {
    val view = s"${name}_${java.util.UUID.randomUUID().toString.take(8)}"
    Streams.runOnce(df, s"$dir/ckpt", view)
    val out = s.table(view)
    out
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // watermarked stateful aggregation family (windowed groupBy agg).
    // 1-day windows: the micro-bench exercises the operator path
    // (watermark, per-window state, append-mode emission), not state
    // cardinality — 1-hour windows over the 2-year event span put
    // ~90k groups through the HDFS-backed store and the key alone
    // cost 8 s, drowning every other stream key in the suite total
    "stream_windowed_agg" -> ((s, d) => {
      val dir = freshDir()
      toMemory(s, Streams.windowedEventCounts(eventStream(s, d),
        windowDur = "1 day", watermark = "2 days"), dir, "sb_wagg")
    }),

    // streaming dedup family (dropDuplicatesWithinWatermark state) —
    // keyed by user_id so state is O(users), same operator path
    "stream_dedup" -> ((s, d) => {
      val dir = freshDir()
      toMemory(s,
        Streams.streamingDedupWithinWatermark(eventStream(s, d),
          Seq("user_id")).select(col("event_id"), col("user_id")),
        dir, "sb_dedup")
    }),

    // transformWithState family (event-time timers + ValueState;
    // needs the RocksDB provider — multiple column families)
    "stream_tws_sessionize" -> ((s, d) => {
      import s.implicits._
      val dir = freshDir()
      val ev = eventStream(s, d)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value")).as[Streams.Event]
      val k = "spark.sql.streaming.stateStore.providerClass"
      val saved = s.conf.getOption(k)
      s.conf.set(k,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try toMemory(s, Streams.sessionizeTws(ev, 1800 * 1000L).toDF(),
        dir, "sb_tws")
      finally saved.fold(s.conf.unset(k))(s.conf.set(k, _))
    }),

    // foreachBatch merge-sink family (incremental SCD1 upsert with
    // the crash-safe swap protocol; timer includes reading the
    // merged target back)
    "stream_foreachbatch_upsert" -> ((s, d) => {
      val dir = freshDir()
      Streams.runUpsertOnce(eventStream(s, d), Seq("event_id"), "ts",
        s"$dir/target", s"$dir/ckpt")
      Tables.parquet(s, s"$dir/target")
    }),

    // Delta CDC streaming-source family: build a 2-commit table from
    // the parquet input, then stream its change feed from version 0
    "stream_cdc_delta" -> ((s, d) => {
      val dir = freshDir()
      val ev = graft.sources.Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      graft.sources.DeltaLog.write(s, ev.where(col("event_id") % 5 === 0),
        s"$dir/t")
      graft.sources.DeltaLog.write(s, ev.where(col("event_id") % 5 === 1),
        s"$dir/t")
      toMemory(s,
        s.readStream.format("graft-delta").option("readChangeFeed", "true")
          .load(s"$dir/t")
          .select(col("event_id"), col("_change_type"), col("_commit_version")),
        dir, "sb_cdcd")
    }),

    // Iceberg CDC streaming-source family (same shape, snapshot ids)
    "stream_cdc_iceberg" -> ((s, d) => {
      val dir = freshDir()
      val ev = graft.sources.Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      graft.sources.IcebergTable.write(s, ev.where(col("event_id") % 5 === 0),
        s"$dir/t")
      graft.sources.IcebergTable.write(s, ev.where(col("event_id") % 5 === 1),
        s"$dir/t")
      toMemory(s,
        s.readStream.format("graft-iceberg").option("readChangeFeed", "true")
          .load(s"$dir/t")
          .select(col("event_id"), col("_change_type")),
        dir, "sb_cdci")
    })
  )
}
