package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.StagingWrite
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.sources.Tables

/** Structured-Streaming pipeline pieces.
  *
  * The reference runs every layer as a stream with
  * `trigger(once=True)` + checkpoints (reference:
  * data_lakehouse/etl_scripts/bronze_layer/bronze_ingestion.py:80-87,
  * silver_transformation.py:104-112, gold_transformation.py:54-61).
  * Here the same transform functions (Bronze.wrap, Silver.transform,
  * Gold.*) apply unchanged to streaming DataFrames; this module adds
  * the stream-only operators: watermarked windowed aggregation,
  * streaming dedup, and stateful gap sessionization.
  */
object Streams {

  /** Tumbling-window event aggregation with a watermark bounding
    * state (the 100 TB/day requirement: state is O(windows in the
    * watermark horizon), not O(stream)). */
  def windowedEventCounts(events: DataFrame, windowDur: String = "1 hour",
                          watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Gap-based session aggregation via Spark's NATIVE session_window
    * (dynamic windows that merge as events arrive; state bounded by
    * the watermark) — the built-in alternative to the custom
    * flatMapGroupsWithState sessionizer below when per-session logic
    * is pure aggregation. */
  def sessionWindowCounts(events: DataFrame, gap: String = "30 minutes",
                          watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("total_value"))

  /** Streaming exact dedup by key within the watermark horizon —
    * the streaming analog of Silver's dropDuplicates. */
  def streamingDedup(events: DataFrame, keys: Seq[String],
                     watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicates(keys :+ "ts")

  /** Native `dropDuplicatesWithinWatermark`: dedup by KEY ALONE (no
    * event-time in the key), with state evicted once the watermark
    * passes a key's first-seen time. The right tool when duplicates
    * carry different timestamps (retries, at-least-once sources) —
    * `dropDuplicates(keys :+ ts)` would keep each retry. */
  def streamingDedupWithinWatermark(events: DataFrame, keys: Seq[String],
                                    watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys)

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class SessionState(sessionStart: Long, lastTs: Long, nEvents: Int, totalValue: Double)
  case class Session(user_id: Long, session_start: java.sql.Timestamp,
                     session_end: java.sql.Timestamp, n_events: Int, total_value: Double)

  /** Stateful gap-based sessionization over a stream:
    * flatMapGroupsWithState keyed by user, ProcessingTimeTimeout-free
    * (event-time watermark closes sessions). Emits a session when a
    * gap > gapMs is observed or state times out. */
  def sessionize(events: Dataset[Event], gapMs: Long)
                (implicit spark: SparkSession): Dataset[Session] = {
    import spark.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // gap elapsed with no new events — close and emit the session
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, new java.sql.Timestamp(s.sessionStart),
              new java.sql.Timestamp(s.lastTs), s.nEvents, s.totalValue))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            val (closed, cur) = foldGapSessions(
              sorted.map(e => (e.ts.getTime, e.value)), state.getOption, gapMs)
            cur.foreach { s =>
              state.update(s)
              // timeout must be beyond the current watermark
              state.setTimeoutTimestamp(
                math.max(s.lastTs + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            closed.iterator.map(s =>
              Session(userId, new java.sql.Timestamp(s.sessionStart),
                new java.sql.Timestamp(s.lastTs), s.nEvents, s.totalValue))
          }
      }
  }

  case class UserStats(user_id: Long, n_events: Long, total_value: Double)

  /** Spark 4's `transformWithState` (the modern arbitrary-state API
    * replacing flatMapGroupsWithState): per-user RUNNING totals
    * maintained in a named ValueState, one updated row emitted per
    * key per micro-batch. State is keyed and incremental — O(users),
    * never O(events); TTLConfig bounds it in production. */
  class RunningUserStatsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, UserStats] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TTLConfig, ValueState}
    @transient private var state: ValueState[(Long, Double)] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[(Long, Double)]("stats",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaDouble),
        TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[UserStats] = {
      var (n, v) = if (state.exists()) state.get() else (0L, 0.0)
      rows.foreach { e => n += 1; v += e.value }
      state.update((n, v))
      Iterator.single(UserStats(key, n, math.floor(v * 100 + 0.5) / 100))
    }
  }

  case class Leader(event_type: String, rank: Int, event_id: Long, value: Double)
  case class LeaderState(ids: Seq[Long], values: Seq[Double])

  /** Streaming top-k-per-group — the continuous twin of the batch
    * [[graft.plans.TopKPerGroup]] operator: a per-key leaderboard
    * maintained in bounded ValueState (exactly k entries per group,
    * O(groups×k) total — never O(events)). Each micro-batch merges
    * its rows into the stored top-k under (value desc, event_id asc)
    * and re-emits the group's CURRENT leaderboard in Update mode. */
  class StreamingTopKProcessor(k: Int)
    extends org.apache.spark.sql.streaming.StatefulProcessor[String, Event, Leader] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TTLConfig, ValueState}
    @transient private var state: ValueState[LeaderState] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[LeaderState]("topk",
        org.apache.spark.sql.Encoders.product[LeaderState], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[Leader] = {
      val prev = if (state.exists()) {
        val s = state.get(); s.ids.zip(s.values)
      } else Seq.empty
      val merged = (prev ++ rows.map(e => (e.event_id, e.value)))
        .sortBy { case (id, v) => (-v, id) }.take(k)
      state.update(LeaderState(merged.map(_._1), merged.map(_._2)))
      merged.iterator.zipWithIndex.map { case ((id, v), i) =>
        Leader(key, i + 1, id, v)
      }
    }
  }

  /** Continuous per-event-type leaderboard over a stream. */
  def streamingTopK(events: Dataset[Event], k: Int): Dataset[Leader] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.event_type)
      .transformWithState(new StreamingTopKProcessor(k),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Gap sessionization on the transformWithState API — the modern
    * twin of [[sessionize]], using named ValueState + EVENT-TIME
    * TIMERS: each open session registers a timer at lastTs+gap
    * (clamped past the watermark); `handleExpiredTimer` closes and
    * emits it when the watermark passes with no new events. */
  class TwsSessionizer(gapMs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, Session] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TTLConfig, ValueState}
    @transient private var state: ValueState[SessionState] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[SessionState]("session",
        org.apache.spark.sql.Encoders.product[SessionState], TTLConfig.NONE)

    private def toSession(userId: Long, s: SessionState): Session =
      Session(userId, new java.sql.Timestamp(s.sessionStart),
        new java.sql.Timestamp(s.lastTs), s.nEvents, s.totalValue)

    override def handleInputRows(userId: Long, rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[Session] = {
      val sorted = rows.toSeq.sortBy(_.ts.getTime)
      val (closed, cur) = foldGapSessions(
        sorted.map(e => (e.ts.getTime, e.value)),
        if (state.exists()) Some(state.get()) else None, gapMs)
      cur.foreach { s =>
        state.update(s)
        // one live timer per key: re-arm at the new session end
        getHandle.listTimers().foreach(ts => getHandle.deleteTimer(ts.asInstanceOf[Long]))
        getHandle.registerTimer(
          math.max(s.lastTs + gapMs, timers.getCurrentWatermarkInMs() + 1))
      }
      closed.iterator.map(toSession(userId, _))
    }

    override def handleExpiredTimer(userId: Long,
        timers: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[Session] = {
      if (state.exists()) {
        val s = state.get()
        state.clear()
        Iterator.single(toSession(userId, s))
      } else Iterator.empty
    }
  }

  /** Sessionize a stream via transformWithState + event-time timers. */
  def sessionizeTws(events: Dataset[Event], gapMs: Long): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .transformWithState(new TwsSessionizer(gapMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** Running per-user stats over a stream via transformWithState. */
  def runningUserStats(events: Dataset[Event]): Dataset[UserStats] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningUserStatsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Shared gap-session fold for the two stateful sessionizers: fold
    * a SORTED batch of (ts, value) events into sessions. Events more
    * than `gapMs` BEFORE the open session ("stale": cross-batch late
    * arrivals inside the watermark) gap-merge among THEMSELVES and
    * close immediately — they can never rejoin the live session. The
    * rest extend/replace the open session with min/max guards so a
    * late in-gap event never moves an end before a start. Returns
    * (closed sessions oldest-first, new open state). */
  private[streaming] def foldGapSessions(
      sorted: Seq[(Long, Double)], open: Option[SessionState],
      gapMs: Long): (List[SessionState], Option[SessionState]) = {
    var closed = List.empty[SessionState]
    val (stale, live) = open match {
      case Some(s) => sorted.partition(_._1 < s.sessionStart - gapMs)
      case None => (Seq.empty[(Long, Double)], sorted)
    }
    def fold(events: Seq[(Long, Double)],
             start: Option[SessionState]): Option[SessionState] =
      events.foldLeft(start) { case (cur, (t, v)) =>
        cur match {
          case Some(s) if t - s.lastTs <= gapMs =>
            Some(s.copy(
              sessionStart = math.min(s.sessionStart, t),
              lastTs = math.max(s.lastTs, t),
              nEvents = s.nEvents + 1,
              totalValue = s.totalValue + v))
          case Some(s) =>
            closed ::= s
            Some(SessionState(t, t, 1, v))
          case None =>
            Some(SessionState(t, t, 1, v))
        }
      }
    fold(stale, None).foreach(s => closed ::= s) // stale runs close now
    val cur = fold(live, open)
    (closed.reverse, cur)
  }

  /** Batch gap-based sessionization (oracle-checkable equivalent of
    * the streaming path): lag + cumulative-sum session ids. Two
    * window passes over one user-partitioned sort — a single shuffle
    * at any scale. */
  def sessionizeBatch(events: DataFrame, gapSeconds: Long): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val withGap = events
      .withColumn("__prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("__new_session",
        when(col("__prev_ts").isNull ||
          unix_millis(col("ts")) - unix_millis(col("__prev_ts")) > gapSeconds * 1000L, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum(col("__new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    withGap.groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(graft.functions.Det.roundTo(col("value"), 2).cast("decimal(18,2)"))
          .cast("double").as("total_value"))
  }

  /** Watermarked stream-stream inner join within a time bound: rows
    * match when keys are equal AND |l.ts - r.ts| <= boundSeconds.
    * With both sides watermarked, join state is bounded by
    * watermark + bound (each side can discard buffered rows once the
    * other side's watermark passes its join window) — the shape that
    * keeps a 100 TB/day dual-stream join's state finite. */
  /** `joinType` additionally supports `left_outer`/`right_outer`:
    * Spark emits the unmatched side's rows (other side NULL) once the
    * watermark passes their join window — the watermark+bound is
    * exactly what makes OUTER stream-stream joins well-defined (an
    * unmatched row is only *known* unmatched when no future match can
    * arrive). */
  def streamStreamJoin(left: DataFrame, right: DataFrame,
                       keys: Seq[String], boundSeconds: Long,
                       watermark: String = "2 hours",
                       joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark("ts", watermark).alias("l")
    val r = right.withWatermark("ts", watermark).alias("r")
    val keyCond = keys.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _)
    val timeCond =
      col("r.ts") >= col("l.ts") - expr(s"INTERVAL $boundSeconds SECONDS") &&
      col("r.ts") <= col("l.ts") + expr(s"INTERVAL $boundSeconds SECONDS")
    l.join(r, keyCond && timeCond, joinType)
  }

  /** foreachBatch incremental SCD1 upsert into a plain-parquet
    * target — the Delta `MERGE WHEN MATCHED UPDATE` analog without a
    * table format: per micro-batch, union target + batch, keep the
    * latest version per key, swap the target directory.
    *
    * Crash-safe swap protocol (single renames only — no window where
    * the merged history exists nowhere durable): write `__tmp`, move
    * current target aside to `__old`, move `__tmp` into place, drop
    * `__old`. On (re)start, a missing target with a leftover `__old`
    * (crash between the two renames) is restored before merging, so
    * a replayed batch always merges against the full history; a
    * leftover `__tmp` is discarded (its batch will be replayed).
    *
    * Scale notes: last-writer-wins by `versionCol` makes replays
    * idempotent (exactly-once effect on the target even with
    * at-least-once batches). The rewrite is O(target); a production
    * target would be hash-partitioned by key so each batch rewrites
    * only partitions it touches. */
  def runUpsertOnce(stream: DataFrame, keys: Seq[String], versionCol: String,
                    targetPath: String, checkpoint: String): Unit = {
    val q = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val conf = spark.sparkContext.hadoopConfiguration
        val target = new org.apache.hadoop.fs.Path(targetPath)
        val tmp = new org.apache.hadoop.fs.Path(targetPath + "__tmp")
        val old = new org.apache.hadoop.fs.Path(targetPath + "__old")
        val fs = target.getFileSystem(conf)
        // recover from a crash between the two swap renames: the full
        // merged history is in __old — put it back before merging
        if (!fs.exists(target) && fs.exists(old)) fs.rename(old, target)
        if (fs.exists(tmp)) fs.delete(tmp, true) // incomplete write
        val all =
          if (fs.exists(target)) Tables.parquet(spark, targetPath).unionByName(batch.toDF())
          else batch.toDF()
        val merged = graft.operators.Dedup.keepLatest(all, keys, versionCol)
        StagingWrite.parquet(merged, tmp.toString)
        if (fs.exists(old)) fs.delete(old, true)
        if (fs.exists(target)) fs.rename(target, old)
        fs.rename(tmp, target)
        fs.delete(old, true)
        ()
      }
      .start()
    q.awaitTermination()
  }

  /** Streaming MERGE into a Delta table: each micro-batch is reduced
    * to its latest row per key (a merge source must be key-unique),
    * then one [[graft.sources.DeltaLog.mergeFlexible]] commit updates
    * matched rows whose `versionCol` is NEWER and inserts the rest.
    * Readers of any committed version are never disturbed, and a
    * replayed batch is a no-op (last-writer-wins by `versionCol`, and
    * the batch's txn mark). */
  def runMergeOnce(stream: DataFrame, keys: Seq[String],
                   versionCol: String, table: String,
                   checkpoint: String): Unit = {
    import graft.sources.MergeSpec._
    runDeltaMergeOnce(stream, keys, table, checkpoint)(
      graft.operators.Dedup.keepLatest(_, keys, versionCol),
      Seq(Matched(Some(col(SrcPrefix + versionCol) > col(versionCol)),
        delete = false, assignments = stream.columns.toSeq.map(c =>
          c -> col(SrcPrefix + c)))))
  }

  /** Streaming incremental aggregation into a Delta table: each
    * micro-batch is summed per key, then one MERGE adds the batch sums
    * to the running totals of matched keys and inserts new keys —
    * maintained gold aggregates without reprocessing history. An
    * additive merge is not idempotent, so the Delta `txn` mark guards
    * against a replayed batch. */
  def runIncrementalAggOnce(stream: DataFrame, keys: Seq[String],
                            sumCols: Seq[String], table: String,
                            checkpoint: String): Unit = {
    import graft.sources.MergeSpec._
    runDeltaMergeOnce(stream, keys, table, checkpoint)(
      _.groupBy(keys.map(col): _*)
        .agg(sum(col(sumCols.head)).as(sumCols.head),
          sumCols.tail.map(c => sum(col(c)).as(c)): _*),
      Seq(Matched(None, delete = false, assignments = sumCols.map(c =>
        c -> (col(c) + col(SrcPrefix + c))))))
  }

  /** foreachBatch MERGE of each (prepared, key-unique) micro-batch into
    * the Delta table at `table`, INSERT * when not matched. The first
    * batch creates the table. Every commit carries the Delta `txn`
    * action (appId = the checkpoint, version = batch id), and a batch
    * at or below the table's txn watermark is skipped: foreachBatch is
    * at-least-once, and a restart replays the last uncommitted batch. */
  private def runDeltaMergeOnce(stream: DataFrame, keys: Seq[String],
                                table: String, checkpoint: String)(
      prepare: DataFrame => DataFrame,
      matched: Seq[graft.sources.MergeSpec.Matched]): Unit = {
    import graft.sources.DeltaLog
    val appId = "graft-delta-merge:" + checkpoint
    val q = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val txn = Some(appId -> batchId)
        val src = prepare(batch.toDF())
        // None: no table, or an empty `_delta_log` — create it at v0
        DeltaLog.latestSnapshot(spark, table) match {
          case None => DeltaLog.write(spark, src, table, txn = txn)
          case Some(s) if s.txns.getOrElse(appId, -1L) >= batchId => // replay
          case Some(_) =>
            DeltaLog.mergeFlexible(spark, table, src, keys, matched,
              Seq(graft.sources.MergeSpec.NotMatched(None)), txn = txn)
        }
        ()
      }
      .start()
    q.awaitTermination()
  }

  /** Run an Update-mode stateful stream once, merging each
    * micro-batch's emission into `outPath` BY KEY — Update mode only
    * re-emits keys touched in that batch, so a whole-path overwrite
    * would drop every key absent from the final batch whenever
    * AvailableNow splits the input into several micro-batches. Batch
    * rows replace same-key rows; untouched keys survive. Uses the
    * [[runUpsertOnce]] crash-safe swap protocol; `keys` must be
    * non-null in the emission (they are grouping keys upstream).
    * foreachBatch, so the checkpoint RESUMES across runs, unlike the
    * memory sink. */
  def runOnceUpdate(df: DataFrame, keys: Seq[String], checkpoint: String,
                    outPath: String): Unit = {
    val q = df.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val conf = spark.sparkContext.hadoopConfiguration
        val target = new org.apache.hadoop.fs.Path(outPath)
        val tmp = new org.apache.hadoop.fs.Path(outPath + "__tmp")
        val old = new org.apache.hadoop.fs.Path(outPath + "__old")
        val fs = target.getFileSystem(conf)
        if (!fs.exists(target) && fs.exists(old)) fs.rename(old, target)
        if (fs.exists(tmp)) fs.delete(tmp, true)
        val b = batch.toDF()
        val merged =
          if (fs.exists(target))
            Tables.parquet(spark, outPath)
              .join(b.select(keys.map(col): _*).distinct(), keys, "left_anti")
              .unionByName(b)
          else b
        StagingWrite.parquet(merged, tmp.toString)
        if (fs.exists(old)) fs.delete(old, true)
        if (fs.exists(target)) fs.rename(target, old)
        fs.rename(tmp, target)
        fs.delete(old, true)
        ()
      }
      .start()
    q.awaitTermination()
  }

  /** Run a streaming query once over a bounded source and return the
    * sink table contents (trigger-once semantics like the reference;
    * used by specs). */
  def runOnce(df: DataFrame, checkpoint: String, tableName: String): Unit = {
    val q = df.writeStream
      .format("memory")
      .queryName(tableName)
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
