package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans recorded by the benchmark around its calls into graft's
  * layers, and Spark's own counters (jobs, stages, tasks, streaming
  * progress) from listeners the benchmark registers. One client thread drives every workload, so the
  * open-span stack is a plain stack. With `enabled = false` a span is
  * just the call and no listener is registered: that is the untraced
  * run the end-to-end metrics come from.
  */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, name: String, parent: Int, op: Long,
                        startNs: Long, endNs: Long)

  private val spans = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[Int]()
  private var nextId = 0
  private var op = 0L
  val listener: Option[JobListener] =
    if (enabled) Some(new JobListener) else None

  def attach(spark: SparkSession): Unit = listener.foreach { l =>
    spark.sparkContext.addSparkListener(l)
    spark.streams.addListener(l.streaming)
  }

  /** Starts a new top-level operation; spans opened until the next
    * call share its id. */
  def newOp(): Long = { op += 1; op }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = if (open.isEmpty) -1 else open.top
      val t0 = System.nanoTime()
      open.push(id)
      try body
      finally {
        open.pop()
        spans += Span(id, name, parent, op, t0, System.nanoTime())
      }
    }

  private var unitFrom = 0
  private var unitBase: Map[String, Double] = Map.empty
  private var unitView: Option[Map[String, Double]] = None

  private def sparkCounters(spark: SparkSession): Map[String, Double] =
    listener.map { l =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      l.snapshot
    }.getOrElse(Map.empty)

  /** Marks the start of the fixed unit of work the per-layer metrics
    * describe: gold_queries' first timed pass, medallion_incremental's
    * timed batches. */
  def openUnit(spark: SparkSession): Unit = if (enabled) {
    unitFrom = spans.size
    unitBase = sparkCounters(spark)
  }

  /** Freezes the per-layer view at the end of the first unit; later
    * calls do nothing. */
  def closeUnit(spark: SparkSession): Unit = if (enabled && unitView.isEmpty) {
    val now = sparkCounters(spark)
    val diff = now.map { case (k, v) => k -> (v - unitBase.getOrElse(k, 0.0)) }
    val us = spans.drop(unitFrom).toSeq
    val tot = totals(us)
    // stream wall outside its triggers: query start, source and sink
    // set-up, and termination
    val startup = tot.get("streaming.run").map(w =>
      "streaming.startup_s" -> math.max(0.0, w - diff.getOrElse("streaming.trigger_s", 0.0)))
    unitView = Some(diff ++ startup ++
      tot.map { case (k, v) => s"${k}_s" -> v } ++
      selfTimes(us).map { case (k, v) => s"self.${k}_s" -> v } +
      ("driver.outside_jobs_s" -> outsideJobsS(us)))
  }

  def unit: Map[String, Double] = unitView.getOrElse(Map.empty)

  /** Inclusive seconds per span name. */
  private def totals(ss: Seq[Span]): Map[String, Double] =
    ss.groupMapReduce(_.name)(s => (s.endNs - s.startNs) / 1e9)(_ + _)

  /** Self seconds per span name: a span's duration minus the part of
    * its interval its child spans cover. */
  private def selfTimes(ss: Seq[Span]): Map[String, Double] = {
    val children = ss.groupBy(_.parent)
    ss.groupMapReduce(_.name) { s =>
      val covered = union(children.getOrElse(s.id, Nil)
        .map(c => (c.startNs, c.endNs)))
      ((s.endNs - s.startNs) - covered) / 1e9
    }(_ + _)
  }

  /** Wall of the top-level spans not covered by any Spark job. */
  private def outsideJobsS(ss: Seq[Span]): Double = listener.map { l =>
    val jobs = l.jobIntervals
    ss.filter(_.parent == -1).map { s =>
      val clipped = jobs.flatMap { case (a, b) =>
        val lo = math.max(a, s.startNs); val hi = math.min(b, s.endNs)
        if (hi > lo) Some((lo, hi)) else None
      }
      ((s.endNs - s.startNs) - union(clipped)) / 1e9
    }.sum
  }.getOrElse(0.0)

  private def union(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** Spans as JSON lines: name, start, end (ns, relative to the first
    * span), parent and operation id. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val base = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    val lines = spans.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs - base},""" +
        s""""end_ns":${s.endNs - base},"parent":${s.parent},"op":${s.op}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Job, stage and task counters from Spark's listener bus. Job
  * intervals are kept on the driver's nanoTime clock so they can be
  * compared with spans. */
final class JobListener extends SparkListener {
  private val jobStart = mutable.Map[Int, Long]()
  private val intervals = mutable.ArrayBuffer[(Long, Long)]()
  val c: mutable.Map[String, Double] =
    mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)

  def jobIntervals: Seq[(Long, Long)] = synchronized(intervals.toSeq)

  /** Sums the phase durations of every streaming trigger, from Spark's
    * public StreamingQueryProgress. */
  val streaming: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = JobListener.this.synchronized {
      val d = e.progress.durationMs
      def s(k: String) = Option(d.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
      c("streaming.triggers") += 1
      c("streaming.trigger_s") += s("triggerExecution")
      c("streaming.query_planning_s") += s("queryPlanning")
      c("streaming.add_batch_s") += s("addBatch")
      c("streaming.wal_commit_s") += s("walCommit") + s("commitOffsets")
    }
  }
  def snapshot: Map[String, Double] = synchronized(c.toMap)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = System.nanoTime()
    c("spark.jobs") += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => intervals += ((s, System.nanoTime())))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { c("spark.stages") += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    c("spark.tasks") += 1
    val m = e.taskMetrics
    if (m != null) {
      c("spark.task_cpu_s") += m.executorCpuTime / 1e9
      c("spark.task_run_s") += m.executorRunTime / 1e3
      c("spark.gc_s") += m.jvmGCTime / 1e3
      c("spark.shuffle_bytes") += m.shuffleWriteMetrics.bytesWritten
      c("spark.scan_bytes") += m.inputMetrics.bytesRead
      c("spark.spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
      val info = e.taskInfo
      if (info != null && info.finishTime > 0) {
        val busy = m.executorRunTime + m.executorDeserializeTime +
          m.resultSerializationTime
        c("spark.scheduler_delay_s") +=
          math.max(0L, info.finishTime - info.launchTime - busy) / 1e3
      }
    }
  }
}
