package graft.sources

import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** `DeltaLog.read` plans from the log alone: building the frame lists
  * no data file, at any file count, and a second build of the same
  * snapshot does not either. Spark's file index lists in a Spark job
  * once a read names more than `parallelPartitionDiscovery.threshold`
  * (32) paths. */
class DeltaReadJobsSpec extends SparkSpec {

  /** Spark jobs `body` starts on this thread: the listener counts jobs
    * carrying a local-property tag, then a tagged sentinel job makes
    * sure the listener bus has delivered every earlier job start. */
  private def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.test.jobTag"
    val tag = UUID.randomUUID().toString
    val jobs = new AtomicInteger()
    val sentinelSeen = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty(key)) match {
          case Some(`tag`) => jobs.incrementAndGet()
          case Some(t) if t == s"$tag-sentinel" => sentinelSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(l)
    val before = sc.getLocalProperty(key)
    try {
      sc.setLocalProperty(key, tag)
      body
      sc.setLocalProperty(key, s"$tag-sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(sentinelSeen.await(60, TimeUnit.SECONDS), "sentinel job never reached the listener")
    } finally {
      sc.setLocalProperty(key, before)
      sc.removeSparkListener(l)
    }
    jobs.get()
  }

  private val NumRecords = "\"numRecords\"\\s*:\\s*(\\d+)".r

  /** Live rows of `snap` by the log's own per-file stats. */
  private def rowsOf(snap: DeltaLog.Snapshot): Long =
    snap.files.map(f => NumRecords.findFirstMatchIn(f.stats.get).get.group(1).toLong -
      f.dv.map(_.cardinality).getOrElse(0L)).sum

  Seq((16, None), (64, None), (241, Some(241))).foreach { case (files, parts) =>
    val shape = parts.fold(s"$files files")(p => s"$files files in $p partitions")
    test(s"building DeltaLog.read over $shape starts no Spark job") {
      val t = Files.createTempDirectory("graft-read-jobs").toString + "/t"
      val rows = spark.range(0, files * 5L, 1, files).toDF("id")
        .withColumn("v", concat(lit("v"), col("id").cast("string")))
      parts match {
        case None => DeltaLog.write(spark, rows, t)
        case Some(p) => DeltaLog.write(spark,
          rows.withColumn("p", col("id") % p).repartition(8, col("p")), t,
          partitionBy = Seq("p"))
      }
      val snap = DeltaLog.snapshot(spark, t)
      assert(snap.files.size === files)
      assert(jobsStartedBy(DeltaLog.read(spark, t)) === 0, "first build")
      assert(jobsStartedBy(DeltaLog.read(spark, t)) === 0, "second build of the same snapshot")
      assert(DeltaLog.read(spark, t).count() === rowsOf(snap))
      assert(rowsOf(snap) === files * 5L)
    }
  }
}
