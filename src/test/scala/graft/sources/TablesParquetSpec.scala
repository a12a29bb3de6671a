package graft.sources

import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

/** `Tables.parquet` reads the schema Spark's inference job reads, from
  * the same footer, without a Spark job: equal schemas (metadata
  * included) and rows across the inputs graft reads, Spark's own error
  * where there is nothing to infer from, and no job and no task-side
  * conf deserialization while the `Tables` loaders are built. */
class TablesParquetSpec extends graft.SparkSpec {
  import spark.implicits._

  private def assertParity(paths: String*): Unit = {
    val ours = Tables.parquet(spark, paths: _*)
    val theirs = spark.read.parquet(paths: _*)
    assert(ours.schema === theirs.schema) // StructField equality includes metadata
  }

  private def assertRowsEqual(paths: String*): Unit = {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(to_json(struct(col("*")))).as[String].collect().sorted.toSeq
    assert(rows(Tables.parquet(spark, paths: _*)) === rows(spark.read.parquet(paths: _*)))
  }

  private def tmp(): String = Files.createTempDirectory("graft-tables-parquet").toString

  /** Jobs started by this thread (and its children) while `body` ran:
    * tags them with a local property, then runs a tagged sentinel job
    * and waits for the listener to see it, so every earlier job start
    * has been delivered. */
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

  private def buildLoaders(): Unit =
    Tables.names.foreach(t => Tables.load(spark, sf, t).schema)

  test("every sf table: the footer schema equals Spark's inferred schema, metadata included") {
    Tables.names.foreach(t => assertParity(s"$sf/$t.parquet"))
  }

  test("a Spark-written directory of nested, decimal, binary and NTZ columns") {
    val d = tmp() + "/nested"
    (0 until 50).map(i => (i.toLong, s"s$i", i % 3)).toDF("id", "s", "k")
      .select(col("id"),
        struct(col("s"), col("k").as("k")).as("st"),
        array(col("id"), col("id") + 1).as("arr"),
        map(col("s"), col("id")).as("m"),
        (col("id") / 7).cast("decimal(18,4)").as("dec"),
        col("s").cast("binary").as("bin"),
        timestamp_micros(col("id") * 1000003L).cast("timestamp_ntz").as("ntz"))
      .repartition(3)
      .write.parquet(d)
    assertParity(d)
    assertRowsEqual(d)
  }

  test("a hive-partitioned directory with null and empty-string partition values") {
    val d = tmp() + "/parts"
    (0 until 60).map(i => (i.toLong, i % 4 match {
      case 0 => null
      case 1 => ""
      case n => s"p$n"
    }, i % 2)).toDF("id", "p", "q")
      .write.partitionBy("p", "q").parquet(d)
    assertParity(d)
    assertRowsEqual(d)
    assert(Tables.parquet(spark, d).where(col("p").isNull).count() ===
      spark.read.parquet(d).where(col("p").isNull).count())

    // files that also carry their directory key as a data column: Spark
    // puts the inferred partition column at the data column's place
    val o = tmp() + "/overlap"
    Seq((1L, 10L), (2L, 20L)).toDF("id", "p").write.parquet(s"$o/p=a")
    assertParity(o)
    assertRowsEqual(o)
  }

  test("two paths passed together") {
    val a = tmp() + "/a"
    val b = tmp() + "/b"
    (0 until 10).map(i => (i.toLong, s"a$i")).toDF("id", "v").write.parquet(a)
    (10 until 20).map(i => (i.toLong, s"b$i")).toDF("id", "v").write.parquet(b)
    assertParity(a, b)
    assertParity(b, a)
    assertRowsEqual(a, b)
    assertParity(s"$sf/region.parquet", s"$sf/nation.parquet")
  }

  test("an empty directory raises Spark's own schema-inference error") {
    val d = tmp()
    val ours = intercept[AnalysisException](Tables.parquet(spark, d))
    val theirs = intercept[AnalysisException](spark.read.parquet(d))
    assert(ours.getMessage.contains("Unable to infer schema"), ours.getMessage)
    assert(ours.getMessage === theirs.getMessage)
  }

  test("building every Tables loader starts no Spark job") {
    buildLoaders() // first-use class loading outside the count
    assert(jobsStartedBy(buildLoaders()) === 0)
  }

  test("building every Tables loader deserializes no Hadoop conf") {
    buildLoaders()
    val rec = new Recording()
    rec.enable("jdk.JavaExceptionThrow").withStackTrace()
    rec.start()
    try buildLoaders() finally rec.stop()
    val jfr = Files.createTempFile("graft-throws", ".jfr")
    rec.dump(jfr)
    rec.close()
    val events = try RecordingFile.readAllEvents(jfr).asScala.toSeq finally Files.delete(jfr)
    // a task that ships the session conf with its per-key sources
    // throws one EOFException per key (~1,100) while deserializing it
    val eof = events.filter(e =>
      Option(e.getClass("thrownClass")).exists(_.getName == "java.io.EOFException") &&
        Option(e.getStackTrace).exists(_.getFrames.asScala.exists(f =>
          s"${f.getMethod.getType.getName}.${f.getMethod.getName}" ==
            "org.apache.hadoop.conf.Configuration.readFields")))
    assert(eof.size === 0, "EOFExceptions under Configuration.readFields")
  }
}
