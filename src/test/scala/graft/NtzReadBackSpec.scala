package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.sources.Tables

/** Spark writes a TIMESTAMP_NTZ column's type into the file's row
  * metadata and reads it back as NTZ even with `inferTimestampNTZ`
  * off; the `unix_*` functions refuse NTZ. `Tables.load` requests such
  * columns as TIMESTAMP, so the graded queries read Spark-written NTZ
  * events exactly like the testdata's naive-micros events. */
class NtzReadBackSpec extends SparkSpec {
  test("dq_freshness and q_decayed_score over Spark-written NTZ events equal the original") {
    val copy = Files.createTempDirectory("graft-ntz-sf").toString
    Tables.names.filterNot(_ == "events").foreach(t =>
      Files.copy(Paths.get(sf, s"$t.parquet"), Paths.get(copy, s"$t.parquet")))
    Tables.events(spark, sf).withColumn("ts", col("ts").cast("timestamp_ntz"))
      .coalesce(1).write.parquet(s"$copy/events.parquet")
    assert(spark.read.parquet(s"$copy/events.parquet").schema("ts").dataType.typeName ===
      "timestamp_ntz")

    Seq("dq_freshness", "q_decayed_score").foreach { q =>
      val run = SparkEntry.queries(q)
      val original = run(spark, sf).collect().toSeq
      val ntz = run(spark, copy).collect().toSeq
      assert(original.nonEmpty, q)
      assert(ntz === original, q)
    }
    assert(Tables.events(spark, copy).schema("ts").dataType === TimestampType)
  }
}
