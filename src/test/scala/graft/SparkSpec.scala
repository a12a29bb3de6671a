package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = {
    // the same fork-free `file:` filesystem and shared executor class
    // loader as every GraftSession
    val s = graft.sources.GraftSession.withStartupSettings(SparkSession.builder())
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // match GraftSession: naive-UTC micros parquet timestamps read
      // as plain TIMESTAMP, not TIMESTAMP_NTZ
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // id-mode column mapping: requested schemas carrying
      // parquet.field.id resolve against parquet field ids
      .config("spark.sql.parquet.fieldId.read.enabled", "true")
      .config("spark.sql.parquet.fieldId.write.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
