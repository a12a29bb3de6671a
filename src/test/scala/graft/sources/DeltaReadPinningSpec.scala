package graft.sources

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** A `DeltaLog.read` frame is pinned to the snapshot it resolved, a
  * `readSnapshot` serves exactly the snapshot's files, and the frame's
  * schema is the log's: its names, types and order, with every field
  * nullable as file sources serve them. */
class DeltaReadPinningSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-read-pin").toString + "/t"

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def withDv[T](on: Boolean)(body: => T): T = {
    spark.conf.set("spark.graft.dv.enabled", on.toString)
    try body finally spark.conf.unset("spark.graft.dv.enabled")
  }

  /** `dt` with every nullability flag cleared, for comparing types
    * alone. */
  private def strict(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f => StructField(f.name, strict(f.dataType), nullable = false)))
    case a: ArrayType => ArrayType(strict(a.elementType), containsNull = false)
    case m: MapType => MapType(strict(m.keyType), strict(m.valueType), valueContainsNull = false)
    case o => o
  }

  private def allNullable(dt: DataType): Boolean = dt match {
    case s: StructType => s.fields.forall(f => f.nullable && allNullable(f.dataType))
    case a: ArrayType => a.containsNull && allNullable(a.elementType)
    case m: MapType => m.valueContainsNull && allNullable(m.keyType) && allNullable(m.valueType)
    case _ => true
  }

  private def assertLogSchema(df: DataFrame, snap: DeltaLog.Snapshot): Unit = {
    assert(df.schema.fieldNames.toSeq === snap.schema.fieldNames.toSeq)
    assert(strict(df.schema) === strict(snap.schema))
    assert(allNullable(df.schema), df.schema.treeString)
  }

  test("a DeltaLog.read frame keeps its snapshot through append, DELETE and overwrite") {
    Seq(false, true).foreach { dv =>
      val t = tmp()
      DeltaLog.write(spark, (0L until 20L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(2), t)
      val df = DeltaLog.read(spark, t)
      val before = rows(df)
      assert(before.size === 20)
      DeltaLog.write(spark, Seq((100L, "new")).toDF("k", "v"), t)
      assert(rows(df) === before, s"after append, dv=$dv")
      withDv(dv)(DeltaLog.delete(spark, t, col("k") < 5L))
      assert(DeltaLog.snapshot(spark, t).files.exists(_.dv.isDefined) === dv)
      assert(DeltaLog.read(spark, t).count() === 16L)
      assert(rows(df) === before, s"after DELETE, dv=$dv")
      DeltaLog.write(spark, Seq((7L, "over")).toDF("k", "v"), t, overwrite = true)
      assert(rows(df) === before, s"after overwrite, dv=$dv")
      assert(rows(DeltaLog.read(spark, t)) === Seq("[7,over]"))
    }
  }

  test("readSnapshot over a subset of a snapshot's files serves exactly that subset") {
    val t = tmp()
    DeltaLog.write(spark, spark.range(0, 60, 1, 6).toDF("id"), t)
    val snap = DeltaLog.snapshot(spark, t)
    assert(snap.files.size === 6)
    val subset = snap.files.take(2)
    val got = rows(DeltaLog.readSnapshot(spark, snap.copy(files = subset)))
    assert(got === rows(spark.read.parquet(subset.map(_.path): _*)))
    assert(got.size === 20)
    assert(DeltaLog.readSnapshot(spark, snap.copy(files = Nil)).count() === 0L)

    // partition values attach to the subset's rows too
    val tp = tmp()
    DeltaLog.write(spark, spark.range(0, 60, 1, 3).withColumn("p", col("id") % 3), tp,
      partitionBy = Seq("p"))
    val ps = DeltaLog.snapshot(spark, tp)
    val one = ps.files.filter(_.partitionValues("p") == "1")
    assert(one.nonEmpty && one.size < ps.files.size)
    assert(rows(DeltaLog.readSnapshot(spark, ps.copy(files = one))) ===
      rows(spark.range(0, 60).where(col("id") % 3 === 1).withColumn("p", lit(1L))))
  }

  test("a partitioned table with null and empty partition values: log order, nullable schema") {
    val t = tmp()
    DeltaLog.write(spark, Seq((1L, "x", "a"), (2L, null, "b"), (3L, "", "c")).toDF("k", "p", "v")
      .withColumn("s", struct(col("k").as("kk"), col("v").as("vv"))), t, partitionBy = Seq("p"))
    val snap = DeltaLog.snapshot(spark, t)
    assert(!snap.schema("k").nullable, "the log declares k NOT NULL")
    val df = DeltaLog.read(spark, t)
    assertLogSchema(df, snap)
    assert(rows(df.select("k", "p", "v")) === Seq("[1,x,a]", "[2,null,b]", "[3,null,c]"))
    assert(rows(DeltaLog.readWhere(spark, t, col("p").isNull).select("k")) === Seq("[2]", "[3]"))
  }

  test("column mapping in name and id modes: logical names, log order, nullable schema") {
    val tn = tmp()
    DeltaLog.write(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), tn)
    DeltaLog.setTableProperties(spark, tn, Map("delta.columnMapping.mode" -> "name"))
    DeltaLog.renameColumn(spark, tn, "v", "label")
    val named = DeltaLog.read(spark, tn)
    assertLogSchema(named, DeltaLog.snapshot(spark, tn))
    assert(named.columns.toSeq === Seq("k", "label"))
    assert(rows(named) === Seq("[1,a]", "[2,b]"))

    // id mode: the parquet columns match neither the logical nor the
    // physical names, only the field ids
    val ti = tmp()
    def fid(id: Long) = new MetadataBuilder().putLong("parquet.field.id", id).build()
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(7L, "ok"), Row(8L, "go"))),
      StructType(Seq(StructField("a", LongType, nullable = true, fid(1)),
        StructField("b", StringType, nullable = true, fid(2)))))
      .coalesce(1).write.parquet(s"$ti/data")
    val part = new File(s"$ti/data").listFiles().find(_.getName.endsWith(".parquet")).get
    def cm(id: Long, phys: String) = new MetadataBuilder()
      .putLong("delta.columnMapping.id", id)
      .putString("delta.columnMapping.physicalName", phys).build()
    val logical = StructType(Seq(StructField("k", LongType, nullable = false, cm(1, "col-1")),
      StructField("v", StringType, nullable = true, cm(2, "col-2"))))
    val M = new com.fasterxml.jackson.databind.ObjectMapper()
    Files.createDirectories(Paths.get(ti, "_delta_log"))
    Files.writeString(Paths.get(ti, "_delta_log", "00000000000000000000.json"), Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"t-id","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${M.writeValueAsString(logical.json)},"partitionColumns":[],""" +
        """"configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"2"},""" +
        """"createdTime":1}}""",
      s"""{"add":{"path":"data/${part.getName}","partitionValues":{},"size":${part.length},""" +
        """"modificationTime":5,"dataChange":true}}""").mkString("", "\n", "\n"))
    val byId = DeltaLog.read(spark, ti)
    assertLogSchema(byId, DeltaLog.snapshot(spark, ti))
    assert(rows(byId) === Seq("[7,ok]", "[8,go]"))
  }

  test("a nested column pruned to one leaf reads the same rows as the files") {
    val t = tmp()
    DeltaLog.write(spark, spark.range(10).select(struct(col("id").as("order_id"),
      struct(col("id").as("cid"), lit("n").as("name")).as("customer"),
      array(struct(lit(1).as("line"), lit(2.0).as("q")),
        struct(lit(2).as("line"), lit(3.0).as("q"))).as("items")).as("payload")), t)
    val files = spark.read.parquet(DeltaLog.snapshot(spark, t).files.map(_.path): _*)
    Seq(DeltaLog.read(spark, t), spark.read.format("graft-delta").load(t)).foreach { df =>
      assert(df.select(explode(col("payload.items"))).count() === 20L)
      assert(rows(df.select(col("payload.items.line"), col("payload.customer.cid"))) ===
        rows(files.select(col("payload.items.line"), col("payload.customer.cid"))))
    }
  }

  test("deletion vectors, an empty table and time travel: the log's schema, nullable") {
    val t = tmp()
    DeltaLog.write(spark, (0L until 10L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1), t)
    withDv(on = true)(DeltaLog.delete(spark, t, col("k") % 3 === 0L))
    val snap = DeltaLog.snapshot(spark, t)
    assert(snap.files.exists(_.dv.isDefined))
    val df = DeltaLog.read(spark, t)
    assertLogSchema(df, snap)
    assert(rows(df.select("k")) === Seq(1, 2, 4, 5, 7, 8).map(i => s"[$i]"))

    val te = tmp()
    DeltaLog.write(spark, Seq((1L, "a")).toDF("k", "v").limit(0), te)
    val empty = DeltaLog.read(spark, te)
    assertLogSchema(empty, DeltaLog.snapshot(spark, te))
    assert(empty.count() === 0L)

    val tt = tmp()
    DeltaLog.write(spark, Seq((1L, "a")).toDF("k", "v"), tt)
    Thread.sleep(20)
    DeltaLog.write(spark, Seq((2L, "b")).toDF("k", "v"), tt)
    val v0 = DeltaLog.snapshot(spark, tt, versionAsOf = Some(0L))
    val atV0 = DeltaLog.read(spark, tt, versionAsOf = Some(0L))
    assertLogSchema(atV0, v0)
    assert(rows(atV0) === Seq("[1,a]"))
    val ts0 = DeltaLog.commitTimes(spark, tt).head._2
    val atTs0 = DeltaLog.read(spark, tt, timestampAsOf = Some(ts0))
    assertLogSchema(atTs0, v0)
    assert(rows(atTs0) === Seq("[1,a]"))
  }
}
