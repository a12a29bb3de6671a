package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sources.DeltaLog

/** Native `_delta_log` reader against HAND-COMMITTED minimal Delta
  * tables (protocol/metaData/add/remove JSON actions written
  * directly, per the public transaction-log spec) — no Delta jars
  * involved on either side. */
class DeltaLogSpec extends SparkSpec {
  import spark.implicits._

  /** Write `df` as exactly one parquet file named `rel` under
    * `table`, returning its size in bytes. */
  private def writeDataFile(table: String, rel: String,
                            df: org.apache.spark.sql.DataFrame): Long = {
    val tmp = Files.createTempDirectory("graft-delta-part").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val dst = Paths.get(table, rel)
    Files.createDirectories(dst.getParent)
    Files.copy(part.toPath, dst)
    dst.toFile.length()
  }

  private def commit(table: String, v: Long, lines: Seq[String],
                     mtime: Long = 0L): Unit = {
    val dir = Paths.get(table, "_delta_log")
    Files.createDirectories(dir)
    val f = dir.resolve(f"$v%020d.json")
    Files.writeString(f, lines.mkString("\n") + "\n")
    if (mtime > 0) f.toFile.setLastModified(mtime)
  }

  private val protoLine =
    """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""

  private def metaLine(schemaJson: String, partCols: Seq[String] = Nil): String = {
    val pc = partCols.map("\"" + _ + "\"").mkString("[", ",", "]")
    s"""{"metaData":{"id":"t-1","format":{"provider":"parquet","options":{}},"schemaString":${ujson(schemaJson)},"partitionColumns":$pc,"configuration":{},"createdTime":1}}"""
  }

  private def ujson(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def addLine(rel: String, size: Long,
                      pv: Map[String, String] = Map.empty): String = {
    val pvs = pv.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    s"""{"add":{"path":"$rel","partitionValues":$pvs,"size":$size,"modificationTime":5,"dataChange":true}}"""
  }

  private def removeLine(rel: String): String =
    s"""{"remove":{"path":"$rel","deletionTimestamp":9,"dataChange":true}}"""

  test("snapshot replay: adds, removes, version + timestamp travel") {
    val t = Files.createTempDirectory("graft-delta").toString
    val schema = Seq((1L, "a")).toDF("id", "s").schema
    val s1 = writeDataFile(t, "f1.parquet", Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    val s2 = writeDataFile(t, "f2.parquet", Seq((3L, "c")).toDF("id", "s"))
    val s3 = writeDataFile(t, "f3.parquet", Seq((4L, "d")).toDF("id", "s"))
    // v0: f1+f2 · v1: remove f2, add f3
    commit(t, 0, Seq(protoLine, metaLine(schema.json),
      addLine("f1.parquet", s1), addLine("f2.parquet", s2)), mtime = 1000000L)
    commit(t, 1, Seq(removeLine("f2.parquet"), addLine("f3.parquet", s3)),
      mtime = 2000000L)

    val latest = DeltaLog.read(spark, t)
    assert(latest.as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (4L, "d")))
    assert(DeltaLog.snapshot(spark, t).version === 1L)

    val v0 = DeltaLog.read(spark, t, versionAsOf = Some(0L))
    assert(v0.as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (3L, "c")))

    // timestamp travel: between the two commit mtimes → v0
    val ts = DeltaLog.read(spark, t, timestampAsOf = Some(1500000L))
    assert(ts.as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (3L, "c")))
    intercept[IllegalArgumentException] {
      DeltaLog.snapshot(spark, t, timestampAsOf = Some(999L))
    }
    assert(DeltaLog.history(spark, t)
      .select("version", "timestamp_ms").as[(Long, Long)].collect().toMap
      === Map(0L -> 1000000L, 1L -> 2000000L))
  }

  test("partition values come from the log, typed per the schema") {
    val t = Files.createTempDirectory("graft-delta-part").toString
    // partition column `p` (int) is NOT in the data files — Delta
    // stores it only in add.partitionValues
    val full = Seq((1L, 10), (2L, 20)).toDF("id", "p")
    val s1 = writeDataFile(t, "p=10/f1.parquet", Seq(Tuple1(1L)).toDF("id"))
    val s2 = writeDataFile(t, "p=20/f2.parquet", Seq(Tuple1(2L)).toDF("id"))
    commit(t, 0, Seq(protoLine, metaLine(full.schema.json, Seq("p")),
      addLine("p=10/f1.parquet", s1, Map("p" -> "10")),
      addLine("p=20/f2.parquet", s2, Map("p" -> "20"))))
    val got = DeltaLog.read(spark, t)
    assert(got.schema("p").dataType === org.apache.spark.sql.types.IntegerType)
    assert(got.as[(Long, Int)].collect().toSet === Set((1L, 10), (2L, 20)))
  }

  test("checkpoint parquet is the replay base; json tail overrides") {
    val t = Files.createTempDirectory("graft-delta-ckpt").toString
    val schema = Seq(Tuple1(1L)).toDF("id").schema
    val s1 = writeDataFile(t, "f1.parquet", Seq(Tuple1(1L)).toDF("id"))
    val s2 = writeDataFile(t, "f2.parquet", Seq(Tuple1(2L)).toDF("id"))
    val s3 = writeDataFile(t, "f3.parquet", Seq(Tuple1(3L)).toDF("id"))
    commit(t, 0, Seq(protoLine, metaLine(schema.json), addLine("f1.parquet", s1)))
    commit(t, 1, Seq(addLine("f2.parquet", s2)))
    // checkpoint at v1 consolidates protocol/metaData/f1/f2
    val ckpt = spark.sql(
      s"""SELECT named_struct('minReaderVersion', 1, 'minWriterVersion', 2) AS protocol,
         |  CAST(NULL AS STRUCT<id: STRING, schemaString: STRING,
         |    partitionColumns: ARRAY<STRING>,
         |    configuration: MAP<STRING, STRING>>) AS metaData,
         |  CAST(NULL AS STRUCT<path: STRING, partitionValues: MAP<STRING, STRING>,
         |    size: BIGINT, modificationTime: BIGINT, dataChange: BOOLEAN>) AS add,
         |  CAST(NULL AS STRUCT<path: STRING, deletionTimestamp: BIGINT,
         |    dataChange: BOOLEAN>) AS remove
         |""".stripMargin.replace("SELECT", "SELECT") )
    // build the 4 checkpoint rows with a union of typed literals
    val rows = spark.sql(
      s"""SELECT named_struct('minReaderVersion', 1, 'minWriterVersion', 2) AS protocol, NULL AS metaData, NULL AS add, NULL AS remove
         |UNION ALL SELECT NULL, named_struct('id', 't-1', 'schemaString', '${schema.json.replace("'", "''")}', 'partitionColumns', array(), 'configuration', map()), NULL, NULL
         |UNION ALL SELECT NULL, NULL, named_struct('path', 'f1.parquet', 'partitionValues', map(), 'size', ${s1}L, 'modificationTime', 5L, 'dataChange', true), NULL
         |UNION ALL SELECT NULL, NULL, named_struct('path', 'f2.parquet', 'partitionValues', map(), 'size', ${s2}L, 'modificationTime', 5L, 'dataChange', true), NULL
         |""".stripMargin)
    val tmp = Files.createTempDirectory("graft-ckpt-out").toString
    rows.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath,
      Paths.get(t, "_delta_log", f"${1L}%020d.checkpoint.parquet"))
    // v2 after the checkpoint: remove f1, add f3
    commit(t, 2, Seq(removeLine("f1.parquet"), addLine("f3.parquet", s3)))
    val got = DeltaLog.read(spark, t)
    assert(got.as[Long].collect().toSet === Set(2L, 3L))
    // earlier-than-checkpoint version still replays from json
    assert(DeltaLog.read(spark, t, versionAsOf = Some(0L))
      .as[Long].collect().toSet === Set(1L))
    assert(ckpt.columns.length === 4) // silence unused warning
  }

  test("unsupported features fail loudly, never read wrong") {
    val t = Files.createTempDirectory("graft-delta-bad").toString
    val schema = Seq(Tuple1(1L)).toDF("id").schema
    val s1 = writeDataFile(t, "f1.parquet", Seq(Tuple1(1L)).toDF("id"))
    commit(t, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["icebergCompatV3"]}}""",
      metaLine(schema.json), addLine("f1.parquet", s1)))
    val e = intercept[UnsupportedOperationException] {
      DeltaLog.snapshot(spark, t)
    }
    assert(e.getMessage.contains("icebergCompatV3"))
    // column mapping modes beyond none/name/id (both real modes
    // resolve at read since r10 — see the dedicated test); an
    // UNKNOWN future mode must stay loud, never read wrong
    val t2 = Files.createTempDirectory("graft-delta-bad2").toString
    writeDataFile(t2, "f1.parquet", Seq(Tuple1(1L)).toDF("id"))
    commit(t2, 0, Seq(protoLine,
      s"""{"metaData":{"id":"t-2","format":{"provider":"parquet"},"schemaString":${ujson(schema.json)},"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"physical-v9"}}}""",
      addLine("f1.parquet", s1)))
    intercept[UnsupportedOperationException] { DeltaLog.snapshot(spark, t2) }
    // not a delta table at all
    intercept[IllegalArgumentException] {
      DeltaLog.snapshot(spark, Files.createTempDirectory("graft-nodelta").toString)
    }
  }

  test("direct writer: create, append, overwrite, schema gate, CAS") {
    val t = Files.createTempDirectory("graft-delta-w").toString + "/t"
    // commit 0 creates the table (protocol + metaData)
    assert(DeltaLog.write(spark, Seq((1L, "a")).toDF("k", "v"), t) === 0L)
    // commit 1 appends
    assert(DeltaLog.write(spark, Seq((2L, "b")).toDF("k", "v"), t) === 1L)
    assert(DeltaLog.read(spark, t).as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b")))
    assert(DeltaLog.read(spark, t, versionAsOf = Some(0L))
      .as[(Long, String)].collect().toSet === Set((1L, "a")))
    // appending a different schema fails loudly
    val e = intercept[IllegalArgumentException] {
      DeltaLog.write(spark, Seq((3L, 9L)).toDF("k", "n"), t)
    }
    assert(e.getMessage.contains("schema"))
    // overwrite replaces the live set (old files removed in the log)
    assert(DeltaLog.write(spark, Seq((9L, "z")).toDF("k", "v"), t,
      overwrite = true) === 2L)
    assert(DeltaLog.read(spark, t).as[(Long, String)].collect().toSet
      === Set((9L, "z")))
    // ...but history is intact
    assert(DeltaLog.read(spark, t, versionAsOf = Some(1L))
      .as[(Long, String)].collect().toSet === Set((1L, "a"), (2L, "b")))
    // overwrite may change the schema (new metaData action)
    DeltaLog.write(spark, Seq((7L, 7L)).toDF("k", "n"), t, overwrite = true)
    assert(DeltaLog.snapshot(spark, t).schema.fieldNames.toSeq === Seq("k", "n"))
    // (concurrent-writer safety rides on fs.create's exclusive-create
    // semantics — AtomicCas)
  }

  test("direct writer: schema gate message and exclusive commit file") {
    val t = Files.createTempDirectory("graft-delta-w2").toString + "/t"
    DeltaLog.write(spark, Seq((1L, "a")).toDF("k", "v"), t)
    // simulate a racing writer that claimed version 1 between our
    // version listing and commit: exclusive create must throw
    val claimed = Paths.get(t, "_delta_log", f"${1L}%020d.json")
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(claimed.toString), false)
    out.close()
    intercept[java.io.IOException] {
      val again = fs.create(new org.apache.hadoop.fs.Path(claimed.toString), false)
      again.close()
    }
  }

  test("streaming foreachBatch sink writes real Delta commits") {
    val dir = Files.createTempDirectory("graft-delta-stream").toString
    Files.createDirectories(Paths.get(s"$dir/in"))
    Files.writeString(Paths.get(s"$dir/in/b1.json"),
      """[{"k": 1, "v": "a"}, {"k": 2, "v": "b"}]""")
    Files.writeString(Paths.get(s"$dir/in/b2.json"),
      """[{"k": 3, "v": "c"}]""")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, v STRING")
    val delta = s"$dir/delta"
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").option("multiLine", "true")
      .json(s"$dir/in")
      .writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        DeltaLog.write(spark, batch, delta); ()
      }.start()
    q.awaitTermination(120000)
    // one Delta commit per micro-batch, all rows live
    assert(DeltaLog.read(spark, delta).as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(DeltaLog.history(spark, delta).count() === 2L)
  }

  test("partitioned writer: hive layout, REAL partitionValues, pruning plans fewer files") {
    val t = Files.createTempDirectory("graft-delta-pw").toString + "/t"
    val df = Seq((1L, "x", 10), (2L, "x", 20), (3L, "y", 30), (4L, "z", 40))
      .toDF("id", "p", "n")
    assert(DeltaLog.write(spark, df, t, partitionBy = Seq("p")) === 0L)
    // the log's add actions carry real partitionValues, never {}
    val log0 = Files.readString(Paths.get(t, "_delta_log", f"${0L}%020d.json"))
    assert(log0.contains(""""partitionValues":{"p":"x"}"""), log0)
    assert(log0.contains(""""partitionColumns":["p"]"""), log0)
    assert(!log0.contains(""""partitionValues":{}"""), log0)
    // data files sit under hive-style dirs and do NOT contain p
    val snap0 = DeltaLog.snapshot(spark, t)
    assert(snap0.files.forall(_.path.contains("/p=")), snap0.files)
    assert(spark.read.parquet(snap0.files.head.path).columns.toSet === Set("id", "n"))
    // round trip: full read re-attaches typed partition values
    assert(DeltaLog.read(spark, t).as[(Long, String, Int)].collect().toSet
      === Set((1L, "x", 10), (2L, "x", 20), (3L, "y", 30), (4L, "z", 40)))
    // append INHERITS the partitioning (no partitionBy passed)
    assert(DeltaLog.write(spark, Seq((5L, "y", 50)).toDF("id", "p", "n"), t) === 1L)
    // ...but a DIFFERENT partitionBy on append is a loud error
    val e = intercept[IllegalArgumentException] {
      DeltaLog.write(spark, Seq((6L, "y", 60)).toDF("id", "p", "n"), t,
        partitionBy = Seq("n"))
    }
    assert(e.getMessage.contains("partition"))
    // partition-predicate read: the planned file list is STRICTLY
    // smaller than the snapshot's, rows hash-equal to filter-after-read
    val snap = DeltaLog.snapshot(spark, t)
    val prunedList = DeltaLog.prunedFiles(spark, snap, col("p") === "y")
    assert(prunedList.size < snap.files.size,
      s"${prunedList.size} vs ${snap.files.size}")
    assert(prunedList.nonEmpty)
    val viaPrune = DeltaLog.readWhere(spark, t, col("p") === "y")
      .as[(Long, String, Int)].collect().toSet
    val viaFilter = DeltaLog.read(spark, t).where(col("p") === "y")
      .as[(Long, String, Int)].collect().toSet
    assert(viaPrune === viaFilter)
    assert(viaPrune === Set((3L, "y", 30), (5L, "y", 50)))
    // a predicate mixing partition and data columns prunes soundly
    val mixed = DeltaLog.readWhere(spark, t,
      col("p") === "x" && col("n") > 10).as[(Long, String, Int)].collect().toSet
    assert(mixed === Set((2L, "x", 20)))
    assert(DeltaLog.prunedFiles(spark, snap,
      col("p") === "x" && col("n") > 10).size < snap.files.size)
  }

  test("writer checkpoints: 15-commit log reads via its checkpoint") {
    val t = Files.createTempDirectory("graft-delta-cp15").toString + "/t"
    (0 until 15).foreach { i =>
      DeltaLog.write(spark, Seq((i.toLong, s"r$i")).toDF("k", "v"), t)
    }
    // commit 10 authored the classic checkpoint + _last_checkpoint
    assert(Files.exists(Paths.get(t, "_delta_log",
      f"${10L}%020d.checkpoint.parquet")))
    val lc = Files.readString(Paths.get(t, "_delta_log", "_last_checkpoint"))
    assert(lc.contains("\"version\":10"), lc)
    // replay = checkpoint parquet + json tail (11..14) — full content
    assert(DeltaLog.read(spark, t).as[(Long, String)].collect().toSet
      === (0 until 15).map(i => (i.toLong, s"r$i")).toSet)
    assert(DeltaLog.snapshot(spark, t).version === 14L)
    // pre-checkpoint versions still replay from json
    assert(DeltaLog.read(spark, t, versionAsOf = Some(3L))
      .as[(Long, String)].collect().toSet
      === (0 until 4).map(i => (i.toLong, s"r$i")).toSet)
    // a checkpointed PARTITIONED table keeps partitionValues through
    // the checkpoint parquet
    val tp = Files.createTempDirectory("graft-delta-cp-p").toString + "/t"
    (0 until 11).foreach { i =>
      DeltaLog.write(spark, Seq((i.toLong, s"p${i % 2}")).toDF("k", "p"), tp,
        partitionBy = Seq("p"))
    }
    assert(Files.exists(Paths.get(tp, "_delta_log",
      f"${10L}%020d.checkpoint.parquet")))
    assert(DeltaLog.read(spark, tp).as[(Long, String)].collect().toSet
      === (0 until 11).map(i => (i.toLong, s"p${i % 2}")).toSet)
    val snapP = DeltaLog.snapshot(spark, tp)
    assert(DeltaLog.prunedFiles(spark, snapP, col("p") === "p0").size
      < snapP.files.size)
  }

  test("multi-part and v2 sidecar checkpoints replay; torn/unknown forms behave") {
    // author a real table + classic checkpoint, then re-shape the
    // checkpoint into the other production forms and prove each
    // replays IDENTICALLY with the json prefix gone
    def freshTable(tag: String): (String, Set[(Long, String)]) = {
      val t = Files.createTempDirectory(s"graft-cp-$tag").toString + "/t"
      (0 until 12).foreach { i =>
        DeltaLog.write(spark, Seq((i.toLong, s"r$i")).toDF("k", "v"), t)
      }
      (t, (0 until 12).map(i => (i.toLong, s"r$i")).toSet)
    }
    def cpRows(t: String) = spark.read.parquet(
      Paths.get(t, "_delta_log", f"${10L}%020d.checkpoint.parquet").toString)
    def dropPrefixJsons(t: String): Unit = (0 to 10).foreach { i =>
      Files.deleteIfExists(Paths.get(t, "_delta_log", f"$i%020d.json"))
      Files.deleteIfExists(Paths.get(t, "_delta_log", f".$i%020d.json.crc"))
    }
    def writeAs(t: String, df: org.apache.spark.sql.DataFrame,
                name: String): Long = {
      val tmp = Files.createTempDirectory("graft-cp-stage").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = Paths.get(t, "_delta_log", name)
      Files.createDirectories(dst.getParent)
      Files.copy(part.toPath, dst)
      dst.toFile.length()
    }
    def removeClassic(t: String): Unit = {
      Files.delete(Paths.get(t, "_delta_log", f"${10L}%020d.checkpoint.parquet"))
      Files.deleteIfExists(
        Paths.get(t, "_delta_log", f".${10L}%020d.checkpoint.parquet.crc"))
    }

    // ---- MULTI-PART classic: non-file actions in part 1, adds in 2
    val (tm, expect) = freshTable("multi")
    val cpm = cpRows(tm)
    writeAs(tm, cpm.where(col("add").isNull),
      f"${10L}%020d.checkpoint.${1}%010d.${2}%010d.parquet")
    writeAs(tm, cpm.where(col("add").isNotNull),
      f"${10L}%020d.checkpoint.${2}%010d.${2}%010d.parquet")
    removeClassic(tm); dropPrefixJsons(tm)
    assert(DeltaLog.read(spark, tm).as[(Long, String)].collect().toSet
      === expect)
    assert(DeltaLog.snapshot(spark, tm).version === 11L)

    // a TORN multi-part set (missing part) is skipped, not fatal:
    // with the json prefix still present the replay falls back to it
    val (tt, expectT) = freshTable("torn")
    writeAs(tt, cpRows(tt).where(col("add").isNull),
      f"${10L}%020d.checkpoint.${1}%010d.${2}%010d.parquet")
    removeClassic(tt)
    assert(DeltaLog.read(spark, tt).as[(Long, String)].collect().toSet
      === expectT)

    // ---- V2 + SIDECARS: top file holds protocol/metaData + sidecar
    // refs; the add actions live in _delta_log/_sidecars/
    val (tv, expectV) = freshTable("v2")
    val cpv = cpRows(tv)
    val sidecarName = "11111111-2222-3333-4444-555555555555.parquet"
    val scLen = writeAs(tv, cpv.where(col("add").isNotNull),
      s"_sidecars/$sidecarName")
    val sidecarRef = spark.range(1).select(
      org.apache.spark.sql.functions.struct(
        lit(sidecarName).as("path"), lit(scLen).as("sizeInBytes"))
        .as("sidecar"))
    writeAs(tv, cpv.where(col("add").isNull)
      .unionByName(sidecarRef, allowMissingColumns = true),
      f"${10L}%020d.checkpoint.aaaabbbb-cccc-dddd-eeee-ffff00001111.parquet")
    removeClassic(tv); dropPrefixJsons(tv)
    assert(DeltaLog.read(spark, tv).as[(Long, String)].collect().toSet
      === expectV)
    assert(DeltaLog.snapshot(spark, tv).version === 11L)

    // ---- unknown future checkpoint form: loud, never silent
    val (tu, _) = freshTable("unk")
    writeAs(tu, cpRows(tu),
      f"${10L}%020d.checkpoint.weird.form.v9.parquet")
    val e = intercept[UnsupportedOperationException] {
      DeltaLog.snapshot(spark, tu)
    }
    assert(e.getMessage.contains("unrecognized Delta checkpoint"), e.getMessage)
  }

  test("v2 checkpoint WRITE: the policy property bumps the protocol, the modern form round-trips, the interval property is honored") {
    val t = Files.createTempDirectory("graft-cp2w").toString + "/t"
    DeltaLog.write(spark, Seq((1L, "a")).toDF("k", "v"), t) // v0
    DeltaLog.setTableProperties(spark, t, Map(
      "delta.checkpointPolicy" -> "v2",
      "delta.checkpointInterval" -> "2")) // v1
    val (mrv, mwv, rf, wf) = DeltaLog.snapshot(spark, t).protocol
    assert((mrv, mwv) === ((3, 7)))
    assert(rf.contains("v2Checkpoint") && wf.contains("v2Checkpoint"),
      s"$rf / $wf")
    DeltaLog.write(spark, Seq((2L, "b")).toDF("k", "v"), t) // v2: due
    val names = new java.io.File(s"$t/_delta_log").listFiles()
      .map(_.getName)
    // the interval PROPERTY (2) is honored — not the caller default 10
    assert(names.exists(_.matches(
      "\\d{20}\\.checkpoint\\.[A-Za-z0-9-]+\\.parquet")), names.mkString(","))
    assert(!names.exists(_.matches("\\d{20}\\.checkpoint\\.parquet")))
    assert(new java.io.File(s"$t/_delta_log/_sidecars").listFiles()
      .exists(_.getName.endsWith(".parquet")))
    // the external-shape v2 checkpoint + sidecars round-trips through
    // graft's own reader with the json prefix gone
    (0 to 2).foreach { i =>
      Files.deleteIfExists(Paths.get(t, "_delta_log", f"$i%020d.json"))
      Files.deleteIfExists(Paths.get(t, "_delta_log", f".$i%020d.json.crc"))
    }
    assert(DeltaLog.read(spark, t).as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b")))
    assert(DeltaLog.snapshot(spark, t).version === 2L)
    // bad policy values refuse
    intercept[IllegalArgumentException] {
      DeltaLog.setTableProperties(spark, t,
        Map("delta.checkpointPolicy" -> "v3"))
    }
  }

  test("changes: per-commit insert/delete feed with partition values") {
    val t = Files.createTempDirectory("graft-delta-cdc").toString + "/t"
    DeltaLog.write(spark, Seq((1L, "x"), (2L, "y")).toDF("k", "p"), t,
      partitionBy = Seq("p"))
    DeltaLog.write(spark, Seq((3L, "x")).toDF("k", "p"), t)
    DeltaLog.write(spark, Seq((9L, "z")).toDF("k", "p"), t, overwrite = true)
    val ch = DeltaLog.changes(spark, t, fromVersion = -1L, toVersion = 2L)
      .select("k", "p", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
    assert(ch === Set(
      (1L, "x", "insert", 0L), (2L, "y", "insert", 0L),
      (3L, "x", "insert", 1L),
      // the overwrite removes all three prior rows (pv resolved from
      // the pre-range snapshot for v0 files, from in-range adds for v1)
      (1L, "x", "delete", 2L), (2L, "y", "delete", 2L), (3L, "x", "delete", 2L),
      (9L, "z", "insert", 2L)))
    // a sub-range poll sees only its commits
    val tail = DeltaLog.changes(spark, t, fromVersion = 1L, toVersion = 2L)
    assert(tail.where(col("_change_type") === "insert")
      .select("k").as[Long].collect().toSeq === Seq(9L))
  }

  test("foreachBatch consumer converges a replica across three commits") {
    val dir = Files.createTempDirectory("graft-delta-replica").toString
    Files.createDirectories(Paths.get(s"$dir/in"))
    Files.writeString(Paths.get(s"$dir/in/b1.json"),
      """[{"k": 1, "v": "a"}, {"k": 2, "v": "b"}]""")
    Files.writeString(Paths.get(s"$dir/in/b2.json"),
      """[{"k": 3, "v": "c"}]""")
    Files.writeString(Paths.get(s"$dir/in/b3.json"),
      """[{"k": 9, "v": "z"}]""")
    // deterministic micro-batch order: the file source orders by mtime
    Seq("b1", "b2", "b3").zipWithIndex.foreach { case (n, i) =>
      Paths.get(s"$dir/in/$n.json").toFile.setLastModified(1000000L * (i + 1))
    }
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, v STRING")
    val delta = s"$dir/delta"
    // consumer state: CDC offset + replica rows, advanced per batch
    var offset = -1L
    val replica = scala.collection.mutable.Set[(Long, String)]()
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").option("multiLine", "true")
      .json(s"$dir/in")
      .writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        // producer: last micro-batch overwrites (exercises deletes)
        DeltaLog.write(spark, batch, delta, overwrite = batchId >= 2)
        // consumer: poll the change feed, apply to the replica
        val (next, diff) = DeltaLog.syncChanges(spark, delta, offset)
        diff.foreach { d =>
          val rows = d.select("k", "v", "_change_type", "_commit_version")
            .as[(Long, String, String, Long)].collect().sortBy(_._4)
          rows.foreach {
            case (k, v, "insert", _) => replica += ((k, v))
            case (k, v, "delete", _) => replica -= ((k, v))
            case other => fail(s"unexpected change row $other")
          }
        }
        offset = next
        ()
      }.start()
    q.awaitTermination(120000)
    assert(offset === 2L)
    assert(replica.toSet ===
      DeltaLog.read(spark, delta).as[(Long, String)].collect().toSet)
    assert(replica.toSet === Set((9L, "z")))
  }

  test("OPTIMIZE compacts per partition (dataChange=false); VACUUM deletes only past the horizon") {
    val t = Files.createTempDirectory("graft-delta-opt").toString + "/t"
    (0 until 3).foreach { i =>
      DeltaLog.write(spark,
        Seq((i.toLong, "x"), (i + 100L, "y")).toDF("k", "p"), t,
        partitionBy = Seq("p"))
    }
    val before = DeltaLog.read(spark, t).as[(Long, String)].collect().toSet
    val preFiles = DeltaLog.snapshot(spark, t).files.size
    assert(preFiles >= 6) // 3 appends x 2 partitions
    val v = DeltaLog.optimize(spark, t, targetFileBytes = Long.MaxValue)
    assert(v === 3L)
    val optSnap = DeltaLog.snapshot(spark, t)
    // one file per partition now, rows identical
    assert(optSnap.files.size === 2, optSnap.files.map(_.path))
    assert(optSnap.files.forall(_.partitionValues.nonEmpty))
    assert(DeltaLog.read(spark, t).as[(Long, String)].collect().toSet === before)
    // the rewrite commit is dataChange=false on every action
    val log3 = Files.readString(Paths.get(t, "_delta_log", f"${3L}%020d.json"))
    assert(!log3.contains(""""dataChange":true"""), log3)
    // pre-optimize versions still read — nothing was deleted
    assert(DeltaLog.read(spark, t, versionAsOf = Some(2L))
      .as[(Long, String)].collect().toSet === before)
    // already-compacted: no empty commit, returns current version
    assert(DeltaLog.optimize(spark, t, targetFileBytes = Long.MaxValue) === 3L)
    assert(DeltaLog.snapshot(spark, t).version === 3L)

    // VACUUM: dry run lists, real run deletes the same set; latest
    // still reads, pre-horizon time travel now fails LOUDLY
    val dry = DeltaLog.vacuum(spark, t, keepVersions = 1, dryRun = true)
    assert(dry.nonEmpty)
    val deleted = DeltaLog.vacuum(spark, t, keepVersions = 1)
    assert(deleted.toSet === dry.toSet)
    assert(DeltaLog.read(spark, t).as[(Long, String)].collect().toSet === before)
    intercept[Exception] {
      DeltaLog.read(spark, t, versionAsOf = Some(0L)).collect()
    }

    // Z-ORDER variant: multi-column clustering, content unchanged
    val tz = Files.createTempDirectory("graft-delta-z").toString + "/t"
    val rows = (0 until 64).map(i => (i.toLong, (i * 37 % 64).toLong))
    DeltaLog.write(spark, rows.toDF("a", "b").repartition(8), tz)
    val zBefore = DeltaLog.read(spark, tz).as[(Long, Long)].collect().toSet
    DeltaLog.optimize(spark, tz, targetFileBytes = Long.MaxValue,
      zorderBy = Seq("a", "b"))
    assert(DeltaLog.read(spark, tz).as[(Long, Long)].collect().toSet === zBefore)
    assert(DeltaLog.snapshot(spark, tz).files.size === 1)
    // Z-ORDER on a partition column is refused
    intercept[IllegalArgumentException] {
      DeltaLog.optimize(spark, t, zorderBy = Seq("p"))
    }
  }

  test("per-file stats skip files on numeric predicates; soundness under odd conjuncts") {
    val t = Files.createTempDirectory("graft-delta-stats").toString + "/t"
    // three commits with DISJOINT k ranges -> three files with
    // disjoint min/max footer stats (table is UNPARTITIONED, so any
    // pruning comes from stats alone)
    DeltaLog.write(spark, Seq((1L, 10.0), (2L, 20.0)).toDF("k", "x").coalesce(1), t)
    DeltaLog.write(spark, Seq((11L, 30.0), (12L, 40.0)).toDF("k", "x").coalesce(1), t)
    DeltaLog.write(spark, Seq((21L, 50.0), (22L, 60.0)).toDF("k", "x").coalesce(1), t)
    val snap = DeltaLog.snapshot(spark, t)
    assert(snap.files.size === 3)
    assert(snap.files.forall(_.stats.isDefined), snap.files)
    assert(snap.files.head.stats.get.contains("\"numRecords\":2"))
    // equality predicate plans ONE file
    assert(DeltaLog.prunedFiles(spark, snap, col("k") === 11L).size === 1)
    // range predicates
    assert(DeltaLog.prunedFiles(spark, snap, col("k") > 12L).size === 1)
    assert(DeltaLog.prunedFiles(spark, snap, col("k") <= 2L).size === 1)
    assert(DeltaLog.prunedFiles(spark, snap, lit(21L) <= col("k")).size === 1)
    // conjunct on two stats columns composes
    assert(DeltaLog.prunedFiles(spark, snap,
      col("k") >= 11L && col("x") < 35.0).size === 1)
    // a non-analyzable conjunct never skips extra files
    assert(DeltaLog.prunedFiles(spark, snap,
      col("k") > 12L && (col("x") + 1 > 0)).size === 1)
    // OR at top level is not a conjunct -> no skipping, all files
    assert(DeltaLog.prunedFiles(spark, snap,
      col("k") === 1L || col("k") === 21L).size === 3)
    // rows are exactly filter-after-read for every shape above
    for (p <- Seq(col("k") === 11L, col("k") > 12L,
      col("k") >= 11L && col("x") < 35.0,
      col("k") === 1L || col("k") === 21L)) {
      assert(DeltaLog.readWhere(spark, t, p).as[(Long, Double)].collect().toSet
        === DeltaLog.read(spark, t).where(p).as[(Long, Double)].collect().toSet)
    }
    // stats survive the checkpoint consolidation
    DeltaLog.checkpoint(spark, t, 2L)
    val viaCp = DeltaLog.snapshot(spark, t)
    assert(viaCp.files.forall(_.stats.isDefined))
    assert(DeltaLog.prunedFiles(spark, viaCp, col("k") === 11L).size === 1)
  }

  test("partition pruning ignores data-column conjuncts: null-intolerant shapes keep their rows") {
    val t = Files.createTempDirectory("graft-delta-ni").toString + "/t"
    DeltaLog.write(spark, Seq((1L, "x", 10), (3L, "y", 30), (4L, "z", 40))
      .toDF("id", "p", "n"), t, partitionBy = Seq("p"))
    // isNotNull over a data column inside the conjunction: under the
    // old null-binding evaluation this silently returned NO rows
    val got = DeltaLog.readWhere(spark, t,
      col("p") === "y" && col("n").isNotNull)
      .as[(Long, String, Int)].collect().toSet
    assert(got === Set((3L, "y", 30)))
    // and the partition conjunct still prunes the planned file list
    val snap = DeltaLog.snapshot(spark, t)
    assert(DeltaLog.prunedFiles(spark, snap,
      col("p") === "y" && col("n").isNotNull).size < snap.files.size)
    // other null-intolerant shapes over data columns: sound, full rows
    for (p <- Seq(
      col("p") === "y" && coalesce(col("n"), lit(0)) >= 0,
      col("p") === "y" && when(col("n") > 0, true).otherwise(false)))
      assert(DeltaLog.readWhere(spark, t, p).count() === 1L, p.toString)
  }

  test("stats pruning is gated on NUMERIC schema types; odd recorded stats keep files") {
    val t = Files.createTempDirectory("graft-delta-strst").toString + "/t"
    // string column with numeric-LOOKING values whose lexicographic
    // bounds invert the numeric order: min="10" < max="9"
    val df = Seq(("10", 1L), ("9", 2L)).toDF("s", "k")
    val sz = writeDataFile(t, "f1.parquet", df)
    val statsJson = ujson(
      """{"numRecords":2,"minValues":{"s":"10","k":1},"maxValues":{"s":"9","k":2},"nullCount":{"s":0,"k":0}}""".stripMargin)
    commit(t, 0, Seq(protoLine, metaLine(df.schema.json),
      s"""{"add":{"path":"f1.parquet","partitionValues":{},"size":$sz,"modificationTime":5,"dataChange":true,"stats":$statsJson}}"""))
    val snap = DeltaLog.snapshot(spark, t)
    // s > 5 analysis casts the string column — consulting the
    // lexicographic bounds would wrong-prune; the numeric gate keeps it
    assert(DeltaLog.prunedFiles(spark, snap, expr("s > 5")).size === 1)
    assert(DeltaLog.readWhere(spark, t, expr("s > 5"))
      .select("k").as[Long].collect().toSet === Set(1L, 2L))
    // a date column whose recorded min/max are date STRINGS: the old
    // BigDecimal parse threw; now the conjunct simply never consults
    val t2 = Files.createTempDirectory("graft-delta-dtst").toString + "/t"
    val df2 = Seq(("2024-01-03", 7L)).toDF("ds", "k")
      .select(col("ds").cast("date").as("d"), col("k"))
    val sz2 = writeDataFile(t2, "f1.parquet", df2)
    val st2 = ujson(
      """{"numRecords":1,"minValues":{"d":"2024-01-03"},"maxValues":{"d":"2024-01-03"},"nullCount":{"d":0}}""")
    commit(t2, 0, Seq(protoLine, metaLine(df2.schema.json),
      s"""{"add":{"path":"f1.parquet","partitionValues":{},"size":$sz2,"modificationTime":5,"dataChange":true,"stats":$st2}}"""))
    val got = DeltaLog.readWhere(spark, t2,
      col("d") === lit(java.sql.Date.valueOf("2024-01-03")))
    assert(got.select("k").as[Long].collect().toSeq === Seq(7L))
  }

  test("change feed skips dataChange=false commits (OPTIMIZE is invisible to CDC)") {
    val t = Files.createTempDirectory("graft-delta-cdcopt").toString + "/t"
    DeltaLog.write(spark, Seq((1L, "a")).toDF("k", "v"), t)
    DeltaLog.write(spark, Seq((2L, "b")).toDF("k", "v"), t)
    val optV = DeltaLog.optimize(spark, t, targetFileBytes = Long.MaxValue)
    assert(optV === 2L)
    val ch = DeltaLog.changes(spark, t, fromVersion = -1L, toVersion = optV)
      .select("k", "_change_type", "_commit_version")
      .as[(Long, String, Long)].collect().toSet
    // two inserts, NOTHING from the compaction commit — a replica
    // consumer applying this feed cannot drop rows
    assert(ch === Set((1L, "insert", 0L), (2L, "insert", 1L)))
    assert(DeltaLog.changes(spark, t, fromVersion = 1L, toVersion = optV)
      .count() === 0L)
  }

  test("log paths percent-encode spaces as %20 and '+' as %2B (URI, not form encoding)") {
    val t = Files.createTempDirectory("graft-delta-enc").toString + "/t"
    // partition values with a space and a literal '+' land in hive
    // dir names, which the log must percent-encode interoperably
    DeltaLog.write(spark, Seq((1L, "a b"), (2L, "a+b")).toDF("k", "p"), t,
      partitionBy = Seq("p"))
    val log0 = Files.readString(Paths.get(t, "_delta_log", f"${0L}%020d.json"))
    assert(log0.contains("%20"), log0) // space → %20, never '+'
    assert(log0.contains("%2B"), log0) // literal '+' → %2B
    assert(DeltaLog.read(spark, t).as[(Long, String)].collect().toSet
      === Set((1L, "a b"), (2L, "a+b")))
    // a hand-committed path with %20 (what a real Delta writer emits)
    // decodes to the on-disk space
    val t2 = Files.createTempDirectory("graft-delta-enc2").toString + "/t"
    val df = Seq(Tuple1(5L)).toDF("id")
    val sz = writeDataFile(t2, "my file.parquet", df)
    commit(t2, 0, Seq(protoLine, metaLine(df.schema.json),
      addLine("my%20file.parquet", sz)))
    assert(DeltaLog.read(spark, t2).as[Long].collect().toSeq === Seq(5L))
  }

  test("copy-on-write DELETE rewrites only files with matches; time travel + CDC intact") {
    val t = Files.createTempDirectory("graft-delta-del").toString + "/t"
    // three commits -> three files with disjoint k ranges (stats prune)
    DeltaLog.write(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1), t)
    DeltaLog.write(spark, Seq((11L, "c"), (12L, "d")).toDF("k", "v").coalesce(1), t)
    DeltaLog.write(spark, Seq((21L, "e")).toDF("k", "v").coalesce(1), t)
    val before = DeltaLog.snapshot(spark, t)
    val v = DeltaLog.delete(spark, t, col("k") === 11L)
    assert(v === 3L)
    val after = DeltaLog.snapshot(spark, t)
    // rows: only the matching one is gone
    assert(DeltaLog.read(spark, t).as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (12L, "d"), (21L, "e")))
    // non-matching files UNTOUCHED, asserted by path identity
    val beforePaths = before.files.map(_.path).toSet
    val afterPaths = after.files.map(_.path).toSet
    assert((beforePaths intersect afterPaths).size === 2,
      s"expected exactly the two no-match files kept: $beforePaths vs $afterPaths")
    // exactly one file rewritten, stats recomputed on it
    val rewritten = (afterPaths -- beforePaths).toSeq
    assert(rewritten.size === 1)
    assert(after.files.find(f => rewritten.contains(f.path)).get.stats.isDefined)
    // time travel still reads the deleted row
    assert(DeltaLog.read(spark, t, versionAsOf = Some(2L))
      .as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (11L, "c"), (12L, "d"), (21L, "e")))
    // the CDC feed shows the delete as remove+reinsert of the file
    val ch = DeltaLog.changes(spark, t, fromVersion = 2L, toVersion = v)
      .select("k", "_change_type").as[(Long, String)].collect().toSet
    assert(ch === Set((11L, "delete"), (12L, "delete"), (12L, "insert")))
    // a no-match delete commits nothing
    assert(DeltaLog.delete(spark, t, col("k") === 999L) === v)
    // null-predicate rows SURVIVE (SQL DELETE semantics)
    val t2 = Files.createTempDirectory("graft-delta-del2").toString + "/t"
    DeltaLog.write(spark,
      Seq((1L, Some(5L)), (2L, None), (3L, Some(9L)))
        .toDF("k", "n").coalesce(1), t2)
    DeltaLog.delete(spark, t2, col("n") > 4L)
    assert(DeltaLog.read(spark, t2).select("k").as[Long].collect().toSet
      === Set(2L))
  }

  test("copy-on-write DELETE and UPDATE on partitioned tables; SQL DELETE FROM via the catalog") {
    val t = Files.createTempDirectory("graft-delta-delp").toString + "/t"
    DeltaLog.write(spark,
      Seq((1L, "x", 10), (2L, "x", 20), (3L, "y", 30), (4L, "z", 40))
        .toDF("id", "p", "n"), t, partitionBy = Seq("p"))
    val before = DeltaLog.snapshot(spark, t)
    // predicate mixes a partition column and a data column
    DeltaLog.delete(spark, t, col("p") === "x" && col("n") >= 20)
    assert(DeltaLog.read(spark, t).as[(Long, String, Int)].collect().toSet
      === Set((1L, "x", 10), (3L, "y", 30), (4L, "z", 40)))
    // y and z partition files untouched by path; every REWRITTEN
    // file sits in the matched partition (file-level COW may keep
    // p=x files that held no matching rows)
    val after = DeltaLog.snapshot(spark, t)
    val kept = before.files.map(_.path).toSet intersect after.files.map(_.path).toSet
    assert(kept.exists(_.contains("p=y")) && kept.exists(_.contains("p=z")))
    val removed = before.files.map(_.path).toSet -- after.files.map(_.path).toSet
    assert(removed.nonEmpty && removed.forall(_.contains("p=x")), removed)
    // a whole-partition delete leaves a pure remove (no 0-row files)
    DeltaLog.delete(spark, t, col("p") === "y")
    val afterY = DeltaLog.snapshot(spark, t)
    assert(!afterY.files.exists(_.path.contains("p=y")))
    assert(DeltaLog.read(spark, t).as[(Long, String, Int)].collect().toSet
      === Set((1L, "x", 10), (4L, "z", 40)))

    // UPDATE: matched rows transformed, others byte-identical
    DeltaLog.update(spark, t, col("id") === 1L, Map("n" -> lit(99)))
    assert(DeltaLog.read(spark, t).as[(Long, String, Int)].collect().toSet
      === Set((1L, "x", 99), (4L, "z", 40)))
    // partition-column assignment refused
    intercept[IllegalArgumentException] {
      DeltaLog.update(spark, t, col("id") === 1L, Map("p" -> lit("q")))
    }

    // SQL DELETE FROM through the catalog (SupportsDelete)
    val root = Files.createTempDirectory("graft-cat-del").toString
    spark.conf.set("spark.sql.catalog.graft_d", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_d.root", root)
    DeltaLog.write(spark, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"),
      s"$root/ns/t")
    spark.sql("DELETE FROM graft_d.ns.t WHERE k >= 2")
    assert(spark.sql("SELECT k FROM graft_d.ns.t").as[Long].collect().toSeq
      === Seq(1L))
    assert(DeltaLog.read(spark, s"$root/ns/t", versionAsOf = Some(0L))
      .count() === 3L)
  }

  test("MERGE INTO (keyed upsert): matched rows replaced, unmatched insert, one-version commit") {
    val t = Files.createTempDirectory("graft-delta-mrg").toString + "/t"
    // two files with disjoint key ranges so only one holds matches
    DeltaLog.write(spark, Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "v", "n")
      .coalesce(1), t)
    DeltaLog.write(spark, Seq((11L, "c", 30), (12L, "d", 40)).toDF("k", "v", "n")
      .coalesce(1), t)
    val before = DeltaLog.snapshot(spark, t)
    // source: update k=2 (whole-row replace), insert k=99
    val src = Seq((2L, "B2", 200), (99L, "z", 990)).toDF("k", "v", "n")
    val v = DeltaLog.merge(spark, t, src, keyCols = Seq("k"))
    assert(v === 2L)
    assert(DeltaLog.read(spark, t).as[(Long, String, Int)].collect().toSet
      === Set((1L, "a", 10), (2L, "B2", 200), (11L, "c", 30),
        (12L, "d", 40), (99L, "z", 990)))
    // the no-match file is untouched by path identity
    val after = DeltaLog.snapshot(spark, t)
    val kept = before.files.map(_.path).toSet intersect
      after.files.map(_.path).toSet
    assert(kept.size === 1, s"expected the (11,12) file kept: $kept")
    // ONE version committed for the whole merge; time travel pre-merge
    assert(after.version === 2L)
    assert(DeltaLog.read(spark, t, versionAsOf = Some(1L))
      .as[(Long, String, Int)].collect().toSet
      === Set((1L, "a", 10), (2L, "b", 20), (11L, "c", 30), (12L, "d", 40)))
    // CDC: the rewritten file's rows show delete+reinsert, the source
    // rows show as inserts — k=2 old row deleted, new rows inserted
    val ch = DeltaLog.changes(spark, t, fromVersion = v - 1, toVersion = v)
      .select("k", "_change_type").as[(Long, String)].collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(ch(((2L, "delete"))) === 1 && ch(((2L, "insert"))) === 1)
    assert(ch(((99L, "insert"))) === 1 && ch(((1L, "delete"))) === 1)
    assert(ch(((1L, "insert"))) === 1) // survivor reinserted with its file
    assert(!ch.contains((11L, "delete"))) // untouched file invisible in CDC

    // empty source: no commit
    assert(DeltaLog.merge(spark, t,
      Seq.empty[(Long, String, Int)].toDF("k", "v", "n"), Seq("k")) === v)
    // ambiguous source (duplicate keys): loud refusal, nothing applied
    intercept[IllegalArgumentException] {
      DeltaLog.merge(spark, t,
        Seq((5L, "x", 1), (5L, "y", 2)).toDF("k", "v", "n"), Seq("k"))
    }
    assert(DeltaLog.snapshot(spark, t).version === v)
    // schema mismatch refused
    intercept[IllegalArgumentException] {
      DeltaLog.merge(spark, t, Seq((5L, "x")).toDF("k", "v"), Seq("k"))
    }
    // unknown key column refused
    intercept[IllegalArgumentException] {
      DeltaLog.merge(spark, t, src, Seq("nope"))
    }
  }

  test("MERGE INTO on a partitioned table: rows move partitions; composite keys") {
    val t = Files.createTempDirectory("graft-delta-mrgp").toString + "/t"
    DeltaLog.write(spark,
      Seq((1L, "x", 10), (2L, "x", 20), (3L, "y", 30)).toDF("id", "p", "n"),
      t, partitionBy = Seq("p"))
    // matched row id=2 moves from p=x to p=z; id=4 inserts into p=y
    val src = Seq((2L, "z", 200), (4L, "y", 400)).toDF("id", "p", "n")
    val v = DeltaLog.merge(spark, t, src, keyCols = Seq("id"))
    assert(DeltaLog.read(spark, t).as[(Long, String, Int)].collect().toSet
      === Set((1L, "x", 10), (2L, "z", 200), (3L, "y", 30), (4L, "y", 400)))
    // moved row's new file sits in the p=z hive dir (real layout)
    val after = DeltaLog.snapshot(spark, t)
    assert(after.files.exists(f => f.partitionValues.get("p").contains("z")))
    // the untouched y-partition original file survives by path
    assert(after.files.exists(_.path.contains("p=y")))
    // stats recorded on the new files (pruning keeps working)
    assert(after.files.filter(_.path.contains(s"mrg-$v")).forall(_.stats.isDefined))
    // partition-pruned read over the merged table
    assert(DeltaLog.readWhere(spark, t, col("p") === "z")
      .as[(Long, String, Int)].collect().toSet === Set((2L, "z", 200)))

    // composite keys: (id, p) — same id in another partition is NOT a match
    val t2 = Files.createTempDirectory("graft-delta-mrgc").toString + "/t"
    DeltaLog.write(spark,
      Seq((1L, "x", 10), (1L, "y", 11)).toDF("id", "p", "n"), t2,
      partitionBy = Seq("p"))
    DeltaLog.merge(spark, t2, Seq((1L, "x", 99)).toDF("id", "p", "n"),
      keyCols = Seq("id", "p"))
    assert(DeltaLog.read(spark, t2).as[(Long, String, Int)].collect().toSet
      === Set((1L, "x", 99), (1L, "y", 11)))
  }

  test("column mapping: name mode resolves physical names, id mode resolves parquet field ids; writers gate") {
    import org.apache.spark.sql.types._
    def mb(id: Int, phys: String) = new MetadataBuilder()
      .putLong("delta.columnMapping.id", id)
      .putString("delta.columnMapping.physicalName", phys).build()
    def cmMeta(schemaJson: String, mode: String,
               partCols: Seq[String] = Nil): String = {
      val pc = partCols.map("\"" + _ + "\"").mkString("[", ",", "]")
      s"""{"metaData":{"id":"t-cm","format":{"provider":"parquet","options":{}},"schemaString":${ujson(schemaJson)},"partitionColumns":$pc,"configuration":{"delta.columnMapping.mode":"$mode","delta.columnMapping.maxColumnId":"5"},"createdTime":1}}"""
    }

    // table whose column `k` was renamed from its physical col-17
    val t = Files.createTempDirectory("graft-delta-cm").toString + "/t"
    val sz = writeDataFile(t, "f1.parquet",
      Seq((1L, "a"), (2L, "b")).toDF("col-17", "col-18"))
    val logical = StructType(Seq(
      StructField("k", LongType, nullable = true, mb(1, "col-17")),
      StructField("v", StringType, nullable = true, mb(2, "col-18"))))
    commit(t, 0, Seq(protoLine, cmMeta(logical.json, "name"),
      addLine("f1.parquet", sz)))
    assert(DeltaLog.read(spark, t).as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b")))
    assert(DeltaLog.read(spark, t).columns.toSeq === Seq("k", "v"))
    // logical-name filters and projections still work (pushdown is a
    // plain projection over the physical scan)
    assert(DeltaLog.readWhere(spark, t, col("k") === 2L)
      .select("v").as[String].collect().toSeq === Seq("b"))

    // PARTITIONED column-mapped table: partitionValues keys are
    // PHYSICAL in the log, partitionColumns logical in the schema
    val t2 = Files.createTempDirectory("graft-delta-cmp").toString + "/t"
    val sz2 = writeDataFile(t2, "p=x/f1.parquet",
      Seq(Tuple1(5L)).toDF("col-1"))
    val logical2 = StructType(Seq(
      StructField("n", LongType, nullable = true, mb(1, "col-1")),
      StructField("p", StringType, nullable = true, mb(2, "col-2"))))
    commit(t2, 0, Seq(protoLine, cmMeta(logical2.json, "name", Seq("p")),
      addLine("p=x/f1.parquet", sz2, Map("col-2" -> "x"))))
    assert(DeltaLog.read(spark, t2).as[(Long, String)].collect().toSet
      === Set((5L, "x")))

    // id mode: resolution is by parquet FIELD ID — the parquet column
    // names deliberately match NEITHER the logical nor the recorded
    // physical names, so only id matching can serve these rows
    val t3 = Files.createTempDirectory("graft-delta-cmi").toString + "/t"
    val fidSchema = StructType(Seq(
      StructField("whatever_a", LongType, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", 1).build()),
      StructField("whatever_b", StringType, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", 2).build())))
    val fidDf = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(7L, "ok"),
        org.apache.spark.sql.Row(8L, "go"))), fidSchema)
    val sz3 = writeDataFile(t3, "f1.parquet", fidDf)
    val logical3 = StructType(Seq(
      StructField("k", LongType, nullable = true, mb(1, "col-99")),
      StructField("v", StringType, nullable = true, mb(2, "col-98"))))
    commit(t3, 0, Seq(protoLine, cmMeta(logical3.json, "id"),
      addLine("f1.parquet", sz3)))
    assert(DeltaLog.read(spark, t3).columns.toSeq === Seq("k", "v"))
    assert(DeltaLog.read(spark, t3).as[(Long, String)].collect().toSet
      === Set((7L, "ok"), (8L, "go")))
    // logical-name predicates work over id-resolved columns
    assert(DeltaLog.readWhere(spark, t3, col("k") === 8L)
      .select("v").as[String].collect().toSeq === Seq("go"))
    // id-mode APPENDS stage parquet with the spec's column ids as
    // parquet.field.id footer metadata — the appended file reads back
    // through BOTH graft's reader and Spark's own field-id resolution
    DeltaLog.write(spark, Seq((9L, "ya")).toDF("k", "v"), t3)
    assert(DeltaLog.read(spark, t3).as[(Long, String)].collect().toSet
      === Set((7L, "ok"), (8L, "go"), (9L, "ya")))
    val appended = DeltaLog.snapshot(spark, t3).files.map(_.path)
      .filterNot(_.endsWith("f1.parquet")).head
    // Spark field-id resolution: request columns by id under names
    // matching NEITHER the staged physical nor the logical ones
    val byId = StructType(Seq(
      StructField("anything", LongType, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", 1).build()),
      StructField("else", StringType, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", 2).build())))
    assert(spark.read.schema(byId).parquet(appended)
      .as[(Long, String)].collect().toSet === Set((9L, "ya")))

    // the DSv2 scan serves mapped tables through the PHYSICAL view
    // (aliased back to logical names) — byte-for-byte the library read
    assert(spark.read.format("graft-delta").load(t)
      .as[(Long, String)].collect().toSet
      === DeltaLog.read(spark, t).as[(Long, String)].collect().toSet)
    assert(spark.read.format("graft-delta").load(t3)
      .as[(Long, String)].collect().toSet
      === Set((7L, "ok"), (8L, "go"), (9L, "ya"))) // id mode: field ids
    // partitioned mapped table: physical partitionValues keys resolve
    assert(spark.read.format("graft-delta").load(t2)
      .as[(Long, String)].collect().toSet === Set((5L, "x")))
    // row-level DML still gates loudly (writers rewrite by logical name)
    val e3 = intercept[UnsupportedOperationException] {
      DeltaLog.delete(spark, t, col("k") === 1L)
    }
    assert(e3.getMessage.contains("column-mapped"))
    // name-mode APPENDS work since the write path stages PHYSICAL
    // names (ColumnMappingDdlSpec covers the full write surface)
    DeltaLog.write(spark, Seq((9L, "z")).toDF("k", "v"), t)
    assert(DeltaLog.read(spark, t).as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (9L, "z")))
    val newFile = DeltaLog.snapshot(spark, t).files.map(_.path)
      .filterNot(_.endsWith("f1.parquet")).head
    assert(spark.read.parquet(newFile).columns.toSeq
      === Seq("col-17", "col-18"))
  }

  test("mirrorFromIceberg: zero-copy Delta shallow clone, diff re-mirrors") {
    import graft.sources.IcebergTable
    def deScheme(s: String) = s.replaceFirst("^[a-zA-Z0-9]+:(//)?", "")
    val root = Files.createTempDirectory("graft-dl-mirror").toString
    val src = s"$root/ice"
    val dst = s"$root/delta"
    IcebergTable.write(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), src)
    IcebergTable.write(spark, Seq((3L, "c")).toDF("k", "v"), src)
    val v0 = DeltaLog.mirrorFromIceberg(spark, src, dst)
    assert(v0 === 0L)
    assert(DeltaLog.read(spark, dst).as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (3L, "c")))
    // ADOPTED, not copied: every add points INTO the Iceberg table
    val dfiles = DeltaLog.snapshot(spark, dst).files.map(f =>
      deScheme(f.path))
    assert(dfiles.nonEmpty &&
      dfiles.forall(_.startsWith(deScheme(src))), dfiles)
    // per-file numRecords came from the manifests
    assert(DeltaLog.snapshot(spark, dst).files
      .flatMap(_.stats).forall(_.contains("numRecords")))
    // no-change re-mirror commits nothing
    assert(DeltaLog.mirrorFromIceberg(spark, src, dst) === 0L)
    // the source evolves; the re-mirror commits the file-set DIFF
    IcebergTable.write(spark, Seq((9L, "z")).toDF("k", "v"), src,
      overwrite = true)
    val v1 = DeltaLog.mirrorFromIceberg(spark, src, dst)
    assert(v1 === 1L)
    assert(DeltaLog.read(spark, dst).as[(Long, String)].collect().toSet
      === Set((9L, "z")))
    // the mirror time-travels (old files still live in the source)
    assert(DeltaLog.read(spark, dst, versionAsOf = Some(0L))
      .as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (3L, "c")))
    // physical cleanup through the mirror refuses
    val e = intercept[UnsupportedOperationException] {
      DeltaLog.vacuum(spark, dst)
    }
    assert(e.getMessage.contains("mirror"), e.getMessage)
    // merge-on-read delete files refuse until compacted away
    IcebergTable.write(spark, Seq((10L, "y")).toDF("k", "v"), src)
    IcebergTable.delete(spark, src, col("k") === 9L)
    val e2 = intercept[IllegalArgumentException] {
      DeltaLog.mirrorFromIceberg(spark, src, dst)
    }
    assert(e2.getMessage.contains("rewriteDataFiles"), e2.getMessage)
    IcebergTable.rewriteDataFiles(spark, src)
    DeltaLog.mirrorFromIceberg(spark, src, dst)
    assert(DeltaLog.read(spark, dst).as[(Long, String)].collect().toSet
      === Set((10L, "y")))
    // refuses to stamp mirror commits onto a REAL table
    val real = s"$root/real"
    DeltaLog.write(spark, Seq((1L, "x")).toDF("k", "v"), real)
    intercept[IllegalArgumentException] {
      DeltaLog.mirrorFromIceberg(spark, src, real)
    }
    // and refuses the in-place dual-format flip
    intercept[IllegalArgumentException] {
      DeltaLog.mirrorFromIceberg(spark, src, src)
    }
  }

  test("CREATE TABLE + GENERATED columns: omitted = computed, provided = validated, DML guarded") {
    import org.apache.spark.sql.types._
    val t = Files.createTempDirectory("graft-delta-gen").toString + "/t"
    val genMeta = new MetadataBuilder()
      .putString("delta.generationExpression", "k * 10").build()
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = true),
      StructField("v", StringType, nullable = true),
      StructField("tens", LongType, nullable = true, genMeta)))
    DeltaLog.createTable(spark, t, schema)                           // v0
    // generated columns bump the protocol real writers key on
    assert(DeltaLog.snapshot(spark, t).protocol._2 === 4)
    assert(DeltaLog.read(spark, t).count() === 0)
    // creating over an existing table refuses
    intercept[IllegalArgumentException] {
      DeltaLog.createTable(spark, t, schema)
    }
    // an append OMITTING the generated column computes it
    DeltaLog.write(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .coalesce(1), t)                                               // v1
    assert(DeltaLog.read(spark, t).as[(Long, String, Long)]
      .collect().toSet === Set((1L, "a", 10L), (2L, "b", 20L)))
    // providing the RIGHT value passes; a wrong one vetoes whole
    DeltaLog.write(spark, Seq((3L, "c", 30L)).toDF("k", "v", "tens")
      .coalesce(1), t)                                               // v2
    val vBefore = DeltaLog.snapshot(spark, t).version
    val e = intercept[IllegalArgumentException] {
      DeltaLog.write(spark, Seq((4L, "d", 99L)).toDF("k", "v", "tens"), t)
    }
    assert(e.getMessage.contains("GENERATED"), e.getMessage)
    assert(DeltaLog.snapshot(spark, t).version === vBefore)
    // UPDATE refuses assignments to the generated column, and a
    // merge whose source breaks the generation vetoes
    val e2 = intercept[IllegalArgumentException] {
      DeltaLog.update(spark, t, col("k") === 1L, Map("tens" -> lit(0L)))
    }
    assert(e2.getMessage.contains("generated"), e2.getMessage)
    // updating a BASE column RECOMPUTES the generated one (real
    // Delta's behavior), on both the COW and DV arms
    DeltaLog.update(spark, t, col("k") === 2L, Map("k" -> lit(200L)))
    assert(DeltaLog.read(spark, t).where(col("k") === 200L)
      .select("tens").as[Long].collect().toSeq === Seq(2000L))
    spark.conf.set("spark.graft.dv.enabled", "true")
    try DeltaLog.update(spark, t, col("k") === 200L, Map("k" -> lit(2L)))
    finally spark.conf.unset("spark.graft.dv.enabled")
    assert(DeltaLog.read(spark, t).where(col("k") === 2L)
      .select("tens").as[Long].collect().toSeq === Seq(20L))
    val e3 = intercept[IllegalArgumentException] {
      DeltaLog.merge(spark, t,
        Seq((1L, "z", 55L)).toDF("k", "v", "tens"), keyCols = Seq("k"))
    }
    assert(e3.getMessage.contains("GENERATED"), e3.getMessage)
    // a consistent merge lands, generated value intact
    DeltaLog.merge(spark, t,
      Seq((1L, "z", 10L), (7L, "g", 70L)).toDF("k", "v", "tens"),
      keyCols = Seq("k"))
    assert(DeltaLog.read(spark, t).as[(Long, String, Long)]
      .collect().toSet === Set((1L, "z", 10L), (2L, "b", 20L),
      (3L, "c", 30L), (7L, "g", 70L)))
    // a shape-equal overwrite keeps the generation metadata
    DeltaLog.write(spark, Seq((9L, "x")).toDF("k", "v"), t,
      overwrite = true)
    assert(DeltaLog.snapshot(spark, t).schema("tens")
      .metadata.contains("delta.generationExpression"))
    assert(DeltaLog.read(spark, t).as[(Long, String, Long)]
      .collect().toSet === Set((9L, "x", 90L)))
  }

  test("RESTORE: file-set-diff rollback as a new version; history, metadata and DVs intact") {
    val t = Files.createTempDirectory("graft-delta-restore").toString + "/t"
    DeltaLog.write(spark, (1L to 10L).toDF("k").coalesce(1), t)       // v0
    DeltaLog.write(spark, (11L to 15L).toDF("k").coalesce(1), t)      // v1
    DeltaLog.delete(spark, t, col("k") <= 3L)                         // v2
    val v = DeltaLog.restore(spark, t, versionAsOf = Some(1L))        // v3
    assert(v === 3L)
    // content is exactly version 1's
    assert(DeltaLog.read(spark, t).as[Long].collect().toSet
      === (1L to 15L).toSet)
    // nothing rewound: the delete is still time-travelable
    assert(DeltaLog.read(spark, t, versionAsOf = Some(2L))
      .as[Long].collect().toSet === (4L to 15L).toSet)
    // pure metadata — the restore re-adds the ORIGINAL file paths
    val s1 = DeltaLog.snapshot(spark, t, versionAsOf = Some(1L))
    val s3 = DeltaLog.snapshot(spark, t)
    assert(s1.files.map(_.path).toSet === s3.files.map(_.path).toSet)
    // restoring to the current version is a no-op (no empty commit)
    assert(DeltaLog.restore(spark, t, versionAsOf = Some(3L)) === 3L)
    assert(DeltaLog.listVersions(spark, t).max === 3L)
    // a restore is one more commit — restore past it works too
    assert(DeltaLog.restore(spark, t, versionAsOf = Some(2L)) === 4L)
    assert(DeltaLog.read(spark, t).as[Long].collect().toSet
      === (4L to 15L).toSet)

    // configuration rolls back with the snapshot: constraint added
    // AFTER the target is gone again post-restore
    DeltaLog.addCheckConstraint(spark, t, "pos", "k > 0")             // v5
    assert(DeltaLog.snapshot(spark, t).configuration
      .contains("delta.constraints.pos"))
    DeltaLog.restore(spark, t, versionAsOf = Some(4L))                // v6
    assert(!DeltaLog.snapshot(spark, t).configuration
      .contains("delta.constraints.pos"))

    // DV state swaps back: a DV delete then a restore resurrects rows
    val t2 = Files.createTempDirectory("graft-delta-restore2").toString + "/t"
    DeltaLog.write(spark, (1L to 20L).toDF("k").coalesce(1), t2)      // v0
    spark.conf.set("spark.graft.dv.enabled", "true")
    try DeltaLog.delete(spark, t2, col("k") > 18L)                    // v1: DV
    finally spark.conf.unset("spark.graft.dv.enabled")
    assert(DeltaLog.read(spark, t2).as[Long].collect().toSet
      === (1L to 18L).toSet)
    DeltaLog.restore(spark, t2, versionAsOf = Some(0L))               // v2
    assert(DeltaLog.read(spark, t2).as[Long].collect().toSet
      === (1L to 20L).toSet)

    // vacuumed target: refuses loudly BEFORE committing anything
    val t3 = Files.createTempDirectory("graft-delta-restore3").toString + "/t"
    DeltaLog.write(spark, (1L to 5L).toDF("k").coalesce(1), t3)       // v0
    DeltaLog.write(spark, (6L to 9L).toDF("k").coalesce(1), t3,
      overwrite = true)                                               // v1
    DeltaLog.vacuum(spark, t3, keepVersions = 1)
    val before = DeltaLog.listVersions(spark, t3).max
    val e = intercept[IllegalArgumentException] {
      DeltaLog.restore(spark, t3, versionAsOf = Some(0L))
    }
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
    assert(DeltaLog.listVersions(spark, t3).max === before)
  }
}
