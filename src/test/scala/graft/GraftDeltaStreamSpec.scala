package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.DeltaLog

/** DSv2 streaming + batch + write surface over REAL Delta tables
  * (`GraftDeltaTable` / format "graft-delta") — the reference's gold
  * layer literally runs `spark.readStream.format("delta")`
  * (gold_transformation.py:41,92); these specs prove the graft twin
  * end-to-end: replica convergence over the CDC stream across
  * commits including an overwrite, checkpoint-restart resumption,
  * append-mode semantics with loud remove handling, the exactly-once
  * txn-stamped streaming sink, and committing SQL INSERTs through
  * the catalog for both log-backed flavors. */
class GraftDeltaStreamSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("CDC readStream converges a replica across three commits incl. an overwrite, and survives a checkpoint restart") {
    val dir = tmp("gd-stream")
    val t = s"$dir/t"
    DeltaLog.write(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
    DeltaLog.write(spark, Seq((3L, "c")).toDF("k", "v"), t)
    DeltaLog.write(spark, Seq((9L, "z")).toDF("k", "v"), t, overwrite = true)

    val replica = scala.collection.mutable.Map[(Long, String), Int]()
      .withDefaultValue(0)
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-delta")
        .option("readChangeFeed", "true")
        .load(t)
        .writeStream
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.select("k", "v", "_change_type", "_commit_version")
            .as[(Long, String, String, Long)].collect().sortBy(_._4)
            .foreach {
              case (k, v, "insert", _) => replica((k, v)) += 1
              case (k, v, "delete", _) => replica((k, v)) -= 1
              case other => fail(s"unexpected change row $other")
            }
          ()
        }.start()
      q.awaitTermination(120000)
    }
    runOnce()
    def live = replica.filter(_._2 > 0).keySet
    assert(live === Set((9L, "z")))
    assert(live === DeltaLog.read(spark, t).as[(Long, String)].collect().toSet)

    // restart with the SAME checkpoint after two more commits: only
    // the new versions replay (a re-applied insert would leave a
    // count of 2 for (9, z) — asserted against)
    DeltaLog.write(spark, Seq((10L, "y")).toDF("k", "v"), t)
    DeltaLog.write(spark, Seq((11L, "x")).toDF("k", "v"), t)
    runOnce()
    assert(live === Set((9L, "z"), (10L, "y"), (11L, "x")))
    assert(replica((9L, "z")) === 1, "checkpoint restart re-applied old commits")
    assert(live === DeltaLog.read(spark, t).as[(Long, String)].collect().toSet)
  }

  test("CDC stream carries partition values; OPTIMIZE commits are invisible") {
    val dir = tmp("gd-stream-p")
    val t = s"$dir/t"
    DeltaLog.write(spark, Seq((1L, "x"), (2L, "y")).toDF("k", "p"), t,
      partitionBy = Seq("p"))
    DeltaLog.write(spark, Seq((3L, "x")).toDF("k", "p"), t)
    DeltaLog.optimize(spark, t, targetFileBytes = Long.MaxValue)
    val got = scala.collection.mutable.Set[(Long, String, String, Long)]()
    val q = spark.readStream.format("graft-delta")
      .option("readChangeFeed", "true").load(t)
      .writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= batch.select("k", "p", "_change_type", "_commit_version")
          .as[(Long, String, String, Long)].collect()
        ()
      }.start()
    q.awaitTermination(120000)
    // typed partition values from the log; nothing from the
    // dataChange=false compaction commit
    assert(got.toSet === Set(
      (1L, "x", "insert", 0L), (2L, "y", "insert", 0L),
      (3L, "x", "insert", 1L)))
  }

  test("append-mode readStream.table streams new commits; removes are loud unless skipChangeCommits") {
    val root = tmp("gd-cat")
    spark.conf.set("spark.sql.catalog.graft_s", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_s.root", root)
    val t = s"$root/silver/ev"
    DeltaLog.write(spark, Seq((1L, "a")).toDF("k", "v"), t)
    DeltaLog.write(spark, Seq((2L, "b")).toDF("k", "v"), t)

    val seen = scala.collection.mutable.Set[(Long, String)]()
    def run(dir: String): Unit = {
      val q = spark.readStream.table("graft_s.silver.ev")
        .writeStream
        .option("checkpointLocation", dir)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          seen ++= batch.as[(Long, String)].collect(); ()
        }.start()
      q.awaitTermination(120000)
    }
    val ckpt = tmp("gd-cat-ck")
    run(ckpt)
    assert(seen.toSet === Set((1L, "a"), (2L, "b")))
    // an appended commit streams in on the next run
    DeltaLog.write(spark, Seq((3L, "c")).toDF("k", "v"), t)
    run(ckpt)
    assert(seen.toSet === Set((1L, "a"), (2L, "b"), (3L, "c")))
    // an overwrite commit cannot be represented append-only: loud
    DeltaLog.write(spark, Seq((9L, "z")).toDF("k", "v"), t, overwrite = true)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(ckpt)
    }
    assert(e.getMessage.contains("append-only") ||
      Option(e.getCause).exists(_.getMessage.contains("append-only")),
      e.getMessage)
    // ...and skipChangeCommits drops the whole overwrite commit but
    // continues with later appends (fresh checkpoint, format-based so
    // the option applies)
    DeltaLog.write(spark, Seq((10L, "w")).toDF("k", "v"), t)
    val seen2 = scala.collection.mutable.Set[(Long, String)]()
    val q2 = spark.readStream.format("graft-delta")
      .option("skipChangeCommits", "true").load(t)
      .writeStream
      .option("checkpointLocation", tmp("gd-cat-ck2"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        seen2 ++= batch.as[(Long, String)].collect(); ()
      }.start()
    q2.awaitTermination(120000)
    assert(seen2.toSet === Set((1L, "a"), (2L, "b"), (3L, "c"), (10L, "w")))
  }

  test("catalog SELECT serves column-mapped tables (name + id mode); writers keep gating") {
    val root = tmp("gd-cm")
    spark.conf.set("spark.sql.catalog.graft_cm", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_cm.root", root)

    // NAME mode with real divergence: upgrade → RENAME → post-rename
    // append (old + new files under the same physical layout)
    val t = s"$root/ns/cmt"
    DeltaLog.write(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
    DeltaLog.setTableProperties(spark, t,
      Map("delta.columnMapping.mode" -> "name"))
    spark.sql("ALTER TABLE '" + t + "' RENAME COLUMN v TO label").collect()
    DeltaLog.write(spark, Seq((3L, "c")).toDF("k", "label"), t)
    // logical names serve through the catalog; filter + projection work
    assert(spark.sql(
      "SELECT k, label FROM graft_cm.ns.cmt WHERE k >= 2 ORDER BY k")
      .as[(Long, String)].collect().toSeq === Seq((2L, "b"), (3L, "c")))
    // byte-for-byte the library reader
    assert(spark.table("graft_cm.ns.cmt").select("k", "label")
      .as[(Long, String)].collect().sorted
      === DeltaLog.read(spark, t).select("k", "label")
        .as[(Long, String)].collect().sorted)
    // name-mode INSERT INTO works (the writer stages physical names)
    spark.sql("INSERT INTO graft_cm.ns.cmt VALUES (4, 'd')").collect()
    assert(spark.table("graft_cm.ns.cmt").count() === 4L)

    // PARTITIONED mapped table: physical partitionValues keys + dirs;
    // a partition filter prunes the planned file list
    val tp = s"$root/ns/cmp"
    DeltaLog.write(spark, Seq((1L, "x"), (2L, "y")).toDF("n", "p"), tp,
      partitionBy = Seq("p"))
    DeltaLog.setTableProperties(spark, tp,
      Map("delta.columnMapping.mode" -> "name"))
    spark.sql("ALTER TABLE '" + tp + "' RENAME COLUMN p TO part").collect()
    assert(spark.sql("SELECT n FROM graft_cm.ns.cmp WHERE part = 'y'")
      .as[Long].collect().toSeq === Seq(2L))

    // ID mode (hand-built: parquet names match NEITHER logical nor
    // physical — only field-id resolution serves it): catalog SELECT
    // matches the library read; INSERT gates loudly
    import org.apache.spark.sql.types._
    val ti = s"$root/ns/cmi"
    val fidSchema = StructType(Seq(
      StructField("whatever_a", LongType, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", 1).build()),
      StructField("whatever_b", StringType, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", 2).build())))
    val fidDf = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(7L, "ok"),
        org.apache.spark.sql.Row(8L, "go"))), fidSchema)
    val stage = java.nio.file.Files.createTempDirectory("gd-cmi").toString
    fidDf.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(ti))
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(ti, "f1.parquet"))
    val sz = new java.io.File(ti, "f1.parquet").length()
    def mb(id: Int, phys: String) = new MetadataBuilder()
      .putLong("delta.columnMapping.id", id)
      .putString("delta.columnMapping.physicalName", phys).build()
    val logical = StructType(Seq(
      StructField("k", LongType, nullable = true, mb(1, "col-99")),
      StructField("v", StringType, nullable = true, mb(2, "col-98"))))
    val schemaJson = "\"" + logical.json.replace("\\", "\\\\")
      .replace("\"", "\\\"") + "\""
    val logDir = java.nio.file.Paths.get(ti, "_delta_log")
    java.nio.file.Files.createDirectories(logDir)
    java.nio.file.Files.writeString(logDir.resolve(f"${0L}%020d.json"),
      Seq(
        """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        s"""{"metaData":{"id":"t-cmi","format":{"provider":"parquet","options":{}},"schemaString":$schemaJson,"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"2"},"createdTime":1}}""",
        s"""{"add":{"path":"f1.parquet","partitionValues":{},"size":$sz,"modificationTime":5,"dataChange":true}}"""
      ).mkString("\n") + "\n")
    assert(spark.table("graft_cm.ns.cmi").as[(Long, String)]
      .collect().sorted
      === DeltaLog.read(spark, ti).as[(Long, String)].collect().sorted)
    assert(spark.sql("SELECT v FROM graft_cm.ns.cmi WHERE k = 8")
      .as[String].collect().toSeq === Seq("go"))
    // id-mode catalog INSERT stages field-id-stamped parquet
    spark.sql("INSERT INTO graft_cm.ns.cmi VALUES (9, 'ya')").collect()
    assert(spark.table("graft_cm.ns.cmi").as[(Long, String)]
      .collect().toSet === Set((7L, "ok"), (8L, "go"), (9L, "ya")))
    assert(DeltaLog.read(spark, ti).as[(Long, String)]
      .collect().toSet === Set((7L, "ok"), (8L, "go"), (9L, "ya")))

    // id-mode RENAME/DROP COLUMN are the same metadata-only move as
    // name mode (ids + physical names stand) — reads keep resolving
    // old files by field id under the new logical name
    spark.sql("ALTER TABLE '" + ti + "' RENAME COLUMN v TO label")
      .collect()
    assert(spark.table("graft_cm.ns.cmi").columns.toSeq
      === Seq("k", "label"))
    assert(spark.sql("SELECT label FROM graft_cm.ns.cmi WHERE k = 7")
      .as[String].collect().toSeq === Seq("ok"))
    assert(DeltaLog.read(spark, ti).select("label").as[String]
      .collect().toSet === Set("ok", "go", "ya"))
  }

  test("CDC stream expresses DV deletes as position diffs; append mode stays loud on them") {
    val dir = tmp("gd-dv-stream")
    val t = s"$dir/t"
    DeltaLog.write(spark, spark.range(20)
      .select(col("id").as("k"), (col("id") % 3).as("g")).coalesce(1), t)
    val replica = scala.collection.mutable.Map[Long, Int]().withDefaultValue(0)
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-delta")
        .option("readChangeFeed", "true").load(t)
        .writeStream
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.select("k", "_change_type", "_commit_version")
            .as[(Long, String, Long)].collect().sortBy(_._3)
            .foreach {
              case (k, "insert", _) => replica(k) += 1
              case (k, "delete", _) => replica(k) -= 1
              case other => fail(s"unexpected change row $other")
            }
          ()
        }.start()
      q.awaitTermination(120000)
    }
    spark.conf.set("spark.graft.dv.enabled", "true")
    try {
      DeltaLog.delete(spark, t, col("k") === 5L || col("k") === 9L) // v1: DV
      runOnce()
      def live = replica.filter(_._2 > 0).keySet
      assert(live === (0L until 20L).toSet -- Set(5L, 9L))
      assert(live === DeltaLog.read(spark, t).select("k").as[Long]
        .collect().toSet)
      // a second DV delete after the checkpoint: ONLY the diff
      // replays (never the whole file on both sides)
      DeltaLog.delete(spark, t, col("k") === 7L)
      runOnce()
      assert(live === (0L until 20L).toSet -- Set(5L, 7L, 9L))
      assert(replica(5L) === 0 && replica(7L) === 0,
        s"restart replayed old DV commits: $replica")
      assert(replica.values.forall(v => v == 0 || v == 1), replica.toString)
    } finally spark.conf.unset("spark.graft.dv.enabled")
    // append mode cannot express row deletes: loud, skipChangeCommits drops
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format("graft-delta").load(t)
        .writeStream.option("checkpointLocation", tmp("gd-dv-ck2"))
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect(); () }.start()
      q.awaitTermination(120000)
    }
    assert(Option(e.getCause).exists(_.getMessage.contains("deletion vectors")),
      e.getMessage)
    val seen = scala.collection.mutable.Set[Long]()
    val q2 = spark.readStream.format("graft-delta")
      .option("skipChangeCommits", "true").load(t)
      .writeStream.option("checkpointLocation", tmp("gd-dv-ck3"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        seen ++= b.select("k").as[Long].collect(); () }.start()
    q2.awaitTermination(120000)
    // the creating commit streams; the DV commits are dropped whole
    assert(seen.toSet === (0L until 20L).toSet)
  }

  test("graft-delta streaming sink: one commit per micro-batch, exactly-once across checkpoint loss via txn watermark") {
    val dir = tmp("gd-sink")
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    Files.writeString(java.nio.file.Paths.get(s"$dir/in/b1.json"),
      """[{"k": 1, "v": "a"}, {"k": 2, "v": "b"}]""")
    Files.writeString(java.nio.file.Paths.get(s"$dir/in/b2.json"),
      """[{"k": 3, "v": "c"}]""")
    val schema = org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v STRING")
    val delta = s"$dir/delta"
    def run(ckpt: String): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").option("multiLine", "true")
        .json(s"$dir/in")
        .writeStream.format("graft-delta")
        .option("checkpointLocation", ckpt)
        .option("txnAppId", "spec-sink") // stable across checkpoint loss
        .trigger(Trigger.AvailableNow())
        .start(delta)
      q.awaitTermination(120000)
    }
    run(s"$dir/ckpt")
    assert(DeltaLog.read(spark, delta).as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (3L, "c")))
    val versions = DeltaLog.history(spark, delta).count()
    assert(versions === 2L) // one commit per micro-batch
    // the commits carry txn markers
    assert(DeltaLog.snapshot(spark, delta).txns === Map("spec-sink" -> 1L))
    // simulate checkpoint LOSS: a fresh checkpoint replays batches
    // 0..1 from scratch — the txn watermark makes both no-ops
    run(s"$dir/ckpt2")
    assert(DeltaLog.read(spark, delta).as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(DeltaLog.history(spark, delta).count() === versions,
      "replayed micro-batches must not commit duplicate versions")
  }

  test("catalog INSERT INTO commits through both log-backed flavors' writers") {
    val root = tmp("gd-ins")
    spark.conf.set("spark.sql.catalog.graft_w", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_w.root", root)
    import graft.sources.IcebergTable
    // delta flavor
    DeltaLog.write(spark, Seq((1L, "a")).toDF("k", "v"), s"$root/ns/dt")
    spark.sql("INSERT INTO graft_w.ns.dt VALUES (2, 'b')")
    assert(DeltaLog.read(spark, s"$root/ns/dt").as[(Long, String)]
      .collect().toSet === Set((1L, "a"), (2L, "b")))
    assert(DeltaLog.snapshot(spark, s"$root/ns/dt").version === 1L)
    // INSERT OVERWRITE = one overwriting commit, history intact
    spark.sql("INSERT OVERWRITE graft_w.ns.dt VALUES (9, 'z')")
    assert(DeltaLog.read(spark, s"$root/ns/dt").as[(Long, String)]
      .collect().toSet === Set((9L, "z")))
    assert(DeltaLog.read(spark, s"$root/ns/dt", versionAsOf = Some(1L))
      .as[(Long, String)].collect().toSet === Set((1L, "a"), (2L, "b")))
    // iceberg flavor
    IcebergTable.write(spark, Seq((1L, "a")).toDF("k", "v"), s"$root/ns/it")
    spark.sql("INSERT INTO graft_w.ns.it VALUES (2, 'b')")
    assert(IcebergTable.read(spark, s"$root/ns/it").as[(Long, String)]
      .collect().toSet === Set((1L, "a"), (2L, "b")))
  }

  test("catalog serves PARTITIONED delta tables; filters prune the planned file list") {
    val root = tmp("gd-part")
    spark.conf.set("spark.sql.catalog.graft_p", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_p.root", root)
    val t = s"$root/gold/fact"
    DeltaLog.write(spark,
      Seq((1L, "x", 10), (2L, "x", 20), (3L, "y", 30), (4L, "z", 40))
        .toDF("id", "p", "n"), t, partitionBy = Seq("p"))
    // partition columns serve LAST (per-file constants), typed
    val df = spark.table("graft_p.gold.fact")
    assert(df.columns.toSeq === Seq("id", "n", "p"))
    assert(df.select("id", "p", "n").as[(Long, String, Int)].collect().toSet
      === Set((1L, "x", 10), (2L, "x", 20), (3L, "y", 30), (4L, "z", 40)))
    // partition predicate: correct rows, and the scan plans FEWER
    // files than the snapshot holds (log-side pruning, visible in the
    // number of scanned partitions)
    val q = spark.sql("SELECT id FROM graft_p.gold.fact WHERE p = 'y'")
    assert(q.as[Long].collect().toSeq === Seq(3L))
    // mixed predicate incl. a null-intolerant data conjunct
    assert(spark.sql(
      "SELECT id FROM graft_p.gold.fact WHERE p = 'x' AND n IS NOT NULL ORDER BY id")
      .as[Long].collect().toSeq === Seq(1L, 2L))
    // VERSION AS OF time travel through the DSv2 table
    DeltaLog.write(spark, Seq((9L, "x", 90)).toDF("id", "p", "n"), t)
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft_p.gold.fact VERSION AS OF 0")
      .as[Long].head() === 4L)
    assert(spark.table("graft_p.gold.fact").count() === 5L)
    // batch CDC through the format: inserts tagged per commit
    val cdc = spark.read.format("graft-delta")
      .option("readChangeFeed", "true").option("startingVersion", "0")
      .load(t)
    assert(cdc.select("id", "_change_type", "_commit_version")
      .as[(Long, String, Long)].collect().toSet === Set((9L, "insert", 1L)))
  }

  test("startingTimestamp streams only commits at or after it; a future timestamp starts from now") {
    val dir = tmp("gd-startts")
    val t = s"$dir/t"
    DeltaLog.write(spark, Seq((1L, "a")).toDF("k", "v").coalesce(1), t) // v0
    Thread.sleep(60)
    val ts = System.currentTimeMillis()
    Thread.sleep(60)
    DeltaLog.write(spark, Seq((2L, "b")).toDF("k", "v").coalesce(1), t) // v1
    DeltaLog.write(spark, Seq((3L, "c")).toDF("k", "v").coalesce(1), t) // v2
    def drain(opts: Map[String, String], ck: String): Set[(Long, String)] = {
      val rows = scala.collection.mutable.Set[(Long, String)]()
      var r = spark.readStream.format("graft-delta")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.load(t).writeStream
        .option("checkpointLocation", s"$dir/$ck")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          rows ++= b.select("k", "v").as[(Long, String)].collect()
          ()
        }.start()
      q.awaitTermination(120000)
      rows.toSet
    }
    assert(drain(Map("startingTimestamp" -> ts.toString), "ck1")
      === Set((2L, "b"), (3L, "c")))
    // future timestamp: nothing historical streams
    assert(drain(Map("startingTimestamp" ->
      (System.currentTimeMillis() + 3600000L).toString), "ck2") === Set.empty)
    // both options together refuse
    intercept[Exception] {
      drain(Map("startingTimestamp" -> ts.toString,
        "startingVersion" -> "0"), "ck3")
    }
  }

  test("maxFilesPerTrigger paces catch-up: whole commits admitted, at least one per batch") {
    val dir = tmp("gd-admit")
    val t = s"$dir/t"
    DeltaLog.write(spark, Seq((1L, "a")).toDF("k", "v").coalesce(1), t) // v0
    DeltaLog.write(spark, Seq((2L, "b")).toDF("k", "v").coalesce(1), t) // v1
    // v2 carries TWO files — larger than the cap, still one batch
    DeltaLog.write(spark, Seq((3L, "c"), (4L, "d")).toDF("k", "v")
      .repartition(2), t)                                               // v2
    DeltaLog.write(spark, Seq((5L, "e")).toDF("k", "v").coalesce(1), t) // v3
    val rows = scala.collection.mutable.Set[(Long, String)]()
    val batchRows = scala.collection.mutable.ArrayBuffer[Int]()
    val q = spark.readStream.format("graft-delta")
      .option("maxFilesPerTrigger", "1")
      .load(t)
      .writeStream
      .option("checkpointLocation", s"$dir/ck")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val c = b.select("k", "v").as[(Long, String)].collect()
        if (c.nonEmpty) { batchRows += c.length; rows ++= c }
        ()
      }.start()
    q.awaitTermination(120000)
    assert(rows === Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"),
      (5L, "e")))
    // the backlog split into one batch per commit — never one giant
    // batch, and v2's two files stayed atomic in a single batch
    assert(batchRows.toSeq === Seq(1, 1, 2, 1),
      s"expected per-commit pacing, got $batchRows")

    // BYTES-based pacing: a 1-byte cap still admits one whole commit
    // per batch (never zero progress, never a torn commit)
    val byteBatches = scala.collection.mutable.ArrayBuffer[Int]()
    val q2 = spark.readStream.format("graft-delta")
      .option("maxBytesPerTrigger", "1")
      .load(t)
      .writeStream
      .option("checkpointLocation", s"$dir/ck-bytes")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val n = b.count().toInt
        if (n > 0) byteBatches += n
        ()
      }.start()
    q2.awaitTermination(120000)
    assert(byteBatches.toSeq === Seq(1, 1, 2, 1),
      s"expected per-commit byte pacing, got $byteBatches")

    // Trigger.Once sends an explicit allAvailable — the pacing
    // options must NOT strand the backlog past its single batch
    val onceBatches = scala.collection.mutable.ArrayBuffer[Int]()
    val q3 = spark.readStream.format("graft-delta")
      .option("maxFilesPerTrigger", "1")
      .load(t)
      .writeStream
      .option("checkpointLocation", s"$dir/ck-once")
      .trigger(Trigger.Once())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val n = b.count().toInt
        if (n > 0) onceBatches += n
        ()
      }.start()
    q3.awaitTermination(120000)
    assert(onceBatches.toSeq === Seq(5),
      s"Trigger.Once must process the whole backlog, got $onceBatches")
  }
}
