package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Production-lifecycle SQL surface: `SHOW CREATE TABLE` reverse-DDL
  * that ROUND-TRIPS through the CREATE TABLE grammar for both
  * flavors, `DESCRIBE EXTENDED`, and `mergeSchema` appends (the
  * option-driven Delta schema evolution most users actually use). */
class LifecycleSqlSpec extends graft.SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-lifecycle").toString + "/t"

  private def showCreate(t: String): String =
    spark.sql(s"SHOW CREATE TABLE '$t'").head.getString(0)

  test("SHOW CREATE TABLE round-trips a partitioned, property-bearing, generated-column Delta table") {
    val t = tmp()
    spark.sql(s"""CREATE TABLE '$t' (
      |  id BIGINT NOT NULL,
      |  ds STRING,
      |  amount DOUBLE,
      |  amount2 DOUBLE GENERATED ALWAYS AS (amount * 2)
      |) USING delta PARTITIONED BY (ds)
      |TBLPROPERTIES ('owner' = 'graft', 'delta.appendOnly' = 'false')
      |""".stripMargin).collect()
    val stmt = showCreate(t)
    assert(stmt.contains("USING delta"))
    assert(stmt.contains("PARTITIONED BY (ds)"))
    assert(stmt.contains("GENERATED ALWAYS AS (amount * 2)"))
    assert(stmt.contains("'owner' = 'graft'"))
    assert(stmt.contains("NOT NULL"))
    // ROUND TRIP: the emitted DDL re-creates an equivalent table
    val t2 = tmp()
    spark.sql(stmt.replace(s"'$t'", s"'$t2'")).collect()
    val a = DeltaLog.snapshot(spark, t)
    val b = DeltaLog.snapshot(spark, t2)
    assert(a.schema.fields.map(f => (f.name, f.dataType, f.nullable)).toSeq ===
      b.schema.fields.map(f => (f.name, f.dataType, f.nullable)).toSeq)
    assert(a.partitionColumns === b.partitionColumns)
    assert(b.configuration.get("owner") === Some("graft"))
    assert(b.schema("amount2").metadata
      .getString(DeltaLog.GenerationExprKey) === "amount * 2")
  }

  test("SHOW CREATE TABLE round-trips a hidden-partitioned Iceberg table") {
    val t = tmp()
    IcebergTable.write(spark,
      Seq((1, java.sql.Date.valueOf("2024-03-01"), "x"))
        .toDF("id", "d", "s"), t,
      partitionBy = Seq("bucket(4, id)", "days(d)"))
    IcebergTable.setProperties(spark, t, Map("owner" -> "graft"))
    val stmt = showCreate(t)
    assert(stmt.contains("USING iceberg"))
    assert(stmt.toLowerCase.contains("bucket(4, id)"))
    assert(stmt.contains("'owner' = 'graft'"))
    val t2 = tmp()
    spark.sql(stmt.replace(s"'$t'", s"'$t2'")).collect()
    val snap2 = IcebergTable.snapshot(spark, t2)
    assert(snap2.schema.fieldNames.toSeq === Seq("id", "d", "s"))
    assert(IcebergTable.properties(spark, t2).get("owner") === Some("graft"))
    // the created table takes hidden-partitioned appends under the
    // SAME spec the DDL declared
    IcebergTable.write(spark,
      Seq((2, java.sql.Date.valueOf("2024-03-02"), "y"))
        .toDF("id", "d", "s"), t2,
      partitionBy = IcebergTable.defaultSpecNames(spark, t2))
    assert(IcebergTable.read(spark, t2).count() === 1L)
  }

  test("DESCRIBE EXTENDED lists columns plus the detailed section (constraints visible)") {
    val t = tmp()
    DeltaLog.write(spark, Seq((1, "a")).toDF("id", "s"), t)
    DeltaLog.addCheckConstraint(spark, t, "pos_id", "id > 0")
    val rows = spark.sql(s"DESCRIBE EXTENDED '$t'").collect()
    val byName = rows.map(r => r.getString(0) -> r.getString(1)).toMap
    assert(byName("id") === "int")
    assert(byName("s") === "string")
    assert(byName("Format") === "delta")
    assert(byName("Num Rows") === "1")
    assert(byName("Properties").contains("delta.constraints.pos_id=id > 0"))
  }

  test("mergeSchema append widens the table; plain append still refuses") {
    val t = tmp()
    DeltaLog.write(spark, Seq((1, "a")).toDF("id", "s"), t)
    // plain append of a wider frame refuses
    intercept[IllegalArgumentException] {
      DeltaLog.write(spark, Seq((2, "b", 9.5)).toDF("id", "s", "score"), t)
    }
    // the evolving append lands data + widened metaData in ONE commit
    val v = DeltaLog.write(spark,
      Seq((2, "b", 9.5)).toDF("id", "s", "score"), t, mergeSchema = true)
    val snap = DeltaLog.snapshot(spark, t)
    assert(snap.schema.fieldNames.toSeq === Seq("id", "s", "score"))
    assert(snap.schema("score").nullable, "new columns are nullable")
    val got = DeltaLog.read(spark, t)
      .as[(Int, String, Option[Double])].collect().toSet
    assert(got === Set((1, "a", None), (2, "b", Some(9.5))))
    // time travel serves the PRE-evolution schema
    assert(DeltaLog.snapshot(spark, t, versionAsOf = Some(v - 1))
      .schema.fieldNames.toSeq === Seq("id", "s"))
    // a frame OMITTING existing columns appends under mergeSchema too
    DeltaLog.write(spark, Seq((3, 1.5)).toDF("id", "score"), t,
      mergeSchema = true)
    val got2 = DeltaLog.read(spark, t)
      .select("id", "s", "score").where(col("id") === 3)
      .as[(Int, Option[String], Option[Double])].collect().toSet
    assert(got2 === Set((3, None, Some(1.5))))
    // type conflicts refuse
    intercept[IllegalArgumentException] {
      DeltaLog.write(spark, Seq((4, 7)).toDF("id", "score"), t,
        mergeSchema = true) // score int vs double
    }
    // omitting a NOT NULL or GENERATED column refuses — its rows would
    // silently read as null past the invariant
    val t2 = tmp()
    spark.sql(s"""CREATE TABLE '$t2' (
      |  id INT, s STRING NOT NULL,
      |  s2 STRING GENERATED ALWAYS AS (upper(s))
      |) USING delta""".stripMargin).collect()
    DeltaLog.write(spark, Seq((1, "a", "A")).toDF("id", "s", "s2"), t2)
    intercept[IllegalArgumentException] {
      DeltaLog.write(spark, Seq((2, 1.0)).toDF("id", "extra"), t2,
        mergeSchema = true) // omits NOT NULL s
    }
  }

  test("OPTIMIZE purges deletion vectors: rows drop physically, old versions still DV-served") {
    val t = tmp()
    DeltaLog.write(spark,
      (1 to 100).map(i => (i, s"r$i")).toDF("id", "s"), t)
    spark.conf.set("spark.graft.dv.enabled", "true")
    val dvV =
      try DeltaLog.delete(spark, t, col("id") % 10 === 0)
      finally spark.conf.unset("spark.graft.dv.enabled")
    val withDv = DeltaLog.snapshot(spark, t)
    assert(withDv.files.exists(_.dv.exists(_.cardinality > 0L)),
      "the delete landed as a deletion vector")
    val expect = DeltaLog.read(spark, t).count()
    val ov = DeltaLog.optimize(spark, t)
    val after = DeltaLog.snapshot(spark, t)
    // real OPTIMIZE semantics: no DV descriptors survive, row set same
    assert(after.files.forall(_.dv.forall(_.cardinality == 0L)))
    assert(DeltaLog.read(spark, t).count() === expect)
    // the pre-OPTIMIZE version still serves through its DV
    assert(DeltaLog.readSnapshot(spark,
      DeltaLog.snapshot(spark, t, versionAsOf = Some(ov - 1))).count()
      === expect)
  }

  test("RESTORE Iceberg TIMESTAMP AS OF resolves through the snapshot log") {
    val t = tmp()
    IcebergTable.write(spark, Seq((1, "a")).toDF("id", "s"), t)
    val ts1 = IcebergTable.snapshot(spark, t).timestampMs
    Thread.sleep(20)
    IcebergTable.write(spark, Seq((2, "b")).toDF("id", "s"), t)
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss.SSS")
    val v = spark.sql(s"RESTORE TABLE '$t' TO TIMESTAMP AS OF '" +
      fmt.format(new java.util.Date(ts1)) + "'").collect()
    assert(IcebergTable.read(spark, t).count() === 1L)
  }

  test("CALL graft.system.* procedures drive the maintenance surface") {
    val t = tmp()
    IcebergTable.write(spark, (1 to 50).map(i => (i, s"r$i")).toDF("id", "s"), t)
    IcebergTable.write(spark, (51 to 100).map(i => (i, s"r$i")).toDF("id", "s"), t)
    IcebergTable.delete(spark, t, col("id") % 9 === 0)
    IcebergTable.delete(spark, t, col("id") % 11 === 0)
    val expect = IcebergTable.read(spark, t).count()
    // delete-file compaction via CALL
    spark.sql(s"CALL graft.system.rewrite_position_delete_files('$t')")
      .collect()
    assert(IcebergTable.snapshot(spark, t).deletes.size === 1)
    assert(IcebergTable.read(spark, t).count() === expect)
    // tag + rollback via CALL
    val cur = IcebergTable.snapshot(spark, t).snapshotId
    spark.sql(s"CALL graft.system.create_tag('$t', 'before-opt', $cur)")
      .collect()
    spark.sql(s"CALL graft.system.rewrite_data_files('$t')").collect()
    assert(IcebergTable.snapshot(spark, t).deletes.isEmpty)
    spark.sql(s"CALL graft.system.rollback_to_snapshot('$t', $cur)").collect()
    assert(IcebergTable.snapshot(spark, t).snapshotId === cur)
    assert(IcebergTable.refs(spark, t)("before-opt")._1 === cur)
    // expire via CALL honors the tag
    spark.sql(s"CALL graft.system.expire_snapshots('$t', 1)").collect()
    assert(IcebergTable.snapshotIds(spark, t).contains(cur))
    // unknown procedures stay loud
    intercept[UnsupportedOperationException] {
      spark.sql(s"CALL graft.system.nonsense('$t')").collect()
    }
  }

  test("remove_orphan_files reaps unreferenced files, never live or recent ones") {
    val t = tmp()
    IcebergTable.write(spark, Seq((1, "a")).toDF("id", "s"), t)
    IcebergTable.write(spark, Seq((2, "b")).toDF("id", "s"), t)
    // plant an orphan (a crashed writer's adopted-but-uncommitted file)
    val orphan = new java.io.File(t, "data/orphan-000.parquet")
    Seq((9, "x")).toDF("id", "s").coalesce(1)
      .write.mode("overwrite").parquet(orphan.getParent + "/.tmp-plant")
    val part = new java.io.File(orphan.getParent + "/.tmp-plant")
      .listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, orphan.toPath)
    orphan.setLastModified(System.currentTimeMillis() - 10L * 24 * 3600 * 1000)
    // a RECENT unreferenced file (an in-flight writer) must survive
    val recent = new java.io.File(t, "data/recent-000.parquet")
    java.nio.file.Files.write(recent.toPath, Array[Byte](1, 2, 3))

    val victims = spark.sql(
      s"CALL graft.system.remove_orphan_files('$t')").head.getString(1)
    assert(victims === "1")
    assert(!orphan.exists(), "aged orphan reaped")
    assert(recent.exists(), "recent unreferenced file survives")
    // every snapshot still reads (time travel included)
    val ids = IcebergTable.snapshotIds(spark, t)
    ids.foreach(id => IcebergTable.read(spark, t,
      snapshotIdAsOf = Some(id)).count())
    assert(IcebergTable.read(spark, t).count() === 2L)
  }

  test("CONVERT TO DELTA adopts a parquet directory in place (no data movement)") {
    val d = Files.createTempDirectory("graft-convert").toString + "/raw"
    (1 to 60).map(i => (i, s"r$i")).toDF("id", "s")
      .repartition(3).write.parquet(d)
    val before = new java.io.File(d).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.length))
    spark.sql(s"CONVERT TO DELTA parquet.'$d'").collect()
    // same physical files, now under a log
    val after = new java.io.File(d).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.length))
    assert(after.sorted.toSeq === before.sorted.toSeq, "no data movement")
    assert(DeltaLog.read(spark, d).count() === 60L)
    // it IS a Delta table now: DML + history work; double-convert refuses
    DeltaLog.delete(spark, d, col("id") === 1)
    assert(DeltaLog.read(spark, d).count() === 59L)
    intercept[IllegalArgumentException] {
      spark.sql(s"CONVERT TO DELTA '$d'").collect()
    }
    // hive-partitioned conversion keeps the layout as partition values
    val p = Files.createTempDirectory("graft-convertp").toString + "/raw"
    (1 to 40).map(i => (i, s"r$i", i % 3)).toDF("id", "s", "g")
      .write.partitionBy("g").parquet(p)
    spark.sql(s"CONVERT TO DELTA parquet.'$p' PARTITIONED BY (g INT)")
      .collect()
    val snap = DeltaLog.snapshot(spark, p)
    assert(snap.partitionColumns === Seq("g"))
    assert(snap.files.forall(_.partitionValues.contains("g")))
    assert(DeltaLog.read(spark, p).where(col("g") === 1).count() ===
      (1 to 40).count(_ % 3 == 1).toLong)
  }

  test("Delta commitInfo: DESCRIBE HISTORY shows real operation names") {
    val t = tmp()
    DeltaLog.write(spark, (1 to 30).map(i => (i, s"r$i")).toDF("id", "s"), t)
    DeltaLog.write(spark, Seq((31, "x")).toDF("id", "s"), t)
    DeltaLog.delete(spark, t, col("id") === 1)
    DeltaLog.optimize(spark, t)
    val ops = spark.sql(s"DESC HISTORY '$t'").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(ops(0L) === "WRITE")
    assert(ops(1L) === "WRITE")
    assert(ops(2L) === "DELETE")
    assert(ops(3L) === "OPTIMIZE")
    // the commitInfo action is advisory: replay/read is unaffected
    assert(DeltaLog.read(spark, t).count() === 30L)
  }

  test("Iceberg metadata-log records superseded metadata files") {
    val t = tmp()
    IcebergTable.write(spark, Seq((1, "a")).toDF("id", "s"), t)
    IcebergTable.write(spark, Seq((2, "b")).toDF("id", "s"), t)
    IcebergTable.setProperties(spark, t, Map("k" -> "v"))
    val meta = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      java.nio.file.Files.readString(java.nio.file.Paths.get(
        new java.io.File(t, "metadata").listFiles()
          .filter(_.getName.matches("v\\d+\\.metadata\\.json"))
          .maxBy(_.getName.stripPrefix("v").stripSuffix(".metadata.json")
            .toInt).getPath)))
    import scala.collection.JavaConverters._
    val logged = meta.get("metadata-log").elements().asScala.toSeq
    assert(logged.size === 2, "v1 and v2 superseded")
    assert(logged.map(_.get("metadata-file").asText()).exists(
      _.endsWith("v2.metadata.json")))
    assert(logged.forall(_.has("timestamp-ms")))
  }

  test("expire_snapshots older_than keeps everything at or after the cutoff") {
    val t = tmp()
    IcebergTable.write(spark, Seq((1, "a")).toDF("id", "s"), t)
    val v1 = IcebergTable.snapshot(spark, t)
    Thread.sleep(30)
    val cutoff = System.currentTimeMillis()
    Thread.sleep(30)
    IcebergTable.write(spark, Seq((2, "b")).toDF("id", "s"), t)
    IcebergTable.write(spark, Seq((3, "c")).toDF("id", "s"), t)
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss.SSS")
    spark.sql(s"CALL graft.system.expire_snapshots('$t', 1, '" +
      fmt.format(new java.util.Date(cutoff)) + "')").collect()
    val ids = IcebergTable.snapshotIds(spark, t).toSet
    assert(!ids.contains(v1.snapshotId), "pre-cutoff snapshot expired")
    assert(ids.size === 2, "both post-cutoff snapshots survive")
    assert(IcebergTable.read(spark, t).count() === 3L)
  }
}
