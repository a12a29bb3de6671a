package graft

import java.nio.file.{Files, Paths}

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField}

import graft.sources.IcebergTable

/** Native Iceberg reader against HAND-BUILT minimal tables (v1-style
  * metadata.json + avro manifest list + manifests written directly
  * per the public table-format spec — no Iceberg jars on either
  * side), plus graft's own Iceberg writer. */
class IcebergSpec extends SparkSpec {
  import spark.implicits._

  // ---- low-level writers for hand-committed tables ----

  private def writeAvro(path: String, schema: Schema,
                        records: Seq[GenericRecord]): Long = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, f)
    try records.foreach(w.append) finally w.close()
    f.length()
  }

  /** v1-layout manifest entry: no `content` fields anywhere, plain
    * (non-union) snapshot_id — exercises the reader's field-variant
    * handling (the export writer covers the v2 layout). */
  private val V1Entry: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"snapshot_id","type":"long"},
      |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
      |{"name":"file_path","type":"string"},
      |{"name":"file_format","type":"string"},
      |{"name":"partition","type":{"type":"record","name":"r102","fields":[]}},
      |{"name":"record_count","type":"long"},
      |{"name":"file_size_in_bytes","type":"long"}]}}]}""".stripMargin)

  private val V1List: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string"},
      |{"name":"manifest_length","type":"long"},
      |{"name":"partition_spec_id","type":"int"},
      |{"name":"added_snapshot_id","type":"long"}]}""".stripMargin)

  /** v2-layout manifest list WITH the `content` discriminator, for
    * the delete-manifest gate. */
  private val V2List: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string"},
      |{"name":"manifest_length","type":"long"},
      |{"name":"partition_spec_id","type":"int"},
      |{"name":"content","type":"int"},
      |{"name":"sequence_number","type":"long"},
      |{"name":"min_sequence_number","type":"long"},
      |{"name":"added_snapshot_id","type":"long"}]}""".stripMargin)

  private def entry(status: Int, path: String, fmt: String = "PARQUET",
                    nrec: Long = 1L, size: Long = 1L): GenericRecord = {
    val e = new GenericData.Record(V1Entry)
    e.put("status", status)
    e.put("snapshot_id", 1L)
    val d = new GenericData.Record(V1Entry.getField("data_file").schema())
    d.put("file_path", path)
    d.put("file_format", fmt)
    d.put("partition", new GenericData.Record(
      d.getSchema.getField("partition").schema()))
    d.put("record_count", nrec)
    d.put("file_size_in_bytes", size)
    e.put("data_file", d)
    e
  }

  private def listEntry(manifestPath: String, len: Long): GenericRecord = {
    val r = new GenericData.Record(V1List)
    r.put("manifest_path", manifestPath)
    r.put("manifest_length", len)
    r.put("partition_spec_id", 0)
    r.put("added_snapshot_id", 1L)
    r
  }

  private def writeDataFile(dir: String, name: String,
                            df: org.apache.spark.sql.DataFrame): String = {
    val tmp = Files.createTempDirectory("graft-ice-part").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val dst = Paths.get(dir, name)
    Files.createDirectories(dst.getParent)
    Files.copy(part.toPath, dst)
    dst.toString
  }

  private def writeOrcDataFile(dir: String, name: String,
                               df: org.apache.spark.sql.DataFrame): String = {
    val tmp = Files.createTempDirectory("graft-ice-orcp").toString
    df.coalesce(1).write.mode("overwrite").orc(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".orc")).get
    val dst = Paths.get(dir, name)
    Files.createDirectories(dst.getParent)
    Files.copy(part.toPath, dst)
    dst.toString
  }

  private val schemaV1Json =
    """"schema":{"type":"struct","fields":[
      |{"id":1,"name":"id","required":false,"type":"long"},
      |{"id":2,"name":"s","required":false,"type":"string"}]}""".stripMargin

  private def metadataJson(dir: String, currentSnap: Long,
                           snaps: Seq[(Long, Long, String)],
                           formatVersion: Int = 1): String = {
    val snapJson = snaps.map { case (id, ts, list) =>
      s"""{"snapshot-id":$id,"timestamp-ms":$ts,"manifest-list":"$list","summary":{"operation":"overwrite"}}"""
    }.mkString("[", ",", "]")
    s"""{"format-version":$formatVersion,"table-uuid":"11111111-2222-3333-4444-555555555555",
       |"location":"$dir","last-updated-ms":99,"last-column-id":2,
       |$schemaV1Json,
       |"partition-spec":[],"current-snapshot-id":$currentSnap,
       |"snapshots":$snapJson}""".stripMargin
  }

  private def commitMetadata(dir: String, v: Int, json: String): Unit = {
    val mdir = Paths.get(dir, "metadata")
    Files.createDirectories(mdir)
    Files.writeString(mdir.resolve(s"v$v.metadata.json"), json)
  }

  test("hand-built v1 table: snapshot + timestamp travel, deleted entries skipped") {
    val t = Files.createTempDirectory("graft-ice").toString
    val f1 = writeDataFile(t, "data/f1.parquet", Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    val f2 = writeDataFile(t, "data/f2.parquet", Seq((3L, "c")).toDF("id", "s"))
    val f3 = writeDataFile(t, "data/f3.parquet", Seq((4L, "d")).toDF("id", "s"))

    // snapshot 10: f1+f2 · snapshot 11: f1 existing, f2 DELETED, f3 added
    val m1 = s"$t/metadata/m1.avro"
    val l1 = writeAvro(m1, V1Entry, Seq(entry(1, f1), entry(1, f2)))
    val m2 = s"$t/metadata/m2.avro"
    val l2 = writeAvro(m2, V1Entry,
      Seq(entry(0, f1), entry(2, f2), entry(1, f3)))
    val list1 = s"$t/metadata/sl1.avro"
    writeAvro(list1, V1List, Seq(listEntry(m1, l1)))
    val list2 = s"$t/metadata/sl2.avro"
    writeAvro(list2, V1List, Seq(listEntry(m2, l2)))
    commitMetadata(t, 1, metadataJson(t, 10L, Seq((10L, 1000L, list1))))
    commitMetadata(t, 2, metadataJson(t, 11L,
      Seq((10L, 1000L, list1), (11L, 2000L, list2))))

    val latest = IcebergTable.read(spark, t)
    assert(latest.as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (4L, "d")))
    assert(IcebergTable.snapshot(spark, t).snapshotId === 11L)

    // snapshot-id travel
    val s10 = IcebergTable.read(spark, t, snapshotIdAsOf = Some(10L))
    assert(s10.as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (3L, "c")))
    // timestamp travel between the two snapshots → 10
    val ts = IcebergTable.read(spark, t, timestampAsOf = Some(1500L))
    assert(ts.as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (3L, "c")))
    intercept[IllegalArgumentException] {
      IcebergTable.snapshot(spark, t, timestampAsOf = Some(500L))
    }
    assert(IcebergTable.history(spark, t)
      .as[(Long, Long, String)].collect().toSet
      === Set((10L, 1000L, "overwrite"), (11L, 2000L, "overwrite")))
  }

  test("version-hint.text is a hint, not a pin: stale or overshooting hints never hide the head") {
    val t = Files.createTempDirectory("graft-ice-hint").toString
    val f1 = writeDataFile(t, "data/f1.parquet", Seq((1L, "a")).toDF("id", "s"))
    val f2 = writeDataFile(t, "data/f2.parquet", Seq((2L, "b")).toDF("id", "s"))
    val m1 = s"$t/metadata/m1.avro"
    val l1 = writeAvro(m1, V1Entry, Seq(entry(1, f1)))
    val m2 = s"$t/metadata/m2.avro"
    val l2 = writeAvro(m2, V1Entry, Seq(entry(1, f2)))
    val list1 = s"$t/metadata/sl1.avro"
    writeAvro(list1, V1List, Seq(listEntry(m1, l1)))
    val list2 = s"$t/metadata/sl2.avro"
    writeAvro(list2, V1List, Seq(listEntry(m2, l2)))
    commitMetadata(t, 1, metadataJson(t, 10L, Seq((10L, 1000L, list1))))
    commitMetadata(t, 2, metadataJson(t, 11L, Seq((11L, 2000L, list2))))
    // no hint → v2 wins
    assert(IcebergTable.read(spark, t).as[(Long, String)].collect().toSet
      === Set((2L, "b")))
    // a STALE hint never hides newer metadata — HadoopTableOperations
    // probes past the hint, and with optimistic-concurrency writers a
    // hint can legitimately lag (it is written AFTER the commit CAS,
    // so two winners may land hints out of order); the reader serves
    // max(hint, directory scan)
    Files.writeString(Paths.get(t, "metadata", "version-hint.text"), "1")
    assert(IcebergTable.read(spark, t).as[(Long, String)].collect().toSet
      === Set((2L, "b")))
    // a hint pointing past the end (torn rollback tooling) falls back
    // to the scan rather than failing
    Files.writeString(Paths.get(t, "metadata", "version-hint.text"), "9")
    assert(IcebergTable.read(spark, t).as[(Long, String)].collect().toSet
      === Set((2L, "b")))
  }

  test("unsupported features fail loudly, never read wrong") {
    // format-version 4 (v3 is supported since the deletion-vector work)
    val t1 = Files.createTempDirectory("graft-ice-v4").toString
    commitMetadata(t1, 1, metadataJson(t1, 10L, Seq.empty, formatVersion = 4))
    val e1 = intercept[UnsupportedOperationException] {
      IcebergTable.snapshot(spark, t1)
    }
    assert(e1.getMessage.contains("format-version"))

    // delete manifest (v2 list with content=1)
    val t2 = Files.createTempDirectory("graft-ice-del").toString
    val f1 = writeDataFile(t2, "data/f1.parquet", Seq((1L, "a")).toDF("id", "s"))
    val m1 = s"$t2/metadata/m1.avro"
    val l1 = writeAvro(m1, V1Entry, Seq(entry(1, f1)))
    val r = new GenericData.Record(V2List)
    r.put("manifest_path", m1); r.put("manifest_length", l1)
    r.put("partition_spec_id", 0); r.put("content", 1)
    r.put("sequence_number", 1L); r.put("min_sequence_number", 1L)
    r.put("added_snapshot_id", 1L)
    val list = s"$t2/metadata/sl.avro"
    writeAvro(list, V2List, Seq(r))
    commitMetadata(t2, 1, metadataJson(t2, 10L, Seq((10L, 1000L, list))))
    val e2 = intercept[UnsupportedOperationException] {
      IcebergTable.snapshot(spark, t2)
    }
    assert(e2.getMessage.toLowerCase.contains("delete"))

    // UNKNOWN data file format (ORC and AVRO are served since r16)
    val t3 = Files.createTempDirectory("graft-ice-csv").toString
    val m3 = s"$t3/metadata/m1.avro"
    val l3 = writeAvro(m3, V1Entry, Seq(entry(1, "/nope.csv", fmt = "CSV")))
    val list3 = s"$t3/metadata/sl.avro"
    writeAvro(list3, V1List, Seq(listEntry(m3, l3)))
    commitMetadata(t3, 1, metadataJson(t3, 10L, Seq((10L, 1000L, list3))))
    val e3 = intercept[UnsupportedOperationException] {
      IcebergTable.snapshot(spark, t3)
    }
    assert(e3.getMessage.contains("CSV"))

    // v3 GEOMETRY/GEOGRAPHY types: no Spark mapping — the schema
    // parser must refuse loudly, never mis-map (same gate shape the
    // pre-#443 variant had)
    Seq("geometry", "geometry(srid:3857)", "geography",
      "geography(srid:4326,algorithm:spherical)").foreach { geo =>
      val tg = Files.createTempDirectory("graft-ice-geo").toString
      val mg = s"$tg/metadata/m1.avro"
      val fg = writeDataFile(tg, "data/f1.parquet",
        Seq((1L, "a")).toDF("id", "s"))
      val lg = writeAvro(mg, V1Entry, Seq(entry(1, fg)))
      val listg = s"$tg/metadata/slg.avro"
      writeAvro(listg, V1List, Seq(listEntry(mg, lg)))
      val geoSchema =
        s""""schema":{"type":"struct","fields":[
           |{"id":1,"name":"id","required":false,"type":"long"},
           |{"id":2,"name":"shape","required":false,"type":"$geo"}]}""".stripMargin
      commitMetadata(tg, 1,
        s"""{"format-version":3,"table-uuid":"11111111-2222-3333-4444-555555555555",
           |"location":"$tg","last-updated-ms":99,"last-column-id":2,
           |$geoSchema,
           |"partition-spec":[],"current-snapshot-id":10,
           |"snapshots":[{"snapshot-id":10,"timestamp-ms":1000,"manifest-list":"$listg","summary":{"operation":"append"}}]}""".stripMargin)
      val eg = intercept[UnsupportedOperationException] {
        IcebergTable.snapshot(spark, tg)
      }
      assert(eg.getMessage.contains("unsupported Iceberg type"),
        s"$geo: ${eg.getMessage}")
    }

    // not an iceberg table at all
    intercept[IllegalArgumentException] {
      IcebergTable.snapshot(spark,
        Files.createTempDirectory("graft-ice-none").toString)
    }
  }

  test("ORC data files serve: a mixed parquet+ORC foreign table reads hash-equal to its all-parquet twin; position-based reads refuse") {
    def writeAvroDataFile(dir: String, name: String,
                          df: org.apache.spark.sql.DataFrame): String = {
      val tmp = Files.createTempDirectory("graft-ice-avrodf").toString
      graft.sources.AvroFiles.write(df.coalesce(1), tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".avro")).get
      val dst = Paths.get(dir, name)
      Files.createDirectories(dst.getParent)
      Files.copy(part.toPath, dst)
      dst.toString
    }
    def build(dir: String, multi: Boolean): Unit = {
      val f1 = writeDataFile(dir, "data/f1.parquet",
        Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
      val f2 =
        if (multi) writeOrcDataFile(dir, "data/f2.orc",
          Seq((3L, "c"), (4L, "d")).toDF("id", "s"))
        else writeDataFile(dir, "data/f2.parquet",
          Seq((3L, "c"), (4L, "d")).toDF("id", "s"))
      val f3 =
        if (multi) writeAvroDataFile(dir, "data/f3.avro",
          Seq((5L, "e")).toDF("id", "s"))
        else writeDataFile(dir, "data/f3.parquet",
          Seq((5L, "e")).toDF("id", "s"))
      val m1 = s"$dir/metadata/m1.avro"
      val l1 = writeAvro(m1, V1Entry, Seq(
        entry(1, f1),
        entry(1, f2, fmt = if (multi) "ORC" else "PARQUET"),
        entry(1, f3, fmt = if (multi) "AVRO" else "PARQUET")))
      val list = s"$dir/metadata/sl.avro"
      writeAvro(list, V1List, Seq(listEntry(m1, l1)))
      commitMetadata(dir, 1, metadataJson(dir, 10L, Seq((10L, 1000L, list))))
    }
    val mixed = Files.createTempDirectory("graft-ice-mixed").toString
    val twin = Files.createTempDirectory("graft-ice-twin").toString
    build(mixed, multi = true)
    build(twin, multi = false)
    val gotMixed = IcebergTable.read(spark, mixed)
      .as[(Long, String)].collect().toSet
    val gotTwin = IcebergTable.read(spark, twin)
      .as[(Long, String)].collect().toSet
    assert(gotMixed === Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"),
      (5L, "e")))
    assert(gotMixed === gotTwin)
    // column pruning + filters flow into the ORC/AVRO scans too
    assert(IcebergTable.read(spark, mixed)
      .where(org.apache.spark.sql.functions.col("id") > 2L)
      .select("s").as[String].collect().toSet === Set("c", "d", "e"))
    // POSITION-based frames (row lineage, MOR application, DML match
    // detection) need row_index — ORC cannot serve them: loud
    val e = intercept[UnsupportedOperationException] {
      IcebergTable.readWithRowIds(spark, mixed).collect()
    }
    assert(e.getMessage.contains("position-based read"), e.getMessage)
    // the DSv2 scan decodes parquet — ORC routes to the resolving
    // reader with a loud pointer
    val e2 = intercept[Exception] {
      spark.read.format("graft-iceberg").load(mixed).collect()
    }
    assert(e2.toString.contains("resolving reader") ||
      Option(e2.getCause).exists(_.toString.contains("resolving reader")),
      e2.toString)
    // the change feed is parquet-only: loud
    val e3 = intercept[UnsupportedOperationException] {
      IcebergTable.changes(spark, mixed, -1L, 10L).collect()
    }
    assert(e3.getMessage.contains("non-parquet"), e3.getMessage)
  }

  test("v2 merge-on-read: position + equality deletes apply with sequence-number scoping") {
    val t = Files.createTempDirectory("graft-ice-mor").toString
    val f1 = writeDataFile(t, "data/f1.parquet",
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"))
    val f2 = writeDataFile(t, "data/f2.parquet",
      Seq((10L, "x"), (11L, "b")).toDF("id", "s"))
    // f3 lands at seq 3 — AFTER the equality delete (seq 2): its
    // s = "b" row must SURVIVE (strictly-older rule)
    val f3 = writeDataFile(t, "data/f3.parquet",
      Seq((20L, "b")).toDF("id", "s"))
    // position delete at seq 2: physical row 0 of f1 (id 1); the
    // file_path strings are the manifests' EXACT entries
    val posDel = writeDataFile(t, "data/pos-del-1.parquet",
      Seq((f1, 0L)).toDF("file_path", "pos"))
    // equality delete at seq 2 on field-id 2 (column s): s = "b" —
    // kills id 2 (f1) and id 11 (f2), NOT id 20 (f3, newer)
    val eqDel = writeDataFile(t, "data/eq-del-1.parquet",
      Seq(Tuple1("b")).toDF("s"))

    // data manifests (v1-shape entries, seq inherited from the list);
    // REAL file sizes — the DSv2 MOR scan plans byte ranges from the
    // manifest-recorded length, like any external Iceberg reader
    def len(p: String) = new java.io.File(p).length()
    val m1 = s"$t/metadata/m1.avro"
    val l1 = writeAvro(m1, V1Entry, Seq(
      entry(1, f1, nrec = 3L, size = len(f1)),
      entry(1, f2, nrec = 2L, size = len(f2))))
    val m3 = s"$t/metadata/m3.avro"
    val l3 = writeAvro(m3, V1Entry, Seq(entry(1, f3, size = len(f3))))
    // delete manifest via the library's authoring twin
    val schemaJson = """{"type":"struct","fields":[{"id":1,"name":"id","required":false,"type":"long"},{"id":2,"name":"s","required":false,"type":"string"}]}"""
    val delMf = IcebergTable.writeDeleteManifest(spark,
      new org.apache.hadoop.fs.Path(s"$t/metadata"), "del-1", schemaJson,
      Seq((posDel, len(posDel), 1L, 1, Seq.empty),
        (eqDel, len(eqDel), 1L, 2, Seq(2))),
      snapId = 10L, seq = 2L)

    def v2ListEntry(path: String, len: Long, content: Int, seq: Long): GenericRecord = {
      val r = new GenericData.Record(V2List)
      r.put("manifest_path", path); r.put("manifest_length", len)
      r.put("partition_spec_id", 0); r.put("content", content)
      r.put("sequence_number", seq); r.put("min_sequence_number", seq)
      r.put("added_snapshot_id", 10L)
      r
    }
    val list = s"$t/metadata/sl.avro"
    writeAvro(list, V2List, Seq(
      v2ListEntry(m1, l1, 0, 1L),
      v2ListEntry(m3, l3, 0, 3L),
      v2ListEntry(delMf.get("manifest_path").toString,
        delMf.get("manifest_length").asInstanceOf[Long], 1, 2L)))
    commitMetadata(t, 1,
      metadataJson(t, 10L, Seq((10L, 1000L, list)), formatVersion = 2))

    val snap = IcebergTable.snapshot(spark, t)
    assert(snap.deletes.map(d => (d.content, d.seq)).sorted
      === Seq((1, 2L), (2, 2L)))
    assert(snap.files.map(_.seq).sorted === Seq(1L, 1L, 3L))
    val got = IcebergTable.read(spark, t).as[(Long, String)].collect().toSet
    assert(got === Set(
      (3L, "c"), // f1 survivor: 1 gone by position, 2 gone by equality
      (10L, "x"), // f2 survivor: 11 ("b") gone by equality
      (20L, "b"))) // f3: newer than the equality delete — survives
    assert(IcebergTable.read(spark, t).count() === 3L)
    // the change feed serves the SAME merge-on-read state: a
    // delete-bearing initial snapshot inserts exactly its live rows
    // (position- and equality-dead rows never born into the feed)
    assert(IcebergTable.changes(spark, t, -1L, 10L)
      .select("id", "s", "_change_type")
      .as[(Long, String, String)].collect().toSet === Set(
      (3L, "c", "insert"), (10L, "x", "insert"), (20L, "b", "insert")))
    // the catalog scan serves the same merge-on-read state — position
    // AND equality deletes, sequence-scoped, decoded on the executors
    val root = Files.createTempDirectory("graft-ice-mor-cat").toString
    spark.conf.set("spark.sql.catalog.graft_m", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_m.root", root)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/ns"))
    val lfs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(
      lfs, new org.apache.hadoop.fs.Path(t),
      lfs, new org.apache.hadoop.fs.Path(s"$root/ns/mor"),
      false, spark.sparkContext.hadoopConfiguration)
    assert(spark.sql("SELECT * FROM graft_m.ns.mor").as[(Long, String)]
      .collect().toSet === Set((3L, "c"), (10L, "x"), (20L, "b")))
  }

  test("RENAME/DROP COLUMN: metadata-only; field ids resolve through the schema history") {
    val t = Files.createTempDirectory("graft-ice-ren").toString + "/t"
    IcebergTable.write(spark,
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "v", "n"), t)
    val firstSnap = IcebergTable.snapshot(spark, t).snapshotId
    val metaCount = new java.io.File(s"$t/metadata").listFiles()
      .count(_.getName.endsWith(".metadata.json"))

    // rename: ONE metadata bump, no data rewrite, old files read
    // under the NEW name
    IcebergTable.renameColumn(spark, t, "v", "label")
    assert(new java.io.File(s"$t/metadata").listFiles()
      .count(_.getName.endsWith(".metadata.json")) === metaCount + 1)
    val r1 = IcebergTable.read(spark, t)
    assert(r1.columns.toSeq === Seq("k", "label", "n"))
    assert(r1.as[(Long, String, Int)].collect().toSet
      === Set((1L, "a", 10), (2L, "b", 20)))
    // appends under the new name mix with pre-rename files
    IcebergTable.write(spark, Seq((3L, "c", 30)).toDF("k", "label", "n"), t)
    assert(IcebergTable.read(spark, t).as[(Long, String, Int)]
      .collect().toSet
      === Set((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)))
    // time travel keeps the snapshot's pinned names
    val tt = IcebergTable.read(spark, t, snapshotIdAsOf = Some(firstSnap))
    assert(tt.columns.toSeq === Seq("k", "v", "n"))
    assert(tt.as[(Long, String, Int)].collect().toSet
      === Set((1L, "a", 10), (2L, "b", 20)))

    // the name-based DSv2 scan gates loudly and points at the reader
    val root = Files.createTempDirectory("graft-ice-ren-cat").toString
    spark.conf.set("spark.sql.catalog.graft_ir", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_ir.root", root)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/ns"))
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(s"$root/ns/t"), java.nio.file.Paths.get(t))
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft_ir.ns.t").collect()
    }
    assert(e.getMessage.contains("schema history") ||
      Option(e.getCause).exists(_.getMessage.contains("schema history")),
      e.getMessage)
    // SQL ALTER routes by flavor (quoted-path form)
    spark.sql("ALTER TABLE '" + t + "' RENAME COLUMN n TO num")
    assert(IcebergTable.read(spark, t).columns.toSeq
      === Seq("k", "label", "num"))

    // DROP then re-ADD the same name: fresh field id — values never
    // resurrect, even from files that PHYSICALLY carry the old column
    spark.sql("ALTER TABLE '" + t + "' DROP COLUMN label")
    assert(IcebergTable.read(spark, t).columns.toSeq === Seq("k", "num"))
    IcebergTable.addColumns(spark, t,
      Seq(org.apache.spark.sql.types.StructField("label",
        org.apache.spark.sql.types.StringType)))
    val resurrect = IcebergTable.read(spark, t)
    assert(resurrect.columns.toSeq === Seq("k", "num", "label"))
    assert(resurrect.where(org.apache.spark.sql.functions.col("label").isNotNull).count() === 0L)
    // guards: unknown column, duplicate target, last column
    intercept[IllegalArgumentException] {
      IcebergTable.renameColumn(spark, t, "nope", "x")
    }
    intercept[IllegalArgumentException] {
      IcebergTable.renameColumn(spark, t, "k", "num")
    }

    // a column referenced by LIVE equality-delete files refuses
    // rename/drop (the delete parquet matches on its physical name)
    val te = Files.createTempDirectory("graft-ice-ren-eq").toString + "/t"
    IcebergTable.write(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), te)
    IcebergTable.upsertEquality(spark, te,
      Seq((2L, "B")).toDF("k", "v"), Seq("k"))
    val ee = intercept[IllegalArgumentException] {
      IcebergTable.renameColumn(spark, te, "k", "id")
    }
    assert(ee.getMessage.contains("equality-delete"), ee.getMessage)
    intercept[IllegalArgumentException] {
      IcebergTable.dropColumn(spark, te, "k")
    }
    // non-referenced columns still rename fine
    IcebergTable.renameColumn(spark, te, "v", "val")
    assert(IcebergTable.read(spark, te).columns.toSeq === Seq("k", "val"))

    // UNRESOLVABLE schema era on a renamed table gates LOUDLY: strip
    // a snapshot's schema-id pin — ambiguous files must not read
    // name-based (silent nulls)
    val mp2 = java.nio.file.Files.list(java.nio.file.Paths.get(te, "metadata"))
      .iterator()
    var latest2: java.nio.file.Path = null
    while (mp2.hasNext) {
      val p = mp2.next()
      if (p.getFileName.toString.matches("v\\d+\\.metadata\\.json") &&
        (latest2 == null ||
          p.getFileName.toString.stripPrefix("v").stripSuffix(".metadata.json").toInt >
            latest2.getFileName.toString.stripPrefix("v").stripSuffix(".metadata.json").toInt))
        latest2 = p
    }
    java.nio.file.Files.writeString(latest2,
      java.nio.file.Files.readString(latest2)
        .replaceAll("\"schema-id\"\\s*:\\s*0\\s*,", ""))
    java.nio.file.Files.deleteIfExists(latest2.getParent.resolve(
      "." + latest2.getFileName.toString + ".crc"))
    val eu = intercept[UnsupportedOperationException] {
      IcebergTable.read(spark, te).collect()
    }
    assert(eu.getMessage.contains("schema era"), eu.getMessage)
  }

  test("direct writer: create, append, overwrite, schema evolution") {
    val t = Files.createTempDirectory("graft-ice-w").toString + "/t"
    val s1 = IcebergTable.write(spark, Seq((1L, "a")).toDF("k", "v"), t)
    val s2 = IcebergTable.write(spark, Seq((2L, "b")).toDF("k", "v"), t)
    assert(Seq(s1, s2) === Seq(1L, 2L))
    // append accumulated both snapshots' files
    assert(IcebergTable.read(spark, t).as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b")))
    assert(IcebergTable.read(spark, t, snapshotIdAsOf = Some(1L))
      .as[(Long, String)].collect().toSet === Set((1L, "a")))
    // appending a different schema fails loudly
    val e = intercept[IllegalArgumentException] {
      IcebergTable.write(spark, Seq((3L, 9L)).toDF("k", "n"), t)
    }
    assert(e.getMessage.contains("schema"))
    // overwrite replaces the live set AND may evolve the schema
    val s3 = IcebergTable.write(spark, Seq((7L, 7L)).toDF("k", "n"), t,
      overwrite = true)
    assert(IcebergTable.read(spark, t).as[(Long, Long)].collect().toSet
      === Set((7L, 7L)))
    // old snapshots still read with the schema they were written under
    val old = IcebergTable.snapshot(spark, t, snapshotIdAsOf = Some(2L))
    assert(old.schema.fieldNames.toSeq === Seq("k", "v"))
    assert(IcebergTable.read(spark, t, snapshotIdAsOf = Some(2L))
      .as[(Long, String)].collect().toSet === Set((1L, "a"), (2L, "b")))
    // record counts stay real through the writer
    assert(IcebergTable.snapshot(spark, t, snapshotIdAsOf = Some(s3))
      .files.map(_.records).sum === 1L)
    assert(IcebergTable.history(spark, t).count() === 3L)
  }

  test("rewriteDataFiles compacts the pile and folds MOR deletes away") {
    import org.apache.spark.sql.functions.col
    val t = Files.createTempDirectory("graft-ice-rdf").toString + "/t"
    IcebergTable.write(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
    IcebergTable.write(spark, Seq((3L, "c")).toDF("k", "v"), t)
    IcebergTable.write(spark, Seq((4L, "d")).toDF("k", "v"), t)
    IcebergTable.delete(spark, t, col("k") === 2L) // MOR position delete
    val before = IcebergTable.snapshot(spark, t)
    assert(before.deletes.nonEmpty && before.files.size >= 3)
    val s = IcebergTable.rewriteDataFiles(spark, t)
    val after = IcebergTable.snapshot(spark, t)
    assert(after.snapshotId === s)
    assert(after.deletes.isEmpty, "delete pile must fold away")
    assert(after.files.size === 1, "small files must collapse")
    val expect = Set((1L, "a"), (3L, "c"), (4L, "d"))
    assert(IcebergTable.read(spark, t)
      .as[(Long, String)].collect().toSet === expect)
    // replace is a REAL snapshot: time travel to the MOR state works
    assert(IcebergTable.read(spark, t,
      snapshotIdAsOf = Some(before.snapshotId))
      .as[(Long, String)].collect().toSet === expect)
    // record counts stay real through compaction
    assert(after.files.map(_.records).sum === 3L)
    // expiring history keeps the compacted files servable
    IcebergTable.expireSnapshots(spark, t, keepSnapshots = 1)
    assert(IcebergTable.read(spark, t)
      .as[(Long, String)].collect().toSet === expect)
  }

  test("partitioned rewriteDataFiles bin-packs per partition and folds the delete pile") {
    import org.apache.spark.sql.functions.col
    val t = Files.createTempDirectory("graft-ice-prdf").toString + "/t"
    // hidden-partitioned (bucket transform) small-file pile: 3 appends
    (0 until 3).foreach { i =>
      IcebergTable.write(spark,
        (0L until 40L).map(k => (k * 3 + i, s"v$k-$i")).toDF("k", "v")
          .coalesce(1),
        t, partitionBy = Seq("bucket(2, k)"))
    }
    // MOR DML creates a per-partition delete pile
    IcebergTable.delete(spark, t, col("k") < 9L)
    IcebergTable.update(spark, t, col("k") === 30L,
      Map("v" -> org.apache.spark.sql.functions.lit("UPD")))
    val before = IcebergTable.snapshot(spark, t)
    assert(before.deletes.nonEmpty)
    assert(before.files.size > 2)
    val expect = IcebergTable.read(spark, t)
      .as[(Long, String)].collect().toSet
    val s = IcebergTable.rewriteDataFiles(spark, t)
    val after = IcebergTable.snapshot(spark, t)
    assert(after.snapshotId === s)
    assert(after.deletes.isEmpty, "delete pile must fold away")
    // ≤ ceil(bytes/target) files per partition — with the default
    // 128 MB target that is ONE file per bucket tuple
    val perTuple = after.files.groupBy(_.partitionTuple)
    assert(perTuple.keySet.size === 2, perTuple.keySet)
    assert(perTuple.values.forall(_.size === 1),
      perTuple.view.mapValues(_.size).toMap)
    // content identical, records real
    assert(IcebergTable.read(spark, t)
      .as[(Long, String)].collect().toSet === expect)
    assert(after.files.map(_.records).sum === expect.size.toLong)
    // transform pruning stays intact on the compacted layout
    val pruned = IcebergTable.prunedFiles(spark, after, col("k") === 30L)
    assert(pruned.size === 1, s"bucket pruning should keep 1 file, " +
      s"got ${pruned.size}")
    assert(IcebergTable.read(spark, t).where(col("k") === 30L)
      .as[(Long, String)].collect().toSeq === Seq((30L, "UPD")))

    // already packed + delete-free: the second call is a no-op commit
    assert(IcebergTable.rewriteDataFiles(spark, t) === s)

    // a tiny target splits a partition into MULTIPLE files, still
    // ≤ ceil(partition bytes / target) each (proportional salting);
    // a fresh MOR delete makes the compaction non-trivial again
    IcebergTable.delete(spark, t, col("k") === 60L)
    val liveBytes = after.files.map(f =>
      f.partitionTuple -> f.sizeBytes).toMap
    val expect2 = expect.filterNot(_._1 == 60L)
    val s2 = IcebergTable.rewriteDataFiles(spark, t,
      targetFileBytes = 700L)
    assert(s2 !== s)
    val split = IcebergTable.snapshot(spark, t)
    val byTuple = split.files.groupBy(_.partitionTuple)
    assert(byTuple.exists(_._2.size > 1),
      s"expected at least one partition to split, got " +
        byTuple.view.mapValues(_.size).toMap)
    byTuple.foreach { case (tuple, fs) =>
      val cap = (liveBytes(tuple) + 699L) / 700L
      assert(fs.size <= cap, s"tuple $tuple: ${fs.size} files > cap $cap")
    }
    assert(IcebergTable.read(spark, t)
      .as[(Long, String)].collect().toSet === expect2)
  }

  test("ALTER TABLE ADD/DROP PARTITION FIELD evolves the spec; mixed-spec eras read and prune soundly") {
    import org.apache.spark.sql.functions.col
    val t = Files.createTempDirectory("graft-ice-pspec").toString + "/t"
    // era 0: unpartitioned
    IcebergTable.write(spark,
      (0L until 20L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1), t)
    assert(IcebergTable.defaultSpecNames(spark, t) === Seq.empty)

    // evolve: hidden bucket partitioning from now on
    val sid1 = spark.sql("ALTER TABLE '" + t + "' ADD PARTITION FIELD " +
      "bucket(2, k)").as[Long].head()
    assert(sid1 === 1L)
    assert(IcebergTable.defaultSpecNames(spark, t) === Seq("bucket(2, k)"))
    // era 1: appends stage under the new layout (same key range, so
    // column-bounds pruning cannot mask the bucket-pruning assert)
    IcebergTable.write(spark,
      (0L until 20L).map(k => (k, s"w$k")).toDF("k", "v"), t,
      partitionBy = IcebergTable.defaultSpecNames(spark, t))
    val snap = IcebergTable.snapshot(spark, t)
    assert(snap.files.exists(_.specId === 0) &&
      snap.files.exists(_.specId === 1), snap.files.map(_.specId))
    assert(snap.files.filter(_.specId == 1)
      .forall(_.partitionTuple.contains("k_bucket")))
    // reads span both eras
    assert(IcebergTable.read(spark, t).count() === 40L)
    // pruning is SPEC-ID SCOPED: a bucket-equality predicate prunes
    // era-1 files to one bucket but always keeps the era-0 file
    val pruned = IcebergTable.prunedFiles(spark, snap, col("k") === 5L)
    assert(pruned.exists(_.specId == 0), "era-0 file must survive pruning")
    assert(pruned.count(_.specId == 1) <
      snap.files.count(_.specId == 1), "era-1 files must bucket-prune")
    assert(IcebergTable.read(spark, t).where(col("k") === 5L)
      .select("v").as[String].collect().toSet === Set("v5", "w5"))

    // the field id is stable and never reused: drop, then add another
    val sid0 = spark.sql("ALTER TABLE '" + t + "' DROP PARTITION FIELD " +
      "k_bucket").as[Long].head()
    assert(sid0 === 0L) // empty spec matches the original spec 0
    assert(IcebergTable.defaultSpecNames(spark, t) === Seq.empty)
    spark.sql("ALTER TABLE '" + t + "' ADD PARTITION FIELD truncate(2, v)")
    val meta = IcebergTable.snapshot(spark, t)
    assert(meta.specFields.map(_.fieldId) === Seq(1001),
      "a fresh partition field takes a FRESH id (1000 was used)")
    // dropping by canonical transform string also resolves
    spark.sql("ALTER TABLE '" + t + "' DROP PARTITION FIELD truncate(2, v)")
    assert(IcebergTable.defaultSpecNames(spark, t) === Seq.empty)

    // maintenance across mixed specs: rewriteManifests refuses with a
    // remedy; OPTIMIZE (rewriteDataFiles) migrates everything to the
    // default spec, after which rewriteManifests works
    val e = intercept[IllegalArgumentException] {
      IcebergTable.rewriteManifests(spark, t)
    }
    assert(e.getMessage.contains("OPTIMIZE"), e.getMessage)
    IcebergTable.rewriteDataFiles(spark, t)
    val after = IcebergTable.snapshot(spark, t)
    assert(after.files.forall(_.specId == after.defaultSpecId))
    assert(IcebergTable.read(spark, t).count() === 40L)
    IcebergTable.rewriteManifests(spark, t)
    assert(IcebergTable.read(spark, t).count() === 40L)

    // guards: unknown source column, duplicate field, unknown drop
    intercept[IllegalArgumentException] {
      IcebergTable.addPartitionField(spark, t, "bucket(4, nope)")
    }
    IcebergTable.addPartitionField(spark, t, "bucket(4, k)")
    intercept[IllegalArgumentException] {
      IcebergTable.addPartitionField(spark, t, "bucket(4, k)")
    }
    intercept[IllegalArgumentException] {
      IcebergTable.dropPartitionField(spark, t, "no_such_field")
    }

    // REPLACE PARTITION FIELD — the bucket-resize shape, ONE commit
    val metaBefore = IcebergTable.snapshot(spark, t)
    spark.sql("ALTER TABLE '" + t + "' REPLACE PARTITION FIELD " +
      "k_bucket WITH bucket(8, k)").collect()
    val resized = IcebergTable.snapshot(spark, t)
    assert(IcebergTable.defaultSpecNames(spark, t) === Seq("bucket(8, k)"))
    // the replacement field takes a FRESH id
    assert(resized.specFields.map(_.fieldId).forall(_ >
      metaBefore.specFields.map(_.fieldId).max))
    IcebergTable.write(spark,
      (100L until 110L).map(k => (k, s"x$k")).toDF("k", "v"), t,
      partitionBy = IcebergTable.defaultSpecNames(spark, t))
    assert(IcebergTable.read(spark, t).count() === 50L)

    // over-gate DML on the NOW spec-mixed table: the COW fallback
    // widens to a full rewrite (survivors span specs) and stays exact
    spark.conf.set("spark.graft.mor.maxDeleteRows", "2")
    try {
      IcebergTable.delete(spark, t, col("k") >= 100L && col("k") < 105L)
      assert(IcebergTable.read(spark, t).count() === 45L)
      val after = IcebergTable.snapshot(spark, t)
      assert(after.deletes.isEmpty)
      assert(after.files.forall(_.specId == after.defaultSpecId),
        "full-rewrite COW must land everything on the default spec")
    } finally spark.conf.unset("spark.graft.mor.maxDeleteRows")
  }

  test("mirrorFromDelta refuses real Iceberg targets; re-mirrors keep user properties") {
    import graft.sources.DeltaLog
    val root = Files.createTempDirectory("graft-mir-guard").toString
    // a REAL Iceberg table is never overwritten by mirror commits
    IcebergTable.write(spark, Seq((1L, "a")).toDF("k", "v"), s"$root/real")
    DeltaLog.write(spark, Seq((9L, "z")).toDF("k", "v"), s"$root/dl")
    val e = intercept[IllegalArgumentException] {
      IcebergTable.mirrorFromDelta(spark, s"$root/dl", Some(s"$root/real"))
    }
    assert(e.getMessage.contains("real Iceberg table"), e.getMessage)
    assert(IcebergTable.read(spark, s"$root/real")
      .as[(Long, String)].collect().toSet === Set((1L, "a")))
    // user-set properties on a mirror survive the next re-mirror
    IcebergTable.mirrorFromDelta(spark, s"$root/dl")
    IcebergTable.setProperties(spark, s"$root/dl", Map("owner" -> "graft"))
    DeltaLog.write(spark, Seq((10L, "y")).toDF("k", "v"), s"$root/dl")
    IcebergTable.mirrorFromDelta(spark, s"$root/dl")
    val props = IcebergTable.properties(spark, s"$root/dl")
    assert(props.get("owner").contains("graft"), props)
    assert(props.contains("graft.mirror-of"))
  }

  test("UniForm: every Delta commit auto-advances the in-place Iceberg mirror") {
    import graft.sources.DeltaLog
    import org.apache.spark.sql.functions.col
    val t = Files.createTempDirectory("graft-uniform").toString + "/t"
    DeltaLog.write(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t) // v0
    // enabling publishes the initial mirror right away
    DeltaLog.setTableProperties(spark, t,
      Map("delta.universalFormat.enabledFormats" -> "iceberg"))        // v1
    assert(IcebergTable.read(spark, t).as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b")))
    // append and copy-on-write delete each advance the mirror
    DeltaLog.write(spark, Seq((3L, "c")).toDF("k", "v"), t)            // v2
    assert(IcebergTable.read(spark, t).as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (3L, "c")))
    DeltaLog.delete(spark, t, col("k") === 1L)                         // v3
    assert(IcebergTable.read(spark, t).as[(Long, String)].collect().toSet
      === Set((2L, "b"), (3L, "c")))
    // the DV arm yields to copy-on-write — a mirror cannot express DVs
    spark.conf.set("spark.graft.dv.enabled", "true")
    try DeltaLog.delete(spark, t, col("k") === 2L)                     // v4
    finally spark.conf.unset("spark.graft.dv.enabled")
    assert(DeltaLog.snapshot(spark, t).files.forall(_.dv.isEmpty),
      "UniForm DML must never land deletion vectors")
    assert(IcebergTable.read(spark, t).as[(Long, String)].collect().toSet
      === Set((3L, "c")))
    // each advance is a REAL Iceberg snapshot: history time-travels
    assert(IcebergTable.snapshotIds(spark, t).size >= 3)
    // incompatible layouts refuse loudly BEFORE committing
    intercept[IllegalArgumentException] {
      DeltaLog.write(spark, Seq((9L, "x", "p1")).toDF("k", "v", "p"), t,
        overwrite = true, partitionBy = Seq("p"))
    }
    intercept[IllegalArgumentException] {
      DeltaLog.enableColumnMapping(spark, t)
    }
    // and enabling UniForm on a partitioned table refuses
    val tp = Files.createTempDirectory("graft-uniform-p").toString + "/t"
    DeltaLog.write(spark, Seq((1L, "a", "p1")).toDF("k", "v", "p"), tp,
      partitionBy = Seq("p"))
    intercept[IllegalArgumentException] {
      DeltaLog.setTableProperties(spark, tp,
        Map("delta.universalFormat.enabledFormats" -> "iceberg"))
    }
  }

  test("rollbackTo: pointer move to an older snapshot, history and sequencing intact") {
    import org.apache.spark.sql.functions.col
    val t = Files.createTempDirectory("graft-ice-rb").toString + "/t"
    val s1 = IcebergTable.write(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
    val s2 = IcebergTable.write(spark, Seq((3L, "c")).toDF("k", "v"), t)
    IcebergTable.delete(spark, t, col("k") === 1L) // s3: MOR delete
    assert(IcebergTable.read(spark, t).as[(Long, String)].collect().toSet
      === Set((2L, "b"), (3L, "c")))
    // roll back past the delete AND the second append
    assert(IcebergTable.rollbackTo(spark, t, s1) === s1)
    assert(IcebergTable.read(spark, t).as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b")))
    // nothing expired: the rolled-past snapshots still time-travel
    assert(IcebergTable.read(spark, t, snapshotIdAsOf = Some(s2))
      .as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (3L, "c")))
    // a new append builds on the ROLLED-BACK state, at a strictly
    // newer sequence (the counter never rewinds)
    IcebergTable.write(spark, Seq((9L, "z")).toDF("k", "v"), t)
    assert(IcebergTable.read(spark, t).as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (9L, "z")))
    // rolling back to the current snapshot is a no-op; unknown /
    // expired ids refuse loudly
    val cur = IcebergTable.snapshot(spark, t).snapshotId
    assert(IcebergTable.rollbackTo(spark, t, cur) === cur)
    val e = intercept[IllegalArgumentException] {
      IcebergTable.rollbackTo(spark, t, 424242L)
    }
    assert(e.getMessage.contains("snapshots list"), e.getMessage)
  }

  test("addColumns: metadata-only evolution, null-filled reads, evolved appends") {
    import org.apache.spark.sql.functions.col
    val t = Files.createTempDirectory("graft-ice-add").toString + "/t"
    IcebergTable.write(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
    val metaFiles = new java.io.File(s"$t/metadata").list()
      .count(_.endsWith(".metadata.json"))
    IcebergTable.addColumns(spark, t,
      Seq(StructField("score", DoubleType, nullable = true)))
    // ONE metadata bump, zero new snapshots / data files
    assert(new java.io.File(s"$t/metadata").list()
      .count(_.endsWith(".metadata.json")) === metaFiles + 1)
    assert(IcebergTable.snapshotIds(spark, t).size === 1)
    // current read serves the new column as null over old files
    assert(IcebergTable.read(spark, t).columns.toSeq === Seq("k", "v", "score"))
    assert(IcebergTable.read(spark, t)
      .where(col("score").isNull).count() === 2L)
    // time travel keeps the snapshot's pinned 2-column schema
    assert(IcebergTable.read(spark, t, snapshotIdAsOf = Some(1L))
      .columns.toSeq === Seq("k", "v"))
    // appends now carry the evolved shape, and DML sees it
    IcebergTable.write(spark,
      Seq((3L, "c", Some(0.5))).toDF("k", "v", "score"), t)
    assert(IcebergTable.read(spark, t)
      .as[(Long, String, Option[Double])].collect().toSet
      === Set((1L, "a", None), (2L, "b", None), (3L, "c", Some(0.5))))
    // field ids are FRESH (never reused): last-column-id advanced
    val meta = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(s"$t/metadata").listFiles()
        .filter(_.getName.endsWith(".metadata.json"))
        .maxBy(_.getName).toPath), "UTF-8")
    assert(meta.contains("\"last-column-id\" : 3"))
    // duplicate and non-nullable adds refuse loudly
    intercept[IllegalArgumentException] {
      IcebergTable.addColumns(spark, t,
        Seq(StructField("v", StringType, nullable = true)))
    }
    intercept[IllegalArgumentException] {
      IcebergTable.addColumns(spark, t,
        Seq(StructField("req", LongType, nullable = false)))
    }
  }

  test("mirrorFromDelta: zero-copy in-place Iceberg view of a Delta table") {
    import graft.sources.DeltaLog
    def deScheme(s: String) = s.replaceFirst("^[a-zA-Z0-9]+:(//)?", "")
    val t = Files.createTempDirectory("graft-ice-mirror").toString + "/t"
    DeltaLog.write(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
    val s1 = IcebergTable.mirrorFromDelta(spark, t)
    // same rows through the Iceberg reader, in the same directory
    assert(IcebergTable.read(spark, t).as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b")))
    // ADOPTED, not copied: both formats reference the same parquet
    val dfiles = DeltaLog.snapshot(spark, t).files
      .map(f => deScheme(f.path)).toSet
    val ifiles = IcebergTable.snapshot(spark, t).files
      .map(f => deScheme(f.path)).toSet
    assert(ifiles === dfiles)
    // record counts are REAL (from the Delta stats JSON, no data scan)
    assert(IcebergTable.snapshot(spark, t).files.map(_.records).sum === 2L)
    // and the manifests carry footer bounds -> external data skipping
    assert(IcebergTable.snapshot(spark, t).files
      .forall(_.bounds.contains("k")))
    // Delta stays the writer of record; a re-mirror advances the view
    DeltaLog.write(spark, Seq((3L, "c")).toDF("k", "v"), t)
    val s2 = IcebergTable.mirrorFromDelta(spark, t)
    assert(s2 === s1 + 1)
    assert(IcebergTable.read(spark, t).count() === 3L)
    // ...while the earlier mirror snapshot still time-travels
    assert(IcebergTable.read(spark, t, snapshotIdAsOf = Some(s1))
      .count() === 2L)
    // the catalog still serves the directory as DELTA (owner flavor)
    // and physical cleanup through the mirror refuses
    val e = intercept[UnsupportedOperationException] {
      IcebergTable.expireSnapshots(spark, t, keepSnapshots = 1)
    }
    assert(e.getMessage.contains("mirror"), e.getMessage)
    // partitioned Delta sources refuse (hive layout drops the
    // partition columns from the data files)
    val tp = Files.createTempDirectory("graft-ice-mirror-p").toString + "/t"
    DeltaLog.write(spark, Seq((1L, "x", 1)).toDF("k", "p", "n"), tp,
      partitionBy = Seq("p"))
    intercept[IllegalArgumentException] {
      IcebergTable.mirrorFromDelta(spark, tp)
    }
  }

  test("streaming foreachBatch sink writes real Iceberg snapshots") {
    val dir = Files.createTempDirectory("graft-ice-stream").toString
    Files.createDirectories(Paths.get(s"$dir/in"))
    Files.writeString(Paths.get(s"$dir/in/b1.json"),
      """[{"k": 1, "v": "a"}, {"k": 2, "v": "b"}]""")
    Files.writeString(Paths.get(s"$dir/in/b2.json"),
      """[{"k": 3, "v": "c"}]""")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, v STRING")
    val ice = s"$dir/ice"
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").option("multiLine", "true")
      .json(s"$dir/in")
      .writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        IcebergTable.write(spark, batch, ice); ()
      }.start()
    q.awaitTermination(120000)
    assert(IcebergTable.read(spark, ice).as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(IcebergTable.history(spark, ice).count() === 2L)
  }

  test("incremental changes feed converges a replica across three snapshots") {
    val t = Files.createTempDirectory("graft-ice-cdc").toString + "/t"
    val s1 = IcebergTable.write(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
    val s2 = IcebergTable.write(spark, Seq((3L, "c")).toDF("k", "v"), t)
    val s3 = IcebergTable.write(spark, Seq((9L, "z")).toDF("k", "v"), t,
      overwrite = true)
    assert(IcebergTable.snapshotIds(spark, t) === Seq(s1, s2, s3))
    // full-range poll: appends insert, the overwrite deletes + inserts
    val ch = IcebergTable.changes(spark, t, -1L, s3)
      .select("k", "v", "_change_type", "_commit_snapshot_id")
      .as[(Long, String, String, Long)].collect().toSet
    assert(ch === Set(
      (1L, "a", "insert", s1), (2L, "b", "insert", s1),
      (3L, "c", "insert", s2),
      (1L, "a", "delete", s3), (2L, "b", "delete", s3), (3L, "c", "delete", s3),
      (9L, "z", "insert", s3)))
    // incremental replica through syncChanges polls
    var offset = -1L
    val replica = scala.collection.mutable.Set[(Long, String)]()
    def poll(): Unit = {
      val (next, diff) = IcebergTable.syncChanges(spark, t, offset)
      diff.foreach(_.select("k", "v", "_change_type", "_commit_snapshot_id")
        .as[(Long, String, String, Long)].collect().sortBy(_._4)
        .foreach {
          case (k, v, "insert", _) => replica += ((k, v))
          case (k, v, "delete", _) => replica -= ((k, v))
          case other => fail(s"unexpected change row $other")
        })
      offset = next
    }
    poll() // catches up through all three snapshots at once
    assert(offset === s3)
    assert(replica.toSet ===
      IcebergTable.read(spark, t).as[(Long, String)].collect().toSet)
    // idle poll: no diff, offset unchanged
    val (again, none) = IcebergTable.syncChanges(spark, t, offset)
    assert(again === s3 && none.isEmpty)
    // sub-range poll sees only its snapshot's diff
    val tail = IcebergTable.changes(spark, t, s2, s3)
    assert(tail.where($"_change_type" === "insert").select("k")
      .as[Long].collect().toSeq === Seq(9L))
  }

  test("changes(): EQUALITY-delete commits serve row-level (the Flink-CDC upsert shape), exactly once, seq-scoped") {
    val t = Files.createTempDirectory("graft-ice-cdceq").toString + "/t"
    val s0 = IcebergTable.write(spark,
      (1L to 4L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1), t)
    // upsert = ONE snapshot: equality delete on k + fresh data file
    val s1 = IcebergTable.upsertEquality(spark, t,
      Seq((2L, "UP"), (5L, "NEW")).toDF("k", "v"), Seq("k"))
    assert(IcebergTable.snapshot(spark, t).deletes.exists(_.content == 2))
    val ch1 = IcebergTable.changes(spark, t, s0, s1)
      .select("k", "v", "_change_type")
      .as[(Long, String, String)].collect().toSet
    // the matched pre-image row deletes; the upsert's own file (same
    // seq as its equality delete — NOT strictly newer) inserts whole
    assert(ch1 === Set((2L, "v2", "delete"),
      (2L, "UP", "insert"), (5L, "NEW", "insert")))

    // a later POSITION delete must not replay the equality-dead row
    IcebergTable.delete(spark, t, $"k" === 3L)
    val s2 = IcebergTable.snapshot(spark, t).snapshotId
    val ch2 = IcebergTable.changes(spark, t, s1, s2)
      .select("k", "v", "_change_type")
      .as[(Long, String, String)].collect().toSet
    assert(ch2 === Set((3L, "v3", "delete")))

    // a SECOND upsert on the same key: only the CURRENT image of k=2
    // (the s1 row, seq-scoped) deletes — v2/v1 images stay dead-quiet
    val s3 = IcebergTable.upsertEquality(spark, t,
      Seq((2L, "UP2")).toDF("k", "v"), Seq("k"))
    val ch3 = IcebergTable.changes(spark, t, s2, s3)
      .select("k", "v", "_change_type")
      .as[(Long, String, String)].collect().toSet
    assert(ch3 === Set((2L, "UP", "delete"), (2L, "UP2", "insert")))

    // full-range replica convergence (exactly-once: a multiset replay
    // with counted applies would diverge on any duplicate emission)
    val replica = scala.collection.mutable.Map[(Long, String), Int]()
    IcebergTable.changes(spark, t, -1L, s3)
      .select("k", "v", "_change_type", "_commit_snapshot_id")
      .as[(Long, String, String, Long)].collect()
      .sortBy(_._4).foreach {
        case (k, v, "insert", _) =>
          replica.updateWith((k, v))(c => Some(c.getOrElse(0) + 1))
        case (k, v, "delete", _) =>
          replica.updateWith((k, v)) {
            case Some(1) => None
            case other => fail(s"delete of ($k,$v) at count $other"); None
          }
        case other => fail(s"unexpected change row $other")
      }
    assert(replica.values.forall(_ == 1))
    assert(replica.keySet ===
      IcebergTable.read(spark, t).as[(Long, String)].collect().toSet)
  }

  test("catalog serves the iceberg flavor by name, with time travel") {
    val root = Files.createTempDirectory("graft-cat-ice").toString
    Files.createDirectories(Paths.get(root, "lake"))
    val t = s"$root/lake/docs"
    IcebergTable.write(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
    IcebergTable.write(spark, Seq((9L, "z")).toDF("k", "v"), t, overwrite = true)
    spark.conf.set("spark.sql.catalog.icecat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.icecat.root", root)
    try {
      assert(spark.sql("SELECT k, v FROM icecat.lake.docs ORDER BY k")
        .as[(Long, String)].collect().toSeq === Seq((9L, "z")))
      assert(spark.sql("SELECT k, v FROM icecat.lake.docs VERSION AS OF 1 ORDER BY k")
        .as[(Long, String)].collect().toSeq === Seq((1L, "a"), (2L, "b")))
    } finally {
      spark.conf.unset("spark.sql.catalog.icecat")
      spark.conf.unset("spark.sql.catalog.icecat.root")
    }
  }
}
