package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{DeltaLog, IcebergTable}

/** The SQL statement surface: OPTIMIZE / VACUUM (extension parser)
  * and UPDATE / MERGE INTO (resolution-rule routing) — the
  * statements the reference literally issues on its gold layer
  * (gold_transformation.py:85,160,171) plus the row-level DML a
  * SQL-only Delta user writes. Every path is the COMMITTING library
  * implementation; these specs assert the statements reach it. */
class SqlStatementsSpec extends SparkSpec {
  import spark.implicits._

  private def catalogRoot(tag: String): String = {
    val root = Files.createTempDirectory(s"graft-sqlstmt-$tag").toString
    spark.conf.set(s"spark.sql.catalog.gsql_$tag", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.gsql_$tag.root", root)
    root
  }

  test("SQL OPTIMIZE compacts a Delta catalog table as a dataChange=false commit") {
    val root = catalogRoot("opt")
    val t = s"$root/ns/t"
    // three commits -> three files
    DeltaLog.write(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1), t)
    DeltaLog.write(spark, Seq((3L, "c")).toDF("k", "v").coalesce(1), t)
    DeltaLog.write(spark, Seq((4L, "d")).toDF("k", "v").coalesce(1), t)
    assert(DeltaLog.snapshot(spark, t).files.size === 3)
    val out = spark.sql("OPTIMIZE gsql_opt.ns.t").collect()
    assert(out.length === 1 && out(0).getLong(1) === 3L)
    val snap = DeltaLog.snapshot(spark, t)
    assert(snap.version === 3L && snap.files.size === 1)
    assert(DeltaLog.read(spark, t).as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    // the swap is dataChange=false (invisible to CDC/streaming)
    val log = Files.readString(java.nio.file.Paths.get(t,
      "_delta_log", f"${3L}%020d.json"))
    assert(log.contains("\"dataChange\":false") &&
      !log.contains("\"dataChange\":true"), log)
    // already compact -> no empty commit
    assert(spark.sql("OPTIMIZE gsql_opt.ns.t").collect()(0).getLong(1) === 3L)
  }

  test("SQL OPTIMIZE ZORDER BY on a quoted path; VACUUM with RETAIN + DRY RUN") {
    val dir = Files.createTempDirectory("graft-sqlstmt-z").toString + "/t"
    DeltaLog.write(spark, (1L to 100L).map(i => (i, i % 7, i % 11))
      .toDF("id", "a", "b").repartition(4), dir)
    val v = spark.sql(s"OPTIMIZE '$dir' ZORDER BY (a, b)").collect()(0).getLong(1)
    assert(v === 1L)
    assert(DeltaLog.read(spark, dir).count() === 100L)
    // unknown Z column refused loudly
    intercept[IllegalArgumentException] {
      spark.sql(s"OPTIMIZE '$dir' ZORDER BY (nope)").collect()
    }
    // DRY RUN lists the pre-optimize files but deletes nothing
    val dry = spark.sql(s"VACUUM '$dir' RETAIN 1 VERSIONS DRY RUN").collect()
    assert(dry.nonEmpty)
    assert(DeltaLog.read(spark, dir, versionAsOf = Some(0L)).count() === 100L)
    // real vacuum: old files gone, v0 time travel now fails loudly
    val gone = spark.sql(s"VACUUM '$dir' RETAIN 1 VERSIONS").collect()
    assert(gone.map(_.getString(0)).toSet === dry.map(_.getString(0)).toSet)
    assert(DeltaLog.read(spark, dir).count() === 100L)
    intercept[Exception] {
      DeltaLog.read(spark, dir, versionAsOf = Some(0L)).count()
    }
  }

  test("DESCRIBE DETAIL: one metadata-only summary row per flavor") {
    val td = Files.createTempDirectory("graft-sqlstmt-dd").toString + "/t"
    DeltaLog.write(spark, Seq((1L, "a", "x"), (2L, "b", "y"))
      .toDF("k", "v", "p"), td, partitionBy = Seq("p"))
    DeltaLog.setTableProperties(spark, td, Map("owner" -> "graft"))
    val d = spark.sql(s"DESCRIBE DETAIL '$td'").collect()(0)
    assert(d.getString(0) === "delta")
    assert(d.getLong(2) === 1L)       // version after the property set
    assert(d.getLong(3) >= 1L)        // files
    assert(d.getLong(5) === 2L)       // rows from per-file stats
    assert(d.getString(6) === "[p]")
    assert(d.getString(7).contains("owner=graft"))

    val ti = Files.createTempDirectory("graft-sqlstmt-ddi").toString + "/t"
    IcebergTable.write(spark, (0L until 10L).map(k => (k, s"v$k"))
      .toDF("k", "v"), ti, partitionBy = Seq("bucket(2, k)"))
    IcebergTable.delete(spark, ti, col("k") < 3L) // MOR position deletes
    val i = spark.sql(s"DESCRIBE DETAIL '$ti'").collect()(0)
    assert(i.getString(0) === "iceberg")
    assert(i.getLong(5) === 7L)       // live rows: deletes subtracted
    assert(i.getString(6) === "[bucket(2, k)]")
  }

  test("VACUUM RETAIN n HOURS: time-based retention through commit timestamps") {
    val dir = Files.createTempDirectory("graft-sqlstmt-vh").toString + "/t"
    DeltaLog.write(spark, Seq((1L, "a")).toDF("k", "v"), dir)          // v0
    DeltaLog.write(spark, Seq((2L, "b")).toDF("k", "v"), dir,
      overwrite = true)                                                // v1
    // everything is younger than 1000 hours: nothing reclaims
    assert(spark.sql(s"VACUUM '$dir' RETAIN 1000 HOURS").collect().isEmpty)
    assert(DeltaLog.read(spark, dir, versionAsOf = Some(0L)).count() === 1L)
    // backdate v0's commit 3 hours: RETAIN 1 HOURS reclaims its files
    val v0 = new java.io.File(s"$dir/_delta_log",
      "0" * 19 + "0.json")
    assert(v0.setLastModified(System.currentTimeMillis() - 3 * 3600 * 1000L))
    val gone = spark.sql(s"VACUUM '$dir' RETAIN 1 HOURS").collect()
    assert(gone.nonEmpty)
    assert(DeltaLog.read(spark, dir).as[(Long, String)].collect().toSeq
      === Seq((2L, "b")))
    intercept[Exception] {
      DeltaLog.read(spark, dir, versionAsOf = Some(0L)).count()
    }
    // Iceberg flavor: RETAIN n HOURS maps through snapshot timestamps
    val it = Files.createTempDirectory("graft-sqlstmt-vhi").toString + "/t"
    IcebergTable.write(spark, Seq((1L, "a")).toDF("k", "v"), it)
    IcebergTable.write(spark, Seq((2L, "b")).toDF("k", "v"), it)
    assert(spark.sql(s"VACUUM '$it' RETAIN 1000 HOURS").collect().isEmpty)
    assert(IcebergTable.snapshotIds(spark, it).size === 2)
  }

  test("SQL OPTIMIZE on Iceberg = manifest compaction; VACUUM = snapshot expiration") {
    val dir = Files.createTempDirectory("graft-sqlstmt-ice").toString + "/t"
    IcebergTable.write(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir)
    IcebergTable.write(spark, Seq((3L, "c")).toDF("k", "v"), dir)
    val before = IcebergTable.snapshot(spark, dir)
    assert(before.files.size >= 2)
    // the appended data-file pile (append carried the first
    // snapshot's files forward) -> one
    val newSnap = spark.sql(s"OPTIMIZE '$dir'").collect()(0).getLong(1)
    assert(newSnap === 3L)
    val after = IcebergTable.snapshot(spark, dir)
    assert(after.snapshotId === newSnap)
    assert(after.files.size === 1)
    assert(IcebergTable.read(spark, dir).as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (3L, "c")))
    // the replace changes file membership but ZERO row content —
    // Iceberg's changelog scan excludes replace snapshots, so the
    // feed over a compaction-only range is EMPTY (no spurious
    // delete+insert replay of every compacted row)
    val feed = IcebergTable.changes(spark, dir, before.snapshotId, newSnap)
    assert(feed.count() === 0L)
    // idempotent: already compact -> no new snapshot
    assert(spark.sql(s"OPTIMIZE '$dir'").collect()(0).getLong(1) === newSnap)

    // an overwrite strands the old files; expiration reclaims them
    IcebergTable.write(spark, Seq((9L, "z")).toDF("k", "v"), dir, overwrite = true)
    val victims = spark.sql(s"VACUUM '$dir'").collect().map(_.getString(0))
    assert(victims.exists(_.endsWith(".parquet")), victims.toSeq)
    // live snapshot intact; expired ids now fail loudly at resolution
    assert(IcebergTable.read(spark, dir).as[(Long, String)].collect().toSet
      === Set((9L, "z")))
    intercept[IllegalArgumentException] {
      IcebergTable.snapshot(spark, dir, snapshotIdAsOf = Some(1L))
    }
    assert(IcebergTable.snapshotIds(spark, dir).size === 1)
  }

  test("SQL UPDATE routes to copy-on-write DeltaLog.update") {
    val root = catalogRoot("upd")
    val t = s"$root/ns/t"
    DeltaLog.write(spark,
      Seq((1L, "x", 10), (2L, "x", 20), (3L, "y", 30)).toDF("id", "p", "n"),
      t, partitionBy = Seq("p"))
    spark.sql("UPDATE gsql_upd.ns.t SET n = n + 100 WHERE p = 'x' AND id >= 2")
    assert(spark.sql("SELECT id, n FROM gsql_upd.ns.t ORDER BY id")
      .as[(Long, Int)].collect().toSeq
      === Seq((1L, 10), (2L, 120), (3L, 30)))
    // exactly one version committed; time travel intact
    assert(DeltaLog.snapshot(spark, t).version === 1L)
    assert(DeltaLog.read(spark, t, versionAsOf = Some(0L))
      .where(col("id") === 2L).select("n").as[Int].collect().toSeq === Seq(20))
    // partition-column assignment refused (the library's loud gate)
    intercept[Exception] {
      spark.sql("UPDATE gsql_upd.ns.t SET p = 'z' WHERE id = 1")
    }
    // unconditional UPDATE (no WHERE) touches every row
    spark.sql("UPDATE gsql_upd.ns.t SET n = 0")
    assert(spark.sql("SELECT sum(n) FROM gsql_upd.ns.t").as[Long].head() === 0L)
    // SIMULTANEOUS assignment semantics: SET a = b, b = a must SWAP
    // (a sequential apply would silently turn it into a copy)
    val rootS = catalogRoot("swap")
    DeltaLog.write(spark, Seq((1L, 10L, 20L)).toDF("k", "a", "b"),
      s"$rootS/ns/t")
    spark.sql("UPDATE gsql_swap.ns.t SET a = b, b = a WHERE k = 1")
    assert(spark.sql("SELECT a, b FROM gsql_swap.ns.t")
      .as[(Long, Long)].head() === ((20L, 10L)))
  }

  test("SQL MERGE INTO routes to the keyed-upsert DeltaLog.merge; other shapes refuse") {
    val root = catalogRoot("mrg")
    val t = s"$root/ns/t"
    DeltaLog.write(spark,
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "v", "n"), t)
    Seq((2L, "B2", 200), (9L, "z", 90)).toDF("k", "v", "n")
      .createOrReplaceTempView("mrg_src")
    spark.sql(
      """MERGE INTO gsql_mrg.ns.t AS t USING mrg_src AS s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql("SELECT * FROM gsql_mrg.ns.t").as[(Long, String, Int)]
      .collect().toSet
      === Set((1L, "a", 10), (2L, "B2", 200), (9L, "z", 90)))
    assert(DeltaLog.snapshot(spark, t).version === 1L)
    // CDC sees the merge
    val ch = DeltaLog.changes(spark, t, 0L, 1L)
      .select("k", "_change_type").as[(Long, String)].collect().toSet
    assert(ch.contains((2L, "delete")) && ch.contains((2L, "insert")) &&
      ch.contains((9L, "insert")))
    // a PURE non-equi ON (no equality anchor) is refused loudly,
    // never half-applied (anchored non-equi conjuncts are supported —
    // see the multi-clause spec)
    val e2 = intercept[Exception] {
      spark.sql(
        """MERGE INTO gsql_mrg.ns.t AS t USING mrg_src AS s ON t.k < s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(e2.getMessage.contains("join anchor"), e2.getMessage)
    // duplicate source keys: the library's counted ambiguity gate
    Seq((5L, "x", 1), (5L, "y", 2)).toDF("k", "v", "n")
      .createOrReplaceTempView("mrg_dup")
    intercept[Exception] {
      spark.sql(
        """MERGE INTO gsql_mrg.ns.t AS t USING mrg_dup AS s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(spark.sql("SELECT count(*) FROM gsql_mrg.ns.t").as[Long].head() === 3L)
  }

  test("CREATE TABLE USING iceberg / versioned: schema + spec bind before the first row") {
    val root = catalogRoot("ctab")
    val ti = s"$root/ns/it"
    spark.sql(s"CREATE TABLE '$ti' (k BIGINT NOT NULL, ts TIMESTAMP, " +
      "v STRING) USING iceberg PARTITIONED BY (bucket(4, k)) " +
      "TBLPROPERTIES ('owner'='graft')")
    val snap0 = IcebergTable.snapshot(spark, ti)
    assert(snap0.snapshotId === -1L) // no snapshot — schema-first
    assert(snap0.schema.fieldNames.toSeq === Seq("k", "ts", "v"))
    assert(IcebergTable.defaultSpecNames(spark, ti) === Seq("bucket(4, k)"))
    assert(IcebergTable.properties(spark, ti)("owner") === "graft")
    // IF NOT EXISTS no-ops; a bare re-create refuses
    spark.sql(s"CREATE TABLE IF NOT EXISTS '$ti' (x INT) USING iceberg")
    assert(IcebergTable.snapshot(spark, ti).schema.fieldNames.toSeq
      === Seq("k", "ts", "v"))
    intercept[Exception] {
      spark.sql(s"CREATE TABLE '$ti' (x INT) USING iceberg")
    }
    // the first INSERT adopts the declared hidden spec
    spark.sql("INSERT INTO gsql_ctab.ns.it VALUES " +
      "(1, TIMESTAMP '2024-01-01 00:00:00', 'a'), " +
      "(2, TIMESTAMP '2024-01-02 00:00:00', 'b')")
    val snap1 = IcebergTable.snapshot(spark, ti)
    assert(snap1.files.nonEmpty &&
      snap1.files.forall(_.partitionTuple.keySet === Set("k_bucket")))
    assert(spark.sql("SELECT k FROM gsql_ctab.ns.it ORDER BY k")
      .as[Long].collect().toSeq === Seq(1L, 2L))
    // the declared schema binds appends
    intercept[Exception] {
      IcebergTable.write(spark, Seq((1, "x")).toDF("a", "b"), ti)
    }
    // MERGE with only WHEN NOT MATCHED into the still-EMPTY iceberg
    // table is the routine first-load shape — a plain append
    val ti2 = s"$root/ns/it2"
    spark.sql(s"CREATE TABLE '$ti2' (k BIGINT, v STRING) USING iceberg")
    Seq((5L, "e"), (6L, "f")).toDF("k", "v")
      .createOrReplaceTempView("ctab_first")
    spark.sql(
      """MERGE INTO gsql_ctab.ns.it2 AS t USING ctab_first AS s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED AND s.k > 5 THEN INSERT *""".stripMargin)
    assert(spark.sql("SELECT k FROM gsql_ctab.ns.it2").as[Long]
      .collect().toSeq === Seq(6L))

    // unknown providers refuse loudly — the retired graft-versioned
    // format among them — and create nothing
    intercept[UnsupportedOperationException] {
      spark.sql(s"CREATE TABLE '$root/ns/x' (k INT) USING hudi")
    }
    val ev = intercept[UnsupportedOperationException] {
      spark.sql(s"CREATE TABLE '$root/ns/x' (k INT) USING versioned")
    }
    assert(ev.getMessage.contains("not supported"), ev.getMessage)
    assert(!new java.io.File(s"$root/ns/x").exists())
  }

  test("MULTI-CLAUSE SQL MERGE: ordered WHEN MATCHED clauses apply first-match-wins; CDC legs split by clause") {
    val root = catalogRoot("mmrg")
    val t = s"$root/ns/t"
    DeltaLog.write(spark,
      Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30), (4L, "d", 40))
        .toDF("k", "v", "n"), t)
    DeltaLog.setTableProperties(spark, t,
      Map("delta.enableChangeDataFeed" -> "true")) // v1
    Seq((1L, "x", 100), (2L, "y", 5), (3L, "z", 1), (9L, "w", 90))
      .toDF("k", "v", "n").createOrReplaceTempView("mmrg_src")
    // the SCD "update-then-delete" two-clause shape: fresh rows
    // update, stale matches fall through to the DELETE clause
    spark.sql(
      """MERGE INTO gsql_mmrg.ns.t AS t USING mmrg_src AS s ON t.k = s.k
        |WHEN MATCHED AND s.n > 50 THEN UPDATE SET v = s.v, n = s.n
        |WHEN MATCHED THEN DELETE
        |WHEN NOT MATCHED AND s.n > 50 THEN INSERT *""".stripMargin) // v2
    // k=1: first clause wins (update); k=2,3: fall through → delete;
    // k=4: no source row → survives; k=9: n=90>50 → inserts
    assert(spark.sql("SELECT * FROM gsql_mmrg.ns.t")
      .as[(Long, String, Int)].collect().toSet
      === Set((1L, "x", 100), (4L, "d", 40), (9L, "w", 90)))
    // CDC: pre/post for the UPDATE-clause row, delete for the
    // fall-through rows, insert for the new key — one commit
    val ch = DeltaLog.changes(spark, t, 1L, 2L)
      .select("k", "_change_type").as[(Long, String)].collect().toSet
    assert(ch === Set((1L, "update_preimage"), (1L, "update_postimage"),
      (2L, "delete"), (3L, "delete"), (9L, "insert")))

    // clause ORDER is semantic: with OVERLAPPING conditions the first
    // clause wins — a DELETE ahead of the UPDATE swallows every match
    // it covers, the later clause never fires for those rows
    val t2 = s"$root/ns/t2"
    DeltaLog.write(spark,
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "v", "n"), t2)
    spark.sql(
      """MERGE INTO gsql_mmrg.ns.t2 AS t USING mmrg_src AS s ON t.k = s.k
        |WHEN MATCHED AND s.n > 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    assert(spark.sql("SELECT k FROM gsql_mmrg.ns.t2").as[Long]
      .collect().toSeq === Seq.empty)

    // three ordered UPDATE clauses: each row takes exactly the first
    // applicable one (iceberg flavor)
    val ti = s"$root/ns/it"
    IcebergTable.write(spark,
      Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("k", "v", "n"), ti)
    Seq((1L, "p", 100), (2L, "q", 5), (3L, "r", 1)).toDF("k", "v", "n")
      .createOrReplaceTempView("mmrg_isrc")
    spark.sql(
      """MERGE INTO gsql_mmrg.ns.it AS t USING mmrg_isrc AS s ON t.k = s.k
        |WHEN MATCHED AND s.n >= 100 THEN UPDATE SET v = 'HI'
        |WHEN MATCHED AND s.n >= 5 THEN UPDATE SET v = 'MID'
        |WHEN MATCHED THEN UPDATE SET v = 'LO'""".stripMargin)
    assert(spark.sql("SELECT k, v FROM gsql_mmrg.ns.it")
      .as[(Long, String)].collect().toSet
      === Set((1L, "HI"), (2L, "MID"), (3L, "LO")))

    // EXPRESSION INSERT: explicit column list, reordered, with
    // computed values over the source frame
    val te = s"$root/ns/te"
    DeltaLog.write(spark, Seq((1L, "a", 10)).toDF("k", "v", "n"), te)
    Seq((1L, "x", 100), (5L, "y", 50), (6L, "z", 5))
      .toDF("k", "v", "n").createOrReplaceTempView("mmrg_esrc")
    spark.sql(
      """MERGE INTO gsql_mmrg.ns.te AS t USING mmrg_esrc AS s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET n = s.n
        |WHEN NOT MATCHED AND s.n >= 50
        |  THEN INSERT (n, v, k) VALUES (s.n * 10, upper(s.v), s.k)
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    // k=1 updates; k=5 takes the FIRST insert clause (computed
    // values); k=6 falls to the plain INSERT *
    assert(spark.sql("SELECT * FROM gsql_mmrg.ns.te")
      .as[(Long, String, Int)].collect().toSet
      === Set((1L, "a", 100), (5L, "Y", 500), (6L, "z", 5)))
    // expression-ONLY insert from a source whose columns match NO
    // target name (the rename-mapping shape) — the projection must
    // never reference a missing source column
    Seq((9L, "nine", 90)).toDF("k", "label", "amount")
      .createOrReplaceTempView("mmrg_rsrc")
    spark.sql(
      """MERGE INTO gsql_mmrg.ns.te AS t USING mmrg_rsrc AS s ON t.k = s.k
        |WHEN NOT MATCHED THEN INSERT (k, v, n)
        |  VALUES (s.k, s.label, s.amount + 1)""".stripMargin)
    assert(spark.sql("SELECT v, n FROM gsql_mmrg.ns.te WHERE k = 9")
      .as[(String, Int)].collect().toSeq === Seq(("nine", 91)))

    // NON-EQUI ON: residual conjuncts beyond the equality anchor —
    // a key-matched pair is "matched" only under the FULL condition,
    // a key-matched-but-condition-false source row still INSERTS and
    // its target row still counts NOT MATCHED BY SOURCE
    val tn = s"$root/ns/tn"
    DeltaLog.write(spark,
      Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("k", "v", "n"), tn)
    Seq((1L, "x", 100), (2L, "y", 5), (9L, "z", 90)).toDF("k", "v", "n")
      .createOrReplaceTempView("mmrg_nsrc")
    // only s.n > t.n pairs match: k=1 (100>10) matches & updates;
    // k=2 (5>20 false) does NOT match → source row inserts, target row
    // is NOT MATCHED BY SOURCE (flagged); k=3 unmatched → flagged;
    // k=9 inserts
    spark.sql(
      """MERGE INTO gsql_mmrg.ns.tn AS t USING mmrg_nsrc AS s
        |ON t.k = s.k AND s.n > t.n
        |WHEN MATCHED THEN UPDATE SET n = s.n
        |WHEN NOT MATCHED THEN INSERT (k, v, n) VALUES (s.k + 100, s.v, s.n)
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 'STALE'""".stripMargin)
    assert(spark.sql("SELECT * FROM gsql_mmrg.ns.tn")
      .as[(Long, String, Int)].collect().toSet
      === Set(
        (1L, "a", 100),      // matched under full ON: update
        (2L, "STALE", 20),   // key matched, condition false: by-source
        (3L, "STALE", 30),   // no source key: by-source
        (102L, "y", 5),      // condition-false source row inserts
        (109L, "z", 90)))    // new key inserts

    // non-equi ON with matched DELETE
    val tvn = s"$root/ns/tvn"
    DeltaLog.write(spark,
      Seq((1L, 10), (2L, 20)).toDF("k", "n"), tvn)
    Seq((1L, 100), (2L, 5)).toDF("k", "n")
      .createOrReplaceTempView("mmrg_vnsrc")
    spark.sql(
      """MERGE INTO gsql_mmrg.ns.tvn AS t USING mmrg_vnsrc AS s
        |ON t.k = s.k AND s.n > t.n
        |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(spark.sql("SELECT k FROM gsql_mmrg.ns.tvn").as[Long]
      .collect().toSeq === Seq(2L))

    // iceberg flavor: non-equi matched update, condition-false pair
    // survives untouched
    val tin = s"$root/ns/tin"
    IcebergTable.write(spark,
      Seq((1L, 10), (2L, 20)).toDF("k", "n"), tin)
    spark.sql(
      """MERGE INTO gsql_mmrg.ns.tin AS t USING mmrg_vnsrc AS s
        |ON t.k = s.k AND s.n > t.n
        |WHEN MATCHED THEN UPDATE SET n = s.n""".stripMargin)
    assert(spark.sql("SELECT * FROM gsql_mmrg.ns.tin")
      .as[(Long, Int)].collect().toSet === Set((1L, 100), (2L, 20)))

    // a PURE non-equi ON (no equality anchor) refuses at analysis
    val en = intercept[Exception] {
      spark.sql(
        """MERGE INTO gsql_mmrg.ns.tn AS t USING mmrg_nsrc AS s
          |ON s.n > t.n
          |WHEN MATCHED THEN DELETE""".stripMargin)
    }
    assert(en.getMessage.contains("join anchor") ||
      en.getMessage.contains("equality"), en.getMessage)

    // two matched clauses + BY SOURCE delete
    val tv = s"$root/ns/vt"
    DeltaLog.write(spark,
      Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("k", "v", "n"), tv)
    Seq((1L, "x", 100), (2L, "y", 5)).toDF("k", "v", "n")
      .createOrReplaceTempView("mmrg_vsrc")
    spark.sql(
      """MERGE INTO gsql_mmrg.ns.vt AS t USING mmrg_vsrc AS s ON t.k = s.k
        |WHEN MATCHED AND s.n > 50 THEN UPDATE SET n = s.n
        |WHEN MATCHED THEN DELETE
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    assert(spark.sql("SELECT k, n FROM gsql_mmrg.ns.vt")
      .as[(Long, Int)].collect().toSet === Set((1L, 100)))
  }

  test("FLEXIBLE SQL MERGE: conditional/partial UPDATE, DELETE, conditional INSERT — one commit each, CDC visible") {
    val root = catalogRoot("fmrg")
    val t = s"$root/ns/t"
    DeltaLog.write(spark,
      Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("k", "v", "n"), t)
    DeltaLog.setTableProperties(spark, t,
      Map("delta.enableChangeDataFeed" -> "true")) // v1
    Seq((1L, "A", 5), (2L, "B", 200), (9L, "z", 90), (8L, "y", 1))
      .toDF("k", "v", "n").createOrReplaceTempView("fmrg_src")
    // conditional PARTIAL update (value references both sides) +
    // conditional insert — ONE commit
    spark.sql(
      """MERGE INTO gsql_fmrg.ns.t AS t USING fmrg_src AS s ON t.k = s.k
        |WHEN MATCHED AND s.n > 100 THEN UPDATE SET n = s.n + t.n
        |WHEN NOT MATCHED AND s.n > 50 THEN INSERT *""".stripMargin) // v2
    // k=1 matched but condition false → survives UNCHANGED; k=2
    // updates n only (v keeps "b"); k=9 inserts, k=8 filtered out
    assert(spark.sql("SELECT * FROM gsql_fmrg.ns.t")
      .as[(Long, String, Int)].collect().toSet
      === Set((1L, "a", 10), (2L, "b", 220), (3L, "c", 30), (9L, "z", 90)))
    assert(DeltaLog.snapshot(spark, t).version === 2L)
    // CDC: precise pre/post for k=2 + insert for k=9, NOTHING for the
    // condition-false match or the untouched rows
    val ch = DeltaLog.changes(spark, t, 1L, 2L)
      .select("k", "n", "_change_type").as[(Long, Int, String)]
      .collect().toSet
    assert(ch === Set((2L, 20, "update_preimage"),
      (2L, 220, "update_postimage"), (9L, 90, "insert")))

    // conditional WHEN MATCHED THEN DELETE
    Seq((2L, "x", 0), (3L, "x", 0)).toDF("k", "v", "n")
      .createOrReplaceTempView("fmrg_del")
    spark.sql(
      """MERGE INTO gsql_fmrg.ns.t AS t USING fmrg_del AS s ON t.k = s.k
        |WHEN MATCHED AND t.n > 100 THEN DELETE""".stripMargin) // v3
    assert(spark.sql("SELECT k FROM gsql_fmrg.ns.t ORDER BY k")
      .as[Long].collect().toSeq === Seq(1L, 3L, 9L))
    assert(DeltaLog.changes(spark, t, 2L, 3L)
      .select("k", "_change_type").as[(Long, String)].collect().toSet
      === Set((2L, "delete")))

    // ICEBERG flavor: partial update with an expression, plus insert —
    // one merge-on-read snapshot
    val ti = s"$root/ns/it"
    IcebergTable.write(spark,
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "v", "n"), ti)
    Seq((2L, "gamma", 200), (7L, "q", 70)).toDF("k", "v", "n")
      .createOrReplaceTempView("fmrg_isrc")
    val snapsBefore = IcebergTable.snapshotIds(spark, ti).size
    spark.sql(
      """MERGE INTO gsql_fmrg.ns.it AS t USING fmrg_isrc AS s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = upper(s.v)
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql("SELECT * FROM gsql_fmrg.ns.it")
      .as[(Long, String, Int)].collect().toSet
      === Set((1L, "a", 10), (2L, "GAMMA", 20), (7L, "q", 70)))
    assert(IcebergTable.snapshotIds(spark, ti).size === snapsBefore + 1)

    // unconditional matched DELETE
    val tv = s"$root/ns/vt"
    DeltaLog.write(spark,
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "v", "n"), tv)
    Seq((1L, "x", 0)).toDF("k", "v", "n").createOrReplaceTempView("fmrg_vdel")
    spark.sql(
      """MERGE INTO gsql_fmrg.ns.vt AS t USING fmrg_vdel AS s ON t.k = s.k
        |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(spark.sql("SELECT k FROM gsql_fmrg.ns.vt").as[Long]
      .collect().toSeq === Seq(2L))

    // WHEN NOT MATCHED BY SOURCE — the SCD-sync shape: target rows the
    // source no longer carries delete (condition over TARGET columns)
    Seq((1L, "a", 10)).toDF("k", "v", "n")
      .createOrReplaceTempView("fmrg_sync")
    spark.sql(
      """MERGE INTO gsql_fmrg.ns.t AS t USING fmrg_sync AS s ON t.k = s.k
        |WHEN NOT MATCHED BY SOURCE AND t.k < 9 THEN DELETE""".stripMargin)
    // k=3 was unmatched and k<9 → deleted; k=9 unmatched but
    // condition false → kept; k=1 matched → kept
    assert(spark.sql("SELECT k FROM gsql_fmrg.ns.t ORDER BY k")
      .as[Long].collect().toSeq === Seq(1L, 9L))
    assert(DeltaLog.changes(spark, t, 3L, 4L)
      .select("k", "_change_type").as[(Long, String)].collect().toSet
      === Set((3L, "delete")))
    // BY SOURCE UPDATE on the iceberg flavor: stale rows get flagged
    spark.sql(
      """MERGE INTO gsql_fmrg.ns.it AS t USING fmrg_isrc AS s2 ON t.k = s2.k
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 'STALE'""".stripMargin)
    assert(spark.sql("SELECT * FROM gsql_fmrg.ns.it")
      .as[(Long, String, Int)].collect().toSet
      === Set((1L, "STALE", 10), (2L, "GAMMA", 20), (7L, "q", 70)))
    // BY SOURCE clauses cannot reference the source
    val ebs = intercept[Exception] {
      spark.sql(
        """MERGE INTO gsql_fmrg.ns.t AS t USING fmrg_sync AS s ON t.k = s.k
          |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = s.v""".stripMargin)
    }
    assert(ebs.getMessage.contains("BY SOURCE") ||
      ebs.getMessage.contains("UNRESOLVED_COLUMN"), ebs.getMessage)

    // GENERATED columns: updating an input RECOMPUTES them; assigning
    // one directly refuses (same contract as UPDATE)
    val tg = s"$root/ns/gt"
    spark.sql(s"CREATE TABLE '$tg' (k BIGINT, n BIGINT, " +
      "g BIGINT GENERATED ALWAYS AS (n * 2)) USING delta")
    DeltaLog.write(spark, Seq((1L, 10L)).toDF("k", "n")
      .withColumn("g", col("n") * 2), tg)
    Seq((1L, 50L)).toDF("k", "n").withColumn("g", lit(0L))
      .createOrReplaceTempView("fmrg_gen")
    spark.sql(
      """MERGE INTO gsql_fmrg.ns.gt AS t USING fmrg_gen AS s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET n = s.n""".stripMargin)
    assert(spark.sql("SELECT n, g FROM gsql_fmrg.ns.gt")
      .as[(Long, Long)].head() === ((50L, 100L)))
    val eg = intercept[Exception] {
      spark.sql(
        """MERGE INTO gsql_fmrg.ns.gt AS t USING fmrg_gen AS s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET g = s.g""".stripMargin)
    }
    assert(eg.getMessage.contains("generated"), eg.getMessage)

    // the ambiguity gate binds the flexible arm too
    Seq((9L, "x", 1), (9L, "y", 2)).toDF("k", "v", "n")
      .createOrReplaceTempView("fmrg_dup")
    intercept[Exception] {
      spark.sql(
        """MERGE INTO gsql_fmrg.ns.t AS t USING fmrg_dup AS s ON t.k = s.k
          |WHEN MATCHED THEN DELETE""".stripMargin)
    }
    assert(spark.sql("SELECT count(*) FROM gsql_fmrg.ns.t")
      .as[Long].head() === 2L)
  }

  test("SQL UPDATE / MERGE INTO / DELETE route to the ICEBERG flavor as merge-on-read snapshots") {
    val root = catalogRoot("idml")
    val t = s"$root/ns/t"
    IcebergTable.write(spark,
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "v", "n"), t)
    val s0 = IcebergTable.snapshot(spark, t)
    spark.sql("UPDATE gsql_idml.ns.t SET n = 0 WHERE k = 2")
    assert(spark.sql("SELECT k, n FROM gsql_idml.ns.t ORDER BY k")
      .as[(Long, Int)].collect().toSeq === Seq((1L, 10), (2L, 0)))
    // ONE new snapshot: position delete + transformed append, the
    // original data file untouched
    val s1 = IcebergTable.snapshot(spark, t)
    assert(s1.deletes.nonEmpty &&
      s1.files.map(_.path).toSet.intersect(s0.files.map(_.path).toSet)
        === s0.files.map(_.path).toSet)
    Seq((2L, "X", 7), (3L, "c", 30)).toDF("k", "v", "n")
      .createOrReplaceTempView("idml_src")
    spark.sql(
      """MERGE INTO gsql_idml.ns.t AS t USING idml_src AS s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql("SELECT * FROM gsql_idml.ns.t").as[(Long, String, Int)]
      .collect().toSet
      === Set((1L, "a", 10), (2L, "X", 7), (3L, "c", 30)))
    spark.sql("DELETE FROM gsql_idml.ns.t WHERE k = 1")
    assert(spark.sql("SELECT * FROM gsql_idml.ns.t").as[(Long, String, Int)]
      .collect().toSet === Set((2L, "X", 7), (3L, "c", 30)))
    // old snapshots still read their rows
    assert(IcebergTable.read(spark, t,
      snapshotIdAsOf = Some(s0.snapshotId)).count() === 2L)
    // UPDATE on a PARTITIONED iceberg table works merge-on-read: the
    // post-image stages under the partition layout with its tuple
    val tp = s"$root/ns/tp"
    IcebergTable.write(spark, Seq((1L, "x", 1), (2L, "y", 2))
      .toDF("k", "p", "n"), tp, partitionBy = Seq("p"))
    spark.sql("UPDATE gsql_idml.ns.tp SET n = 9 WHERE k = 1")
    assert(spark.sql("SELECT k, n FROM gsql_idml.ns.tp ORDER BY k")
      .as[(Long, Int)].collect().toSeq === Seq((1L, 9), (2L, 2)))
    val snapP = IcebergTable.snapshot(spark, tp)
    assert(snapP.files.forall(_.partitionTuple.keySet === Set("p")))
  }

  test("SQL CHECK constraints: validated on ADD, enforced on every write") {
    val root = catalogRoot("ck")
    val t = s"$root/ns/ck"
    DeltaLog.write(spark,
      Seq((1L, Some(10.0)), (2L, Some(20.0))).toDF("id", "amount"), t)
    // existing violations veto the ALTER — nothing commits
    val e = intercept[Exception] {
      spark.sql(
        "ALTER TABLE gsql_ck.ns.ck ADD CONSTRAINT big CHECK (amount > 15)")
    }
    assert(e.getMessage.contains("1 existing rows"), e.getMessage)
    assert(DeltaLog.snapshot(spark, t).version === 0L)
    val v = spark.sql(
      "ALTER TABLE gsql_ck.ns.ck ADD CONSTRAINT pos CHECK (amount > 0)")
      .collect()(0).getLong(1)
    assert(v === 1L)
    // the protocol bump real writers key on (writer version 3)
    assert(DeltaLog.snapshot(spark, t).protocol._2 >= 3)
    // a violating INSERT refuses and commits NOTHING
    intercept[Exception] {
      spark.sql("INSERT INTO gsql_ck.ns.ck VALUES (3, -5.0)")
    }
    assert(DeltaLog.read(spark, t).count() === 2L)
    assert(DeltaLog.snapshot(spark, t).version === 1L)
    // clean INSERT lands; a NULL constraint result passes (protocol)
    spark.sql("INSERT INTO gsql_ck.ns.ck VALUES (3, 5.0)")
    DeltaLog.write(spark,
      Seq((4L, Option.empty[Double])).toDF("id", "amount"), t)
    assert(DeltaLog.read(spark, t).count() === 4L)
    // the library write path enforces the same gate
    val e2 = intercept[IllegalArgumentException] {
      DeltaLog.write(spark, Seq((5L, Some(-1.0))).toDF("id", "amount"), t)
    }
    assert(e2.getMessage.contains("CHECK constraint pos"), e2.getMessage)
    // the constraint survives a checkpoint consolidation
    DeltaLog.checkpoint(spark, t, DeltaLog.snapshot(spark, t).version)
    intercept[IllegalArgumentException] {
      DeltaLog.write(spark, Seq((5L, Some(-2.0))).toDF("id", "amount"), t)
    }
    // DROP CONSTRAINT removes enforcement
    spark.sql("ALTER TABLE gsql_ck.ns.ck DROP CONSTRAINT pos")
    DeltaLog.write(spark, Seq((6L, Some(-1.0))).toDF("id", "amount"), t)
    assert(DeltaLog.read(spark, t).count() === 5L)
    // non-Delta flavors refuse: CHECK is a Delta protocol feature
    IcebergTable.write(spark, Seq((1L, "a")).toDF("k", "v"), s"$root/ns/vck")
    val e3 = intercept[Exception] {
      spark.sql("ALTER TABLE gsql_ck.ns.vck ADD CONSTRAINT c CHECK (k > 0)")
    }
    assert(e3.getMessage.contains("Delta"), e3.getMessage)
  }

  test("NOT NULL invariants: a required column refuses explicit nulls") {
    val dir = Files.createTempDirectory("graft-sqlstmt-nn").toString + "/t"
    // toDF of primitive Long declares k non-nullable in the log
    DeltaLog.write(spark, Seq((1L, "a")).toDF("k", "v"), dir)
    val e = intercept[IllegalArgumentException] {
      DeltaLog.write(spark,
        Seq((Option.empty[Long], "b")).toDF("k", "v"), dir)
    }
    assert(e.getMessage.contains("NOT NULL column k"), e.getMessage)
    assert(DeltaLog.read(spark, dir).count() === 1L)
    // nulls in a NULLABLE column still append fine
    DeltaLog.write(spark, Seq((Some(2L), null: String)).toDF("k", "v"), dir)
    assert(DeltaLog.read(spark, dir).count() === 2L)
  }

  test("statement targets: unqualified and non-graft catalogs refuse with a pointer") {
    val e = intercept[Exception] { spark.sql("OPTIMIZE lonely").collect() }
    assert(e.getMessage.contains("catalog"), e.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("VACUUM spark_catalog.db.t").collect()
    }
    assert(e2.getMessage.contains("GraftCatalog"), e2.getMessage)
  }

  test("SQL RESTORE rolls back every catalog flavor; timestamp targets are Delta-only") {
    val root = catalogRoot("rst")
    // Delta: restore past a delete via the catalog name
    val dt = s"$root/ns/dt"
    DeltaLog.write(spark, (1L to 10L).toDF("k").coalesce(1), dt)
    DeltaLog.delete(spark, dt, col("k") > 8L)
    val out = spark.sql("RESTORE TABLE gsql_rst.ns.dt TO VERSION AS OF 0")
      .collect()
    assert(out(0).getLong(1) === 2L)
    assert(DeltaLog.read(spark, dt).as[Long].collect().toSet
      === (1L to 10L).toSet)
    // Iceberg: version = snapshot id, quoted-path target, no TABLE kw
    val it = s"$root/ns/it"
    val s1 = IcebergTable.write(spark, Seq((1L, "a")).toDF("k", "v"), it)
    IcebergTable.write(spark, Seq((2L, "b")).toDF("k", "v"), it)
    assert(spark.sql(s"RESTORE '$it' TO VERSION AS OF $s1")
      .collect()(0).getLong(1) === s1)
    assert(IcebergTable.read(spark, it).as[(Long, String)].collect().toSet
      === Set((1L, "a")))
    intercept[IllegalArgumentException] {
      spark.sql(s"RESTORE '$it' TO TIMESTAMP AS OF '2026-01-01 00:00:00'")
        .collect()
    }
  }

  test("CHECK constraints bind UPDATE, MERGE and the DV arms — not just appends") {
    val t = Files.createTempDirectory("graft-sqlstmt-ckdml").toString + "/t"
    DeltaLog.write(spark,
      Seq((1L, 5.0), (2L, 9.0)).toDF("k", "bal").coalesce(1), t)
    DeltaLog.addCheckConstraint(spark, t, "pos", "bal >= 0")
    // a violating UPDATE vetoes whole — nothing commits
    val vBefore = DeltaLog.snapshot(spark, t).version
    val e1 = intercept[IllegalArgumentException] {
      DeltaLog.update(spark, t, col("k") === 1L, Map("bal" -> lit(-5.0)))
    }
    assert(e1.getMessage.contains("pos"), e1.getMessage)
    assert(DeltaLog.snapshot(spark, t).version === vBefore)
    assert(DeltaLog.read(spark, t).where(col("bal") < 0).count() === 0)
    // a violating MERGE source vetoes (both its matched and insert legs)
    val e2 = intercept[IllegalArgumentException] {
      DeltaLog.merge(spark, t,
        Seq((2L, -1.0), (7L, 3.0)).toDF("k", "bal"), keyCols = Seq("k"))
    }
    assert(e2.getMessage.contains("pos"), e2.getMessage)
    assert(DeltaLog.read(spark, t).as[(Long, Double)].collect().toSet
      === Set((1L, 5.0), (2L, 9.0)))
    // the DV update arm validates the post-image too
    spark.conf.set("spark.graft.dv.enabled", "true")
    try {
      val e3 = intercept[IllegalArgumentException] {
        DeltaLog.update(spark, t, col("k") === 2L, Map("bal" -> lit(-9.0)))
      }
      assert(e3.getMessage.contains("pos"), e3.getMessage)
    } finally spark.conf.unset("spark.graft.dv.enabled")
    // clean DML still lands
    DeltaLog.update(spark, t, col("k") === 1L, Map("bal" -> lit(0.5)))
    assert(DeltaLog.read(spark, t).as[(Long, Double)].collect().toSet
      === Set((1L, 0.5), (2L, 9.0)))
  }

  test("OPTIMIZE on a PARTITIONED Iceberg table compacts manifests instead of refusing") {
    val dir = Files.createTempDirectory("graft-sqlstmt-icep").toString + "/t"
    IcebergTable.write(spark, Seq((1L, "a", "p1"), (2L, "b", "p2"))
      .toDF("k", "v", "p"), dir, partitionBy = Seq("p"))
    IcebergTable.write(spark, Seq((3L, "c", "p1")).toDF("k", "v", "p"), dir,
      partitionBy = Seq("p"))
    val snap = spark.sql(s"OPTIMIZE '$dir'").collect()(0).getLong(1)
    assert(snap > 0L)
    assert(IcebergTable.read(spark, dir).as[(Long, String, String)]
      .collect().toSet
      === Set((1L, "a", "p1"), (2L, "b", "p2"), (3L, "c", "p1")))
  }

  test("TBLPROPERTIES values with SQL-escaped quotes parse as one property") {
    val dir = Files.createTempDirectory("graft-sqlstmt-q").toString + "/t"
    DeltaLog.write(spark, Seq((1L, "a")).toDF("k", "v"), dir)
    spark.sql("ALTER TABLE '" + dir + "' SET TBLPROPERTIES " +
      "('comment' = 'it''s a test, really', 'owner' = 'g')").collect()
    val conf = DeltaLog.snapshot(spark, dir).configuration
    assert(conf("comment") === "it's a test, really")
    assert(conf("owner") === "g")
  }

  test("SHALLOW CLONE: zero-copy Delta clone, independent evolution, vacuum-safe") {
    val root = Files.createTempDirectory("graft-sqlstmt-cl").toString
    val src = s"$root/src"
    val dst = s"$root/dst"
    DeltaLog.write(spark, Seq((1L, 5.0), (2L, 9.0)).toDF("k", "bal")
      .coalesce(1), src)
    DeltaLog.addCheckConstraint(spark, src, "pos", "bal >= 0")
    DeltaLog.write(spark, Seq((3L, 7.0)).toDF("k", "bal").coalesce(1), src)
    spark.sql(s"CREATE TABLE '$dst' SHALLOW CLONE '$src'").collect()
    // same rows, NO parquet copied under the clone dir
    assert(DeltaLog.read(spark, dst).as[(Long, Double)].collect().toSet
      === Set((1L, 5.0), (2L, 9.0), (3L, 7.0)))
    def parquetUnder(d: String): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        Option(f.listFiles()).toSeq.flatten.flatMap(c =>
          if (c.isDirectory && !c.getName.startsWith("_")) walk(c)
          else if (c.getName.endsWith(".parquet")) Seq(c) else Nil)
      walk(new java.io.File(d))
    }
    assert(parquetUnder(dst).isEmpty, "clone must not copy data files")
    // configuration carried: the CHECK constraint binds clone writers
    intercept[IllegalArgumentException] {
      DeltaLog.write(spark, Seq((9L, -1.0)).toDF("k", "bal"), dst)
    }
    // the clone evolves independently of the source
    DeltaLog.write(spark, Seq((4L, 1.0)).toDF("k", "bal").coalesce(1), dst)
    DeltaLog.delete(spark, dst, col("k") === 1L)
    assert(DeltaLog.read(spark, dst).as[(Long, Double)].collect().toSet
      === Set((2L, 9.0), (3L, 7.0), (4L, 1.0)))
    assert(DeltaLog.read(spark, src).as[(Long, Double)].collect().toSet
      === Set((1L, 5.0), (2L, 9.0), (3L, 7.0)))
    // vacuuming the CLONE never deletes the source's files
    val srcFiles = DeltaLog.snapshot(spark, src).files.map(_.path)
    DeltaLog.vacuum(spark, dst, keepVersions = 1)
    srcFiles.foreach(p => assert(new java.io.File(
      p.replaceFirst("^file:", "")).exists(), s"vacuumed source file $p"))
    assert(DeltaLog.read(spark, src).count() === 3)
    // clone onto an existing table refuses (IF NOT EXISTS no-ops)
    intercept[IllegalArgumentException] {
      spark.sql(s"CREATE TABLE '$dst' SHALLOW CLONE '$src'").collect()
    }
    assert(spark.sql(
      s"CREATE TABLE IF NOT EXISTS '$dst' SHALLOW CLONE '$src'")
      .collect()(0).getLong(1) >= 0L)
    // DV-bearing sources refuse toward OPTIMIZE
    val dvSrc = s"$root/dvsrc"
    DeltaLog.write(spark, (1L to 20L).toDF("k").coalesce(1), dvSrc)
    spark.conf.set("spark.graft.dv.enabled", "true")
    try DeltaLog.delete(spark, dvSrc, col("k") > 18L)
    finally spark.conf.unset("spark.graft.dv.enabled")
    val e = intercept[IllegalArgumentException] {
      DeltaLog.cloneShallow(spark, dvSrc, s"$root/dvdst")
    }
    assert(e.getMessage.contains("OPTIMIZE"), e.getMessage)
  }

  test("SQL CREATE TABLE: NOT NULL, GENERATED columns, partitioning and properties bind before data") {
    val dir = Files.createTempDirectory("graft-sqlstmt-ct").toString + "/t"
    spark.sql("CREATE TABLE '" + dir + "' (" +
      "k BIGINT NOT NULL, price DECIMAL(10,2), seg STRING, " +
      "bucket BIGINT GENERATED ALWAYS AS (k % 4)) " +
      "USING delta PARTITIONED BY (seg) " +
      "TBLPROPERTIES ('delta.enableChangeDataFeed' = 'true')").collect()
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.version === 0L && snap.files.isEmpty)
    assert(!snap.schema("k").nullable)
    assert(snap.schema("price").dataType ===
      org.apache.spark.sql.types.DecimalType(10, 2))
    assert(snap.schema("bucket").metadata
      .getString("delta.generationExpression") === "k % 4")
    assert(snap.partitionColumns === Seq("seg"))
    assert(snap.configuration("delta.enableChangeDataFeed") === "true")
    assert(snap.protocol._2 === 4) // generated columns
    // the first write computes the generated column and lands
    // hive-partitioned; an explicit null into k refuses
    DeltaLog.write(spark,
      Seq((1L, BigDecimal("5.50"), "a"), (2L, BigDecimal("7.25"), "b"))
        .toDF("k", "price", "seg")
        .select(col("k"), col("price").cast("decimal(10,2)").as("price"),
          col("seg")), dir)
    assert(DeltaLog.read(spark, dir)
      .select("k", "seg", "bucket").as[(Long, String, Long)]
      .collect().toSet === Set((1L, "a", 1L), (2L, "b", 2L)))
    assert(DeltaLog.snapshot(spark, dir).files
      .forall(_.partitionValues.keySet === Set("seg")))
    // IF NOT EXISTS on the existing table is a version-reporting no-op
    val again = spark.sql("CREATE TABLE IF NOT EXISTS '" + dir +
      "' (x INT) USING delta").collect()
    assert(again(0).getLong(1) === 1L)
    // plain CREATE over an existing table refuses; unknown providers
    // refuse (iceberg has its own creation path)
    intercept[IllegalArgumentException] {
      spark.sql("CREATE TABLE '" + dir + "' (x INT) USING delta").collect()
    }
    intercept[UnsupportedOperationException] {
      spark.sql("CREATE TABLE '" + dir + "2' (x INT) USING hudi").collect()
    }
    // a shape-equal overwrite KEEPS the declared NOT NULL binding —
    // nulls must not sneak into k through the retained metaData
    val eNull = intercept[IllegalArgumentException] {
      DeltaLog.write(spark,
        Seq((null.asInstanceOf[java.lang.Long], BigDecimal("1.00"), "a"))
          .toDF("k", "price", "seg")
          .select(col("k").cast("bigint").as("k"),
            col("price").cast("decimal(10,2)").as("price"), col("seg")),
        dir, overwrite = true)
    }
    assert(eNull.getMessage.contains("NOT NULL"), eNull.getMessage)
    // nested types survive the column-def split
    val nested = Files.createTempDirectory("graft-sqlstmt-nest")
      .toString + "/t"
    spark.sql("CREATE TABLE '" + nested + "' (" +
      "m MAP<STRING, BIGINT>, s STRUCT<a: INT, b: STRING>, k BIGINT) " +
      "USING delta").collect()
    val nsch = DeltaLog.snapshot(spark, nested).schema
    assert(nsch("m").dataType.typeName === "map")
    assert(nsch("s").dataType.typeName === "struct")
    // CDF via TBLPROPERTIES at CREATE carries the protocol bump even
    // without generated columns
    val cdfT = Files.createTempDirectory("graft-sqlstmt-cdfct")
      .toString + "/t"
    spark.sql("CREATE TABLE '" + cdfT + "' (k BIGINT) USING delta " +
      "TBLPROPERTIES ('delta.enableChangeDataFeed' = 'true')").collect()
    assert(DeltaLog.snapshot(spark, cdfT).protocol._2 === 4)
    // constraint keys refuse toward the validating DDL
    intercept[IllegalArgumentException] {
      spark.sql("CREATE TABLE '" + cdfT + "2' (k BIGINT) USING delta " +
        "TBLPROPERTIES ('delta.constraints.x' = 'k > 0')").collect()
    }
  }

  test("Iceberg TBLPROPERTIES commit metadata bumps; DESCRIBE HISTORY serves every flavor") {
    val root = catalogRoot("hist")
    val it = s"$root/ns/it"
    IcebergTable.write(spark, Seq((1L, "a")).toDF("k", "v"), it)
    IcebergTable.write(spark, Seq((2L, "b")).toDF("k", "v"), it)
    spark.sql(s"ALTER TABLE gsql_hist.ns.it SET TBLPROPERTIES " +
      "('write.format.default' = 'parquet', 'owner' = 'graft')").collect()
    assert(IcebergTable.properties(spark, it)
      .filterKeys(Set("owner", "write.format.default")).toMap
      === Map("owner" -> "graft", "write.format.default" -> "parquet"))
    // SHOW TBLPROPERTIES reads the store back as (key, value) rows
    val shown = spark.sql(s"SHOW TBLPROPERTIES '$it'").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown.get("write.format.default").contains("parquet"), shown)
    spark.sql(s"ALTER TABLE gsql_hist.ns.it UNSET TBLPROPERTIES ('owner')")
      .collect()
    assert(!IcebergTable.properties(spark, it).contains("owner"))
    // data is untouched by property commits
    assert(IcebergTable.read(spark, it).as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b")))
    // the mirror safety marker refuses tampering
    intercept[IllegalArgumentException] {
      IcebergTable.unsetProperties(spark, it, Seq("graft.mirror-of"))
    }
    // DESCRIBE HISTORY: iceberg = snapshots with operations
    val ih = spark.sql(s"DESCRIBE HISTORY '$it'").collect()
    assert(ih.length === 2 &&
      ih.forall(_.getString(2) === "append"), ih.toSeq)
    // delta = commit versions
    val dt = s"$root/ns/dt"
    DeltaLog.write(spark, Seq((1L, "a")).toDF("k", "v"), dt)
    DeltaLog.delete(spark, dt, col("k") === 1L)
    val dh = spark.sql("DESC HISTORY gsql_hist.ns.dt").collect()
    assert(dh.map(_.getLong(0)).toSeq === Seq(0L, 1L))
  }
}
