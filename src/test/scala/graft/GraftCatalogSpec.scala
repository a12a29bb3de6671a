package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{DeltaLog, IcebergTable}

/** Three-level SQL naming over the DSv2 catalog: plain parquet,
  * native-Iceberg and native-Delta table flavors all resolve as
  * `graft_t.<schema>.<table>`, with time-travel SQL on the flavors
  * that version. */
class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  private lazy val root: String = {
    val r = Files.createTempDirectory("graft-cat").toString
    spark.conf.set("spark.sql.catalog.graft_t", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_t.root", r)
    r
  }

  test("gold-layer tables resolve by name for all three storage flavors") {
    // plain parquet directory
    Seq((1L, "ann"), (2L, "bob")).toDF("c_key", "c_name")
      .write.parquet(s"$root/gold/dim_customers")
    // Iceberg table
    IcebergTable.write(spark,
      Seq((10L, "p1"), (20L, "p2")).toDF("p_key", "p_name"),
      s"$root/gold/dim_parts")
    // Delta table
    DeltaLog.write(spark, Seq((100L, 5L)).toDF("o_key", "qty"),
      s"$root/gold/fact_sales")

    assert(spark.sql("SELECT c_name FROM graft_t.gold.dim_customers ORDER BY c_key")
      .as[String].collect().toSeq === Seq("ann", "bob"))
    assert(spark.sql("SELECT p_name FROM graft_t.gold.dim_parts ORDER BY p_key")
      .as[String].collect().toSeq === Seq("p1", "p2"))
    assert(spark.sql("SELECT qty FROM graft_t.gold.fact_sales")
      .as[Long].collect().toSeq === Seq(5L))
    // joins across flavors through pure SQL
    assert(spark.sql(
      """SELECT c.c_name FROM graft_t.gold.dim_customers c
        |JOIN graft_t.gold.dim_parts p ON c.c_key * 10 = p.p_key
        |ORDER BY c.c_key""".stripMargin).as[String].collect().toSeq
      === Seq("ann", "bob"))
    // catalog surface
    assert(spark.sql("SHOW TABLES IN graft_t.gold").count() === 3)
    assert(spark.sql("SHOW NAMESPACES IN graft_t").as[String].collect()
      .contains("gold"))
  }

  test("VERSION AS OF travels iceberg and delta flavors; filters push down") {
    // iceberg flavor: VERSION AS OF carries the snapshot id
    IcebergTable.write(spark, Seq((1L, "v1")).toDF("k", "v"),
      s"$root/silver/ice_ev")
    IcebergTable.write(spark, Seq((1L, "v2")).toDF("k", "v"),
      s"$root/silver/ice_ev", overwrite = true)
    val first = IcebergTable.snapshotIds(spark, s"$root/silver/ice_ev").head
    assert(spark.sql("SELECT v FROM graft_t.silver.ice_ev").as[String].head()
      === "v2")
    assert(spark.sql(s"SELECT v FROM graft_t.silver.ice_ev VERSION AS OF $first")
      .as[String].head() === "v1")
    // delta flavor time travel (delta versions are 0-based)
    DeltaLog.write(spark, Seq(Tuple1("a")).toDF("x"), s"$root/silver/delta_ev")
    DeltaLog.write(spark, Seq(Tuple1("b")).toDF("x"), s"$root/silver/delta_ev",
      overwrite = true)
    assert(spark.sql("SELECT x FROM graft_t.silver.delta_ev VERSION AS OF 0")
      .as[String].head() === "a")
    assert(spark.sql("SELECT x FROM graft_t.silver.delta_ev").as[String].head()
      === "b")
    // native parquet scan: the filter reaches the file format
    Seq((1L, "v2")).toDF("k", "v").write.parquet(s"$root/silver/events")
    val plan = spark.sql(
      "SELECT k FROM graft_t.silver.events WHERE k = 1").queryExecution
      .executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(k), EqualTo(k,1)]"), plan)
  }

  test("saveAsTable + INSERT INTO create and extend catalog tables") {
    root // force catalog registration
    // the pure-V2 writer API needs no conf
    Seq((1L, "x")).toDF("id", "s").writeTo("graft_t.bronze.raw_v2").create()
    assert(spark.sql("SELECT s FROM graft_t.bronze.raw_v2").as[String].head()
      === "x")
    // DataFrameWriter.saveAsTable (the reference's API) only routes
    // file sources to a V2 catalog when parquet is off the V1
    // fallback list — scope the toggle to this test
    val old = spark.conf.get("spark.sql.sources.useV1SourceList")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try {
      Seq((1L, "x")).toDF("id", "s").write.saveAsTable("graft_t.bronze.raw")
      spark.sql("INSERT INTO graft_t.bronze.raw VALUES (2, 'y')")
      assert(spark.sql("SELECT s FROM graft_t.bronze.raw ORDER BY id")
        .as[String].collect().toSeq === Seq("x", "y"))
    } finally spark.conf.set("spark.sql.sources.useV1SourceList", old)
    // drop removes the directory
    spark.sql("DROP TABLE graft_t.bronze.raw")
    assert(!new java.io.File(s"$root/bronze/raw").exists())
  }

  test("ALTER TABLE ADD COLUMN: delta, iceberg and plain flavors") {
    // delta flavor: DDL commits a metaData-only version
    DeltaLog.write(spark, Seq((1L, "a")).toDF("k", "v"), s"$root/ddl/dt")
    spark.sql("ALTER TABLE graft_t.ddl.dt ADD COLUMN n BIGINT")
    // existing files read the column as null via schema-on-read
    assert(spark.sql("SELECT k, v, n FROM graft_t.ddl.dt")
      .as[(Long, String, Option[Long])].collect().toSeq
      === Seq((1L, "a", None)))
    // the pre-DDL version still reads narrow
    assert(spark.sql("SELECT * FROM graft_t.ddl.dt VERSION AS OF 0")
      .columns.toSeq === Seq("k", "v"))
    // appends are now gated on the widened schema...
    intercept[IllegalArgumentException] {
      DeltaLog.write(spark, Seq((2L, "b")).toDF("k", "v"), s"$root/ddl/dt")
    }
    // ...and a widened append round-trips
    DeltaLog.write(spark, Seq((2L, "b", 7L)).toDF("k", "v", "n"), s"$root/ddl/dt")
    assert(spark.sql("SELECT k, n FROM graft_t.ddl.dt ORDER BY k")
      .as[(Long, Option[Long])].collect().toSeq
      === Seq((1L, None), (2L, Some(7L))))

    // iceberg flavor: DDL appends a new schema-id (real evolution)
    IcebergTable.write(spark, Seq((1L, "a")).toDF("k", "v"),
      s"$root/ddl/it")
    spark.sql("ALTER TABLE graft_t.ddl.it ADD COLUMN w DOUBLE")
    assert(spark.sql("SELECT k, v, w FROM graft_t.ddl.it")
      .as[(Long, String, Option[Double])].collect().toSeq
      === Seq((1L, "a", None)))
    // the pre-DDL snapshot still reads narrow via time travel
    val snap1 = IcebergTable.snapshotIds(spark, s"$root/ddl/it").head
    assert(spark.sql(s"SELECT * FROM graft_t.ddl.it VERSION AS OF $snap1")
      .columns.toSeq === Seq("k", "v"))
    // a widened INSERT round-trips through the committing writer
    spark.sql("INSERT INTO graft_t.ddl.it VALUES (2, 'b', 0.5)")
    assert(spark.sql("SELECT k, w FROM graft_t.ddl.it ORDER BY k")
      .as[(Long, Option[Double])].collect().toSeq
      === Seq((1L, None), (2L, Some(0.5))))

    // plain flavor: sidecar records the widened schema
    Seq((1L, "x")).toDF("id", "s").write.parquet(s"$root/ddl/pt")
    spark.sql("ALTER TABLE graft_t.ddl.pt ADD COLUMN extra STRING")
    assert(spark.sql("SELECT id, s, extra FROM graft_t.ddl.pt")
      .as[(Long, String, Option[String])].collect().toSeq
      === Seq((1L, "x", None)))
    // duplicate column is a loud error on every flavor
    intercept[Exception] {
      spark.sql("ALTER TABLE graft_t.ddl.pt ADD COLUMN extra STRING")
    }
    // non-AddColumn changes stay loudly unsupported
    intercept[Exception] {
      spark.sql("ALTER TABLE graft_t.ddl.pt DROP COLUMN extra")
    }
  }

  test("log-backed flavors take committing SQL writes, never a bare parquet dump") {
    // a raw DSv2 write into a Delta/Iceberg directory would dump
    // files the log never references — instead INSERT routes through
    // the flavor's committing writer, and the new rows are visible to
    // the NATIVE reader (i.e. the log references them)
    DeltaLog.write(spark, Seq((2L, "b")).toDF("k", "v"), s"$root/ro/dt")
    IcebergTable.write(spark, Seq((2L, "b")).toDF("k", "v"), s"$root/ro/it")
    for (t <- Seq("dt", "it")) {
      assert(spark.sql(s"SELECT count(*) AS n FROM graft_t.ro.$t")
        .as[Long].head() === 1L)
      spark.sql(s"INSERT INTO graft_t.ro.$t VALUES (9, 'z')")
      assert(spark.sql(s"SELECT count(*) AS n FROM graft_t.ro.$t")
        .as[Long].head() === 2L)
    }
    // native readers see the committed rows (the log references them)
    assert(DeltaLog.read(spark, s"$root/ro/dt")
      .as[(Long, String)].collect().toSet === Set((2L, "b"), (9L, "z")))
    assert(IcebergTable.read(spark, s"$root/ro/it")
      .as[(Long, String)].collect().toSet === Set((2L, "b"), (9L, "z")))
    // the delta INSERT committed a NEW version (history)
    assert(DeltaLog.snapshot(spark, s"$root/ro/dt").version === 1L)
  }
}
