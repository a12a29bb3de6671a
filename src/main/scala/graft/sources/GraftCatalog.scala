package graft.sources

import java.util

import scala.collection.JavaConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DSv2 `TableCatalog` giving graft tables the reference's
  * three-level SQL naming (`pyspark_dwh.<layer>.<table>`,
  * reference gold_transformation.py:35-37,100-102 — consumers
  * address every table as `catalog.schema.name` via `spark.table` /
  * `saveAsTable`). Configure:
  *
  * {{{
  * spark.sql.catalog.graft      = graft.sources.GraftCatalog
  * spark.sql.catalog.graft.root = /warehouse/graft
  * }}}
  *
  * then `SELECT * FROM graft.gold.dim_customers` resolves
  * `<root>/gold/dim_customers`, `df.write.saveAsTable("graft.gold.t")`
  * creates it, and `VERSION AS OF` / `TIMESTAMP AS OF` time-travel
  * SQL works on Delta and Iceberg tables.
  *
  * One namespace level = one directory level; a table directory is
  * served by STORAGE FLAVOR, detected per load:
  *  - `_delta_log/` present → a [[GraftDeltaTable]] over the native
  *    Delta-log replay ([[DeltaLog.snapshot]]): the live add-file list
  *    at the requested version becomes the scan's file list.
  *    Partitioned tables are served too: partition values come from
  *    the log as per-file constants, and filters on them prune the
  *    planned file list.
  *  - `metadata/v*.metadata.json` present → native Iceberg snapshot
  *    resolution ([[IcebergTable.snapshot]]); `VERSION AS OF` carries
  *    the snapshot id, `TIMESTAMP AS OF` the snapshot timestamp.
  *  - otherwise → plain parquet directory.
  *
  * A plain parquet directory is served as Spark's own parquet
  * `FileTable` over the directory, so scans get the full native read
  * path — pushed filters, column pruning, vectorized reader,
  * file-index partition pruning — and writes (`saveAsTable`, `INSERT
  * INTO`) get the native parquet writer. (`ParquetTable` lives under
  * `o.a.s.sql.execution` — Spark's internal-but-public layer; the
  * public-API alternative is reimplementing a parquet
  * reader/writer, which buys nothing here.)
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with FunctionCatalog {

  private var catalogName: String = _
  private var root: String = _

  /** FunctionCatalog leg: the canonical `bucket` transform function —
    * what lets Spark resolve a `bucket(n, col)` in a reported
    * KeyGroupedPartitioning and so storage-partition-join two tables
    * bucketed the same way (identity transforms resolve without a
    * catalog; bucket needs the function to prove both sides agree and
    * to hash the other side under v2BucketingShuffleEnabled). The
    * implementation IS [[IcebergTransforms]]'s spec murmur3 — the
    * same bytes-level hash the hidden-partitioning writer uses. */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "bucket"))

  override def loadFunction(ident: Identifier)
  : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name().equalsIgnoreCase("bucket")) GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  override def functionExists(ident: Identifier): Boolean =
    ident.name().equalsIgnoreCase("bucket")

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(throw new IllegalArgumentException(
      s"spark.sql.catalog.$name.root must point at the warehouse directory"))
  }

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active

  private def fs = new Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dirFor(ident: Identifier): Path =
    new Path((root +: ident.namespace().toSeq :+ ident.name()).mkString("/"))

  private def dirFor(ns: Array[String]): Path =
    new Path((root +: ns.toSeq).mkString("/"))

  private def flavorOf(dir: Path): Option[Flavor] = Flavor.of(fs, dir)

  /** Plain-parquet tables have no transaction log to carry DDL, so
    * `ALTER TABLE ADD COLUMNS` records the widened schema in an
    * underscore-prefixed sidecar (`_graft_schema.json`, invisible to
    * parquet scans). When present it becomes the serving schema:
    * files written before the ALTER read the new columns as null via
    * parquet schema-on-read; INSERTs are validated against it. */
  private def sidecarPath(dir: Path): Path = new Path(dir, "_graft_schema.json")

  private def sidecarSchema(dir: Path): Option[StructType] = {
    val p = sidecarPath(dir)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      Some(org.apache.spark.sql.types.DataType.fromJson(txt)
        .asInstanceOf[StructType])
    }
  }

  private def parquetTable(ident: Identifier, dir: Path,
                           schema: Option[StructType]): Table =
    org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable(
      catalogName + "." + ident.toString, spark,
      CaseInsensitiveStringMap.empty(), Seq(dir.toString), schema,
      classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat])

  /** Iceberg METADATA TABLES (`graft.ns.t.files` / `.snapshots` /
    * `.history` / `.partitions`) — the operational debugging surface
    * every Iceberg user leans on: SQL relations over the MANIFEST
    * metadata (file paths/sizes/records/partitions, snapshot list,
    * made-current log, per-partition rollups). Rows come from the
    * metadata alone — never a data scan. */
  private val MetadataTableNames =
    Set("files", "snapshots", "history", "partitions")

  private def metadataTable(base: Path, ident: Identifier): Table = {
    import org.apache.spark.sql.types._
    val nm = catalogName + "." + ident.toString
    ident.name().toLowerCase match {
      case "files" =>
        val snap = IcebergTable.snapshot(spark, base.toString)
        new GraftMetadataTable(nm, StructType(Seq(
          StructField("file_path", StringType, nullable = false),
          StructField("record_count", LongType, nullable = false),
          StructField("file_size_in_bytes", LongType, nullable = false),
          StructField("sequence_number", LongType, nullable = false),
          StructField("partition", StringType, nullable = false))),
          snap.files.map(f => Seq(f.path, f.records, f.sizeBytes, f.seq,
            f.partitionTuple.toSeq.sortBy(_._1)
              .map { case (k, v) => s"$k=$v" }.mkString("{", ", ", "}"))))
      case "snapshots" =>
        new GraftMetadataTable(nm, StructType(Seq(
          StructField("snapshot_id", LongType, nullable = false),
          StructField("timestamp_ms", LongType, nullable = false),
          StructField("operation", StringType, nullable = false))),
          IcebergTable.snapshotEntries(spark, base.toString)
            .map { case (id, ts, op) => Seq(id, ts, op) })
      case "history" =>
        new GraftMetadataTable(nm, StructType(Seq(
          StructField("made_current_at_ms", LongType, nullable = false),
          StructField("snapshot_id", LongType, nullable = false))),
          IcebergTable.snapshotLogEntries(spark, base.toString)
            .map { case (ts, id) => Seq(ts, id) })
      case "partitions" =>
        // per-partition rollup of the live file list (the skew /
        // small-file diagnosis view): one row per (spec_id, tuple)
        val snap = IcebergTable.snapshot(spark, base.toString)
        new GraftMetadataTable(nm, StructType(Seq(
          StructField("partition", StringType, nullable = false),
          StructField("spec_id", IntegerType, nullable = false),
          StructField("record_count", LongType, nullable = false),
          StructField("file_count", LongType, nullable = false),
          StructField("total_size_in_bytes", LongType, nullable = false))),
          snap.files
            .groupBy(f => (f.specId, f.partitionTuple.toSeq.sortBy(_._1)
              .map { case (k, v) => s"$k=$v" }.mkString("{", ", ", "}")))
            .toSeq.sortBy(_._1._2)
            .map { case ((specId, tuple), fs) =>
              Seq(tuple, specId, fs.map(_.records).sum,
                fs.size.toLong, fs.map(_.sizeBytes).sum)
            })
    }
  }

  private def serve(ident: Identifier, versionAsOf: Option[Long],
                    timestampAsOf: Option[Long]): Table = {
    val dir = dirFor(ident)
    if (!fs.exists(dir)) {
      // `<table>.<metadata table>`: the name parses as one more
      // namespace level — serve it when the base is an Iceberg table
      if (ident.namespace().nonEmpty &&
        MetadataTableNames.contains(ident.name().toLowerCase)) {
        val base = dirFor(ident.namespace())
        if (fs.exists(base) && flavorOf(base).contains(IcebergFlavor)) {
          require(versionAsOf.isEmpty && timestampAsOf.isEmpty,
            "metadata tables do not time-travel — query the base table")
          return metadataTable(base, ident)
        }
      }
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    }
    flavorOf(dir) match {
      case Some(DeltaFlavor) =>
        // native DSv2 Delta table: batch + micro-batch streaming reads
        // (spark.readStream.table), committing INSERTs, partitioned
        // tables fully served with log-side pruning
        new GraftDeltaTable(spark, dir.toString, versionAsOf,
          timestampAsOf, cdf = false,
          nameOverride = catalogName + "." + ident.toString)
      case Some(IcebergFlavor) =>
        // native DSv2 Iceberg table: batch + micro-batch streaming
        // reads (snapshot-id offsets), committing INSERTs, real
        // manifest statistics; VERSION AS OF carries the snapshot id
        new GraftIcebergTable(spark, dir.toString, versionAsOf,
          timestampAsOf, cdf = false,
          nameOverride = catalogName + "." + ident.toString)
      case None =>
        require(versionAsOf.isEmpty && timestampAsOf.isEmpty,
          s"plain parquet table $ident has no version history")
        parquetTable(ident, dir, sidecarSchema(dir))
    }
  }

  override def loadTable(ident: Identifier): Table = serve(ident, None, None)

  /** `VERSION AS OF <v>` time travel. */
  /** `VERSION AS OF <v>` — a numeric version/snapshot id, or (Iceberg
    * flavor) a named snapshot REF: `VERSION AS OF 'audit-tag'` resolves
    * the branch/tag to its pinned snapshot id. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val v = version.trim
    if (v.nonEmpty && v.forall(_.isDigit)) serve(ident, Some(v.toLong), None)
    else {
      val dir = dirFor(ident)
      require(fs.exists(dir) && flavorOf(dir).contains(IcebergFlavor),
        s"VERSION AS OF '$version': named refs resolve on Iceberg-flavor " +
          "tables only")
      serve(ident,
        Some(IcebergTable.refSnapshotId(spark, dir.toString, v)), None)
    }
  }

  /** `TIMESTAMP AS OF <ts>` time travel; Spark hands MICROseconds. */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    serve(ident, None, Some(timestamp / 1000L))

  override def tableExists(ident: Identifier): Boolean = fs.exists(dirFor(ident))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = dirFor(namespace)
    if (!fs.exists(dir)) return Array.empty
    fs.listStatus(dir).filter(_.isDirectory)
      .map(st => Identifier.of(namespace, st.getPath.getName))
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      "graft catalog tables are unpartitioned directories; create a " +
        "partitioned table with CREATE TABLE '<path>' … USING delta " +
        "PARTITIONED BY (…)")
    val dir = dirFor(ident)
    if (fs.exists(dir)) throw new org.apache.spark.sql.catalyst.analysis
      .TableAlreadyExistsException(ident)
    fs.mkdirs(dir)
    // persist the declared schema in the sidecar so an empty table
    // loads (and can be ALTERed) before its first INSERT
    val out = fs.create(sidecarPath(dir), true)
    try out.write(schema.json.getBytes("UTF-8")) finally out.close()
    parquetTable(ident, dir, Some(schema))
  }

  /** `ALTER TABLE … ADD COLUMN(S)`, mapped per storage flavor to the
    * format's own evolution machinery:
    *  - delta → a metaData-only commit via [[DeltaLog.addColumns]];
    *    existing files read the columns as null, appends are gated on
    *    the widened schema, time travel unaffected.
    *  - iceberg → real schema evolution via
    *    [[IcebergTable.addColumns]]: a new schema-id with fresh field
    *    ids, current reads null-fill, time travel keeps each
    *    snapshot's pinned schema.
    *  - plain parquet → the `_graft_schema.json` sidecar.
    * Anything other than a top-level AddColumn stays a loud
    * UnsupportedOperationException — never a silently dropped DDL. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = dirFor(ident)
    if (!fs.exists(dir))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    val adds = changes.map {
      case a: TableChange.AddColumn =>
        require(a.fieldNames().length == 1,
          s"only top-level ADD COLUMN is supported, got ${a.fieldNames().mkString(".")}")
        org.apache.spark.sql.types.StructField(
          a.fieldNames()(0), a.dataType(), a.isNullable)
      case other => throw new UnsupportedOperationException(
        s"unsupported ALTER TABLE change on graft catalog: $other")
    }
    flavorOf(dir) match {
      case Some(DeltaFlavor) => DeltaLog.addColumns(spark, dir.toString, adds)
      case Some(IcebergFlavor) => IcebergTable.addColumns(spark, dir.toString, adds)
      case None =>
        val cur = sidecarSchema(dir).getOrElse(
          Tables.parquet(spark, dir.toString).schema)
        adds.foreach(f => require(!cur.fieldNames.contains(f.name),
          s"column ${f.name} already exists on $ident"))
        val widened = StructType(cur.fields ++ adds)
        val out = fs.create(sidecarPath(dir), true)
        try out.write(widened.json.getBytes("UTF-8")) finally out.close()
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = dirFor(ident)
    fs.exists(dir) && fs.delete(dir, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!fs.rename(dirFor(oldIdent), dirFor(newIdent)))
      throw new IllegalStateException(s"rename $oldIdent -> $newIdent failed")
  }

  // ---- namespaces: one directory level each ----

  override def listNamespaces(): Array[Array[String]] = {
    val r = new Path(root)
    if (!fs.exists(r)) return Array.empty
    fs.listStatus(r).filter(_.isDirectory)
      .map(st => Array(st.getPath.getName))
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else {
      val dir = dirFor(namespace)
      if (!fs.exists(dir)) Array.empty
      else fs.listStatus(dir).filter(_.isDirectory)
        .map(st => namespace :+ st.getPath.getName)
    }

  override def namespaceExists(namespace: Array[String]): Boolean =
    fs.exists(dirFor(namespace))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(namespace)
    Map("location" -> dirFor(namespace).toString).asJava
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    fs.mkdirs(dirFor(namespace))
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE on graft catalog")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val dir = dirFor(namespace)
    if (!fs.exists(dir)) return false
    if (!cascade && fs.listStatus(dir).nonEmpty)
      throw new IllegalStateException(s"namespace ${namespace.mkString(".")} not empty")
    fs.delete(dir, true)
  }
}

/** A small driver-computed DSv2 relation serving the Iceberg
  * METADATA tables: rows ride in ONE partition as plain Scala values
  * (bounded by metadata cardinality — file/snapshot counts), the
  * reader converts strings to catalyst form. Read-only; no data file
  * ever opens. */
private[sources] case class GraftLocalRowsPartition(rows: Seq[Seq[Any]])
  extends org.apache.spark.sql.connector.read.InputPartition

private[sources] class GraftMetadataTable(tblName: String,
                                          tblSchema: StructType,
                                          rows: Seq[Seq[Any]])
  extends Table with SupportsRead {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.connector.read._

  override def name(): String = tblName
  override def schema(): StructType = tblSchema
  override def capabilities(): util.Set[TableCapability] = {
    val s = new util.HashSet[TableCapability]()
    s.add(TableCapability.BATCH_READ)
    s
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = tblSchema
        override def description(): String = s"graft-metadata $tblName"
        override def toBatch: Batch = new Batch {
          override def planInputPartitions(): Array[InputPartition] =
            Array(GraftLocalRowsPartition(rows))
          override def createReaderFactory(): PartitionReaderFactory =
            new PartitionReaderFactory {
              override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
                val rs = p.asInstanceOf[GraftLocalRowsPartition].rows
                new PartitionReader[InternalRow] {
                  private var i = -1
                  override def next(): Boolean = { i += 1; i < rs.length }
                  override def get(): InternalRow =
                    new GenericInternalRow(rs(i).map {
                      case s: String =>
                        org.apache.spark.unsafe.types.UTF8String.fromString(s)
                      case v => v
                    }.toArray[Any])
                  override def close(): Unit = ()
                }
              }
            }
        }
      }
    }
}

/** The canonical `bucket(numBuckets, col)` v2 function — Iceberg's
  * spec bucket transform (murmur3 of the value's single-value binary
  * form, mod n), served through [[GraftCatalog]]'s FunctionCatalog
  * leg so Spark can resolve a reported `bucket` KeyGroupedPartitioning
  * and storage-partition-join two co-bucketed tables. The hash is
  * [[graft.functions.IcebergTransforms]] — the Appendix-B-verified
  * implementation the hidden-partitioning writer already uses. */
private[sources] object GraftBucketFunction
  extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction}
  import org.apache.spark.sql.types._
  import graft.functions.IcebergTransforms

  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, col): Iceberg spec murmur3 bucket transform"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.length == 2,
      s"bucket takes (numBuckets, value), got ${inputType.simpleString}")
    val srcType = inputType(1).dataType
    srcType match {
      case IntegerType | DateType | LongType | TimestampType | StringType =>
      case other => throw new UnsupportedOperationException(
        s"bucket over ${other.simpleString} is not supported")
    }
    new ScalarFunction[Integer] {
      override def inputTypes(): Array[DataType] =
        Array(IntegerType, srcType)
      override def resultType(): DataType = IntegerType
      override def name(): String = "bucket"
      override def canonicalName(): String =
        s"graft.bucket(${srcType.catalogString})"
      override def isResultNullable: Boolean = false
      override def produceResult(input: org.apache.spark.sql.catalyst.InternalRow): Integer = {
        val n = input.getInt(0)
        srcType match {
          case IntegerType | DateType =>
            IcebergTransforms.bucketLong(input.getInt(1).toLong, n)
          case LongType | TimestampType =>
            IcebergTransforms.bucketLong(input.getLong(1), n)
          case StringType =>
            IcebergTransforms.bucketUtf8(input.getUTF8String(1), n)
          case other => throw new IllegalStateException(s"bucket over $other")
        }
      }
    }
  }
}
