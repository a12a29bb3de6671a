package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the generated TPC-H-ish parquet tables, and
  * graft's one schema-less parquet read ([[parquet]]).
  *
  * Columnar parquet + lazy DataFrames: Catalyst prunes columns and
  * pushes filters into the scan, so every downstream operator reads
  * only what it needs — the property that matters at 100 TB.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `spark.read.parquet(paths: _*)` with the schema Spark would infer,
    * read by the calling JVM instead of by a Spark job.
    *
    * Without a schema, Spark's `ParquetUtils.inferSchema` runs a
    * one-task job that ships the session's Hadoop conf and reads ONE
    * footer: the first of the listed leaves sorted by path, preferring
    * a `_common_metadata`, then a `_metadata` summary file. This lists
    * the paths the way Spark's file index does, reads that same footer
    * through [[FooterIo.withFooter]] and converts it with Spark's own
    * `ParquetFileFormat.readSchemaFromFooter` (the footer's Spark row
    * metadata first), under the converter flags the inference job's
    * per-file closure uses. Field ids stay off although graft sessions
    * read by field id: the inference job does not attach them either,
    * so a requested schema never carries ids the inferred one lacks.
    * The cost is one more listing of the paths (beside the one Spark's
    * file index makes) and one footer read, at any table size.
    *
    * Partition columns still come from Spark's directory inference.
    * Where no footer decides the schema — a glob, no data file, an
    * unreadable footer, or a data column that is also a hive directory
    * key — this is `spark.read.parquet` itself, so Spark infers or
    * raises its own error. */
  def parquet(spark: SparkSession, paths: String*): DataFrame =
    readShaped(spark, paths)(identity)

  def load(spark: SparkSession, sfDir: String, table: String): DataFrame =
    readShaped(spark, Seq(s"$sfDir/$table.parquet"))(ltzTimestamps)

  /** The testdata's naive timestamps read as plain (UTC) TIMESTAMP
    * under `inferTimestampNTZ=false`, but a file Spark wrote from a
    * TIMESTAMP_NTZ column says NTZ in its row metadata, and `unix_*`
    * functions refuse NTZ. Spark reads NTZ parquet under a TIMESTAMP
    * request with the stored micros, which in graft's UTC sessions
    * equals `cast(ts as timestamp)`. */
  private def ltzTimestamps(s: StructType): StructType =
    StructType(s.map(f =>
      if (f.dataType == TimestampNTZType) f.copy(dataType = TimestampType) else f))

  private def readShaped(spark: SparkSession, paths: Seq[String])
                        (shape: StructType => StructType): DataFrame =
    footerSchema(spark, paths).fold(spark.read.parquet(paths: _*))(
      s => spark.read.schema(shape(s)).parquet(paths: _*))

  /** Spark's `HadoopFSUtils.shouldFilterOutPathName`. */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !name.startsWith("_common_metadata") && !name.startsWith("_metadata")

  private def footerSchema(spark: SparkSession, paths: Seq[String]): Option[StructType] = {
    if (paths.exists(_.exists("{}[]*?\\".contains(_)))) return None
    val conf = spark.sessionState.newHadoopConfWithOptions(Map.empty)
    val hiveKeys = scala.collection.mutable.Set[String]()
    def leaves(p: Path): Seq[FileStatus] =
      p.getFileSystem(conf).listStatus(p).toSeq
        .filterNot(st => hidden(st.getPath.getName))
        .flatMap { st =>
          if (!st.isDirectory) Seq(st)
          else {
            val n = st.getPath.getName
            if (n.contains("=")) hiveKeys += n.takeWhile(_ != '=').toLowerCase
            leaves(st.getPath)
          }
        }
    try {
      val all = paths.flatMap(p => leaves(new Path(p))).sortBy(_.getPath.toString)
      val summaries = Seq("_common_metadata", "_metadata")
      val pick = summaries.flatMap(n => all.find(_.getPath.getName == n)).headOption
        .orElse(all.find(st => !summaries.contains(st.getPath.getName)))
      val sql = spark.sessionState.conf
      val converter = new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = sql.isParquetBinaryAsString,
        assumeInt96IsTimestamp = sql.isParquetINT96AsTimestamp,
        inferTimestampNTZ = sql.parquetInferTimestampNTZEnabled,
        nanosAsLong = sql.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation = sql.parquetReaderRespectUnknownTypeAnnotation)
      pick.map(st => FooterIo.withFooter(conf, st.getPath)(r =>
        ParquetFileFormat.readSchemaFromFooter(new Footer(st.getPath, r.getFooter), converter)))
        .filterNot(_.fieldNames.exists(n => hiveKeys(n.toLowerCase)))
    } catch { case NonFatal(_) => None }
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** events.ts is TIMESTAMP(NANOS) parquet, which Spark only reads
    * with `spark.sql.legacy.parquet.nanosAsLong=true` (set in our
    * session builders) — convert the raw nanos back to a microsecond
    * timestamp with integer division (ns values exceed 2^53, so a
    * double-typed division would lose precision). */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
