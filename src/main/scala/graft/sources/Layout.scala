package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.ZRankExpr

/** Physical table layout for scale: partitioned writes (partition
  * pruning), bucketed tables (shuffle-free co-located joins),
  * range-clustered files (the reference's `OPTIMIZE ZORDER BY`
  * analog — data-skipping via file-level min/max), and small-file
  * compaction.
  *
  * These are the knobs that decide whether a 100 TB table is readable:
  * a date-partitioned fact scanned for one day reads 1/1000th of the
  * files; two tables bucketed on the join key sort-merge-join with
  * ZERO exchange; a range-clustered file layout lets the parquet
  * reader skip row groups whose min/max excludes the predicate.
  *
  * Reference behavior covered: gold-layer `partitionBy` writes and
  * `OPTIMIZE ... ZORDER BY` (etl_scripts/gold_layer/
  * gold_transformation.py) — re-expressed as native Spark layout
  * operations instead of Delta table services.
  */
object Layout {

  /** Hive-style partitioned parquet write. Readers filtering on
    * `partCols` get partition pruning (plan shows PartitionFilters,
    * and only matching directories are listed). */
  def writePartitioned(df: DataFrame, path: String, partCols: Seq[String],
                       mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).partitionBy(partCols: _*).parquet(path)

  /** Bucketed + sorted managed table: rows are hash-distributed into
    * `nBuckets` files by `bucketCol` and sorted within each bucket.
    * Joins/aggregations keyed on `bucketCol` between tables with the
    * same bucketing read co-located data and skip the exchange
    * entirely — the single biggest shuffle eliminator for repeated
    * large-fact joins. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    nBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, bucketCol)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .format("parquet").saveAsTable(table)
  }

  /** Range-cluster rows across `nFiles` output files by `cols` and
    * sort within each file — a single-dimension analog of ZORDER:
    * each parquet file covers a narrow, non-overlapping range of
    * `cols`, so file/row-group min-max statistics prune reads for
    * predicates on those columns. */
  def clusterBy(df: DataFrame, nFiles: Int, cols: String*): DataFrame =
    df.repartitionByRange(nFiles, cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*)

  /** Multi-column Z-ORDER clustering — the reference's
    * `OPTIMIZE ... ZORDER BY (customer_id, product_id)`
    * (gold_transformation.py:160) without Delta table services.
    *
    * Each column is rank-quantized to `bits` bits against quantile
    * boundaries estimated once at plan time (one multi-column
    * approxQuantile job on the driver for ALL Z columns, baked into
    * the plan; the rank is [[graft.functions.ZRankExpr]], a binary
    * search with generated code); ranks are bit-interleaved into a
    * Z-value; rows are range-partitioned and sorted by it. Result:
    * every output file covers a small hyper-rectangle of the key
    * space, so min/max stats prune files for predicates on ANY of the
    * Z columns — the property a single-column sort only gives the
    * leading column. */
  def zorderBy(df: DataFrame, nFiles: Int, cols: Seq[String],
               bits: Int = 8): DataFrame = {
    require(cols.nonEmpty && bits >= 1 && bits * cols.length <= 62)
    val nb = (1 << bits) - 1
    val bounds = df.stat.approxQuantile(cols.toArray,
      (1 to nb).map(_.toDouble / (nb + 1)).toArray, 0.01)
    // rank = #boundaries <= value, in [0, nb]
    zorderByRanks(df, nFiles,
      cols.zip(bounds).map { case (c, qs) => ZRankExpr.zrank(col(c), qs.toSeq) }, bits)
  }

  /** The clustering half of [[zorderBy]]: the low `bits` bits of each
    * rank column interleave into a Z-value (first column most
    * significant); rows are range-partitioned and sorted by it. */
  private[graft] def zorderByRanks(df: DataFrame, nFiles: Int, ranks: Seq[Column],
                                   bits: Int): DataFrame = {
    val z = (0 until bits).flatMap { i =>
      ranks.zipWithIndex.map { case (r, j) =>
        shiftleft(shiftright(r, i).bitwiseAND(lit(1L)),
          i * ranks.length + (ranks.length - 1 - j))
      }
    }.reduce(_ + _)
    df.withColumn("__graft_z", z)
      .repartitionByRange(nFiles, col("__graft_z"))
      .sortWithinPartitions("__graft_z")
      .drop("__graft_z")
  }

  /** Compact a directory of (many small) parquet files into
    * `nFiles` outputs — the OPTIMIZE/compaction maintenance pass.
    * Uses coalesce: no shuffle, just fewer, larger output files. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              nFiles: Int): Unit =
    Tables.parquet(spark, inPath).coalesce(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(outPath)

  /** Schema-evolution read: merge the schemas of parquet files
    * written at different pipeline versions (columns added over
    * time); rows from files lacking a column read as NULL — the
    * plain-parquet analog of Delta's schema evolution. Off by
    * default in Spark because footer-merging scans every file's
    * metadata; turn it on only for evolving tables. */
  def readMergedSchema(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Format-agnostic read/write (parquet | orc | json | csv): the
    * bronze layer ingests whatever lands. CSV/JSON write headers /
    * line-delimited records; schemas should be supplied by the caller
    * on read for production stability. */
  def readAs(spark: SparkSession, format: String, path: String): DataFrame = {
    val r = spark.read.format(format)
    (format match {
      case "csv" => r.option("header", "true").option("inferSchema", "true")
      case _ => r
    }).load(path)
  }

  def writeAs(df: DataFrame, format: String, path: String,
              mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.mode(mode).format(format)
    (format match {
      case "csv" => w.option("header", "true")
      case _ => w
    }).save(path)
  }
}
