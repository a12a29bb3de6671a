package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Column, DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, GenericInternalRow, Literal}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics, Statistics}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.{FilePartition, FileStatusCache, InMemoryFileIndex, PartitionedFile}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.StagingWrite
import org.apache.spark.sql.sources.{And => FAnd, DataSourceRegister, EqualNullSafe, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, InsertableRelation, IsNotNull, IsNull, LessThan, LessThanOrEqual, Not => FNot, Or => FOr, StreamSinkProvider, StringContains, StringEndsWith, StringStartsWith}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DSv2 table over a REAL `_delta_log` directory — the missing leg
  * that makes graft's Delta interop first-class inside Spark's own
  * machinery instead of only behind [[DeltaLog]]'s Scala API:
  *
  *  - **Batch reads** (`spark.read.format("graft-delta").load(path)`,
  *    `spark.table("graft.ns.t")` through [[GraftCatalog]], and every
  *    [[DeltaLog.read]] / `graft_delta(...)`):
  *    the scan's file list comes from the log replay, pushed filters
  *    prune it FILE-level first (partition values + per-file stats,
  *    [[DeltaLog.prunedFiles]]) and then row-group-level inside the
  *    parquet reader — a date-predicate read of a 100 TB partitioned
  *    table plans one partition's files, not all of them. Partitioned
  *    Delta tables are fully served: partition values ride in from
  *    the log as per-file constants, exactly like Spark's own
  *    partitioned-parquet reads.
  *  - **Micro-batch streaming reads** — the reference's literal gold
  *    layer is `spark.readStream.format("delta")` (reference
  *    gold_transformation.py:41,92); here
  *    `spark.readStream.table("graft.ns.t")` (append mode) and
  *    `spark.readStream.format("graft-delta").option("readChangeFeed",
  *    "true").load(path)` (CDC mode with `_change_type` /
  *    `_commit_version` columns) run as a DSv2 [[MicroBatchStream]]:
  *    offsets are Delta versions, each micro-batch plans exactly the
  *    files the polled commits touched, and a checkpoint restart
  *    resumes from the persisted version offset.
  *  - **The change feed** has one reader, [[GraftDelta.planRange]]:
  *    the streaming source, the batch `readChangeFeed` scan
  *    (`startingVersion`/`endingVersion` or their timestamp twins) and
  *    [[DeltaLog.changes]] (a batch read of that scan) all apply the
  *    protocol's rule — a commit with `cdc` actions serves from its
  *    `_change_data` files alone, any other commit from its file
  *    actions.
  *  - **Batch writes** (`INSERT INTO` / `INSERT OVERWRITE` /
  *    `df.writeTo(...).append()`): a V1 write that routes through the
  *    COMMITTING writer [[DeltaLog.write]] — never a bare parquet dump
  *    the log would not reference.
  *  - **Streaming writes** (`writeStream.format("graft-delta")`): one
  *    Delta commit per micro-batch stamped with a `txn` action, so a
  *    replayed batch after a checkpoint restart is a no-op — the same
  *    exactly-once contract real Delta's sink documents.
  *
  * Scale shape: planning is O(commit tail + file list) on the driver
  * (identical to any Delta reader); data reads are Spark's own
  * vectorized parquet partition readers over split FilePartitions —
  * whole-stage codegen, columnar batches, row-group pruning all
  * apply. Nothing row-sized ever passes through the driver.
  */
object GraftDelta {

  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  /** Epoch millis from an option value: a raw millis long, a
    * `java.sql.Timestamp`-parseable string, or an ISO instant. */
  private[sources] def parseTimestampMs(s: String): Long =
    s.toLongOption.getOrElse {
      try java.sql.Timestamp.valueOf(s).getTime
      catch {
        case _: IllegalArgumentException =>
          java.time.Instant.parse(s).toEpochMilli
      }
    }

  /** Stream offset = the last Delta version this consumer has fully
    * processed. Serialized into the streaming checkpoint; a restart
    * resumes at `(version, latest]`. */
  case class DeltaStreamOffset(version: Long) extends Offset {
    override def json: String = s"""{"version":$version}"""
  }

  def parseOffset(json: String): DeltaStreamOffset = {
    val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    DeltaStreamOffset(n.get("version").asLong())
  }

  /** Delta partitionValues are plain strings; produce the catalyst
    * value of the declared type via Cast (null stays null). */
  def castPartitionValue(s: String, dt: DataType, zone: String): Any =
    if (s == null) null
    else if (dt == StringType) UTF8String.fromString(s)
    else Cast(Literal(UTF8String.fromString(s), StringType), dt, Some(zone))
      .eval(null)

  /** The per-file constants row for `readPartSchema`: real partition
    * columns from the log's partitionValues, plus the CDC columns when
    * the scan carries them. */
  def pvRow(readPartSchema: StructType, pv: Map[String, String],
            changeType: String, commitVersion: Long, zone: String): InternalRow =
    new GenericInternalRow(readPartSchema.fields.map { f =>
      f.name match {
        case ChangeTypeCol => UTF8String.fromString(changeType)
        case CommitVersionCol => commitVersion
        case p => castPartitionValue(pv.getOrElse(p, null), f.dataType, zone)
      }
    }.asInstanceOf[Array[Any]])

  /** Split files at `maxPartitionBytes` boundaries and bin-pack into
    * FilePartitions — the same granularity Spark's file sources plan,
    * so a handful of huge commit files still parallelizes. */
  def splitFiles(spark: SparkSession,
                 files: Seq[(String, InternalRow, Long)]): Array[InputPartition] = {
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val parts = files.flatMap { case (p, pv, size) =>
      val sp = SparkPath.fromPathString(p)
      val sz = math.max(size, 1L)
      (0L until sz by maxSplit).map { off =>
        PartitionedFile(pv, sp, off, math.min(maxSplit, sz - off),
          Array.empty[String], 0L, sz, Map.empty)
      }
    }
    FilePartition.getFilePartitions(spark, parts, maxSplit).toArray
  }

  /** Spark's own vectorized parquet reader factory, configured for
    * our schemas: data columns from the files, `readPartSchema`
    * appended as per-file constants, `filters` pushed to row-group
    * skipping. (ParquetScan builds the fully-configured factory —
    * reusing it keeps every conf key Spark's parquet read path needs;
    * the empty file index is construction-only.) The scan broadcasts
    * its Hadoop conf, so it gets the compact snapshot (no per-key
    * source records to gzip, see `StagingWrite.compactConf`). */
  def readerFactory(spark: SparkSession, dataSchema: StructType,
                    readDataSchema: StructType, readPartSchema: StructType,
                    filters: Array[Filter]): PartitionReaderFactory = {
    val hc = StagingWrite.compactConf(
      spark.sessionState.newHadoopConfWithOptions(Map.empty))
    val emptyIndex = new InMemoryFileIndex(spark, Nil, Map.empty,
      Some(dataSchema), FileStatusCache.getOrCreate(spark), None, None)
    new ParquetScan(spark, hc, emptyIndex, dataSchema, readDataSchema,
      readPartSchema, filters, CaseInsensitiveStringMap.empty(), None,
      Seq.empty, Seq.empty,
      Array.empty[org.apache.spark.sql.connector.read.VariantExtraction])
      .createReaderFactory()
  }

  /** Translation of a pushed source Filter back to a Column. With
    * `strict = false` (file pruning) an AND may translate on either
    * side alone — sound because pruning only ever widens to "keep"
    * and Spark re-applies every filter post-scan. With `strict = true`
    * (DELETE WHERE) every node must translate exactly, or the whole
    * filter refuses — a partially-translated delete would remove a
    * superset. */
  def filterToColumn(f: Filter, strict: Boolean = false): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case FAnd(l, r) =>
      (filterToColumn(l, strict), filterToColumn(r, strict)) match {
        case (Some(a), Some(b)) => Some(a && b)
        case _ if strict => None
        // pruning: AND may prune on either translatable side alone
        case (one, other) => one.orElse(other)
      }
    case FOr(l, r) => for {a <- filterToColumn(l, strict);
                           b <- filterToColumn(r, strict)} yield a || b
    case FNot(c) => filterToColumn(c, strict).map(!_)
    case _ => None
  }

  /** Rewrite a pushed Filter's attribute references through `m`
    * (logical → PHYSICAL column names, for scans over column-mapped
    * tables). `None` = not translatable — the filter is simply not
    * pushed (sound: Spark re-applies every filter post-scan, and
    * pushFilters returned them all as residual). Translation is
    * STRICT — an AND keeps both sides or none (a relaxed side under a
    * NOT would flip soundness, and Spark already splits top-level
    * conjuncts before pushdown). */
  def renameFilter(f: Filter, m: Map[String, String]): Option[Filter] = f match {
    case EqualTo(a, v) => m.get(a).map(EqualTo(_, v))
    case EqualNullSafe(a, v) => m.get(a).map(EqualNullSafe(_, v))
    case GreaterThan(a, v) => m.get(a).map(GreaterThan(_, v))
    case GreaterThanOrEqual(a, v) => m.get(a).map(GreaterThanOrEqual(_, v))
    case LessThan(a, v) => m.get(a).map(LessThan(_, v))
    case LessThanOrEqual(a, v) => m.get(a).map(LessThanOrEqual(_, v))
    case In(a, vs) => m.get(a).map(In(_, vs))
    case IsNull(a) => m.get(a).map(IsNull(_))
    case IsNotNull(a) => m.get(a).map(IsNotNull(_))
    case StringStartsWith(a, v) => m.get(a).map(StringStartsWith(_, v))
    case StringEndsWith(a, v) => m.get(a).map(StringEndsWith(_, v))
    case StringContains(a, v) => m.get(a).map(StringContains(_, v))
    case FAnd(l, r) => for {a <- renameFilter(l, m);
                            b <- renameFilter(r, m)} yield FAnd(a, b)
    case FOr(l, r) => for {a <- renameFilter(l, m);
                           b <- renameFilter(r, m)} yield FOr(a, b)
    case FNot(c) => renameFilter(c, m).map(FNot(_))
    case _ => None
  }

  /** Convert a RUNTIME v2 predicate — what Spark's dynamic-partition-
    * pruning machinery delivers through `SupportsRuntimeV2Filtering`
    * (`translateRuntimeFilterV2` emits `IN` over one field reference
    * with catalyst-INTERNAL literal values once the join-side
    * subquery has executed) — back to a v1 source Filter the log-side
    * pruning already understands. Literals convert internal→external
    * (UTF8String→String, days-int→Date, …) so the downstream
    * `lit`/`isin` comparisons type-check against the logical column.
    * Unknown shapes drop: runtime filters are best-effort by contract
    * (Spark re-applies the join itself — skipping one only reads more
    * files, never serves wrong rows). */
  def runtimeToV1(p: org.apache.spark.sql.connector.expressions.filter.Predicate): Option[Filter] = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.connector.expressions.{Expression => V2Expr, Literal => V2Literal, NamedReference}
    def name(e: V2Expr): Option[String] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        Some(r.fieldNames()(0))
      case _ => None
    }
    // DPP predicates carry catalyst-INTERNAL values (UTF8String,
    // days-int dates); `Expressions.literal` — the public factory —
    // keeps values EXTERNAL. Accept both.
    def value(e: V2Expr): Option[Any] = e match {
      case l: V2Literal[_] => Some(l.value match {
        case null => null
        case _: String | _: java.math.BigDecimal | _: java.sql.Date |
             _: java.sql.Timestamp | _: java.time.LocalDate |
             _: java.time.Instant | _: BigDecimal => l.value
        case u: UTF8String => u.toString
        case v => CatalystTypeConverters.convertToScala(v, l.dataType)
      })
      case _ => None
    }
    p.name() match {
      case "IN" if p.children().nonEmpty =>
        val ch = p.children()
        val vs = ch.tail.map(value)
        for {a <- name(ch.head); if vs.forall(_.isDefined)}
          yield In(a, vs.map(_.get))
      case "=" => p.children() match {
        case Array(l, r) => for {a <- name(l); v <- value(r)}
          yield EqualTo(a, v)
        case _ => None
      }
      case _ => None
    }
  }

  /** Plan the changes committed in `(fromV, toV]` as scan partitions:
    * the one change-feed planner behind the batch and streaming
    * `readChangeFeed` scans (and so [[DeltaLog.changes]]) and behind
    * append-mode streams. The range is parsed once through
    * [[DeltaLog.parsedTail]] (driver-side under the replay byte gate,
    * distributed above it).
    *
    * CDC mode follows the protocol's reader rule: a commit carrying
    * `cdc` actions serves from those `_change_data` files alone, with
    * `_change_type` read from the file (precise deletes and
    * update_preimage/update_postimage pairs, never the rewrite's
    * delete+reinsert of untouched rows). Any other commit emits added
    * files tagged `insert` and removed files tagged `delete` (pv/size
    * for removes resolve from in-range adds or the pre-range snapshot
    * — tombstones carry neither), and deletion-vector updates as
    * position diffs. Append mode emits only dataChange adds and
    * handles remove-bearing commits per the `skipChangeCommits` /
    * `ignoreDeletes` options, loudly by default. dataChange=false
    * actions (OPTIMIZE) are invisible in both modes. */
  def planRange(spark: SparkSession, tablePath: String,
                snapSchema: StructType, snapPartCols: Seq[String],
                readPartSchema: StructType,
                fromV: Long, toV: Long, cdf: Boolean,
                skipChangeCommits: Boolean,
                ignoreDeletes: Boolean): Array[InputPartition] = {
    val listed = DeltaLog.listCommits(spark, tablePath)
    val commits = listed.filter { case (v, _) => v > fromV && v <= toV }
    if (commits.isEmpty) return Array.empty
    val versions = commits.map(_._1)
    val tail = DeltaLog.parsedTail(spark, tablePath, commits)
    tail.metas.foreach { m =>
      if (DataType.fromJson(m.schemaString) != snapSchema ||
        m.partitionColumns != snapPartCols)
        throw new UnsupportedOperationException(
          s"schema change inside the polled range ($fromV, $toV] of " +
            s"$tablePath — read up to the metaData boundary, then " +
            "restart the stream (or re-read) to adopt the new schema")
    }
    val actsOf = tail.files.groupBy(_.v)
    val cdcOf = tail.cdcs.groupBy(_.v)
    def abs(rel: String): String =
      new Path(tablePath, DeltaLog.decodePath(rel)).toString
    // removed files' pv/size/dv resolve from the pre-range snapshot ∪
    // in-range adds (a tombstone carries none of them)
    type FState = (Map[String, String], Long, Option[DeletionVectors.Descriptor])
    lazy val prior: Map[String, FState] = {
      val baseV = listed.map(_._1).filter(_ <= fromV).lastOption
      baseV.map(b => DeltaLog.snapshot(spark, tablePath, versionAsOf = Some(b))
        .files.map(f => f.path -> ((f.partitionValues, f.size, f.dv))).toMap)
        .getOrElse(Map.empty)
    }
    // None = removed inside the range (a tombstone MASKS the prior
    // snapshot — a later re-add must see "not live", not stale state)
    var inRange = Map.empty[String, Option[FState]]
    def stateOf(key: String): Option[FState] =
      inRange.getOrElse(key, prior.get(key))
    def live(d: Option[DeletionVectors.Descriptor]) =
      d.filter(_.cardinality != 0L)
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    val out = Seq.newBuilder[(String, InternalRow, Long)]
    // `_change_data` files carry `_change_type` as a column: their
    // constants row leaves it out
    val cdcPartSchema = StructType(readPartSchema.filterNot(_.name == ChangeTypeCol))
    val cdcOut = Seq.newBuilder[(String, InternalRow, Long)]
    // DV-bearing legs plan as whole-file partitions carrying their
    // DESCRIPTORS — positions decode on the executors (SKIP = serve
    // all but the vector; SELECT = exactly dvA \ dvB, the row-diff of
    // a DV update). The driver never expands a position list.
    type DvLeg = (PartitionedFile, Boolean,
      Option[DeletionVectors.Descriptor], Option[DeletionVectors.Descriptor])
    val dvOut = Seq.newBuilder[DvLeg]
    def wholeFile(key: String, pv: InternalRow, size: Long): PartitionedFile = {
      val sz = math.max(size, 1L)
      PartitionedFile(pv, SparkPath.fromPathString(key), 0L, sz,
        Array.empty[String], 0L, sz, Map.empty)
    }
    versions.foreach { version =>
      // LIVENESS follows every file action (a dataChange=false
      // OPTIMIZE moves rows between files without changing them —
      // a later DV delete on the compacted file must see it as live,
      // not brand-new); EMISSION only covers dataChange=true actions
      val acts = actsOf.getOrElse(version, Nil)
      val allAdds = acts.filter(_.isAdd)
      val allRemoves = acts.filterNot(_.isAdd)
      val adds = allAdds.filter(_.dataChange)
      val removes = allRemoves.filter(_.dataChange)
      val readdKeys = allAdds.map(a => abs(a.path)).toSet
      if (cdf && cdcOf.contains(version)) {
        cdcOf(version).foreach(c => cdcOut += ((abs(c.path),
          pvRow(cdcPartSchema, c.pv, null, version, zone), c.size)))
      } else if (cdf) {
        adds.foreach { a =>
          val key = abs(a.path)
          val wasLive = stateOf(key)
          (wasLive, a.dv) match {
            case (Some((pv, size, oldDv)), newDv)
              if newDv.isDefined || oldDv.isDefined =>
              // DV update of a live file: the row-level change is the
              // POSITION DIFF — newly-covered positions are deletes,
              // uncovered ones (a restore) inserts. Diffs compute on
              // the executor; a side with an empty/absent vector
              // cannot contribute, so its leg never plans.
              if (live(newDv).isDefined) dvOut += ((wholeFile(key,
                pvRow(readPartSchema, pv, "delete", version, zone), size),
                true, newDv, oldDv))
              if (live(oldDv).isDefined) dvOut += ((wholeFile(key,
                pvRow(readPartSchema, pv, "insert", version, zone), size),
                true, oldDv, newDv))
            case (None, Some(dv)) =>
              // brand-new file born with a DV: its LIVE rows insert
              dvOut += ((wholeFile(key,
                pvRow(readPartSchema, a.pv, "insert", version, zone),
                a.size), false, live(Some(dv)), None))
            case _ =>
              out += ((key,
                pvRow(readPartSchema, a.pv, "insert", version, zone), a.size))
          }
        }
        removes.foreach { r =>
          val key = abs(r.path)
          if (!readdKeys(key)) { // a re-add pair is a DV update, not a drop
            val (pv, size, oldDv) = stateOf(key).getOrElse(
              throw new IllegalStateException(
                s"removed file ${r.path} at version $version has no " +
                  s"resolvable add action — corrupt or truncated _delta_log"))
            val row = pvRow(readPartSchema, pv, "delete", version, zone)
            // previously-live rows only: the old DV's positions skip
            if (live(oldDv).isEmpty) out += ((key, row, size))
            else dvOut += ((wholeFile(key, row, size), false, oldDv, None))
          }
        }
      } else {
        val dvAdds = adds.filter(_.dv.exists(_.cardinality != 0L))
        val emitAdds =
          if (removes.isEmpty && dvAdds.isEmpty) true
          else if (skipChangeCommits) false // drop the whole commit
          else if (ignoreDeletes && adds.isEmpty) false // delete-only commit
          else throw new UnsupportedOperationException(
            s"version $version of $tablePath removes data " +
              (if (dvAdds.nonEmpty) "rows (deletion vectors)" else "files") +
              " (update/overwrite/delete) — an append-only stream cannot " +
              "represent it. Options: skipChangeCommits=true to drop such " +
              "commits, ignoreDeletes=true for delete-only commits, or " +
              "readChangeFeed=true for the row-level change feed.")
        if (emitAdds) adds.foreach(a => out += ((abs(a.path),
          pvRow(readPartSchema, a.pv, "insert", version, zone), a.size)))
      }
      allAdds.foreach(a =>
        inRange += (abs(a.path) -> Some((a.pv, a.size, a.dv))))
      allRemoves.foreach(r => if (!readdKeys(abs(r.path)))
        inRange += (abs(r.path) -> None))
    }
    val plain = splitFiles(spark, out.result())
    val cdcParts: Array[InputPartition] = splitFiles(spark, cdcOut.result())
      .zipWithIndex.map { case (fp: FilePartition, i) =>
        DeltaCdcPartition(fp.copy(index = plain.length + i)): InputPartition
      }
    val dvParts: Array[InputPartition] = dvOut.result().zipWithIndex.map {
      case ((pf, isSelect, a, b), i) =>
        DeltaDvPartition(
          FilePartition(plain.length + cdcParts.length + i, Array(pf)),
          tablePath, isSelect, a, b): InputPartition
    }.toArray
    plain ++ cdcParts ++ dvParts
  }
}

/** A `_change_data` split of a change-feed scan: its files hold
  * `_change_type` as a data column, so the constants row carries only
  * the partition values and `_commit_version`. */
private[sources] case class DeltaCdcPartition(fp: FilePartition)
  extends InputPartition {
  override def preferredLocations(): Array[String] = fp.preferredLocations()
}

/** Change-feed reader factory: `_change_data` splits read through
  * `cdcFiles` (whose rows carry `_change_type` right after the data
  * columns) and are reordered to the scan's layout by `order`
  * (output ordinal → input ordinal; null = already in place); every
  * other split goes to `base`, the deletion-vector-aware factory.
  * Row-based throughout, like [[MorReaderFactory]]. */
private class DeltaCdfReaderFactory(base: PartitionReaderFactory,
                                    cdcFiles: PartitionReaderFactory,
                                    order: Array[Int],
                                    types: Array[DataType])
  extends PartitionReaderFactory {
  override def supportColumnarReads(p: InputPartition): Boolean = false
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case DeltaCdcPartition(fp) =>
        val in = cdcFiles.createReader(fp)
        if (order == null) in
        else new PartitionReader[InternalRow] {
          override def next(): Boolean = in.next()
          override def get(): InternalRow = {
            val row = in.get()
            new GenericInternalRow(
              Array.tabulate[Any](order.length)(i => row.get(order(i), types(i))))
          }
          override def close(): Unit = in.close()
        }
      case other => base.createReader(other)
    }
}

/** The DSv2 Table. `cdf = true` appends `_change_type` /
  * `_commit_version` to the schema and switches both batch and
  * streaming scans to the change feed. `pinned` serves a snapshot the
  * caller already resolved (the [[DeltaLog.readSnapshot]] frames)
  * instead of resolving one from the log. */
class GraftDeltaTable(spark: SparkSession, val tablePath: String,
                      versionAsOf: Option[Long] = None,
                      timestampAsOf: Option[Long] = None,
                      val cdf: Boolean = false,
                      nameOverride: String = null,
                      pinned: Option[DeltaLog.Snapshot] = None)
  extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {
  import GraftDelta._

  lazy val snap: DeltaLog.Snapshot = pinned.getOrElse(
    DeltaLog.snapshot(spark, tablePath, versionAsOf, timestampAsOf))
  lazy val dataSchema: StructType = StructType(
    snap.schema.filterNot(f => snap.partitionColumns.contains(f.name)))

  /** The PHYSICAL view for column-mapped tables (`snap` itself when
    * unmapped): parquet files, partitionValues keys, and stats JSON
    * all speak physical names, so every scan-internal structure —
    * parquet read schemas, log-side pruning, partition-value rows —
    * runs over this view; only `schema()`/`readSchema()` stay
    * logical. Nested physical renames refuse loudly inside
    * [[DeltaLog.physicalSnapshot]]. */
  lazy val physSnap: DeltaLog.Snapshot =
    if (DeltaLog.isColumnMapped(snap.schema) ||
      snap.configuration.get("delta.columnMapping.mode").exists(_ != "none"))
      DeltaLog.physicalSnapshot(spark, snap)
    else snap
  /** logical → physical top-level name map (identity when unmapped). */
  lazy val toPhys: Map[String, String] =
    snap.schema.fields.zip(physSnap.schema.fields)
      .map { case (l, p) => l.name -> p.name }.toMap
  lazy val physDataSchema: StructType = StructType(
    physSnap.schema.filterNot(f => physSnap.partitionColumns.contains(f.name)))
  private lazy val partFields: Seq[StructField] =
    snap.partitionColumns.map(c => snap.schema(c))
  private lazy val cdfFields: Seq[StructField] =
    if (cdf) Seq(StructField(ChangeTypeCol, StringType, nullable = false),
      StructField(CommitVersionCol, LongType, nullable = false))
    else Seq.empty

  override def name(): String =
    Option(nameOverride).getOrElse(s"graft-delta.`$tablePath`")

  /** Partition columns serve LAST (like Hive-partitioned tables —
    * they are per-file constants, not file data). */
  override def schema(): StructType =
    StructType(dataSchema.fields ++ partFields ++ cdfFields)

  override def capabilities(): util.Set[TableCapability] = {
    val s = new util.HashSet[TableCapability]()
    s.add(TableCapability.BATCH_READ)
    s.add(TableCapability.MICRO_BATCH_READ)
    if (!cdf) { // the change feed is read-only
      s.add(TableCapability.V1_BATCH_WRITE)
      s.add(TableCapability.TRUNCATE)
    }
    s
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // force the physical view now: nested physical renames (the one
    // unsupported shape) refuse at planning, not mid-scan
    physSnap
    new GraftDeltaScanBuilder(spark, this, options)
  }

  /** SQL `DELETE FROM … WHERE`: copy-on-write through
    * [[DeltaLog.delete]] — only files with actual matches rewrite,
    * the swap is one committed version, time travel keeps the old
    * rows. Only filter shapes we can faithfully translate are
    * accepted (canDeleteWhere), so a partial delete never commits. */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    !cdf && filters.forall(f => filterToColumn(f, strict = true).isDefined)

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val pred = filters.flatMap(f => filterToColumn(f, strict = true))
      .reduceOption(_ && _).getOrElse(lit(true))
    DeltaLog.delete(spark, tablePath, pred)
  }

  /** `INSERT INTO` appends one committed Delta version; `INSERT
    * OVERWRITE` (truncate) replaces the live set — both through
    * [[DeltaLog.write]], never a bare parquet dump the log would not
    * reference. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, ov: Boolean): Unit = {
              // data arrives in table-schema order (data cols then
              // partition cols); the log may declare another order
              val logOrder = snap.schema.fieldNames.toSeq
              DeltaLog.write(spark, data.select(logOrder.map(col): _*),
                tablePath, overwrite = overwrite || ov)
            }
          }
      }
    }
}

private class GraftDeltaScanBuilder(spark: SparkSession,
                                    table: GraftDeltaTable,
                                    options: CaseInsensitiveStringMap)
  extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var required: StructType = table.schema()
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters // best-effort pushdown: every filter stays residual
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    val dataNames = table.dataSchema.fieldNames.toSet
    val readData = StructType(required.filter(f => dataNames.contains(f.name)))
    val readPart = StructType(required.filterNot(f => dataNames.contains(f.name)))
    new GraftDeltaScan(spark, table, readData, readPart, pushed, options)
  }
}

private class GraftDeltaScan(spark: SparkSession, table: GraftDeltaTable,
                             readData: StructType, readPart: StructType,
                             pushed: Array[Filter],
                             options: CaseInsensitiveStringMap)
  extends Scan with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
  import GraftDelta._

  override def readSchema(): StructType =
    StructType(readData.fields ++ readPart.fields)
  override def description(): String =
    s"graft-delta ${table.tablePath} v${table.snap.version}" +
      s" PushedFilters: ${pushed.mkString("[", ", ", "]")}"

  /** DSv2 DYNAMIC PARTITION PRUNING: advertising the table's
    * partition columns lets Spark's PartitionPruning rule attach a
    * join-time `IN` subquery filter to this scan — the fact side of a
    * star join plans only the files of the dim-selected partitions.
    * Predicates arrive via [[filter]] AFTER the join-side subquery
    * executes and BEFORE `planInputPartitions`, so the log-side
    * pruning sees them exactly like planning-time filters (partition
    * values AND per-file stats both apply). At 100 TB this is the
    * difference between scanning one day and scanning the table. */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (table.cdf) Array.empty
    else table.snap.partitionColumns
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray

  override def filter(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val conv = predicates.flatMap(p => runtimeToV1(p)
      .flatMap(f => renameFilter(f, table.toPhys)))
    // an EMPTY join-time IN (the subquery matched nothing) is
    // provably-false — plan zero files; the generic pruning below is
    // keep-unless-provably-false and cannot conclude that itself
    if (conv.exists { case In(_, vs) => vs.isEmpty; case _ => false })
      runtimeEmpty = true
    if (conv.nonEmpty) { runtime ++= conv; prunedCache = null }
  }
  // physical-named, like physPushed; only consulted by file pruning
  private var runtime: Array[Filter] = Array.empty
  private var runtimeEmpty = false
  @volatile private var prunedCache: Seq[DeltaLog.AddFile] = null

  /** PHYSICAL twins of the requested schemas — positionally identical
    * (same types, same order), names resolved through the mapping, so
    * `readSchema()` stays logical while the parquet readers and the
    * log's partitionValues lookups speak physical. Identity when the
    * table is unmapped. A data field keeps the requested type, which
    * nested-column pruning may have cut down to the leaves a query
    * reads (nested names are never mapped). */
  private val physReadData: StructType = StructType(
    readData.fields.map(f =>
      table.physDataSchema(table.toPhys(f.name)).copy(dataType = f.dataType)))
  private val physReadPart: StructType = StructType(
    readPart.fields.map(f =>
      if (f.name == ChangeTypeCol || f.name == CommitVersionCol) f
      else table.physSnap.schema(table.toPhys(f.name))))

  /** Pushed filters rewritten to physical names (identity map when
    * unmapped; untranslatable filters drop — they stay residual). */
  private lazy val physPushed: Array[Filter] =
    pushed.flatMap(f => renameFilter(f, table.toPhys))

  /** Filters the parquet reader may apply row-group-level: those over
    * data columns only (partition columns are not in the files). */
  private def dataFilters: Array[Filter] = {
    val dataNames = table.physDataSchema.fieldNames.toSet
    physPushed.filter(_.references.forall(dataNames.contains))
  }

  /** The reader factories are built once per scan: `BatchScanExec`
    * asks for one while planning, and adaptive execution plans new
    * exec nodes over the same scan after each stage it materializes;
    * each factory copies the conf and broadcasts it. */
  private lazy val factory: PartitionReaderFactory =
    readerFactory(spark, table.physDataSchema, physReadData, physReadPart,
      dataFilters)

  /** File list after log-side pruning (partition values + stats, both
    * physical-named in the log) — computed once per scan state
    * (statistics may be requested repeatedly during join costing) and
    * invalidated when runtime filters arrive. */
  private def prunedFiles: Seq[DeltaLog.AddFile] = {
    if (runtimeEmpty) return Seq.empty
    if (prunedCache == null)
      prunedCache = (physPushed ++ runtime).filter(canPrune)
        .flatMap(f => filterToColumn(f)).reduceOption(_ && _) match {
        case Some(pred) => DeltaLog.prunedFiles(spark, table.physSnap, pred)
        case None => table.physSnap.files
      }
    prunedCache
  }

  /** Whether log-side pruning can use `f`: a comparison (per-file
    * stats, [[DeltaLog.statsPrunedFiles]]) or any filter over a
    * partition column. The others, such as the `IsNotNull` Spark infers
    * for every join key, never prune a file, and translating them costs
    * a Catalyst analysis per scan. */
  private def canPrune(f: Filter): Boolean = f match {
    case _: EqualTo | _: GreaterThan | _: GreaterThanOrEqual | _: LessThan |
         _: LessThanOrEqual => true
    case FAnd(l, r) => canPrune(l) || canPrune(r)
    case _ => f.references.exists(table.physSnap.partitionColumns.contains)
  }

  /** Real size/row statistics from the log — what keeps a small Delta
    * dimension broadcastable in catalog joins. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val files = prunedFiles
    override def sizeInBytes(): util.OptionalLong =
      util.OptionalLong.of(math.max(files.map(_.size).sum, 1L))
    override def numRows(): util.OptionalLong = {
      val counts = files.map(_.stats.flatMap(js =>
        "\"numRecords\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(js)
          .map(_.group(1).toLong)))
      if (counts.forall(_.isDefined))
        // numRecords is PHYSICAL; DV-deleted rows are not served
        util.OptionalLong.of(counts.flatten.sum -
          files.flatMap(_.dv).map(_.cardinality).sum)
      else util.OptionalLong.empty()
    }
  }

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      if (table.cdf) {
        // version bounds, or their TIME-based twins resolved against
        // the commits' ICT-aware timestamps: changes committed at or
        // after startingTimestamp through at or before endingTimestamp
        val sv = Option(options.get("startingVersion")).map(_.toLong)
        val st = Option(options.get("startingTimestamp"))
          .map(GraftDelta.parseTimestampMs)
        val ev = Option(options.get("endingVersion")).map(_.toLong)
        val et = Option(options.get("endingTimestamp"))
          .map(GraftDelta.parseTimestampMs)
        require(sv.isEmpty || st.isEmpty,
          "set at most one of startingVersion / startingTimestamp")
        require(ev.isEmpty || et.isEmpty,
          "set at most one of endingVersion / endingTimestamp")
        lazy val times = DeltaLog.commitTimes(spark, table.tablePath)
        val fromV = sv.orElse(st.map(ts =>
          times.takeWhile(_._2 < ts).lastOption.map(_._1).getOrElse(-1L)))
          .getOrElse(throw new IllegalArgumentException(
            "batch readChangeFeed needs startingVersion (exclusive " +
              "lower bound) or startingTimestamp (inclusive)"))
        val toV = ev.orElse(et.map(ts =>
          times.takeWhile(_._2 <= ts).lastOption.map(_._1).getOrElse(-1L)))
          .getOrElse(table.snap.version)
        planRange(spark, table.tablePath, table.snap.schema,
          table.snap.partitionColumns, physReadPart, fromV, toV, cdf = true,
          skipChangeCommits = false, ignoreDeletes = false)
      } else {
        val zone = spark.sessionState.conf.sessionLocalTimeZone
        val (dvFiles, plainFiles) = prunedFiles
          .partition(_.dv.exists(_.cardinality != 0L))
        val plainParts = splitFiles(spark, plainFiles.map(f => (f.path,
          pvRow(physReadPart, f.partitionValues, "insert", table.snap.version,
            zone),
          f.size)))
        // DV files plan as ONE whole-file, in-order partition each:
        // the wrapped reader counts physical row positions to apply
        // the vector, so no byte-splitting and no row-group skipping.
        // Only the compact DESCRIPTOR ships in the partition —
        // positions decode on the executor (external tables carry
        // unbounded DV cardinality; the driver plan must not).
        val dvParts: Array[InputPartition] =
          dvFiles.zipWithIndex.map { case (f, i) =>
            val pv = pvRow(physReadPart, f.partitionValues, "insert",
              table.snap.version, zone)
            val sz = math.max(f.size, 1L)
            val pf = PartitionedFile(pv, SparkPath.fromPathString(f.path),
              0L, sz, Array.empty[String], 0L, sz, Map.empty)
            DeltaDvPartition(
              FilePartition(plainParts.length + i, Array(pf)),
              table.tablePath, select = false, f.dv, None): InputPartition
          }.toArray
        plainParts ++ dvParts
      }
    override def createReaderFactory(): PartitionReaderFactory =
      // plain batch scans need the DV-aware reader only when the
      // snapshot itself has vectors
      if (table.cdf) cdfFactory
      else if (table.snap.files.exists(_.dv.exists(_.cardinality != 0L)))
        dvAwareFactory
      else factory
  }

  private lazy val dvAwareFactory: PartitionReaderFactory =
    new MorReaderFactory(factory,
      readerFactory(spark, table.physDataSchema, physReadData, physReadPart,
        Array.empty),
      new SerializableHadoopConf(
        spark.sessionState.newHadoopConfWithOptions(Map.empty)))

  /** The change-feed reader: plans may carry DV position partitions
    * and `_change_data` splits whatever the snapshot's state. A
    * `_change_data` file reads `_change_type` (when requested) as a
    * data column after the requested data columns, then reorders it
    * into the scan's layout. */
  private lazy val cdfFactory: PartitionReaderFactory = {
    val ct = StructField(ChangeTypeCol, StringType)
    val cdcData =
      if (physReadPart.fieldNames.contains(ChangeTypeCol))
        StructType(physReadData.fields :+ ct)
      else physReadData
    val cdcPart = StructType(physReadPart.filterNot(_.name == ChangeTypeCol))
    val want = physReadData.fieldNames ++ physReadPart.fieldNames
    val have = cdcData.fieldNames ++ cdcPart.fieldNames
    val order = want.map(n => have.indexOf(n))
    new DeltaCdfReaderFactory(dvAwareFactory,
      readerFactory(spark, StructType(table.physDataSchema.fields :+ ct),
        cdcData, cdcPart, dataFilters),
      if (order.sameElements(want.indices)) null else order,
      (physReadData.fields ++ physReadPart.fields).map(_.dataType))
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftDeltaMicroBatchStream(spark, table, physReadPart,
      if (table.cdf) cdfFactory else factory, options)
}

/** Version-offset micro-batch stream over the commit log: each
  * micro-batch is one [[GraftDelta.planRange]] call, the same planner
  * (and so the same `cdc`-file rule) that serves the batch
  * `readChangeFeed` scan and [[DeltaLog.changes]].
  * ADMISSION CONTROL (`maxFilesPerTrigger`): a stream catching up on
  * a long backlog — the restart-after-an-outage shape — caps each
  * micro-batch at roughly N added files instead of planning the
  * entire backlog into one giant batch. Offsets stay
  * version-granular, so the cap admits WHOLE commits: versions are
  * taken in order while the file budget lasts, always at least one
  * per batch (a single commit larger than the cap still processes
  * atomically — a half-applied commit would tear the CDC feed).
  * Counting reads only the admitted commits' JSONs, one at a time,
  * through [[DeltaLog.parsedTail]] like the planner. */
private class GraftDeltaMicroBatchStream(spark: SparkSession,
                                         table: GraftDeltaTable,
                                         readPart: StructType,
                                         factory: PartitionReaderFactory,
                                         options: CaseInsensitiveStringMap)
  extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {
  import GraftDelta._

  /** Trigger.AvailableNow contract: pin the end at stream start;
    * admission then paces batches UP TO the pinned end and the query
    * stops there — commits landing mid-run wait for the next run. */
  private var availableNowEnd: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd =
      Some(DeltaLog.listVersions(spark, table.tablePath).last)

  /** Default -1 = replay the table from its creation commit (the
    * replica-building choice; pass the current version to start from
    * "now"). `startingTimestamp` (epoch millis, or a parseable
    * timestamp string) is the time-based twin: changes committed AT
    * OR AFTER it stream — resolved against the commits' ICT-aware
    * timestamps, real Delta's rule; a future timestamp starts from
    * "now". Mutually exclusive with `startingVersion`. */
  private val startingVersion: Long = {
    val sv = Option(options.get("startingVersion")).map(_.toLong)
    val st = Option(options.get("startingTimestamp"))
      .map(GraftDelta.parseTimestampMs)
    require(sv.isEmpty || st.isEmpty,
      "set at most one of startingVersion / startingTimestamp")
    st match {
      case Some(ts) => DeltaLog.commitTimes(spark, table.tablePath)
        .takeWhile(_._2 < ts).lastOption.map(_._1).getOrElse(-1L)
      case None => sv.getOrElse(-1L)
    }
  }
  private val skipChangeCommits =
    options.getBoolean("skipChangeCommits", false)
  private val ignoreDeletes = options.getBoolean("ignoreDeletes", false)
  private val maxFilesPerTrigger: Option[Int] =
    Option(options.get("maxFilesPerTrigger")).map { s =>
      val n = s.toInt
      require(n > 0, s"maxFilesPerTrigger must be positive, got $n")
      n
    }
  private val maxBytesPerTrigger: Option[Long] =
    Option(options.get("maxBytesPerTrigger")).map { s =>
      val n = s.toLong
      require(n > 0, s"maxBytesPerTrigger must be positive, got $n")
      n
    }

  override def initialOffset(): Offset = DeltaStreamOffset(startingVersion)
  override def latestOffset(): Offset =
    DeltaStreamOffset(DeltaLog.listVersions(spark, table.tablePath).last)
  override def deserializeOffset(json: String): Offset = parseOffset(json)

  override def getDefaultReadLimit: ReadLimit =
    if (maxFilesPerTrigger.isEmpty && maxBytesPerTrigger.isEmpty)
      ReadLimit.allAvailable()
    else ReadLimit.maxFiles(maxFilesPerTrigger.getOrElse(Int.MaxValue))

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[DeltaStreamOffset].version
    val pending = DeltaLog.listCommits(spark, table.tablePath)
      .filter { case (v, _) => v > from && availableNowEnd.forall(v <= _) }
    if (pending.isEmpty) return DeltaStreamOffset(from)
    // an EXPLICIT allAvailable from the engine (Trigger.Once) means
    // process everything — the pacing options must not strand the
    // backlog past the query's single batch
    val fileCap: Option[Long] = limit match {
      case mf: ReadMaxFiles => Some(mf.maxFiles().toLong)
      case _ => None
    }
    if (fileCap.isEmpty)
      return DeltaStreamOffset(pending.last._1)
    // one commit parsed per admitted commit: the budget is checked
    // before the next one is read
    val it = pending.iterator.map { c =>
      c._1 -> DeltaLog.parsedTail(spark, table.tablePath, Seq(c)).files
        .filter(a => a.isAdd && a.dataChange)
    }
    var files = 0L; var bytes = 0L; var last = from
    while ((last == from || (fileCap.forall(files < _) &&
      maxBytesPerTrigger.forall(bytes < _))) && it.hasNext) {
      val (v, adds) = it.next()
      files += adds.size
      bytes += adds.map(_.size).sum
      last = v
    }
    DeltaStreamOffset(last)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    planRange(spark, table.tablePath, table.snap.schema,
      table.snap.partitionColumns, readPart,
      start.asInstanceOf[DeltaStreamOffset].version,
      end.asInstanceOf[DeltaStreamOffset].version,
      cdf = table.cdf, skipChangeCommits = skipChangeCommits,
      ignoreDeletes = ignoreDeletes)

  override def createReaderFactory(): PartitionReaderFactory = factory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** `format("graft-delta")` — path-based entry for reads (batch,
  * streaming, CDC via `readChangeFeed=true`) and the V1 streaming
  * SINK (`writeStream.format("graft-delta")`), which commits one
  * Delta version per micro-batch with a `txn` idempotence marker:
  * on restart, batches at or below the table's replayed `txn`
  * watermark are skipped — exactly-once output, not at-least-once. */
class GraftDeltaDataSource extends TableProvider with DataSourceRegister
  with StreamSinkProvider {

  override def shortName(): String = "graft-delta"

  private def tableFor(options: CaseInsensitiveStringMap): GraftDeltaTable = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-delta needs a table path: .load(path) or .option(\"path\", ...)"))
    new GraftDeltaTable(SparkSession.active, path,
      versionAsOf = Option(options.get("versionAsOf")).map(_.toLong),
      timestampAsOf = Option(options.get("timestampAsOf")).map(_.toLong),
      cdf = options.getBoolean("readChangeFeed", false))
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    // the WRITE path (writeStream sink) infers before the target
    // exists, or over a `_delta_log` that holds no commit yet — return
    // an empty schema so resolution proceeds to the V1 sink fallback;
    // a batch READ of a missing table still fails loudly when the
    // scan forces the snapshot
    try tableFor(options).schema()
    catch {
      case e: IllegalArgumentException
        if e.getMessage != null && e.getMessage.contains("no _delta_log") =>
        new StructType()
      case _: DeltaLog.EmptyLogException => new StructType()
    }
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    tableFor(new CaseInsensitiveStringMap(properties))

  /** V1 streaming sink (the table advertises no STREAMING_WRITE, so
    * `writeStream.format("graft-delta")` falls back here). */
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    val path = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-delta sink needs a path: .start(path) or .option(\"path\", ...)"))
    // the txn appId defaults to the checkpoint location — the unit of
    // exactly-once is one logical stream, which IS its checkpoint
    val appId = parameters.getOrElse("txnAppId",
      "graft-delta-sink:" + parameters.getOrElse("checkpointLocation", path))
    new GraftDeltaSink(sqlContext.sparkSession, path, partitionColumns,
      outputMode, appId)
  }
}

private class GraftDeltaSink(spark: SparkSession, path: String,
                             partitionBy: Seq[String], outputMode: OutputMode,
                             appId: String) extends Sink {
  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // replayed micro-batch: already durable
    if (batchId <= DeltaLog.lastCommittedBatch(spark, path, appId)) return
    // the incoming frame is streaming-flagged; re-wrap its executed
    // RDD as a batch plan (the same move Spark's ForeachBatchSink
    // makes) so the committing writer can run a batch write over it
    val batchDf = org.apache.spark.sql.graft.StreamingBatchShim.asBatch(data)
    DeltaLog.write(spark, batchDf, path,
      overwrite = outputMode == OutputMode.Complete(),
      partitionBy = partitionBy, txn = Some(appId -> batchId))
  }
  override def name(): String = s"graft-delta-sink[$path]"
}
