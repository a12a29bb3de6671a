package graft.sources

import java.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{DataSourceRegister, Filter, InsertableRelation}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DSv2 table over a REAL Iceberg table directory — the streaming
  * twin of [[GraftDeltaTable]], so the reference's gold-layer pattern
  * (`spark.readStream.table(...)` feeding a foreachBatch upsert)
  * works identically on the Iceberg flavor:
  *
  *  - **Batch reads** (`spark.table("graft.ns.t")`, or
  *    `spark.read.format("graft-iceberg").load(path)`): the scan's
  *    file list is the resolved snapshot's ([[IcebergTable.snapshot]]),
  *    served through Spark's own vectorized parquet readers with
  *    row-group filter pushdown and column pruning; real size/row
  *    statistics come from the manifests' record counts (position-
  *    delete cardinality subtracted), so small dimensions stay
  *    broadcastable. v2 POSITION and EQUALITY delete files are served
  *    MERGE-ON-READ: affected data files plan as whole-file
  *    partitions carrying their applicable delete-FILE paths, and the
  *    executors read the delete parquet and drop dead rows — the
  *    driver never expands a position list.
  *  - **Micro-batch streaming reads**: offsets are SNAPSHOT IDS
  *    persisted in the streaming checkpoint; each micro-batch plans
  *    exactly the files whose membership changed in the polled
  *    snapshot range, computed as the file-level diff between
  *    consecutive resolved snapshots — appends stream their added
  *    files, `replace` snapshots ([[IcebergTable.rewriteManifests]])
  *    change no membership and are invisible, overwrites and
  *    row-level DML are loud in append mode (`skipChangeCommits=true`
  *    drops them) and stream in CDC mode (`readChangeFeed=true`,
  *    adding `_change_type` / `_commit_snapshot_id` — the streaming
  *    twin of [[IcebergTable.changes]]): file membership diffs as
  *    whole-file insert/delete rows, and v3 DELETION-VECTOR / v2
  *    position-delete commits as ROW-LEVEL delete legs
  *    ([[IcebergRowDiffPartition]] — the per-file dead-position pair
  *    diff decodes on executors, each newly-dead row exactly once).
  *  - **Batch writes** (`INSERT INTO` / `INSERT OVERWRITE`): V1
  *    writes routed through the COMMITTING [[IcebergTable.write]] —
  *    a new real snapshot, never a parquet dump the metadata does not
  *    reference.
  *
  * Scale shape: per-poll planning is O(snapshot tail × manifests) of
  * driver-side avro metadata — the same work any Iceberg incremental
  * reader does; data reads are distributed scans of exactly the
  * changed files. Nothing row-sized passes through the driver.
  */
object GraftIceberg {

  val ChangeTypeCol = "_change_type"
  val CommitSnapCol = "_commit_snapshot_id"

  /** Stream offset = the last snapshot id fully processed; -1 = from
    * table creation. */
  case class IcebergStreamOffset(snapshotId: Long) extends Offset {
    override def json: String = s"""{"snapshotId":$snapshotId}"""
  }

  def parseOffset(json: String): IcebergStreamOffset = {
    val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    IcebergStreamOffset(n.get("snapshotId").asLong())
  }

  /** Per-file constants row for the CDC columns. */
  def pvRow(readPartSchema: StructType, changeType: String,
            snapId: Long): InternalRow =
    new GenericInternalRow(readPartSchema.fields.map { f =>
      f.name match {
        case ChangeTypeCol => UTF8String.fromString(changeType)
        case CommitSnapCol => snapId
        case other => throw new IllegalStateException(
          s"unexpected non-data column $other in an Iceberg scan")
      }
    }.asInstanceOf[Array[Any]])

  /** Resolve one snapshot, loud on schema drift (the stream cannot
    * express it). Delete files are allowed — the planner serves them
    * as row-level legs in CDC mode and gates them in append mode. */
  private def snapAt(spark: SparkSession, tablePath: String, id: Long,
                     expect: StructType): IcebergTable.Snapshot = {
    val s = IcebergTable.snapshot(spark, tablePath, snapshotIdAsOf = Some(id))
    if (IcebergTable.shape(s.schema) != IcebergTable.shape(expect))
      throw new UnsupportedOperationException(
        s"schema change at snapshot $id of $tablePath inside the " +
          "streamed range — restart the stream to adopt the new schema")
    s
  }

  /** One data file's applicable position-delete refs in a snapshot —
    * DVs by exact referenced path, v2 position parquet by bounds,
    * both at `delete seq >= data seq` (the spec's scoping). */
  private def posRefsFor(s: IcebergTable.Snapshot,
                         dvByRef: Map[String, Seq[IcebergTable.DeleteFile]],
                         pq: Seq[IcebergTable.DeleteFile],
                         f: IcebergTable.DataFile): Seq[PosDeleteRef] =
    pq.filter(d => d.seq >= f.seq && d.mayReference(f.path))
      .map(d => PosDeleteRef(d.path, d.sizeBytes)) ++
      dvByRef.getOrElse(f.path, Nil).filter(_.seq >= f.seq)
        .map(d => PosDeleteRef(d.path, d.sizeBytes,
          Some((d.contentOffset.get, d.contentSize.get))))

  /** Plan the changes committed in `(fromId, toId]` as scan
    * partitions. File-membership diffs between consecutive snapshots
    * plan as plain file partitions; ROW-LEVEL commits (v3 deletion
    * vectors / v2 position-delete files) plan in CDC mode as
    * [[IcebergRowDiffPartition]]s — whole-file partitions whose
    * executors decode the per-file dead-position pair diff and serve
    * each newly-dead row exactly once (the streaming twin of
    * [[IcebergTable.changes]]). EQUALITY-delete commits (the
    * Flink-CDC upsert shape) serve row-level too: the newly-dead rows
    * of each strictly-older surviving file are its live-before rows
    * value-matching the new tuples, matched on the executors against
    * the driver-seq-scoped delete refs. */
  def planRange(spark: SparkSession, tablePath: String,
                snapSchema: StructType, readPartSchema: StructType,
                fromId: Long, toId: Long, cdf: Boolean,
                skipChangeCommits: Boolean): Array[InputPartition] = {
    if (toId == -1L || fromId == toId) return Array.empty
    val ids = IcebergTable.snapshotIds(spark, tablePath)
    val from = ids.indexOf(fromId)
    require(fromId == -1L || from >= 0,
      s"snapshot $fromId not in $tablePath — expired past the " +
        "retention horizon? restart the stream from scratch")
    val to = ids.indexOf(toId)
    require(to >= 0, s"snapshot $toId not in $tablePath")
    val range = ids.slice(from + 1, to + 1)
    if (range.isEmpty) return Array.empty

    def dvMapOf(s: IcebergTable.Snapshot) = s.deletes
      .filter(d => d.content == 1 && d.isDv)
      .groupBy(_.referencedDataFile.getOrElse(""))
    def pqOf(s: IcebergTable.Snapshot) =
      s.deletes.filter(d => d.content == 1 && !d.isDv)

    var prevS: Option[IcebergTable.Snapshot] =
      if (fromId == -1L) None
      else Some(snapAt(spark, tablePath, fromId, snapSchema))
    val out = Seq.newBuilder[(String, InternalRow, Long)]
    // (whole-file pf, manifest data path, select?, cur refs, prev
    //  refs, equality excludes, equality selects)
    val diff = Seq.newBuilder[(PartitionedFile, String, Boolean,
      Seq[PosDeleteRef], Seq[PosDeleteRef], Seq[EqDeleteRef],
      Seq[EqDeleteRef])]
    def wholeFile(key: String, pv: InternalRow, size: Long): PartitionedFile = {
      val sz = math.max(size, 1L)
      PartitionedFile(pv, SparkPath.fromPathString(key), 0L, sz,
        Array.empty[String], 0L, sz, Map.empty)
    }
    val opOf = IcebergTable.snapshotEntries(spark, tablePath)
      .map(e => e._1 -> e._3).toMap
    range.foreach { id =>
      val cur = snapAt(spark, tablePath, id, snapSchema)
      if (cur.files.exists(f => !f.format.equalsIgnoreCase("parquet")))
        throw new UnsupportedOperationException(
          s"non-parquet data files in snapshot $id of $tablePath — " +
            "the stream serves parquet tables; OPTIMIZE to parquet")
      // `replace` snapshots (compaction) rewrite file membership with
      // ZERO row-content change — Iceberg's changelog scan excludes
      // them; advance the baseline silently in every mode so a
      // compaction inside the polled range neither replays every
      // compacted row as delete+insert (cdf) nor kills an append-only
      // stream as a spurious overwrite
      if (opOf.getOrElse(id, "") == "replace") { prevS = Some(cur) }
      else {
      val prevFiles: Map[String, IcebergTable.DataFile] =
        prevS.map(_.files.map(f => f.path -> f).toMap).getOrElse(Map.empty)
      val curFiles = cur.files.map(f => f.path -> f).toMap
      val adds = (curFiles.keySet -- prevFiles.keySet).toSeq.sorted
      val removes = (prevFiles.keySet -- curFiles.keySet).toSeq.sorted
      // did this commit add DELETE content (a row-level DML)?
      val prevDeletePaths =
        prevS.map(_.deletes.map(_.path).toSet).getOrElse(Set.empty)
      val newDeletes = cur.deletes.filterNot(d => prevDeletePaths(d.path))
      if (cdf) {
        val curDv = dvMapOf(cur); val curPq = pqOf(cur)
        lazy val prevDv = prevS.map(dvMapOf).getOrElse(Map.empty)
        lazy val prevPq = prevS.map(pqOf).getOrElse(Seq.empty)
        // EQUALITY deletes (the Flink-CDC upsert shape): the driver
        // pre-scopes by sequence number (strictly newer than the data
        // file, the spec's rule); executors only value-match
        val eqPrev = prevS.map(_.deletes.filter(_.content == 2))
          .getOrElse(Seq.empty)
        val eqCur = cur.deletes.filter(_.content == 2)
        def eqRefs(eqs: Seq[IcebergTable.DeleteFile],
                   f: IcebergTable.DataFile): Seq[EqDeleteRef] =
          eqs.filter(_.seq > f.seq).map(d =>
            EqDeleteRef(d.path, d.sizeBytes,
              d.equalityIds.map(cur.fieldNames)))
        adds.foreach { p =>
          val refs = posRefsFor(cur, curDv, curPq, curFiles(p))
          val eqA = eqRefs(eqCur, curFiles(p))
          val row = pvRow(readPartSchema, "insert", id)
          if (refs.isEmpty && eqA.isEmpty)
            out += ((p, row, curFiles(p).sizeBytes))
          else diff += ((wholeFile(p, row, curFiles(p).sizeBytes), p,
            false, refs, Nil, eqA, Nil)) // born with dead rows: live ones insert
        }
        removes.foreach { p =>
          val refs = prevS.map(s =>
            posRefsFor(s, prevDv, prevPq, prevFiles(p))).getOrElse(Nil)
          val eqA = prevS.map(_ => eqRefs(eqPrev, prevFiles(p)))
            .getOrElse(Nil)
          val row = pvRow(readPartSchema, "delete", id)
          if (refs.isEmpty && eqA.isEmpty)
            out += ((p, row, prevFiles(p).sizeBytes))
          else diff += ((wholeFile(p, row, prevFiles(p).sizeBytes), p,
            false, refs, Nil, eqA, Nil)) // previously-LIVE rows only
        }
        // SURVIVING files whose dead-row state changed: the
        // merge-on-read DELETE/UPDATE shape — newly-dead rows emit
        // as deletes exactly once (pair diff decodes per executor).
        // Only files a CHANGED delete file may reference are
        // candidates — a pure-append step (no delete-set change)
        // pays O(adds), never O(files × deletes) per poll
        val survivors = (curFiles.keySet intersect prevFiles.keySet)
          .toSeq.sorted
        val curDelPaths = cur.deletes.map(_.path).toSet
        val changedDel = cur.deletes.filter(d =>
          d.content == 1 && !prevDeletePaths(d.path)) ++
          prevS.toSeq.flatMap(_.deletes.filter(d =>
            d.content == 1 && !curDelPaths(d.path)))
        if (changedDel.nonEmpty)
          survivors
            .filter(p => changedDel.exists(_.mayReference(p)))
            .foreach { p =>
              val c = posRefsFor(cur, curDv, curPq, curFiles(p))
              val pr = prevS.map(s =>
                posRefsFor(s, prevDv, prevPq, prevFiles(p))).getOrElse(Nil)
              if (c.nonEmpty && c.toSet != pr.toSet)
                diff += ((wholeFile(p,
                  pvRow(readPartSchema, "delete", id),
                  curFiles(p).sizeBytes), p, true, c, pr,
                  eqRefs(eqPrev, curFiles(p)), Nil))
            }
        // NEW equality-delete files kill matching rows in every
        // strictly-older surviving file: emit rows live before (not
        // position-dead, not matching the PREVIOUS equality set) that
        // match the new tuples — each exactly once (rows newly
        // position-dead are excluded here; the pos-diff leg owns them)
        val newEq = eqCur.filterNot(d => prevDeletePaths(d.path))
        if (newEq.nonEmpty)
          survivors.foreach { p =>
            val f = curFiles(p)
            val sel = eqRefs(newEq, f)
            if (sel.nonEmpty)
              diff += ((wholeFile(p, pvRow(readPartSchema, "delete", id),
                f.sizeBytes), p, false,
                posRefsFor(cur, curDv, curPq, f), Nil,
                eqRefs(eqPrev, f), sel))
          }
      } else if (removes.nonEmpty || newDeletes.nonEmpty) {
        if (!skipChangeCommits) // drop the whole commit when asked
          throw new UnsupportedOperationException(
            s"snapshot $id of $tablePath " +
              (if (removes.nonEmpty) "drops data files (overwrite)"
              else "removes rows (deletion vectors / delete files)") +
              " — an append-only stream cannot represent it. Options: " +
              "skipChangeCommits=true to drop such snapshots, or " +
              "readChangeFeed=true for the row-level change feed.")
      } else {
        // pure append: an old delete pile cannot touch the new files
        // (position deletes apply only at delete seq >= data seq)
        adds.foreach(p => out += ((p,
          pvRow(readPartSchema, "insert", id), curFiles(p).sizeBytes)))
      }
      prevS = Some(cur)
      }
    }
    val plain = GraftDelta.splitFiles(spark, out.result())
    val diffParts: Array[InputPartition] = diff.result().zipWithIndex.map {
      case ((pf, dataPath, select, c, pr, excl, sel), i) =>
        IcebergRowDiffPartition(FilePartition(plain.length + i, Array(pf)),
          dataPath, select, c, pr, excl, sel): InputPartition
    }.toArray
    plain ++ diffParts
  }
}

/** The DSv2 Table. `cdf = true` appends `_change_type` /
  * `_commit_snapshot_id` and switches scans to the change feed. */
class GraftIcebergTable(spark: SparkSession, val tablePath: String,
                        snapshotIdAsOf: Option[Long] = None,
                        timestampAsOf: Option[Long] = None,
                        val cdf: Boolean = false,
                        nameOverride: String = null)
  extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {
  import GraftIceberg._

  lazy val snap: IcebergTable.Snapshot =
    IcebergTable.snapshot(spark, tablePath, snapshotIdAsOf, timestampAsOf)
  lazy val dataSchema: StructType = snap.schema
  private lazy val cdfFields: Seq[StructField] =
    if (cdf) Seq(StructField(ChangeTypeCol, StringType, nullable = false),
      StructField(CommitSnapCol, LongType, nullable = false))
    else Seq.empty

  override def name(): String =
    Option(nameOverride).getOrElse(s"graft-iceberg.`$tablePath`")

  override def schema(): StructType =
    StructType(dataSchema.fields ++ cdfFields)

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
    // renamed/re-added columns leave old files under old PHYSICAL
    // names — this name-based scan would serve wrong columns
    if (IcebergTable.eraMismatch(spark, snap))
      throw new UnsupportedOperationException(
        s"$tablePath has renamed/re-added columns whose old data files " +
          "carry different physical names — read it with " +
          "graft.sources.IcebergTable.read, which resolves field ids " +
          "through the schema history")
    new GraftIcebergScanBuilder(spark, this, options)
  }

  /** SQL `DELETE FROM … WHERE`: merge-on-read position deletes via
    * [[IcebergTable.delete]] — only filter shapes we can faithfully
    * translate are accepted, so a partial delete never commits. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    !cdf && filters.forall(f =>
      GraftDelta.filterToColumn(f, strict = true).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val pred = filters.flatMap(f => GraftDelta.filterToColumn(f, strict = true))
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    IcebergTable.delete(spark, tablePath, pred)
    ()
  }

  /** `INSERT INTO` / `INSERT OVERWRITE` commit one real snapshot via
    * [[IcebergTable.write]], under the table's OWN partition spec —
    * an append to a partitioned table stays partitioned, an overwrite
    * keeps the spec rather than silently dropping it. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, ov: Boolean): Unit = {
              IcebergTable.write(spark,
                data.select(snap.schema.fieldNames.map(col).toSeq: _*),
                tablePath, overwrite = overwrite || ov,
                partitionBy = IcebergTable.defaultSpecNames(spark, tablePath))
              ()
            }
          }
      }
    }
}

private class GraftIcebergScanBuilder(spark: SparkSession,
                                      table: GraftIcebergTable,
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
    new GraftIcebergScan(spark, table, readData, readPart, pushed, options)
  }
}

private class GraftIcebergScan(spark: SparkSession, table: GraftIcebergTable,
                               readData: StructType, readPart: StructType,
                               pushed: Array[Filter],
                               options: CaseInsensitiveStringMap)
  extends Scan with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {
  import GraftIceberg._

  override def readSchema(): StructType =
    StructType(readData.fields ++ readPart.fields)
  override def description(): String =
    s"graft-iceberg ${table.tablePath} snap${table.snap.snapshotId}" +
      s" PushedFilters: ${pushed.mkString("[", ", ", "]")}"

  /** DSv2 DYNAMIC PARTITION PRUNING over HIDDEN partitioning:
    * advertised attributes are the default spec's SOURCE columns
    * (`days(ts)` advertises `ts`), so a join-time `IN` over the
    * source column prunes through [[IcebergTable.prunedFiles]]'s
    * transform leg — each literal maps through the spec transform
    * (identity / temporal / bucket murmur3 / truncate) to a partition
    * tuple, plus the manifests' column bounds. The fact side of a
    * star join plans only the dim-selected partitions' files. */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (table.cdf) Array.empty
    else table.snap.specFields.map(_.source).distinct
      .filter(table.snap.schema.fieldNames.contains)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray

  override def filter(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val conv = predicates.flatMap(GraftDelta.runtimeToV1)
    // empty join-time IN = provably-false: plan zero files (the
    // generic pruning is keep-unless-provably-false)
    if (conv.exists {
      case org.apache.spark.sql.sources.In(_, vs) => vs.isEmpty
      case _ => false
    }) runtimeEmpty = true
    if (conv.nonEmpty) { runtime ++= conv; prunedCache = null }
  }
  private var runtime: Array[Filter] = Array.empty
  private var runtimeEmpty = false
  @volatile private var prunedCache: Seq[IcebergTable.DataFile] = null

  /** STORAGE-PARTITIONED JOINS (Spark's v2 bucketing): when
    * `spark.sql.sources.v2.bucketing.enabled` is on and the snapshot
    * is SPJ-shaped — non-CDF, delete-free, every file on the default
    * spec carrying a fully non-null tuple of identity/bucket fields
    * over SPJ-representable types — the scan reports
    * `KeyGroupedPartitioning` over the spec transforms and plans ONE
    * whole-file partition per distinct tuple, each carrying its
    * partition key. Two tables bucketed the same way then join with
    * NO shuffle on either side — at 100 TB the single biggest cost a
    * co-designed layout can delete. Gated behind the conf so ordinary
    * scans keep byte-split parallel planning. Runtime (DPP) filters
    * prune a group's FILES but keep every group (possibly empty), so
    * the reported partitioning stays valid. */
  private def keyedValue(pf: IcebergPartitioning.PartField,
                         v: Any): Option[Any] =
    if (pf.isIdentity) table.snap.schema(pf.source).dataType match {
      case StringType => v match {
        case s: String => Some(UTF8String.fromString(s))
        case _ => None
      }
      case IntegerType | DateType => v match {
        case i: java.lang.Integer => Some(i)
        case _ => None
      }
      case LongType => v match {
        case l: java.lang.Long => Some(l)
        case i: java.lang.Integer => Some(java.lang.Long.valueOf(i.longValue()))
        case _ => None
      }
      case _ => None
    } else v match { // bucket[n] results are spec-int
      case i: java.lang.Integer => Some(i)
      case l: java.lang.Long => Some(java.lang.Integer.valueOf(l.intValue()))
      case _ => None
    }

  private def keyOf(pfs: Seq[IcebergPartitioning.PartField],
                    f: IcebergTable.DataFile): Option[Seq[Any]] = {
    val vs = pfs.map(pf => f.partitionTuple.get(pf.name)
      .flatMap(v => keyedValue(pf, v)))
    if (vs.forall(_.isDefined)) Some(vs.map(_.get)) else None
  }

  /** The key universe over the PLANNING-time pruned file list (before
    * runtime filters — filtered groups must survive as empties).
    * None = not SPJ-shaped; plan normally. */
  private lazy val keyedGroups: Option[Seq[(Seq[Any], Seq[IcebergTable.DataFile])]] = {
    val pfs = table.snap.specFields
    // double opt-in, mirroring Iceberg's preserve-data-grouping: v2
    // bucketing (Spark-side) AND the graft property — keyed planning
    // trades split parallelism for co-partitioning, a choice the user
    // makes per session, not one a scan springs on every query
    val eligible = !table.cdf && table.snap.deletes.isEmpty && pfs.nonEmpty &&
      spark.sessionState.conf.v2BucketingEnabled &&
      spark.conf.get("spark.sql.graft.preserveDataGrouping", "false")
        .equalsIgnoreCase("true") &&
      pfs.forall(pf => (pf.isIdentity ||
        pf.transform.startsWith("bucket[")) &&
        table.snap.schema.fieldNames.contains(pf.source)) &&
      table.snap.files.forall(_.specId == table.snap.defaultSpecId)
    if (!eligible) None
    else {
      val base = prunedFiles // planning filters only (runtime not yet delivered)
      val keyed = base.map(f => keyOf(pfs, f).map(_ -> f))
      if (keyed.exists(_.isEmpty)) None // null / unrepresentable tuple value
      else Some(keyed.flatten.groupBy(_._1).toSeq
        .map { case (k, fs) => (k, fs.map(_._2)) }
        .sortBy(_._1.map(String.valueOf(_)).mkString("\u0000")))
    }
  }

  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning =
    keyedGroups match {
      case Some(groups) =>
        import org.apache.spark.sql.connector.expressions.Expressions
        val exprs: Array[org.apache.spark.sql.connector.expressions.Expression] =
          table.snap.specFields.map { pf =>
            if (pf.isIdentity) Expressions.identity(pf.source)
            else Expressions.bucket(pf.param, pf.source)
          }.toArray
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          exprs, groups.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  private def factory: PartitionReaderFactory =
    GraftDelta.readerFactory(spark, table.dataSchema, readData, readPart,
      pushed)

  /** File list after manifest-side pruning: partition tuples AND
    * column bounds both consult the pushed filters — no data file
    * opens (IcebergTable.prunedFiles extracts the sound conjuncts
    * itself). */
  // computed once per scan state: the optimizer may request
  // statistics several times while costing joins, and each pruning
  // pass runs driver-side Spark jobs over the file list; runtime
  // (DPP) filters invalidate the cache when they arrive
  private def prunedFiles: Seq[IcebergTable.DataFile] = {
    if (runtimeEmpty) return Seq.empty
    if (prunedCache == null)
      prunedCache = (pushed ++ runtime).flatMap(f => GraftDelta.filterToColumn(f))
        .reduceOption(_ && _) match {
        case Some(pred) => IcebergTable.prunedFiles(spark, table.snap, pred)
        case None => table.snap.files
      }
    prunedCache
  }

  /** Manifest-recorded sizes/record counts over the PRUNED file
    * list — real statistics, so a small (or partition-filtered)
    * Iceberg dimension stays broadcastable in catalog joins.
    * Position-delete cardinality (record counts of the applicable
    * delete files) subtracts from the reported rows, mirroring the
    * Delta scan's DV adjustment — a MOR-heavy table must not
    * overstate itself to the join costing. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val files = prunedFiles
    override def sizeInBytes(): util.OptionalLong =
      util.OptionalLong.of(math.max(files.map(_.sizeBytes).sum, 1L))
    override def numRows(): util.OptionalLong = {
      // subtract position-delete cardinality only for FULL scans —
      // a delete file does not say WHICH data files it covers, so on
      // a pruned scan the global count would over-subtract (a scan of
      // an untouched partition must not report ~0 rows to join
      // costing); over-estimating the pruned case is the safe side
      // O(files + deletes): "some file has seq <= d.seq" is just a
      // min-seq comparison — no per-delete scan of the file list
      // (quadratic bookkeeping on a 10⁵-file external table otherwise)
      val deleted =
        if (files.isEmpty || files.size != table.snap.files.size) 0L
        else {
          val minSeq = files.map(_.seq).min
          table.snap.deletes
            .filter(d => d.content == 1 && d.seq >= minSeq)
            .map(_.records).sum
        }
      util.OptionalLong.of(math.max(files.map(_.records).sum - deleted, 0L))
    }
    /** ANALYZE TABLE's Puffin NDV sketches feed Spark's CBO: per-
      * column distinct counts turn join reorder and broadcast
      * decisions from guesses into measurements. Served only for FULL
      * scans (a pruned subset's true NDV is unknown — overstating
      * selectivity is the harmful direction) and only when the CBO is
      * on (the lookup reads the statistics metadata). */
    override def columnStats(): util.Map[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      if (!spark.sessionState.conf.cboEnabled ||
        files.size != table.snap.files.size)
        return util.Collections.emptyMap()
      val out = new util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      ndvByColumn.foreach { case (c, n) =>
        if (readSchema().fieldNames.contains(c))
          out.put(org.apache.spark.sql.connector.expressions.Expressions.column(c),
            new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
              override def distinctCount(): util.OptionalLong =
                util.OptionalLong.of(n)
            })
      }
      out
    }
  }

  // computed once per scan; the optimizer may cost joins repeatedly
  private lazy val ndvByColumn: Map[String, Long] =
    try IcebergTable.columnStats(spark, table.tablePath,
      table.snap.fieldNames)
    catch { case scala.util.control.NonFatal(_) => Map.empty }

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      if (table.cdf) {
        // id bounds, or their TIME-based twins (the incremental-read
        // option names): snapshots committed at or after
        // start-timestamp through at or before end-timestamp
        val sid = Option(options.get("startingSnapshotId")).map(_.toLong)
        val st = Option(options.get("start-timestamp")).map(_.toLong)
        val eid = Option(options.get("endingSnapshotId")).map(_.toLong)
        val et = Option(options.get("end-timestamp")).map(_.toLong)
        require(sid.isEmpty || st.isEmpty,
          "set at most one of startingSnapshotId / start-timestamp")
        require(eid.isEmpty || et.isEmpty,
          "set at most one of endingSnapshotId / end-timestamp")
        lazy val entries =
          IcebergTable.snapshotEntries(spark, table.tablePath)
        val fromId = sid.orElse(st.map(ts =>
          entries.takeWhile(_._2 < ts).lastOption.map(_._1).getOrElse(-1L)))
          .getOrElse(throw new IllegalArgumentException(
            "batch readChangeFeed needs startingSnapshotId (exclusive " +
              "lower bound; -1 = table creation) or start-timestamp " +
              "(inclusive)"))
        val toId = eid.orElse(et.map(ts =>
          entries.takeWhile(_._2 <= ts).lastOption.map(_._1).getOrElse(-1L)))
          .getOrElse(table.snap.snapshotId)
        planRange(spark, table.tablePath, table.snap.schema, readPart,
          fromId, toId, cdf = true, skipChangeCommits = false)
      } else {
        // the DSv2 reader factory decodes parquet; ORC-bearing
        // tables are served by the resolving reader
        if (table.snap.files.exists(f =>
            !f.format.equalsIgnoreCase("parquet")))
          throw new UnsupportedOperationException(
            s"non-parquet data files in ${table.tablePath} — the DSv2 " +
              "scan serves parquet; use IcebergTable.read (the " +
              "resolving reader dispatches ORC) or OPTIMIZE to parquet")
        val posDeletes = table.snap.deletes.filter(_.content == 1)
        val eqDeletes = table.snap.deletes.filter(_.content == 2)
        if (keyedGroups.isDefined) {
          // SPJ: one whole-file partition per distinct partition
          // tuple, each carrying its key; runtime-filtered groups
          // stay as EMPTY partitions so the reported KeyGrouped
          // partitioning remains exactly what executes
          val current: Map[Seq[Any], Seq[IcebergTable.DataFile]] =
            prunedFiles.flatMap(f =>
              keyOf(table.snap.specFields, f).map(_ -> f))
              .groupBy(_._1).map { case (k, fs) => k -> fs.map(_._2) }
          keyedGroups.get.zipWithIndex.map { case ((key, _), i) =>
            val fs = current.getOrElse(key, Seq.empty)
            val pfsArr = fs.map { f =>
              val sz = math.max(f.sizeBytes, 1L)
              org.apache.spark.sql.execution.datasources.PartitionedFile(
                pvRow(readPart, "insert", table.snap.snapshotId),
                org.apache.spark.paths.SparkPath.fromPathString(f.path),
                0L, sz, Array.empty[String], 0L, sz, Map.empty)
            }.toArray
            new KeyedFilePartition(i, pfsArr,
              new GenericInternalRow(key.toArray)): InputPartition
          }.toArray
        } else if (posDeletes.isEmpty && eqDeletes.isEmpty)
          splitFiles(prunedFiles)
        else {
          // v2 deletes serve MERGE-ON-READ: each affected data file
          // plans as ONE whole-file partition carrying its applicable
          // delete-FILE references (position deletes at seq >= data
          // seq, equality deletes strictly newer) — the executors
          // read the delete parquet and drop dead rows; the driver
          // never expands positions (external tables carry unbounded
          // delete cardinality; the plan must stay O(files))
          val files = prunedFiles
          val plainOut = Seq.newBuilder[IcebergTable.DataFile]
          val morOut = Seq.newBuilder[(IcebergTable.DataFile,
            Seq[PosDeleteRef], Seq[EqDeleteRef])]
          // v3 DELETION VECTORS attach by exact referenced path — a
          // map probe, no sweep needed
          val dvByRef: Map[String, Seq[IcebergTable.DeleteFile]] =
            posDeletes.filter(_.isDv)
              .groupBy(_.referencedDataFile.getOrElse(""))
          // bounds-scoped: a position-delete file attaches only when
          // its manifest-recorded file_path range can contain the
          // data file (spec field 2147483546) — O(D×R) delete reads
          // on a one-global-delete-file CDC table become O(D_named).
          // Attachment runs as an INTERVAL SWEEP over the path order
          // (files and bounded delete files sorted once, a min-heap
          // on the upper bound retires expired intervals):
          // O(F log F + D log D + matches) driver work, not O(F×D) —
          // the term that matters on a 10⁵-file external table.
          import org.apache.spark.unsafe.types.UTF8String.{fromString => u8}
          val utf8Order: Ordering[String] =
            Ordering.comparatorToOrdering(
              java.util.Comparator.comparing((s: String) => u8(s)))
          val (bounded, unbounded) =
            posDeletes.filterNot(_.isDv).partition(_.pathBounds.isDefined)
          val delsByLo = bounded.sortBy(_.pathBounds.get._1)(utf8Order)
          val active = scala.collection.mutable.PriorityQueue.empty(
            Ordering.by((d: IcebergTable.DeleteFile) =>
              d.pathBounds.get._2)(utf8Order.reverse)) // min-heap on hi
          var di = 0
          files.sortBy(_.path)(utf8Order).foreach { f =>
            while (di < delsByLo.length &&
              utf8Order.lteq(delsByLo(di).pathBounds.get._1, f.path)) {
              active += delsByLo(di); di += 1
            }
            while (active.nonEmpty &&
              utf8Order.lt(active.head.pathBounds.get._2, f.path))
              active.dequeue()
            // every remaining active interval contains f.path —
            // iterating it IS enumerating the matches; DV blobs join
            // by their exact referenced path
            val pos = ((active.iterator ++ unbounded.iterator)
              .filter(_.seq >= f.seq)
              .map(d => PosDeleteRef(d.path, d.sizeBytes)) ++
              dvByRef.getOrElse(f.path, Nil).iterator
                .filter(_.seq >= f.seq)
                .map(d => PosDeleteRef(d.path, d.sizeBytes,
                  Some((d.contentOffset.get, d.contentSize.get))))).toSeq
            val eqs = eqDeletes.filter(_.seq > f.seq).map(d =>
              EqDeleteRef(d.path, d.sizeBytes,
                d.equalityIds.map(table.snap.fieldNames)))
            if (pos.isEmpty && eqs.isEmpty) plainOut += f
            else morOut += ((f, pos, eqs))
          }
          val plain = splitFiles(plainOut.result())
          val morParts: Array[InputPartition] =
            morOut.result().zipWithIndex.map { case ((f, pos, eqs), i) =>
              val sz = math.max(f.sizeBytes, 1L)
              val pf = org.apache.spark.sql.execution.datasources.PartitionedFile(
                pvRow(readPart, "insert", table.snap.snapshotId),
                org.apache.spark.paths.SparkPath.fromPathString(f.path),
                0L, sz, Array.empty[String], 0L, sz, Map.empty)
              IcebergMorPartition(
                org.apache.spark.sql.execution.datasources.FilePartition(
                  plain.length + i, Array(pf)), f.path, pos, eqs): InputPartition
            }.toArray
          plain ++ morParts
        }
      }
    override def createReaderFactory(): PartitionReaderFactory =
      if (table.cdf) cdcFactory(fullHistory = false)
      else if (table.snap.deletes.isEmpty) factory
      else morFactory
  }

  /** Equality columns any applicable delete names but the query did
    * not request — read for matching, projected away before serving. */
  private lazy val eqColUnion: Seq[String] = {
    val used = table.snap.deletes.filter(_.content == 2)
      .flatMap(_.equalityIds.map(table.snap.fieldNames)).distinct
    used.filterNot(readData.fieldNames.contains)
  }

  private def morFactory: PartitionReaderFactory = {
    val augData = StructType(
      readData.fields ++ eqColUnion.map(c => table.dataSchema(c)))
    val inner = GraftDelta.readerFactory(spark, table.dataSchema, augData,
      readPart, Array.empty)
    val conf = new SerializableHadoopConf(
      spark.sessionState.newHadoopConfWithOptions(Map.empty))
    val posF =
      if (!table.snap.deletes.exists(_.content == 1)) null
      else GraftDelta.readerFactory(spark, MorServing.PosDeleteSchema,
        MorServing.PosDeleteSchema, new StructType(), Array.empty)
    val eqColSets: Seq[Seq[String]] = table.snap.deletes
      .filter(_.content == 2)
      .map(_.equalityIds.map(table.snap.fieldNames)).distinct
    val eqFs = eqColSets.map { cols =>
      val sch = StructType(cols.map(c => table.dataSchema(c)))
      cols -> GraftDelta.readerFactory(spark, sch, sch, new StructType(),
        Array.empty)
    }.toMap
    val eqIdx = eqColSets.map { cols =>
      cols -> ((cols.map(augData.fieldIndex).toArray,
        cols.map(c => augData(c).dataType).toArray))
    }.toMap
    val (projIdx, projTypes) =
      if (eqColUnion.isEmpty) (null, null)
      else ((readData.fields.indices ++
        (augData.length until augData.length + readPart.length)).toArray,
        (readData.fields.map(_.dataType) ++
          readPart.fields.map(_.dataType)).toArray)
    new MorReaderFactory(factory, inner, conf, posF, eqFs,
      projIdx, projTypes, eqIdx)
  }

  private def splitFiles(files: Seq[IcebergTable.DataFile]): Array[InputPartition] =
    GraftDelta.splitFiles(spark, files.map(f => (f.path,
      pvRow(readPart, "insert", table.snap.snapshotId), f.sizeBytes)))

  /** CDC reads (batch range or stream): plain file partitions plus
    * the row-level [[IcebergRowDiffPartition]] legs — position
    * deletes / DV blobs decode on executors; EQUALITY deletes
    * value-match on executors against per-column-set delete readers
    * built here from the table's history (a column set first
    * committed after a stream started asks for a restart — the same
    * contract as a schema change). Filters are NOT pushed to the
    * inner reader: row-diff positions index PHYSICAL rows. */
  private def cdcFactory(fullHistory: Boolean): PartitionReaderFactory = {
    val conf = new SerializableHadoopConf(
      spark.sessionState.newHadoopConfWithOptions(Map.empty))
    val posF = GraftDelta.readerFactory(spark, MorServing.PosDeleteSchema,
      MorServing.PosDeleteSchema, new StructType(), Array.empty)
    // equality column sets across the history (metadata-only): a
    // polled range can carry equality deletes from any snapshot in
    // it, and the factory is built once per scan/stream. A BATCH CDC
    // scan pins its range in the options — enumerate only that slice
    // (plus the baseline snapshot); a STREAM enumerates everything
    // once at start (future commits usually reuse a historical
    // column set — the upsert key is stable).
    val allIds = IcebergTable.snapshotIds(spark, table.tablePath)
    val scanIds: Seq[Long] =
      if (fullHistory) allIds
      else Option(options.get("startingSnapshotId")).map(_.toLong) match {
        case Some(fromId) =>
          val toId = Option(options.get("endingSnapshotId")).map(_.toLong)
            .getOrElse(table.snap.snapshotId)
          val lo = allIds.indexOf(fromId) // -1 when fromId == -1L
          allIds.slice(math.max(lo, 0), allIds.indexOf(toId) + 1)
        case None => allIds
      }
    val eqColSets: Seq[Seq[String]] =
      scanIds.flatMap { id =>
        IcebergTable.snapshot(spark, table.tablePath,
          snapshotIdAsOf = Some(id))
          .deletes.filter(_.content == 2).map(_.equalityIds)
      }.distinct
        // ids unresolvable under the CURRENT schema belong to eras the
        // range gate refuses anyway (schema change = restart)
        .filter(_.forall(table.snap.fieldNames.contains))
        .map(_.map(table.snap.fieldNames))
    val eqColUnionCdc =
      eqColSets.flatten.distinct.filterNot(readData.fieldNames.contains)
    val augData = StructType(
      readData.fields ++ eqColUnionCdc.map(c => table.dataSchema(c)))
    val inner = GraftDelta.readerFactory(spark, table.dataSchema, augData,
      readPart, Array.empty)
    val eqFs = eqColSets.map { cols =>
      val sch = StructType(cols.map(c => table.dataSchema(c)))
      cols -> GraftDelta.readerFactory(spark, sch, sch, new StructType(),
        Array.empty)
    }.toMap
    val eqIdx = eqColSets.map { cols =>
      cols -> ((cols.map(augData.fieldIndex).toArray,
        cols.map(c => augData(c).dataType).toArray))
    }.toMap
    val (projIdx, projTypes) =
      if (eqColUnionCdc.isEmpty) (null, null)
      else ((readData.fields.indices ++
        (augData.length until augData.length + readPart.length)).toArray,
        (readData.fields.map(_.dataType) ++
          readPart.fields.map(_.dataType)).toArray)
    new MorReaderFactory(factory, inner, conf, posF, eqFs,
      projIdx, projTypes, eqIdx)
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftIcebergMicroBatchStream(spark, table, readPart,
      if (table.cdf) cdcFactory(fullHistory = true) else factory, options)
}

/** A [[org.apache.spark.sql.execution.datasources.FilePartition]]
  * that also carries its Iceberg partition KEY — what Spark's
  * key-grouped (storage-partitioned-join) machinery reads through
  * [[org.apache.spark.sql.connector.read.HasPartitionKey]]. The
  * parquet reader factories keep working unchanged: they match on
  * the FilePartition supertype. */
private class KeyedFilePartition(index: Int,
                                 files: Array[org.apache.spark.sql.execution.datasources.PartitionedFile],
                                 key: InternalRow)
  extends org.apache.spark.sql.execution.datasources.FilePartition(index, files)
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** Snapshot-id-offset micro-batch stream — the DSv2 wrapper around
  * the [[IcebergTable.changes]]/`syncChanges` contract. ADMISSION
  * CONTROL (`maxFilesPerTrigger`): whole snapshots are admitted in
  * order while the added-file budget lasts, always at least one per
  * batch — the catch-up cap that keeps a backlog restart from
  * planning everything into one giant micro-batch. Counting is the
  * same metadata-only snapshot file-set diff the planner runs. */
private class GraftIcebergMicroBatchStream(spark: SparkSession,
                                           table: GraftIcebergTable,
                                           readPart: StructType,
                                           factory: PartitionReaderFactory,
                                           options: CaseInsensitiveStringMap)
  extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {
  import GraftIceberg._

  /** Trigger.AvailableNow: pin the end snapshot at stream start. */
  private var availableNowEnd: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit = {
    val ids = IcebergTable.snapshotIds(spark, table.tablePath)
    availableNowEnd = Some(if (ids.isEmpty) -1L else ids.last)
  }

  /** Default -1 = replay from table creation (the replica-building
    * choice); pass the current snapshot id to start from "now".
    * `stream-from-timestamp` (epoch millis — the real Iceberg source
    * option) is the time-based twin: snapshots committed AT OR AFTER
    * it stream; a future timestamp starts from "now". Mutually
    * exclusive with `startingSnapshotId`. */
  private val startingSnapshotId: Long = {
    val sid = Option(options.get("startingSnapshotId")).map(_.toLong)
    val ts = Option(options.get("stream-from-timestamp")).map(_.toLong)
    require(sid.isEmpty || ts.isEmpty,
      "set at most one of startingSnapshotId / stream-from-timestamp")
    ts match {
      case Some(t) =>
        val entries = IcebergTable.snapshotEntries(spark, table.tablePath)
        entries.indexWhere(_._2 >= t) match {
          case -1 => entries.lastOption.map(_._1).getOrElse(-1L)
          case 0 => -1L
          case i => entries(i - 1)._1
        }
      case None => sid.getOrElse(-1L)
    }
  }
  private val skipChangeCommits =
    options.getBoolean("skipChangeCommits", false)
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

  override def initialOffset(): Offset =
    IcebergStreamOffset(startingSnapshotId)
  override def latestOffset(): Offset = {
    val ids = IcebergTable.snapshotIds(spark, table.tablePath)
    IcebergStreamOffset(if (ids.isEmpty) -1L else ids.last)
  }
  override def deserializeOffset(json: String): Offset = parseOffset(json)

  override def getDefaultReadLimit: ReadLimit =
    if (maxFilesPerTrigger.isEmpty && maxBytesPerTrigger.isEmpty)
      ReadLimit.allAvailable()
    else ReadLimit.maxFiles(maxFilesPerTrigger.getOrElse(Int.MaxValue))

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[IcebergStreamOffset].snapshotId
    val ids = IcebergTable.snapshotIds(spark, table.tablePath)
    if (ids.isEmpty) return IcebergStreamOffset(from)
    val afterStart =
      if (from == -1L) ids
      else ids.drop(ids.indexOf(from) + 1)
    // AvailableNow: never admit past the pinned end — an end of -1
    // (empty table at pin time) or an end the stream already consumed
    // means NOTHING is admissible, even if new snapshots landed since
    val pending = availableNowEnd match {
      case Some(end) =>
        val i = afterStart.indexOf(end)
        if (i < 0) Seq.empty else afterStart.take(i + 1)
      case None => afterStart
    }
    if (pending.isEmpty) return IcebergStreamOffset(from)
    // explicit allAvailable (Trigger.Once) processes everything —
    // see the Delta twin
    val fileCap: Option[Long] = limit match {
      case mf: ReadMaxFiles => Some(mf.maxFiles().toLong)
      case _ => None
    }
    if (fileCap.isEmpty)
      return IcebergStreamOffset(pending.last)
    var files = 0L; var bytes = 0L; var last = from
    var prev: Map[String, Long] =
      if (from == -1L) Map.empty
      else IcebergTable.snapshot(spark, table.tablePath,
        snapshotIdAsOf = Some(from)).files
        .map(f => f.path -> f.sizeBytes).toMap
    val it = pending.iterator
    while (it.hasNext && (last == from ||
      (fileCap.forall(files < _) && maxBytesPerTrigger.forall(bytes < _)))) {
      val id = it.next()
      val cur = IcebergTable.snapshot(spark, table.tablePath,
        snapshotIdAsOf = Some(id)).files
        .map(f => f.path -> f.sizeBytes).toMap
      val added = cur.keySet -- prev.keySet
      files += added.size
      bytes += added.toSeq.map(cur).sum
      prev = cur
      last = id
    }
    IcebergStreamOffset(last)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    planRange(spark, table.tablePath, table.snap.schema, readPart,
      start.asInstanceOf[IcebergStreamOffset].snapshotId,
      end.asInstanceOf[IcebergStreamOffset].snapshotId,
      cdf = table.cdf, skipChangeCommits = skipChangeCommits)

  override def createReaderFactory(): PartitionReaderFactory = factory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** `format("graft-iceberg")` — path-based entry for batch, streaming,
  * and CDC (`readChangeFeed=true`) reads, committing V1 batch writes,
  * and the V1 streaming SINK (`writeStream.format("graft-iceberg")`),
  * which commits one Iceberg snapshot per micro-batch stamped with
  * `graft.txn.*` summary properties: on a checkpoint-loss restart,
  * batches at or below the table's replayed watermark are skipped —
  * exactly-once output, parity with the `graft-delta` sink's `txn`
  * contract. */
class GraftIcebergDataSource extends TableProvider with DataSourceRegister
  with org.apache.spark.sql.sources.StreamSinkProvider {

  override def shortName(): String = "graft-iceberg"

  override def createSink(sqlContext: org.apache.spark.sql.SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode): org.apache.spark.sql.execution.streaming.Sink = {
    val path = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-iceberg sink needs a path: .start(path) or .option(\"path\", ...)"))
    // the txn appId defaults to the checkpoint location — the unit of
    // exactly-once is one logical stream, which IS its checkpoint
    val appId = parameters.getOrElse("txnAppId",
      "graft-iceberg-sink:" + parameters.getOrElse("checkpointLocation", path))
    new GraftIcebergSink(sqlContext.sparkSession, path, partitionColumns,
      outputMode, appId)
  }

  private def tableFor(options: CaseInsensitiveStringMap): GraftIcebergTable = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-iceberg needs a table path: .load(path) or .option(\"path\", ...)"))
    new GraftIcebergTable(SparkSession.active, path,
      snapshotIdAsOf = Option(options.get("snapshotIdAsOf")).map(_.toLong),
      timestampAsOf = Option(options.get("timestampAsOf")).map(_.toLong),
      cdf = options.getBoolean("readChangeFeed", false))
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    // the WRITE path (writeStream sink) infers before the target
    // exists — return an empty schema so resolution proceeds to the
    // V1 sink fallback; a batch READ of a missing table still fails
    // loudly when the scan forces the snapshot
    try tableFor(options).schema()
    catch { case e: IllegalArgumentException
      if e.getMessage != null &&
        (e.getMessage.contains("no metadata dir") ||
          e.getMessage.contains("metadata.json")) =>
      new StructType()
    }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    tableFor(new CaseInsensitiveStringMap(properties))
}

/** The V1 streaming sink behind `writeStream.format("graft-iceberg")`:
  * one committed Iceberg snapshot per micro-batch. Exactly-once via
  * the snapshot-summary `graft.txn.*` watermark: a replayed batch at
  * or below [[IcebergTable.lastCommittedBatch]] is a no-op, so a
  * checkpoint-loss restart never commits a duplicate snapshot.
  * Appends to a partitioned table stage under the table's OWN spec
  * (hidden transforms included). Caveat (same as engines keeping
  * checkpoint ids in summaries): `expireSnapshots` drops expired
  * snapshots' summaries — losing the checkpoint AND expiring past the
  * stream's newest commit loses the watermark with it, so retain at
  * least the most recent sink snapshot while a checkpoint-less replay
  * is possible. */
private class GraftIcebergSink(spark: SparkSession, path: String,
                               partitionBy: Seq[String],
                               outputMode: org.apache.spark.sql.streaming.OutputMode,
                               appId: String)
  extends org.apache.spark.sql.execution.streaming.Sink {
  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val committed = IcebergTable.lastCommittedBatch(spark, path, appId)
    if (batchId <= committed) return // replayed micro-batch: durable
    // re-wrap the streaming frame's executed RDD as a batch plan (the
    // same move Spark's ForeachBatchSink makes)
    val batchDf = org.apache.spark.sql.graft.StreamingBatchShim.asBatch(data)
    val overwrite =
      outputMode == org.apache.spark.sql.streaming.OutputMode.Complete()
    // appends must keep the table's spec; a fresh table adopts the
    // stream's declared partitioning
    val spec =
      try IcebergTable.defaultSpecNames(spark, path)
      catch { case _: IllegalArgumentException => partitionBy }
    IcebergTable.write(spark, batchDf, path, overwrite = overwrite,
      partitionBy = spec, txn = Some(appId -> batchId))
    ()
  }
  override def toString: String = s"graft-iceberg-sink[$path]"
}
